#!/usr/bin/env python
"""A/B: events_acf's join-based lag shift vs the LAG-window form.

Claim under test (events_acf docstring + SCALE.md r9): expressing the
lagged daily series as an equi-join on d + lag avoids the global-order
window exchange entirely, and the cost stays flat as the lag count
grows, while the window form funnels the series through a single
partition once per plan.

Method: both forms computed at sf0.1 on local[32]; 3 timed runs each
after a warmup; medians reported. The daily frame is tiny (|days|), so
the absolute numbers are small — the SHAPE is the point: the window
plan carries an Exchange SinglePartition, the join plan does not, and
only the join form survives a series long enough to matter.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from wri_data_processing_spark import registry
from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.session import get_spark

registry.load_all()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def window_form(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.orderBy("d")
    out = None
    for lag in range(1, 8):
        pairs = daily.select(
            F.lit(lag).alias("lag"), F.col("n").alias("y"),
            F.lag("n", lag).over(w).alias("x"),
        ).filter(F.col("x").isNotNull())
        s = pairs.groupBy("lag").agg(
            F.count(F.lit(1)).alias("k"), F.sum("x").alias("sx"),
            F.sum("y").alias("sy"), F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
        out = s if out is None else out.unionAll(s)
    return out


def main() -> None:
    spark = get_spark(app_name="acf-shape-benchmark")
    join_fn = registry.REGISTRY["events_acf"]

    def med(fn):
        fn().count()
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn().count()
            ts.append(time.perf_counter() - t0)
        return sorted(ts)[1]

    t_join = med(lambda: join_fn(spark, SF_DIR))
    t_win = med(lambda: window_form(spark, SF_DIR))
    plan_join = join_fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    plan_win = window_form(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    print(f"join form:   {t_join:.3f}s  SinglePartition={'Exchange SinglePartition' in plan_join}")
    print(f"window form: {t_win:.3f}s  SinglePartition={'Exchange SinglePartition' in plan_win}")


if __name__ == "__main__":
    main()
