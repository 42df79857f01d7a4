"""Flagship query: pricing-summary aggregation (TPC-H Q1 shape).

This is the engine's "00b summary" analog (reference
``scripts/00b_extract_metadata_all.R:183-187`` prints grouped success/
consistency counts); on the star schema it becomes the classic grouped
multi-aggregate scan.

Determinism note (applies to every aggregate query in this package): double
summation is order-dependent, and Spark's round() disagrees with DuckDB's at
decimal midpoints. We therefore sum EXACTLY over DECIMAL(18,6) casts —
order-independent in both engines — and emit the final value as a DOUBLE
cast of the exact decimal. BOUND (r14 cast audit, SCALE.md): that cast is
bit-identical across engines only while the SCALED decimal stays under 2^53
(value < ~$9e9 at scale 6); above it, Spark's one-rounding
BigDecimal.doubleValue and DuckDB's two-rounding int128-then-scale cast can
differ by one ULP — and above ~$9e15 a double cannot represent the sum
exactly at all. The published contract for corpus-scale sums is therefore:
the DOUBLE is a correct-to-1-ULP projection; exact cross-engine equality at
any magnitude needs the DECIMAL itself or the micros-int64 bridge
((x*1e6)::BIGINT::DOUBLE/1e6 — exact to $9.2e12/cell, used by the per-entity
emitters: events_cohort_ltv, user_rfm_segments, orders_yoy_growth,
agg_pareto_share). At every driver-tested SF all sums sit far below 2^53
scaled, so the casts are exact there.

Scale notes: single wide scan -> partial aggregation map-side -> tiny final
shuffle (grouping cardinality is 6). The shipdate filter and the 7-column
projection push down to the parquet scan; no joins; AQE coalesces the final
exchange. Decimal partial aggregation is still map-side combined. This plan
survives 100x data unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.registry import query

_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)       AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)  AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
                                                               AS sum_disc_price,
  CAST(SUM(CAST((l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE)
                                                               AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)      AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)      AS avg_disc,
  COUNT(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _dec(c: F.Column) -> F.Column:
    return c.cast("decimal(18,6)")


@query("q1_pricing_summary", oracle=_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan: one scan, a partial and a final hash aggregate, no joins; all
    the arithmetic runs inside whole-stage codegen."""
    l = table(spark, sf_dir, "lineitem")
    qty = _dec(F.col("l_quantity"))
    price = _dec(F.col("l_extendedprice"))
    disc_price = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    charge = _dec((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * (1 + F.col("l_tax")))
    n = F.count(F.lit(1))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / n).alias("avg_qty"),
            (F.sum(price).cast("double") / n).alias("avg_price"),
            (F.sum(_dec(F.col("l_discount"))).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )
