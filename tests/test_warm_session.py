"""A warm session reuses the driver work it has already done.

Two fixed per-op costs of a long-lived session: recompiling generated
classes that fell out of Spark's codegen cache, and the Spark job that
infers a parquet schema on every ``catalog.table`` call.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import TimestampType

from wri_data_processing_spark import registry
from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.session import CODEGEN_CACHE_ENTRIES

ITERATIVE_OPS = ["dedup_clusters", "graph_pagerank", "retrieval_pipeline", "tokenizer_pipeline"]

# AQE can plan a join of dedup_clusters on either side, depending on which
# query stage finishes first, and the variant it has not met yet compiles
# fresh: 3-13 classes in about one warm round of five. A cache too small for
# the ~190-class working set recompiles ~180 classes every round.
WARM_ROUND_COMPILES = 20


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _jobs_launched(spark, action) -> int:
    """Number of Spark jobs ``action()`` launches, counted by job group."""
    sc = spark.sparkContext
    group = f"warm-session-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed asynchronously
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_codegen_cache_holds_iterative_working_set(spark, sf_dir):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == CODEGEN_CACHE_ENTRIES
    registry.load_all()

    def one_round() -> int:
        before = _compiles(spark)
        for name in ITERATIVE_OPS:
            registry.REGISTRY[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return _compiles(spark) - before

    assert one_round() > WARM_ROUND_COMPILES  # the cold round compiles the working set
    assert one_round() <= WARM_ROUND_COMPILES


def test_second_table_read_launches_no_job(spark, sf_dir):
    first = table(spark, sf_dir, "lineitem")
    second = []
    assert _jobs_launched(spark, lambda: second.append(table(spark, sf_dir, "lineitem"))) == 0
    assert second[0].schema == first.schema
    assert second[0].count() == first.count()


def test_rewritten_table_file_gets_its_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert _jobs_launched(spark, lambda: table(spark, str(tmp_path), "t")) >= 1
    assert table(spark, str(tmp_path), "t").columns == ["a"]

    tmp = tmp_path / ".t.parquet.tmp"
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), tmp)
    os.replace(tmp, path)
    df = table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_table_directory_keys_on_every_data_file(spark, tmp_path):
    root = tmp_path / "t.parquet"
    root.mkdir()
    pq.write_table(pa.table({"a": [1]}), root / "part-0.parquet")
    table(spark, str(tmp_path), "t")
    assert _jobs_launched(spark, lambda: table(spark, str(tmp_path), "t")) == 0

    pq.write_table(pa.table({"a": [2]}), root / "part-1.parquet")
    assert _jobs_launched(spark, lambda: table(spark, str(tmp_path), "t")) >= 1
    assert sorted(r.a for r in table(spark, str(tmp_path), "t").collect()) == [1, 2]


def test_events_ts_stays_timestamp_on_memoized_read(spark, sf_dir):
    first = table(spark, sf_dir, "events")
    second = table(spark, sf_dir, "events")
    assert isinstance(first.schema["ts"].dataType, TimestampType)
    assert isinstance(second.schema["ts"].dataType, TimestampType)
    assert second.orderBy("event_id").limit(5).collect() == first.orderBy("event_id").limit(5).collect()
