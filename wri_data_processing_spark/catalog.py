"""Table catalog over the driver-generated parquet star schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an ``sf_dir``.

Reads are plain ``spark.read.parquet`` so Catalyst gets parquet footer
statistics, predicate pushdown and column pruning for free (the Spark analog
of the reference's header-only raster reads, ``scripts/R/utils.R:175-214``).
Only the inferred schema is memoized (``table``): inferring it runs a Spark
job per read, which a long-lived session would otherwise pay on every op.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


# session -> absolute table path -> (file versions, inferred schema)
_SCHEMAS: weakref.WeakKeyDictionary[
    SparkSession, dict[str, tuple[tuple, StructType]]
] = weakref.WeakKeyDictionary()


def _file_versions(path: str) -> tuple | None:
    """(name, st_size, st_mtime_ns) of every data file under ``path``, or
    None when it is not a local file or directory. Hidden and metadata files
    (leading ``.`` or ``_``) are skipped, as Spark's file listing skips them."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns),)
        found = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for f in files:
                if not f.startswith((".", "_")):
                    full = os.path.join(root, f)
                    st = os.stat(full)
                    found.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
        return tuple(sorted(found))
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per file
    version. The data and the file listing are read afresh on every call;
    only the schema-inference job is skipped while every data file keeps its
    size and mtime. Paths that are not local fall through to plain inference."""
    versions = _file_versions(path)
    if versions is None:
        return spark.read.parquet(path)
    key = os.path.abspath(path)
    per_session = _SCHEMAS.setdefault(spark, {})
    hit = per_session.get(key)
    if hit is not None and hit[0] == versions:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    per_session[key] = (versions, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table lazily; the data is never cached (plans stay prunable),
    only its inferred schema is memoized per session and file version.

    events.ts is physically TIMESTAMP(NANOS); runtimes differ in how they
    surface it, so normalize BOTH physical forms to a session-tz TimestampType:

    * pyspark <= 4.0 honors spark.sql.legacy.parquet.nanosAsLong and yields a
      long (ns) — restore a timestamp at microsecond precision (the data has
      no sub-microsecond components).
    * pyspark 4.1+ ignores that legacy conf and reads TIMESTAMP(NANOS) as
      TIMESTAMP_NTZ — cast to TimestampType. The session timezone is pinned
      UTC (session.py) and the data is naive UTC, so the cast is a pure type
      relabel with identical micros.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # Integer `div`, not float `/`: ns values ~1.7e18 exceed double's
            # 53-bit exact range, so float division rounds the microsecond
            # (off by 1 vs DuckDB's truncating epoch_us) — and near a second
            # boundary that skew can leak into formatted-to-seconds output too.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() queries."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
