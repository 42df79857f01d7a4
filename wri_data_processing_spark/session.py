"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same
confs apply (AQE, adaptive coalescing, skew-join handling). Session timezone
is pinned to UTC so timestamp semantics are stable regardless of host tz
(testdata parquet stores naive UTC instants).
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

from wri_data_processing_spark import jvm_archive

CODEGEN_CACHE_ENTRIES = 2000


def _workers_import_engine() -> bool:
    """Whether a local-mode Python daemon can import this package at start,
    before any task ships files: its sys.path holds the driver's cwd, the
    driver's PYTHONPATH and site-packages."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    entries = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep), *site.getsitepackages()]
    return any(entry and os.path.abspath(entry) == root for entry in entries)


def get_spark(
    app_name: str = "wri-data-processing-spark",
    shuffle_partitions: int | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    AQE is enabled so runtime statistics re-plan shuffle partition counts,
    convert sort-merge joins to broadcast when the built side is small, and
    split skewed partitions — all critical at 100 TB where static planning
    guesses wrong.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark can only
        # read it as long — catalog.table() converts back to timestamp.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # Managed-table home for bucketed layouts (sources/bucketed.py);
        # static conf, so it must be set at session build time.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/wri_spark_warehouse"),
        )
        # Generated-class cache (static, JVM-wide; Spark's default is 100).
        # A warm session reuses its compiled classes only if the working set
        # fits: the first pass of one session compiles 111 distinct classes
        # for the single-plan benchmark ops, 188 for the iterative ones and
        # about 820 for bench.py's 38-op headline (sf0.01). At 100 entries
        # (LRU) the iterative ops recompiled ~181 classes every warm pass,
        # 0.9-1.3 s of Janino time, and a second headline pass 965; at 2000
        # they recompile only AQE plan variants not met before (0-26). The
        # cost is ~5 MB of metaspace after a headline pass (175 vs 170 MB).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        # No carriage-return progress bars on stderr: they pollute captured
        # bench/driver output with nondeterministic noise.
        .config("spark.ui.showConsoleProgress", "false")
    )
    # Python-worker daemon (static). Spark's own daemon imports pyspark from
    # pyspark.zip, and every task's importlib.invalidate_caches() then makes
    # each of the worker's 16 zipimporters re-read its archive (the
    # spark-core jar alone 48 ms): 0.18-0.46 s per Python task on 3.11.
    # worker_daemon drops those archives when the installed pyspark is the
    # same release. Only local workers are known to import the package
    # before a task ships --py-files; elsewhere Spark's daemon stays.
    if (master or "").startswith("local") and _workers_import_engine():
        builder = builder.config(
            "spark.python.daemon.module", "wri_data_processing_spark.worker_daemon"
        )
    # The driver JVM starts from a class-data-sharing archive of Spark's
    # classes, recorded by the first launch without one (jvm_archive).
    launch = jvm_archive.prepare()
    if launch:
        builder = builder.config("spark.driver.defaultJavaOptions", launch.options)
    spark = builder.getOrCreate()
    if launch:
        launch.started(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark
