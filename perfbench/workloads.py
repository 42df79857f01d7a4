"""The benchmark's workloads and the passes that run them.

A pass runs every op of a workload once, closed loop with concurrency 1: one
op runs to completion before the next starts. A table op is timed in two
parts: ``plan`` is the call into the registered function (analysis plus any
eager jobs inside it) and ``exec`` is the final action, the noop sink. The
first pass of a run is the checked pass: its action collects the result and
compares it with the cached DuckDB oracle instead.

``raster_etl`` runs the reference pipeline (listing and inventory -> COG ->
hosting probe -> STAC geometry and items) over a seeded GeoTIFF corpus, then
a cell-table geo op. Each pipeline stage is timed the same way, plan then
exec.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import traceback
import zlib
from dataclasses import dataclass

import numpy as np

from tracing import Interval, Tracer

# A subset of bench.py's HEADLINE (plus two lighter ops of the same modules)
# holding an op of every module the per-layer metrics name, small enough for
# a run of about 40 s; README.md says why each workload holds what it does.
TABLE_WORKLOADS: dict[str, list[str]] = {
    # Star-schema SQL, then corpus text ops: each op is one plan, no loops.
    "single_plan": [
        "q1_pricing_summary",
        "join_inner_equi",
        "agg_cube_rollup",
        "window_running_sum",
        "stats_welch_ttest",
        "merge_upsert",
        "dedup_ngram_jaccard",
        "text_stats",
        "privacy_pipeline",
        "eval_cer",
    ],
    "corpus_iterative": [
        "dedup_clusters",
        "graph_pagerank",
        "retrieval_pipeline",
        "tokenizer_pipeline",
    ],
}
RASTER_GEO_OPS = ["geo_zonal_stats"]
WORKLOADS = [*TABLE_WORKLOADS, "raster_etl"]

# Nominal seconds per warm pass on a 4-core host. A run measures
# round(seconds / nominal) passes (at least two), so the work measured is
# fixed by the arguments, not by how fast the passes happen to run.
NOMINAL_PASS_S = {
    "single_plan": 4.5,
    "corpus_iterative": 6.0,
    "raster_etl": 7.0,
}

# Raster corpus size: layers of RASTER_SIZE x RASTER_SIZE float32 pixels
# (16 x 1024^2 is 64 MB of pixels, enough that the COG stage is the
# largest share of a pass; README.md gives the measured shares).
RASTER_LAYERS = 16
RASTER_SIZE = 1024

# Raster pipeline stages: (layer, function) as the per-layer metrics name them.
# The listing runs inside the inventory stage and the STAC geometry inside
# the STAC stage, as in the reference's scripts; both are plan-only calls
# of a few milliseconds, reported as spans (RASTER_SPANS) of their own.
RASTER_STAGES = [
    ("steps", "step00_inventory"),
    ("steps", "step01_cog"),
    ("operators", "with_hosted_flag"),
    ("steps", "step02_stac"),
]
RASTER_SPANS = ["sources.scan_file_listing", "geo.with_stac_spatial"]

# Engine helpers timed as their own layer in the traced run:
# span name -> (module, function).
HELPERS = {
    "llm_dedup.cluster_edges": ("wri_data_processing_spark.queries.llm_dedup", "cluster_edges"),
    "llm_dedup.propagate_min_labels": (
        "wri_data_processing_spark.queries.llm_dedup",
        "propagate_min_labels",
    ),
    "llm_similarity.retrieval_pool": (
        "wri_data_processing_spark.queries.llm_similarity",
        "retrieval_pool",
    ),
}

SPARK_METRICS = [
    "task_busy_s",
    "task_cpu_s",
    "gc_s",
    "stages",
    "tasks",
    "failed_tasks",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "fetch_wait_s",
    "spill_mb",
    "input_mb",
]


def op_module(name: str) -> str:
    """Last component of the registered function's module."""
    from wri_data_processing_spark import registry

    if not registry.REGISTRY:
        registry.load_all()
    return registry.REGISTRY[name].__module__.rsplit(".", 1)[-1]


def layer_modules() -> list[str]:
    mods = {op_module(n) for ops in TABLE_WORKLOADS.values() for n in ops}
    mods |= {op_module(n) for n in RASTER_GEO_OPS}
    mods |= {layer for layer, _ in RASTER_STAGES}
    return sorted(mods)


def per_layer_names() -> list[str]:
    """Every per-layer metric, in report order (each workload reports all;
    a layer a workload does not touch reads 0)."""
    names = ["session.get_spark_s", "registry.load_all_s", "catalog.scan_s"]
    for m in layer_modules():
        names += [f"{m}.plan_s", f"{m}.exec_s", f"{m}.jobs"]
    names += [f"{h}_s" for h in HELPERS]
    names += [f"{layer}.{fn}_s" for layer, fn in RASTER_STAGES]
    names += [f"{sp}_s" for sp in RASTER_SPANS]
    names += ["steps.cog_bytes_ratio"]
    names += [f"spark.{m}" for m in SPARK_METRICS]
    names += ["spark.core_util", "spark.retained_mb", "session.retained_rdds"]
    names += ["trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s", "trace.coverage"]
    return names


def hosted_probe(name: str) -> bool:
    """Deterministic offline stand-in for the HTTP HEAD hosting probe."""
    return zlib.crc32(name.encode()) % 3 == 0


@dataclass
class OpTiming:
    pass_id: str
    module: str
    name: str
    plan_s: float
    exec_s: float
    ok: bool
    host: Interval

    @property
    def seconds(self) -> float:
        return self.plan_s + self.exec_s


class PassRunner:
    """Runs the passes of one workload in one Spark session."""

    def __init__(self, spark, workload: str, sf_dir: str, work: str, tracer: Tracer, oracle, seed: int):
        self.spark = spark
        self.workload = workload
        self.sf_dir = sf_dir
        self.work = work
        self.tracer = tracer
        self.oracle = oracle
        self.seed = seed
        self.timings: list[OpTiming] = []
        self.problems: list[str] = []
        self.input_tables: set[str] = set()
        self.job_groups = False
        self.corpus = None
        self.cog_bytes_ratio = 0.0

    # -- timing core ---------------------------------------------------------

    def timed(self, pass_id: str, module: str, name: str, plan, execute=None):
        """Run plan() then execute(plan result); record both durations.

        Returns whether the op succeeded. An exception is recorded as a
        failed op and never propagates, so one failing op does not abort the
        pass.
        """
        if self.job_groups:
            self.spark.sparkContext.setJobGroup(f"{pass_id}|{module}|{name}", name)
        host = Interval()
        t0 = time.perf_counter()
        t1 = None
        ok = True
        with self.tracer.span(f"{module}.{name}", kind="op"):
            try:
                with self.tracer.span("plan"):
                    x = plan()
                t1 = time.perf_counter()
                if execute is not None:
                    with self.tracer.span("exec"):
                        execute(x)
            except Exception:
                ok = False
                self.problems.append(f"{pass_id} {name}: {traceback.format_exc(limit=3)}")
        t2 = time.perf_counter()
        host.stop()
        if t1 is None:
            t1 = t2
        self.timings.append(OpTiming(pass_id, module, name, t1 - t0, t2 - t1, ok, host))
        return ok

    def run_pass(self, pass_id: str, checked: bool) -> Interval:
        """One pass, timed."""
        self.tracer.pass_id = pass_id
        if self.workload == "raster_etl":
            return self._raster_pass(pass_id, checked)
        t = Interval()
        self._table_ops(pass_id, TABLE_WORKLOADS[self.workload], checked)
        return t.stop()

    # -- table ops -----------------------------------------------------------

    def _table_ops(self, pass_id: str, ops: list[str], checked: bool) -> None:
        from wri_data_processing_spark import registry

        for name in ops:
            fn = registry.REGISTRY[name]
            plan = lambda fn=fn: fn(self.spark, self.sf_dir)  # noqa: E731
            execute = (lambda df, name=name: self._check_op(name, df)) if checked else _noop_sink
            self.timed(pass_id, op_module(name), name, plan, execute)

    def _check_op(self, name: str, df) -> None:
        from tests.oracle_harness import compare

        from wri_data_processing_spark import registry

        self.input_tables |= {
            os.path.basename(p).split(".parquet")[0] for p in df.inputFiles()
        }
        if name in registry.ORACLE:
            problems = compare(df, self.oracle, registry.ORACLE[name])
        else:
            problems = [] if df.limit(1).count() == 1 else ["rows-only op returned no rows"]
        if problems:
            raise AssertionError(f"{name} differs from its oracle: {problems}")

    def scan_tables(self) -> float:
        """Noop scan, through catalog.table, of every table the workload read."""
        from wri_data_processing_spark.catalog import table

        total = 0.0
        for name in sorted(self.input_tables):
            with self.tracer.span(f"catalog.table.{name}"):
                t0 = time.perf_counter()
                _noop_sink(table(self.spark, self.sf_dir, name))
                total += time.perf_counter() - t0
        return total

    # -- raster pipeline -----------------------------------------------------

    def prepare_raster(self) -> None:
        from datagen import write_raster_corpus

        root = os.path.join(self.work, "raster", "input")
        shutil.rmtree(root, ignore_errors=True)
        self.corpus = write_raster_corpus(root, self.seed, RASTER_LAYERS, RASTER_SIZE)

    def _raster_pass(self, pass_id: str, checked: bool) -> Interval:
        from pyspark.sql import functions as F

        from wri_data_processing_spark.geo.cog_writer import cog_convert
        from wri_data_processing_spark.geo.reproject import with_stac_spatial
        from wri_data_processing_spark.operators.probe import with_hosted_flag
        from wri_data_processing_spark.operators.validate import GridExpectations
        from wri_data_processing_spark.sources.listing import scan_file_listing, strip_scheme
        from wri_data_processing_spark.sources.tiff_fixture import RES, XMIN, YMAX
        from wri_data_processing_spark.steps import step02_stac
        from wri_data_processing_spark.steps.step00_inventory import step00_inventory
        from wri_data_processing_spark.steps.step01_cog import step01_cog

        corpus = self.corpus
        out = os.path.join(self.work, "raster", "output")
        shutil.rmtree(out, ignore_errors=True)
        cog_dir, stac_dir = os.path.join(out, "cogs"), os.path.join(out, "stac")
        os.makedirs(cog_dir)
        h, w = corpus.shape
        grid = GridExpectations(
            xmin=XMIN, xmax=XMIN + w * RES, ymin=YMAX - h * RES, ymax=YMAX
        )
        spark = self.spark
        state: dict = {}

        def inventory():
            with self.tracer.span("sources.scan_file_listing"):
                listing = scan_file_listing(spark, corpus.root).select(
                    strip_scheme(F.col("path")).alias("path")
                )
            return step00_inventory(listing, expectations=grid).all_meta

        def collect_meta(all_meta):
            state["meta_rows"] = all_meta.collect()
            meta = spark.createDataFrame(state["meta_rows"], all_meta.schema)
            state["meta"] = meta.filter(F.col("success") & F.col("passes_assumptions"))

        def cogs():
            # The pure-Python writer, even where gdal_translate is installed.
            return step01_cog(state["meta"], cog_dir, converter=cog_convert)

        def collect_statuses(statuses):
            state["statuses"] = statuses.collect()

        def probe():
            state["flagged"] = with_hosted_flag(state["meta"], hosted_probe)

        def stac_items():
            with self.tracer.span("geo.with_stac_spatial"):
                state["spatial"] = with_stac_spatial(state["flagged"])
            return step02_stac.build_item_docs(state["spatial"])

        def stac_sink(items):
            step02_stac.sink_item_files(items, os.path.join(stac_dir, "items"), overwrite=True)
            bboxes = [r["bbox"] for r in state["spatial"].select("bbox").collect()]
            bbox = [
                min(b[0] for b in bboxes),
                min(b[1] for b in bboxes),
                max(b[2] for b in bboxes),
                max(b[3] for b in bboxes),
            ]
            step02_stac.write_doc(
                step02_stac.build_collection_doc(state["spatial"], bbox),
                os.path.join(stac_dir, "collection.json"),
            )
            step02_stac.write_doc(
                step02_stac.build_catalog_doc(), os.path.join(stac_dir, "catalog.json")
            )

        stages = {
            "step00_inventory": (inventory, collect_meta),
            "step01_cog": (cogs, collect_statuses),
            "with_hosted_flag": (probe, None),
            "step02_stac": (stac_items, stac_sink),
        }
        t = Interval()
        for layer, fn_name in RASTER_STAGES:
            plan, execute = stages[fn_name]
            if not self.timed(pass_id, layer, fn_name, plan, execute):
                break  # later stages consume this one's output
        self._table_ops(pass_id, RASTER_GEO_OPS, checked)
        t.stop()
        if "flagged" in state:
            state["flagged"].unpersist()
        if checked:
            self._check_raster(state, cog_dir, stac_dir)
        return t

    def _check_raster(self, state: dict, cog_dir: str, stac_dir: str) -> None:
        """Statuses all written, COG pixels equal the source, STAC ids equal
        the COG stems, and the inventory sorted every odd file correctly."""
        from wri_data_processing_spark.sources.tiff_header import read_geotiff_pixels

        corpus = self.corpus
        try:
            statuses = {r["cog_filename"]: r["status"] for r in state["statuses"]}
            if statuses != {name: "written" for name in corpus.good}:
                raise AssertionError(f"COG statuses {statuses}")
            src_bytes = cog_bytes = 0
            for name, src in corpus.good.items():
                cog = os.path.join(cog_dir, name)
                if not np.array_equal(
                    read_geotiff_pixels(cog), read_geotiff_pixels(src), equal_nan=True
                ):
                    raise AssertionError(f"COG pixels differ from the source: {name}")
                src_bytes += os.path.getsize(src)
                cog_bytes += os.path.getsize(cog)
            self.cog_bytes_ratio = cog_bytes / src_bytes
            stems = {os.path.splitext(n)[0] for n in corpus.good}
            items_dir = os.path.join(stac_dir, "items")
            item_files = {os.path.splitext(n)[0] for n in os.listdir(items_dir)}
            ids = set()
            for n in os.listdir(items_dir):
                with open(os.path.join(items_dir, n)) as f:
                    ids.add(json.load(f)["id"])
            if not (item_files == ids == stems):
                raise AssertionError(f"STAC item ids {sorted(ids)} != COG stems {sorted(stems)}")
            rows = {r["filepath"]: r for r in state["meta_rows"]}
            for p in corpus.broken:
                if rows[p]["success"]:
                    raise AssertionError(f"broken raster read as success: {p}")
            for p in corpus.off_grid:
                if rows[p]["passes_assumptions"] is not False:
                    raise AssertionError(f"off-grid raster passed the grid checks: {p}")
            if any(p in rows for p in corpus.excluded):
                raise AssertionError("an excluded raster reached the inventory")
        except (AssertionError, KeyError, OSError, ValueError) as exc:
            self.problems.append(f"raster check: {exc!r}")
            self.timings.append(
                OpTiming("check", "steps", "raster_check", 0.0, 0.0, False, Interval().stop())
            )


def _noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()
