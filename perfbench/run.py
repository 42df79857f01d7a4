#!/usr/bin/env python3
"""Benchmark of the wri_data_processing_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload single_plan --seed 1 --seconds 10 --trace 0

One process, one Spark session on ``local[<cores>]``. The run sets the
session up (timed as ``setup_s``), writes the seeded inputs, runs one checked
pass whose every output is compared with its oracle, then runs
round(seconds / workloads.NOMINAL_PASS_S[workload]) timed passes, at least
two, so that the fastest of them is never the coldest. The last
line of stdout is one JSON object with keys ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it records the host (cores, RAM,
versions, load average).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs four
passes, untraced, traced, traced, untraced (spans around every layer call,
one Spark job group per op, Spark's event log on) and reports the per-layer
metrics, including the tracing overhead. Inputs, caches and results go
under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

from tracing import Interval

_START = Interval()  # set-up is timed from here

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
END_TO_END = ["setup_s", "pass_s", "geomean_op_s"]
UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
         "retained_rdds": "count", "core_util": "ratio", "cog_bytes_ratio": "ratio",
         "coverage": "ratio"}


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last in UNITS:
        return UNITS[last]
    return "MB" if last.endswith("_mb") else "s"


def host_info() -> dict:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_gb": round(ram / 2**30, 1),
        "python": sys.version.split()[0],
        "loadavg_start": os.getloadavg(),
    }


def configure_env(host: dict, event_log_dir: str | None) -> None:
    """Size the session for this host and keep every file inside WORK.

    Must run before pyspark launches its JVM: the submit arguments and the
    environment are read once, at launch.
    """
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    ram_mb = int(host["ram_gb"] * 1024)
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cores"])
    os.environ["SPARK_DRIVER_MEMORY"] = f"{min(4096, ram_mb // 4)}m"
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(WORK, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine (and this directory's modules, for
    # pickled callables) whatever their working directory is.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # the short-lived launcher JVM
    args = ["--conf", f"spark.driver.extraJavaOptions={jvm_opts}"]
    if event_log_dir:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args) + " pyspark-shell"


def data_version() -> str:
    """Fingerprint of the input generator: cached inputs and oracle answers
    made by another version of it are not reused."""
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def prepare_tables(seed: int) -> str:
    import datagen

    out = os.path.join(WORK, "tables", data_version(), f"seed-{seed}")
    marker = os.path.join(out, ".complete")
    if not os.path.exists(marker):
        datagen.write_tables(out, seed)
        open(marker, "w").close()
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit.
    A second call does nothing."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits on EOF
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def retained(spark) -> tuple[int, float]:
    """Persisted RDDs and their block MB still held after a pass."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(0.5)  # let the context cleaner drop what the GC released
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    mb = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()) / 1e6
    return n, mb


def geomean(values: list[float]) -> float:
    """Geometric mean; 0 when no op succeeded."""
    return math.exp(statistics.fmean(math.log(v) for v in values)) if values else 0.0


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "wri_data_processing_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)

    host = host_info()
    run_tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    event_log_dir = None
    if args.trace:
        event_log_dir = os.path.join(WORK, "eventlog")  # only the latest is kept
        shutil.rmtree(event_log_dir, ignore_errors=True)
        os.makedirs(event_log_dir)
    configure_env(host, event_log_dir)

    # --- setup: process start -> engine loaded, session up, first job ---
    t = time.perf_counter()
    from wri_data_processing_spark import registry
    from wri_data_processing_spark.session import get_spark

    registry.load_all()
    load_all_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{run_tag}")
    get_spark_s = time.perf_counter() - t
    spark.range(1).count()
    setup = _START.stop()

    try:
        return _run(args, spark, host, run_tag, event_log_dir, setup, get_spark_s, load_all_s)
    finally:
        stop_spark(spark)


def _run(args, spark, host, run_tag, event_log_dir, setup, get_spark_s, load_all_s) -> int:
    import pyspark

    from oracle_cache import OracleCache
    from tracing import Tracer, patch_helpers, reduce_event_log
    from workloads import HELPERS, NOMINAL_PASS_S, PassRunner, per_layer_names

    from wri_data_processing_spark.queries import io_ops

    host["pyspark"] = pyspark.__version__
    host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    # Warehouse snapshot ops stage their tables here instead of /tmp.
    io_ops._SCRATCH = os.path.join(WORK, "scratch")

    sf_dir = prepare_tables(args.seed)
    oracle = OracleCache(os.path.join(WORK, "oracle", data_version()), sf_dir, args.seed)
    tracer = Tracer(enabled=False)
    runner = PassRunner(spark, args.workload, sf_dir, WORK, tracer, oracle, args.seed)
    if args.workload == "raster_etl":
        runner.prepare_raster()

    runner.run_pass("check", checked=True)
    oracle.close()

    untraced: list[Interval] = []
    traced: list[Interval] = []
    traced_ids: list[str] = []
    scans: list[float] = []
    # Traced runs time untraced (U) and traced (T) passes in ABBA order, so
    # the passes speeding up as the JIT warms does not read as overhead.
    if args.trace:
        order = "UTTU"
    else:
        order = "U" * max(2, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    for i, kind in enumerate(order):
        pass_id = f"p{i}"
        if kind == "T":
            tracer.enabled = runner.job_groups = True
            undo = patch_helpers(tracer, HELPERS)
            try:
                traced.append(runner.run_pass(pass_id, checked=False))
            finally:
                undo()
                runner.job_groups = False
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            scans.append(runner.scan_tables())  # outside every op's job group
            tracer.enabled = False
            traced_ids.append(pass_id)
        else:
            untraced.append(runner.run_pass(pass_id, checked=False))

    failed = sum(not t.ok for t in runner.timings)
    for p in runner.problems:
        print(p, file=sys.stderr)

    if not args.trace:
        per_op: dict[str, list[float]] = {}
        for t in runner.timings:
            if t.pass_id != "check" and t.ok:
                per_op.setdefault(t.name, []).append(t.host.unstolen_s)
        # Passes only get faster as the JIT warms, and a busy host only adds
        # time, so the fastest timed pass (and each op's fastest time) is the
        # steadiest reading of a warm pass. Every time is net of steal.
        values = {
            "setup_s": setup.unstolen_s,
            "pass_s": min(p.unstolen_s for p in untraced),
            "geomean_op_s": geomean([min(v) for v in per_op.values()]),
        }
        names = END_TO_END
    else:
        retained_rdds, retained_mb = retained(spark)
        stop_spark(spark)
        log_files = os.listdir(event_log_dir)
        with open(os.path.join(event_log_dir, log_files[0])) as f:
            groups = reduce_event_log(f)
        values = layer_values(
            runner, tracer, traced_ids, [p.wall for p in traced], [p.wall for p in untraced], scans, groups,
            host["cores"], get_spark_s, load_all_s, retained_rdds, retained_mb,
        )
        names = per_layer_names()
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "results", f"spans-{run_tag}.json"))

    host["loadavg_end"] = os.getloadavg()
    result = {
        "correct": failed == 0,
        "attempted": len(runner.timings),
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": unit_of(n)} for n in names},
    }
    detail = {
        "host": host,
        "run": run_tag,
        "setup": setup.as_dict(),
        "passes": {"untraced": [p.as_dict() for p in untraced],
                   "traced": [p.as_dict() for p in traced]},
        "ops": [{**vars(t), "host": t.host.as_dict()} for t in runner.timings],
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{run_tag}.json"), "w") as f:
        json.dump({**detail, "result": result}, f, indent=1)
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


def layer_values(runner, tracer, traced_ids, traced_walls, untraced_walls, scans, groups,
                 cores, get_spark_s, load_all_s, retained_rdds, retained_mb) -> dict:
    """Per-layer metrics, each per traced pass (totals / number of passes)."""
    from tracing import GroupStats
    from workloads import HELPERS, RASTER_SPANS, RASTER_STAGES, SPARK_METRICS, per_layer_names

    n = len(traced_ids)
    ids = set(traced_ids)
    v = dict.fromkeys(per_layer_names(), 0.0)
    stages = {fn for _, fn in RASTER_STAGES}
    for t in runner.timings:
        if t.pass_id not in ids:
            continue
        v[f"{t.module}.plan_s"] += t.plan_s / n
        v[f"{t.module}.exec_s"] += t.exec_s / n
        if t.name in stages:
            v[f"{t.module}.{t.name}_s"] += t.seconds / n
    for sp in tracer.spans:
        if sp.pass_id in ids and (sp.name in HELPERS or sp.name in RASTER_SPANS):
            v[f"{sp.name}_s"] += sp.seconds / n
    total = GroupStats()
    for group, st in groups.items():
        pass_id, _, rest = group.partition("|")
        if pass_id in ids:
            v[f"{rest.split('|')[0]}.jobs"] += st.jobs / n
            total.add(st)
    for m in SPARK_METRICS:
        v[f"spark.{m}"] = getattr(total, m) / n
    trace_pass = statistics.median(traced_walls)
    v["spark.core_util"] = v["spark.task_busy_s"] / (trace_pass * cores)
    v["spark.retained_mb"] = retained_mb
    v["session.retained_rdds"] = retained_rdds
    v["session.get_spark_s"] = get_spark_s
    v["registry.load_all_s"] = load_all_s
    v["catalog.scan_s"] = statistics.median(scans)
    v["steps.cog_bytes_ratio"] = runner.cog_bytes_ratio
    v["trace.pass_s"] = trace_pass
    v["trace.untraced_pass_s"] = statistics.median(untraced_walls)
    v["trace.overhead_s"] = trace_pass - v["trace.untraced_pass_s"]
    covered = sum(val for k, val in v.items() if k.endswith((".plan_s", ".exec_s")))
    v["trace.coverage"] = covered / trace_pass
    return v


if __name__ == "__main__":
    sys.exit(main())
