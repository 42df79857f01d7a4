"""The driver JVM's class-data-sharing archive (session.get_spark via
jvm_archive), driven through fresh ``python -c`` sessions, each run in a
copy of the package so that its ``__jvmcache__/`` is the test's own.

A recording run (no archive yet) must leave exactly ``<key>.jsa`` once it
has exited, the next run must map it, and each run's stdout must be the one
line the script prints: perfbench's result and bench.py's JSON are the last
stdout line of such a process. One dump takes about 20 s, so the archive is
recorded once for the module.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SESSION = """
import json, os, sys
from wri_data_processing_spark import jvm_archive
from wri_data_processing_spark.session import get_spark

spark = get_spark(app_name="jvm-archive-test")
if sys.argv[1:] == ["fork"]:
    pid = os.fork()
    if pid == 0:
        sys.exit(0)  # a forked child runs the exit hooks it inherited
    os.waitpid(pid, 0)
jvm = spark.sparkContext._jvm
print(json.dumps({
    "count": spark.range(3).count(),
    "vm_info": jvm.System.getProperty("java.vm.info"),
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "files": sorted(os.listdir(jvm_archive.CACHE_DIR)),
}))
"""

_OURS = ("-XX:SharedArchiveFile", "-XX:DumpLoadedClassList", "-Xlog:disable")


def _checkout(root) -> str:
    """A copy of the package with no archive; sessions run from ``root``
    import it (``python -c`` puts the working directory first)."""
    shutil.copytree(os.path.join(REPO, "wri_data_processing_spark"),
                    os.path.join(root, "wri_data_processing_spark"),
                    ignore=shutil.ignore_patterns("__pycache__", "__jvmcache__"))
    return str(root)


def _session(checkout, *argv, spark_home=None, submit_args=None) -> dict:
    """Run one session to exit; its stdout must be exactly one JSON line."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT")}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    if spark_home:
        env["SPARK_HOME"] = spark_home
    if submit_args:
        env["PYSPARK_SUBMIT_ARGS"] = submit_args
    out = subprocess.run(
        [sys.executable, "-c", _SESSION, *argv], cwd=checkout, env=env,
        capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1 and out.stdout == lines[0] + "\n", out.stdout[-2000:]
    return json.loads(lines[0])


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def _cache(checkout) -> str:
    return os.path.join(checkout, "wri_data_processing_spark", "__jvmcache__")


def _processes_naming(text: str) -> list[str]:
    found = []
    for cmdline in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(cmdline, "rb") as f:
                args = f.read().decode(errors="replace")
        except OSError:
            continue
        if text in args:
            found.append(args.replace("\0", " "))
    return found


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    conf = os.path.join(_spark_home(), "conf")
    if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
        pytest.skip("the Spark conf directory holds a real file: no archive by design")
    home = _checkout(tmp_path_factory.mktemp("jvm_archive"))
    first = _session(home, "fork")
    yield home, first
    shutil.rmtree(home, ignore_errors=True)  # the archive is ~160 MB


def test_recording_run_leaves_only_the_archive(recorded):
    home, first = recorded
    cache = _cache(home)
    (flag,) = [a for a in first["args"] if a.startswith("-XX:DumpLoadedClassList=")]
    class_list = flag.split("=", 1)[1]
    key = os.path.basename(class_list).split(".")[0]
    # While it ran: its lock and class list, and the engine's empty conf dir
    # in place of the template-only one. Its forked child neither stopped
    # the JVM (the count after the fork) nor dumped.
    assert first["count"] == 3
    assert first["files"] == sorted(["conf", f"{key}.lock", os.path.basename(class_list)])
    assert first["conf_dir"] == os.path.join(cache, "conf")
    # Once it has exited: the archive, and no list, lock, temp file or process.
    assert sorted(os.listdir(cache)) == sorted(["conf", f"{key}.jsa"])
    assert os.listdir(os.path.join(cache, "conf")) == []
    assert _processes_naming(cache) == []


def test_next_run_maps_the_archive(recorded):
    home, _ = recorded
    (archive,) = glob.glob(os.path.join(_cache(home), "*.jsa"))
    second = _session(home)
    assert f"-XX:SharedArchiveFile={archive}" in second["args"]
    assert "sharing" in second["vm_info"]
    assert second["count"] == 3
    assert not [a for a in second["args"] if a.startswith("-XX:DumpLoadedClassList")]
    assert _processes_naming(_cache(home)) == []


def test_archive_kept_when_a_caller_changes_the_launch(recorded, tmp_path):
    """Sharing off is not the archive's fault when a caller's
    defaultJavaOptions replaced our flags, or when a caller's driver class
    path goes before the one the archive was dumped with. Nor does a
    recording run under such a class path dump: its archive would fail the
    JDK's prefix check in every plain launch after it."""
    home, _ = recorded
    (archive,) = glob.glob(os.path.join(_cache(home), "*.jsa"))
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "note.txt").write_text("a non-empty class path directory\n")
    prepend = f"--driver-class-path {extra} pyspark-shell"
    replaced = _session(home, submit_args="--conf spark.driver.defaultJavaOptions=-Xshare:off pyspark-shell")
    assert not [a for a in replaced["args"] if a.startswith(_OURS)]
    assert "sharing" not in replaced["vm_info"]
    prepended = _session(home, submit_args=prepend)
    assert f"-XX:SharedArchiveFile={archive}" in prepended["args"]
    assert "sharing" not in prepended["vm_info"]
    assert replaced["count"] == prepended["count"] == 3
    assert sorted(os.listdir(_cache(home))) == sorted(["conf", os.path.basename(archive)])
    fresh = _checkout(tmp_path / "fresh")
    recording = _session(fresh, submit_args=prepend)
    assert recording["count"] == 3
    assert [a for a in recording["args"] if a.startswith("-XX:DumpLoadedClassList=")]
    assert os.listdir(_cache(fresh)) == ["conf"]  # no archive, no failure mark


def test_rejected_archive_is_deleted(recorded):
    """A truncated archive does not map; the JVM then runs with no sharing at
    all, so the archive is deleted and not tried again."""
    home, _ = recorded
    (archive,) = glob.glob(os.path.join(_cache(home), "*.jsa"))
    os.chmod(archive, 0o600)
    os.truncate(archive, os.path.getsize(archive) // 2)
    third = _session(home)
    assert third["count"] == 3
    assert f"-XX:SharedArchiveFile={archive}" in third["args"]
    assert not os.path.exists(archive)
    assert os.path.exists(archive[: -len(".jsa")] + ".failed")
    fourth = _session(home)
    assert not [a for a in fourth["args"] if a.startswith(_OURS)]


def test_real_conf_file_leaves_the_launch_alone(tmp_path):
    """JDK 17 neither archives nor maps a class path holding a non-empty
    directory: a conf directory with a real file turns the feature off."""
    real = _spark_home()
    fake = tmp_path / "spark"
    (fake / "conf").mkdir(parents=True)
    for name in os.listdir(real):
        if name != "conf":
            os.symlink(os.path.join(real, name), fake / name)
    (fake / "conf" / "spark-defaults.conf").write_text("# no settings\n")
    out = _session(_checkout(tmp_path / "co"), spark_home=str(fake))
    assert out["count"] == 3
    assert out["conf_dir"] is None
    assert not [a for a in out["args"] if a.startswith(_OURS)]
    assert out["files"] == []


def test_failed_dumps_and_other_keys(tmp_path, monkeypatch):
    """A dump that times out is tried once more by the next recorder, then
    not again; a good dump removes the archives and marks of other keys."""
    from wri_data_processing_spark import jvm_archive

    monkeypatch.setattr(jvm_archive, "_stop_jvm", lambda proc: None)  # no JVM here
    monkeypatch.setattr(jvm_archive, "DUMP_TIMEOUT_S", 0.5)
    base = str(tmp_path / "k1")
    for n in (1, 2):
        launch = jvm_archive.Launch(sys.executable, str(tmp_path), base, recording=True)
        open(launch.class_list, "w").close()
        open(base + ".lock", "w").close()
        launch.dump = [sys.executable, "-c", "import time; time.sleep(30)"]
        jvm_archive._build_archive(os.getpid(), launch)
        assert jvm_archive._failures(base) == n
        assert sorted(os.listdir(tmp_path)) == ["k1.failed"]
    for name in ("k0.jsa", "k0.failed", "k1.jsa", "k2.lock", "k2.7.classlist"):
        open(tmp_path / name, "w").close()
    jvm_archive._drop_other_keys(base)
    assert sorted(os.listdir(tmp_path)) == ["k1.jsa", "k2.7.classlist", "k2.lock"]
