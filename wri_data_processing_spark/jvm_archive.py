"""Start the driver JVM from a class-data-sharing archive of Spark's classes.

Most of a cold driver JVM's start is class loading and linking from Spark's
jars: on 4 cores about 3 s of ``get_spark`` and 1.5 s of the first job. JDK
17's AppCDS maps those classes from a pre-built archive instead. A launch
with no archive records the classes it loads (``-XX:DumpLoadedClassList``);
once that process's JVM has exited, an exit hook builds the archive with
``java -Xshare:dump`` and later launches map it (``-XX:SharedArchiveFile``).
The recording process exits about 20 s later; its own start takes as long
as one without the feature.

The archive lives next to the code that uses it, in the package's
``__jvmcache__/`` (as ``__pycache__`` does), so it lasts as long as the
checkout or install does, and every later process of that checkout maps
what its first one recorded. It is keyed by the java binary, the conf
directory and every Spark jar's name, size and mtime; a successful dump
removes the archives and failure marks of other keys. Delete the directory
to clear it. Nothing is added to the launch when a JVM is already running,
when the Spark conf directory holds a real file (JDK 17 neither archives
nor maps a class path with a non-empty directory in it), when the package
directory cannot be written, after a key's dump failed twice, or after the
JVM rejected its archive.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shlex
import shutil
import subprocess

# JVM log lines (CDS warnings among them) default to stdout, where they would
# follow a caller's one-line result. -Xlog:all=warning:stderr alone adds
# stderr and keeps stdout.
QUIET = ["-Xlog:disable", "-Xlog:all=warning:stderr", "-XX:+DisplayVMOutputToStderr"]
DUMP_TIMEOUT_S = 300
# A timeout or a full disk may pass; the next recorder tries once more.
MAX_DUMPS = 2
CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "__jvmcache__")


def _java() -> str | None:
    """The java binary spark-class will run."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _key(java: str, spark_home: str, conf: str) -> str:
    """Names what the JVM checks when it maps the archive: the JDK, the class
    path's first entry (the conf directory) and each jar's size and mtime."""
    h = hashlib.sha256(f"{java}\0{conf}".encode())
    jdk = os.path.dirname(os.path.dirname(java))
    stamps = [java, os.path.join(jdk, "lib", "modules")]
    stamps += sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))
    for path in stamps:
        st = os.stat(path)
        h.update(f"\0{os.path.basename(path)}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _conf_dir(spark_home: str, cache: str) -> str | None:
    """The conf directory to launch with, or None when the one on the class
    path holds a real file."""
    conf = os.environ.get("SPARK_CONF_DIR")
    path = conf or os.path.join(spark_home, "conf")
    names = os.listdir(path) if os.path.isdir(path) else []
    if not names:
        return path
    if conf or not all(n.endswith(".template") for n in names):
        return None
    # Spark reads no template; an empty directory of ours changes nothing.
    empty = os.path.join(cache, "conf")
    os.makedirs(empty, mode=0o700, exist_ok=True)
    return empty if not os.listdir(empty) else None


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, under another user
        pass
    return True


def _scratch(base: str, pid: int) -> tuple[str, str]:
    """A recorder's class list and its dump's temp file."""
    return f"{base}.{pid}.classlist", f"{base}.{pid}.tmp"


def _take_lock(base: str) -> bool:
    """One recorder at a time; a lock whose pid is dead is taken over, with
    whatever its recorder left."""
    path = base + ".lock"
    for _ in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o600)
        except FileExistsError:
            try:
                with open(path) as f:
                    pid = int(f.read() or 0)
            except (OSError, ValueError):
                pid = 0
            if pid and _alive(pid):
                return False
            _remove(path, *_scratch(base, pid))
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def _remove(*paths: str) -> None:
    for path in paths:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass


def _failures(base: str) -> int:
    """Failed dumps of this key so far (the first line of ``<key>.failed``)."""
    try:
        with open(base + ".failed") as f:
            return int(f.readline())
    except (OSError, ValueError):
        return 0


def _mark_failed(base: str, reason: str, count: int | None = None) -> None:
    count = _failures(base) + 1 if count is None else count
    with open(base + ".failed", "w") as f:
        f.write(f"{count}\n{reason}")


def _drop_other_keys(base: str) -> None:
    """After a good dump: archives of an older Spark or JDK, and every
    failure mark, are of no more use."""
    stale = glob.glob(os.path.join(glob.escape(os.path.dirname(base)), "*.jsa"))
    stale += glob.glob(os.path.join(glob.escape(os.path.dirname(base)), "*.failed"))
    _remove(*[p for p in stale if p != base + ".jsa"])


class Launch:
    """One driver JVM launch that maps the archive or records it."""

    def __init__(self, java: str, conf: str, base: str, recording: bool):
        self.java, self.conf, self.base, self.recording = java, conf, base, recording
        self.archive = base + ".jsa"
        self.class_list, self.tmp = _scratch(base, os.getpid())
        self.dump: list[str] | None = None  # the dump command, once started
        self.proc = None  # the recording JVM's spark-submit process

    @property
    def options(self) -> str:
        """For ``spark.driver.defaultJavaOptions``: a caller's extraJavaOptions
        (e.g. in PYSPARK_SUBMIT_ARGS) comes later on the command line and
        would replace ours."""
        flag = (f"-XX:DumpLoadedClassList={self.class_list}" if self.recording
                else f"-XX:SharedArchiveFile={self.archive}")
        return shlex.join(QUIET + [flag])

    def started(self, spark) -> None:
        """Drop an archive the JVM did not map, or note what the dump at exit
        needs from the recording JVM."""
        jvm = spark.sparkContext._jvm
        args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
        class_path = jvm.System.getProperty("java.class.path")
        # JDK 17 maps an archive only under a class path that starts with the
        # one it was dumped with. A caller's driver class path
        # (--driver-class-path, SPARK_CLASSPATH) goes before the conf
        # directory: such a launch neither judges the archive nor records one.
        plain = os.path.normpath(class_path.split(os.pathsep)[0]) == os.path.normpath(self.conf)
        if not self.recording:
            # A custom archive that fails to map turns off all sharing, the
            # JDK's own archive too. The archive is the suspect only when our
            # flag reached the JVM under a plain class path.
            if (f"-XX:SharedArchiveFile={self.archive}" in args and plain
                    and "sharing" not in jvm.System.getProperty("java.vm.info")):
                try:
                    _remove(self.archive)
                    _mark_failed(self.base, "archive not mapped", MAX_DUMPS)
                except OSError:
                    pass  # the session is up either way
            return
        home = jvm.System.getProperty("java.home")
        if not plain or os.path.realpath(os.path.join(home, "bin", "java")) != self.java:
            return
        self.proc = spark.sparkContext._gateway.proc
        self.dump = [
            self.java, "-Xshare:dump", f"-XX:SharedClassListFile={self.class_list}",
            f"-XX:SharedArchiveFile={self.tmp}",
            "-cp", class_path,
            *[a for a in args if a.startswith(("--", "-Xmx"))], *QUIET,
        ]


def prepare() -> Launch | None:
    """The launch to make with the archive, or None to launch as before.
    Pass ``options`` to the builder and call ``started`` once the session
    is up."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    java = _java()
    cache = CACHE_DIR
    try:
        os.makedirs(cache, mode=0o700, exist_ok=True)
        if java is None or not os.access(cache, os.W_OK | os.X_OK):
            return None
        spark_home = _find_spark_home()
        conf = _conf_dir(spark_home, cache)
        if conf is None:
            return None
        base = os.path.join(cache, _key(java, spark_home, conf))
        if os.path.isfile(base + ".jsa"):
            launch = Launch(java, conf, base, recording=False)
        elif _failures(base) >= MAX_DUMPS or not _take_lock(base):
            return None  # dumps failed, or another process (or this one) records
        else:
            launch = Launch(java, conf, base, recording=True)
            atexit.register(_build_archive, os.getpid(), launch)
    except OSError:
        return None
    if conf == os.path.join(cache, "conf"):
        os.environ["SPARK_CONF_DIR"] = conf
    return launch


def _stop_jvm(proc) -> None:
    """Stop a still-active context and wait for the recording JVM to exit
    (it writes out its class list on exit)."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    except Py4JError:  # a JVM that already died has written its list
        pass
    if SparkContext._gateway is not None and SparkContext._gateway.proc is proc:
        SparkContext._gateway = SparkContext._jvm = None
    if proc.stdin:
        proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _build_archive(pid: int, launch: Launch) -> None:
    """Exit hook of the recording process (not of its forked children)."""
    if os.getpid() != pid:
        return
    try:
        if launch.dump is None:
            return
        _stop_jvm(launch.proc)
        if not os.path.isfile(launch.class_list):
            return  # a caller's defaultJavaOptions replaced ours
        try:
            done = subprocess.run(launch.dump, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                                  stderr=subprocess.PIPE, timeout=DUMP_TIMEOUT_S)
        except subprocess.TimeoutExpired:  # run() has killed and reaped it
            _mark_failed(launch.base, f"dump exceeded {DUMP_TIMEOUT_S} s")
            return
        if done.returncode == 0 and os.path.isfile(launch.tmp):
            os.replace(launch.tmp, launch.archive)
            _drop_other_keys(launch.base)
        else:
            _mark_failed(launch.base, done.stderr.decode(errors="replace")[-4000:])
    except OSError:
        pass
    finally:
        _remove(launch.class_list, launch.tmp, launch.base + ".lock")
