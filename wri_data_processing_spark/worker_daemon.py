"""Python-worker daemon that runs the installed pyspark instead of Spark's archives.

``session.get_spark`` names this module in ``spark.python.daemon.module``, so
Spark starts it (``python -m wri_data_processing_spark.worker_daemon``) in
place of ``pyspark.daemon``; workers fork from it and inherit its import state.

Spark puts three archives at the front of the daemon's PYTHONPATH:
``$SPARK_HOME/python/lib/pyspark.zip``, ``py4j-*-src.zip`` and the spark-core
jar. Every task then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython 3.11 each cached
``zipimporter`` re-reads its archive's whole central directory on that call.
A worker holds 16 of them (one per package path inside ``pyspark.zip``, plus
the py4j zip and the 5,359-entry jar): 48 ms for the jar, 14 ms for
``pyspark.zip``, 0.18-0.46 s per ``mapInPandas`` task in all (Python 3.11.7,
Spark 4.1.2). Without them the call takes 0.1-0.2 ms. CPython 3.12 made the
invalidation lazy (gh-103200); there this module changes nothing that costs.

The archives are dropped only when the installed copy is provably the same
release: ``pyspark`` and ``py4j`` must both import from a plain directory once
the archives are gone, and that ``pyspark/version.py`` must equal the archive's
byte for byte. Otherwise ``sys.path`` stays as Spark set it. User
``--py-files`` archives are never dropped; the worker re-adds them per task.

Nothing may import pyspark before ``main`` has filtered ``sys.path``.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
import zipimport

_SPARK_ARCHIVE = re.compile(
    r"(?:^|/)python/lib/(?:pyspark\.zip|py4j-[^/]*-src\.zip)$"
    r"|(?:^|/)jars/spark-core_[^/]*\.jar$"
)


def _is_spark_archive(entry: str) -> bool:
    return _SPARK_ARCHIVE.search(entry.replace(os.sep, "/")) is not None


def _archive_member(archive: str, member: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as zf:
            return zf.read(member)
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _package_dir(package: str, entries: list[str]) -> str | None:
    """The directory ``package`` imports from on ``entries``, in path order;
    None when nothing provides it or an archive provides it first."""
    init = f"{package}/__init__.py"
    for entry in entries:
        pkg = os.path.join(entry, package)
        if os.path.isfile(os.path.join(pkg, "__init__.py")):
            return pkg
        if os.path.isfile(entry) and _archive_member(entry, init) is not None:
            return None
    return None


def strip_spark_archives(path: list[str]) -> list[str]:
    """``path`` without Spark's own pyspark/py4j/spark-core archives, or
    ``path`` itself unless the installed pyspark and py4j can stand in."""
    rest = [entry for entry in path if not _is_spark_archive(entry)]
    pyspark_zip = next(
        (e for e in path if _is_spark_archive(e) and os.path.basename(e) == "pyspark.zip"),
        None,
    )
    if pyspark_zip is None:
        return path
    pyspark_dir = _package_dir("pyspark", rest)
    if pyspark_dir is None or _package_dir("py4j", rest) is None:
        return path
    try:
        with open(os.path.join(pyspark_dir, "version.py"), "rb") as f:
            installed = f.read()
    except OSError:
        return path
    if installed != _archive_member(pyspark_zip, "pyspark/version.py"):
        return path
    return rest


def main() -> None:
    sys.path[:] = strip_spark_archives(sys.path)
    for entry, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[entry]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
