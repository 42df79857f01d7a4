"""The Python-worker daemon: workers import the installed pyspark, not Spark's archives."""

from __future__ import annotations

import os
import zipfile

import pytest

from wri_data_processing_spark import session
from wri_data_processing_spark.worker_daemon import strip_spark_archives

VERSION = b"__version__: str = '4.1.2'\n"


def test_session_workers_hold_no_zipimporter(spark):
    def report(batches):
        import importlib
        import sys
        import time
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        t = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t) * 1000
        zipimporters = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame(
            {"zipimporters": [zipimporters], "pyspark_file": [pyspark.__file__], "ms": [ms]}
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(report, "zipimporters long, pyspark_file string, ms double")
        .collect()[0]
    )
    assert row.zipimporters == 0
    assert os.path.isfile(row.pyspark_file), row.pyspark_file
    assert row.ms < 20, row.ms


def test_daemon_only_where_local_workers_import_the_engine(monkeypatch, tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert not session._workers_import_engine()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert session._workers_import_engine()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(root)
    assert session._workers_import_engine()


def _zip(path, members: dict[str, bytes]) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return str(path)


def _pkg(root, name: str, files: dict[str, bytes]) -> None:
    os.makedirs(root / name, exist_ok=True)
    for fname, data in {"__init__.py": b"", **files}.items():
        (root / name / fname).write_bytes(data)


@pytest.fixture
def layout(tmp_path):
    """A Spark home's archives, a user archive and a site-packages directory."""
    lib = tmp_path / "spark" / "python" / "lib"
    archives = [
        _zip(lib / "pyspark.zip", {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION}),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": b""}),
        _zip(
            tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar",
            {"org/apache/spark/SparkContext.class": b"\xca\xfe"},
        ),
    ]
    deps = _zip(tmp_path / "work" / "deps.zip", {"mylib/__init__.py": b""})
    site = tmp_path / "site-packages"
    site.mkdir()
    path = [str(tmp_path / "cwd"), *archives, deps, str(site)]
    return path, archives, deps, site


def test_filter_drops_spark_archives_and_keeps_user_zip(layout):
    path, archives, deps, site = layout
    _pkg(site, "pyspark", {"version.py": VERSION})
    _pkg(site, "py4j", {})
    out = strip_spark_archives(path)
    assert out == [p for p in path if p not in archives]
    assert deps in out


def test_filter_keeps_path_when_pyspark_is_only_in_the_archive(layout):
    path, _, _, site = layout
    _pkg(site, "py4j", {})
    assert strip_spark_archives(path) == path


def test_filter_keeps_path_when_py4j_is_only_in_the_archive(layout):
    path, _, _, site = layout
    _pkg(site, "pyspark", {"version.py": VERSION})
    assert strip_spark_archives(path) == path


def test_filter_keeps_path_when_versions_differ(layout):
    path, _, _, site = layout
    _pkg(site, "pyspark", {"version.py": b"__version__: str = '4.0.1'\n"})
    _pkg(site, "py4j", {})
    assert strip_spark_archives(path) == path


def test_filter_keeps_path_when_a_user_archive_provides_pyspark_first(layout, tmp_path):
    path, _, _, site = layout
    _pkg(site, "pyspark", {"version.py": VERSION})
    _pkg(site, "py4j", {})
    vendored = _zip(tmp_path / "work" / "vendored.zip", {"pyspark/__init__.py": b""})
    path = path[:-1] + [vendored, path[-1]]
    assert strip_spark_archives(path) == path
