"""The snapshot store's metadata half (sources/snapshots.py), without Spark:
manifests round-trip, the pointer starts unset, and a failed swap leaves
the previous manifest and pointer readable."""

from __future__ import annotations

import os

import pytest

from wri_data_processing_spark.sources import snapshots


def _files_under(root) -> list[str]:
    return sorted(f for _dir, _dirs, files in os.walk(root) for f in files)


def test_manifest_round_trips(tmp_path):
    root = str(tmp_path)
    files = [f"{root}/base/part-{i:05d}.parquet" for i in range(3)]
    snapshots.write_manifest(root, "v1", files)
    assert snapshots.manifest(root, "v1") == files
    snapshots.write_manifest(root, "v1", files[:1])  # rewrite replaces
    assert snapshots.manifest(root, "v1") == files[:1]


def test_current_is_none_before_the_first_publish(tmp_path):
    root = str(tmp_path)
    assert snapshots.current(root) is None
    snapshots.publish(root, "v1")
    assert snapshots.current(root) == "v1"
    snapshots.publish(root, "v2")
    assert snapshots.current(root) == "v2"


def test_failed_swap_keeps_previous_state(tmp_path, monkeypatch):
    root = str(tmp_path)
    snapshots.write_manifest(root, "v1", ["a.parquet", "b.parquet"])
    snapshots.publish(root, "v1")

    def refuse(src, dst):
        raise OSError("replace refused")

    monkeypatch.setattr(snapshots.os, "replace", refuse)
    with pytest.raises(OSError):
        snapshots.publish(root, "v2")
    with pytest.raises(OSError):
        snapshots.write_manifest(root, "v1", ["c.parquet"])
    monkeypatch.undo()
    assert snapshots.current(root) == "v1"
    assert snapshots.manifest(root, "v1") == ["a.parquet", "b.parquet"]


def test_successful_writes_leave_no_temp_files(tmp_path):
    root = str(tmp_path)
    snapshots.write_manifest(root, "v1", ["a.parquet"])
    snapshots.write_manifest(root, "v2", ["a.parquet", "b.parquet"])
    snapshots.publish(root, "v1")
    snapshots.publish(root, "v2")
    assert _files_under(root) == ["_CURRENT", "v1.manifest", "v2.manifest"]


def test_expire_retires_the_manifest(tmp_path):
    root = str(tmp_path)
    snapshots.write_manifest(root, "v1", ["a.parquet"])
    snapshots.expire(root, "v1")
    with pytest.raises(FileNotFoundError):
        snapshots.manifest(root, "v1")
    assert _files_under(root) == ["v1.manifest.expired"]
