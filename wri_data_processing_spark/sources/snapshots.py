"""The snapshot-table format: the one module that knows its on-disk layout.

A table root holds batch directories of parquet files, one ``<name>.manifest``
per snapshot (the sorted file paths it comprises, one a line) and a
``_CURRENT`` pointer naming the published snapshot. Batches are immutable
once a manifest lists them, so a snapshot read is a parquet scan of exactly
its listed files. Every manifest and pointer write goes to a temp file that
``os.replace`` swaps in (atomic on POSIX): a reader sees the old text or the
new, never a truncated one, and a failed commit leaves the previous state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_POINTER = "_CURRENT"


def _replace(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def write_batch(df: DataFrame, path: str) -> list[str]:
    """Write ``df`` as a batch directory (replacing one left by a replayed
    commit) and return its parquet files, sorted."""
    df.write.mode("overwrite").parquet(path)
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))


def write_manifest(root: str, name: str, files: list[str]) -> None:
    _replace(os.path.join(root, f"{name}.manifest"), "\n".join(files) + "\n")


def manifest(root: str, name: str) -> list[str]:
    """The files snapshot ``name`` lists, in manifest order."""
    with open(os.path.join(root, f"{name}.manifest")) as fh:
        return [line.strip() for line in fh if line.strip()]


def names(root: str) -> list[str]:
    """Every snapshot with a live manifest, sorted by name."""
    return sorted(f[: -len(".manifest")] for f in os.listdir(root) if f.endswith(".manifest"))


def read(spark: SparkSession, root: str, name: str) -> DataFrame:
    return spark.read.parquet(*manifest(root, name))


def publish(root: str, name: str) -> None:
    """Point ``_CURRENT`` at snapshot ``name``: one metadata swap."""
    _replace(os.path.join(root, _POINTER), name)


def current(root: str) -> str | None:
    """The published snapshot's name, or None before the first publish."""
    try:
        with open(os.path.join(root, _POINTER)) as fh:
            return fh.read().strip()
    except FileNotFoundError:
        return None


def expire(root: str, name: str) -> None:
    """Retire snapshot ``name``: its manifest is renamed out of reach."""
    path = os.path.join(root, f"{name}.manifest")
    os.replace(path, path + ".expired")
