"""Step 01 — COG conversion (reference scripts/01b_make_cog_all.R).

The reference loops serially over metadata rows shelling out to
``gdal_translate -of COG`` per file (01b:92-104), with skip-if-exists and
missing-input guards. The Spark shape: per-row guards stay (they are
filesystem probes), conversion fans out across executors via mapInPandas —
file-level parallelism the reference never had — and each row yields a
status record so A1 status accounting is a plain groupBy.

The converter is injectable. With no converter given, ``gdal_translate``
runs when it is on PATH (options mirror prototypes/01a_make_cog_one.R:26-31:
DEFLATE, BLOCKSIZE=512, RESAMPLING=AVERAGE, NUM_THREADS); otherwise the
in-process writer ``geo.cog_writer.cog_convert`` encodes each file inside the
Python worker: numpy for the layout and overviews, libdeflate (through
ctypes; stdlib zlib where the library is missing) for the Deflate tiles.
tests/test_cog_writer.py runs that real converter end to end.

Scale notes: repartition(n_files / files_per_task) before converting; each
task converts its files one after another in its Python worker (or one
gdal_translate subprocess per file) — executor-core-bound, no shuffle. The
status aggregation is a 4-group count.
"""

from __future__ import annotations

import os
import subprocess
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# prototypes/01a_make_cog_one.R:26-31
DEFAULT_COG_OPTIONS = {
    "COMPRESS": "DEFLATE",
    "BLOCKSIZE": "512",
    "NUM_THREADS": "8",
    "RESAMPLING": "AVERAGE",
    "BIGTIFF": "YES",
    "OVERVIEWS": "IGNORE_EXISTING",
}

STATUS_SCHEMA = StructType(
    [
        StructField("cog_filename", StringType()),
        StructField("status", StringType()),  # written|skipped|missing|failed
        StructField("detail", StringType()),
    ]
)

Converter = Callable[[str, str], None]  # (src, dst) -> None, raises on failure


def gdal_translate_converter(options: dict[str, str] | None = None) -> Converter:
    """Real converter: gdal_translate subprocess (01b:92-104)."""
    opts = options or DEFAULT_COG_OPTIONS

    def convert(src: str, dst: str) -> None:  # pragma: no cover - needs GDAL
        cmd = ["gdal_translate", "-of", "COG"]
        for k, v in opts.items():
            cmd += ["-co", f"{k}={v}"]
        cmd += [src, dst]
        subprocess.run(cmd, check=True, capture_output=True)

    return convert


def step01_cog(
    meta: DataFrame, out_dir: str, converter: Converter | None = None
) -> DataFrame:
    """Convert every metadata row's raster to a COG; returns status rows.

    Guards (01b:78-89): missing input -> 'missing'; existing output ->
    'skipped' (resume safety); converter exception -> 'failed' with message
    (tolerate-and-log, one bad file never kills the batch).
    """
    if "filepath" not in meta.columns:  # 01b:56-58
        raise ValueError("Metadata missing 'filepath' column")
    if converter is None:
        import shutil

        if shutil.which("gdal_translate"):
            converter = gdal_translate_converter()
        else:
            # Executed GDAL-free path: in-process tiled+Deflate COG with
            # AVERAGE overviews (geo/cog_writer.py), baseline source scope.
            from wri_data_processing_spark.geo.cog_writer import cog_convert

            converter = cog_convert
    conv = converter

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for src, name in zip(pdf["filepath"], pdf["cog_filename"]):
                dst = os.path.join(out_dir, name)
                if not os.path.exists(src):
                    rows.append((name, "missing", None))
                    continue
                if os.path.exists(dst):
                    rows.append((name, "skipped", None))
                    continue
                try:
                    conv(src, dst)
                    rows.append((name, "written", None))
                except Exception as exc:
                    rows.append((name, "failed", str(exc)))
            yield pd.DataFrame(rows, columns=["cog_filename", "status", "detail"])

    return meta.select("filepath", "cog_filename").mapInPandas(run, STATUS_SCHEMA)


def status_counts(statuses: DataFrame) -> DataFrame:
    """A1 status accounting (01b:117-123)."""
    return statuses.groupBy("status").agg(F.count(F.lit(1)).alias("n"))
