"""Raster header scan (S2, reference scripts/R/utils.R:175-214).

The reference opens each GeoTIFF header-only via terra/GDAL (no pixel I/O)
and NEVER raises — failures become (success=FALSE, error=<msg>) rows. Here
the scan is one ``map_rows`` call (operators/row_map.py) over the path
listing: Arrow batches per partition, one GDAL handle at a time,
error-tolerant per row.

The GDAL call itself is injectable (``reader=``): rasterio when installed
(the real path on a cluster), otherwise callers supply a reader; the default
stub records a documented error row, preserving the tolerate-and-log
contract (utils.R:205-213) instead of crashing the job.

Scale notes: header reads are ~KB of I/O per file; with files.maxPartitionBytes
irrelevant (listing rows, not content), parallelism = listing partitions.
Repartition the listing to ~#executors*4 before scanning.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from wri_data_processing_spark.operators.row_map import map_rows

RASTER_HEADER_SCHEMA = StructType(
    [
        StructField("filepath", StringType()),
        StructField("filename", StringType()),
        StructField("file_size_bytes", LongType()),
        StructField("nrows", IntegerType()),
        StructField("ncols", IntegerType()),
        StructField("nlayers", IntegerType()),
        StructField("resolution_x", DoubleType()),
        StructField("resolution_y", DoubleType()),
        StructField("crs_epsg", IntegerType()),
        StructField("extent_xmin", DoubleType()),
        StructField("extent_xmax", DoubleType()),
        StructField("extent_ymin", DoubleType()),
        StructField("extent_ymax", DoubleType()),
        StructField("datatype", StringType()),
        StructField("success", BooleanType()),
        StructField("error", StringType()),
    ]
)

HeaderReader = Callable[[str], dict[str, Any]]


def _rasterio_reader(path: str) -> dict[str, Any]:  # pragma: no cover - needs rasterio
    """Real header read via rasterio (GDAL), mirroring utils.R:187-204."""
    import os

    import rasterio

    with rasterio.open(path) as r:
        epsg = r.crs.to_epsg() if r.crs else None
        return {
            "filepath": path,
            "filename": os.path.basename(path),
            "file_size_bytes": os.path.getsize(path),
            "nrows": r.height,
            "ncols": r.width,
            "nlayers": r.count,
            "resolution_x": abs(r.transform.a),
            "resolution_y": abs(r.transform.e),
            "crs_epsg": epsg,
            "extent_xmin": r.bounds.left,
            "extent_xmax": r.bounds.right,
            "extent_ymin": r.bounds.bottom,
            "extent_ymax": r.bounds.top,
            "datatype": str(r.dtypes[0]),
            "success": True,
            "error": None,
        }


def default_reader(path: str) -> dict[str, Any]:
    """Real header read: rasterio when installed, else the pure-Python
    GeoTIFF tag parser (sources/tiff_header.py) — the same fields with zero
    native dependencies. Both are genuinely header-only (no pixel I/O)."""
    try:
        return _rasterio_reader(path)
    except ImportError:
        from wri_data_processing_spark.sources.tiff_header import read_geotiff_header

        return read_geotiff_header(path)


def scan_raster_header(paths: DataFrame, reader: HeaderReader | None = None) -> DataFrame:
    """Header-only scan of a (path ...) DataFrame -> RASTER_HEADER_SCHEMA rows.

    Never raises per-row: any reader exception becomes success=FALSE + error
    (utils.R:205-213 semantics).
    """
    import os

    rd = reader or default_reader
    cols = [f.name for f in RASTER_HEADER_SCHEMA.fields]

    def header(path: str) -> list[tuple]:
        try:
            info = rd(path)
        except Exception as exc:  # tolerate-and-log, never raise
            info = {"filepath": path, "success": False, "error": str(exc)}
        info.setdefault("filename", os.path.basename(path))
        return [tuple(info.get(c) for c in cols)]

    return map_rows(paths.select("path"), header, RASTER_HEADER_SCHEMA)
