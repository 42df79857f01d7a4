"""Spec-conformant synthetic GeoTIFF generator (classic TIFF + BigTIFF).

Built from the public TIFF 6.0 / BigTIFF / GeoTIFF specs so the engine can
exercise REAL raster reads and COG conversions in environments without
GDAL and without committed binary fixtures: tests, perfbench's raster
corpus and the oracle-checked `scan_raster_header_real` / `sink_cog_real`
queries generate inputs deterministically at run time, so their expected
headers are plain arithmetic both engines can state up front. This module
builds the pixel blocks and tag lists; the container layout is
sources/tiff_writer.py's (data-first: header | blocks | values | IFD).

The grids mirror the reference's fixed-grid constants
(00b_extract_metadata_all.R:40-48): EPSG:5070, 90 m pixels, Float32,
top-left anchored at the reference extent origin.
"""

from __future__ import annotations

import zlib

from wri_data_processing_spark.sources.tiff_writer import geo_entries, tile_blocks, write_tiff

# Reference grid constants (00b_extract_metadata_all.R:40-48).
XMIN, YMAX = -5216639.669534829, 6199081.688
RES = 90.0
NCOLS, NROWS = 7, 5  # tiny default grid; extent math scales per spec


def _write_single_strip(path, en, width, height, epsg, bigtiff):
    """An all-zero Float32 raster in one uncompressed strip. The BigTIFF
    variant stores LONG8 offsets and leaves out Compression,
    PhotometricInterpretation and RowsPerStrip, so the reader's defaults
    (no compression, one strip) are exercised too."""
    entries = [
        (256, 3, (width,)),
        (257, 3, (height,)),
        (258, 3, (32,)),
        (277, 3, (1,)),
        (339, 3, (3,)),  # IEEE float
        *geo_entries(XMIN, YMAX, RES, RES, epsg),
    ]
    if not bigtiff:
        entries += [(259, 3, (1,)), (262, 3, (1,)), (278, 3, (height,))]
    ifd = (entries, [bytes(width * height * 4)], (273, 279, 16 if bigtiff else 4))
    write_tiff(path, [ifd], en=en, bigtiff=bigtiff, data_first=True)


def write_classic_geotiff(path, en="<", width=NCOLS, height=NROWS, epsg=5070):
    """Minimal spec-conformant single-strip Float32 GeoTIFF."""
    _write_single_strip(path, en, width, height, epsg, bigtiff=False)


def write_bigtiff_geotiff(path, en="<", width=NCOLS, height=NROWS, epsg=5070):
    """Same raster as a BigTIFF (magic 43, 8-byte counts/offsets)."""
    _write_single_strip(path, en, width, height, epsg, bigtiff=True)


_SAMPLE_FORMAT = {"u": 1, "i": 2, "f": 3}


def write_geotiff_grid(
    path,
    arr,
    *,
    en="<",
    bigtiff=False,
    tiled=False,
    predictor=1,
    tile=16,
    rows_per_strip=2,
    epsg=5070,
    compression="deflate",
):
    """In-the-wild GeoTIFF shape generator: every combination of
    {classic, BigTIFF} x {strips, tiles} x {predictor 1, 2, 3} x
    {Deflate, LZW}, either byte order, real pixel data from `arr`.

    GDAL-written files mix these freely (the reference's own settings sweep
    covers compression x predictor x blocksize x bigtiff,
    experiments/test_cog_settings_benchmark.R:38-44), so the pure-Python
    reader is property-tested against this full grid rather than only the
    single-strip uncompressed fixtures above.
    """
    import numpy as np

    from wri_data_processing_spark.sources import tiff_predictor

    arr = np.ascontiguousarray(np.asarray(arr).astype(np.dtype(arr.dtype).newbyteorder(en)))
    height, width = arr.shape
    bits = arr.dtype.itemsize * 8
    sample_format = _SAMPLE_FORMAT[arr.dtype.kind]

    # Compression blocks: padded tiles, or strips of rows_per_strip rows.
    if tiled:
        blocks = tile_blocks(arr, tile)
    else:
        blocks = [arr[r0 : r0 + rows_per_strip] for r0 in range(0, height, rows_per_strip)]
    if compression == "lzw":
        from wri_data_processing_spark.sources.tiff_lzw import lzw_encode

        payloads = [lzw_encode(tiff_predictor.encode(b, predictor)) for b in blocks]
        comp_tag = 5
    else:
        payloads = [zlib.compress(tiff_predictor.encode(b, predictor), 6) for b in blocks]
        comp_tag = 8

    entries = [
        (256, 3, (width,)),
        (257, 3, (height,)),
        (258, 3, (bits,)),
        (259, 3, (comp_tag,)),
        (262, 3, (1,)),
        (277, 3, (1,)),
        (339, 3, (sample_format,)),
        *geo_entries(XMIN, YMAX, RES, RES, epsg),
    ]
    if tiled:
        entries += [(322, 3, (tile,)), (323, 3, (tile,))]
        block_tags = (324, 325, 4)
    else:
        entries.append((278, 3, (rows_per_strip,)))
        block_tags = (273, 279, 4)
    if predictor != 1:
        entries.append((317, 3, (predictor,)))
    write_tiff(path, [(entries, payloads, block_tags)], en=en, bigtiff=bigtiff, data_first=True)
