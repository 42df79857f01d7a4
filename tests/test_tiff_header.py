"""Executed S2 header reads: pure-Python GeoTIFF parser against hand-built
fixtures.

The fixtures are written byte-by-byte from the TIFF 6.0 / BigTIFF / GeoTIFF
specs (no GDAL anywhere), covering: classic little-endian, classic
big-endian, BigTIFF, out-of-line and inline tag values, the
ModelTransformation alternative to scale+tiepoint, and corrupt inputs.
The end-to-end test drives the real scan_raster_header row-map path
with the DEFAULT reader — the executed production path, not an injected
stub — and checks the reference grid constants round-trip
(utils.R:175-214 field-for-field).
"""

from __future__ import annotations

import struct

import pytest

from wri_data_processing_spark.sources.tiff_fixture import (
    NCOLS,
    NROWS,
    RES,
    XMIN,
    YMAX,
    write_bigtiff_geotiff,
    write_classic_geotiff,
)
from wri_data_processing_spark.sources.tiff_header import read_geotiff_header


def _check_header(h):
    assert h["success"] is True and h["error"] is None
    assert (h["ncols"], h["nrows"], h["nlayers"]) == (NCOLS, NROWS, 1)
    assert h["datatype"] == "float32"
    assert h["crs_epsg"] == 5070
    assert h["resolution_x"] == h["resolution_y"] == RES
    assert h["extent_xmin"] == pytest.approx(XMIN)
    assert h["extent_ymax"] == pytest.approx(YMAX)
    assert h["extent_xmax"] == pytest.approx(XMIN + NCOLS * RES)
    assert h["extent_ymin"] == pytest.approx(YMAX - NROWS * RES)


@pytest.mark.parametrize("en", ["<", ">"])
def test_classic_both_byte_orders(tmp_path, en):
    p = str(tmp_path / f"layer_{'le' if en == '<' else 'be'}.tif")
    write_classic_geotiff(p, en=en)
    _check_header(read_geotiff_header(p))


@pytest.mark.parametrize("en", ["<", ">"])
def test_bigtiff_both_byte_orders(tmp_path, en):
    p = str(tmp_path / "layer_big.tif")
    write_bigtiff_geotiff(p, en=en)
    _check_header(read_geotiff_header(p))


def test_model_transformation_variant(tmp_path):
    """ModelTransformationTag instead of scale+tiepoint: same extent."""
    p = str(tmp_path / "layer_xform.tif")
    en = "<"
    pixels = b"\x00" * (NCOLS * NROWS * 4)
    m = [RES, 0, 0, XMIN, 0, -RES, 0, YMAX, 0, 0, 0, 0, 0, 0, 0, 1]
    xform = struct.pack(en + "d" * 16, *m)
    keys = struct.pack(en + "H" * 12, 1, 1, 0, 2, 1024, 0, 1, 1, 3072, 0, 1, 5070)
    data_off = 8
    xform_off = data_off + len(pixels)
    keys_off = xform_off + len(xform)
    ifd_off = keys_off + len(keys)

    def inline(fmt, *vals):
        b = struct.pack(en + fmt, *vals)
        return b + b"\x00" * (4 - len(b))

    entries = [
        (256, 3, 1, inline("H", NCOLS)),
        (257, 3, 1, inline("H", NROWS)),
        (258, 3, 1, inline("H", 32)),
        (273, 4, 1, inline("I", data_off)),
        (277, 3, 1, inline("H", 1)),
        (279, 4, 1, inline("I", len(pixels))),
        (339, 3, 1, inline("H", 3)),
        (34264, 12, 16, struct.pack(en + "I", xform_off)),
        (34735, 3, 12, struct.pack(en + "I", keys_off)),
    ]
    ifd = struct.pack(en + "H", len(entries))
    for tag, typ, cnt, val in entries:
        ifd += struct.pack(en + "HHI", tag, typ, cnt) + val
    ifd += struct.pack(en + "I", 0)
    with open(p, "wb") as f:
        f.write(b"II" + struct.pack(en + "HI", 42, ifd_off))
        f.write(pixels + xform + keys + ifd)
    _check_header(read_geotiff_header(p))


def test_not_a_tiff_raises(tmp_path):
    p = tmp_path / "not_a.tif"
    p.write_bytes(b"PK\x03\x04 definitely a zip")
    with pytest.raises(ValueError, match="byte-order"):
        read_geotiff_header(str(p))


def test_truncated_tiff_raises(tmp_path):
    p = tmp_path / "trunc.tif"
    p.write_bytes(b"II" + struct.pack("<HI", 42, 9999))  # IFD offset past EOF
    with pytest.raises(ValueError, match="truncated"):
        read_geotiff_header(str(p))


def test_scan_raster_header_default_reader_end_to_end(spark, tmp_path):
    """The production row-map path with the DEFAULT reader over a mixed
    directory: two valid rasters and one corrupt file -> error ROW, not a
    crashed job (utils.R:205-213 semantics)."""
    from wri_data_processing_spark.sources.raster import scan_raster_header

    good1 = str(tmp_path / "a.tif")
    good2 = str(tmp_path / "b_big.tif")
    bad = str(tmp_path / "broken.tif")
    write_classic_geotiff(good1)
    write_bigtiff_geotiff(good2, en=">")
    with open(bad, "wb") as f:
        f.write(b"II*\x00garbage")

    paths = spark.createDataFrame([(good1,), (good2,), (bad,)], "path string")
    rows = {r["filepath"]: r.asDict() for r in scan_raster_header(paths).collect()}

    for p in (good1, good2):
        assert rows[p]["success"] is True
        assert rows[p]["crs_epsg"] == 5070
        assert rows[p]["nrows"] == NROWS and rows[p]["ncols"] == NCOLS
        assert rows[p]["datatype"] == "float32"
    assert rows[bad]["success"] is False
    assert rows[bad]["error"]  # named cause, job survived
