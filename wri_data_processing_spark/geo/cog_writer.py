"""GDAL-free Cloud-Optimized GeoTIFF writer — a real, executed S6 sink.

The reference shells out to ``gdal_translate -of COG`` per file
(prototypes/01a_make_cog_one.R:50-55; options at 01a:26-31: DEFLATE
compression, 512 blocks, AVERAGE overview resampling). GDAL isn't
installable in this container, but the COG *layout* is public spec
(cogeo.org + TIFF 6.0), and every piece is expressible with numpy plus a
Deflate encoder:

- header-first layout: all IFDs up front (header region), pixel data after
  — the property that lets HTTP-range readers plan without scanning;
- internal tiling (TileWidth/TileLength/TileOffsets/TileByteCounts);
- Deflate (compression 8) per tile — the prototype's COMPRESS option. Each
  tile is a zlib stream at level 6 (GDAL's default ZLEVEL), encoded by
  libdeflate through ctypes when the shared library is installed (about 3x
  faster than zlib per 512x512 float32 tile, at the same ratio) and by
  stdlib zlib otherwise. Either stream decodes with ``zlib.decompress``,
  which is what the reader uses;
- an AVERAGE-resampled overview pyramid as reduced-resolution IFDs
  (NewSubfileType=1), halving until the level fits one tile — the same
  halving rule GDAL applies (observed 7 levels on the reference's
  52355x57865 grid, meta.json:99-142);
- GeoTIFF georeferencing (pixel scale, tiepoint, EPSG geokey) on IFD0.

This module builds the tiles, the overviews and each IFD's tag list; the
container layout (IFD entries, inline-or-offset values, classic vs BigTIFF
widths, GeoKeys) is sources/tiff_writer.py's, shared with the GeoTIFF
fixtures. Output verifies with sources/tiff_header.py (and with gdalinfo
where GDAL exists). Scale shape: one file per task via step01_cog's
mapInPandas fan-out — file-level parallelism, no shuffle.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import functools
import threading
import zlib

import numpy as np

from wri_data_processing_spark.sources import tiff_predictor
from wri_data_processing_spark.sources.tiff_header import read_geotiff_header, read_geotiff_pixels
from wri_data_processing_spark.sources.tiff_writer import geo_entries, tile_blocks, write_tiff

DEFAULT_TILE = 512  # prototypes/01a_make_cog_one.R:28 BLOCKSIZE=512


def _overview_levels(
    arr: np.ndarray, tile: int, resampling: str = "average"
) -> list[np.ndarray]:
    """Halving overview pyramid until a level fits in one tile.

    Resampling per the reference experiment's grid (test_cog_settings_
    benchmark.R:43): AVERAGE (prototype default, 01a:30) = nan-mean of each
    2x2 quad; NEAREST = top-left cell of each quad (GDAL's nearest picks one
    source cell per target cell)."""
    levels = []
    cur = arr
    while max(cur.shape) > tile:
        h, w = cur.shape
        if resampling == "nearest":
            cur = np.ascontiguousarray(cur[0::2, 0::2])
            levels.append(cur)
            continue
        ph, pw = h + (h % 2), w + (w % 2)
        padded = np.full((ph, pw), np.nan, dtype="f8")
        padded[:h, :w] = cur
        quads = np.stack(
            [padded[0::2, 0::2], padded[0::2, 1::2], padded[1::2, 0::2], padded[1::2, 1::2]]
        )
        import warnings

        with np.errstate(invalid="ignore"), warnings.catch_warnings():
            # all-NaN quads (nodata regions) legitimately average to NaN
            warnings.simplefilter("ignore", category=RuntimeWarning)
            cur = np.nanmean(quads, axis=0).astype(arr.dtype)
        levels.append(cur)
    return levels


_COMPRESSION_TAG = {"deflate": 8, "lzw": 5, "none": 1}


_DEFLATE_LEVEL = 6  # GDAL's default ZLEVEL


@functools.cache
def _libdeflate() -> ctypes.CDLL | None:
    """libdeflate, loaded once per process; None when it is not installed
    (the writer then falls back to stdlib zlib)."""
    name = ctypes.util.find_library("deflate")
    if name is None:
        return None
    try:
        lib = ctypes.CDLL(name)
    except OSError:
        return None
    lib.libdeflate_alloc_compressor.argtypes = [ctypes.c_int]
    lib.libdeflate_alloc_compressor.restype = ctypes.c_void_p
    lib.libdeflate_free_compressor.argtypes = [ctypes.c_void_p]
    lib.libdeflate_free_compressor.restype = None
    lib.libdeflate_zlib_compress_bound.argtypes = [ctypes.c_void_p, ctypes.c_size_t]
    lib.libdeflate_zlib_compress_bound.restype = ctypes.c_size_t
    lib.libdeflate_zlib_compress.argtypes = [
        ctypes.c_void_p,
        ctypes.c_char_p,
        ctypes.c_size_t,
        ctypes.c_void_p,
        ctypes.c_size_t,
    ]
    lib.libdeflate_zlib_compress.restype = ctypes.c_size_t
    return lib


class _Compressor:
    """One libdeflate compressor. A compressor holds mutable state and is not
    thread-safe, so each thread owns its own (one per Python worker)."""

    def __init__(self, lib: ctypes.CDLL) -> None:
        self._lib = lib
        self._ptr = lib.libdeflate_alloc_compressor(_DEFLATE_LEVEL)
        if not self._ptr:
            raise MemoryError("libdeflate_alloc_compressor failed")

    def __del__(self) -> None:
        if self._ptr:
            self._lib.libdeflate_free_compressor(self._ptr)

    def zlib_compress(self, raw: bytes) -> bytes:
        bound = self._lib.libdeflate_zlib_compress_bound(self._ptr, len(raw))
        out = ctypes.create_string_buffer(bound)
        n = self._lib.libdeflate_zlib_compress(self._ptr, raw, len(raw), out, bound)
        if n == 0:  # only when the output buffer is too small, which bound rules out
            raise RuntimeError("libdeflate_zlib_compress overflowed its bound")
        return ctypes.string_at(out, n)


_thread = threading.local()


def _deflate(raw: bytes) -> bytes:
    """TIFF compression 8: one zlib stream at level 6."""
    lib = _libdeflate()
    if lib is None:
        return zlib.compress(raw, _DEFLATE_LEVEL)
    comp = getattr(_thread, "compressor", None)
    if comp is None:
        comp = _thread.compressor = _Compressor(lib)
    return comp.zlib_compress(raw)


def _compress(raw: bytes, compression: str) -> bytes:
    if compression == "lzw":
        from wri_data_processing_spark.sources.tiff_lzw import lzw_encode

        return lzw_encode(raw)
    if compression == "none":
        return raw
    return _deflate(raw)


def write_cog(
    path: str,
    array: np.ndarray,
    *,
    xmin: float,
    ymax: float,
    res_x: float,
    res_y: float,
    epsg: int | None,
    tile: int = DEFAULT_TILE,
    en: str = "<",
    predictor: int = 1,
    compression: str = "deflate",
    bigtiff: bool = False,
    resampling: str = "average",
) -> dict:
    """Write a single-band float32 COG; returns a summary dict
    (n_overviews, n_tiles, bytes). `en` selects the container byte order
    (both are spec-legal; MM-order COGs round-trip through the reader the
    same as II); `predictor=3` enables the float horizontal-differencing
    stage before compression (tag 317); `compression` is "deflate" (the
    prototype's explicit option, 01a:27) or "lzw" (the GDAL COG default the
    production run produced, meta.json:32); `bigtiff=True` writes the
    8-byte-offset container — REQUIRED at the reference's layer size
    (~12 GB raw, 3-4 GB compressed; classic TIFF's 4-byte offsets overflow
    at 4 GB, SURVEY §6)."""
    arr = np.asarray(array, dtype="f4")
    levels = [arr] + _overview_levels(arr, tile, resampling)
    ifds = []
    for i, lv in enumerate(levels):
        entries = [
            (256, 4, (lv.shape[1],)),
            (257, 4, (lv.shape[0],)),
            (258, 3, (32,)),
            (259, 3, (_COMPRESSION_TAG[compression],)),
            (262, 3, (1,)),
            (277, 3, (1,)),
            (322, 3, (tile,)),
            (323, 3, (tile,)),
            (339, 3, (3,)),
        ]
        if i > 0:
            entries.append((254, 4, (1,)))  # NewSubfileType = reduced-resolution
        if predictor != 1:
            entries.append((317, 3, (predictor,)))
        if i == 0:
            entries += geo_entries(xmin, ymax, res_x, res_y, epsg)
        tiles = [
            _compress(tiff_predictor.encode(block.astype(en + "f4"), predictor), compression)
            for block in tile_blocks(lv, tile)
        ]
        ifds.append((entries, tiles, (324, 325, 16 if bigtiff else 4)))  # LONG8 vs LONG
    size = write_tiff(path, ifds, en=en, bigtiff=bigtiff, data_first=False)
    return {
        "n_overviews": len(levels) - 1,
        "n_tiles": sum(len(tiles) for _, tiles, _ in ifds),
        "bytes": size,
    }


def cog_convert(src: str, dst: str, tile: int = DEFAULT_TILE) -> None:
    """GDAL-free (src GeoTIFF) -> (dst COG) conversion: the executed
    in-process analog of gdal_translate -of COG (01b:92-104). Baseline-scope
    source decoding (see read_geotiff_pixels); raises on unreadable input so
    step01_cog records a failed-status row."""
    hdr = read_geotiff_header(src)
    arr = read_geotiff_pixels(src)
    write_cog(
        dst,
        arr,
        xmin=hdr["extent_xmin"],
        ymax=hdr["extent_ymax"],
        res_x=hdr["resolution_x"] or 1.0,
        res_y=hdr["resolution_y"] or 1.0,
        epsg=hdr["crs_epsg"],  # None => GeoKey directory omitted, not key 0
        tile=tile,
    )
