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

Output verifies with sources/tiff_header.py (and with gdalinfo where GDAL
exists). Scale shape: one file per task via step01_cog's mapInPandas fan-out
— file-level parallelism, no shuffle.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import functools
import struct
import threading
import zlib

import numpy as np

from wri_data_processing_spark.sources.tiff_header import read_geotiff_header, read_geotiff_pixels

DEFAULT_TILE = 512  # prototypes/01a_make_cog_one.R:28 BLOCKSIZE=512


def _geokey_directory(en: str, epsg: int | None) -> bytes:
    """GeoKey directory selecting the CRS key class from the EPSG range.

    Geographic 2-D codes (4001-4999, e.g. 4326) get GTModelTypeGeoKey=2 +
    GeographicTypeGeoKey (2048); everything else projected (=1) +
    ProjectedCSTypeGeoKey (3072). An unknown EPSG returns b"" — the GeoKey
    directory is OMITTED rather than writing key value 0, which is not a
    valid EPSG code (the spec reserves 32767 for user-defined, not 0).
    """
    if not epsg:
        return b""
    geographic = 4001 <= epsg <= 4999
    model = 2 if geographic else 1
    crs_key = 2048 if geographic else 3072
    return struct.pack(en + "H" * 12, 1, 1, 0, 2, 1024, 0, 1, model, crs_key, 0, 1, epsg)


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


def _tile_bytes(
    arr: np.ndarray, tile: int, en: str, predictor: int = 1, compression: str = "deflate"
) -> tuple[list[bytes], int, int]:
    """Compressed row-major tiles (edge tiles zero-padded per spec),
    optionally predictor-transformed (3 = floating-point horizontal
    differencing, GDAL's PREDICTOR=YES for float bands). Compression is
    Deflate (the prototype's explicit COMPRESS option, 01a:27) or LZW (the
    GDAL COG default the production path actually produced, meta.json:32)."""
    from wri_data_processing_spark.sources import tiff_predictor

    h, w = arr.shape
    down, across = (h + tile - 1) // tile, (w + tile - 1) // tile
    padded = np.zeros((down * tile, across * tile), dtype=arr.dtype)
    padded[:h, :w] = arr
    out = []
    for ty in range(down):
        for tx in range(across):
            block = padded[ty * tile : (ty + 1) * tile, tx * tile : (tx + 1) * tile]
            raw = tiff_predictor.encode(block.astype(en + "f4"), predictor)
            out.append(_compress(raw, compression))
    return out, across, down


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

    # Compress everything first so IFDs can carry exact offsets/counts.
    level_tiles = [_tile_bytes(lv, tile, en, predictor, compression) for lv in levels]

    # Container arithmetic: classic vs BigTIFF (header / IFD-entry / offset
    # field widths are the ONLY differences; layout order is identical).
    off_type = 16 if bigtiff else 4  # LONG8 vs LONG for tile offset/count arrays
    off_fmt = "Q" if bigtiff else "I"
    inline_cap = 8 if bigtiff else 4
    header_sz = 16 if bigtiff else 8
    ifd_head_sz = 8 if bigtiff else 2
    entry_sz = 20 if bigtiff else 12
    next_ptr_sz = 8 if bigtiff else 4
    cnt_fmt = "HHQ" if bigtiff else "HHI"

    scale = struct.pack(en + "ddd", res_x, res_y, 0.0)
    tiepoint = struct.pack(en + "dddddd", 0, 0, 0, xmin, ymax, 0)
    geokeys = _geokey_directory(en, epsg)

    def ifd_entries(i: int, lv: np.ndarray, ntiles: int) -> list[tuple[int, int, int]]:
        # (tag, type, count); values resolved in the layout pass
        e = []
        if i > 0:
            e.append((254, 4, 1))  # NewSubfileType = reduced-resolution
        e += [
            (256, 4, 1),
            (257, 4, 1),
            (258, 3, 1),
            (259, 3, 1),
            (262, 3, 1),
            (277, 3, 1),
            (322, 3, 1),
            (323, 3, 1),
            (324, off_type, ntiles),
            (325, off_type, ntiles),
            (339, 3, 1),
        ]
        if predictor != 1:
            e.append((317, 3, 1))
        if i == 0:
            e += [(33550, 12, 3), (33922, 12, 6)]
            if geokeys:
                e.append((34735, 3, len(geokeys) // 2))
        return sorted(e)

    _TYPE_SIZE = {3: 2, 4: 4, 12: 8, 16: 8}

    # Layout: header | IFDs | out-of-line arrays | tile data.
    ifd_sizes = [
        ifd_head_sz + entry_sz * len(ifd_entries(i, lv, len(t[0]))) + next_ptr_sz
        for i, (lv, t) in enumerate(zip(levels, level_tiles))
    ]
    ifd_offs = []
    pos = header_sz
    for s in ifd_sizes:
        ifd_offs.append(pos)
        pos += s
    # Out-of-line value region
    item = _TYPE_SIZE[off_type]
    aux: dict[tuple[int, int], int] = {}  # (level, tag) -> offset
    for i, (lv, (tiles, across, down)) in enumerate(zip(levels, level_tiles)):
        n = len(tiles)
        if n > 1:
            aux[(i, 324)] = pos
            pos += item * n
            aux[(i, 325)] = pos
            pos += item * n
        if i == 0:
            aux[(0, 33550)] = pos
            pos += len(scale)
            aux[(0, 33922)] = pos
            pos += len(tiepoint)
            if geokeys:
                aux[(0, 34735)] = pos
                pos += len(geokeys)
    # Tile data region
    tile_offsets: list[list[int]] = []
    for tiles, _, _ in level_tiles:
        offs = []
        for t in tiles:
            offs.append(pos)
            pos += len(t)
        tile_offsets.append(offs)

    def value_for(i: int, tag: int, tiles: list[bytes]) -> tuple:
        lv = levels[i]
        return {
            254: (1,),
            256: (lv.shape[1],),
            257: (lv.shape[0],),
            258: (32,),
            259: (_COMPRESSION_TAG[compression],),
            262: (1,),
            277: (1,),
            317: (predictor,),
            322: (tile,),
            323: (tile,),
            324: tuple(tile_offsets[i]),
            325: tuple(len(t) for t in tiles),
            339: (3,),
            33550: (),  # written from the aux region
            33922: (),
            34735: (),
        }[tag]

    fmt_of = {3: "H", 4: "I", 12: "d", 16: "Q"}
    with open(path, "wb") as f:
        bom = b"II" if en == "<" else b"MM"
        if bigtiff:
            f.write(bom + struct.pack(en + "HHH", 43, 8, 0) + struct.pack(en + "Q", ifd_offs[0]))
        else:
            f.write(bom + struct.pack(en + "HI", 42, ifd_offs[0]))
        for i, (lv, (tiles, across, down)) in enumerate(zip(levels, level_tiles)):
            entries = ifd_entries(i, lv, len(tiles))
            f.write(struct.pack(en + ("Q" if bigtiff else "H"), len(entries)))
            for tag, typ, cnt in entries:
                f.write(struct.pack(en + cnt_fmt, tag, typ, cnt))
                size = _TYPE_SIZE[typ] * cnt
                if tag in (33550, 33922, 34735):
                    f.write(struct.pack(en + off_fmt, aux[(i, tag)]))
                elif size <= inline_cap:
                    vals = value_for(i, tag, tiles)
                    b = struct.pack(en + fmt_of[typ] * cnt, *vals)
                    f.write(b + b"\x00" * (inline_cap - len(b)))
                else:
                    f.write(struct.pack(en + off_fmt, aux[(i, tag)]))
            next_off = ifd_offs[i + 1] if i + 1 < len(ifd_offs) else 0
            f.write(struct.pack(en + off_fmt, next_off))
        # aux arrays, in the same order offsets were assigned
        for i, (tiles, _, _) in enumerate(level_tiles):
            n = len(tiles)
            if n > 1:
                f.write(struct.pack(en + off_fmt * n, *tile_offsets[i]))
                f.write(struct.pack(en + off_fmt * n, *(len(t) for t in tiles)))
            if i == 0:
                f.write(scale + tiepoint + geokeys)
        for tiles, _, _ in level_tiles:
            for t in tiles:
                f.write(t)
        total = f.tell()

    return {
        "n_overviews": len(levels) - 1,
        "n_tiles": sum(len(t[0]) for t in level_tiles),
        "bytes": total,
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
