"""The TIFF container serializer of the engine's writers.

The on-disk layout of a TIFF 6.0 / BigTIFF file lives here: the header, the
image file directories (IFDs) and their 12- or 20-byte entries, the
inline-or-offset rule for tag values, the block offset and byte-count
arrays, and the GeoTIFF georeferencing tags. geo/cog_writer.py
(header-first COGs) and sources/tiff_fixture.py (data-first test and
benchmark rasters) build only their tag lists. The reader,
sources/tiff_header.py, shares nothing with this module, so the raster ops'
oracles check a layout that writer and reader parse independently.
"""

from __future__ import annotations

import struct

import numpy as np

_FMT = {3: "H", 4: "I", 12: "d", 16: "Q"}  # SHORT, LONG, DOUBLE, LONG8


def geokey_directory(epsg: int | None) -> tuple[int, ...]:
    """GeoKeyDirectoryTag values selecting the CRS key class from the EPSG range.

    Geographic 2-D codes (4001-4999, e.g. 4326) get GTModelTypeGeoKey=2 +
    GeographicTypeGeoKey (2048); everything else projected (=1) +
    ProjectedCSTypeGeoKey (3072). An unknown EPSG returns () — the GeoKey
    directory is OMITTED rather than writing key value 0, which is not a
    valid EPSG code (the spec reserves 32767 for user-defined, not 0).
    """
    if not epsg:
        return ()
    geographic = 4001 <= epsg <= 4999
    model = 2 if geographic else 1
    crs_key = 2048 if geographic else 3072
    return (1, 1, 0, 2, 1024, 0, 1, model, crs_key, 0, 1, epsg)


def geo_entries(
    xmin: float, ymax: float, res_x: float, res_y: float, epsg: int | None
) -> list[tuple[int, int, tuple]]:
    """ModelPixelScale, ModelTiepoint (pixel (0, 0) at the top-left corner)
    and, for a known EPSG, the GeoKey directory."""
    entries = [(33550, 12, (res_x, res_y, 0.0)), (33922, 12, (0, 0, 0, xmin, ymax, 0))]
    keys = geokey_directory(epsg)
    if keys:
        entries.append((34735, 3, keys))
    return entries


def tile_blocks(arr: np.ndarray, tile: int) -> list[np.ndarray]:
    """The tile x tile blocks of a 2-D array in row-major order, the edge
    tiles zero-padded as the spec requires."""
    h, w = arr.shape
    padded = np.zeros((-(-h // tile) * tile, -(-w // tile) * tile), dtype=arr.dtype)
    padded[:h, :w] = arr
    ys, xs = range(0, padded.shape[0], tile), range(0, padded.shape[1], tile)
    return [padded[y : y + tile, x : x + tile] for y in ys for x in xs]


def write_tiff(path: str, ifds: list, *, en: str, bigtiff: bool, data_first: bool) -> int:
    """Write a TIFF of one or more chained IFDs; returns the file size.

    Each IFD is ``(entries, blocks, (offsets_tag, counts_tag, type))``:
    ``entries`` are ``(tag, type, values)`` with type 3/4/12/16 (SHORT, LONG,
    DOUBLE, LONG8), ``blocks`` are the encoded strips or tiles, and the
    offsets and byte counts of those blocks are added here under the two
    tags with the given type. A value wider than the entry's value field
    (4 bytes, 8 in a BigTIFF) goes out of line, IFD by IFD and in tag order.
    ``data_first`` writes header | blocks | out-of-line values | IFDs;
    otherwise header | IFDs | out-of-line values | blocks, the header-first
    order a COG needs.
    """
    count_fmt, entry_fmt, off_fmt = ("Q", "HHQ", "Q") if bigtiff else ("H", "HHI", "I")
    cap = struct.calcsize(off_fmt)  # the entry's value field
    blocks = [b for _, bs, _ in ifds for b in bs]
    tagged = []  # per IFD: every entry in tag order, block offsets filled in once laid out
    for entries, ifd_blocks, (offsets_tag, counts_tag, typ) in ifds:
        counts = tuple(len(b) for b in ifd_blocks)
        tagged.append(sorted([*entries, (offsets_tag, typ, counts), (counts_tag, typ, counts)]))
    ifd_sizes = [struct.calcsize(en + count_fmt + (entry_fmt + off_fmt) * len(es) + off_fmt)
                 for es in tagged]
    value_sizes = [struct.calcsize(_FMT[typ]) * len(vals) for es in tagged for _, typ, vals in es]
    aux_size = sum(n for n in value_sizes if n > cap)
    data_size = sum(len(b) for b in blocks)
    header_size = 16 if bigtiff else 8
    if data_first:
        data_at, aux_at = header_size, header_size + data_size
        ifd_at = aux_at + aux_size
    else:
        ifd_at, aux_at = header_size, header_size + sum(ifd_sizes)
        data_at = aux_at + aux_size

    dirs, aux = [], []
    aux_pos, block_pos, next_ifd = aux_at, data_at, ifd_at
    for es, ifd_size, (_, ifd_blocks, (offsets_tag, _, _)) in zip(tagged, ifd_sizes, ifds):
        offsets = []
        for b in ifd_blocks:
            offsets.append(block_pos)
            block_pos += len(b)
        next_ifd += ifd_size
        out = [struct.pack(en + count_fmt, len(es))]
        for tag, typ, vals in es:
            vals = tuple(offsets) if tag == offsets_tag else vals
            raw = struct.pack(f"{en}{len(vals)}{_FMT[typ]}", *vals)
            if len(raw) > cap:
                aux.append(raw)
                raw = struct.pack(en + off_fmt, aux_pos)
                aux_pos += len(aux[-1])
            out.append(struct.pack(en + entry_fmt, tag, typ, len(vals)) + raw.ljust(cap, b"\0"))
        out.append(struct.pack(en + off_fmt, next_ifd if len(dirs) + 1 < len(tagged) else 0))
        dirs.append(b"".join(out))

    version = (43, 8, 0) if bigtiff else (42,)  # BigTIFF adds its offset size and a reserved 0
    header = struct.pack(en + "H" * len(version) + off_fmt, *version, ifd_at)
    with open(path, "wb") as f:
        f.write((b"II" if en == "<" else b"MM") + header)
        for chunk in [*blocks, *aux, *dirs] if data_first else [*dirs, *aux, *blocks]:
            f.write(chunk)
        return f.tell()
