"""Pure-Python 24-bit BMP codec: the REAL multimodal decode path.

The container has no image libraries (PIL etc.), so — matching the TIFF
precedent in sources/tiff_header.py / tiff_fixture.py — the engine ships a
from-the-public-spec codec for one simple raster format and EXECUTES it:
`multimodal_features_real` (queries/multimodal.py) writes real BMP bytes
with `write_bmp`, decodes them with `decode_bmp` inside the Arrow row-map
boundary (operators/row_map.py), and checks the recovered pixel statistics
against a VALUES oracle computed from independent arithmetic. A decode bug in any of
the format's three classic traps — 4-byte row padding, BGR byte order,
bottom-up row storage — shifts the statistics and fails the oracle.

Format (Windows BITMAPINFOHEADER, uncompressed 24-bit, the lowest common
denominator every tool reads):
  bytes 0-13   BITMAPFILEHEADER: 'BM', file size (u32le), 4 reserved,
               pixel-array offset (u32le, = 54 here)
  bytes 14-53  BITMAPINFOHEADER: size=40, width (i32le), height (i32le,
               POSITIVE => rows stored bottom-up), planes=1, bpp=24,
               compression=0, image size, 2x ppm resolution, 0 colors
  bytes 54-    pixel rows, each width*3 bytes of B,G,R padded with zeros
               to a multiple of 4; row 0 in the file is the BOTTOM image row

Reference parity: the reference's raster ingest (utils.R:175-214) reads
real container headers + pixels through GDAL; this is the same
read-real-bytes behavior for the multimodal (L5) column family,
re-expressed with a dependency-free codec.
"""

from __future__ import annotations

import struct

_HEADER_BYTES = 54  # 14 file header + 40 info header


def _row_stride(width: int) -> int:
    return (width * 3 + 3) & ~3


def write_bmp(width: int, height: int, pixel_fn) -> bytes:
    """Encode a 24-bit uncompressed BMP.

    ``pixel_fn(x, y) -> (r, g, b)`` is asked in IMAGE coordinates (x right,
    y DOWN from the top-left); the writer handles the format's bottom-up
    row order and BGR byte order itself, so the caller never sees them.
    """
    stride = _row_stride(width)
    size = _HEADER_BYTES + stride * height
    out = bytearray()
    out += struct.pack("<2sIHHI", b"BM", size, 0, 0, _HEADER_BYTES)
    out += struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       stride * height, 2835, 2835, 0, 0)
    pad = b"\x00" * (stride - width * 3)
    for y in range(height - 1, -1, -1):  # bottom image row first
        for x in range(width):
            r, g, b = pixel_fn(x, y)
            out += bytes((b & 0xFF, g & 0xFF, r & 0xFF))
        out += pad
    return bytes(out)


def decode_bmp(payload: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]]:
    """Decode a 24-bit uncompressed BMP to (width, height, rows of (r,g,b)).

    Rows come back in IMAGE order (row 0 = top). Raises ValueError on
    anything that is not a well-formed uncompressed 24-bit BMP — truncated
    payloads, wrong magic, unsupported bpp/compression — so callers can
    route bad media to a quarantine column instead of killing the job.
    """
    if len(payload) < _HEADER_BYTES:
        raise ValueError("truncated: no room for BMP headers")
    magic, _fsize, _r1, _r2, offset = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("bad magic")
    (isize, width, height, planes, bpp, comp, _imgsz, _xppm, _yppm, _ncol,
     _nimp) = struct.unpack_from("<IiiHHIIiiII", payload, 14)
    if isize < 40 or planes != 1:
        raise ValueError("unsupported info header")
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported format: bpp={bpp} compression={comp}")
    bottom_up = height > 0
    height = abs(height)
    if width <= 0 or height <= 0:
        raise ValueError("degenerate dimensions")
    stride = _row_stride(width)
    if len(payload) < offset + stride * height:
        raise ValueError("truncated pixel array")
    rows = []
    for iy in range(height):
        file_row = (height - 1 - iy) if bottom_up else iy
        base = offset + file_row * stride
        row = []
        for x in range(width):
            b, g, r = payload[base + 3 * x: base + 3 * x + 3]
            row.append((r, g, b))
        rows.append(row)
    return width, height, rows
