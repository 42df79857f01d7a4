#!/usr/bin/env python
"""The reference's COG settings experiment, reproduced on the engine codec.

``experiments/test_cog_settings_benchmark.R:38-44`` sweeps GDAL creation
options over compress{LZW, DEFLATE, NONE} x predictor{YES, NO} x
blocksize{256, 512} x bigtiff{YES, NO} x resampling{AVERAGE, NEAREST}
(48 combos) and logs resulting file sizes to CSV (lines 98-99; no timings).
Now that write_cog supports every axis of that grid natively, the same
sweep runs against the pure-Python writer: one deterministic 400x320
float32 layer (smooth gradient + noise, NaN nodata hole — the value
structure predictors exploit), each combo written and re-read, logging
bytes + seconds + a round-trip check to ``cog_settings_log.csv``.

Usage: python experiments/cog_settings_benchmark.py
"""

from __future__ import annotations

import csv
import itertools
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from wri_data_processing_spark.geo.cog_writer import write_cog
from wri_data_processing_spark.sources.tiff_header import read_geotiff_pixels

GRID = {
    "compression": ["lzw", "deflate", "none"],
    "predictor": [3, 1],
    "tile": [256, 512],
    "bigtiff": [True, False],
    "resampling": ["average", "nearest"],
}


def make_layer(h: int = 400, w: int = 320) -> np.ndarray:
    rng = np.random.default_rng(42)
    yy, xx = np.mgrid[0:h, 0:w]
    arr = (np.sin(yy / 37.0) * 40 + xx / 9.0 + rng.normal(scale=0.6, size=(h, w))).astype("f4")
    arr[150:190, 100:140] = np.nan  # nodata hole, reference-style NaN nodata
    return arr


def main() -> None:
    arr = make_layer()
    log_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "cog_settings_log.csv")
    keys = list(GRID)
    with tempfile.TemporaryDirectory() as out_dir, open(log_path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow([*keys, "bytes", "sec", "n_overviews", "roundtrip_ok"])
        for combo in itertools.product(*GRID.values()):
            opts = dict(zip(keys, combo))
            path = os.path.join(out_dir, "bench.tif")
            t0 = time.perf_counter()
            info = write_cog(
                path, arr, xmin=0.0, ymax=400.0, res_x=1.0, res_y=1.0, epsg=5070, **opts
            )
            sec = time.perf_counter() - t0
            back = read_geotiff_pixels(path)
            ok = bool(np.array_equal(back.astype("f4"), arr, equal_nan=True))
            w.writerow([*combo, info["bytes"], round(sec, 4), info["n_overviews"], ok])
            print(opts, info["bytes"], round(sec, 4), ok)
    print(f"wrote {log_path}")


if __name__ == "__main__":
    main()
