"""Geospatial-core queries (SURVEY.md §2.9) over synthesized grid data.

The driver testdata has no raster tables, so these queries synthesize the
reference's data shapes deterministically from the star schema (same
derivation on both sides):

- validate_assumptions : layer metadata rows derived from part, pushed
  through the exact 00b:105-141 first-error cascade.
- geo_overview_pyramid : a 64x64 cell grid derived from lineitem, halved one
  level with AVERAGE resampling (the G3 building block; the COG writer,
  geo/cog_writer.py, builds the full overview pyramid).
- geo_reproject_bbox   : rows-only (pandas-UDF edge; no SQL oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.geo.reproject import with_stac_spatial
from wri_data_processing_spark.operators.validate import GridExpectations, validate_assumptions
from wri_data_processing_spark.registry import query

_EXP = GridExpectations()

# Same synthetic layer metadata on both sides: mostly-valid rows with seeded
# CRS / resolution / extent violations (FIXTURES.md A1 generator notes).
_LAYERS_SQL = f"""
  SELECT p_partkey,
    CASE WHEN p_partkey % 37 = 0 THEN 4326
         WHEN p_partkey % 37 = 1 THEN NULL
         ELSE 5070 END AS crs_epsg,
    CASE WHEN p_partkey % 41 = 0 THEN 90.1
         WHEN p_partkey % 41 = 1 THEN 90.00001
         ELSE 90.0 END AS resolution_x,
    90.0 AS resolution_y,
    CASE WHEN p_partkey % 43 = 0 THEN {_EXP.xmin} + 100.0 ELSE {_EXP.xmin} END AS extent_xmin,
    {_EXP.xmax} AS extent_xmax,
    {_EXP.ymin} AS extent_ymin,
    {_EXP.ymax} AS extent_ymax
  FROM part
"""


def _layers_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    return p.select(
        "p_partkey",
        F.when(k % 37 == 0, F.lit(4326))
        .when(k % 37 == 1, F.lit(None))
        .otherwise(F.lit(5070))
        .cast("int")
        .alias("crs_epsg"),
        F.when(k % 41 == 0, F.lit(90.1))
        .when(k % 41 == 1, F.lit(90.00001))
        .otherwise(F.lit(90.0))
        .alias("resolution_x"),
        F.lit(90.0).alias("resolution_y"),
        F.when(k % 43 == 0, F.lit(_EXP.xmin + 100.0)).otherwise(F.lit(_EXP.xmin)).alias(
            "extent_xmin"
        ),
        F.lit(_EXP.xmax).alias("extent_xmax"),
        F.lit(_EXP.ymin).alias("extent_ymin"),
        F.lit(_EXP.ymax).alias("extent_ymax"),
    )


@query(
    "validate_assumptions",
    oracle=f"""
    WITH layers AS ({_LAYERS_SQL}),
    checked AS (
      SELECT p_partkey,
        CASE
          WHEN crs_epsg IS NULL THEN 'EPSG is NA'
          WHEN crs_epsg != {_EXP.epsg} THEN 'EPSG mismatch (' || crs_epsg || ')'
          WHEN NOT (abs(resolution_x - {_EXP.res_x}) <= 1e-6 * greatest(abs({_EXP.res_x}), 1.0)
                AND abs(resolution_y - {_EXP.res_y}) <= 1e-6 * greatest(abs({_EXP.res_y}), 1.0))
            THEN 'Resolution mismatch'
          WHEN NOT (abs(extent_xmin - ({_EXP.xmin})) <= 1e-6 * greatest(abs({_EXP.xmin}), 1.0)
                AND abs(extent_xmax - ({_EXP.xmax})) <= 1e-6 * greatest(abs({_EXP.xmax}), 1.0)
                AND abs(extent_ymin - ({_EXP.ymin})) <= 1e-6 * greatest(abs({_EXP.ymin}), 1.0)
                AND abs(extent_ymax - ({_EXP.ymax})) <= 1e-6 * greatest(abs({_EXP.ymax}), 1.0))
            THEN 'Extent mismatch'
        END AS assumption_error
      FROM layers
    )
    SELECT (assumption_error IS NULL) AS passes_assumptions,
           assumption_error, COUNT(*) AS n
    FROM checked GROUP BY 1, 2
    """,
)
def validate_assumptions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    layers = _layers_df(spark, sf_dir)
    return (
        validate_assumptions(layers)
        .groupBy("passes_assumptions", "assumption_error")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "geo_overview_pyramid",
    oracle="""
    WITH base AS (
      SELECT l_returnflag AS layer_id,
             CAST(l_orderkey % 64 AS BIGINT) AS x,
             CAST(l_suppkey % 64 AS BIGINT) AS y,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) AS s,
             COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2, 3
    )
    SELECT layer_id, x // 2 AS x, y // 2 AS y,
           CAST(SUM(s) AS DOUBLE) / SUM(n) AS val,
           COUNT(*) AS n_children
    FROM base GROUP BY 1, 2, 3
    """,
)
def geo_overview_pyramid_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One halving level, WEIGHTED average (exact decimal sums carried up).

    GDAL AVERAGE averages the 4 child CELL values unweighted; carrying exact
    (sum, count) up the pyramid instead gives the true mean of underlying
    cells AND is order-independent (bit-identical vs the oracle). The
    unweighted GDAL-parity variant is the COG writer's overview pyramid
    (geo/cog_writer.py::_overview_levels).
    """
    l = table(spark, sf_dir, "lineitem")
    base = (
        l.groupBy(
            F.col("l_returnflag").alias("layer_id"),
            (F.col("l_orderkey") % 64).alias("x"),
            (F.col("l_suppkey") % 64).alias("y"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        base.groupBy(
            "layer_id",
            F.floor(F.col("x") / 2).alias("x"),
            F.floor(F.col("y") / 2).alias("y"),
        )
        .agg(
            (F.sum("s").cast("double") / F.sum("n")).alias("val"),
            F.count(F.lit(1)).alias("n_children"),
        )
    )


# The 64x64 grid is fully covered at every driver SF (thousands of rows per
# returnflag onto 4096 cells), and dims are FORCED via shape= so the output
# is arithmetic: 64x64 base + 2 halvings to 16 (= tile), tiles 16+4+1.
_COG_PIPE_VALUES = ", ".join(
    f"('{flag}', 64, 64, 2, 21, TRUE)" for flag in ("A", "N", "R")
)


@query(
    "geo_layer_cog_pipeline",
    oracle=f"""
    SELECT layer_id, nrows, ncols, n_overviews, n_tiles, success
    FROM (VALUES {_COG_PIPE_VALUES})
      AS t(layer_id, nrows, ncols, n_overviews, n_tiles, success)
    """,
)
def geo_layer_cog_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end raster pipeline: lineitem-derived cell table -> one REAL
    tiled+Deflate+overview COG per layer via the distributed applyInPandas
    sink (geo/raster_pipeline.py) -> per-layer write summaries. The executed
    Spark reshape of the reference's 00b->01b chain on synthetic grids.

    Oracle independence: the VALUES rows are derived BY HAND from the COG
    layout spec — 64x64 at 16-px tiles gives 16 + 4 + 1 = 21 tiles across
    base + the 32- and 16-px overviews — never from running the sink; the
    artifact's pixel/byte correctness is the tiff test suite's job."""
    from wri_data_processing_spark.geo.raster_pipeline import write_layer_cogs
    from wri_data_processing_spark.queries.io_ops import _scratch_dir

    out_dir = _scratch_dir("geo_cog_pipe", sf_dir)
    l = table(spark, sf_dir, "lineitem")
    cells = l.groupBy(
        F.col("l_returnflag").alias("layer_id"),
        (F.col("l_orderkey") % 64).alias("x"),
        (F.col("l_suppkey") % 64).alias("y"),
    ).agg(F.avg("l_quantity").alias("val"))
    statuses = write_layer_cogs(
        cells,
        out_dir,
        xmin=_EXP.xmin,
        ymax=_EXP.ymax,
        res=90.0,
        epsg=5070,
        tile=16,
        shape=(64, 64),
    )
    return statuses.select(
        "layer_id", "nrows", "ncols", "n_overviews", "n_tiles", "success"
    )


def _round6_col(c: F.Column) -> F.Column:
    """floor(x*1e6 + 0.5)/1e6 — same IEEE ops as the Python precompute below
    (F.round is avoided: Spark HALF_UP disagrees with Python at midpoints)."""
    return F.floor(c * 1e6 + F.lit(0.5)) / 1e6


def _round6(x: float) -> float:
    import math as _math

    return _math.floor(x * 1e6 + 0.5) / 1e6


def _expected_bbox_values() -> str:
    """Precompute WGS84 bboxes for the two distinct synthetic extents at
    registration time, through the SAME extent_bbox_arrays code path the
    executor UDF runs (geo/reproject.py) — the scan_raster_header_real
    VALUES-oracle pattern (io_ops.py) applied to reprojection."""
    import numpy as np

    from wri_data_processing_spark.geo.reproject import extent_bbox_arrays

    xmins = [_EXP.xmin, _EXP.xmin + 100.0]
    lo_lon, lo_lat, hi_lon, hi_lat = extent_bbox_arrays(
        np.array(xmins),
        np.array([_EXP.xmax] * 2),
        np.array([_EXP.ymin] * 2),
        np.array([_EXP.ymax] * 2),
    )
    rows = ", ".join(
        f"({x!r}, {_round6(a)!r}, {_round6(b)!r}, {_round6(c)!r}, {_round6(d)!r})"
        for x, a, b, c, d in zip(xmins, lo_lon, lo_lat, hi_lon, hi_lat)
    )
    return rows


@query(
    "geo_reproject_bbox_vals",
    oracle=f"""
    SELECT src_xmin, bbox_xmin, bbox_ymin, bbox_xmax, bbox_ymax
    FROM (VALUES {_expected_bbox_values()})
      AS t(src_xmin, bbox_xmin, bbox_ymin, bbox_xmax, bbox_ymax)
    """,
)
def geo_reproject_bbox_vals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-proven reprojection (VERDICT r4 item 4): distinct synthetic
    extents -> EPSG:4326 bbox corners, rounded to 1e-6 deg as scalars,
    against registration-time expected values from the same transform core.

    Oracle boundary: expected corners come from the SAME transform core at
    registration time, so this row alone pins determinism, not truth; the
    transform itself is proven independently against the reference's
    committed golden STAC bbox (tests/test_reference_parity.py::
    test_reproject_matches_reference_bbox).
    """
    variants = (
        _layers_df(spark, sf_dir)
        .select("extent_xmin", "extent_xmax", "extent_ymin", "extent_ymax")
        .distinct()
    )
    out = with_stac_spatial(variants)
    return out.select(
        F.col("extent_xmin").alias("src_xmin"),
        _round6_col(F.element_at("bbox", 1)).alias("bbox_xmin"),
        _round6_col(F.element_at("bbox", 2)).alias("bbox_ymin"),
        _round6_col(F.element_at("bbox", 3)).alias("bbox_xmax"),
        _round6_col(F.element_at("bbox", 4)).alias("bbox_ymax"),
    )


@query("geo_reproject_bbox")  # rows-only: pandas-UDF boundary op, no SQL oracle
def geo_reproject_bbox_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproject synthesized layer extents; returns bbox corners + GeoJSON ring.

    The bbox is emitted as four scalar double columns (not array<double>):
    driver rows-only checks hash result cells, and list cells are unhashable.
    """
    layers = _layers_df(spark, sf_dir).limit(100)
    out = with_stac_spatial(layers)
    return out.select(
        "p_partkey",
        F.element_at("bbox", 1).alias("bbox_xmin"),
        F.element_at("bbox", 2).alias("bbox_ymin"),
        F.element_at("bbox", 3).alias("bbox_xmax"),
        F.element_at("bbox", 4).alias("bbox_ymax"),
        F.col("geometry.type").alias("geom_type"),
        F.to_json("geometry").alias("geometry_json"),
    )


_CELLS_CTE = """
    cells AS (
      SELECT l_returnflag AS layer_id,
             CAST(l_orderkey % 64 AS BIGINT) AS x,
             CAST(l_suppkey % 64 AS BIGINT) AS y,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) AS s,
             COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2, 3
    )
"""


def _cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic lineitem-derived 64x64 cell table used by the
    pyramid/COG pipeline: (layer_id, x, y, s: exact decimal sum, n)."""
    l = table(spark, sf_dir, "lineitem")
    return l.groupBy(
        F.col("l_returnflag").alias("layer_id"),
        (F.col("l_orderkey") % 64).alias("x"),
        (F.col("l_suppkey") % 64).alias("y"),
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "geo_zonal_stats",
    oracle=f"""
    WITH {_CELLS_CTE}
    SELECT layer_id, x // 8 AS zone_x, y // 8 AS zone_y,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(s) AS DOUBLE) / SUM(n) AS zone_mean,
           MIN(CAST(s AS DOUBLE) / n) AS min_cell,
           MAX(CAST(s AS DOUBLE) / n) AS max_cell
    FROM cells GROUP BY 1, 2, 3
    """,
)
def geo_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics over the raster cell table: per 8x8 grid zone and
    layer, cell count, the TRUE mean of underlying values (exact decimal
    sums carried to one final division — the geo_overview_pyramid
    discipline, so summation order can never flip a bit), and min/max cell
    value (a single decimal->double cast + division per cell, no float
    accumulation).

    This is the raster-analytics workhorse (mean NDVI per district, mean
    elevation per watershed): at 100 TB the cell table is partitioned by
    layer/tile, the zone key is a pure projection of cell coordinates, and
    the aggregation is one map-side-combined shuffle keyed (layer, zone) —
    no polygon machinery needed for grid-aligned zones; arbitrary-polygon
    zones swap the zone-id projection for a broadcast point-in-polygon
    stage and keep the identical aggregation.
    """
    c = _cells(spark, sf_dir)
    cell_val = F.col("s").cast("double") / F.col("n")
    return c.groupBy(
        "layer_id",
        F.floor(F.col("x") / 8).alias("zone_x"),
        F.floor(F.col("y") / 8).alias("zone_y"),
    ).agg(
        F.count(F.lit(1)).alias("n_cells"),
        (F.sum("s").cast("double") / F.sum("n")).alias("zone_mean"),
        F.min(cell_val).alias("min_cell"),
        F.max(cell_val).alias("max_cell"),
    )


@query(
    "geo_focal_mean",
    oracle=f"""
    WITH {_CELLS_CTE},
    offs AS (SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                                        (1,-1),(1,0),(1,1)) o(dx, dy)),
    scatter AS (
      SELECT layer_id, x + dx AS tx, y + dy AS ty, s, n
      FROM cells, offs
      WHERE x + dx BETWEEN 0 AND 63 AND y + dy BETWEEN 0 AND 63
    )
    SELECT layer_id, tx AS x, ty AS y,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           CAST(SUM(s) AS DOUBLE) / SUM(n) AS focal_mean
    FROM scatter GROUP BY 1, 2, 3
    """,
)
def geo_focal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 focal (moving-window) mean over the cell table — the raster
    smoothing/convolution primitive (focal statistics, hillshade inputs),
    as a SCATTER: each cell explodes to the <= 9 target positions it
    contributes to, then one (layer, x, y) aggregation sums the exact
    decimal (s, n) pairs. Edge cells simply receive fewer contributions
    (n_neighbors < 9), matching the bounded-grid semantics.

    Scatter + groupBy beats a 9-way self-join at any scale: one exchange
    keyed by target cell instead of nine hash probes per cell, and the
    explode is a constant-width array literal (JVM-side, no Python). At
    100 TB the cell table is tile-partitioned, so all nine contributions
    to a target land in the same partition except across one-cell tile
    borders — the same halo pattern every distributed raster engine ships.

    Oracle independence: the only VALUES block is the constant 3x3 offset
    grid (structure, not results); the oracle recomputes the scatter-sum
    itself from the base tables.
    """
    c = _cells(spark, sf_dir)
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    scatter = (
        c.select("layer_id", "x", "y", "s", "n", F.explode(offs).alias("o"))
        .select(
            "layer_id",
            (F.col("x") + F.col("o.dx")).alias("tx"),
            (F.col("y") + F.col("o.dy")).alias("ty"),
            "s",
            "n",
        )
        .filter(F.col("tx").between(0, 63) & F.col("ty").between(0, 63))
    )
    return scatter.groupBy("layer_id", F.col("tx").alias("x"), F.col("ty").alias("y")).agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        (F.sum("s").cast("double") / F.sum("n")).alias("focal_mean"),
    )


@query(
    "geo_slope",
    oracle=f"""
    WITH {_CELLS_CTE},
    vals AS (SELECT layer_id, x, y, CAST(s AS DOUBLE) / n AS v FROM cells),
    offs AS (SELECT * FROM (VALUES
               (-1, 0, 0.5, 0.0), (1, 0, -0.5, 0.0),
               (0, -1, 0.0, 0.5), (0, 1, 0.0, -0.5),
               (0, 0, 0.0, 0.0)) o(dx, dy, wx, wy)),
    scatter AS (
      SELECT layer_id, x + dx AS tx, y + dy AS ty,
             wx * v AS cx, wy * v AS cy,
             CASE WHEN dx <> 0 THEN 1 ELSE 0 END AS nx,
             CASE WHEN dy <> 0 THEN 1 ELSE 0 END AS ny,
             CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END AS nc
      FROM vals, offs
    ),
    grad AS (
      SELECT layer_id, tx AS x, ty AS y,
             SUM(cx) AS dzdx, SUM(cy) AS dzdy,
             SUM(nx) AS nx, SUM(ny) AS ny, SUM(nc) AS nc
      FROM scatter
      WHERE tx BETWEEN 0 AND 63 AND ty BETWEEN 0 AND 63
      GROUP BY 1, 2, 3
    )
    SELECT layer_id, x, y,
           ROUND(dzdx, 6) AS dzdx, ROUND(dzdy, 6) AS dzdy,
           ROUND(sqrt(dzdx * dzdx + dzdy * dzdy), 6) AS slope
    FROM grad WHERE nx = 2 AND ny = 2 AND nc = 1
    """,
)
def geo_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Central-difference gradient magnitude over the cell table — the
    slope/hillshade precursor of terrain analysis: dz/dx = (east - west)/2,
    dz/dy = (north - south)/2, slope = sqrt(dzdx^2 + dzdy^2), emitted only
    where the CENTER cell exists and both neighbors are present on each
    axis — nodata stays nodata, the raster convention (the independent
    Python-reference test caught the original hole-emitting behavior; the
    zero-weight center marker in the scatter enforces it without adding a
    join, and a +-0.0 addend is an exact IEEE identity so the 2-addend
    argument below survives).

    Same scatter shape as geo_focal_mean, with SIGNED weights: each cell
    contributes +-v/2 to the four targets it neighbors, and one aggregation
    keyed by target sums per-axis. Engine-exactness hinges on each axis sum
    having AT MOST TWO addends — IEEE addition is commutative, so a 2-term
    sum is order-independent no matter which task adds first; the final
    sqrt is a single deterministic expression ROUNDed like every float
    output in the tree. The nx/ny = 2 filter is the interior-cell predicate
    AND the reason the 2-addend argument holds.
    """
    c = _cells(spark, sf_dir)
    vals = c.select(
        "layer_id", "x", "y", (F.col("s").cast("double") / F.col("n")).alias("v")
    )
    offs = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(wx).alias("wx"),
                F.lit(wy).alias("wy"),
            )
            for dx, dy, wx, wy in [
                (-1, 0, 0.5, 0.0),
                (1, 0, -0.5, 0.0),
                (0, -1, 0.0, 0.5),
                (0, 1, 0.0, -0.5),
                (0, 0, 0.0, 0.0),
            ]
        ]
    )
    scatter = (
        vals.select("layer_id", "x", "y", "v", F.explode(offs).alias("o"))
        .select(
            "layer_id",
            (F.col("x") + F.col("o.dx")).alias("tx"),
            (F.col("y") + F.col("o.dy")).alias("ty"),
            (F.col("o.wx") * F.col("v")).alias("cx"),
            (F.col("o.wy") * F.col("v")).alias("cy"),
            (F.col("o.dx") != 0).cast("int").alias("nx"),
            (F.col("o.dy") != 0).cast("int").alias("ny"),
            ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).cast("int").alias("nc"),
        )
        .filter(F.col("tx").between(0, 63) & F.col("ty").between(0, 63))
    )
    grad = scatter.groupBy(
        "layer_id", F.col("tx").alias("x"), F.col("ty").alias("y")
    ).agg(
        F.sum("cx").alias("dzdx"),
        F.sum("cy").alias("dzdy"),
        F.sum("nx").alias("nx"),
        F.sum("ny").alias("ny"),
        F.sum("nc").alias("nc"),
    )
    return grad.filter((F.col("nx") == 2) & (F.col("ny") == 2) & (F.col("nc") == 1)).select(
        "layer_id",
        "x",
        "y",
        F.round("dzdx", 6).alias("dzdx"),
        F.round("dzdy", 6).alias("dzdy"),
        F.round(F.sqrt(F.col("dzdx") * F.col("dzdx") + F.col("dzdy") * F.col("dzdy")), 6).alias(
            "slope"
        ),
    )


# Unit light vector for the hillshade (NW-ish, 45 deg altitude):
# (-1/2)^2 + (1/2)^2 + (sqrt(2)/2)^2 = 1 exactly in the reals, and each
# component is a literal shared verbatim by engine and oracle.
_HS_LX, _HS_LY, _HS_LZ = -0.5, 0.5, 0.7071067811865476


@query(
    "geo_hillshade",
    oracle=f"""
    WITH {_CELLS_CTE},
    vals AS (SELECT layer_id, x, y, CAST(s AS DOUBLE) / n AS v FROM cells),
    offs AS (SELECT * FROM (VALUES
               (-1, 0, 0.5, 0.0), (1, 0, -0.5, 0.0),
               (0, -1, 0.0, 0.5), (0, 1, 0.0, -0.5),
               (0, 0, 0.0, 0.0)) o(dx, dy, wx, wy)),
    scatter AS (
      SELECT layer_id, x + dx AS tx, y + dy AS ty,
             wx * v AS cx, wy * v AS cy,
             CASE WHEN dx <> 0 THEN 1 ELSE 0 END AS nx,
             CASE WHEN dy <> 0 THEN 1 ELSE 0 END AS ny,
             CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END AS nc
      FROM vals, offs
    ),
    grad AS (
      SELECT layer_id, tx AS x, ty AS y,
             SUM(cx) AS dzdx, SUM(cy) AS dzdy,
             SUM(nx) AS nx, SUM(ny) AS ny, SUM(nc) AS nc
      FROM scatter
      WHERE tx BETWEEN 0 AND 63 AND ty BETWEEN 0 AND 63
      GROUP BY 1, 2, 3
    )
    SELECT layer_id, x, y,
           ROUND(255.0 * greatest(0.0,
             ((-(dzdx) * ({_HS_LX!r})) - dzdy * ({_HS_LY!r}) + {_HS_LZ!r})
             / sqrt(dzdx * dzdx + dzdy * dzdy + 1.0)), 6) AS hillshade
    FROM grad WHERE nx = 2 AND ny = 2 AND nc = 1
    """,
)
def geo_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambertian hillshade from the central-difference gradient: the
    surface normal is (-dzdx, -dzdy, 1)/|.|, the light is the literal unit
    vector ({lx}, {ly}, sqrt(2)/2), and shading is 255 * max(0, normal .
    light) — the terrain-visualization primitive, WITHOUT trigonometry.

    The trig-free formulation is the exactness engineering: Horn's
    azimuth/altitude form needs atan/atan2/cos, which Java's Math and C's
    libm round differently in the last ulp — a latent hash-flake behind any
    ROUND. Multiply/add/divide/sqrt are all IEEE correctly-rounded in both
    engines, so this expression is bit-identical by construction. Gradient
    exactness is geo_slope's 2-addend argument; the scatter/aggregation
    plan is shared.

    Oracle independence: the only VALUES block is the constant stencil
    offset grid (structure, not results); the oracle recomputes the
    gradients and hillshade itself from the base tables.
    """
    c = _cells(spark, sf_dir)
    vals = c.select(
        "layer_id", "x", "y", (F.col("s").cast("double") / F.col("n")).alias("v")
    )
    offs = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(wx).alias("wx"),
                F.lit(wy).alias("wy"),
            )
            for dx, dy, wx, wy in [
                (-1, 0, 0.5, 0.0),
                (1, 0, -0.5, 0.0),
                (0, -1, 0.0, 0.5),
                (0, 1, 0.0, -0.5),
                (0, 0, 0.0, 0.0),
            ]
        ]
    )
    scatter = (
        vals.select("layer_id", "x", "y", "v", F.explode(offs).alias("o"))
        .select(
            "layer_id",
            (F.col("x") + F.col("o.dx")).alias("tx"),
            (F.col("y") + F.col("o.dy")).alias("ty"),
            (F.col("o.wx") * F.col("v")).alias("cx"),
            (F.col("o.wy") * F.col("v")).alias("cy"),
            (F.col("o.dx") != 0).cast("int").alias("nx"),
            (F.col("o.dy") != 0).cast("int").alias("ny"),
            ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).cast("int").alias("nc"),
        )
        .filter(F.col("tx").between(0, 63) & F.col("ty").between(0, 63))
    )
    grad = scatter.groupBy(
        "layer_id", F.col("tx").alias("x"), F.col("ty").alias("y")
    ).agg(
        F.sum("cx").alias("dzdx"),
        F.sum("cy").alias("dzdy"),
        F.sum("nx").alias("nx"),
        F.sum("ny").alias("ny"),
        F.sum("nc").alias("nc"),
    )
    dot = (
        (-F.col("dzdx")) * F.lit(_HS_LX)
        - F.col("dzdy") * F.lit(_HS_LY)
        + F.lit(_HS_LZ)
    )
    norm = F.sqrt(F.col("dzdx") * F.col("dzdx") + F.col("dzdy") * F.col("dzdy") + F.lit(1.0))
    return grad.filter((F.col("nx") == 2) & (F.col("ny") == 2) & (F.col("nc") == 1)).select(
        "layer_id",
        "x",
        "y",
        F.round(F.lit(255.0) * F.greatest(F.lit(0.0), dot / norm), 6).alias("hillshade"),
    )


@query(
    "geo_raster_algebra",
    oracle=f"""
    WITH {_CELLS_CTE},
    vals AS (SELECT layer_id, x, y, CAST(s AS DOUBLE) / n AS v FROM cells),
    a AS (SELECT x, y, v FROM vals WHERE layer_id = 'A'),
    b AS (SELECT x, y, v FROM vals WHERE layer_id = 'N')
    SELECT a.x, a.y,
           ROUND((a.v - b.v) / (a.v + b.v), 6) AS ndi
    FROM a JOIN b USING (x, y)
    WHERE a.v + b.v <> 0
    """,
)
def geo_raster_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-band map algebra — the normalized-difference index pattern
    (NDVI/NDWI: (A - B) / (A + B)) across two layers of the cell table,
    computed cell-by-cell via ONE equi-join on the cell coordinate.

    This is the raster-calculator primitive every raster engine ships; on
    the cell-table model it is a plain join + a single ROUNDed arithmetic
    expression (division and subtraction are IEEE correctly-rounded, so
    both engines agree bit-for-bit). At 100 TB both layers are partitioned
    by the same tile grid, so the join is co-partitioned — with bucketed
    tile tables it needs NO exchange at all (the same zero-shuffle shape
    test_bucketing.py pins for the relational bucketed join).
    """
    c = _cells(spark, sf_dir)
    vals = c.select(
        "layer_id", "x", "y", (F.col("s").cast("double") / F.col("n")).alias("v")
    )
    a = vals.filter(F.col("layer_id") == "A").select("x", "y", F.col("v").alias("va"))
    b = vals.filter(F.col("layer_id") == "N").select("x", "y", F.col("v").alias("vb"))
    return (
        a.join(b, ["x", "y"])
        .filter(F.col("va") + F.col("vb") != 0)
        .select(
            "x",
            "y",
            F.round((F.col("va") - F.col("vb")) / (F.col("va") + F.col("vb")), 6).alias(
                "ndi"
            ),
        )
    )
