"""Tile-table raster model and overview pyramid (G3, SURVEY.md §2.9).

The reference's COG overview generation (gdal_translate, 7 halving levels,
AVERAGE resampling — meta.json:99-142, prototypes/01a_make_cog_one.R:30) is
re-expressed engine-native: a tile/cell table
``(layer_id, level, x, y, val)`` where each overview level L+1 cell is the
average of its 2x2 children at level L.

Scale notes: each level is ONE hash aggregation keyed (layer_id, x//2, y//2);
data volume drops 4x per level so the 7-level pyramid costs ~1.33x the base
scan. Partitioning by layer_id keeps every aggregation local after the first
shuffle when the tile table is bucketed by layer_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def overview_level(cells: DataFrame, val_col: str = "val") -> DataFrame:
    """One halving step: average defined children per 2x2 block (GDAL AVERAGE)."""
    return (
        cells.groupBy(
            "layer_id",
            F.floor(F.col("x") / 2).alias("x"),
            F.floor(F.col("y") / 2).alias("y"),
        )
        .agg(F.avg(val_col).alias(val_col), F.count(val_col).alias("n_children"))
    )
