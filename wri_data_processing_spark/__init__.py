"""wri_data_processing_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference pipeline ``ignitR-package/wri-data-processing``
(an R + GDAL batch ETL: raster inventory -> COG conversion -> STAC catalog),
extended with the relational/streaming/LLM-data-pipeline operator surface
mandated by the build contract (SURVEY.md §2).

Design principles (see SURVEY.md §4/§7):

- Declarative DataFrame/SQL plans; Catalyst does pushdown/pruning/join
  selection — we never hand-schedule what the optimizer already does.
- Every operator is a small composable function returning a DataFrame.
- Python UDFs only at genuine boundaries (GDAL, pyproj, HTTP), always
  Arrow-batched, never row-at-a-time in hot paths: per-row stages (one file
  or payload in, zero or more rows out) go through the one Arrow row map,
  ``operators.row_map.map_rows`` (mapInArrow, no pandas); grouped and
  vectorized work uses applyInPandas / pandas UDFs.
- Designed for 100 TB: no driver-side collects in query paths, broadcast
  hints for dimension tables, AQE on, explicit partitioning notes per module.
"""

__version__ = "0.1.0"
