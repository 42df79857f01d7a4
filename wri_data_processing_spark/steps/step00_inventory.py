"""Step 00 — layer inventory (reference scripts/00b_extract_metadata_all.R).

One declarative job replaces the reference's serial per-file loop:

  listing -> classify filter (exclude pruned BEFORE any raster I/O, 00b:71)
          -> resume anti-join vs prior output (00b:57-74)
          -> header scan through the Arrow row map (00b:90)
          -> classification columns (00b:96-99)
          -> assumption validation (00b:105-141)
          -> split by success/passes_assumptions (00b:163-165)

Scale notes: the only shuffle is the optional resume anti-join (broadcast
when the prior inventory is small). Everything else is narrow: filter,
the header row map, column adds. Header reads parallelize per partition — the
reference processed 82 files serially on a 300-core host; here parallelism
is ``listing.repartition(n)``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wri_data_processing_spark.functions import scalar as fns
from wri_data_processing_spark.operators.validate import GridExpectations, validate_assumptions
from wri_data_processing_spark.sources.raster import HeaderReader, scan_raster_header


@dataclass
class InventoryResult:
    all_meta: DataFrame
    consistent: DataFrame
    inconsistent: DataFrame

    def summary(self) -> dict[str, int]:
        """00b:183-187 summary counts."""
        total = self.all_meta.count()
        ok = self.all_meta.filter(F.col("success")).count()
        consistent = self.consistent.count()
        return {
            "total": total,
            "consistent": consistent,
            "inconsistent": self.all_meta.filter(
                F.col("success") & ~F.col("passes_assumptions")
            ).count(),
            "failed_reads": total - ok,
        }


def step00_inventory(
    listing: DataFrame,
    prev_inventory: DataFrame | None = None,
    reader: HeaderReader | None = None,
    expectations: GridExpectations = GridExpectations(),
) -> InventoryResult:
    """Run the inventory pipeline over a (path, ...) listing DataFrame."""
    files = listing.select("path")
    # P1: prune excluded paths before ANY raster I/O (predicate-pushdown analog).
    files = files.filter(fns.classify_data_type(F.col("path")) != "exclude")
    # J1: resume support — skip paths present in a previous run's output.
    if prev_inventory is not None:
        prev = prev_inventory.select(F.col("filepath").alias("path")).distinct()
        files = files.join(F.broadcast(prev), "path", "left_anti")

    headers = scan_raster_header(files, reader=reader)

    path = F.col("filepath")
    dt = fns.classify_data_type(path)
    info = (
        headers.withColumn("data_type", dt)
        .withColumn("wri_domain", fns.extract_domain(path))
        .withColumn("wri_dimension", fns.classify_dimension(F.col("data_type"), F.col("filename")))
        .withColumn("cog_filename", fns.make_cog_filename(path))
    )
    validated = validate_assumptions(info, expectations)
    # Failed reads keep NULL validation fields (00b:102-104: only successful
    # reads are validated).
    validated = validated.withColumn(
        "passes_assumptions",
        F.when(F.col("success"), F.col("passes_assumptions")),
    ).withColumn("assumption_error", F.when(F.col("success"), F.col("assumption_error")))

    successful = validated.filter(F.col("success"))
    return InventoryResult(
        all_meta=validated,
        consistent=successful.filter(F.col("passes_assumptions")),
        inconsistent=successful.filter(~F.col("passes_assumptions")),
    )
