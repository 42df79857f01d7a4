"""Step 02 — STAC catalog emission (reference scripts/02b_make_stac_all.R).

Pipeline: contract check (02b:112-123) -> duplicate-key abort (02b:128-131)
-> hosted probe (02b:149-158, operators/probe.py, cached once) -> spatial
reprojection (utils.R:228-262) -> nested item document per row (02b:227-264)
-> one JSON file per item via foreachPartition (02b:266) -> driver-side
catalog + collection finalize (02b:273-325; tiny, 2 documents).

Scale notes: item assembly is a narrow map over the metadata table; the only
driver-side work is the 2-document finalize plus one global aggregation
that collects the item ids and the distinct summaries (bounded by the item
count and the taxonomy cardinality, ~11 values). File-per-item
writes run on executors.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wri_data_processing_spark.sources.tables import assert_schema

STAC_VERSION = "1.0.0"
PROJ_EXT = "https://stac-extensions.github.io/projection/v1.1.0/schema.json"
COG_MEDIA_TYPE = "image/tiff; application=geotiff; profile=cloud-optimized"
DEFAULT_ITEM_DATETIME = "2026-06-05T00:00:00Z"  # 02b:56
DEFAULT_KNB_BASE = "https://knb.ecoinformatics.org/data/wri-data-processing/cogs/"  # 02b:59

REQUIRED_COLS = [  # 02b:111-118
    "filepath",
    "filename",
    "extent_xmin",
    "extent_xmax",
    "extent_ymin",
    "extent_ymax",
    "crs_epsg",
    "data_type",
    "wri_domain",
    "wri_dimension",
    "cog_filename",
]


def _item_id() -> F.Column:
    """The item id: cog_filename without its extension."""
    return F.regexp_replace("cog_filename", r"\.[^./]*$", "")


def check_duplicate_keys(meta: DataFrame) -> None:
    """A4 duplicate-key abort (02b:128-131)."""
    dup = (
        meta.groupBy("cog_filename")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .orderBy("cog_filename")
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            "Duplicate filename in metadata (cannot use as unique COG ID): "
            + dup[0]["cog_filename"]
        )


def build_item_docs(
    meta: DataFrame,
    collection_id: str = "wri_ignitR",
    item_datetime: str = DEFAULT_ITEM_DATETIME,
    knb_base_url: str = DEFAULT_KNB_BASE,
) -> DataFrame:
    """Append item_id + nested STAC ``item`` struct column (02b:227-264).

    ``meta`` must already carry ``is_hosted`` (operators/probe.py) and a
    ``bbox array<double>`` column ([xmin,ymin,xmax,ymax] in EPSG:4326 —
    geo/reproject.py, or supplied directly when the transform ran upstream).
    The GeoJSON ring is rebuilt from the bbox (SW,SE,NE,NW,SW), exactly the
    reference's artifact-dodging construction (utils.R:250-256).
    """
    assert_schema(meta, [*REQUIRED_COLS, "is_hosted", "bbox"])

    b = F.col("bbox")
    sw, se = F.array(b[0], b[1]), F.array(b[2], b[1])
    ne, nw = F.array(b[2], b[3]), F.array(b[0], b[3])
    item_id = _item_id()

    # href: KNB URL when hosted, ../cogs/<name> otherwise (02b:216-224;
    # path_rel("cogs/<name>", start="stac") == "../cogs/<name>").
    asset_href = F.when(
        F.col("is_hosted"), F.concat(F.lit(knb_base_url), F.col("cog_filename"))
    ).otherwise(F.concat(F.lit("../cogs/"), F.col("cog_filename")))

    def link(rel: str, href: F.Column | str, typ: str) -> F.Column:
        href_col = F.lit(href) if isinstance(href, str) else href
        return F.struct(F.lit(rel).alias("rel"), href_col.alias("href"), F.lit(typ).alias("type"))

    item = F.struct(
        F.lit(STAC_VERSION).alias("stac_version"),
        F.array(F.lit(PROJ_EXT)).alias("stac_extensions"),
        F.lit("Feature").alias("type"),
        item_id.alias("id"),
        F.lit(collection_id).alias("collection"),
        F.struct(
            F.lit("Polygon").alias("type"),
            F.array(F.array(sw, se, ne, nw, sw)).alias("coordinates"),
        ).alias("geometry"),
        b.alias("bbox"),
        F.struct(
            F.lit(item_datetime).alias("datetime"),
            F.concat(F.lit("EPSG:"), F.col("crs_epsg").cast("string")).alias("proj:code"),
            F.col("data_type").alias("data_type"),
            F.col("wri_domain").alias("wri_domain"),
            F.col("wri_dimension").alias("wri_dimension"),
            F.col("is_hosted").alias("is_hosted"),
        ).alias("properties"),
        F.struct(
            F.struct(
                asset_href.alias("href"),
                F.lit(COG_MEDIA_TYPE).alias("type"),
                F.array(F.lit("data")).alias("roles"),
                F.lit("COG").alias("title"),
            ).alias("data")
        ).alias("assets"),
        F.array(
            link("self", F.concat(item_id, F.lit(".json")), "application/geo+json"),
            link("root", "../../../catalog.json", "application/json"),
            link("parent", "../collection.json", "application/json"),
            link("collection", "../collection.json", "application/json"),
        ).alias("links"),
    )
    return meta.withColumn("item_id", item_id).withColumn("item", item)


def sink_item_files(items: DataFrame, items_dir: str, overwrite: bool = False) -> None:
    """S7 file-per-item JSON sink, executor-side, skip-if-exists (02b:196-205)."""
    os.makedirs(items_dir, exist_ok=True)

    def write_partition(rows) -> None:
        for row in rows:
            path = os.path.join(items_dir, f"{row['item_id']}.json")
            if os.path.exists(path) and not overwrite:
                continue
            doc = row["item"].asDict(recursive=True)
            with open(path, "w") as f:
                json.dump(doc, f, indent=2)

    items.select("item_id", "item").foreachPartition(write_partition)


def _summary_aggs() -> list[F.Column]:
    """The distinct-sorted domain and dimension summaries (02b:297-304) as
    aggregate columns, so the collection doc needs one global aggregation.
    collect_set drops nulls; array_sort orders the strings bytewise."""
    dim = F.col("wri_dimension")
    return [
        F.array_sort(F.collect_set("wri_domain")).alias("wri_domain"),
        # Select on trimmed non-blank but emit the ORIGINAL strings: the
        # reference's nzchar(trimws(x)) guards selection only (02b:299-304).
        F.array_sort(F.collect_set(F.when(F.length(F.trim(dim)) > 0, dim))).alias(
            "wri_dimension"
        ),
    ]


def _summaries(row) -> dict:
    return {
        "data_type": ["aggregate", "final_score", "indicator"],  # hard-coded, 02b:298
        "wri_domain": list(row["wri_domain"]),
        "wri_dimension": list(row["wri_dimension"]),
        "proj:code": ["EPSG:5070"],
    }


def collection_summaries(meta: DataFrame) -> dict:
    """A3 distinct-sorted summaries (02b:297-304)."""
    return _summaries(meta.agg(*_summary_aggs()).first())


def build_catalog_doc() -> dict:
    """Catalog document (02b:273-286)."""
    return {
        "stac_version": STAC_VERSION,
        "type": "Catalog",
        "id": "wri-catalog",
        "title": "WRI Wildfire Resilience Index",
        "description": "WRI raster layers as Cloud Optimized GeoTIFFs (COGs)",
        "links": [
            {"rel": "self", "href": "catalog.json", "type": "application/json"},
            {
                "rel": "child",
                "href": "collections/wri_ignitR/collection.json",
                "type": "application/json",
            },
        ],
    }


def build_collection_doc(
    meta: DataFrame,
    collection_bbox: list[float],
    collection_id: str = "wri_ignitR",
    item_datetime: str = DEFAULT_ITEM_DATETIME,
    item_ids: list[str] | None = None,
) -> dict:
    """Collection document incl. per-item links (02b:288-325).

    ``item_ids`` defaults to the metadata's item ids sorted bytewise —
    matching dir_ls's C-locale ordering of the items directory (02b:314-322).
    The ids and the summaries come from one aggregation over ``meta``.
    """
    aggs = _summary_aggs()
    if item_ids is None:
        aggs.append(F.collect_set(_item_id()).alias("item_ids"))
    row = meta.agg(*aggs).first()
    if item_ids is None:
        item_ids = row["item_ids"]
    doc = {
        "stac_version": STAC_VERSION,
        "stac_extensions": [PROJ_EXT],
        "type": "Collection",
        "id": collection_id,
        "title": "WRI ignitR Dataset",
        "description": "WRI raster layers (COGs)",
        "license": "proprietary",
        "extent": {
            "spatial": {"bbox": [collection_bbox]},
            "temporal": {"interval": [[item_datetime, item_datetime]]},
        },
        "summaries": _summaries(row),
        "links": [
            {"rel": "self", "href": "collection.json", "type": "application/json"},
            {"rel": "root", "href": "../../catalog.json", "type": "application/json"},
            {"rel": "parent", "href": "../../catalog.json", "type": "application/json"},
            *[
                {"rel": "item", "href": f"items/{i}.json", "type": "application/geo+json"}
                for i in sorted(item_ids)
            ],
        ],
    }
    return doc


def write_doc(doc: dict, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
