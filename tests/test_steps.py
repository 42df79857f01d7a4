"""Unit tests for the three pipeline steps with injected boundary callables."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from wri_data_processing_spark.operators.probe import hosted_counts, with_hosted_flag
from wri_data_processing_spark.sources.listing import scan_file_listing
from wri_data_processing_spark.sources.tables import format_fs_bytes
from wri_data_processing_spark.steps.step00_inventory import step00_inventory
from wri_data_processing_spark.steps.step01_cog import status_counts, step01_cog

GOOD = dict(
    file_size_bytes=1000,
    nrows=57865,
    ncols=52355,
    nlayers=1,
    resolution_x=90.0,
    resolution_y=90.0,
    crs_epsg=5070,
    extent_xmin=-5216639.669534829,
    extent_xmax=-504689.66953482945,
    extent_ymin=991231.6884919972,
    extent_ymax=6199081.688491997,
    datatype="FLT4S",
    success=True,
    error=None,
)


def fake_reader(path: str) -> dict:
    """Deterministic header reader covering every outcome branch."""
    if "broken" in path:
        raise RuntimeError("cannot open raster")
    info = {"filepath": path, **GOOD}
    if "wrong_crs" in path:
        info["crs_epsg"] = 4326
    if "no_crs" in path:
        info["crs_epsg"] = None
    if "wrong_res" in path:
        info["resolution_x"] = 90.5
    if "wrong_extent" in path:
        info["extent_xmin"] = -5216000.0
    return info


PATHS = [
    "data/water/indicators/ind_a_resistance_x.tif",       # ok
    "data/water/indicators/ind_b_recovery_x.tif",         # ok
    "data/archive/old.tif",                               # excluded pre-I/O
    "data/final_checks/chk.tif",                          # excluded pre-I/O
    "data/species/indicators/broken_c.tif",               # read failure
    "data/species/indicators/wrong_crs_d.tif",            # EPSG mismatch
    "data/species/indicators/no_crs_e.tif",               # EPSG NA
    "data/species/indicators/wrong_res_f.tif",            # resolution
    "data/species/indicators/wrong_extent_g.tif",         # extent
    "data/water/WRI_score.tif",                           # final_score ok
]


@pytest.fixture(scope="module")
def listing(spark):
    return spark.createDataFrame([(p,) for p in PATHS], "path string")


def test_step00_full_pipeline(spark, listing):
    res = step00_inventory(listing, reader=fake_reader)
    s = res.summary()
    # 2 excluded paths never reach the reader; 8 processed.
    assert s["total"] == 8
    assert s["failed_reads"] == 1
    assert s["consistent"] == 3  # a, b, WRI_score
    assert s["inconsistent"] == 4
    errors = {
        r["filepath"]: r["assumption_error"]
        for r in res.inconsistent.select("filepath", "assumption_error").collect()
    }
    assert errors["data/species/indicators/wrong_crs_d.tif"] == "EPSG mismatch (4326)"
    assert errors["data/species/indicators/no_crs_e.tif"] == "EPSG is NA"
    assert errors["data/species/indicators/wrong_res_f.tif"] == "Resolution mismatch"
    assert errors["data/species/indicators/wrong_extent_g.tif"] == "Extent mismatch"
    # classification columns present and correct on a sample
    row = res.consistent.filter(F.col("filename") == "WRI_score.tif").first()
    assert row["data_type"] == "final_score"
    assert row["wri_domain"] == "water"
    assert row["cog_filename"] == "WRI_score.tif"


def test_step00_resume_anti_join(spark, listing):
    prev = spark.createDataFrame(
        [("data/water/indicators/ind_a_resistance_x.tif",)], "filepath string"
    )
    res = step00_inventory(listing, prev_inventory=prev, reader=fake_reader)
    assert res.summary()["total"] == 7  # one fewer than the fresh run


def test_step01_statuses(spark, tmp_path):
    src_ok = tmp_path / "in_ok.tif"
    src_ok.write_bytes(b"x")
    src_done = tmp_path / "in_done.tif"
    src_done.write_bytes(b"x")
    src_bad = tmp_path / "in_bad.tif"
    src_bad.write_bytes(b"x")
    out_dir = tmp_path / "cogs"
    os.makedirs(out_dir)
    (out_dir / "done.tif").write_bytes(b"already")

    def stub_converter(src: str, dst: str) -> None:
        if "bad" in src:
            raise RuntimeError("gdal says no")
        with open(dst, "wb") as f:
            f.write(b"cog")

    meta = spark.createDataFrame(
        [
            (str(src_ok), "ok.tif"),
            (str(src_done), "done.tif"),
            (str(tmp_path / "missing.tif"), "miss.tif"),
            (str(src_bad), "bad.tif"),
        ],
        "filepath string, cog_filename string",
    )
    statuses = step01_cog(meta, str(out_dir), converter=stub_converter)
    counts = {r["status"]: r["n"] for r in status_counts(statuses).collect()}
    assert counts == {"written": 1, "skipped": 1, "missing": 1, "failed": 1}
    assert (out_dir / "ok.tif").read_bytes() == b"cog"
    assert (out_dir / "done.tif").read_bytes() == b"already"  # never clobbered


def test_probe_cached_single_execution(spark, tmp_path):
    # The probe runs in executor Python workers: count calls via a shared file.
    log = tmp_path / "probe_calls.log"

    def stub_probe(name: str) -> bool:
        with open(log, "a") as f:
            f.write(name + "\n")
        return name.startswith("hosted")

    meta = spark.createDataFrame(
        [("hosted_a.tif",), ("local_b.tif",), ("hosted_c.tif",)], "cog_filename string"
    )
    flagged = with_hosted_flag(meta.coalesce(1), stub_probe)
    n1 = len(log.read_text().splitlines())
    assert n1 == 3
    counts = hosted_counts(flagged).first()
    assert counts["n_hosted"] == 2 and counts["n_local"] == 1
    flagged.count()  # further actions: cache must prevent re-probing
    assert len(log.read_text().splitlines()) == n1


def test_scan_file_listing(spark, tmp_path):
    (tmp_path / "sub").mkdir()
    (tmp_path / "a.tif").write_bytes(b"12")
    (tmp_path / "sub" / "b.tif").write_bytes(b"3456")
    (tmp_path / "sub" / "c.txt").write_bytes(b"nope")
    df = scan_file_listing(spark, str(tmp_path), glob="*.tif")
    rows = {os.path.basename(r["path"]): r["length"] for r in df.collect()}
    assert rows == {"a.tif": 2, "b.tif": 4}


def test_format_fs_bytes(spark):
    # Values chosen to reproduce the reference CSV column: "362.9", "2.01K",
    # "100", "121.8", "448.32" (metadata/all_layers_consistent.csv).
    vals = [362.9, 2058.17, 100.0, 121.8, 448.32, 0.0, 1024.0 * 1024.0]
    df = spark.createDataFrame([(v,) for v in vals], "size double").select(
        format_fs_bytes(F.col("size")).alias("h")
    )
    assert [r["h"] for r in df.collect()] == [
        "362.9",
        "2.01K",
        "100",
        "121.8",
        "448.32",
        "0",
        "1M",
    ]


def test_step02_sink_files(spark, tmp_path, monkeypatch):
    """End-to-end item file writing with a tiny synthetic metadata table."""
    from wri_data_processing_spark.steps.step02_stac import build_item_docs, sink_item_files

    meta = spark.createDataFrame(
        [
            (
                "data/water/indicators/ind_x_status_y.tif",
                "ind_x_status_y.tif",
                -5216639.67,
                -504689.6695,
                991231.6885,
                6199081.688,
                5070,
                "indicator",
                "water",
                "status",
                "ind_x_status_y.tif",
                True,
                [-146.21, 19.11, 173.71, 54.81],
            )
        ],
        "filepath string, filename string, extent_xmin double, extent_xmax double,"
        "extent_ymin double, extent_ymax double, crs_epsg int, data_type string,"
        "wri_domain string, wri_dimension string, cog_filename string,"
        "is_hosted boolean, bbox array<double>",
    )
    items = build_item_docs(meta)
    out = tmp_path / "items"
    sink_item_files(items, str(out))
    doc = json.loads((out / "ind_x_status_y.json").read_text())
    assert doc["id"] == "ind_x_status_y"
    assert doc["properties"]["wri_dimension"] == "status"
    assert doc["assets"]["data"]["href"].endswith("/ind_x_status_y.tif")
    assert doc["geometry"]["coordinates"][0][0] == [-146.21, 19.11]
    # skip-if-exists: rewrite with overwrite=False must keep the file
    (out / "ind_x_status_y.json").write_text("{}")
    sink_item_files(items, str(out), overwrite=False)
    assert (out / "ind_x_status_y.json").read_text() == "{}"


def test_collection_summaries_trim_filters_but_emits_raw(spark):
    """nzchar(trimws(x)) guards SELECTION only; the emitted strings are the
    originals, whitespace and all (02b:299-304). A trimmed emit silently
    diverges from the reference for any padded dimension value."""
    from wri_data_processing_spark.steps.step02_stac import collection_summaries

    meta = spark.createDataFrame(
        [
            ("water", " status "),   # padded: kept, emitted RAW
            ("water", "status"),     # distinct from the padded variant
            ("fire", "   "),         # blank after trim: dropped
            ("fire", None),          # null: dropped
            (None, "exposure"),
        ],
        "wri_domain string, wri_dimension string",
    )
    s = collection_summaries(meta)
    assert s["wri_domain"] == ["fire", "water"]
    assert s["wri_dimension"] == [" status ", "exposure", "status"]


def test_collection_doc_is_one_aggregation(spark):
    """The item ids and both summaries come from one global aggregation:
    2 Spark jobs on a 16-row frame, where three distinct-collects took 10."""
    from tests.test_warm_session import _jobs_launched
    from wri_data_processing_spark.steps.step02_stac import build_collection_doc

    meta = spark.createDataFrame(
        [
            (f"layer_{i:02d}.tif", ("fire", "water")[i % 2], ("status", " risk ", "")[i % 3])
            for i in range(16)
        ],
        "cog_filename string, wri_domain string, wri_dimension string",
    )
    docs = []
    jobs = _jobs_launched(spark, lambda: docs.append(build_collection_doc(meta, [0, 0, 1, 1])))
    assert jobs == 2, jobs
    doc = docs[0]
    assert doc["summaries"]["wri_domain"] == ["fire", "water"]
    assert doc["summaries"]["wri_dimension"] == [" risk ", "status"]
    items = [link["href"] for link in doc["links"] if link["rel"] == "item"]
    assert items == [f"items/layer_{i:02d}.json" for i in range(16)]
