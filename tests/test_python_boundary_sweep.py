"""Repo-wide Python-boundary invariant: Arrow-vectorized edges only, and
only where declared.

The engine's posture is JVM-side expressions everywhere, with Python
appearing ONLY at declared Arrow-batched boundaries (pandas UDFs,
applyInPandas, and the ``map_rows`` row map over mapInArrow) — never as
row-at-a-time ``BatchEvalPython``,
which is 10-100x slower and the classic silent scale killer. This sweep
scans every registered query's physical plan:

- ``BatchEvalPython`` (pickled row-at-a-time UDF) is banned EVERYWHERE,
  including whitelisted queries;
- any Arrow node (``ArrowEvalPython``/``MapInArrow``/``MapInPandas``/
  ``FlatMapGroupsInPandas``/``ArrowAggregatePython``...) is tolerated only
  for the ops below, each of which crosses the boundary for a documented
  reason (native-library edge, effectful source, or a deliberately
  registered pandas-interface demo), and each listed op must still plan
  one, so an entry cannot outlive its boundary.

A new query that quietly wraps a Python lambda in F.udf fails here with
the offending plan node in the message.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from wri_data_processing_spark import registry

registry.load_all()

# name -> why this op legitimately crosses into Python (always Arrow form).
PYTHON_WHITELIST: dict[str, str] = {
    "scan_raster_header": "raster header read: GDAL/rasterio/pure-Python codec edge",
    "scan_raster_header_real": "same codec edge, executed pure-Python parser",
    "sink_cog": "COG conversion fan-out (gdal_translate / pure-Python writer)",
    "sink_cog_real": "same sink, executed pure-Python writer",
    "sink_cog_lzw_bigtiff": "same sink, LZW/BigTIFF dialect",
    "geo_layer_cog_pipeline": "cell-table -> per-layer COG assembly (applyInPandas)",
    "geo_reproject_bbox": "pyproj / vendored inverse-Albers reprojection",
    "geo_reproject_bbox_vals": "same reprojection, VALUES-oracle variant",
    "probe_url_exists": "effectful HTTP HEAD probe (connection-pooled pandas UDF)",
    "multimodal_features": "media decode boundary (stubbed decoder, real plumbing)",
    "multimodal_features_real": "media decode boundary, executed pure-Python "
    "BMP codec (sources/bmp_codec.py)",
    "multimodal_image_histogram": "media decode boundary, executed pure-Python "
    "BMP codec inside the Arrow row map — the multimodal_features_real shape",
    "multimodal_dhash": "same executed decode boundary; integer dHash of "
    "decoded pixels",
    "multimodal_dhash_dedup": "banded pair join over multimodal_dhash "
    "fingerprints (same decode boundary upstream)",
    "multimodal_resize_real": "same executed decode boundary; integer NN "
    "resize of decoded pixels",
    "multimodal_audio_features_real": "audio decode boundary, executed "
    "pure-Python WAV codec (sources/wav_codec.py)",
    "multimodal_audio_vad": "same executed audio decode boundary; integer "
    "frame-energy voice-activity detection",
    "pandas_grouped_map": "registered applyInPandas interface demo",
    "text_compression_ratio": "zlib quality signal: compression has no JVM "
    "expression and no SQL twin — vectorized pandas UDF, scan-side only",
    "pandas_grouped_agg": "registered pandas GROUPED_AGG interface demo",
    "scan_parquet_footer_stats": "distributed parquet-footer read "
    "(pyarrow inside the Arrow row map over the 4-row file list) — the "
    "manifest-builder pattern; footers have no JVM expression",
    "multimodal_patchify": "media decode boundary, executed pure-Python "
    "BMP codec inside the Arrow row map — the multimodal_features_real shape; "
    "ViT patch-grid accumulation on decoded pixels",
    "multimodal_phash": "same executed decode boundary; integer DCT "
    "perceptual hash of decoded pixels (pinned cosine table)",
    "multimodal_phash_dedup": "banded pair join over multimodal_phash "
    "fingerprints (same decode boundary upstream)",
    "multimodal_image_entropy": "the multimodal_image_histogram decode "
    "boundary upstream; the entropy algebra itself is a JVM-side column "
    "expression over the 8-column histogram frame",
}

# Python/pandas nodes plus the Arrow map nodes (MapInArrow, *InArrow).
PY_NODE = re.compile(r"\b(\w*(?:Python|Pandas|InArrow)\w*)")


def python_boundary_problems(name: str, plan: str) -> list[str]:
    """The Python-boundary violations of one op's physical plan."""
    nodes = sorted(set(PY_NODE.findall(plan)))
    if "BatchEvalPython" in nodes:
        return [
            f"{name} plans a row-at-a-time Python UDF (BatchEvalPython) — use a "
            "pandas UDF / built-in functions"
        ]
    if name in PYTHON_WHITELIST:
        if nodes:
            return []
        return [
            f"{name} is a declared Python boundary but plans no Python node; "
            "drop its PYTHON_WHITELIST entry"
        ]
    if nodes:
        return [
            f"{name} crosses into Python ({nodes}) but is not a declared "
            "boundary; keep the expression JVM-side or whitelist with a reason"
        ]
    return []


@pytest.mark.parametrize("name", sorted(registry.REGISTRY))
def test_python_only_at_declared_arrow_boundaries(name, op_build):
    problems = python_boundary_problems(name, op_build.plan)
    assert not problems, problems[0]


class TestSweepIsNotVacuous:
    def test_row_at_a_time_udf_fails_even_if_declared(self, spark):
        plus_one = F.udf(lambda x: x + 1, "long")
        df = spark.range(3).select(plus_one("id").alias("y"))
        plan = df._jdf.queryExecution().executedPlan().toString()
        for name in ("synthetic_udf", "pandas_grouped_map"):
            problems = python_boundary_problems(name, plan)
            assert len(problems) == 1 and "BatchEvalPython" in problems[0]

    def test_arrow_map_is_a_python_boundary(self, spark):
        df = spark.range(3).mapInArrow(lambda batches: batches, "id long")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan, plan
        problems = python_boundary_problems("synthetic_arrow_map", plan)
        assert len(problems) == 1 and "not a declared boundary" in problems[0]
        assert python_boundary_problems("scan_raster_header", plan) == []

    def test_stale_whitelist_entry_fails(self, spark):
        plan = spark.range(3)._jdf.queryExecution().executedPlan().toString()
        assert "plans no Python node" in python_boundary_problems("pandas_grouped_map", plan)[0]
