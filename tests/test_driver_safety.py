"""Driver-safety invariant over every registered query (VERDICT r4 item 7).

The driver's correctness harness canonicalizes results with pandas
``sort_values`` before hashing; a top-level ``ArrayType``/``MapType``/
``StructType`` column makes that crash (``TypeError: unhashable type:
'list'``) and burns the op's sample slot with an ERR row — this killed
geo_reproject_bbox in r3 and multimodal_features in r4. This test builds
every registered query's schema and asserts the output is flat scalars, so
the failure class is structurally impossible for all future ops.

The whitelist is intentionally EMPTY: array-returning operators stay
available as library functions (e.g. operators/multimodal.py
extract_features); only the *registered* query surface must flatten.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

from wri_data_processing_spark import registry

registry.load_all()

# Ops allowed to return complex top-level columns (must be rows-only AND
# documented why the driver canonicalizer tolerates them). Currently none.
COMPLEX_WHITELIST: frozenset[str] = frozenset()


def complex_column_problems(name: str, schema: StructType) -> list[str]:
    """The driver-safety violation of one op's output schema, if any."""
    complex_cols = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    if not complex_cols:
        return []
    return [
        f"{name} emits complex top-level columns {complex_cols}; flatten to "
        "scalars (element_at/to_json/concat_ws) — the driver hasher crashes "
        "on list cells"
    ]


@pytest.mark.parametrize("name", sorted(registry.REGISTRY))
def test_output_schema_is_driver_safe(name, op_build):
    if name in COMPLEX_WHITELIST:
        pytest.skip("explicitly whitelisted complex output")
    problems = complex_column_problems(name, op_build.schema)
    assert not problems, problems[0]


class TestSweepIsNotVacuous:
    def test_top_level_array_column_fails(self, spark):
        df = spark.range(3).select("id", F.array("id", "id").alias("pair"))
        problems = complex_column_problems("synthetic_array", df.schema)
        assert len(problems) == 1 and "['pair']" in problems[0]
