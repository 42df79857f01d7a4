"""Harness-fidelity regression tests (VERDICT r4 item 2).

The driver's value hash is type-sensitive: an oracle returning ``2187.0``
(DuckDB HUGEINT->float) against Spark's BIGINT ``2187`` is a HASHFAIL even
though Python says ``2187 == 2187.0``. The local harness must be at least
as strict, or int/float oracle drift ships green locally and fails the
driver (exactly what happened to pipeline_clean_corpus in r4).
"""

from __future__ import annotations

import decimal

import pandas as pd
import pytest

from tests.oracle_harness import _norm_cell, _normalize, compare


def test_int_vs_float_mismatch():
    assert _norm_cell(2187) != _norm_cell(2187.0)


def test_bool_vs_int_mismatch():
    assert _norm_cell(True) != _norm_cell(1)
    assert _norm_cell(False) != _norm_cell(0)


def test_decimal_vs_float_mismatch():
    assert _norm_cell(decimal.Decimal("1.5")) != _norm_cell(1.5)


def test_numpy_width_agnostic_within_class():
    import numpy as np

    assert _norm_cell(np.int32(7)) == _norm_cell(np.int64(7)) == _norm_cell(7)
    assert _norm_cell(np.float32(0.5)) == _norm_cell(0.5)


def test_nested_array_cells_type_sensitive():
    assert _norm_cell([1, 2]) != _norm_cell([1.0, 2.0])
    assert _norm_cell([1, 2]) == _norm_cell([1, 2])


def test_normalize_frames_differ_on_dtype_only():
    a = pd.DataFrame({"x": [2187]})
    b = pd.DataFrame({"x": [2187.0]})
    assert _normalize(a) != _normalize(b)


def test_compare_reports_int_float_drift(spark, sf_con):
    """End-to-end: Spark BIGINT vs oracle DOUBLE must be a reported mismatch."""
    df = spark.range(1).selectExpr("CAST(2187 AS BIGINT) AS total")
    problems = compare(df, sf_con, "SELECT 2187.0 AS total")
    assert problems, "int-vs-float drift must fail the local harness"
    # and the exact-match case stays green
    assert compare(df, sf_con, "SELECT CAST(2187 AS BIGINT) AS total") == []


@pytest.mark.parametrize("good", [None, "s", b"b"])
def test_passthrough_cells_stable(good):
    assert _norm_cell(good) == _norm_cell(good)
