"""Metric names: legal, unique, and the same in BENCHMARK.json as in the code."""

from __future__ import annotations

import json
import os

import pytest

from tracing import check_metric_names

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize(
    "name", ["pass_s", "llm_dedup.plan_s", "spark.shuffle_read_mb", "a-b.c_d", "9lives", "x" * 64]
)
def test_legal_names_pass(name):
    check_metric_names([name])


@pytest.mark.parametrize(
    "name", ["", "_lead", ".lead", "has space", "slash/no", "colon:no", "ü", "x" * 65]
)
def test_illegal_names_fail(name):
    with pytest.raises(ValueError, match="illegal"):
        check_metric_names([name])


def test_duplicates_fail():
    with pytest.raises(ValueError, match="duplicate"):
        check_metric_names(["pass_s", "pass_s"])


def test_benchmark_json_matches_the_code():
    from run import END_TO_END, unit_of
    from workloads import WORKLOADS, per_layer_names

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == WORKLOADS
    assert [m["name"] for m in spec["end_to_end"]] == END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == per_layer_names()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == unit_of(m["name"]), m
    check_metric_names(
        [w["name"] for w in spec["workloads"]]
        + [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    )
