"""Boolean-decision gate: every BOOLEAN output column must be a LIVE decision.

The r13 one-off audit (SCALE.md "r13 boolean-gate audit") asked which boolean
decision columns never flip — 28 were constant at all three SFs, each
triaged with a reason. This module turns that audit into a standing
regression net (VERDICT r13, item 1), exactly the way the r12 degeneracy
audit became test_degeneracy_gate.py (whose first run immediately caught the
cusum dead threshold):

- every registered oracle runs against sf0.01 (the driver's correctness SF);
- every boolean column must take BOTH values, OR appear in the reviewed
  allowlist below with its expected constant value and a one-line reason;
- an allowlisted column that flips is a PASS (a fixture becoming live is an
  improvement, not a regression) — but a constant column that is either
  unlisted or constant at the WRONG value fails with the column named;
- the checker is proven non-vacuous by negative self-tests: a synthetic
  never-flipping boolean (l_quantity > -1) and a wrong-polarity clone of an
  allowlisted column must both FAIL it.

DuckDB-side only, mirroring test_degeneracy_gate.py's argument: the driver's
gate is spark_hash == oracle_hash and test_registry_oracle.py proves that
equality per op, so a live oracle boolean forces a live Spark boolean.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from wri_data_processing_spark import registry

registry.load_all()

# (op, column) -> (expected constant value, reason). The r13 triage
# (SCALE.md) wrote the reasons; this pins them in-repo with the sf0.01
# expected polarity so a silent flip TO the wrong constant also fails.
#
# Class 1 — significance gates whose fixtures satisfy the null BY
# CONSTRUCTION (stationary series, identical arms, homoscedastic trends): a
# fixture engineered to reject would misstate the data; each gate's
# threshold compare is pinned by its known-answer replay instead, and the
# numeric statistic columns alongside are live and hash-verified.
_NULL_TRUE = "null-true fixture; decision pinned by known-answer replay"
# Class 2 — accuracy contracts: constant True IS the contract (the sketch's
# error bound); False means a real regression.
_CONTRACT = "accuracy contract: the bound holding is the assertion"
# Class 3 — fixture constants / postconditions: False means a bug, and the
# known-answer tests assert the exact value.
_POSTCOND = "postcondition probe; False means a codec/writer bug"
# Class 4 — positive controls: built precisely to pin the True branch the
# production fixture never takes; replay asserts True at every SF.
_POSCTRL = "positive control: engineered to hold the alerting branch True"
# Class 5 — genuine one-sided verdicts on this corpus at this SF, each with
# the reason the verdict is real (not a dead threshold).
BOOL_CONST_OK: dict[tuple[str, str], tuple[bool, str]] = {
    ("agg_approx_distinct", "parts_within_3rsd"): (True, _CONTRACT),
    ("agg_approx_distinct", "orders_within_3rsd"): (True, _CONTRACT),
    ("agg_approx_percentile", "p50_within_1pct"): (True, _CONTRACT),
    ("agg_approx_percentile", "p95_within_1pct"): (True, _CONTRACT),
    ("dq_volume_positive_control", "anomaly"): (True, _POSCTRL),
    ("drift_positive_control", "drifted"): (True, _POSCTRL),
    ("drift_report_pipeline", "drifted"): (False, _NULL_TRUE),
    ("embed_separation_control", "separated"): (True, _POSCTRL),
    ("embed_triplet_mining", "separated"): (
        False,
        "random embeddings genuinely never separate; the True branch is "
        "exercised by embed_separation_control",
    ),
    ("eval_auc_delong", "significant"): (False, _NULL_TRUE),
    ("events_page_hinkley", "alarm"): (False, _NULL_TRUE),
    ("fn_near_tolerance", "near_small"): (
        True,
        "documented tolerance-boundary probe (just inside)",
    ),
    ("fn_near_tolerance", "near_big"): (
        False,
        "documented tolerance-boundary probe (just outside)",
    ),
    ("geo_layer_cog_pipeline", "success"): (True, _POSTCOND),
    ("model_eval_pipeline", "srm_mismatch"): (False, _NULL_TRUE),
    ("privacy_k_anonymity", "k_anonymous"): (
        False,
        "sf0.01's QI classes contain singletons, so every k in the sweep "
        "{2,5,10,25} genuinely fails; the class-count columns are live and "
        "the known-answer test pins the smallest class",
    ),
    ("scan_raster_header", "success"): (True, _POSTCOND),
    ("scan_raster_header_real", "success"): (True, _POSTCOND),
    ("snapshot_rollback", "files_intact"): (True, _POSTCOND),
    ("stats_ab_srm_check", "mismatch"): (False, _NULL_TRUE),
    ("stats_bartlett", "rejected"): (
        True,
        "the per-event-type variances genuinely differ at sf0.01 — a real "
        "rejection, not a dead threshold; the statistic column is live",
    ),
    ("stats_breusch_pagan", "reject_5pct"): (False, _NULL_TRUE),
    ("stats_brunner_munzel", "significant"): (False, _NULL_TRUE),
    ("stats_cochran_q", "rejected"): (False, _NULL_TRUE),
    ("stats_cvm", "rejected"): (False, _NULL_TRUE),
    ("stats_dunn_posthoc", "significant"): (False, _NULL_TRUE),
    ("stats_fdr_bh", "rejected"): (False, _NULL_TRUE),
    ("stats_friedman", "rejected"): (False, _NULL_TRUE),
    ("stats_jarque_bera", "normal_rejected"): (
        True,
        "the money-like value distribution is emphatically non-normal (the "
        "op's own docstring states it) — JB correctly rejects for every "
        "type; a real verdict, statistic live",
    ),
    ("stats_ljung_box", "autocorrelated"): (False, _NULL_TRUE),
    ("stats_logrank_test", "reject_5pct"): (False, _NULL_TRUE),
    ("stats_mood_median", "medians_differ"): (False, _NULL_TRUE),
    ("stats_odds_ratio", "significant"): (
        True,
        "the 2x2 fixture carries a genuine association at sf0.01 (CI "
        "excludes OR=1); known-answer replay recomputes the CI bounds",
    ),
    ("stats_tost_equivalence", "equivalent"): (
        False,
        "the parity arms cannot be PROVEN equivalent within the ±1pp "
        "margin at sf0.01 (the one-sided z's don't clear 1.645) — the "
        "honest TOST verdict; both z columns are live",
    ),
    ("text_gopher_rules", "rule_len"): (
        True,
        "corpus-wide pass: synthetic docs are all inside the length gate; "
        "the live decisions are rule_stop/rule_rep (both values taken)",
    ),
    ("text_gopher_rules", "rule_wordlen"): (
        True,
        "corpus-wide pass; live decision carried by rule_stop/rule_rep",
    ),
    ("text_gopher_rules", "rule_alpha"): (
        True,
        "corpus-wide pass; live decision carried by rule_stop/rule_rep",
    ),
}


def _bool_values(s: pd.Series) -> set[bool]:
    """Distinct non-null boolean values of a column; empty if not boolean.

    DuckDB's .df() yields dtype=bool for NOT-NULL boolean columns and
    dtype=object (True/False/None) for nullable ones — handle both without
    treating 0/1 integer columns as booleans.
    """
    if s.dtype == bool:
        return set(bool(v) for v in s.unique())
    if s.dtype == object:
        vals = [v for v in s.dropna().unique().tolist()]
        if vals and all(isinstance(v, (bool, np.bool_)) for v in vals):
            return set(bool(v) for v in vals)
    return set()


def boolean_problems(df: pd.DataFrame, name: str) -> list[str]:
    """Return the dead-decision violations for one oracle result."""
    problems: list[str] = []
    for c in df.columns:
        vals = _bool_values(df[c])
        if len(vals) != 1:
            continue  # non-boolean, empty, or live (both values) — fine
        (v,) = vals
        entry = BOOL_CONST_OK.get((name, c))
        if entry is None:
            problems.append(
                f"boolean column {c!r} is constant {v} over {len(df)} rows "
                "and not allowlisted — dead decision"
            )
        elif entry[0] != v:
            problems.append(
                f"boolean column {c!r} is constant {v} but the allowlist "
                f"pins {entry[0]} ({entry[1]})"
            )
    return problems


@pytest.mark.parametrize("name", sorted(registry.ORACLE))
def test_boolean_decisions_live_or_triaged(name, oracle_answer):
    problems = boolean_problems(oracle_answer, name)
    assert not problems, f"{name}: {problems}"


def test_allowlist_references_real_ops():
    """Stale allowlist entries (op renamed/removed) must fail loudly."""
    for n, _c in BOOL_CONST_OK:
        assert n in registry.ORACLE, f"BOOL_CONST_OK names unknown op {n!r}"


class TestGateIsNotVacuous:
    """A synthetic never-flipping boolean op must FAIL the checker."""

    def test_constant_true_unlisted_fails(self, gate_con):
        df = gate_con.execute(
            "SELECT l_orderkey, l_quantity > -1 AS positive "
            "FROM lineitem LIMIT 100"
        ).df()
        probs = boolean_problems(df, "synthetic_dead_boolean")
        assert probs == [
            "boolean column 'positive' is constant True over 100 rows "
            "and not allowlisted — dead decision"
        ]

    def test_wrong_polarity_fails(self):
        # An allowlisted column constant at the OPPOSITE value must fail:
        # the pin catches silent flips, not just silent deaths.
        df = pd.DataFrame({"drifted": [False]})
        probs = boolean_problems(df, "drift_positive_control")
        assert len(probs) == 1 and "pins True" in probs[0]

    def test_live_boolean_passes_even_if_listed(self):
        df = pd.DataFrame({"drifted": [True, False]})
        assert boolean_problems(df, "drift_positive_control") == []

    def test_nullable_object_booleans_detected(self):
        df = pd.DataFrame({"flag": pd.Series([True, None, True], dtype=object)})
        probs = boolean_problems(df, "nullable_clone")
        assert len(probs) == 1 and "constant True" in probs[0]

    def test_int_01_columns_are_not_booleans(self):
        df = pd.DataFrame({"bit": [1, 1, 1]})
        assert boolean_problems(df, "int_clone") == []
