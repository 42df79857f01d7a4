"""Degeneracy gate: every oracled fixture must be LIVE at the driver's SF.

r12's audits found NINE structurally vacuous oracles (dead date windows,
literals absent from the synthetic vocabulary, empty-by-construction
anti-joins, an all-NULL SUM) that had passed the driver's hash gate for up
to nine rounds because 0 rows == 0 rows and NULL == NULL. This module turns
that one-off audit into a standing regression net (VERDICT r12, item 1):

- every registered oracle runs against sf0.01 (the driver's correctness SF)
  and must return >= 1 row with NO column that is 100% NULL;
- a reviewed allowlist (one-line reason each) covers legitimately empty /
  all-NULL outputs — currently EMPTY, which is itself the r12 cleanup's
  receipt;
- the checker is proven non-vacuous by negative self-tests: a deliberately
  dead-windowed q6 clone and a WHERE-1=0 frame must FAIL it.

The gate checks the DuckDB side only, on purpose: the driver's gate is
spark_hash == oracle_hash, and test_registry_oracle.py proves that equality
locally for every op — so a live oracle forces a live Spark result, while a
dead oracle is exactly the vacuous-match failure mode this gate exists to
catch. DuckDB-only, the 434 oracles at sf0.01 take about 80 s on 4 cores,
paid once per session: test_boolean_gate reads the same answers (conftest
``oracle_answer``). The seven rows-only ops (no oracle to sweep) get the
same liveness contract on the Spark side at the bottom of this module.

First catch (found while building the gate): events_cusum_alarm's
first_alarm_day was all-NULL at sf0.01 — the 2*mu threshold scales with
volume so no alarm ever fired at driver SF; fixed to scale-free 3*sqrt(mu).
"""

from __future__ import annotations

import pandas as pd
import pytest

from wri_data_processing_spark import registry

registry.load_all()

# The gate runs at the correctness SF, sf0.01 (conftest ``gate_sf_dir``)
# — degeneracy at sf0.001 is tolerable (tiny fixtures can legitimately
# starve an op); degeneracy at sf0.01 means the driver's hash gate is
# comparing vacuum. A sweep at sf0.1 (the bench SF, experiments/
# degen_sweep.py) is also worth re-running each round: it caught
# graph_jaccard_linkpred's cn>=2 floor and q11's 0.1%-of-total fraction
# going empty as data GREW — the inverse of the cusum failure mode.

# Ops allowed to return ZERO rows at sf0.01. Every entry needs a one-line
# reason reviewed against the fixture. Currently empty: the r12
# de-vacuuming re-pointed every structurally-empty fixture at live data.
EMPTY_OK: dict[str, str] = {}

# (op, column) pairs allowed to be 100% NULL at sf0.01, with reasons.
# Currently empty: events_cusum_alarm's first_alarm_day — the one all-NULL
# column the initial sweep found — was a real dead branch and was fixed
# (threshold 2*mu -> 3*sqrt(mu)) rather than allowlisted.
NULL_COL_OK: dict[tuple[str, str], str] = {}


def degeneracy_problems(df: pd.DataFrame, name: str) -> list[str]:
    """Return the fixture-liveness violations for one oracle result."""
    problems: list[str] = []
    if len(df) == 0:
        if name not in EMPTY_OK:
            problems.append("0 rows — vacuous fixture (0==0 hash-match)")
        return problems
    for c in df.columns:
        if df[c].isna().all() and (name, c) not in NULL_COL_OK:
            problems.append(f"column {c!r} is 100% NULL over {len(df)} rows")
    return problems


@pytest.mark.parametrize("name", sorted(registry.ORACLE))
def test_fixture_is_live(name, oracle_answer):
    problems = degeneracy_problems(oracle_answer, name)
    assert not problems, f"{name}: {problems}"


def test_allowlists_reference_real_ops():
    """Stale allowlist entries (op renamed/removed) must fail loudly, not
    silently whitelist nothing."""
    for n in EMPTY_OK:
        assert n in registry.ORACLE, f"EMPTY_OK names unknown op {n!r}"
    for n, _c in NULL_COL_OK:
        assert n in registry.ORACLE, f"NULL_COL_OK names unknown op {n!r}"


class TestGateIsNotVacuous:
    """The checker must flag the exact failure shapes r12 shipped."""

    def test_dead_window_q6_clone_fails(self, gate_con):
        # q6's pre-r12 bug shape: a SUM over a date window predating the
        # synthetic epoch — one row, all-NULL aggregate.
        df = gate_con.execute(
            """
            SELECT SUM(l_extendedprice * l_discount) AS revenue
            FROM lineitem
            WHERE l_shipdate >= DATE '1894-01-01'
              AND l_shipdate < DATE '1895-01-01'
            """
        ).df()
        assert degeneracy_problems(df, "q6_dead_clone") == [
            "column 'revenue' is 100% NULL over 1 rows"
        ]

    def test_empty_by_construction_fails(self, gate_con):
        # join_left_anti / set_except's pre-r12 bug shape: 0 rows.
        df = gate_con.execute("SELECT r_name FROM region WHERE 1 = 0").df()
        assert degeneracy_problems(df, "anti_dead_clone") == [
            "0 rows — vacuous fixture (0==0 hash-match)"
        ]

    def test_live_fixture_passes(self, gate_con):
        df = gate_con.execute("SELECT r_regionkey, r_name FROM region").df()
        assert degeneracy_problems(df, "live") == []


# Rows-only ops have no oracle for the DuckDB-side sweep above, so their
# liveness is checked on the Spark side directly (same contract: >= 1 row,
# no 100%-NULL column at the driver SF). Seven ops today — cheap enough to
# execute at sf0.01 in-session.
ROWS_ONLY = sorted(set(registry.REGISTRY) - set(registry.ORACLE))


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_fixture_is_live(name, spark, gate_sf_dir):
    df = registry.REGISTRY[name](spark, gate_sf_dir).toPandas()
    problems = degeneracy_problems(df, name)
    assert not problems, f"{name}: {problems}"
