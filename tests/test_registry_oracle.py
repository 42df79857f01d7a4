"""Every registered query with an oracle must match DuckDB exactly.

This is the local twin of the driver's correctness gate (t2). Rows-only
queries are checked for execution + non-degenerate schema. Each op's frame
is the shared sf0.001 build (conftest ``op_build``) that the plan and schema
sweeps also read.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from tests.oracle_harness import compare, duck_con
from wri_data_processing_spark import registry
from wri_data_processing_spark.catalog import TABLES

registry.load_all()

ORACLE_NAMES = sorted(registry.ORACLE)
ROWS_ONLY_NAMES = sorted(set(registry.REGISTRY) - set(registry.ORACLE))


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(name, op_build, sf_con):
    problems = compare(op_build.df, sf_con, registry.ORACLE[name])
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_runs(name, op_build):
    assert len(op_build.df.columns) > 0
    # Must execute without error; row count >= 0 by construction.
    assert op_build.df.count() >= 0


@pytest.mark.parametrize("name", ["q3_shipping_priority"])
def test_shared_plan_is_the_plan_before_execution(name, op_build):
    """The sweeps read the plan the shared build captured before execution.
    This runs after test_oracle_match has executed the same frame, which
    finalizes its adaptive plan; the captured string must be the initial one."""
    op_build.df.collect()  # so the check holds when this test runs alone
    executed = op_build.df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan isFinalPlan=true" in executed
    assert "AdaptiveSparkPlan isFinalPlan=false" in op_build.plan


def test_markov_steady_without_transitions(spark, sf_dir, tmp_path):
    """With no events, no user has a transition: the op and its oracle both
    return no rows (the op once divided its Q30 start by zero event types)."""
    for t in TABLES:
        src = os.path.join(sf_dir, f"{t}.parquet")
        if t == "events":
            pq.write_table(pq.read_table(src).slice(0, 0), tmp_path / f"{t}.parquet")
        else:
            os.symlink(src, tmp_path / f"{t}.parquet")
    con = duck_con(str(tmp_path))
    try:
        df = registry.REGISTRY["graph_markov_steady"](spark, str(tmp_path))
        assert df.count() == 0
        assert not compare(df, con, registry.ORACLE["graph_markov_steady"])
    finally:
        con.close()
