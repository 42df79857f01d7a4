"""Every registered query with an oracle must match DuckDB exactly.

This is the local twin of the driver's correctness gate (t2). Rows-only
queries are checked for execution + non-degenerate schema. Each op's frame
is the shared sf0.001 build (conftest ``op_build``) that the plan and schema
sweeps also read.
"""

from __future__ import annotations

import pytest

from tests.oracle_harness import compare
from wri_data_processing_spark import registry

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
