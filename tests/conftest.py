"""Shared fixtures: one SparkSession per test session, the sf0.001 test data,
and the correctness SF the gates run at (sf0.01).

The registry sweeps read one shared result per op instead of recomputing it
in every test:

- ``op_build``: the op's sf0.001 frame, its schema, its physical plan as it
  reads before anything executes the frame, and the plan of every frame the
  build ``localCheckpoint``ed (test_registry_oracle, test_join_shape_sweep,
  test_driver_safety, test_python_boundary_sweep);
- ``oracle_answer``: the op's DuckDB oracle answer at sf0.01
  (test_degeneracy_gate, test_boolean_gate).

Both take the op from the test's ``name`` parameter. The tests that read
them run op by op (``pytest_collection_modifyitems`` below), and each cache
keeps only the latest op: the result is computed once, and dropped when the
next op's tests start. At most one op's frame, and the blocks it
checkpointed, is alive at a time.
"""

from __future__ import annotations

import os
import sys
from typing import NamedTuple

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from tests.oracle_harness import duck_con
from wri_data_processing_spark import registry
from wri_data_processing_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
# The correctness SF: the degeneracy and boolean gates and the spark.ml pins
# are measured there. Re-run the gates at other SFs with
# experiments/degen_sweep.py --sf, not by pointing this at them.
GATE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_DEGEN_SF_DIR", os.path.join(os.path.dirname(SF_DIR), "sf0.01")
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="wri-engine-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def gate_sf_dir():
    return GATE_SF_DIR


@pytest.fixture(scope="session")
def sf_con(sf_dir):
    """DuckDB over the sf0.001 tables, for the oracle comparison."""
    con = duck_con(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="session")
def gate_con(gate_sf_dir):
    """DuckDB over the sf0.01 tables, for the gates."""
    con = duck_con(gate_sf_dir)
    yield con
    con.close()


class OpBuild(NamedTuple):
    df: DataFrame
    schema: StructType
    plan: str  # executedPlan().toString() before df has executed
    # The same for each frame the build localCheckpointed, in call order. A
    # loop's rounds live only there: the returned plan reads them as RDD scans.
    checkpoint_plans: tuple[str, ...]


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class LatestOnly:
    """Computes a value per key and keeps only the latest key's value."""

    def __init__(self, compute):
        self._compute = compute
        self.clear()

    def clear(self) -> None:
        self._key = self._value = None

    def get(self, key):
        if key != self._key:
            self.clear()  # release the previous value before computing the next
            self._value = self._compute(key)
            self._key = key
        return self._value


@pytest.fixture(scope="session")
def op_builds(spark, sf_dir):
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame class
    local_checkpoint = frame_cls.localCheckpoint

    def build(name: str) -> OpBuild:
        checkpointed = []

        def recording_checkpoint(self, *args, **kwargs):
            checkpointed.append(_plan(self))
            return local_checkpoint(self, *args, **kwargs)

        frame_cls.localCheckpoint = recording_checkpoint
        try:
            df = registry.REGISTRY[name](spark, sf_dir)
        finally:
            frame_cls.localCheckpoint = local_checkpoint
        # Read the plan now: once test_oracle_match executes df, executedPlan()
        # returns the final post-AQE plan, not the plan the sweeps check.
        return OpBuild(df, df.schema, _plan(df), tuple(checkpointed))

    builds = LatestOnly(build)
    yield builds
    builds.clear()


@pytest.fixture
def op_build(name, op_builds) -> OpBuild:
    """The shared sf0.001 build of the op the test is parametrized with."""
    return op_builds.get(name)


@pytest.fixture(scope="session")
def oracle_answers(gate_con):
    answers = LatestOnly(lambda name: gate_con.execute(registry.ORACLE[name]).df())
    yield answers
    answers.clear()


@pytest.fixture
def oracle_answer(name, oracle_answers):
    """The shared sf0.01 DuckDB answer of the test's op; read it, do not modify it."""
    return oracle_answers.get(name)


def _shared_op(item) -> str | None:
    if {"op_build", "oracle_answer"} & set(getattr(item, "fixturenames", ())):
        return item.callspec.params["name"]
    return None


@pytest.hookimpl(trylast=True)
def pytest_collection_modifyitems(items):
    """Run the tests that read a shared result op by op, in one block where
    the first of them was collected; within an op, in collection order."""
    shared = [item for item in items if _shared_op(item) is not None]
    if not shared:
        return
    at = items.index(shared[0])
    rest = [item for item in items if _shared_op(item) is None]
    shared.sort(key=_shared_op)
    items[:] = rest[:at] + shared + rest[at:]
