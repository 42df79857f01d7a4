"""The event-log reducer, against a small recorded uncompressed Spark 4.1 log,
and the in-memory spans.

eventlog_small.jsonl was recorded on local[2] with AQE off and trimmed to the
listener events the reducer reads. It holds three jobs:
- group ``p1|relational|join_a``: a 2-partition range grouped into a 2-partition
  shuffle (2 stages, 4 tasks);
- group ``p1|graph|loop_b``: a UDF that raises on one row (1 stage, 2 tasks,
  one of them failed, the job aborted);
- no group: ``spark.range(5).count()`` (2 stages, 3 tasks).
"""

from __future__ import annotations

import json
import os
import sys
import time
import types

import pytest

from tracing import GroupStats, Interval, Tracer, patch_helpers, reduce_event_log

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def groups():
    with open(LOG) as f:
        return reduce_event_log(f)


def test_groups_found(groups):
    assert set(groups) == {"p1|relational|join_a", "p1|graph|loop_b", ""}


def test_counts_per_group(groups):
    got = {g: (s.jobs, s.stages, s.tasks, s.failed_tasks) for g, s in groups.items()}
    assert got == {
        "p1|relational|join_a": (1, 2, 4, 0),
        "p1|graph|loop_b": (1, 1, 2, 1),
        "": (1, 2, 3, 0),
    }


def test_every_task_end_is_attributed_once(groups):
    with open(LOG) as f:
        n = sum(json.loads(line)["Event"] == "SparkListenerTaskEnd" for line in f)
    assert sum(s.tasks for s in groups.values()) == n == 9


def test_shuffle_and_time_metrics(groups):
    join = groups["p1|relational|join_a"]
    assert join.shuffle_write_mb == pytest.approx(364e-6)
    assert join.shuffle_read_mb == pytest.approx(364e-6)
    assert join.task_busy_s == pytest.approx(0.905)
    assert join.task_cpu_s == pytest.approx(0.29657033)
    assert join.gc_s == pytest.approx(0.052)
    assert groups["p1|graph|loop_b"].shuffle_write_mb == 0.0


def test_group_stats_add():
    total = GroupStats()
    total.add(GroupStats(jobs=1, tasks=2, task_busy_s=0.5))
    total.add(GroupStats(jobs=2, tasks=3, task_busy_s=0.25))
    assert (total.jobs, total.tasks, total.task_busy_s) == (3, 5, 0.75)


def test_blank_lines_and_unknown_events_are_skipped():
    lines = ["", json.dumps({"Event": "SparkListenerEnvironmentUpdate"}), "\n"]
    assert reduce_event_log(lines) == {}


def test_spans_nest_and_share_the_pass_id():
    tr = Tracer(enabled=True)
    tr.pass_id = "p3"
    with tr.span("op"):
        with tr.span("plan"):
            pass
    op, plan = tr.spans
    assert plan.parent == 0 and op.parent is None
    assert op.pass_id == plan.pass_id == "p3"
    assert op.start <= plan.start <= plan.end <= op.end


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op") as sp:
        assert sp is None
    assert tr.spans == []


def test_patch_helpers_wraps_every_binding_and_restores(monkeypatch):
    def helper(x):
        return x + 1

    home = types.ModuleType("wri_data_processing_spark._perfbench_home")
    user = types.ModuleType("wri_data_processing_spark._perfbench_user")
    home.helper = helper
    user.helper = helper  # a `from home import helper` binding
    monkeypatch.setitem(sys.modules, home.__name__, home)
    monkeypatch.setitem(sys.modules, user.__name__, user)

    tr = Tracer(enabled=True)
    undo = patch_helpers(tr, {"home.helper": (home.__name__, "helper")})
    assert user.helper(1) == 2 and home.helper(2) == 3
    assert [s.name for s in tr.spans] == ["home.helper", "home.helper"]
    undo()
    assert home.helper is helper and user.helper is helper


@pytest.mark.parametrize(
    "wall, busy, steal, want",
    [(2.0, 6.0, 0.0, 2.0), (3.0, 6.0, 3.0, 2.0), (1.0, 0.0, 0.0, 1.0), (4.0, 1.0, 3.0, 1.0)],
)
def test_interval_scales_wall_by_the_share_of_cpu_not_stolen(wall, busy, steal, want):
    iv = Interval()
    iv.wall, iv.busy, iv.steal = wall, busy, steal
    assert iv.unstolen_s == pytest.approx(want)


def test_interval_measures_a_sleep():
    iv = Interval()
    time.sleep(0.05)
    iv.stop()
    assert iv.wall >= 0.05 and iv.busy >= 0.0 and iv.steal >= 0.0
    assert iv.unstolen_s <= iv.wall
