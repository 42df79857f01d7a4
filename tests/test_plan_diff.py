"""The plan-diff normalizer on canned formatted plans, no Spark session:
what changes from run to run must compare equal, and a changed join
strategy, an extra shuffle or a changed oracle text must not — also inside
the plan of a frame the op checkpointed, where a loop's per-round joins
live. A changed oracle text is also run on DuckDB at sf0.001, to say
whether its answer changed."""

from __future__ import annotations

from experiments.plan_diff import differences, op_record, render, surface, surface_line

_FINAL = """== Physical Plan ==
AdaptiveSparkPlan (6)
+- HashAggregate (5)
   +- Exchange (4)
      +- HashAggregate (3)
         +- Project (2)
            +- Scan ExistingRDD (1)


(1) Scan ExistingRDD
Output [2]: [node#{a}L, lbl#{b}L]
Arguments: [node#{a}L, lbl#{b}L], MapPartitionsRDD[{rdd}] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(2) Project
Output [2]: [lbl#{b}L, concat(/tmp/wri_engine_scratch_{pid}/out/part-00000-{uuid}-c000.snappy.parquet, cast(node#{a}L as string)) AS path#{c}]
Input [2]: [node#{a}L, lbl#{b}L]

(3) HashAggregate
Input [2]: [lbl#{b}L, path#{c}]
Keys [1]: [lbl#{b}L]
Functions [1]: [partial_max(aggregate(array(1.0), 0.0, lambdafunction((lambda acc_{lam}#{c} + lambda x_{lam}#{a}), lambda acc_{lam}#{c}, lambda x_{lam}#{a}, false)))]
Aggregate Attributes [1]: [max#{c}]
Results [2]: [lbl#{b}L, max#{c}]

(4) Exchange
Input [2]: [lbl#{b}L, max#{c}]
Arguments: hashpartitioning(lbl#{b}L, 4), ENSURE_REQUIREMENTS, [plan_id={plan}]

(5) HashAggregate
Input [2]: [lbl#{b}L, max#{c}]
Keys [1]: [lbl#{b}L]
Functions [1]: [max(1)]

(6) AdaptiveSparkPlan
Output [2]: [lbl#{b}L, max#{c}]
Arguments: isFinalPlan=false
"""

_ROUND = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- HashAggregate (8)
   +- Exchange (7)
      +- HashAggregate (6)
         +- Project (5)
            +- {join} (4)
               :- Exchange (2)
               :  +- Scan ExistingRDD (1)
               +- Exchange (3)
                  +- Scan ExistingRDD (1)
"""

_SHJ = "ShuffledHashJoin Inner BuildRight"
_BHJ = "BroadcastHashJoin Inner BuildLeft"


def _final(a=11, b=12, c=13, rdd=40, pid=4242, lam=7, plan=55, uuid="e202478f-d922-49d7-b2c3-60b822f3b208") -> str:
    return _FINAL.format(a=a, b=b, c=c, rdd=rdd, pid=pid, lam=lam, plan=plan, uuid=uuid)


def _record(final: str, round_joins: list[str]) -> dict:
    return op_record(final, [_ROUND.format(join=j) for j in round_joins])


def test_run_dependent_ids_compare_equal():
    base = _record(_final(), [_SHJ, _SHJ])
    head = _record(
        _final(a=901, b=77, c=5, rdd=3, pid=17, lam=123, plan=9, uuid="4bc24a4e-1463-41d8-9dc8-747735c83ba4"),
        [_SHJ, _SHJ],
    )
    assert base == head
    assert render(base) == render(head)
    assert "#" in base["plan"] and "#1" not in base["plan"]
    assert "RDD[n]" in base["plan"] and "wri_engine_scratch_<pid>" in base["plan"]
    assert "part-00000-<uuid>-c000" in base["plan"]
    assert "lambda acc#" in base["plan"] and "plan_id=n" in base["plan"]


def test_tree_path_is_taken_out():
    final = _final().replace("/tmp/wri_engine_scratch_4242", "/work/tree_a/data")
    moved = _final().replace("/tmp/wri_engine_scratch_4242", "/work/tree_b/data")
    assert op_record(final, [], tree="/work/tree_a") == op_record(moved, [], tree="/work/tree_b")


def test_join_flip_inside_a_checkpointed_frame_differs():
    base = _record(_final(), [_SHJ, _SHJ, _SHJ])
    head = _record(_final(), [_SHJ, _BHJ, _BHJ])
    assert base["plan"] == head["plan"] and base["joins"] == head["joins"]
    assert base != head
    assert base["checkpoints"][1]["joins"] == [_SHJ]
    line = differences(base, head)
    assert line == f"checkpoint 2,3: joins -{_SHJ} +{_BHJ}"


def test_extra_exchange_differs():
    extra = _final().replace(
        "   +- Exchange (4)\n", "   +- Exchange (4)\n      +- Exchange (9)\n"
    )
    base, head = _record(_final(), []), _record(extra, [])
    assert base["counts"]["Exchange"] == 1 and head["counts"]["Exchange"] == 2
    assert differences(base, head) == "Exchange 1->2; plan text"


def test_counts_read_the_tree_not_the_node_details():
    rec = _record(_final(), [_SHJ])
    assert rec["counts"] == {"Exchange": 1, "Window": 0, "Sort": 0, "Python": 0, "PushedScans": 0}
    assert rec["joins"] == []
    assert rec["checkpoints"][0] == {
        "joins": [_SHJ],
        "counts": {"Exchange": 3, "Window": 0, "Sort": 0, "Python": 0, "PushedScans": 0},
    }


def test_oracle_text_and_surface_differ():
    """A changed oracle text is run on DuckDB on both sides: a rewrite that
    keeps the answer reads `same answer`, one that changes a value's type
    reads `answer differs`."""
    sql = "SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey"
    base = op_record(_final(), [], oracle=sql)
    assert base == op_record(_final(), [], oracle=sql)
    assert op_record(_final(), [])["oracle"] is None
    assert differences(base, op_record(_final(), [])) == "oracle text"
    head = op_record(_final(), [], oracle=sql.replace("COUNT(*)", "COUNT(l_partkey)"))
    assert differences(base, head) == "oracle text (same answer)"
    assert f"oracle: {head['oracle']}" in render(head)
    head = op_record(_final(), [], oracle=sql.replace("COUNT(*)", "CAST(COUNT(*) AS DOUBLE)"))
    assert differences(base, head) == "oracle text (answer differs)"
    a = surface(["op_a", "op_b"], {"op_a": sql})
    assert surface_line(a, surface(["op_a", "op_b"], {"op_a": sql})) == (
        f"REGISTRY names and order: identical (2 ops); ORACLE sha256: identical ({a['oracle']})"
    )
    b = surface(["op_b", "op_a"], {"op_a": sql + " "})
    assert surface_line(a, b) == (
        f"REGISTRY names and order: differ (2 -> 2 ops); ORACLE sha256: differ ({a['oracle']} -> {b['oracle']})"
    )
