#!/usr/bin/env python
"""Diff the physical plans of every registered op between two git trees.

    python experiments/plan_diff.py BASE [HEAD] [op ...]
    python experiments/plan_diff.py

BASE and HEAD are git revisions; HEAD defaults to the working tree, so
`plan_diff.py <parent>` is the gate for a refactor and `plan_diff.py HEAD`
on a clean tree is the tool's self-check (every op identical). A revision
is checked out with `git worktree add --detach` under the temp dir and
removed afterwards. Each tree records its ops in one fresh process at
sf0.001 (SPARK_GRAFT_SF_DIR overrides). Per op the record holds:

- the formatted physical plan before execution, with exprIds, RDD ids,
  lambda-variable suffixes, plan ids, the UUIDs of written part files,
  io_ops' per-pid scratch root and the tree's own path taken out;
- the strategy, type and build side of every join, in that plan and in the
  plan of every frame the op localCheckpoints (recorded by wrapping
  localCheckpoint). A loop's per-round joins live only in those frames:
  the returned plan reads them back as RDD scans, so a round that starts
  broadcasting its edge list leaves the returned plan unchanged;
- the Exchange, Window, Sort, Python-node and pushed-filter-scan counts of
  each of those plans;
- the op's DuckDB oracle SQL and its sha256. A changed oracle text
  reports as `oracle text (same answer)` or `oracle text (answer differs)`:
  both texts are run on DuckDB over the same tables as the plans and
  compared as the oracle harness compares an op with its oracle.

It prints one line saying whether the two trees register the same op
names in the same order and hash `json.dumps(list(ORACLE.items()))` to the
same sha256, then `N/M identical`, one line per op that differs, then a
unified diff of each differing record. Before an op is reported it is recorded
again on its own, in a fresh process on each tree. exprIds then start from
the same counter on both sides, which clears the plans whose node order
follows them (RewriteDistinctAggregates orders Expand groups by expression
hash, so one op's Expand can reorder when an earlier op changed).

With no revision the tool records the working tree and rewrites PLANS.md
as one summary row per op.
"""

from __future__ import annotations

import difflib
import hashlib
import json
import os
import re
import signal
import subprocess
import sys
import tempfile
from collections import Counter

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

_NOISE = (
    (re.compile(r"#\d+"), "#"),  # exprIds
    (re.compile(r"RDD\[\d+\]"), "RDD[n]"),
    (re.compile(r"(lambda \w+)_\d+"), r"\1"),  # pyspark's fresh lambda names
    (re.compile(r"plan_id=\d+"), "plan_id=n"),
    (re.compile(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "<uuid>"),  # written part files
    (re.compile(r"(/tmp/wri_engine_scratch_)\d+"), r"\1<pid>"),
)
# A node of the formatted plan's tree, e.g. "   :  +- Sort (4)" or
# "+- BroadcastHashJoin Inner BuildRight (7)". The per-node detail blocks
# below the tree open with "(7) ..." and never match.
_NODE = re.compile(r"^[ :+|-]*([A-Z][^()\n]*?) +\(\d+\)$", re.M)
_PYTHON = re.compile(r"Python|InPandas|InArrow")
_PUSHED = re.compile(r"PushedFilters: \[(?!\])")


def normalize(plan: str, tree: str = "") -> str:
    """The plan with every token that differs between runs replaced."""
    if tree:
        plan = plan.replace(tree, "<tree>")
    for pattern, repl in _NOISE:
        plan = pattern.sub(repl, plan)
    return plan


def shape(plan: str) -> dict:
    """The plan's joins, in plan order, and its node counts."""
    nodes = _NODE.findall(plan)
    return {
        "joins": [n for n in nodes if "Join" in n.split()[0] or n.startswith("CartesianProduct")],
        "counts": {
            "Exchange": sum(n == "Exchange" for n in nodes),
            "Window": sum(n.startswith("Window") for n in nodes),
            "Sort": sum(n == "Sort" for n in nodes),
            "Python": sum(bool(_PYTHON.search(n)) for n in nodes),
            "PushedScans": len(_PUSHED.findall(plan)),
        },
    }


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def op_record(
    plan: str, checkpointed: list[str], error: str | None = None, tree: str = "", oracle: str | None = None
) -> dict:
    """What the diff compares for one op: the returned frame's normalized
    plan and shape, the shape of every frame it checkpointed, and its
    oracle SQL with that text's sha256 (both None for an op without one)."""
    return {
        "error": error,
        "oracle": None if oracle is None else _sha256(oracle),
        "oracle_sql": oracle,
        "plan": normalize(plan, tree),
        **shape(plan),
        "checkpoints": [shape(cp) for cp in checkpointed],
    }


def surface(names: list[str], oracle: dict[str, str]) -> dict:
    """A tree's registered op names in order and the sha256 of its oracles."""
    return {"registry": names, "oracle": _sha256(json.dumps(list(oracle.items())))}


def surface_line(base: dict, head: dict) -> str:
    """One line: do both trees register the same ops in the same order, and
    do their oracles hash the same?"""
    if base["registry"] == head["registry"]:
        names = f"identical ({len(head['registry'])} ops)"
    else:
        names = f"differ ({len(base['registry'])} -> {len(head['registry'])} ops)"
    if base["oracle"] == head["oracle"]:
        oracle = f"identical ({head['oracle']})"
    else:
        oracle = f"differ ({base['oracle']} -> {head['oracle']})"
    return f"REGISTRY names and order: {names}; ORACLE sha256: {oracle}"


def _counts(counts: dict) -> str:
    return " ".join(f"{k}={v}" for k, v in counts.items())


def render(rec: dict | None) -> list[str]:
    """A record as the lines its unified diff is taken over."""
    if rec is None:
        return []
    lines = [f"error: {rec['error']}"] if rec["error"] else []
    lines.append(f"oracle: {rec['oracle']}")
    lines.append(f"counts: {_counts(rec['counts'])}")
    lines += [f"join: {j}" for j in rec["joins"]]
    for i, cp in enumerate(rec["checkpoints"], 1):
        lines.append(f"checkpoint {i} counts: {_counts(cp['counts'])}")
        lines += [f"checkpoint {i} join: {j}" for j in cp["joins"]]
    return lines + rec["plan"].splitlines()


def _change(base: list[str], head: list[str]) -> str:
    b, h = Counter(base), Counter(head)
    return " ".join([f"-{j}" for j in (b - h).elements()] + [f"+{j}" for j in (h - b).elements()]) or "order"


def _shape_change(base: dict, head: dict) -> str:
    parts = [f"{k} {v}->{head['counts'][k]}" for k, v in base["counts"].items() if v != head["counts"][k]]
    if base["joins"] != head["joins"]:
        parts.append(f"joins {_change(base['joins'], head['joins'])}")
    return ", ".join(parts)


def _same_answer(base_sql: str, head_sql: str) -> bool:
    """Whether two oracle texts give the same answer on DuckDB over SF_DIR's
    tables, compared as the oracle harness compares an op with its oracle:
    the column names in order and the sorted, type-tagged rows. A text that
    fails answers with its error."""
    import duckdb

    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    from tests.oracle_harness import _normalize, duck_con

    def answer(sql: str):
        try:
            df = con.execute(sql).df()
        except duckdb.Error as exc:
            return f"{type(exc).__name__}: {exc}"
        return list(df.columns), _normalize(df)

    con = duck_con(SF_DIR)
    try:
        return answer(base_sql) == answer(head_sql)
    finally:
        con.close()


def _oracle_change(base: dict, head: dict) -> str:
    if base["oracle_sql"] is None or head["oracle_sql"] is None:
        return "oracle text"
    same = _same_answer(base["oracle_sql"], head["oracle_sql"])
    return f"oracle text ({'same answer' if same else 'answer differs'})"


def differences(base: dict | None, head: dict | None) -> str:
    """One line naming what differs between two records of an op."""
    if base is None or head is None:
        return "only in " + ("HEAD" if base is None else "BASE")
    out = [f"error {base['error']!r} -> {head['error']!r}"] if base["error"] != head["error"] else []
    if change := _shape_change(base, head):
        out.append(change)
    bcp, hcp = base["checkpoints"], head["checkpoints"]
    if len(bcp) != len(hcp):
        out.append(f"checkpointed frames {len(bcp)}->{len(hcp)}")
    frames: dict[str, list[int]] = {}  # one entry per distinct change
    for i, (b, h) in enumerate(zip(bcp, hcp), 1):
        if b != h:
            frames.setdefault(_shape_change(b, h), []).append(i)
    out += [f"checkpoint {','.join(map(str, idx))}: {change}" for change, idx in frames.items()]
    if base["plan"] != head["plan"]:
        out.append("plan text")
    if base["oracle"] != head["oracle"]:
        out.append(_oracle_change(base, head))
    return "; ".join(out)


def _record_main(tree: str, out: str, names: list[str]) -> None:
    """Record the given ops (all when none) of the tree at `tree`."""
    sys.path.insert(0, tree)
    from wri_data_processing_spark import registry
    from wri_data_processing_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="plan-diff")
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame class
    local_checkpoint = frame_cls.localCheckpoint
    checkpointed: list[str] = []

    def explain(df) -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")

    def recording_checkpoint(self, *args, **kwargs):
        checkpointed.append(explain(self))
        return local_checkpoint(self, *args, **kwargs)

    frame_cls.localCheckpoint = recording_checkpoint
    records = {}
    for name in names or sorted(registry.REGISTRY):
        checkpointed.clear()
        try:
            plan, error = explain(registry.REGISTRY[name](spark, SF_DIR)), None
        except Exception as exc:  # recorded, so a tree where an op fails still diffs
            plan, error = "", f"{type(exc).__name__}: {exc}".splitlines()[0]
        records[name] = op_record(plan, checkpointed, error, tree, registry.ORACLE.get(name))
    with open(out, "w") as f:
        json.dump({"surface": surface(list(registry.REGISTRY), registry.ORACLE), "ops": records}, f)


def _record(tree: str, tmp: str, label: str, names: list[str]) -> dict:
    """Record `names` (all ops when empty) of `tree` in a fresh process:
    {"surface": surface(...), "ops": {name: op_record(...)}}."""
    out, log = os.path.join(tmp, f"{label}.json"), os.path.join(tmp, f"{label}.log")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [tree, os.environ.get("PYTHONPATH")])))
    with open(log, "w") as f:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--record", tree, out, *names],
            cwd=tree, env=env, stdout=f, stderr=subprocess.STDOUT,
        )
    if proc.returncode:
        with open(log) as f:
            sys.exit(f"recording {label} failed:\n" + "".join(f.readlines()[-30:]))
    with open(out) as f:
        return json.load(f)


def _git(*args: str, check: bool = True) -> subprocess.CompletedProcess:
    return subprocess.run(["git", "-C", REPO_ROOT, *args], capture_output=True, text=True, check=check)


def _is_rev(arg: str) -> bool:
    return _git("rev-parse", "--verify", "--quiet", f"{arg}^{{commit}}", check=False).returncode == 0


def _record_both(trees: list[str], tmp: str, label: str, names: list[str]) -> list[dict]:
    return [_record(tree, tmp, side + label, names) for tree, side in zip(trees, ("base", "head"))]


def diff(revs: list[str], names: list[str], tmp: str) -> None:
    trees = []
    try:
        for i, rev in enumerate(revs):
            trees.append(os.path.join(tmp, f"tree{i}"))
            _git("worktree", "add", "--detach", "--quiet", trees[-1], rev)
        if len(trees) == 1:
            trees.append(REPO_ROOT)
        base_run, head_run = _record_both(trees, tmp, "", names)
        base, head = base_run["ops"], head_run["ops"]
        ops = sorted(set(base) | set(head))
        differing, cleared = {}, []
        for name in (n for n in ops if base.get(n) != head.get(n)):
            if name in base and name in head:
                b, h = (run["ops"][name] for run in _record_both(trees, tmp, f"_{name}", [name]))
            else:
                b, h = base.get(name), head.get(name)
            if b != h:
                differing[name] = (b, h)
            else:
                cleared.append(name)
    finally:
        for tree in trees:
            if tree != REPO_ROOT:
                _git("worktree", "remove", "--force", tree, check=False)
    print(surface_line(base_run["surface"], head_run["surface"]))
    print(f"{len(ops) - len(differing)}/{len(ops)} identical")
    if cleared:
        print(f"(identical only when recorded alone: {', '.join(cleared)})")
    for name, (b, h) in differing.items():
        print(f"{name}: {differences(b, h)}")
    labels = [*revs, "worktree"][:2]
    for name, (b, h) in differing.items():
        print()
        lines = difflib.unified_diff(render(b), render(h), f"{labels[0]}/{name}", f"{labels[1]}/{name}", lineterm="")
        print("\n".join(lines))


def _tally(joins: list[str]) -> str:
    return ", ".join(j if n == 1 else f"{j} ×{n}" for j, n in Counter(joins).items())


def write_plans(records: dict[str, dict]) -> None:
    rows = [
        "# PLANS — per-op plan summary",
        "",
        f"Written by `python experiments/plan_diff.py` from the working tree at "
        f"`{os.path.basename(SF_DIR.rstrip('/'))}`. One row per registered op: node "
        "counts of its formatted physical plan before execution, every join as "
        "strategy, type and build side, and the joins of the frames it "
        "localCheckpoints (a loop's rounds). `python experiments/plan_diff.py "
        "<rev>` diffs the full normalized plans against another tree.",
        "",
        "| op | Exchange | Window | Sort | Python | pushed scans | joins | checkpointed frames: joins |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, rec in sorted(records.items()):
        c, cps = rec["counts"], rec["checkpoints"]
        joins = f"error: {rec['error']}" if rec["error"] else _tally(rec["joins"])
        frames = f"{len(cps)}: {_tally([j for cp in cps for j in cp['joins']])}" if cps else ""
        cells = [f"`{name}`", c["Exchange"], c["Window"], c["Sort"], c["Python"], c["PushedScans"], joins, frames]
        rows.append("| " + " | ".join(str(cell).replace("|", "\\|") for cell in cells) + " |")
    with open(os.path.join(REPO_ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(rows) + "\n")
    print(f"PLANS.md written ({len(records)} ops)")


def main(argv: list[str]) -> None:
    if argv[:1] == ["--record"]:
        _record_main(argv[1], argv[2], argv[3:])
        return
    revs = []
    while argv and len(revs) < 2 and _is_rev(argv[0]):
        revs.append(argv.pop(0))
    if argv and not revs:
        sys.exit(f"not a revision: {argv[0]}\n{__doc__}")
    # A killed run must still remove its worktrees and temp dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    with tempfile.TemporaryDirectory(prefix="plan_diff_") as tmp:
        if revs:
            diff(revs, argv, tmp)
        else:
            write_plans(_record(REPO_ROOT, tmp, "worktree", [])["ops"])


if __name__ == "__main__":
    main(sys.argv[1:])
