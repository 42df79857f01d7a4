"""Query registry: the engine's declared operator surface.

Every operator from SURVEY.md §2 that is implemented registers here with a
``(spark, sf_dir) -> DataFrame`` callable and (when SQL-expressible) the
equivalent DuckDB oracle SQL. ``__spark_entry__.py`` simply re-exports these.

Contract notes (driver harness):
- Column names must match between the Spark result and the oracle SQL; the
  driver sorts columns by name before hashing values.
- Floating aggregates are rounded identically on both sides so that
  summation-order differences can't flip the value hash.
- Timestamps are formatted to strings ('yyyy-MM-dd HH:mm:ss') on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}
# Composed oracles (ops whose oracle embeds other ops' oracles, possibly
# from modules not imported yet), built by load_all after every import.
_COMPOSED: dict[str, Callable[[], str]] = {}


def query(
    name: str, oracle: str | Callable[[], str] | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Register an engine op. ``oracle=None`` => rows-only check (non-SQL op);
    a zero-argument callable is a composed oracle, which load_all calls
    once every module has registered."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = fn
        if callable(oracle):
            _COMPOSED[name] = oracle
        elif oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# Driver-sample priority: the correctness harness samples the FIRST ~50
# registered queries, so registration order decides which operators get a
# hard driver-verified CORRECTNESS row each round.
#
# Since r11 the order is DERIVED FROM HISTORY, not hand-curated (VERDICT
# r10 item 1): _derive_driver_sample_priority() parses every committed
# CORRECTNESS_r*.json and orders oracled ops (a) never-driver-green first
# (i.e. ops new this round), then (b) strictly oldest-last-green-first,
# alphabetical within a round cohort for determinism/idempotence. Rows-only
# ops (no SQL oracle possible) sort LAST — deliberately outside the sampled
# window: the driver records them as `no_oracle` ERR rows (r2's
# agg_freq_items proved it), which reads as red for zero information.
#
# HONEST FRESHNESS BOUND (restating the broken r7 rule): at ~377 oracled
# ops and a 50-row driver window, a full refresh cycle is ceil(377/50) = 8
# rounds. The old "no green row stale >5 rounds" promise is arithmetically
# unsatisfiable at this registry size; the invariant this ordering DOES
# guarantee is: every sampled window holds exactly the 50 stalest rows
# (new ops first), so no op's staleness ever exceeds the cycle length, and
# the max staleness across the registry is minimized every round.
_DRIVER_SAMPLE_PRIORITY: list[str] = []  # populated by load_all()


def driver_green_history() -> dict[str, int]:
    """Last driver-green round per op, parsed from CORRECTNESS_r*.json.

    Green = rows_match AND schema_match AND hash_match all true (the
    driver's own gate). Files live at the repo root (the registry's
    grandparent directory); a missing/corrupt file contributes nothing, so
    a fresh checkout without history simply treats every op as new.
    """
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last_green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                last_green[name] = max(last_green.get(name, 0), rnd)
    return last_green


def _derive_driver_sample_priority() -> list[str]:
    """History-derived staleness order (VERDICT r10 item 1).

    Oracled ops sort by (last-driver-green round, name) ascending — ops
    with NO green row ever (new this round) get round -1 and therefore go
    first; ties break alphabetically so the order is deterministic and
    idempotent under repeated load_all(). Rows-only ops (not oracle-able)
    append at the end, alphabetical, outside the sampled window.
    """
    last_green = driver_green_history()
    oracled = sorted(
        (n for n in REGISTRY if n in ORACLE),
        key=lambda n: (last_green.get(n, -1), n),
    )
    rows_only = sorted(n for n in REGISTRY if n not in ORACLE)
    return oracled + rows_only


def _apply_driver_sample_order() -> None:
    """Reorder REGISTRY in place so the stalest queries register first.

    Mutates the existing dict (callers hold references to it) rather than
    rebinding the module global.
    """
    global _DRIVER_SAMPLE_PRIORITY
    _DRIVER_SAMPLE_PRIORITY = _derive_driver_sample_priority()
    snapshot = dict(REGISTRY)
    missing = [n for n in _DRIVER_SAMPLE_PRIORITY if n not in snapshot]
    if missing:
        raise RuntimeError(f"priority list names unregistered queries: {missing}")
    REGISTRY.clear()
    for name in _DRIVER_SAMPLE_PRIORITY:
        REGISTRY[name] = snapshot[name]
    for name, fn in snapshot.items():
        if name not in REGISTRY:
            REGISTRY[name] = fn


def load_all() -> None:
    """Import every query module so registration side-effects run."""
    from wri_data_processing_spark.queries import (  # noqa: F401
        affinity,
        aggregates,
        data_quality,
        eval_metrics,
        events_analytics,
        flagship,
        geo,
        graph,
        io_ops,
        llm_dedup,
        llm_pipeline,
        llm_segments,
        llm_similarity,
        llm_text,
        multimodal,
        pii,
        relational,
        scalar_fns,
        scale_patterns,
        setops,
        sorts,
        stats_numeric,
        streaming_batch,
        tpch_extra,
        warehouse_ops,
        windows,
    )

    for name, build in _COMPOSED.items():
        ORACLE[name] = build()
    _apply_driver_sample_order()
