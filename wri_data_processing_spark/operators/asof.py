"""As-of join (nearest right row with right_ts <= left_ts) for Spark.

Spark has no native ASOF JOIN. The naive encoding — range join + row_number —
is O(matches) and explodes when a key has many right rows before a left ts.
This implementation uses the union + last-non-null-window pattern:

1. Tag right rows (is_right=1) and left rows (is_right=0), unionByName.
2. Sort within each key by (ts, is_right DESC) so a right row at the exact
   left timestamp is visible to that left row.
3. ``last(value, ignorenulls=True)`` over rows UNBOUNDED PRECEDING..CURRENT
   carries the latest right-hand values forward.
4. Keep only left rows.

Cost: ONE shuffle of each side on the key (the union shares a single
exchange), then a linear window scan — no quadratic blowup, no broadcast
requirement. This is the 100 TB-safe plan; skewed keys can additionally be
salted by time-bucketing the window partition.

Reference parity: the reference has no joins at all (SURVEY.md §2.3) — this
is part of the mandated query-surface capability (J7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _tagged_union(
    left: DataFrame, right: DataFrame, left_ts: str, right_ts: str, carried: list[str]
) -> DataFrame:
    """Step 1 of both as-of joins: left rows (``_is_right`` = 0, NULL
    ``carried`` values) and right rows (``_is_right`` = 1, NULL left-only
    columns) in one frame, the join timestamp as ``_ats``."""
    l_tagged = left.withColumn("_ats", F.col(left_ts)).withColumn("_is_right", F.lit(0))
    for c in carried:
        if c not in l_tagged.columns:
            l_tagged = l_tagged.withColumn(c, F.lit(None))
    # Right rows contribute only key + ts + carried values.
    r_tagged = right.withColumn("_ats", F.col(right_ts)).withColumn("_is_right", F.lit(1))
    for c in left.columns:
        if c not in r_tagged.columns:
            r_tagged = r_tagged.withColumn(c, F.lit(None))
    return l_tagged.unionByName(r_tagged.select(*l_tagged.columns))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Left as-of join: latest right row per key with right_ts <= left_ts.

    ``right`` must contain ``on``, ``right_ts`` and ``value_cols``;
    ``value_cols`` (which may include ``right_ts``) are appended to each left
    row, NULL when no right row precedes it.
    """
    carried = [c for c in dict.fromkeys([*value_cols, right_ts])]
    left_cols = [c for c in left.columns]
    unioned = _tagged_union(left, right, left_ts, right_ts, carried)
    # Right rows sort before left rows at the same timestamp => "<=" semantics.
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("_ats").asc(), F.col("_is_right").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried_structs = F.last(
        F.when(F.col("_is_right") == 1, F.struct(*[F.col(c).alias(c) for c in carried])),
        ignorenulls=True,
    ).over(w)
    out = unioned.withColumn("_carried", carried_structs).filter(F.col("_is_right") == 0)
    for c in carried:
        out = out.withColumn(c, F.col("_carried")[c])
    return out.select(*left_cols, *[c for c in carried if c not in left_cols])


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Forward as-of join: EARLIEST right row per key with right_ts >=
    left_ts (the "next event after" lookup) — asof_join's _tagged_union with
    the window reversed: left rows sort BEFORE right rows at equal timestamps
    (so an exact-timestamp right row matches, ">=" semantics) and
    ``first(ignorenulls)`` scans CURRENT ROW..UNBOUNDED FOLLOWING.
    Same single-shuffle, no-blowup cost envelope as the backward join.
    """
    carried = [c for c in dict.fromkeys([*value_cols, right_ts])]
    unioned = _tagged_union(left, right, left_ts, right_ts, carried)
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("_ats"), F.col("_is_right"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    for c in carried:
        unioned = unioned.withColumn(c, F.first(c, ignorenulls=True).over(w))
    return unioned.filter(F.col("_is_right") == 0).drop("_ats", "_is_right")
