"""Differential tests: the co-purchase builders in
``wri_data_processing_spark.queries.graph`` — the Spark ones and their
DuckDB SQL spellings, which the oracles are rendered from — against one
pure-Python reference (per-order part sets, ``itertools.combinations`` over
each sorted set).

Each hypothesis example is one batch of small independent "worlds" (random
``(orderkey, partkey)`` lines over few orders and parts, so lines repeat and
one-part orders are common). World ``w`` owns the keys ``w*100 + k``, so its
orders and parts never meet another world's and one frame carries the whole
batch. Draws are derandomized (the same every run); fixed edge worlds ride
along in every batch.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from itertools import combinations

import duckdb
import pandas as pd
from hypothesis import HealthCheck, Phase, example, given, settings
from hypothesis import strategies as st

from wri_data_processing_spark.queries.graph import (
    _both_directions_sql,
    _copurchase_sql,
    both_directions,
    copurchase_pairs,
    order_baskets,
)

BATCH = 40
_SETTINGS = settings(
    max_examples=3,
    derandomize=True,
    database=None,
    deadline=None,
    phases=[Phase.explicit, Phase.generate],  # no shrinking: the assert names the pair
    suppress_health_check=list(HealthCheck),
)
_world = st.lists(st.tuples(st.integers(0, 5), st.integers(0, 8)), max_size=25)
_batches = st.lists(_world, min_size=BATCH, max_size=BATCH)

EDGE_WORLDS = [
    [(1, 3)],  # one one-part order
    [(1, 3), (1, 3), (1, 3)],  # one part on repeated lines
    [(1, 3), (1, 4), (1, 3)],  # a repeated line inside a real pair
    [(1, 3), (1, 4), (2, 4), (2, 3), (3, 3), (3, 4), (3, 5)],  # support 3, 1, 1
    [(1, 7), (2, 7), (3, 7)],  # three one-part orders, same part
]
_SCHEMA = "l_orderkey long, l_partkey long"


def _lines(batch: list[list[tuple[int, int]]]) -> list[tuple[int, int]]:
    worlds = EDGE_WORLDS + batch
    return [(w * 100 + ok, w * 100 + pk) for w, lines in enumerate(worlds) for ok, pk in lines]


def _ref_baskets(lines) -> dict[int, list[int]]:
    parts = defaultdict(set)
    for ok, pk in lines:
        parts[ok].add(pk)
    return {ok: sorted(ps) for ok, ps in parts.items()}


def _ref_support(lines) -> Counter:
    return Counter(p for ps in _ref_baskets(lines).values() for p in combinations(ps, 2))


@_SETTINGS
@given(batch=_batches)
@example(batch=[])
def test_copurchase_pairs_match_combinations(spark, batch):
    lines = _lines(batch)
    li = spark.createDataFrame(lines, _SCHEMA)
    support = _ref_support(lines)

    baskets = order_baskets(li)
    assert baskets.columns == ["l_orderkey", "ps"]
    assert {r["l_orderkey"]: r["ps"] for r in baskets.collect()} == _ref_baskets(lines)

    distinct = copurchase_pairs(li)
    assert distinct.columns == ["u", "v"]
    assert sorted(map(tuple, distinct.collect())) == sorted(support)

    for min_orders in (2, 3):
        counted = copurchase_pairs(li, min_orders)
        assert counted.columns == ["u", "v", "n"]
        got = sorted(map(tuple, counted.collect()))
        assert got == sorted((u, v, n) for (u, v), n in support.items() if n >= min_orders)


@_SETTINGS
@given(batch=_batches)
@example(batch=[])
def test_both_directions_emits_each_pair_twice(spark, batch):
    lines = _lines(batch)
    li = spark.createDataFrame(lines, _SCHEMA)
    support = _ref_support(lines)

    edges = both_directions(copurchase_pairs(li), "src", "dst")
    assert edges.columns == ["src", "dst"]
    want = Counter(e for u, v in support for e in ((u, v), (v, u)))
    assert Counter(map(tuple, edges.collect())) == want

    weighted = both_directions(copurchase_pairs(li, 2), "node", "nb")
    assert weighted.columns == ["node", "nb", "n"]
    want = Counter(
        e for (u, v), n in support.items() if n >= 2 for e in ((u, v, n), (v, u, n))
    )
    assert Counter(map(tuple, weighted.collect())) == want


def _duck_pairs(lines, min_orders: int, select: str = "SELECT * FROM pairs"):
    """(columns, rows) of ``select`` after ``_copurchase_sql(min_orders)``
    over a DuckDB ``lineitem`` holding ``lines``."""
    con = duckdb.connect()
    con.register("lineitem", pd.DataFrame(lines, columns=["l_orderkey", "l_partkey"], dtype="int64"))
    cur = con.execute(f"WITH {_copurchase_sql(min_orders)}\n{select}")
    return [d[0] for d in cur.description], cur.fetchall()


@_SETTINGS
@given(batch=_batches)
@example(batch=[])
def test_copurchase_sql_matches_combinations(batch):
    lines = _lines(batch)
    support = _ref_support(lines)

    cols, rows = _duck_pairs(lines, 1)
    assert cols == ["u", "v"] and sorted(rows) == sorted(support)
    for min_orders in (2, 3):
        cols, rows = _duck_pairs(lines, min_orders)
        assert cols == ["u", "v", "n"]
        assert sorted(rows) == sorted((u, v, n) for (u, v), n in support.items() if n >= min_orders)

    cols, rows = _duck_pairs(lines, 1, _both_directions_sql("pairs", "src", "dst"))
    assert cols == ["src", "dst"]
    assert Counter(rows) == Counter(e for u, v in support for e in ((u, v), (v, u)))
    cols, rows = _duck_pairs(lines, 2, _both_directions_sql("pairs", "node", "nb"))
    assert cols == ["node", "nb", "n"]
    want = Counter(
        e for (u, v), n in support.items() if n >= 2 for e in ((u, v, n), (v, u, n))
    )
    assert Counter(rows) == want


def test_builders_on_empty_lineitem(spark):
    li = spark.createDataFrame([], _SCHEMA)
    assert order_baskets(li).count() == 0
    for min_orders in (1, 2, 3):
        assert copurchase_pairs(li, min_orders).count() == 0
        assert _duck_pairs([], min_orders)[1] == []
    assert both_directions(copurchase_pairs(li, 2), "node", "nb").count() == 0
    assert _duck_pairs([], 2, _both_directions_sql("pairs", "node", "nb")) == (["node", "nb", "n"], [])
