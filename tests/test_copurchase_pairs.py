"""Differential tests: the co-purchase builders in
``wri_data_processing_spark.queries.graph`` against a pure-Python reference
(per-order part sets, ``itertools.combinations`` over each sorted set).

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

from hypothesis import HealthCheck, Phase, example, given, settings
from hypothesis import strategies as st

from wri_data_processing_spark.queries.graph import (
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


def test_builders_on_empty_lineitem(spark):
    li = spark.createDataFrame([], _SCHEMA)
    assert order_baskets(li).count() == 0
    for min_orders in (1, 2, 3):
        assert copurchase_pairs(li, min_orders).count() == 0
    assert both_directions(copurchase_pairs(li, 2), "node", "nb").count() == 0
