"""Iterative graph algorithms as DataFrame programs.

Complements the label-propagation connected components in llm_dedup.py
(dedup_clusters) with PageRank over the co-purchase graph — the template for
any fixed-point iteration in Spark: a driver-side Python loop that REBUILDS
the plan each round (join ranks to edges, scatter contributions, gather by
sum), with cache()/checkpoint() breaking lineage every few rounds at scale.

Determinism: ranks are Q30 FIXED-POINT INT64, not doubles. Each update is
    rank' = floor(0.15 * 2^30) + (17 * sum(rank // degree)) // 20
— pure integer multiply/floor-divide/sum, so the result is bit-identical
regardless of partitioning, summation order, or engine (the DuckDB oracle
unrolls the same five iterations in SQL). The float PageRank everyone
writes first is NOT reproducible across partition counts; quantization is
the engineering fix, same trick as the centroid in events_analytics.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.registry import query


def order_baskets(lineitem: DataFrame) -> DataFrame:
    """Each order's sorted distinct parts: ``(l_orderkey, ps)`` with ``ps =
    array_sort(collect_set(l_partkey))``. collect_set is the per-order
    distinct (map-side combined); array_sort makes the array deterministic
    across partitionings."""
    return lineitem.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )


def copurchase_pairs(lineitem: DataFrame, min_orders: int = 1) -> DataFrame:
    """The undirected co-purchase graph every graph and basket op reads:
    part pairs ``(u, v)``, ``u < v``, ordered together in at least
    ``min_orders`` orders. ``min_orders=1`` is the distinct pair set;
    larger values add the support count ``n`` (orders holding both parts).

    Pairs are generated IN-ROW from the per-order sets: a double explode
    of ``order_baskets`` keeps ``u < v``, replacing the distinct + (order,
    part) self-join, which shuffled the item table twice before the pair
    aggregate. Each order emits a pair once, so the count is exactly the
    number of orders; the sorted explode keeps the pair stream locally
    ordered for the map-side combine (measured faster than unsorted, r15).

    A frame checkpointed from this plan keeps this plan's size estimate,
    far below the self-join's (2.98e6 vs 6.0e12 B for the same 2.39M
    edges at sf0.1), so a downstream join may plan as a broadcast where
    the self-join planned a shuffle: check the per-round join strategy.
    """
    pairs = (
        order_baskets(lineitem)
        .select(F.explode("ps").alias("u"), "ps")
        .select("u", F.explode("ps").alias("v"))
        .filter(F.col("u") < F.col("v"))
    )
    if min_orders == 1:
        return pairs.distinct()
    return (
        pairs.groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_orders)
    )


def both_directions(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """The symmetric edge list of undirected ``(u, v)`` pairs: rows
    ``(a=u, b=v)`` and ``(a=v, b=u)`` for each pair, other columns carried
    onto both."""
    rest = [c for c in pairs.columns if c not in ("u", "v")]
    return pairs.select(F.col("u").alias(a), F.col("v").alias(b), *rest).unionAll(
        pairs.select(F.col("v").alias(a), F.col("u").alias(b), *rest)
    )


def _copurchase_sql(min_orders: int = 1) -> str:
    """``copurchase_pairs`` in DuckDB SQL, as the first two CTEs of an
    oracle's WITH list: ``items``, the distinct (order, part) rows, and
    ``pairs``, the part pairs ``(u, v)``, ``u < v``, ordered together —
    distinct for ``min_orders=1``, else with the support count ``n`` and
    kept where ``n >= min_orders``."""
    if min_orders == 1:
        cols, having = "DISTINCT a.l_partkey AS u, b.l_partkey AS v", ""
    else:
        cols = "a.l_partkey AS u, b.l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS n"
        having = f"\n      GROUP BY 1, 2 HAVING COUNT(*) >= {min_orders}"
    return f"""
    items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS MATERIALIZED (
      SELECT {cols}
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey{having})"""


def _both_directions_sql(src: str, a: str, b: str) -> str:
    """``both_directions`` in DuckDB SQL: a query over the ``(u, v)`` rows
    of ``src`` giving ``(a=u, b=v)`` and ``(a=v, b=u)`` for each, other
    columns carried onto both."""
    return (
        f"SELECT u AS {a}, v AS {b}, * EXCLUDE (u, v) FROM {src}\n"
        f"      UNION ALL SELECT v AS {a}, u AS {b}, * EXCLUDE (u, v) FROM {src}"
    )


_Q30 = 1_073_741_824  # 2^30, fixed-point scale: rank 1.0 == 2^30
_TELEPORT_Q = 161_061_273  # floor(0.15 * 2^30)
_ITERS = 5


# The undirected co-purchase graph both PageRank oracles iterate over:
# `edges` holds each edge in both directions and `deg` each node's degree.
_PAGERANK_GRAPH_CTES = f"""{_copurchase_sql()},
    edges AS ({_both_directions_sql("pairs", "node", "nb")}),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
            FROM edges GROUP BY node),"""


def _pagerank_iter_sql() -> str:
    """Unrolled 5-iteration PageRank CTE chain (DuckDB has no aggregate in
    recursive CTEs, so the fixed iteration count is written out)."""
    parts = [
        _PAGERANK_GRAPH_CTES
        + """
    r0 AS (SELECT node, CAST(1073741824 AS BIGINT) AS rq FROM deg)"""
    ]
    for k in range(1, _ITERS + 1):
        parts.append(
            f"""
    r{k} AS (
      SELECT e.nb AS node,
             CAST(161061273 + (17 * SUM(r.rq // d.degree)) // 20 AS BIGINT) AS rq
      FROM edges e
      JOIN r{k - 1} r ON e.node = r.node
      JOIN deg d ON e.node = d.node
      GROUP BY e.nb
    )"""
        )
    return ",".join(parts)


@query(
    "graph_pagerank",
    oracle=f"""
    WITH {_pagerank_iter_sql()}
    SELECT node, rq AS rank_q, rq / 1073741824.0 AS rank
    FROM r{_ITERS}
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, {5} synchronous iterations) over the
    undirected co-purchase part graph, in Q30 integer fixed point.

    r15 optimization round, measured warm+interleaved at sf0.1 (noop sink):

    - **Edge build via per-order sets, not a self-join**: see
      ``copurchase_pairs``.
    - **Edges hash-partitioned on node BEFORE the checkpoint** (guide §2.4:
      two operations keyed the same way share one exchange): LogicalRDD
      preserves the partitioning, so each iteration's scatter join reuses
      the in-memory edge partitioning and only the NODE-sized rank table
      moves — before, all 2.4M edge rows reshuffled EVERY iteration.
    - **Degree carried ON the edge row** (guide §2.4 again): a window count
      over the node-partitioned edges (no sort — unbounded frame — and the
      partitionBy reuses the repartition exchange) stamps degree(node) onto
      every edge before the checkpoint, so there is NO degree table and NO
      per-iteration rank⋈degree join at all; each iteration is exactly one
      edges⋈ranks join + one gather aggregate. ``rq div degree`` evaluated
      per edge row is the same integer as per node, and the gathered sum is
      the same multiset — bit-identical. (Measured over the
      shares-on-node-table intermediate: 4.87 -> 3.87 s median.)
    - **First iteration folded**: r0 is the constant 2^30, so iteration 1's
      scatter is ``2^30 div degree`` projected straight off the checkpointed
      edges — no join.
    - The unrolled plan collapses from 208 Exchange nodes (5 replayed
      copies of the edge derivation; plans/r15/graph_pagerank_before.txt)
      to one derivation + 5 join/aggregate rounds (.._after.txt).

    Measured vs the r14 shape: 7.4 -> 3.9 s median (interleaved, noop; the
    intermediate shares-on-node-table design from the first half of this
    round measured 4.6-4.9). At 100 TB the same structure holds —
    checkpoint the degree-stamped edge list partitioned by node once, move
    only rank-sized tables per iteration — and the heavy-hitter nodes this
    very query surfaces get the salted-join treatment from
    scale_patterns.join_skew_salted. The final double is rank_q / 2^30 — an
    exact binary scale, so even the float projection is bit-identical.
    """
    from pyspark.sql import Window

    edges = (
        both_directions(copurchase_pairs(table(spark, sf_dir, "lineitem")), "node", "nb")
        .repartition("node")
        .withColumn(
            "degree", F.count(F.lit(1)).over(Window.partitionBy("node")).cast("long")
        )
        .localCheckpoint()
    )
    ranks = None  # r0 = 2^30 for every node; folded into the first scatter
    for it in range(_ITERS):
        if ranks is None:
            contribs = edges.select(
                F.col("nb").alias("node"), F.expr(f"{_Q30} div degree").alias("contrib")
            )
        else:
            contribs = edges.join(ranks, "node").select(
                F.col("nb").alias("node"), F.expr("rq div degree").alias("contrib")
            )
        ranks = contribs.groupBy("node").agg(
            F.expr(f"CAST({_TELEPORT_Q} + (17 * sum(contrib)) div 20 AS BIGINT)").alias("rq")
        )
    return ranks.select(
        "node",
        F.col("rq").alias("rank_q"),
        (F.col("rq") / F.lit(float(_Q30))).alias("rank"),
    )


def _triangles_sql() -> str:
    """``_support2_triangles``' triangles in DuckDB SQL: a query over the
    support-2 ``pairs`` CTE of ``_copurchase_sql(2)`` giving every triangle
    once as its corners (x, y, z), x < y < z."""
    return (
        "SELECT e1.u AS x, e1.v AS y, e2.v AS z\n"
        "      FROM pairs e1 JOIN pairs e2 ON e1.v = e2.u\n"
        "                    JOIN pairs e3 ON e1.u = e3.u AND e2.v = e3.v"
    )


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {_copurchase_sql(2)}
    SELECT CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM ({_triangles_sql()})) AS BIGINT) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase graph (clustering structure).

    Edges: part pairs co-ordered >= 2 times (the support threshold is the
    scale guard — it prunes the quadratic pair tail before any graph
    work). Triangles via the canonical oriented two-path join: edges are
    stored once with u < v, so each triangle a<b<c is found exactly
    once as (a,b)+(b,c) closed by (a,c) — no /6 correction, no duplicate
    candidates. Two joins on the edge list; at 100 TB the standard
    refinement is degree-ordering the orientation so high-degree hubs
    generate few open wedges.
    """
    e, closed = _support2_triangles(spark, sf_dir)
    n_edges = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_tri = closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    return n_edges.crossJoin(n_tri)


def _support2_triangles(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(e, tri): the support-2 co-purchase edges (u < v), localCheckpointed,
    and every triangle once as its corners (x, z, y), x < y < z: the wedges
    x-y-z of two oriented edges closed by the edge x-z.

    The edge list feeds every branch (two wedge sides, the closing join and
    the caller's own use); materialize it once — it is the post-threshold
    survivor set (tiny by construction), and without this the pair
    derivation re-executes per branch (AQE breaks ReusedExchange on
    self-joins — measured on the jaccard plan)."""
    e = copurchase_pairs(table(spark, sf_dir, "lineitem"), 2).drop("n").localCheckpoint()
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    wedges = e1.join(e2, "y")
    return e, wedges.join(e.select(F.col("u").alias("x"), F.col("v").alias("z")), ["x", "z"])


_CC_ROUNDS = 6  # pointer-jumping rounds: component diameter up to 2^6


def _cc_oracle() -> str:
    """Unrolled pointer-jumping min-label rounds: a node's next label is the
    least of its label, its label's label and its neighbors' labels.
    MATERIALIZED per round: each round reads the previous labels three
    times, so the unhinted chain inlines 3^6 copies."""
    parts = [
        f"""{_copurchase_sql()},
    edges AS MATERIALIZED ({_both_directions_sql("pairs", "node", "nb")}),
    l0 AS MATERIALIZED (SELECT node AS n, node AS m
      FROM (SELECT DISTINCT node FROM edges))"""
    ]
    for k in range(1, _CC_ROUNDS + 1):
        parts.append(
            f"""
    l{k} AS MATERIALIZED (
      SELECT l.n, LEAST(l.m, pj.m, nbmin.m) AS m
      FROM l{k - 1} l
      JOIN l{k - 1} pj ON l.m = pj.n
      JOIN (SELECT e.node AS n, MIN(nl.m) AS m
            FROM edges e JOIN l{k - 1} nl ON e.nb = nl.n GROUP BY 1) nbmin
        ON l.n = nbmin.n)"""
        )
    return (
        ",".join(parts)
        + f"""
    SELECT m AS component, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM l{_CC_ROUNDS} GROUP BY 1 ORDER BY 1"""
    )


@query("graph_connected_components", oracle=f"WITH {_cc_oracle()}")
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-purchase graph — the general-graph
    registration of the pointer-jumping min-label machinery dedup_clusters
    applies to near-dup edges (llm_dedup.propagate_min_labels), completing
    the graph family: PageRank (centrality), triangles (clustering),
    degrees (shape), components (reachability). Output: one row per
    component with its min-part-id label and node count.

    Exactness: min-label propagation converges to the per-component
    MINIMUM regardless of iteration strategy, so the engine's
    pointer-jumping fixpoint (measured: 3 rounds at both test SFs) and
    the oracle's SIX unrolled pointer-jumping rounds (covering component
    diameter up to 2^6; a bigger-diameter fixture would mismatch LOUDLY,
    not silently pass) reach the same labels. The first oracle draft was
    a recursive-CTE reachability closure — semantically cleaner but
    O(V·E): 59 s at sf0.01 on this graph's giant component, a
    driver-timeout risk; the unrolled form runs in under a second.

    Scale: the engine side is the proven bounded loop — one equi-join +
    min-aggregate + label-pointer hop per round, localCheckpoint per
    round, exact fixpoint test, cap raises rather than mislabeling.
    """
    from wri_data_processing_spark.queries.llm_dedup import propagate_min_labels

    edges = both_directions(copurchase_pairs(table(spark, sf_dir, "lineitem")), "src", "dst")
    labels, _rounds = propagate_min_labels(edges)
    return (
        labels.groupBy(F.col("lbl").alias("component"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy("component")
    )


@query(
    "graph_jaccard_linkpred",
    oracle=f"""
    WITH {_copurchase_sql(2)},
    adj AS MATERIALIZED ({_both_directions_sql("pairs", "node", "nb")}),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
    cn AS (
      SELECT a1.node AS u, a2.node AS v, CAST(COUNT(*) AS BIGINT) AS cn
      FROM adj a1 JOIN adj a2 ON a1.nb = a2.nb AND a1.node < a2.node
      GROUP BY 1, 2),
    cand AS (
      SELECT cn.u, cn.v, cn.cn, du.d AS du, dv.d AS dv
      FROM cn JOIN deg du ON cn.u = du.node JOIN deg dv ON cn.v = dv.node
      WHERE least(du.d, dv.d) >= 2
        AND NOT EXISTS (SELECT 1 FROM pairs e WHERE e.u = cn.u AND e.v = cn.v))
    SELECT u, v, cn, du, dv,
           ROUND(CAST(cn AS DOUBLE) / CAST(du + dv - cn AS DOUBLE), 6)
             AS jaccard
    FROM cand
    ORDER BY CAST(cn AS DOUBLE) / CAST(du + dv - cn AS DOUBLE) DESC, u, v
    LIMIT 10
    """,
)
def graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: the 10 NON-adjacent part
    pairs with the highest neighbor-set Jaccard — "these two parts are
    never co-ordered, but their co-purchase neighborhoods overlap most".
    The classic common-neighbors/Jaccard recommender primitive, and the
    graph-native twin of dedup_ngram_jaccard's set similarity.

    Semantics: candidates are non-adjacent pairs with >= 1 common
    neighbor where BOTH endpoints have degree >= 2 — the min-degree
    floor drops the degree-1 tail whose Jaccard is a vacuous 1.0. (The
    pre-r13 rule was cn >= 2, which is VOLUME-DEPENDENT the way the old
    cusum 2*mu threshold was: the co-purchase graph gets sparser as
    parts grow, max cn falls to 1 by sf0.1 and the op went empty — the
    r13 degeneracy sweep at bench SF caught it. A degree floor prunes
    the same vacuous tail at every scale.) NOT-an-edge is a left_anti
    on the canonical u<v edge list — one check suffices since both
    sides store u<v.
    jaccard = cn / (du + dv - cn) with all three terms exact BIGINTs, so
    the score is ONE IEEE division — the top-10 ordering compares those
    exact quotients (tie-broken by (u, v)), bit-identical across engines.

    Scale: the wedge self-join on the shared-neighbor key is the classic
    common-neighbor enumeration — the >=2-support edge threshold prunes
    hub explosion before it (same guard as graph_triangle_count; at
    100 TB the standard refinement is capping/degree-ordering hub
    neighbor lists). Degree attachment is two equi-joins on the bounded
    candidate frame; top-10 is a TakeOrdered, never a global sort. The
    edge survivor set is localCheckpointed once and feeds adjacency,
    degrees, and the anti-join from memory (AQE breaks ReusedExchange on
    self-joins — the triangle-count lesson).
    """
    e = copurchase_pairs(table(spark, sf_dir, "lineitem"), 2).drop("n").localCheckpoint()
    adj = both_directions(e, "node", "nb")
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d"))
    a1 = adj.select(F.col("node").alias("u"), F.col("nb").alias("w"))
    a2 = adj.select(F.col("node").alias("v"), F.col("nb").alias("w"))
    cn = (
        a1.join(a2, "w")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
    )
    cand = (
        cn.join(e, ["u", "v"], "left_anti")
        .join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .filter(F.least("du", "dv") >= 2)
    )
    jac = F.col("cn").cast("double") / (
        F.col("du") + F.col("dv") - F.col("cn")
    ).cast("double")
    return (
        cand.orderBy(jac.desc(), "u", "v")
        .limit(10)
        .select("u", "v", "cn", "du", "dv", F.round(jac, 6).alias("jaccard"))
    )


_KCORE_K = 4
_KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    """Unrolled 6-round k-core peel. Every CTE is AS MATERIALIZED: each
    round references the previous edge set THREE times (degree filter +
    both endpoint joins), so without the hint DuckDB inlines the chain
    3^6 times — the graph_connected_components lesson verbatim."""
    parts = [
        f"""{_copurchase_sql(2)},
    e0 AS MATERIALIZED ({_both_directions_sql("pairs", "node", "nb")})"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"""
    k{r} AS MATERIALIZED (
      SELECT node FROM e{r - 1} GROUP BY node HAVING COUNT(*) >= {_KCORE_K}),
    e{r} AS MATERIALIZED (
      SELECT e.node, e.nb FROM e{r - 1} e
      JOIN k{r} a ON e.node = a.node JOIN k{r} b ON e.nb = b.node)"""
        )
    sel = "\n    UNION ALL ".join(
        f"SELECT {r} AS round, "
        f"(SELECT CAST(COUNT(DISTINCT node) AS BIGINT) FROM e{r}) AS n_nodes, "
        f"(SELECT CAST(COUNT(*) // 2 AS BIGINT) FROM e{r}) AS n_edges"
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    return ",".join(parts) + "\n    " + sel + "\n    ORDER BY round"


@query("graph_kcore", oracle=f"WITH {_kcore_oracle()}")
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=4, 6 synchronous rounds) over the support-2
    co-purchase graph: repeatedly delete every node with degree < k and
    the edges it carries, emitting the (n_nodes, n_edges) trajectory per
    round. The k-core is the standard "dense backbone" extractor —
    spam-farm detection, community seeding, and the usual prefilter
    before expensive clique mining.

    The TRUE k-core is the peel's fixpoint; 6 rounds is the bounded
    algorithm (the graph_connected_components contract: closure is the
    spec, a fixed unrolled round count is the implementation, and the
    trajectory itself shows convergence — two equal consecutive rows
    mean the fixpoint was reached). Support >= 2 (parts co-purchased in
    at least two orders) keeps the graph from being the near-clique the
    raw co-purchase graph is, so the peel has real work to do.

    Determinism: pure integer degree counts and semi-join survivals —
    no floats anywhere, bit-identical under any partitioning. Plan: per
    round one map-side-combined degree count plus two survivor
    equi-joins (never a cartesian); the edge set only shrinks, so round
    cost is monotonically decreasing. At 100 TB the first-round degree
    count dominates and is exactly the shape AQE skew-handles; each
    round's frame would take a localCheckpoint every few rounds to cap
    lineage, as graph_pagerank documents.
    """
    sup = copurchase_pairs(table(spark, sf_dir, "lineitem"), 2).drop("n")
    edges = both_directions(sup, "node", "nb")
    out = None
    for r in range(1, _KCORE_ROUNDS + 1):
        keep = (
            edges.groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("node")
        )
        # Each round references the previous edge frame three times
        # (degree filter + both endpoint joins): without a lineage cut
        # the logical plan grows 3^R copies of the base scan — the same
        # exponential the oracle's AS MATERIALIZED hints kill — and the
        # driver OOMs on plan size alone. localCheckpoint materializes
        # the shrinking edge set once per round (consumers' subplans
        # DIFFER, the case where checkpointing wins — see SCALE.md).
        edges = (
            edges.join(keep, "node")
            .join(keep.select(F.col("node").alias("nb")), "nb")
            .select("node", "nb")
            .localCheckpoint()
        )
        row = edges.agg(
            F.lit(r).alias("round"),
            F.countDistinct("node").cast("long").alias("n_nodes"),
            F.expr("count(1) div 2").cast("long").alias("n_edges"),
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("round")


_MKV_ITERS = 6
_MKV_Q = 1_073_741_824  # Q30, matching the PageRank fixed point


def _markov_oracle() -> str:
    """Unrolled 6-step integer power iteration over the event-type
    transition matrix; MATERIALIZED per round (each round re-reads the
    cells and the previous vector)."""
    parts = [
        f"""
    seq AS MATERIALIZED (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    m AS MATERIALIZED (
      SELECT prev AS i, event_type AS j, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
    rt AS MATERIALIZED (
      SELECT i, CAST(SUM(c) AS BIGINT) AS r FROM m GROUP BY 1),
    cells AS MATERIALIZED (
      SELECT m.i, m.j, m.c, rt.r FROM m JOIN rt USING (i)),
    v0 AS MATERIALIZED (
      SELECT i AS t, CAST({_MKV_Q} // (SELECT COUNT(*) FROM rt) AS BIGINT) AS q
      FROM rt)"""
    ]
    for k in range(1, _MKV_ITERS + 1):
        parts.append(
            f"""
    v{k} AS MATERIALIZED (
      SELECT cells.j AS t,
             CAST(SUM(v.q * cells.c // cells.r) AS BIGINT) AS q
      FROM cells JOIN v{k - 1} v ON cells.i = v.t
      GROUP BY 1)"""
        )
    return (
        ",".join(parts)
        + f""",
    tot AS (SELECT CAST(SUM(q) AS BIGINT) AS s FROM v{_MKV_ITERS})
    SELECT t AS event_type, q AS visits_q,
           CAST(q AS DOUBLE) / CAST(tot.s AS DOUBLE) AS share
    FROM v{_MKV_ITERS}, tot ORDER BY t"""
    )


@query("graph_markov_steady", oracle=f"WITH {_markov_oracle()}")
def graph_markov_steady(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state of the user-journey Markov chain: 6 synchronous power
    iterations of the event-type transition matrix from a uniform start —
    "where does a session settle?", the long-run occupancy that ranks
    journey states by structural importance rather than raw frequency
    (events_transition_matrix gives the one-step view; this is its
    fixpoint, and removal-effect attribution is built on exactly this
    chain).

    Determinism: the graph_pagerank fixed point on a |types|² matrix —
    Q30 integer occupancy, each step's contribution floor((q·c)/r) pure
    integer multiply/divide (q·c tops out ~2^44, far inside int64),
    integer sums commutative under any partitioning. The share column is
    one exact division by the vector's own total (the floors make it sum
    just under 2^30; normalizing by the actual total is exact).

    Plan: ONE data-sized stage (the per-user LAG + transition count);
    the matrix is |types|² cells and every iteration is a broadcast join
    + tiny aggregate over it. At 100 TB the matrix is still 25 cells —
    the chain math is free, the transition count is the only work.
    """
    e = table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    m = seq.groupBy(F.col("prev").alias("i"), F.col("event_type").alias("j")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    rt = m.groupBy("i").agg(F.sum("c").cast("long").alias("r"))
    cells = m.join(F.broadcast(rt), "i").localCheckpoint()
    k_types = rt.count()  # 0 when no user has two events: v is then empty
    v = rt.select(
        F.col("i").alias("t"), F.lit(_MKV_Q // max(k_types, 1)).cast("long").alias("q")
    )
    for _ in range(_MKV_ITERS):
        v = (
            cells.join(F.broadcast(v), cells["i"] == v["t"])
            .select("j", F.expr("q * c div r").alias("contrib"))
            .groupBy(F.col("j").alias("t"))
            .agg(F.sum("contrib").cast("long").alias("q"))
        )
    tot = v.agg(F.sum("q").cast("long").alias("s"))
    return (
        v.crossJoin(F.broadcast(tot))
        .select(
            F.col("t").alias("event_type"),
            F.col("q").alias("visits_q"),
            (F.col("q").cast("double") / F.col("s").cast("double")).alias("share"),
        )
        .orderBy("event_type")
    )


_BFS_ROUNDS = 6
_BFS_INF = 1_048_576  # 2^20 "unreached" sentinel, far above any 6-hop distance


def _bfs_oracle() -> str:
    """Unrolled 6-round BFS relaxation. MATERIALIZED per round: each round
    references the previous label frame twice (self distance + neighbor
    min), so the unhinted chain inlines 2^6 copies."""
    parts = [
        f"""{_copurchase_sql(2)},
    e0 AS MATERIALIZED ({_both_directions_sql("pairs", "node", "nb")}),
    src AS (SELECT MIN(u) AS s FROM pairs),
    b0 AS MATERIALIZED (
      SELECT node,
             CASE WHEN node = (SELECT s FROM src)
                  THEN CAST(0 AS BIGINT) ELSE CAST({_BFS_INF} AS BIGINT)
             END AS d
      FROM (SELECT DISTINCT node FROM e0))"""
    ]
    for k in range(1, _BFS_ROUNDS + 1):
        parts.append(
            f"""
    b{k} AS MATERIALIZED (
      SELECT l.node, LEAST(l.d, nbmin.m + 1) AS d
      FROM b{k - 1} l
      JOIN (SELECT e.node, MIN(l2.d) AS m
            FROM e0 e JOIN b{k - 1} l2 ON e.nb = l2.node GROUP BY 1) nbmin
        ON l.node = nbmin.node)"""
        )
    return (
        ",".join(parts)
        + f"""
    SELECT CASE WHEN d > {_BFS_ROUNDS} THEN CAST(-1 AS BIGINT) ELSE d END AS hop,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(node) AS BIGINT) AS min_node
    FROM b{_BFS_ROUNDS} GROUP BY 1 ORDER BY 1"""
    )


@query("graph_bfs_layers", oracle=f"WITH {_bfs_oracle()}")
def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS layer census over the support-2 co-purchase graph:
    hop distance from the minimum-keyed part, bucketed into layers 0..6
    plus a -1 "not reached within 6 hops" bucket (at sf0.01 the graph's
    eccentricity is ~10 with a handful of disconnected nodes, so the
    sentinel bucket is non-empty — probed before designing, per the
    degenerate-fixture rule; the raw support-1 graph is a near-clique
    where every node sits at hop 1).

    Semantics: 6 synchronous Bellman-Ford-style relaxations
    d'(n) = min(d(n), 1 + min_nb d(nb)) from d0 = 0 at the source and an
    integer-infinity sentinel elsewhere. After R rounds every true
    distance <= R is exact (relaxation can only improve toward BFS
    truth), and anything still above R is reported as the -1 horizon
    bucket — the graph_kcore contract: the closure is the spec, a fixed
    round count is the implementation, and the horizon bucket makes the
    truncation explicit instead of silent.

    Determinism: pure integer mins over equi-joins — bit-identical under
    any partitioning; no floats anywhere.

    Plan: per round one map-side-combined min-aggregate on the edge key
    plus one equi-join back to the label frame; the label frame is
    localCheckpointed per round because each round consumes it TWICE
    (self + neighbor min) — the graph_kcore 3^R plan-size lesson, here
    2^R. At 100 TB this is exactly Pregel-on-DataFrames: frontier work
    shrinks as distances settle, and the iteration count bounds cost.
    """
    sup = copurchase_pairs(table(spark, sf_dir, "lineitem"), 2).drop("n").localCheckpoint()
    edges = both_directions(sup, "node", "nb")
    src = sup.agg(F.min("u").alias("s")).collect()[0]["s"]  # 1 scalar, bounded
    labels = (
        edges.select("node")
        .distinct()
        .select(
            "node",
            F.when(F.col("node") == F.lit(src), F.lit(0))
            .otherwise(F.lit(_BFS_INF))
            .cast("long")
            .alias("d"),
        )
        .localCheckpoint()
    )
    for _ in range(_BFS_ROUNDS):
        nbmin = (
            edges.join(
                labels.select(F.col("node").alias("nb"), F.col("d").alias("nd")), "nb"
            )
            .groupBy("node")
            .agg(F.min("nd").alias("m"))
        )
        labels = (
            labels.join(nbmin, "node")
            .select("node", F.least(F.col("d"), F.col("m") + F.lit(1)).alias("d"))
            .localCheckpoint()
        )
    return (
        labels.select(
            F.when(F.col("d") > _BFS_ROUNDS, F.lit(-1))
            .otherwise(F.col("d"))
            .cast("long")
            .alias("hop"),
            "node",
        )
        .groupBy("hop")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("node").cast("long").alias("min_node"),
        )
        .orderBy("hop")
    )


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_copurchase_sql(2)},
    tri AS MATERIALIZED ({_triangles_sql()}),
    pertri AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS tri
      FROM (SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
      GROUP BY 1),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM ({_both_directions_sql("pairs", "node", "nb")})
      GROUP BY 1)
    SELECT deg.node, deg.d, COALESCE(pertri.tri, 0) AS tri,
           ROUND(CAST(2 * COALESCE(pertri.tri, 0) AS DOUBLE)
                 / CAST(deg.d * (deg.d - 1) AS DOUBLE), 6) AS coeff
    FROM deg LEFT JOIN pertri USING (node)
    WHERE deg.d >= 2
    ORDER BY CAST(2 * COALESCE(pertri.tri, 0) AS DOUBLE)
             / CAST(deg.d * (deg.d - 1) AS DOUBLE) DESC, deg.node
    LIMIT 20
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient on the support-2 co-purchase graph:
    the 20 parts (degree >= 2) whose neighborhoods are most tightly
    interlinked — coeff = 2*tri / (d*(d-1)), the fraction of a node's
    neighbor pairs that are themselves co-purchased. The per-node
    refinement of graph_triangle_count's global census: ego-density is
    the standard community-core / spam-ring signal.

    Triangles come from the same canonical oriented wedge join as
    graph_triangle_count (u < v storage finds each triangle a<b<c
    exactly once), then each triangle credits ALL THREE corners via a
    3-way unionAll explode — no /3 correction needed because the
    canonical triple is already unique. Degree-1 nodes are excluded
    (their coefficient is 0/0); triangle-free nodes keep coeff 0 through
    the LEFT join + coalesce.

    Determinism: tri and d are exact BIGINTs; coeff is ONE IEEE division
    of exact integers (bit-identical across engines — the
    graph_jaccard_linkpred contract), and the top-20 ordering ties break
    on the node key.

    Plan: the localCheckpointed survivor edge set feeds the two wedge
    sides, the closing join, and the degree count (the AQE-breaks-
    ReusedExchange-on-self-joins lesson); top-20 is a TakeOrdered, never
    a global sort. At 100 TB degree-ordering the orientation bounds the
    wedge fan-out, as graph_triangle_count documents.
    """
    e, tri = _support2_triangles(spark, sf_dir)
    pertri = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("tri"))
    )
    deg = (
        both_directions(e, "node", "nb")
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    joined = (
        deg.join(pertri, "node", "left")
        .select("node", "d", F.coalesce(F.col("tri"), F.lit(0)).cast("long").alias("tri"))
        .filter(F.col("d") >= 2)
    )
    coeff = (2 * F.col("tri")).cast("double") / (
        F.col("d") * (F.col("d") - 1)
    ).cast("double")
    return (
        joined.orderBy(coeff.desc(), "node")
        .limit(20)
        .select("node", "d", "tri", F.round(coeff, 6).alias("coeff"))
    )


_HITS_Q = 1_073_741_824  # Q30 fixed point, matching graph_pagerank


def _hits_oracle() -> str:
    """Mutually-renormalized authority/hub half-steps a1 -> h1 -> a2 over
    the bipartite customer->part purchase graph, in HUGEINT Q30. Each
    half-step sums the other side's scores into ``raw`` (a1 counts edges),
    then renormalizes it as the engine's ``_normalize`` does."""
    parts = [
        f"""
    edges AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    a1r AS MATERIALIZED (
      SELECT p, CAST(COUNT(*) AS BIGINT) * {_HITS_Q} AS raw
      FROM edges GROUP BY 1)"""
    ]
    prev = None
    for step in ("a1", "h1", "a2"):
        key, other = ("p", "c") if step[0] == "a" else ("c", "p")
        if prev is not None:
            parts.append(
                f"""
    {step}r AS MATERIALIZED (
      SELECT e.{key}, CAST(SUM({prev}.q) AS BIGINT) AS raw
      FROM edges e JOIN {prev} ON e.{other} = {prev}.{other} GROUP BY 1)"""
            )
        parts.append(
            f"""
    {step} AS MATERIALIZED (
      SELECT {key}, CAST(CAST(raw AS HUGEINT) * {_HITS_Q}
                     // (SELECT SUM(raw) FROM {step}r) AS BIGINT) AS q
      FROM {step}r)"""
        )
        prev = step
    return (
        ",".join(parts)
        + f""",
    tops AS (
      (SELECT 'authority' AS side, CAST(p AS BIGINT) AS id, q AS score_q
       FROM a2 ORDER BY q DESC, p LIMIT 15)
      UNION ALL
      (SELECT 'hub' AS side, CAST(c AS BIGINT) AS id, q AS score_q
       FROM h1 ORDER BY q DESC, c LIMIT 15))
    SELECT side, id, score_q,
           CAST(score_q AS DOUBLE) / {_HITS_Q} AS score
    FROM tops ORDER BY side, score_q DESC, id
    """
    )


@query("graph_hits", oracle=f"WITH {_hits_oracle()}")
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities over the bipartite customer->part
    purchase graph (Kleinberg 1999): hub score of a customer = sum of
    the authority of the parts they buy; authority of a part = sum of
    the hubs buying it. Three mutually-renormalized half-steps
    (a1 <- uniform hubs, h1 <- a1, a2 <- h1) — the "important buyers buy
    important parts" fixpoint after one full mutual reinforcement, the
    catalog-curation / whale-detection twin of graph_pagerank's
    centrality. Output: top-15 authorities and top-15 hubs.

    Determinism: the graph_pagerank Q30 contract extended with SUM
    renormalization — each half-step's raw scores are exact BIGINT sums,
    then q = raw * 2^30 // total(raw) in DECIMAL(38,0) (Spark `div` /
    DuckDB HUGEINT `//` truncate identically — probed in
    embed_pca_power); the quotient is back under 2^30 so it always fits
    long. The top-15 cut orders on the INTEGER score (ties break on the
    id), and the float projection divides by the exact binary 2^30.

    Plan: the distinct (customer, part) edge list is ONE orders-lineitem
    equi-join, localCheckpointed because three half-steps re-consume it
    (consumers differ — the graph_kcore rule); each half-step is a
    broadcast join of the current score vector onto the edges, a
    map-side-combined sum, and a 1-row total broadcast for the
    renormalization (whitelisted, the stats_ks_test shape). At 100 TB
    the edge build dominates; the score vectors stay dimension-table
    sized and broadcastable.
    """
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("c")
    )
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    )
    edges = o.join(li, "ok").select("c", "p").distinct().localCheckpoint()

    def _normalize(raw: DataFrame, key: str) -> DataFrame:
        tot = raw.agg(F.sum("raw").cast("decimal(38,0)").alias("tot"))
        return raw.crossJoin(F.broadcast(tot)).select(
            key,
            F.expr(f"CAST(CAST(raw AS DECIMAL(38,0)) * {_HITS_Q} div tot AS BIGINT)")
            .alias("q"),
        )

    a1r = edges.groupBy("p").agg(
        (F.count(F.lit(1)) * F.lit(_HITS_Q)).cast("long").alias("raw")
    )
    a1 = _normalize(a1r, "p")
    h1r = (
        edges.join(F.broadcast(a1), "p")
        .groupBy("c")
        .agg(F.sum("q").cast("long").alias("raw"))
    )
    h1 = _normalize(h1r, "c").localCheckpoint()  # feeds a2 AND the hub top-15
    a2r = (
        edges.join(F.broadcast(h1), "c")
        .groupBy("p")
        .agg(F.sum("q").cast("long").alias("raw"))
    )
    a2 = _normalize(a2r, "p")
    auth_top = (
        a2.orderBy(F.col("q").desc(), "p")
        .limit(15)
        .select(
            F.lit("authority").alias("side"),
            F.col("p").cast("long").alias("id"),
            F.col("q").alias("score_q"),
        )
    )
    hub_top = (
        h1.orderBy(F.col("q").desc(), "c")
        .limit(15)
        .select(
            F.lit("hub").alias("side"),
            F.col("c").cast("long").alias("id"),
            F.col("q").alias("score_q"),
        )
    )
    return (
        auth_top.unionAll(hub_top)
        .select(
            "side",
            "id",
            "score_q",
            (F.col("score_q").cast("double") / F.lit(float(_HITS_Q))).alias("score"),
        )
        .orderBy("side", F.col("score_q").desc(), "id")
    )


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {_copurchase_sql(2)},
    adj AS MATERIALIZED ({_both_directions_sql("pairs", "node", "nb")}),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1),
    ends AS (
      SELECT du.d AS x, dv.d AS y
      FROM adj JOIN deg du ON adj.node = du.node
               JOIN deg dv ON adj.nb = dv.node),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM ends)
    SELECT m AS n_directed_edges,
           ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(m * syy - sy * sy AS DOUBLE))), 6)
             AS assortativity
    FROM s
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees across every directed edge of the support-2
    co-purchase graph — do hubs attach to hubs (social-network-like,
    r > 0) or to leaves (technological/hub-and-spoke, r < 0)? The one
    scalar that most changes what k-core, pagerank, and epidemic-style
    propagation will do on this topology, completing the graph family's
    shape diagnostics (degree distribution = marginals; this = their
    edge-level coupling).

    Determinism: both edge directions enumerate each undirected edge
    twice (the standard symmetrization — makes r direction-free);
    degrees and all five power sums are exact BIGINTs; r is the
    closed-form one-shot double tree with safe sqrt, ROUND-6 (the
    events_acf contract on a graph).

    Plan: degree count + two broadcast joins back onto the edge list +
    one scalar fold; the support threshold bounds the pair explosion
    before any graph work, as everywhere in this family.
    """
    from wri_data_processing_spark.queries.events_analytics import pearson

    sup = copurchase_pairs(table(spark, sf_dir, "lineitem"), 2).drop("n").localCheckpoint()
    adj = both_directions(sup, "node", "nb")
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d"))
    ends = adj.join(
        F.broadcast(deg.select(F.col("node"), F.col("d").alias("x"))), "node"
    ).join(
        F.broadcast(deg.select(F.col("node").alias("nb"), F.col("d").alias("y"))),
        "nb",
    )
    s, r = pearson(ends, "m", [])
    return s.select(
        F.col("m").alias("n_directed_edges"), F.round(r, 6).alias("assortativity")
    )


@query(
    "graph_transitivity",
    oracle=f"""
    WITH {_copurchase_sql(2)},
    tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM ({_triangles_sql()})),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM ({_both_directions_sql("pairs", "node", "nb")})
      GROUP BY 1),
    w AS (SELECT CAST(SUM(d * (d - 1)) AS BIGINT) AS w2 FROM deg)
    SELECT tri.t AS n_triangles, w.w2 // 2 AS n_wedges,
           ROUND(CAST(6 * tri.t AS DOUBLE) / CAST(w.w2 AS DOUBLE), 6)
             AS transitivity
    FROM tri, w
    """,
)
def graph_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity (the graph-level clustering coefficient):
    3 x triangles / wedges over the support-2 co-purchase graph — the
    single scalar that says whether co-purchase neighborhoods CLOSE
    (transitive taste) or fan out (hub-and-spoke catalogs).
    graph_clustering_coefficient is the per-node view; this is its
    wedge-weighted global aggregate (NOT the mean of local
    coefficients — the two diverge on skewed degree sequences, which
    is exactly why both are reported).

    Determinism: triangle count from the canonical oriented wedge join
    (each triangle found once); wedges = sum d(d-1)/2 kept DOUBLED so
    everything stays integer; transitivity = 6T / sum d(d-1), ONE
    division, ROUND-6.

    Plan: the graph_triangle_count join pair plus one degree aggregate
    over the localCheckpointed survivor edges; two scalar folds stitched
    by 1-row broadcasts (whitelisted).
    """
    e, closed = _support2_triangles(spark, sf_dir)
    tri = closed.agg(F.count(F.lit(1)).cast("long").alias("t"))
    deg = (
        both_directions(e, "node", "nb")
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    w = deg.agg(F.sum(F.col("d") * (F.col("d") - 1)).cast("long").alias("w2"))
    return tri.crossJoin(F.broadcast(w)).select(
        F.col("t").alias("n_triangles"),
        F.expr("w2 div 2").cast("long").alias("n_wedges"),
        F.round(
            (6 * F.col("t")).cast("double") / F.col("w2").cast("double"), 6
        ).alias("transitivity"),
    )


_LPA_ROUNDS = 4

def _lpa_oracle(k: int) -> str:
    """Unrolled synchronous label-propagation oracle: per round, neighbor-
    label frequency, then argmax by (count DESC, label ASC) via the
    max-count-filter + MIN(label) two-step (deterministic tie-break)."""
    parts = [
        f"""{_copurchase_sql()},
    edges AS MATERIALIZED ({_both_directions_sql("pairs", "node", "nb")}),
    l0 AS MATERIALIZED (
      SELECT node, node AS lbl FROM (SELECT DISTINCT node FROM edges))""",
    ]
    for r in range(1, k + 1):
        parts.append(
            f"""
    f{r} AS (
      SELECT e.node AS src, l.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM edges e JOIN l{r - 1} l ON e.nb = l.node
      GROUP BY 1, 2),
    l{r} AS MATERIALIZED (
      SELECT src AS node, MIN(lbl) AS lbl
      FROM (SELECT src, lbl, cnt,
                   MAX(cnt) OVER (PARTITION BY src) AS mx
            FROM f{r})
      WHERE cnt = mx GROUP BY src)"""
        )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM l{k} GROUP BY 1 ORDER BY 1"""
    )


@query("graph_label_propagation", oracle=_lpa_oracle(_LPA_ROUNDS))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (deterministic LPA) over the
    co-purchase graph — the community detector production graphs actually
    run, completing the family: components answer "connected at all?",
    this answers "which densely-knit cluster?" (communities REFINE
    components — pytest-pinned invariant). Raghavan 2007's algorithm made
    oracle-exact (VERDICT r10 item 4): SYNCHRONOUS rounds (all updates
    read round k-1 labels), min-label seeding (lbl0 = node id), and the
    most-frequent-neighbor-label update with ties broken by SMALLEST
    label — every nondeterminism knob in textbook LPA pinned shut.

    Exactness: labels and counts are exact integers; the per-node argmax
    orders by (count DESC, label ASC) — a total order, so all
    _LPA_ROUNDS=4 synchronized rounds are cross-engine identical (the
    engine folds argmax as MIN(struct(-cnt, lbl)); the oracle as the
    max-count filter + MIN(lbl) — different idioms, same unique winner).
    Fixed round count, like graph_bfs_layers' horizon: more rounds
    refine further but any K is a valid LPA snapshot; K=4 converges on
    this fixture (probed: round 4 == round 3 labels).

    Plan & scale: per round — one (neighbor-label) shuffled hash join
    keyed on node that builds the label side, never a broadcast of the
    edges (hinted; tests/test_plan_shapes.py pins it), one (src,lbl)
    count shuffle, one src argmax shuffle; labels
    localCheckpointed per round (graph_pagerank's unroll discipline).
    All shuffles are vertex/edge-keyed — no all-pairs stage; at 100 TB
    this is exactly GraphX/Pregel LPA expressed as DataFrame joins.
    """
    edges = both_directions(
        copurchase_pairs(table(spark, sf_dir, "lineitem")), "src", "dst"
    ).localCheckpoint()  # consumed every round
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint()
    )
    for _ in range(_LPA_ROUNDS):
        # The checkpointed edges keep copurchase_pairs' size estimate (3e6 B
        # for 2.39M rows at sf0.1), so unhinted this join broadcasts the
        # EDGES from round 2 on. The hint pins a shuffle join that hashes
        # the node-sized side. Measured at sf0.1 on 4 cores: unhinted 1.4x
        # slower; this hint faster than a merge hint and than AQE's runtime
        # broadcast of the labels.
        f = (
            edges.join(labels.hint("shuffle_hash"), edges["dst"] == labels["node"])
            .groupBy("src", "lbl")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        labels = (
            f.groupBy("src")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("lbl").alias("l"))
                ).alias("m")
            )
            .select(F.col("src").alias("node"), F.col("m.l").alias("lbl"))
            .localCheckpoint()
        )
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy("community")
    )


def _ppr_iter_sql(iters: int) -> str:
    """Unrolled personalized-PageRank CTE chain: the _pagerank_iter_sql
    shape with the teleport mass restricted to the SEED set (l_partkey
    % 100 == 0) instead of every node."""
    parts = [
        _PAGERANK_GRAPH_CTES
        + """
    p0 AS (SELECT node,
                  CAST(CASE WHEN node % 100 = 0 THEN 1073741824 ELSE 0 END
                       AS BIGINT) AS rq
           FROM deg)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""
    p{k} AS (
      SELECT d2.node,
             CAST(CASE WHEN d2.node % 100 = 0 THEN 161061273 ELSE 0 END
                  + (17 * COALESCE(g.gath, 0)) // 20 AS BIGINT) AS rq
      FROM deg d2 LEFT JOIN (
        SELECT e.nb AS node, SUM(r.rq // d.degree) AS gath
        FROM edges e
        JOIN p{k - 1} r ON e.node = r.node
        JOIN deg d ON e.node = d.node
        GROUP BY e.nb) g ON d2.node = g.node
    )"""
        )
    return ",".join(parts)


@query(
    "graph_personalized_pagerank",
    oracle=f"""
    WITH {_ppr_iter_sql(_ITERS)}
    SELECT node, rq AS ppr_q, rq / 1073741824.0 AS ppr
    FROM p{_ITERS} WHERE rq > 0
    """,
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the seed set {parts with key % 100 == 0}
    — the recommendation primitive graph_pagerank's global score can't
    provide: "important NEAR THESE items", the random walk with restart
    that powers related-item panels and seed-expanded audiences
    (recsys_item_similar gives direct neighbors; PPR reaches multi-hop
    affinity with principled decay).

    Semantics: the graph_pagerank fixed-point recursion with the
    teleport mass restricted to seeds — rank' = [seed] * floor(0.15 *
    2^30) + floor(17 * gather / 20), seeds start at 2^30, everything
    else at 0 — and a LEFT join on the gather so nodes whose neighbors
    all hold zero mass stay present (mass spreads outward per round;
    rows with rq = 0 are dropped at emit on both sides). 5 synchronous
    iterations, unrolled in the oracle exactly like _pagerank_iter_sql.

    Exactness: pure Q30 integer scatter/gather — multiply, floor-divide,
    sum; bit-identical at any partitioning (the graph_pagerank
    argument); the only double is the exact 2^-30 projection.

    Plan: per round one scatter join (edges with ranks: a shuffled hash
    join building the rank side, hinted as in graph_label_propagation;
    then degree) + one gather aggregate keyed by node, then the deg-frame
    left join keeps zero-mass nodes — all vertex-keyed shuffles,
    localCheckpoint per round.
    """
    edges = both_directions(
        copurchase_pairs(table(spark, sf_dir, "lineitem")), "node", "nb"
    ).localCheckpoint()
    deg = (
        edges.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .localCheckpoint()
    )
    seed_q = F.when(F.col("node") % 100 == 0, F.lit(_Q30)).otherwise(F.lit(0))
    teleport = F.when(
        F.col("node") % 100 == 0, F.lit(_TELEPORT_Q)
    ).otherwise(F.lit(0))
    ranks = deg.select("node", seed_q.cast("long").alias("rq"))
    for _ in range(_ITERS):
        gather = (  # shuffle_hash hint: see graph_label_propagation
            edges.join(ranks.hint("shuffle_hash"), "node")
            .join(deg, "node")
            .select(F.col("nb").alias("node"), F.expr("rq div degree").alias("contrib"))
            .groupBy("node")
            .agg(F.sum("contrib").cast("long").alias("gath"))
        )
        ranks = (
            deg.join(gather, "node", "left")
            .select(
                "node",
                (
                    teleport.cast("long")
                    + F.expr("CAST(17 * coalesce(gath, 0) div 20 AS BIGINT)")
                ).alias("rq"),
            )
            .localCheckpoint()
        )
    return ranks.filter(F.col("rq") > 0).select(
        "node",
        F.col("rq").alias("ppr_q"),
        (F.col("rq") / F.lit(float(_Q30))).alias("ppr"),
    )
