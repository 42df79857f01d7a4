"""Co-occurrence and fuzzy-matching operators (entity resolution / affinity).

Training-data pipelines need approximate record linkage (near-identical
names, typo'd identifiers) and co-occurrence statistics (which items appear
together). Both are quadratic if done naively; the scale pattern in both is
BLOCKING: restrict candidate pairs to an equi-join on a cheap key so the
cross product never materializes globally — the same candidate-pruning idea
as the LSH band join in llm_dedup.py, but with an exact, oracle-checkable
distance function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.queries.graph import (
    _both_directions_sql,
    _copurchase_sql,
    both_directions,
    copurchase_pairs,
)
from wri_data_processing_spark.registry import query


@query(
    "fuzzy_match_levenshtein",
    oracle="""
    SELECT a.c_custkey AS custkey_a,
           b.c_custkey AS custkey_b,
           levenshtein(a.c_name, b.c_name) AS edit_distance
    FROM customer a
    JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def fuzzy_match_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-match: customer names within edit distance 2,
    candidates blocked by nation.

    The equi condition (same nation) is the blocking key: Catalyst plans a
    shuffle/broadcast HASH join on it and evaluates levenshtein only inside
    each block — candidate pairs are O(sum of block sizes squared), not
    O(n^2). `a < b` dedups unordered pairs. levenshtein() is a JVM builtin
    (no Python round-trip) with identical semantics to DuckDB's. At 100 TB
    the blocking key graduates to a cheaper-to-skew composite (e.g.
    name-prefix + nation) — the plan shape is unchanged.
    """
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_name")
    a = c.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_name").alias("name_a"),
    )
    b = c.select(
        F.col("c_custkey").alias("custkey_b"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_name").alias("name_b"),
    )
    return (
        a.join(b, "nk")
        .filter(F.col("custkey_a") < F.col("custkey_b"))
        .withColumn("edit_distance", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("edit_distance") <= 2)
        .select("custkey_a", "custkey_b", "edit_distance")
    )


@query(
    "basket_pair_counts",
    oracle=f"""
    WITH {_copurchase_sql(2)}
    SELECT u AS part_a, v AS part_b, n AS n_orders FROM pairs
    """,
)
def basket_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in >= 2
    orders (frequent-itemset support counting, k=2).

    Plan (``copurchase_pairs``): one shuffle on l_orderkey collects each
    order's distinct parts, pairs are exploded in-row, and one pair-keyed
    count follows. Pair explosion is bounded per order (baskets are small:
    TPC-H <= 7 items), which is exactly the property that keeps this safe at
    100 TB — cost is sum over orders of basket^2, linear in order count.
    The support filter drops the long tail on the pair count's reduce side.
    """
    return copurchase_pairs(table(spark, sf_dir, "lineitem"), 2).select(
        F.col("u").alias("part_a"), F.col("v").alias("part_b"), F.col("n").alias("n_orders")
    )


@query(
    "graph_degree_distribution",
    oracle=f"""
    WITH {_copurchase_sql()},
    degrees AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM ({_both_directions_sql("pairs", "node", "nb")}) GROUP BY node)
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM degrees GROUP BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph: for each part, how many
    distinct co-purchased partners; then how many parts share each degree.

    Graph analytics as pure relational algebra: edges are the distinct
    co-purchase pairs (same bounded-basket blow-up as basket_pair_counts),
    degrees come from emitting each undirected edge in both directions and
    counting.
    The distribution itself is a second tiny aggregate. Degree skew IS the
    thing this measures — at 100 TB a heavy-hitter node shows up here
    first, before it breaks a downstream join (the salting diagnostic in
    join_skew_salted feeds off exactly this histogram).
    """
    directed = both_directions(copurchase_pairs(table(spark, sf_dir, "lineitem")), "node", "nb")
    degrees = directed.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    return degrees.groupBy("degree").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))


@query(
    "basket_association_rules",
    oracle=f"""
    WITH {_copurchase_sql(2)},
    n_orders AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM items),
    item_n AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
      FROM items GROUP BY l_partkey
    )
    SELECT p.u AS part_a, p.v AS part_b, p.n AS n_pair,
           p.n * 1.0 / na.n_item AS confidence_a_to_b,
           p.n * 1.0 * o.n / (na.n_item * nb.n_item) AS lift
    FROM pairs p
    JOIN item_n na ON p.u = na.l_partkey
    JOIN item_n nb ON p.v = nb.l_partkey
    CROSS JOIN n_orders o
    """,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over co-purchase pairs: support, confidence
    P(b|a) and lift P(a,b)/(P(a)P(b)) — the classic market-basket output,
    and the redundancy test for near-dup SOURCES in a corpus (lift >> 1
    between two crawls means they duplicate each other).

    All three measures are ratios of exact integer counts evaluated in
    single double expressions — no float accumulation, hash-exact. The
    item-count side broadcasts onto the pair aggregate (vocabulary-sized);
    the order count arrives as a 1-row broadcast cross join. Same bounded
    basket^2 cost envelope as basket_pair_counts.
    """
    items = (
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    n_orders = items.agg(F.count_distinct("l_orderkey").cast("long").alias("n"))
    item_n = items.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("n_item"))
    pair_n = copurchase_pairs(table(spark, sf_dir, "lineitem"), 2).select(
        F.col("u").alias("part_a"), F.col("v").alias("part_b"), F.col("n").alias("n_pair")
    )
    na = item_n.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a"))
    nb = item_n.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b"))
    return (
        pair_n.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            (F.col("n_pair") * 1.0 / F.col("n_a")).alias("confidence_a_to_b"),
            (F.col("n_pair") * 1.0 * F.col("n") / (F.col("n_a") * F.col("n_b"))).alias("lift"),
        )
    )


@query(
    "recsys_item_similar",
    oracle=f"""
    WITH {_copurchase_sql(2)},
    part_n AS (SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS np
               FROM items GROUP BY 1),
    co AS (SELECT u, v, n AS cooc FROM ({_both_directions_sql("pairs", "u", "v")})),
    sim AS (
      SELECT co.u, co.v, co.cooc, nu.np AS n_u, nv.np AS n_v,
             CAST(co.cooc AS DOUBLE)
               / sqrt(CAST(nu.np * nv.np AS DOUBLE)) AS cosine
      FROM co JOIN part_n nu ON co.u = nu.p JOIN part_n nv ON co.v = nv.p),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY u
                 ORDER BY cosine DESC, v) AS rn
      FROM sim)
    SELECT u AS item, v AS rec, cooc, n_u, n_v, cosine, rn
    FROM rk WHERE rn <= 3
    ORDER BY item, rn
    """,
)
def recsys_item_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-to-item collaborative filtering serving table: for every
    part, its top-3 most-similar parts by co-purchase COSINE — cooc(u,v)
    / sqrt(n_u * n_v), the normalization that stops bestsellers from
    being everyone's neighbor (raw co-counts and confidence both have
    that failure; basket_association_rules shows it). This is the
    "customers also bought" table an online store actually serves.

    Support >= 2 prunes the one-shot co-occurrence noise floor before
    the join-backs, cutting candidate pairs ~7x on this data (the same
    floor graph_jaccard_linkpred justifies).

    Determinism: cosine = one integer product, one sqrt, one division —
    sqrt and division are IEEE-exact and cross-engine identical (probed
    r7: sqrt/ln are exact, pow/exp are not), so the doubles are exact
    and NO rounding is needed; the per-item rank breaks cosine ties by
    neighbor key in both engines.

    Plan: the co-pairs are ``copurchase_pairs`` (per-order part sets
    exploded in-row, map-side-combined pair counts) emitted in both
    directions, so every part sees its neighbors; the two n_p join-backs
    are equi-joins on the part key; the per-item top-3 is a WindowGroupLimit — Spark
    prunes to 3 rows per item map-side before the final shuffle, so the
    output stage moves |parts| * 3 rows no matter how dense the pair
    space is. At 100 TB the pair count, not the rank, is the budget —
    and the support floor caps it exactly where the analysis wants it.
    """
    items = (
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    n = items.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).cast("long").alias("np")
    )
    pairs = copurchase_pairs(table(spark, sf_dir, "lineitem"), 2)
    co = both_directions(pairs, "u", "v").withColumnRenamed("n", "cooc")
    sim = (
        co.join(n.select(F.col("p").alias("u"), F.col("np").alias("n_u")), "u")
        .join(n.select(F.col("p").alias("v"), F.col("np").alias("n_v")), "v")
        .select(
            "u",
            "v",
            "cooc",
            "n_u",
            "n_v",
            (
                F.col("cooc").cast("double")
                / F.sqrt((F.col("n_u") * F.col("n_v")).cast("double"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("u").orderBy(F.col("cosine").desc(), F.col("v"))
    return (
        sim.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("u").alias("item"),
            F.col("v").alias("rec"),
            "cooc",
            "n_u",
            "n_v",
            "cosine",
            "rn",
        )
        .orderBy("item", "rn")
    )
