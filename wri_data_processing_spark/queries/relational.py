"""Filters, projections, and joins (SURVEY.md §2.2 / §2.3).

Reference parity:
- filter_exclude_paths : exclude-dir path pruning, ``scripts/R/utils.R:78-80``
  applied before I/O at ``scripts/00b_extract_metadata_all.R:71``.
- filter_predicate     : success filter, ``00b_extract_metadata_all.R:163``.
- split_by_flag        : consistency split, ``00b:164-165``.
- project_columns      : column drop/select, ``00a_extract_metadata_one.R:75``.
- join_left_anti       : resume anti-join, ``00b:57-74``.
- join_left_semi       : exists-guard semi join, ``01b_make_cog_all.R:78-89``.
- join_broadcast_left  : per-row hosted-flag enrichment, ``02b_make_stac_all.R:147-158``.
- join_inner_equi/full_outer/range/asof: mandated query-surface capability.

Scale notes: dimension joins (nation, region, part at catalog scale) carry
explicit ``F.broadcast`` hints — no shuffle of the fact side's join keys is
ever needed for a <10 MB build side. The as-of join is implemented via the
union+window pattern (operators/asof.py), which shuffles each side ONCE on
the join key instead of a quadratic range join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import register_views, table
from wri_data_processing_spark.operators.asof import asof_join, asof_join_forward
from wri_data_processing_spark.queries.graph import order_baskets
from wri_data_processing_spark.registry import query

# --- filters / projections -------------------------------------------------

_EXCLUDE_RE = "/retro_|/archive/|/final_checks/"

# Synthesized path column over documents so the exclude-filter semantics are
# observable on driver testdata (same CASE on both sides).
_PATH_CASE_SQL = """
  CASE CAST(doc_id % 5 AS INTEGER)
    WHEN 0 THEN 'data/archive/doc_' || doc_id || '.tif'
    WHEN 1 THEN 'data/' || source || '/indicators/doc_' || doc_id || '.tif'
    WHEN 2 THEN 'data/retro_2005/doc_' || doc_id || '.tif'
    WHEN 3 THEN 'data/' || source || '/final_checks/doc_' || doc_id || '.tif'
    ELSE 'data/' || source || '/indicators_no_mask/doc_' || doc_id || '.tif'
  END
"""


def _path_col() -> F.Column:
    d = F.col("doc_id")
    return (
        F.when(d % 5 == 0, F.concat(F.lit("data/archive/doc_"), d, F.lit(".tif")))
        .when(
            d % 5 == 1,
            F.concat(F.lit("data/"), F.col("source"), F.lit("/indicators/doc_"), d, F.lit(".tif")),
        )
        .when(d % 5 == 2, F.concat(F.lit("data/retro_2005/doc_"), d, F.lit(".tif")))
        .when(
            d % 5 == 3,
            F.concat(F.lit("data/"), F.col("source"), F.lit("/final_checks/doc_"), d, F.lit(".tif")),
        )
        .otherwise(
            F.concat(
                F.lit("data/"), F.col("source"), F.lit("/indicators_no_mask/doc_"), d, F.lit(".tif")
            )
        )
    )


@query(
    "filter_exclude_paths",
    oracle=f"""
    WITH paths AS (SELECT doc_id, {_PATH_CASE_SQL} AS path FROM documents)
    SELECT doc_id, path FROM paths
    WHERE NOT regexp_matches(path, '{_EXCLUDE_RE}')
    """,
)
def filter_exclude_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").withColumn("path", _path_col())
    return d.filter(~F.col("path").rlike(_EXCLUDE_RE)).select("doc_id", "path")


@query(
    "filter_predicate",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 50000 AND o_orderstatus = 'O'
    """,
)
def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.filter((F.col("o_totalprice") > 50000) & (F.col("o_orderstatus") == "O"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "split_by_flag",
    oracle="""
    SELECT (o_orderstatus = 'F') AS flag, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders GROUP BY 1
    """,
)
def split_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.withColumn("flag", F.col("o_orderstatus") == "F")
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double").alias("total"),
        )
    )


@query(
    "project_columns",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           c_acctbal / 1000.0 AS acctbal_k
    FROM customer
    """,
)
def project_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", "c_mktsegment", (F.col("c_acctbal") / 1000.0).alias("acctbal_k")
    )


# --- joins -----------------------------------------------------------------


@query(
    "join_inner_equi",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double").alias("total_acctbal"),
        )
    )


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderpriority = '1-URGENT')
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (resume support): customers who never placed an URGENT
    order. The original unpredicated form ("customers with no orders")
    was structurally EMPTY on the synthetic data — every customer has
    orders at every SF, so the driver row was a vacuous 0==0 match (r12
    fix; liveness certified in test_r12_known_answers_wave20). The
    predicate pushes into the build side before the anti join, so the
    plan shape is unchanged: filtered keys build, fact probes."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@query(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey IN (
      SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    )
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_mktsegment")


@query(
    "join_broadcast_left",
    oracle="""
    SELECT p_brand, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def join_broadcast_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-side preserved left join with an explicit broadcast of the dim.

    Reference semantics: ``meta$is_hosted[i] <- probe`` (02b:147-158) is a
    broadcast enrichment of a big table by a small lookup.

    Plan: the dimension side becomes a BroadcastExchange; the fact side
    never shuffles.
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey, "left")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("sum_qty"),
        )
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT cn.nationkey AS c_nation, sn.nationkey AS s_nation,
           COALESCE(cn.n_cust, 0) AS n_cust, COALESCE(sn.n_supp, 0) AS n_supp
    FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1) cn
    FULL OUTER JOIN
         (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1) sn
    ON cn.nationkey = sn.nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select(
            c["nationkey"].alias("c_nation"),
            s["nationkey"].alias("s_nation"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


@query(
    "join_range",
    oracle="""
    SELECT e1.user_id, COUNT(*) AS n_followups
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL '5 minutes'
    GROUP BY e1.user_id
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: pairs of events of one user within 5 minutes,
    banded by time bucket.

    A plain SMJ on user_id evaluates the residual range predicate against
    EVERY same-user pair — quadratic in per-user event density (measured
    super-linear at a 10x scale-up, SCALE.md). Banding adds
    bucket = floor(ts / 5 min) to the equi key: a match within (ts, ts+5min]
    can only sit in the left row's bucket or the next one, so the left side
    is exploded to those two keys and candidates shrink from |user events|^2
    to ~2 x (per-bucket density)^2 per bucket. The residual filter then
    applies the exact bounds — results identical to the naive join.
    """
    e = table(spark, sf_dir, "events")
    bucket = F.floor(F.unix_timestamp("ts") / 300)
    e1 = e.select("user_id", "ts").withColumn(
        "jb", F.explode(F.array(bucket, bucket + 1))
    ).alias("e1")
    e2 = e.select("user_id", "ts").withColumn("jb", bucket).alias("e2")
    cond = (
        (F.col("e1.user_id") == F.col("e2.user_id"))
        & (F.col("e1.jb") == F.col("e2.jb"))
        & (F.col("e2.ts") > F.col("e1.ts"))
        & (F.col("e2.ts") <= F.col("e1.ts") + F.expr("INTERVAL 5 MINUTES"))
    )
    return (
        e1.join(e2, cond)
        .groupBy(F.col("e1.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_followups"))
    )


# The oracle's twin of _asof_sides: purchases `p1` (one row per user and
# timestamp) and clicks `c`.
_ASOF_SIDES_SQL = """p1 AS (
      SELECT user_id, ts AS pts, MAX(event_id) AS purchase_id
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
    c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')"""


def _asof_match_sql(prefix: str, join: str) -> str:
    """The oracle of a one-direction as-of op: each click with the purchase
    id and time that ``join`` (an ASOF LEFT JOIN of `c` to `p1 p`) matches,
    named ``<prefix>_purchase_id`` and ``<prefix>_purchase_ts``."""
    return f"""
    WITH {_ASOF_SIDES_SQL}
    SELECT c.event_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
           p.purchase_id AS {prefix}_purchase_id,
           strftime(p.pts, '%Y-%m-%d %H:%M:%S') AS {prefix}_purchase_ts
    FROM c
    {join}
    """


def _asof_sides(spark: SparkSession, sf_dir: str):
    """Shared as-of fixture (r12 re-pointing): CLICK events matched to the
    same user's PURCHASE events. The original right side was the orders
    table, whose 1995-2001 dates sit 23 years before the 2024 event
    stream: backward matched every event to the user's FINAL order (one
    branch only) and forward/tolerance matched NOTHING — two fully
    vacuous match columns the degeneracy audit caught. Clicks and
    purchases interleave, so every branch (match both directions,
    NULL both edges, in/out of tolerance) is live at every driver SF.
    Dedup contract unchanged: one purchase per (user, ts), max event_id."""
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("rts"))
        .agg(F.max("event_id").alias("purchase_id"))
        .select("user_id", "rts", "purchase_id")
    )
    return clicks, purchases


@query(
    "join_asof",
    oracle=_asof_match_sql(
        "last", "ASOF LEFT JOIN p1 p\n      ON c.user_id = p.user_id AND c.ts >= p.pts"
    ),
)
def join_asof_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each click, the user's most recent purchase
    at/before it (the attribution lookup).

    DuckDB validates via native ASOF JOIN; Spark side uses the
    union+window implementation in operators/asof.py (single shuffle per
    side). Tie-break on equal purchase ts: highest event_id wins on both
    sides is NOT guaranteed by ASOF — so purchases are pre-deduped to one
    row per (user, ts), max event_id (see _asof_sides for the r12
    fixture re-pointing rationale).
    """
    clicks, purchases = _asof_sides(spark, sf_dir)
    joined = asof_join(
        left=clicks,
        right=purchases,
        on="user_id",
        left_ts="ts",
        right_ts="rts",
        value_cols=["purchase_id", "rts"],
    )
    return joined.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        F.col("purchase_id").alias("last_purchase_id"),
        F.date_format("rts", "yyyy-MM-dd HH:mm:ss").alias("last_purchase_ts"),
    )


@query(
    "unpivot_melt",
    oracle="""
    UNPIVOT (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity      AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(l_discount      AS DECIMAL(18,6))) AS DOUBLE) AS sum_discount
      FROM lineitem
      GROUP BY l_returnflag
    )
    ON sum_qty, sum_base_price, sum_discount
    INTO NAME metric VALUE value
    """,
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (melt): unpivot a per-returnflag aggregate into
    (l_returnflag, metric, value) rows — the inverse of agg_pivot.

    ``DataFrame.unpivot`` expands each input row to one row per value column
    inside the same stage (a generator, no shuffle, no UDF); the only
    exchange is the upstream 3-group aggregate. Melt is how a 100 TB-wide
    feature table feeds metric-per-row sinks (monitoring, sparse storage)
    without a Python round-trip.
    """
    li = table(spark, sf_dir, "lineitem")

    def s(c: str) -> F.Column:
        return F.sum(F.col(c).cast("decimal(18,6)")).cast("double")

    wide = li.groupBy("l_returnflag").agg(
        s("l_quantity").alias("sum_qty"),
        s("l_extendedprice").alias("sum_base_price"),
        s("l_discount").alias("sum_discount"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_base_price", "sum_discount"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "subquery_correlated",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
           (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*)
            FROM orders o2 WHERE o2.o_custkey = o.o_custkey) AS cust_avg
    FROM orders o
    WHERE o.o_totalprice >
          (SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                  / COUNT(*)
           FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery semantics: orders priced above their own
    customer's average order price.

    The oracle states it as the textbook correlated scalar subquery; the
    engine states the DECORRELATED form — aggregate once per customer,
    join back — which is exactly the rewrite Catalyst (and every planner
    since Kim '82) applies: at 100 TB the correlated form is a per-row
    re-aggregation, the decorrelated form is one shuffle each for the agg
    and the join on the same key. The average divides an exact decimal sum
    by the count in one double op, so the > comparison can't flip between
    engines at boundary values.
    """
    o = table(spark, sf_dir, "orders")
    avgs = o.groupBy("o_custkey").agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("cust_avg")
    )
    return (
        o.join(avgs, "o_custkey")
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
    )


@query(
    "join_null_safe",
    oracle="""
    WITH e AS (
      SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS uid
      FROM events
    ),
    d AS (
      SELECT DISTINCT CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_custkey END AS uid
      FROM customer
    )
    SELECT e.uid, CAST(COUNT(*) AS BIGINT) AS n
    FROM e JOIN d ON e.uid IS NOT DISTINCT FROM d.uid
    GROUP BY e.uid
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (<=> / IS NOT DISTINCT FROM): NULL keys match
    each other instead of vanishing — the semantics CDC merge keys and
    optional foreign keys need.

    Both sides synthesize NULLs (key % 7) to prove the behavior. eqNullSafe
    stays a HASH-joinable equi condition in Catalyst (it hashes the null
    bucket like any value) — unlike the `a = b OR (a IS NULL AND b IS
    NULL)` rewrite people reach for, which degrades to a nested loop. At
    scale the caveat is that ALL null keys land in ONE reducer bucket: a
    null-heavy fact side is exactly the skew case join_skew_salted treats.
    """
    e = table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("user_id")).alias("uid"),
    )
    d = (
        table(spark, sf_dir, "customer")
        .select(
            F.when(F.col("c_custkey") % 7 == 0, F.lit(None))
            .otherwise(F.col("c_custkey"))
            .alias("uid")
        )
        .distinct()
    )
    return (
        e.join(d, e.uid.eqNullSafe(d.uid))
        .groupBy(e.uid.alias("uid"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@query(
    "nested_order_baskets",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(DISTINCT l_partkey)), ',') AS parts_str,
           CAST(len(list(DISTINCT l_partkey)) AS INTEGER) AS n_parts,
           list_sort(list(DISTINCT l_partkey))[1] AS first_part,
           CAST(list_contains(list(DISTINCT l_partkey), 1) AS BOOLEAN) AS has_part_1
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def nested_order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type surface: per-order sorted part arrays with element
    access and membership — the collect/sort/index/contains quartet over
    ARRAY columns, hash-compared as values against DuckDB lists.

    collect_set is order-nondeterministic across partitionings, so
    determinism comes from array_sort AFTER collection — the rule for any
    array-valued aggregate. One shuffle on l_orderkey; arrays stay
    columnar (no UDF). Basket arrays are the input shape for
    basket_pair_counts' pair explosion and for array-typed feature
    columns in a training table.
    """
    return order_baskets(table(spark, sf_dir, "lineitem")).select(
        "l_orderkey",
        # Serialized canonical form: array-typed result cells hash
        # differently across pandas bridges, so the VALUE column is the
        # joined string while size/index/membership stay native array ops.
        F.concat_ws(",", F.col("ps").cast("array<string>")).alias("parts_str"),
        F.size("ps").alias("n_parts"),
        F.element_at("ps", 1).alias("first_part"),
        F.array_contains("ps", F.lit(1)).alias("has_part_1"),
    )


@query(
    "sql_interface",
    oracle="""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_balance
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's raw-SQL entry point: register the catalog as temp views
    and run ANSI SQL through spark.sql() — same Catalyst plan as the
    DataFrame API (the two surfaces converge at the logical plan, so
    everything SCALE.md says about any operator applies to its SQL
    spelling verbatim).

    The view registration is metadata-only (no scan, no cache); the SQL
    text here is intentionally the SAME dialect the DuckDB oracle runs,
    demonstrating the portability boundary: everything in this query —
    joins, decimal casts, aggregates — is ANSI-portable.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_balance
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


@query(
    "materialized_reuse",
    oracle="""
    WITH seg AS (
      SELECT c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS dec_bal
      FROM customer GROUP BY c_mktsegment
    )
    SELECT a.c_mktsegment, a.n,
           CAST(a.dec_bal AS DOUBLE) AS total_bal,
           CAST(a.dec_bal AS DOUBLE) / b.grand_total AS share
    FROM seg a
    CROSS JOIN (SELECT CAST(SUM(dec_bal) AS DOUBLE) AS grand_total FROM seg) b
    """,
)
def materialized_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-intermediate reuse: one aggregated subresult (per-
    segment totals) consumed TWICE — as the detail rows and as the grand
    total — with cache() making the reuse explicit.

    This is the reference's 'metadata CSV as single source of truth'
    pattern (`README.md:29`: compute once, reuse downstream) expressed
    intra-job: without cache() Spark would recompute the aggregate for
    each consumer (plans are trees, not DAGs — no automatic subplan
    sharing); with it the second consumer reads InMemoryTableScan. At
    100 TB the same decision appears as persist-to-Parquet between jobs
    vs cache within one; the aggregate here is |segments| rows, so the
    cache is KBs.

    The grand total re-sums the EXACT decimal subtotals (order-
    independent), converting to double only at the final division.
    """
    c = table(spark, sf_dir, "customer")
    seg = (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).alias("dec_bal"),
        )
        .cache()
    )
    total = seg.agg(F.sum("dec_bal").cast("double").alias("grand_total"))
    return seg.crossJoin(F.broadcast(total)).select(
        "c_mktsegment",
        "n",
        F.col("dec_bal").cast("double").alias("total_bal"),
        (F.col("dec_bal").cast("double") / F.col("grand_total")).alias("share"),
    )


@query(
    "join_asof_forward",
    oracle=_asof_match_sql(
        "next", "ASOF LEFT JOIN p1 p ON c.user_id = p.user_id AND c.ts <= p.pts"
    ),
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click matched to the user's NEXT purchase
    on or after it ("time to next conversion" lookups).

    Same union + window machinery as join_asof but scanning forward
    (operators/asof.py asof_join_forward) — one shuffle per side, linear
    window, no range-join blowup. Purchases pre-deduped per (user, ts),
    max event_id, because ASOF picks an arbitrary row among equal
    timestamps — determinism must come from the input (fixture
    re-pointing rationale in _asof_sides).
    """
    clicks, purchases = _asof_sides(spark, sf_dir)
    joined = asof_join_forward(
        left=clicks,
        right=purchases,
        on="user_id",
        left_ts="ts",
        right_ts="rts",
        value_cols=["purchase_id", "rts"],
    )
    return joined.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        F.col("purchase_id").alias("next_purchase_id"),
        F.date_format("rts", "yyyy-MM-dd HH:mm:ss").alias("next_purchase_ts"),
    )


@query(
    "join_lateral",
    oracle="""
    SELECT c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    """,
)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 orders per customer, in SQL.

    Spark 4 supports LATERAL natively; Catalyst decorrelates the
    correlated limit into a window-rank over a single join — the same
    physical plan the DataFrame row_number() spelling produces, which is
    the point: the SQL surface and the DataFrame surface meet at the
    logical plan. Unique tiebreaker (o_orderkey) in the ORDER BY keeps
    the top-2 deterministic under price ties.
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        """
    )


@query(
    "cte_recursive_chain",
    oracle="""
    WITH RECURSIVE chain AS (
      SELECT user_id AS u, user_id AS cur, 0 AS depth
      FROM (SELECT DISTINCT user_id FROM events)
      UNION ALL
      SELECT u, cur // 2, depth + 1 FROM chain WHERE cur > 1)
    SELECT u AS user_id, MAX(depth) AS chain_len FROM chain GROUP BY u
    """,
)
def cte_recursive_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE: iterative hierarchy walk entirely inside the engine.

    The demo hierarchy is synthetic (parent(u) = u div 2 — a binary-heap
    org chart over the observed user ids) but the shape is the real
    capability: BOM explosion, management chains, graph reachability.
    Spark 4.1 executes WITH RECURSIVE as an iterative union driven by the
    engine (each step is a distributed join/filter, no driver-side loop);
    depth here is bounded by log2(max user_id). The only dialect delta vs
    the oracle is integer division spelling (DIV vs //).
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE chain AS (
          SELECT user_id AS u, user_id AS cur, 0 AS depth
          FROM (SELECT DISTINCT user_id FROM events)
          UNION ALL
          SELECT u, cur DIV 2, depth + 1 FROM chain WHERE cur > 1)
        SELECT u AS user_id, MAX(depth) AS chain_len FROM chain GROUP BY u
        """
    )


@query(
    "join_cross",
    oracle="""
    WITH pr AS (SELECT DISTINCT o_orderpriority FROM orders),
    st AS (SELECT DISTINCT o_orderstatus FROM orders),
    grid AS (SELECT o_orderpriority, o_orderstatus FROM pr CROSS JOIN st),
    cnt AS (
      SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2)
    SELECT g.o_orderpriority, g.o_orderstatus, COALESCE(cnt.n, 0) AS n_orders
    FROM grid g LEFT JOIN cnt USING (o_orderpriority, o_orderstatus)
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join as a dense-grid builder: every (priority, status) cell,
    observed or not, with zero-filled counts.

    The legitimate cross-join use case — reports and ML feature tensors
    need ABSENT combinations as explicit zeros, and an inner aggregate
    can't produce rows it never saw. Both sides are post-distinct
    aggregates (a handful of rows), so the Cartesian product is trivially
    broadcast; the guard that matters at 100 TB is that the cross join
    happens AFTER the reduction, never on raw tables.
    """
    o = table(spark, sf_dir, "orders")
    pr = o.select("o_orderpriority").distinct()
    st = o.select("o_orderstatus").distinct()
    grid = pr.crossJoin(st)
    cnt = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return grid.join(cnt, ["o_orderpriority", "o_orderstatus"], "left").select(
        "o_orderpriority",
        "o_orderstatus",
        F.coalesce("n", F.lit(0).cast("long")).alias("n_orders"),
    )


@query(
    "join_asof_nearest",
    oracle=f"""
    WITH {_ASOF_SIDES_SQL},
    b AS (
      SELECT c.event_id, c.ts, p.purchase_id AS bk, p.pts AS bts
      FROM c
      ASOF LEFT JOIN p1 p ON c.user_id = p.user_id AND c.ts >= p.pts),
    f AS (
      SELECT c.event_id, p.purchase_id AS fk, p.pts AS fts
      FROM c
      ASOF LEFT JOIN p1 p ON c.user_id = p.user_id AND c.ts <= p.pts)
    SELECT b.event_id,
           strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
           CASE WHEN f.fts IS NULL
                  OR (b.bts IS NOT NULL AND (b.ts - b.bts) <= (f.fts - b.ts))
                THEN b.bk ELSE f.fk END AS nearest_purchase_id,
           strftime(CASE WHEN f.fts IS NULL
                  OR (b.bts IS NOT NULL AND (b.ts - b.bts) <= (f.fts - b.ts))
                THEN b.bts ELSE f.fts END, '%Y-%m-%d %H:%M:%S')
             AS nearest_purchase_ts,
           CASE WHEN b.bts IS NULL AND f.fts IS NULL THEN NULL
                WHEN f.fts IS NULL
                  OR (b.bts IS NOT NULL AND (b.ts - b.bts) <= (f.fts - b.ts))
                THEN 'back' ELSE 'fwd' END AS direction
    FROM b JOIN f ON b.event_id = f.event_id
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (pandas merge_asof direction='nearest'): each
    click matched to the user's CLOSEST purchase in either direction —
    completes the as-of family (backward r3, forward r5). Ties at equal
    distance break BACKWARD (the earlier order), the merge_asof
    convention; comparisons are on interval values both engines derive
    from the same timestamps, so no boundary row flips.

    Plan: the backward and forward passes each run the linear union+window
    as-of (one shuffle per side, no range-join blowup), then one equi-join
    on event_id stitches the two candidates and a CASE picks the winner —
    3 keyed shuffles total, still no N x M range explosion.
    """
    left, right = _asof_sides(spark, sf_dir)
    b = asof_join(
        left=left, right=right, on="user_id", left_ts="ts", right_ts="rts",
        value_cols=["purchase_id", "rts"],
    ).select("event_id", "ts", F.col("purchase_id").alias("bk"), F.col("rts").alias("bts"))
    f = asof_join_forward(
        left=left, right=right, on="user_id", left_ts="ts", right_ts="rts",
        value_cols=["purchase_id", "rts"],
    ).select("event_id", F.col("purchase_id").alias("fk"), F.col("rts").alias("fts"))
    j = b.join(f, "event_id")
    back_wins = F.col("fts").isNull() | (
        F.col("bts").isNotNull()
        & ((F.col("ts") - F.col("bts")) <= (F.col("fts") - F.col("ts")))
    )
    return j.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        F.when(back_wins, F.col("bk")).otherwise(F.col("fk")).alias("nearest_purchase_id"),
        F.date_format(
            F.when(back_wins, F.col("bts")).otherwise(F.col("fts")),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("nearest_purchase_ts"),
        F.when(F.col("bts").isNull() & F.col("fts").isNull(), F.lit(None))
        .when(back_wins, F.lit("back"))
        .otherwise(F.lit("fwd"))
        .alias("direction"),
    )


_IVL_BUCKET_SEC = 3600  # chunk width; interval length <= 2h => <= 3 chunks


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH a AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value * 20) AS BIGINT) AS e
      FROM events WHERE event_type = 'view' AND value IS NOT NULL),
    b AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value * 20) AS BIGINT) AS e
      FROM events WHERE event_type = 'click' AND value IS NOT NULL),
    ov AS (
      SELECT a.user_id,
             least(a.e, b.e) - greatest(a.s, b.s) AS sec
      FROM a JOIN b ON a.user_id = b.user_id
      WHERE least(a.e, b.e) - greatest(a.s, b.s) > 0)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(SUM(sec) AS BIGINT) AS total_overlap_sec,
           CAST(MAX(sec) AS BIGINT) AS max_overlap_sec
    FROM ov GROUP BY 1
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join (the genomics/observability
    classic): per user, every (view interval, click interval) pair with
    POSITIVE time overlap, aggregated to counts and overlap seconds.
    Intervals are [ts, ts + floor(value*20) sec] (<= ~2 h), so both sides
    have variable extents — the case join_range's point-within-delta
    banding does not cover. Epoch seconds TRUNCATE on both engines:
    Spark's unix_timestamp floors sub-second timestamps, so the oracle
    floors epoch() before casting (a bare CAST would round-half-even and
    drift one second on ~half the sub-second inputs).

    Scale design — chunked equi-join with ASSIGNMENT-BUCKET dedup:
    each interval explodes to the {_IVL_BUCKET_SEC}-second chunks it
    spans (<= 3 here), candidates come from the (user_id, chunk)
    EQUI-join, and a pair spanning several shared chunks is counted
    exactly once WITHOUT a distinct(): it is claimed only by the chunk
    containing greatest(s_a, s_b) — a point inside both intervals, so
    the claiming chunk is always among the candidates. A plain SMJ on
    user_id alone re-checks the residual against every same-user pair
    (quadratic in user density, the join_range lesson); the distinct()
    formulation re-shuffles the full pair set a second time. Both are
    avoided: one exchange per side, one aggregation.

    Fan-out bound at 100 TB: chunk width should sit near the median
    interval length — explode factor ~2-3, per-chunk density bounded by
    concurrent-interval count, and skewed chunks fall under AQE skew
    splitting since the join key is (user, chunk), not user alone.
    """
    e = table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")

    def side(et: str, s_name: str, e_name: str) -> DataFrame:
        return (
            e.filter((F.col("event_type") == et) & F.col("value").isNotNull())
            .select(
                "user_id",
                sec.alias(s_name),
                (sec + F.floor(F.col("value") * 20).cast("long")).alias(e_name),
            )
        )

    w = _IVL_BUCKET_SEC
    a = side("view", "sa", "ea").withColumn(
        "jb", F.explode(F.sequence(F.expr(f"sa div {w}"), F.expr(f"ea div {w}")))
    )
    b = side("click", "sb", "eb").withColumn(
        "jb", F.explode(F.sequence(F.expr(f"sb div {w}"), F.expr(f"eb div {w}")))
    )
    ov = F.least("ea", "eb") - F.greatest("sa", "sb")
    claim = F.expr(f"greatest(sa, sb) div {w}")
    pairs = (
        a.join(b, ["user_id", "jb"])
        .filter((ov > 0) & (F.col("jb") == claim))
        .select("user_id", ov.alias("sec"))
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlaps"),
        F.sum("sec").cast("long").alias("total_overlap_sec"),
        F.max("sec").cast("long").alias("max_overlap_sec"),
    )


@query(
    "join_asof_tolerance",
    oracle=f"""
    WITH {_ASOF_SIDES_SQL},
    m AS (
      SELECT c.event_id,
             strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
             p.purchase_id, p.pts,
             c.ts - p.pts <= INTERVAL 12 HOUR AS in_tol
      FROM c
      ASOF LEFT JOIN p1 p
        ON c.user_id = p.user_id AND c.ts >= p.pts)
    SELECT event_id, event_ts,
           CASE WHEN in_tol THEN purchase_id END AS last_purchase_id,
           CASE WHEN in_tol
                THEN strftime(pts, '%Y-%m-%d %H:%M:%S') END
             AS last_purchase_ts
    FROM m
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a match-window TOLERANCE (pandas merge_asof's
    ``tolerance=``): the user's most recent purchase at/before the click,
    but only if it is at most 12 hours old — staler state must read as NO
    match (NULL), the semantics every feature-store point-in-time lookup
    needs so a years-old attribute cannot leak into a fresh training row.
    12 hours sits inside the event stream's inter-purchase gap
    distribution, so matched and NULLed clicks BOTH occur at every driver
    SF (fixture re-pointing rationale in _asof_sides).

    Because backward as-of picks the NEAREST previous match, nulling a
    beyond-tolerance winner is exactly equivalent to restricting the match
    set up front — no second pass needed. Implementation: the proven
    union+window as-of core (operators/asof.py — one shuffle per side, no
    range explosion), then one scan-stage CASE on the matched timestamp.
    Tie-break and dedup contract identical to join_asof.
    """
    clicks, purchases = _asof_sides(spark, sf_dir)
    joined = asof_join(
        left=clicks,
        right=purchases,
        on="user_id",
        left_ts="ts",
        right_ts="rts",
        value_cols=["purchase_id", "rts"],
    )
    in_tol = F.col("rts") >= F.col("ts") - F.expr("INTERVAL 12 HOURS")
    return joined.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_ts"),
        F.when(in_tol, F.col("purchase_id")).alias("last_purchase_id"),
        F.when(in_tol, F.date_format("rts", "yyyy-MM-dd HH:mm:ss")).alias(
            "last_purchase_ts"
        ),
    )


@query(
    "join_left_mark",
    oracle="""
    SELECT c.c_custkey,
           EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                     AND o.o_totalprice > 100000) AS has_big_order
    FROM customer c
    """,
)
def join_left_mark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mark join (EXISTS as a COLUMN, not a filter): every left row kept,
    annotated with whether a qualifying match exists — the shape feature
    engineering needs (the flag is the feature; a semi join would drop
    the negatives, an outer join would duplicate on multiple matches).

    Plan: the match side pre-aggregates to DISTINCT keys under the
    predicate (map-side combined, one shuffle of bare keys), then a left
    join + null-check materializes the mark with at most one match per
    left row — no row duplication, no second dedup pass. At 100 TB the
    aggregated key set is the join's build side and usually broadcasts.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    keys = (
        o.filter(F.col("o_totalprice") > 100000)
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return c.select("c_custkey").join(keys, "c_custkey", "left").select(
        "c_custkey", F.col("__hit").isNotNull().alias("has_big_order")
    )


@query(
    "join_scd2_pit",
    oracle="""
    WITH ch AS (
      SELECT user_id, ts, event_type AS state,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events WHERE event_type <> 'purchase'),
    chg AS (SELECT user_id, ts, state FROM ch
            WHERE prev IS NULL OR prev <> state),
    f AS (SELECT user_id, ts, value FROM events
          WHERE event_type = 'purchase')
    SELECT COALESCE(c.state, 'none') AS state,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(f.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM f ASOF LEFT JOIN chg c
      ON f.user_id = c.user_id AND f.ts >= c.ts
    GROUP BY 1 ORDER BY 1
    """,
)
def join_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup — the feature-store join: every
    purchase is enriched with the SCD2 state the user was in AT THAT
    MOMENT (their latest preceding non-purchase event type), never a
    later state. This is the composition a warehouse runs constantly —
    scd2_user_state builds the history, this op reads it correctly;
    doing it with a plain latest-state join silently leaks the future
    into training features, the classic offline/online skew bug.

    The dimension side is the SCD2 change stream (LAG-compressed state
    changes per user, the scd2_user_state machinery); the lookup is the
    union+window as-of from operators/asof.py — ONE shuffle per side,
    no interval join, no range explosion; purchases with no preceding
    state land in the 'none' bucket instead of dropping (LEFT as-of).
    Output is the per-state purchase rollup: bounded at |states| rows.

    Determinism: state changes tie-break on (ts, event_id); the as-of
    itself needs no tie-break on this data (a purchase and a change
    never share an event row); sums are exact decimal with one final
    double cast. DuckDB validates with its native ASOF LEFT JOIN.
    """
    e = table(spark, sf_dir, "events")
    wlag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        e.filter(F.col("event_type") != "purchase")
        .select(
            "user_id", "ts", "event_id", F.col("event_type").alias("state")
        )
        .withColumn("prev", F.lag("state").over(wlag))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("state")))
        .select("user_id", F.col("ts").alias("rts"), "state")
    )
    f = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = asof_join(
        left=f,
        right=chg,
        on="user_id",
        left_ts="ts",
        right_ts="rts",
        value_cols=["state"],
    )
    return (
        joined.groupBy(F.coalesce("state", F.lit("none")).alias("state"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("state")
    )
