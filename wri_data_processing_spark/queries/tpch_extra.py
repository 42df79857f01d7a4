"""Additional TPC-H-shaped headline queries (adapted to the driver schema).

These exercise the multi-join + aggregate + top-k plans that dominate real
warehouse workloads; all follow the exact-decimal determinism pattern.

Scale notes: q3/q10 are fact-fact joins on orderkey — co-partitioned
shuffle joins where AQE picks the build side; q5 chains two dimension
broadcasts before the fact join so the lineitem scan shuffles ONCE on
suppkey. Revenue ordering ties are broken by the group key for stable top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.registry import query


def _rev_dec() -> F.Column:
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan: the filtered customer and orders sides broadcast onto the
    lineitem scan, one shuffle feeds the final aggregate, and the top-N is
    a TakeOrderedAndProject, not a global sort."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    l = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_region_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue
    FROM region JOIN nation ON n_regionkey = r_regionkey
                JOIN supplier ON s_nationkey = n_nationkey
                JOIN lineitem ON l_suppkey = s_suppkey
                JOIN orders ON o_orderkey = l_orderkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation")
    s = table(spark, sf_dir, "supplier")
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    dims = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        l.join(F.broadcast(dims), l.l_suppkey == dims.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("n_name")
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape adapted to this schema (no commitdate): EXISTS becomes
    a left-semi join — no row duplication, the build side only carries keys.

    Quarter window is 1996Q3 (synthetic orders start 1995-01-01; the
    original 1994Q3 literal selected ZERO orders — a vacuous 0==0 oracle;
    r12 fix, certified live in test_r12_known_answers_wave20)."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (l.l_orderkey == o.o_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate — every predicate must reach the
    parquet scan (PushedFilters) and the agg is a single partial+final pass.

    Year window is 1996 (synthetic shipdates start 1995-01-02; the
    original 1994 literal summed ZERO rows to a NULL revenue at every SF
    — a vacuous 1-row oracle the row-count audit missed and the VALUE
    audit caught; r12 fix, replayed live in wave 20)."""
    l = table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
           AS DOUBLE) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: broadcast the part dimension; conditional ratio aggregate.
    Both sums are exact decimals so the final double division is bit-stable."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01 00:00:00").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", _rev_dec()).otherwise(
            F.lit(0).cast("decimal(18,6)")
        )
    ).cast("double")
    total = F.sum(_rev_dec()).cast("double")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg((F.lit(100.0) * promo / total).cast("double").alias("promo_revenue_pct"))
    )


@query(
    "q18_large_volume",
    oracle="""
    SELECT c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey, o_orderdate
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 300
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: pre-aggregate lineitem by orderkey FIRST, filter to
    the few large orders, then join the (now tiny) set to orders+customer —
    the classic agg-pushdown-below-join rewrite done by hand."""
    l = table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("qty"))
        .filter(F.col("qty") > 300)
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "q19_discounted_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides.
    The join key stays an equi-join (hashable); the disjunction becomes a
    post-join filter Catalyst can partially push to each scan."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & q.between(20, 40))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
    )


@query(
    "q10_returned_customers",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q7_nation_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue
    FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                  JOIN orders ON o_orderkey = l_orderkey
                  JOIN customer ON c_custkey = o_custkey
                  JOIN nation sn ON s_nationkey = sn.n_nationkey
                  JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_20' AND cn.n_name = 'NATION_11')
        OR (sn.n_name = 'NATION_11' AND cn.n_name = 'NATION_20'))
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume by year. Both nation lookups
    broadcast; the fact chain shuffles lineitem once on orderkey.

    The bilateral pair is NATION_20/NATION_11 — live at every driver SF
    (NATION_20 is a supplier nation even in sf0.001's 10-nation staffing).
    The original literals were FRANCE/GERMANY, which the synthetic nation
    table lacks: the query returned ZERO rows — a vacuous 0==0 oracle
    (r12 fix, certified live in test_r12_known_answers_wave20)."""
    n = table(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))
    s = table(spark, sf_dir, "supplier")
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    pair = (
        (F.col("supp_nation") == "NATION_20") & (F.col("cust_nation") == "NATION_11")
    ) | ((F.col("supp_nation") == "NATION_11") & (F.col("cust_nation") == "NATION_20"))
    return (
        l.join(F.broadcast(s.join(F.broadcast(sn), s.s_nationkey == sn.sk)),
               l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c.join(F.broadcast(cn), c.c_nationkey == cn.ck), o.o_custkey == c.c_custkey)
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(F.sum(_rev_dec()).cast("double").alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle="""
    SELECT l_year,
           CAST(CAST(SUM(CASE WHEN n_name = 'NATION_20' THEN rev
                              ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                / CAST(SUM(rev) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS l_year, n_name,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS rev
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    JOIN supplier ON l_suppkey = s_suppkey
                    JOIN nation ON s_nationkey = n_nationkey
    ) GROUP BY l_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's revenue share per year — a conditional
    ratio over the full fact join, exact decimal numerators/denominators.

    The share nation is NATION_20 — a supplier nation at EVERY driver SF
    (sf0.001 staffs only 10 of the 25 nations). The original literal was
    BRAZIL, which the synthetic nation table lacks: every share was
    exactly 0 — a vacuous oracle, the degenerate-fixture class the PII
    augmentation lesson exists for (r12 fix, certified live in
    test_r12_known_answers_wave20)."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
              l.l_suppkey == s.s_suppkey)
        .select(
            F.year("o_orderdate").cast("long").alias("l_year"),
            F.col("n_name"),
            _rev_dec().alias("rev"),
        )
    )
    brazil = F.sum(
        F.when(F.col("n_name") == "NATION_20", F.col("rev")).otherwise(
            F.lit(0).cast("decimal(18,6)")
        )
    ).cast("double")
    return joined.groupBy("l_year").agg(
        (brazil / F.sum("rev").cast("double")).cast("double").alias("mkt_share")
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total = (SELECT MAX(total) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: revenue view + scalar-max filter. The max is a broadcast
    single-row cross join, not a driver-side collect."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_dec()).alias("total")
    )
    mx = rev.agg(F.max("total").alias("mx"))
    s = table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total") == F.col("mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", F.col("total").cast("double").alias("total_revenue"))
    )


@query(
    "q22_global_sales_opportunity",
    oracle="""
    WITH rich AS (
      SELECT * FROM customer
      WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
    )
    SELECT c_mktsegment,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
    FROM rich
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-08-01 00:00:00')
    GROUP BY c_mktsegment
    """,
)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers gone quiet — no
    order since 2000-08-01 — via scalar-subquery average (broadcast) +
    anti join against the RECENT slice of the fact.

    The original unconditioned NOT EXISTS was structurally empty here:
    every synthetic customer has at least one order at every SF, so the
    op returned zero rows forever — a vacuous 0==0 oracle. The lapsed-
    customer window restores the query's actual business point (who has
    money but stopped buying) with live rows at every driver SF (r12
    fix, certified in test_r12_known_answers_wave20)."""
    c = table(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("ab"))
    o = table(spark, sf_dir, "orders")
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(
            o.filter(
                F.col("o_orderdate") >= F.lit("2000-08-01 00:00:00").cast("timestamp")
            ),
            c.c_custkey == o.o_custkey,
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double").alias("totacctbal"),
        )
    )


@query(
    "q12_late_shipments",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape adapted (no l_shipmode/commitdate in this schema):
    late = shipped >90 days after order date; priority split per returnflag.

    The lateness predicate references both sides, so it stays a residual on
    the orderkey equi-join; the priority CASE-sums are a single hash agg.
    Year window is 1996 (orders start 1995; the original 1994 literal
    selected zero rows — vacuous; r12 fix, wave-20 certified live). The
    zero-row era also HID a latent type mismatch: DuckDB's SUM(int)
    surfaces as HUGEINT->float while Spark's is long — invisible while
    both sides hashed zero rows; both now CAST to BIGINT explicitly.
    """
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(
            l,
            (l.l_orderkey == o.o_orderkey)
            & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count histogram (comment-filter becomes a
    priority filter). Two chained aggregations: the first shuffles on
    custkey (same key as the join — one exchange serves both), the second
    groups the tiny histogram. COUNT(o_orderkey) counts non-null only,
    preserving the left-join zero bucket."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
           AS DOUBLE) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
        SELECT 0.2 * AVG(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (no p_container: brand-only filter): revenue of
    below-20%-of-average-quantity orders. The correlated scalar subquery
    becomes a pre-aggregated per-part average joined back — the aggregate
    runs over ALL lineitems of qualifying parts (matching the subquery,
    which is not brand-filtered inside), then the fact join is brand-pruned.
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    # per-part threshold over the unfiltered lineitem (subquery semantics),
    # but only for parts that survive the brand filter: semi-prune first so
    # the avg agg reads the minimum rows.
    lp = l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == F.col("p_partkey"), "left_semi")
    thresh = lp.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        lp.join(F.broadcast(thresh), lp.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
                / F.lit(7.0)
            ).cast("double").alias("avg_yearly")
        )
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    WITH late AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    ),
    all_supp AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
    SELECT s_name, COUNT(*) AS numwait
    FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE EXISTS (SELECT 1 FROM all_supp l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (no receipt/commit dates: late = shipped >60 days
    after order date on a finished order): suppliers who were the SOLE late
    supplier on a multi-supplier order.

    EXISTS/NOT-EXISTS with the <> correlation can't be a plain semi/anti
    join; both collapse to per-order counts — 'another supplier exists' ==
    distinct suppliers on the order > 1, 'no other late supplier' == late
    suppliers on the order == 1. Counting replaces two correlated joins
    with one extra agg on a shuffle key (l_orderkey) the plan already uses.
    """
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    n_supp = (
        l.select("l_orderkey", "l_suppkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    n_late = late.groupBy(F.col("l_orderkey").alias("lk")).agg(
        F.count(F.lit(1)).alias("n_late")
    )
    s = table(spark, sf_dir, "supplier")
    return (
        late.join(n_supp, "l_orderkey")
        .join(n_late, late.l_orderkey == F.col("lk"))
        .filter((F.col("n_suppliers") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(s), late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@query(
    "q9_product_type_profit",
    oracle="""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         - 0.6 * p_retailprice * l_quantity
                         AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
    FROM lineitem JOIN part ON p_partkey = l_partkey
                  JOIN supplier ON s_suppkey = l_suppkey
                  JOIN orders ON o_orderkey = l_orderkey
                  JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp: supply cost modeled as 60% of
    p_retailprice): profit by supplier nation and order year for parts
    matching a name pattern. Part+supplier+nation all broadcast; lineitem
    shuffles once on orderkey for the orders join.

    The name token is 'red' (the synthetic p_name vocabulary has no
    'green'; the original literal matched ZERO parts — a vacuous 0==0
    oracle; r12 fix, certified live in test_r12_known_answers_wave20)."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,6)")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
              l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#3' AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 50
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (no partsupp table: the part-supplier relation is
    the DISTINCT (l_partkey, l_suppkey) pairs observed in lineitem):
    distinct supplier counts per brand/type/size bucket.

    The distinct-pairs scan prunes lineitem to two columns; the part join
    broadcasts; COUNT(DISTINCT) expands to a two-phase agg Catalyst plans
    automatically."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    ps = l.select("l_partkey", "l_suppkey").distinct()
    return (
        ps.join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
        .limit(50)
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               MIN(CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE))
                 AS supplycost
        FROM lineitem
        GROUP BY l_partkey, l_suppkey
    ),
    ranked AS (
        SELECT s_acctbal, s_name, n_name, p_partkey, p_type, supplycost,
               ROW_NUMBER() OVER (PARTITION BY p_partkey
                                  ORDER BY supplycost, l_suppkey) AS rn
        FROM cost JOIN part ON p_partkey = l_partkey
                  JOIN supplier ON s_suppkey = l_suppkey
                  JOIN nation ON n_nationkey = s_nationkey
                  JOIN region ON r_regionkey = n_regionkey
        WHERE p_size IN (5, 15, 25, 35, 45) AND r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, supplycost
    FROM ranked WHERE rn = 1
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (no partsupp: supply cost modeled as the minimum
    observed unit price MIN(l_extendedprice / l_quantity) per
    (partkey, suppkey) pair): cheapest EUROPE supplier per selected part.

    The correlated MIN subquery of the original becomes one window
    row_number over cost per part — a single extra shuffle on partkey
    instead of a self-join. Cost pairs aggregate lineitem down to
    |parts|x|suppliers| rows BEFORE any join; part and the
    supplier->nation->region chain both broadcast, so the window input is
    already tiny. MIN over doubles is order-insensitive, so the rank-1 row
    is deterministic (ties broken by suppkey)."""
    from pyspark.sql import Window

    l = table(spark, sf_dir, "lineitem")
    cost = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice").cast("double") / F.col("l_quantity").cast("double"))
        .alias("supplycost")
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_size").isin(5, 15, 25, 35, 45))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).join(
        F.broadcast(r), F.col("n_regionkey") == r.r_regionkey
    )
    w = Window.partitionBy("p_partkey").orderBy("supplycost", "l_suppkey")
    return (
        cost.join(F.broadcast(p), cost.l_partkey == p.p_partkey)
        .join(F.broadcast(sn), cost.l_suppkey == F.col("s_suppkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type", "supplycost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q11_important_stock",
    oracle="""
    WITH v AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6))) AS value_dec
        FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                      JOIN nation ON n_nationkey = s_nationkey
        WHERE n_name = 'NATION_12'
        GROUP BY l_partkey
    ),
    vu AS (
        SELECT l_partkey, value_dec,
               CAST(value_dec * 1000000 AS HUGEINT) AS value_u
        FROM v
    )
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS value
    FROM vu
    WHERE 2 * value_u * (SELECT CAST(COUNT(*) AS HUGEINT) FROM vu)
          > 5 * (SELECT SUM(value_u) FROM vu)
    ORDER BY value DESC, l_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (no partsupp: per-part "stock value" is
    SUM(l_extendedprice * l_quantity) over lineitem rows of the nation's
    suppliers): parts whose value exceeds 2.5x the MEAN per-part value.

    The importance rule is deliberately scale-free (r13): the pre-r13
    "0.1% of the nation total" fraction is volume-dependent exactly the
    way real TPC-H acknowledges (the spec divides its fraction by SF) —
    per-part shares shrink as |parts| grows, and the fixture went empty
    at sf0.1 (the r13 bench-SF degeneracy sweep's second catch, after
    graph_jaccard_linkpred). 2.5x-mean keeps a stable ~5% of parts
    "important" at every SF. NATION_12 replaces NATION_7, which has no
    suppliers at sf0.001 — the fixture is now live at ALL three SFs.

    The scalar subquery is a second aggregation over the SAME grouped
    result, broadcast back as a one-row cross join — the grouped DF is the
    only shuffle; no second pass over lineitem. Group sums are exact
    DECIMAL(18,6); the threshold compare cross-multiplies ENTIRELY in
    exact 128-bit integer space (r14, ADVICE r13: a double-space compare
    flips row MEMBERSHIP on a decimal->double cast ULP above 2^53, which
    no ROUND-6 can absorb): values become exact integer micros
    (value_dec*1e6 — integral by construction at scale 6), and the rule
    is 2*value_u*n_parts > 5*total_u — Spark DECIMAL(38,0) vs DuckDB
    HUGEINT, both exact at any magnitude below 1e38, so membership is
    bit-identical on both engines at every SF."""
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_12")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    v = (
        l.join(F.broadcast(sn), l.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(18,6)"))
            .alias("value_dec")
        )
        .withColumn(
            "value_u", (F.col("value_dec") * F.lit(1000000)).cast("decimal(38,0)")
        )
    )
    total = v.agg(
        F.sum("value_u").cast("decimal(38,0)").alias("total_u"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_parts"),
    )
    return (
        v.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_u") * F.col("n_parts") * F.lit(2).cast("decimal(38,0)")
            > F.col("total_u") * F.lit(5).cast("decimal(38,0)")
        )
        .select("l_partkey", F.col("value_dec").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), "l_partkey")
    )


@query(
    "q20_excess_inventory",
    oracle="""
    SELECT DISTINCT s_suppkey, s_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    JOIN (
        SELECT l_partkey, l_suppkey
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '%bolt%'
        GROUP BY l_partkey, l_suppkey
        HAVING SUM(l_quantity)
               > 3.5 * SUM(CASE WHEN l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
                                 AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
                                THEN l_quantity ELSE 0 END)
    ) q ON s_suppkey = l_suppkey
    WHERE n_name = 'NATION_3'
    ORDER BY s_name
    """,
)
def q20_excess_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (no partsupp: "available quantity" is the all-time
    shipped SUM(l_quantity) per (partkey, suppkey)): suppliers in one
    nation holding excess stock of selected parts relative to their 1995
    shipments.

    The EXISTS of the original is a left-semi join from the 100-row
    supplier dim into the qualifying pairs. The part name filter broadcasts
    INTO the lineitem scan before the pair aggregation, and both year-split
    sums come out of ONE conditional aggregate — one shuffle total.
    Quantities are integral doubles and 3.5 is exactly representable, so
    the HAVING compare is exact."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").contains("bolt")).select("p_partkey")
    y0 = F.lit("1995-01-01 00:00:00").cast("timestamp")
    y1 = F.lit("1996-01-01 00:00:00").cast("timestamp")
    in_1995 = (F.col("l_shipdate") >= y0) & (F.col("l_shipdate") < y1)
    pairs = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum("l_quantity").alias("qty_total"),
            F.sum(F.when(in_1995, F.col("l_quantity")).otherwise(F.lit(0))).alias("qty_1995"),
        )
        .filter(F.col("qty_total") > 3.5 * F.col("qty_1995"))
        .select("l_suppkey")
        .distinct()
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(pairs, s.s_suppkey == pairs.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


@query(
    "stats_hhi_concentration",
    oracle="""
    WITH nv AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) * 1000000
                  AS BIGINT) AS rev_u
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2),
    g AS (
      SELECT region,
             CAST(COUNT(*) AS BIGINT) AS n_nations,
             CAST(SUM(rev_u) AS BIGINT) AS tot_u,
             SUM(CAST(rev_u AS HUGEINT) * rev_u) AS sq
      FROM nv GROUP BY 1)
    SELECT region, n_nations,
           CAST(tot_u AS DOUBLE) / 1000000.0 AS total_rev,
           ROUND(CAST(sq AS DOUBLE)
                 / (CAST(tot_u AS DOUBLE) * CAST(tot_u AS DOUBLE)), 6) AS hhi
    FROM g ORDER BY region
    """,
)
def stats_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market concentration per region: the sum of
    squared nation revenue shares — the antitrust/portfolio metric that
    answers "is this region's demand spread across nations or dominated
    by one?" (1/n_nations = perfectly even, 1.0 = single-nation). The
    concentration complement to agg_pareto_share's cumulative view.

    Exactness: nation revenue is the exact DECIMAL(18,6) sum scaled to
    micro-unit BIGINTs; the share-square sum is computed WITHOUT forming
    any share — hhi = sum(rev_u^2) / total_u^2, with the squares
    accumulated in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) since
    micro-unit squares pass int64 around ~$9.2M per nation; the final
    statistic is ONE division of exact aggregates evaluated in an
    identical double tree, ROUND-6.

    Plan: orders->customer->nation->region is one data-sized equi-join
    chain (nation/region broadcast; customer-orders the only real
    shuffle), then a 25-row nation rollup and 5-row region fold.
    """
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    nv = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,6)")) * 1000000)
            .cast("long")
            .alias("rev_u")
        )
    )
    g = nv.groupBy("region").agg(
        F.count(F.lit(1)).cast("long").alias("n_nations"),
        F.sum("rev_u").cast("long").alias("tot_u"),
        F.sum(F.col("rev_u").cast("decimal(38,0)") * F.col("rev_u")).alias("sq"),
    )
    return g.select(
        "region",
        "n_nations",
        (F.col("tot_u").cast("double") / F.lit(1000000.0)).alias("total_rev"),
        F.round(
            F.col("sq").cast("double")
            / (F.col("tot_u").cast("double") * F.col("tot_u").cast("double")),
            6,
        ).alias("hhi"),
    ).orderBy("region")


@query(
    "orders_abc_classification",
    oracle="""
    WITH pr AS (
      SELECT l_partkey AS part,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem GROUP BY 1),
    ci AS (
      SELECT part, rev,
             CAST(rev * 100 AS BIGINT) AS rev_c
      FROM pr),
    tot AS (SELECT CAST(SUM(rev_c) AS HUGEINT) AS total_c FROM ci),
    cum AS (
      SELECT a.part, a.rev_c,
             CAST(SUM(b.rev_c) AS HUGEINT) AS cum_c
      FROM ci a JOIN ci b
        ON b.rev_c > a.rev_c OR (b.rev_c = a.rev_c AND b.part <= a.part)
      GROUP BY 1, 2),
    cls AS (
      SELECT part, rev_c, cum_c,
             CASE WHEN 5 * cum_c <= 4 * tot.total_c THEN 'A'
                  WHEN 20 * cum_c <= 19 * tot.total_c THEN 'B'
                  ELSE 'C' END AS abc
      FROM cum, tot)
    SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(CAST(SUM(CAST(rev_c AS HUGEINT)) AS DOUBLE) / 100.0, 2)
             AS revenue
    FROM cls GROUP BY 1 ORDER BY 1
    """,
)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification of parts by revenue — the operational
    form of agg_pareto_share's 80/20 check: rank parts by revenue, class
    A = parts inside the first 80% of cumulative revenue, B = the next
    15% (to 95%), C = the tail; per-class counts and revenue are what an
    inventory policy (count A weekly, C yearly) consumes.

    Exactness: revenues are exact centi-unit integers; the descending
    cumulative is a triangular self-join on (rev_c, part) — a TOTAL
    order, so ties can't straddle classes differently per engine — and
    both class thresholds are cross-multiplied PURE-INTEGER compares
    (5*cum <= 4*total; 20*cum <= 19*total), no percentage float ever.

    Plan & scale: the per-part rollup is the only data-sized stage; the
    descending cumulative runs on the bucket-parallel two-phase prefix
    sums over a PACKED UNIQUE sort key part - rev_c*2^21 (ascending key
    == revenue DESC, part ASC — the exact tie order the oracle's
    triangular join states; uniqueness makes the per-row cumulative
    deterministic, the reason the raw machinery alone wasn't enough).
    The packing holds while partkey < 2^21 and rev_c*2^21 < 2^53 (true
    through sf1; wider shifts at larger keys). The ORACLE keeps the
    |parts|^2 triangular-join form as the tie-semantics SPEC — oracle
    cost runs at sf0.01, the engine path is the one that must scale.
    """
    li = table(spark, sf_dir, "lineitem")
    pr = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev")
    )
    from wri_data_processing_spark.queries.stats_numeric import _two_phase_cumsum

    ci = pr.select(
        "part",
        (F.col("rev") * 100).cast("long").alias("rev_c"),
        (F.col("part") - (F.col("rev") * 100).cast("long") * F.lit(2097152))
        .cast("long")
        .alias("key"),
    ).localCheckpoint()
    tot = ci.agg(F.sum(F.col("rev_c").cast("decimal(38,0)")).alias("total_c"))
    cum = _two_phase_cumsum(ci, "key", ["rev_c"]).select(
        "part", "rev_c", F.col("cum_rev_c").cast("decimal(38,0)").alias("cum_c")
    )
    cls = cum.crossJoin(F.broadcast(tot)).select(
        "part",
        "rev_c",
        F.when(5 * F.col("cum_c") <= 4 * F.col("total_c"), "A")
        .when(20 * F.col("cum_c") <= 19 * F.col("total_c"), "B")
        .otherwise("C")
        .alias("abc"),
    )
    return (
        cls.groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.round(
                F.sum(F.col("rev_c").cast("decimal(38,0)")).cast("double")
                / F.lit(100.0),
                2,
            ).alias("revenue"),
        )
        .orderBy("abc")
    )
