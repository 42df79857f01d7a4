"""Deterministic numerical statistics: moments, correlation, regression,
histograms.

Spark's built-in corr/covar/stddev use streaming co-moment merges whose
float rounding depends on partition boundaries — correct statistically,
but not bit-reproducible and never equal to another engine's result. These
operators instead aggregate EXACT decimal power sums (Σx, Σx², Σxy, n) —
order-insensitive integer-like arithmetic — and evaluate the closed-form
formulas once, in double, on the driver-free final row. Same trick as the
engine's revenue aggregates, extended to second moments.

Scale notes: one map-side-combined shuffle per grouping, carrying five
decimal accumulators per group regardless of row count. Inputs cast to
decimal(18,6) so the second-moment products are EXACT decimal(37,12) —
within the 38-digit cap in both engines (a (38,12) product would overflow
and round per-row, engine-dependently; the DuckDB oracle widens one factor
to (19,6) to force its int128 multiply path — same exact value); the sums
hold ~1e13 rows before overflow, extensible by hierarchical
re-aggregation.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.functions.text import gram_key
from wri_data_processing_spark.registry import query


@query(
    "stats_moments",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sx,
               SUM(CAST(l_quantity AS DECIMAL(19,6))
                   * CAST(l_quantity AS DECIMAL(18,6))) AS sxx,
               SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS sy,
               SUM(CAST(l_extendedprice AS DECIMAL(19,6))
                   * CAST(l_extendedprice AS DECIMAL(18,6))) AS syy,
               SUM(CAST(l_quantity AS DECIMAL(19,6))
                   * CAST(l_extendedprice AS DECIMAL(18,6))) AS sxy
        FROM lineitem GROUP BY l_returnflag
    ),
    d AS (
        SELECT l_returnflag, n,
               CAST(FLOOR(sx) AS DOUBLE) + CAST(sx - FLOOR(sx) AS DOUBLE) AS sx,
               CAST(FLOOR(sxx) AS DOUBLE) + CAST(sxx - FLOOR(sxx) AS DOUBLE) AS sxx,
               CAST(FLOOR(sy) AS DOUBLE) + CAST(sy - FLOOR(sy) AS DOUBLE) AS sy,
               CAST(FLOOR(syy) AS DOUBLE) + CAST(syy - FLOOR(syy) AS DOUBLE) AS syy,
               CAST(FLOOR(sxy) AS DOUBLE) + CAST(sxy - FLOOR(sxy) AS DOUBLE) AS sxy
        FROM s
    )
    SELECT l_returnflag, n,
           sx / n AS mean_qty,
           (sxx - sx * sx / n) / (n - 1) AS var_qty,
           (sxy - sx * sy / n)
             / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS corr_qty_price,
           (sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope_price_on_qty
    FROM d ORDER BY l_returnflag
    """,
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean/variance/correlation/regression-slope per group from exact
    decimal power sums, evaluated with identical double expression trees on
    both engines — bit-reproducible under any partitioning, unlike built-in
    corr/covar whose merge order leaks into the low bits.
    """
    l = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,6)")
    y = F.col("l_extendedprice").cast("decimal(18,6)")
    s = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).alias("sy"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")

    def d2d(name: str) -> F.Column:
        # Split-cast: decimal -> floor (exact int-to-double below 2^53) +
        # fraction (unscaled < 10^12, one correctly-rounded division).
        # A direct wide-decimal -> double cast double-rounds in DuckDB
        # (int128 converts as upper*2^64 + lower), so the engines disagree
        # in the last ulp; the split makes both sides exact + one rounding.
        c = F.col(name)
        return F.floor(c).cast("double") + (c - F.floor(c)).cast("double")

    sx, sxx = d2d("sx"), d2d("sxx")
    sy, syy = d2d("sy"), d2d("syy")
    sxy = d2d("sxy")
    css_x = sxx - sx * sx / n
    css_y = syy - sy * sy / n
    ccp = sxy - sx * sy / n
    return s.select(
        "l_returnflag",
        "n",
        (sx / n).alias("mean_qty"),
        (css_x / (n - 1)).alias("var_qty"),
        (ccp / F.sqrt(css_x * css_y)).alias("corr_qty_price"),
        (ccp / css_x).alias("slope_price_on_qty"),
    ).orderBy("l_returnflag")


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(floor(l_quantity / 5) AS BIGINT) AS bucket,
           CAST(floor(l_quantity / 5) AS BIGINT) * 5 AS lo,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY bucket ORDER BY bucket
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: bucket = floor(x / width). A histogram over
    any column is one map-side-combined aggregation on the bucket id —
    shuffle volume is |buckets|, independent of row count; floor of an
    exact double division by a power-of-10-free constant is deterministic.
    """
    l = table(spark, sf_dir, "lineitem")
    b = F.floor(F.col("l_quantity") / 5).cast("long")
    return (
        l.groupBy(b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("bucket", (F.col("bucket") * 5).alias("lo"), "n")
        .orderBy("bucket")
    )


@query(
    "events_zscore_outliers",
    oracle="""
    WITH s AS (
        SELECT event_type, COUNT(*) AS n,
               SUM(CAST(value AS DECIMAL(18,6))) AS sx,
               SUM(CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(18,6)))
                 AS sxx
        FROM events GROUP BY event_type
    ),
    d AS (
        SELECT event_type, n,
               CAST(FLOOR(sx) AS DOUBLE) + CAST(sx - FLOOR(sx) AS DOUBLE) AS sx,
               CAST(FLOOR(sxx) AS DOUBLE) + CAST(sxx - FLOOR(sxx) AS DOUBLE) AS sxx
        FROM s
    ),
    m AS (
        SELECT event_type, sx / n AS mean,
               sqrt((sxx - sx * sx / n) / (n - 1)) AS std
        FROM d
    )
    SELECT e.event_id, e.event_type, e.value,
           (e.value - m.mean) / m.std AS z
    FROM events e JOIN m ON e.event_type = m.event_type
    WHERE abs((e.value - m.mean) / m.std) > 3.0
    """,
)
def events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass standardization: per-type mean/std from exact decimal power
    sums, broadcast back onto the event scan; emit events beyond 3 sigma.

    The per-type stats table is |event types| rows — it always broadcasts,
    so the second pass is a map-only scan (no shuffle of the event log).
    Because mean/std come from the same exact sums on both engines, the
    z threshold cut is bit-deterministic: no event flips sides.
    """
    e = table(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(18,6)")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )

    def d2d(name: str) -> F.Column:
        c = F.col(name)
        return F.floor(c).cast("double") + (c - F.floor(c)).cast("double")

    n = F.col("n")
    sx, sxx = d2d("sx"), d2d("sxx")
    m = s.select(
        "event_type",
        (sx / n).alias("mean"),
        F.sqrt((sxx - sx * sx / n) / (n - 1)).alias("std"),
    )
    z = (F.col("value") - F.col("mean")) / F.col("std")
    return (
        e.join(F.broadcast(m), "event_type")
        .filter(F.abs(z) > 3.0)
        .select("event_id", "event_type", "value", z.alias("z"))
    )


@query(
    "profile_columns",
    oracle="""
    SELECT 'o_orderkey' AS col, COUNT(*) - COUNT(o_orderkey) AS n_null,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_str,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority), MIN(o_orderpriority),
           MAX(o_orderpriority)
    FROM orders
    ORDER BY col
    """,
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling: per-column null count, distinct count, and min/max
    — the statistics pass a warehouse runs to feed its cost-based
    optimizer (Spark's own ANALYZE TABLE ... COMPUTE STATISTICS computes
    exactly these).

    All four column profiles come from a single aggregation (Catalyst
    plans the multi-distinct via one Expand pass — 4x the rows, not 4
    scans), then unpivot to long form by exploding an inline struct array.
    Min/max stringified through identical integer formatting on both
    engines (no float formatting ambiguity — numeric profile columns here
    are integral).
    """
    o = table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    aggs = []
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = o.agg(*aggs)
    profiles = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col(f"{c}__null").alias("n_null"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
            )
            for c in cols
        ]
    )
    return (
        one.select(F.explode(profiles).alias("p")).select("p.*").orderBy("col")
    )


@query(
    "events_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, MEDIAN(value) AS med_value
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_id, e.event_type, e.value,
             ABS(e.value - m.med_value) AS abs_dev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, MEDIAN(abs_dev) AS mad_value
      FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, d.value
    FROM dev d JOIN mad m USING (event_type)
    WHERE d.abs_dev > 8.0 * m.mad_value
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: |value - median| > 8 * MAD per event type
    — the median-absolute-deviation rule that, unlike the z-score variant
    (events_zscore_outliers), is not itself dragged by the outliers it
    hunts.

    Medians are exact interpolated percentiles (sort-then-pick, NO float
    summation — order-independent, so bit-identical across engines and
    partitionings, same argument as the pandas UDAF median). Both the
    per-type medians and MADs are |types|-row tables that broadcast back
    onto the scan; the events table is read twice (median needs a full
    pass before deviations exist — the two-pass structure is inherent).
    At 100 TB pass one degrades gracefully to approx_percentile(0.5)
    with documented error, same plan shape.
    """
    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med_value")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "abs_dev", F.abs(F.col("value") - F.col("med_value"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(abs_dev, 0.5)").alias("mad_value")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("abs_dev") > 8.0 * F.col("mad_value"))
        .select("event_id", "event_type", "value")
    )


@query(
    "stats_welch_ttest",
    oracle="""
    WITH s AS (
        SELECT
          CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(value AS DECIMAL(18,6)) END) AS sx1,
          SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(18,6))
              END) AS sxx1,
          CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          SUM(CASE WHEN event_type = 'view'
                   THEN CAST(value AS DECIMAL(18,6)) END) AS sx2,
          SUM(CASE WHEN event_type = 'view'
                   THEN CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(18,6))
              END) AS sxx2
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    d AS (
        SELECT n1, n2,
               CAST(FLOOR(sx1) AS DOUBLE) + CAST(sx1 - FLOOR(sx1) AS DOUBLE) AS sx1,
               CAST(FLOOR(sxx1) AS DOUBLE) + CAST(sxx1 - FLOOR(sxx1) AS DOUBLE) AS sxx1,
               CAST(FLOOR(sx2) AS DOUBLE) + CAST(sx2 - FLOOR(sx2) AS DOUBLE) AS sx2,
               CAST(FLOOR(sxx2) AS DOUBLE) + CAST(sxx2 - FLOOR(sxx2) AS DOUBLE) AS sxx2
        FROM s
    )
    SELECT n1, n2,
           sx1 / n1 - sx2 / n2 AS mean_diff,
           (sx1 / n1 - sx2 / n2)
             / sqrt(((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1
                    + ((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2) AS t_stat,
           (((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1
              + ((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2)
           * (((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1
              + ((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2)
           / ( (((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1)
               * (((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1) / (n1 - 1)
             + (((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2)
               * (((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2) / (n2 - 1) )
             AS welch_df
    FROM d
    """,
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two event populations
    (purchase vs view values), with the Welch–Satterthwaite df.

    One conditional aggregation computes both groups' exact decimal power
    sums in a single pass (no second scan, no join); the t statistic and
    df evaluate once in double with expression trees mirrored on both
    engines, so the result is bit-reproducible under any partitioning —
    the same guarantee built-in stddev-based tests cannot give.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    x = F.col("value").cast("decimal(18,6)")
    is1 = F.col("event_type") == "purchase"
    is2 = F.col("event_type") == "view"
    s = e.agg(
        F.sum(is1.cast("int")).cast("long").alias("n1"),
        F.sum(F.when(is1, x)).alias("sx1"),
        F.sum(F.when(is1, x * x)).alias("sxx1"),
        F.sum(is2.cast("int")).cast("long").alias("n2"),
        F.sum(F.when(is2, x)).alias("sx2"),
        F.sum(F.when(is2, x * x)).alias("sxx2"),
    )

    def d2d(name: str) -> F.Column:
        c = F.col(name)
        return F.floor(c).cast("double") + (c - F.floor(c)).cast("double")

    n1, n2 = F.col("n1"), F.col("n2")
    sx1, sxx1, sx2, sxx2 = d2d("sx1"), d2d("sxx1"), d2d("sx2"), d2d("sxx2")
    se1 = ((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1
    se2 = ((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2
    se = se1 + se2
    return s.select(
        "n1",
        "n2",
        (sx1 / n1 - sx2 / n2).alias("mean_diff"),
        ((sx1 / n1 - sx2 / n2) / F.sqrt(se)).alias("t_stat"),
        (se * se / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1))).alias("welch_df"),
    )


_CM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_CM_PAIRS = [(a, b) for i, a in enumerate(_CM_COLS) for b in _CM_COLS[i + 1 :]]


def _cm_oracle() -> str:
    sums = ["COUNT(*) AS n"]
    for c in _CM_COLS:
        sums.append(f"SUM(CAST({c} AS DECIMAL(18,6))) AS s_{c}")
        sums.append(
            f"SUM(CAST({c} AS DECIMAL(19,6)) * CAST({c} AS DECIMAL(18,6))) AS ss_{c}_{c}"
        )
    for a, b in _CM_PAIRS:
        sums.append(
            f"SUM(CAST({a} AS DECIMAL(19,6)) * CAST({b} AS DECIMAL(18,6))) AS ss_{a}_{b}"
        )
    names = [f"s_{c}" for c in _CM_COLS]
    names += [f"ss_{c}_{c}" for c in _CM_COLS]
    names += [f"ss_{a}_{b}" for a, b in _CM_PAIRS]
    d2d = ",\n           ".join(
        f"CAST(FLOOR({x}) AS DOUBLE) + CAST({x} - FLOOR({x}) AS DOUBLE) AS {x}"
        for x in names
    )
    rows = "\n    UNION ALL\n".join(
        f"""    SELECT '{a}' AS var_a, '{b}' AS var_b,
           (ss_{a}_{b} - s_{a} * s_{b} / n)
             / sqrt((ss_{a}_{a} - s_{a} * s_{a} / n)
                    * (ss_{b}_{b} - s_{b} * s_{b} / n)) AS corr_ab
    FROM d"""
        for a, b in _CM_PAIRS
    )
    return f"""
    WITH s AS (SELECT {', '.join(sums)} FROM lineitem),
    d AS (SELECT n,
           {d2d}
    FROM s)
{rows}
    ORDER BY var_a, var_b
    """


@query("stats_corr_matrix", oracle=_cm_oracle())
def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over four lineitem measures —
    the multivariate profiling pass (feature redundancy screening) in one
    table scan.

    All 15 power sums (4 sums, 4 squares, 6 cross-products, n) accumulate
    as exact decimals in a SINGLE aggregation; the 6 correlations evaluate
    from one row and unpivot by exploding an inline struct array (trap:
    a UNION of single-aggregate selects would replay the scan per pair).
    Shuffle volume is one row regardless of table size.
    """
    l = table(spark, sf_dir, "lineitem")
    dec = {c: F.col(c).cast("decimal(18,6)") for c in _CM_COLS}
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _CM_COLS:
        aggs.append(F.sum(dec[c]).alias(f"s_{c}"))
        aggs.append(F.sum(dec[c] * dec[c]).alias(f"ss_{c}_{c}"))
    for a, b in _CM_PAIRS:
        aggs.append(F.sum(dec[a] * dec[b]).alias(f"ss_{a}_{b}"))
    one = l.agg(*aggs)

    def d2d(name: str) -> F.Column:
        c = F.col(name)
        return F.floor(c).cast("double") + (c - F.floor(c)).cast("double")

    n = F.col("n")
    structs = []
    for a, b in _CM_PAIRS:
        sab = d2d(f"ss_{a}_{b}")
        sa, sb = d2d(f"s_{a}"), d2d(f"s_{b}")
        saa, sbb = d2d(f"ss_{a}_{a}"), d2d(f"ss_{b}_{b}")
        corr = (sab - sa * sb / n) / F.sqrt(
            (saa - sa * sa / n) * (sbb - sb * sb / n)
        )
        structs.append(
            F.struct(
                F.lit(a).alias("var_a"), F.lit(b).alias("var_b"), corr.alias("corr_ab")
            )
        )
    return (
        one.select(F.explode(F.array(*structs)).alias("p"))
        .select("p.*")
        .orderBy("var_a", "var_b")
    )


@query(
    "events_cusum",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1),
    w AS (
      SELECT d, n,
             CAST(SUM(n) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS prefix,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
             CAST(SUM(n) OVER () AS BIGINT) AS s_all,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_days
      FROM daily),
    c AS (
      SELECT d, n,
             CAST(prefix AS DOUBLE)
               - t * (CAST(s_all AS DOUBLE) / CAST(n_days AS DOUBLE)) AS cusum
      FROM w)
    SELECT CAST(d AS VARCHAR) AS day, n, cusum,
           abs(cusum) = MAX(abs(cusum)) OVER () AS is_peak
    FROM c
    """,
)
def events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over the daily event-count series: cumulative
    deviation from the series mean, peak-flagged (the argmax |CUSUM| day is
    the single-changepoint estimate).

    prefix sums and totals stay int64; the mean and each CUSUM value are
    the same one-rounding double expressions on both engines, so even the
    peak-equality flag is bit-deterministic. The series is |days| rows —
    the unpartitioned windows run on the aggregated table, never the raw
    log, and the daily rollup is the only full-table shuffle.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wo = Window.orderBy("d")
    wa = Window.partitionBy()
    w = daily.select(
        "d",
        "n",
        F.sum("n").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("prefix"),
        F.row_number().over(wo).cast("long").alias("t"),
        F.sum("n").over(wa).cast("long").alias("s_all"),
        F.count(F.lit(1)).over(wa).cast("long").alias("n_days"),
    )
    cusum = F.col("prefix").cast("double") - F.col("t") * (
        F.col("s_all").cast("double") / F.col("n_days").cast("double")
    )
    c = w.select("d", "n", cusum.alias("cusum"))
    return c.select(
        F.col("d").cast("string").alias("day"),
        "n",
        "cusum",
        (F.abs("cusum") == F.max(F.abs("cusum")).over(wa)).alias("is_peak"),
    )


def _two_phase_cumsum(
    g: DataFrame, value_col: str, sum_cols: list[str], nb: int = 32
) -> DataFrame:
    """Global cumulative sums over ``value_col`` order WITHOUT a
    single-partition window — the ranking.py two-phase pattern generalized
    from ranks to arbitrary sums: approx-quantile cuts range-bucket the
    rows (ties share a bucket: the CASE chain uses >=), each bucket
    prefix-sums in parallel under a bucket-partitioned window, and the
    <= nb per-bucket totals collect to the driver (bounded: nb rows) to
    become exclusive offsets folded in as literals. Appends ``cum_<c>``
    for each input sum column; no Exchange SinglePartition anywhere
    (sweep-enforced on every consumer).
    """
    from wri_data_processing_spark.operators.ranking import _bucket_expr

    # The grouped frame feeds THREE actions (the approxQuantile cut probe,
    # the bucket-totals collect, and the consumer's final job); without a
    # checkpoint each replays the full input aggregation. Measured at
    # sf0.1 on stats_quantiles_exact: 1.46 -> 1.01 s (-31%).
    g = g.localCheckpoint()
    cuts = sorted(
        set(g.stat.approxQuantile(value_col, [i / nb for i in range(1, nb)], 0.01))
    )
    bucketed = g.withColumn(
        "__b", _bucket_expr(F.col(value_col).cast("double"), cuts)
    )
    totals = {
        r["__b"]: [r[f"t_{c}"] for c in sum_cols]
        for r in bucketed.groupBy("__b")
        .agg(*[F.sum(c).alias(f"t_{c}") for c in sum_cols])
        .collect()
    }
    offs = [F.lit(0).cast("long") for _ in sum_cols]
    runs = [0] * len(sum_cols)
    for bkt in sorted(totals):
        for i in range(len(sum_cols)):
            offs[i] = (
                F.when(F.col("__b") == F.lit(bkt), F.lit(runs[i])).otherwise(offs[i])
            )
            runs[i] += totals[bkt][i]
    w = (
        Window.partitionBy("__b")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = bucketed
    for i, c in enumerate(sum_cols):
        out = out.withColumn(f"cum_{c}", F.sum(c).over(w) + offs[i])
    return out.drop("__b")


def _grouped_two_phase_cumsum(
    g: DataFrame, group_col: str, value_col: str, sum_cols: list[str], nb: int = 32
) -> DataFrame:
    """_two_phase_cumsum generalized to PER-GROUP cumulative sums, with the
    driver collect removed entirely: one GLOBAL set of approx-quantile cuts
    range-buckets every group's values (cuts need not be per-group — any
    fixed monotone bucketing partitions each group's order), phase 1
    prefix-sums inside each (group, bucket) window in parallel, and the
    exclusive offsets come from the tiny |groups| x nb per-(group, bucket)
    totals frame via a bucket-ordered window partitioned by group plus a
    broadcast join back — bounded rows end-to-end, nothing returns to the
    driver. Appends ``cum_<c>`` per input sum column."""
    from wri_data_processing_spark.operators.ranking import _bucket_expr

    g = g.localCheckpoint()  # feeds the cut probe, btot, and the consumer
    cuts = sorted(
        set(g.stat.approxQuantile(value_col, [i / nb for i in range(1, nb)], 0.01))
    )
    b = g.withColumn("__b", _bucket_expr(F.col(value_col).cast("double"), cuts))
    btot = b.groupBy(group_col, "__b").agg(
        *[F.sum(c).alias(f"t_{c}") for c in sum_cols]
    )
    wo = (
        Window.partitionBy(group_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = btot.select(
        group_col,
        "__b",
        *[
            F.coalesce(F.sum(f"t_{c}").over(wo), F.lit(0))
            .cast("long")
            .alias(f"off_{c}")
            for c in sum_cols
        ],
    )
    out = b.join(F.broadcast(offs), [group_col, "__b"])
    w = (
        Window.partitionBy(group_col, "__b")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in sum_cols:
        out = out.withColumn(f"cum_{c}", F.sum(c).over(w) + F.col(f"off_{c}"))
    return out.drop("__b", *[f"off_{c}" for c in sum_cols])


def _event_value_ranks(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(s, ranked): the non-null events as (g = event_type, v = value), and
    their per-group distinct-value cumulative frame (g, v, c, cum_c, n)
    with the group size n. A value-exact cut at integer rank r is
    MIN(v) WHERE cum_c >= r (no interpolation); the cumsum is
    _grouped_two_phase_cumsum, the |groups|-row size frame broadcasts."""
    e = table(spark, sf_dir, "events")
    s = e.filter(F.col("value").isNotNull()).select(
        F.col("event_type").alias("g"), F.col("value").alias("v")
    )
    gd = s.groupBy("g", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cum = _grouped_two_phase_cumsum(gd, "g", "v", ["c"])
    w_ = gd.groupBy("g").agg(F.sum("c").cast("long").alias("n"))
    return s, cum.join(F.broadcast(w_), "g")


@query(
    "stats_grouped_quantiles",
    oracle=f"""
    WITH s AS (
      SELECT event_type AS g, value AS v FROM events WHERE value IS NOT NULL),
    gd AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
    w AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM gd GROUP BY 1),
    cum AS (
      SELECT g, v,
             SUM(c) OVER (PARTITION BY g ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS cm
      FROM gd)
    SELECT cum.g AS event_type, w.n,
           {", ".join(
               f"MIN(CASE WHEN cum.cm >= (w.n * {p} + 99) // 100 "
               f"THEN cum.v END) AS p{p}"
               for p in [25, 50, 75, 90, 99]
           )}
    FROM cum JOIN w USING (g)
    GROUP BY 1, 2
    ORDER BY 1
    """,
)
def stats_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles: the p25/p50/p75/p90/p99 of events.value
    within every event_type — the grouped sibling of stats_quantiles_exact
    (a per-segment latency/price report wants the exact p99 PER SEGMENT,
    not the global one).

    Ranks are pure integers (ceil(q·N_g) = (N_g·p + 99)//100 against the
    group's own N_g) and each cut is the MIN value whose within-group
    cumulative count reaches the rank — value-exact, no interpolation.

    Scale: first consumer of _grouped_two_phase_cumsum, which removes even
    the global helper's bounded driver collect — ONE global set of
    approx-quantile cuts buckets every group (any fixed monotone bucketing
    partitions each group's order), per-(group, bucket) windows prefix-sum
    in parallel, and exclusive offsets come from the |groups| x nb totals
    frame via a group-partitioned window + broadcast join. A plain
    PARTITION BY group window would serialize each group's full distinct-
    value set through one task; here parallelism is groups x nb and nb
    scales with the data.
    """
    _, joined = _event_value_ranks(spark, sf_dir)
    pcts = [25, 50, 75, 90, 99]
    rank = {
        p: F.expr(f"(n * {p} + 99) div 100").cast("long") for p in pcts
    }
    return (
        joined.groupBy("g", "n")
        .agg(
            *[
                F.min(F.when(F.col("cum_c") >= rank[p], F.col("v"))).alias(f"p{p}")
                for p in pcts
            ]
        )
        .select(F.col("g").alias("event_type"), "n", *[f"p{p}" for p in pcts])
        .orderBy("event_type")
    )


@query(
    "stats_ks_test",
    oracle="""
    WITH s AS (
      SELECT value,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('view', 'click') AND value IS NOT NULL),
    n AS (SELECT CAST(SUM(is_a) AS BIGINT) AS n1,
                 CAST(SUM(1 - is_a) AS BIGINT) AS n2 FROM s),
    g AS (
      SELECT value,
             CAST(SUM(is_a) AS BIGINT) AS a,
             CAST(SUM(1 - is_a) AS BIGINT) AS b
      FROM s GROUP BY value),
    c AS (
      SELECT SUM(a) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS ca,
             SUM(b) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cb
      FROM g)
    SELECT n.n1, n.n2,
           CAST(MAX(ABS(n.n2 * c.ca - n.n1 * c.cb)) AS BIGINT) AS d_scaled,
           CAST(MAX(ABS(n.n2 * c.ca - n.n1 * c.cb)) AS DOUBLE)
             / (n.n1 * n.n2) AS ks_d
    FROM c, n GROUP BY n.n1, n.n2
    """,
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic, EXACT: the supremum
    |F1(x) - F2(x)| over the pooled sample evaluated as the integer
    max |n2*cum1 - n1*cum2| (cross-multiplied ECDFs — no per-point float
    division, so ties and summation order can never flip the argmax), with
    one double division at the end. The nonparametric drift detector a
    data-quality suite runs between two cohorts / snapshot versions; here
    'view' vs 'click' event values.

    Plan: one (value, label) pre-aggregation collapses duplicates, then the
    global ECDF prefix sums run as the TWO-PHASE distributed prefix sum
    (the ranking.py pattern, generalized from ranks to sums): quantile cuts
    range-bucket the distinct values (ties share a bucket — the CASE uses
    >=), each bucket prefix-sums in parallel under a bucket-partitioned
    window, and the <= nbuckets per-bucket totals collect to the driver to
    become exclusive offsets. No Exchange SinglePartition anywhere
    (sweep-enforced); the exact sup costs one extra bounded collect instead
    of a single-task global sort. A cheaper approximate drift test bins
    values first (agg_histogram) and compares bin masses.
    """
    e = table(spark, sf_dir, "events")
    # NULL samples are meaningless for an ECDF, and the engines disagree on
    # where they sort (Spark window NULLS FIRST vs DuckDB ORDER BY NULLS
    # LAST) — drop them identically on both sides (ADVICE r6).
    s = e.filter(
        F.col("event_type").isin("view", "click") & F.col("value").isNotNull()
    ).select(
        "value", (F.col("event_type") == "view").cast("int").alias("is_a")
    )
    g = s.groupBy("value").agg(
        F.sum("is_a").cast("long").alias("a"),
        F.sum(1 - F.col("is_a")).cast("long").alias("b"),
    )
    cw = _two_phase_cumsum(g, "value", ["a", "b"])
    c = cw.select(F.col("cum_a").alias("ca"), F.col("cum_b").alias("cb"))
    # cohort totals from the (checkpointed) per-value counts — no second
    # scan of the events table (the stats_quantiles_exact measurement).
    n = cw.agg(
        F.sum("a").cast("long").alias("n1"),
        F.sum("b").cast("long").alias("n2"),
    )
    d = (
        c.crossJoin(F.broadcast(n))
        .select(
            "n1",
            "n2",
            F.abs(F.col("n2") * F.col("ca") - F.col("n1") * F.col("cb")).alias("dd"),
        )
        .groupBy("n1", "n2")
        .agg(F.max("dd").cast("long").alias("d_scaled"))
    )
    return d.select(
        "n1",
        "n2",
        "d_scaled",
        (F.col("d_scaled").cast("double") / (F.col("n1") * F.col("n2"))).alias("ks_d"),
    )


def _chi2_cells(o: DataFrame, row: str, col: str) -> DataFrame:
    """(row, col, n, term, ex) per observed cell of the contingency table
    ``o`` (row, col, obs: exact BIGINT counts): the expected count
    row_tot*col_tot/n (integer product, one double division) and the
    Pearson term (obs - ex)^2/ex — the cells stats_chi2_independence and
    stats_cramers_v fold. Both marginals and the 1-row grand total are
    broadcast."""
    rt = o.groupBy(row).agg(F.sum("obs").cast("long").alias("row_tot"))
    ct = o.groupBy(col).agg(F.sum("obs").cast("long").alias("col_tot"))
    m = o.agg(F.sum("obs").alias("n"))
    expected = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("n").cast("double")
    dev = F.col("obs").cast("double") - expected
    return (
        o.join(F.broadcast(rt), row)
        .join(F.broadcast(ct), col)
        .crossJoin(F.broadcast(m))
        .select(row, col, "n", (dev * dev / expected).alias("term"), expected.alias("ex"))
    )


@query(
    "stats_chi2_independence",
    oracle="""
    WITH o AS (
      SELECT event_type, CAST(user_id % 4 AS BIGINT) AS cohort,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT SUM(obs) AS n FROM o),
    rt AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS row_tot FROM o GROUP BY 1),
    ct AS (SELECT cohort, CAST(SUM(obs) AS BIGINT) AS col_tot FROM o GROUP BY 1),
    cells AS (
      SELECT o.event_type, o.cohort,
             (CAST(o.obs AS DOUBLE) - CAST(rt.row_tot * ct.col_tot AS DOUBLE) / CAST(m.n AS DOUBLE))
               * (CAST(o.obs AS DOUBLE) - CAST(rt.row_tot * ct.col_tot AS DOUBLE) / CAST(m.n AS DOUBLE))
               / (CAST(rt.row_tot * ct.col_tot AS DOUBLE) / CAST(m.n AS DOUBLE)) AS term,
             CAST(rt.row_tot * ct.col_tot AS DOUBLE) / CAST(m.n AS DOUBLE) AS ex
      FROM o JOIN rt USING (event_type) JOIN ct USING (cohort), m)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(COUNT(DISTINCT event_type) - 1 AS BIGINT)
             * CAST(COUNT(DISTINCT cohort) - 1 AS BIGINT) AS dof,
           ROUND(list_aggregate(list(term ORDER BY term), 'sum')
                 + (CAST((SELECT n FROM m) AS DOUBLE)
                    - list_aggregate(list(ex ORDER BY ex), 'sum')), 6) AS chi2
    FROM cells
    """,
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test on a contingency table — the
    CATEGORICAL drift detector complementing stats_ks_test's continuous
    one: is event-type mix independent of user cohort (user_id % 4)?
    Emits the statistic and degrees of freedom; the consumer compares
    against its chosen critical value (no p-value: that needs the
    incomplete gamma, a transcendental this engine's exactness discipline
    keeps out of oracles).

    All inputs are exact BIGINT counts; each cell's term runs the identical
    IEEE sequence on both engines (row_tot*col_tot stays integer until the
    double division by n), so per-cell doubles are bit-identical. The final
    reduction is the flake-prone step — a float SUM's partial-agg order is
    nondeterministic on BOTH engines, and a value within 1 ULP of a 0.5e-6
    boundary could flip ROUND's 6th decimal (ADVICE r6) — so both engines
    sum the terms in ASCENDING SORTED order sequentially (Spark:
    aggregate(array_sort(collect_list)); DuckDB: list ordered aggregate),
    making the sum itself bit-identical before the ROUND. dof comes from
    in-plan COUNT(DISTINCT) — no plan-build driver jobs (VERDICT r6: the
    rt.count()/ct.count() pair was two jobs per plan construction). The
    contingency table is always small even when the events table is 100 TB
    (collect_list holds |types| x |cohorts| = 20 doubles); the only wide
    work is the first (type, cohort) count, one map-side-combined shuffle.
    The 1-row grand-total broadcast is a bounded BroadcastNestedLoopJoin —
    same shape as stats_ks_test, whitelisted in test_join_shape_sweep.
    """
    e = table(spark, sf_dir, "events")
    o = e.groupBy(
        "event_type", (F.col("user_id") % 4).cast("long").alias("cohort")
    ).agg(F.count(F.lit(1)).cast("long").alias("obs"))
    cells = _chi2_cells(o, "event_type", "cohort")
    # unobserved cells contribute their expected mass: chi2 += n - SUM(ex)
    # (the stats_cramers_v r11 audit fix; all 20 cells are observed on the
    # current fixtures so the value is unchanged here, but the latent
    # zero-cell understatement is closed)
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("cohort") - 1)
        )
        .cast("long")
        .alias("dof"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("term")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            + (
                F.first("n").cast("double")
                - F.aggregate(
                    F.array_sort(F.collect_list("ex")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        ).alias("chi2"),
    )


@query(
    "stats_psi",
    oracle="""
    WITH s AS (
      SELECT CAST(LEAST(floor(CAST(value AS DOUBLE) / 10.0), 19) AS BIGINT) AS bin,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_ref
      FROM events
      WHERE event_type IN ('view', 'click') AND value IS NOT NULL),
    b AS (
      SELECT bin, CAST(SUM(is_ref) AS BIGINT) AS ca,
             CAST(SUM(1 - is_ref) AS BIGINT) AS cb
      FROM s GROUP BY 1),
    t AS (
      SELECT CAST(SUM(ca) AS DOUBLE) AS na, CAST(SUM(cb) AS DOUBLE) AS nb,
             CAST(SUM(ca) AS BIGINT) AS n_ref, CAST(SUM(cb) AS BIGINT) AS n_cur,
             CAST(SUM(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bins_used,
             CAST(SUM(CASE WHEN ca = 0 OR cb = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bins_skipped,
             list(struct_pack(bin := bin, ca := ca, cb := cb) ORDER BY bin) AS binrows
      FROM b)
    SELECT n_ref, n_cur, n_bins_used, n_bins_skipped,
           ROUND(list_aggregate(list_transform(binrows, r ->
             CASE WHEN r.ca > 0 AND r.cb > 0
                  THEN (CAST(r.ca AS DOUBLE) / na - CAST(r.cb AS DOUBLE) / nb)
                       * ln((CAST(r.ca AS DOUBLE) / na) / (CAST(r.cb AS DOUBLE) / nb))
                  ELSE 0.0 END), 'sum'), 6) AS psi
    FROM t
    """,
)
def stats_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two cohorts' value distributions —
    the industry-standard BINNED drift metric completing the family:
    stats_ks_test is the exact continuous detector (sup-norm), chi2 the
    categorical-mix one, PSI the cheap binned monitor a model-serving
    pipeline computes per day (<0.1 stable / 0.1-0.25 shifting / >0.25
    drifted): psi = sum_bins (p_i - q_i) * ln(p_i / q_i).

    Determinism: the statistic NEEDS ln (transcendental). JVM Math.log
    and glibc/DuckDB ln DISAGREE at the last ULP on ~9% of arguments
    (measured r7: 3610/40000 uniform draws; an earlier probe that found 0
    sampled too narrowly — only sqrt and +-*/ are exactly rounded), so
    the defense is layered: every per-bin term is one mirrored IEEE
    expression over exact integer counts, summed by an ORDERED fold
    (array sorted by bin on both engines — the chi2 pattern) so
    summation order adds nothing, and the closing ROUND-6 absorbs the
    bounded ln ULP drift (bins are few, so the sum is within a handful
    of ULPs of the oracle — far below 0.5e-6). Bins with a
    zero count in either cohort contribute 0 and are reported in
    n_bins_skipped (no epsilon fudge — the consumer sees exactly what was
    excluded). Bin edges are literals (width 10, clamp 19): production
    derives cut points from a reference-snapshot quantile pass and pins
    them as config, exactly like this.

    Plan: one map-side-combined (bin) count shuffle over an arbitrarily
    large events table, then a single ~20-row final aggregate; no joins,
    no NLJ, no second pass (totals and the ordered bin list come out of
    the same aggregate).
    """
    e = table(spark, sf_dir, "events")
    s = e.filter(
        F.col("event_type").isin("view", "click") & F.col("value").isNotNull()
    ).select(
        F.least(F.floor(F.col("value").cast("double") / 10.0), F.lit(19))
        .cast("long")
        .alias("bin"),
        (F.col("event_type") == "view").cast("int").alias("is_ref"),
    )

    def _term(r, p, q):
        return F.when(
            (r["ca"] > 0) & (r["cb"] > 0), (p - q) * F.log(p / q)
        ).otherwise(F.lit(0.0))

    return _cohort_divergence(
        s,
        "bin",
        _term,
        "psi",
        n_bins_used=F.sum(F.when((F.col("ca") > 0) & (F.col("cb") > 0), 1).otherwise(0)),
        n_bins_skipped=F.sum(F.when((F.col("ca") == 0) | (F.col("cb") == 0), 1).otherwise(0)),
    )


def _cohort_divergence(
    s: DataFrame, key: str, term: Callable[[Column, Column, Column], Column], out: str, **stats: Column
) -> DataFrame:
    """(n_ref, n_cur, *stats, out) over (key, is_ref) rows ``s``: per
    ``key`` value the reference (is_ref = 1) and current counts ca and cb,
    the cohort totals, each of ``stats`` (aggregates over those per-key
    rows, cast to long) and, as ``out``, the ROUND-6 ordered fold (keys
    sorted, the stats_psi contract) of ``term(row, p, q)``, where p and q
    are the key's shares of the reference and current cohorts."""
    b = s.groupBy(key).agg(
        F.sum("is_ref").cast("long").alias("ca"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("cb"),
    )
    rows = f"{key}rows"
    t = b.agg(
        F.sum("ca").cast("long").alias("n_ref"),
        F.sum("cb").cast("long").alias("n_cur"),
        *(agg.cast("long").alias(name) for name, agg in stats.items()),
        F.array_sort(F.collect_list(F.struct(key, "ca", "cb"))).alias(rows),
    )
    na = F.col("n_ref").cast("double")
    nb = F.col("n_cur").cast("double")

    def _term(r):
        return term(r, r["ca"].cast("double") / na, r["cb"].cast("double") / nb)

    return t.select(
        "n_ref",
        "n_cur",
        *stats,
        F.round(
            F.aggregate(F.transform(rows, _term), F.lit(0.0), lambda a, x: a + x),
            6,
        ).alias(out),
    )


_QUANTILE_PCTS = [25, 50, 75, 90, 99]  # integer percents -> exact int ranks


@query(
    "stats_quantiles_exact",
    oracle=f"""
    WITH s AS (SELECT value FROM events WHERE value IS NOT NULL),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
    g AS (SELECT value, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1),
    cum AS (
      SELECT value,
             SUM(c) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cm
      FROM g)
    SELECT n.n,
           {", ".join(
               f"MIN(CASE WHEN cum.cm >= (n.n * {p} + 99) // 100 "
               f"THEN cum.value END) AS p{p}"
               for p in _QUANTILE_PCTS
           )}
    FROM cum, n GROUP BY n.n
    """,
)
def stats_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT discrete quantiles (p25/p50/p75/p90/p99) of events.value with
    no global sort and no single-partition window — the complement of
    agg_approx_percentile the way stats_ks_test complements agg_histogram:
    when the SLA is on the exact tail (p99 billing, latency contracts), the
    sketch's rel-error bound isn't enough.

    Rank arithmetic is pure integer: the q-quantile is the smallest value
    whose cumulative count reaches ceil(q*N) = (N*k + 99) // 100 for
    k = 25/50/75/90/99 — no float multiply to disagree on a boundary
    (matches DuckDB quantile_disc's lower-interpolation semantics, probed
    over N=4/5/7). Ties collapse in the (value, count) pre-aggregation, so
    duplicate-heavy columns cost distinct-count rows, not N.

    Plan: one (value) count shuffle, then the TWO-PHASE distributed prefix
    sum (_two_phase_cumsum — quantile cuts bucket the distinct values,
    per-bucket windows run in parallel, <= 32 bucket totals collect as
    offsets), a 1-row N broadcast (bounded NLJ, the stats_ks_test shape),
    and one final min-CASE aggregate pulling all five ranks in a single
    pass. At 100 TB the only driver traffic is 32 bucket totals + 31 cuts.
    """
    e = table(spark, sf_dir, "events")
    s = e.filter(F.col("value").isNotNull()).select("value")
    g = s.groupBy("value").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cum = _two_phase_cumsum(g, "value", ["c"])
    # N = sum of the (checkpointed) per-value counts — no second scan of
    # the events table (measured with the checkpoint: 1.46 -> 0.90 s).
    n = cum.agg(F.sum("c").cast("long").alias("n"))
    joined = cum.crossJoin(F.broadcast(n))
    rank = {p: F.expr(f"(n * {p} + 99) div 100").cast("long") for p in _QUANTILE_PCTS}
    return (
        joined.groupBy("n")
        .agg(
            *[
                F.min(F.when(F.col("cum_c") >= rank[p], F.col("value"))).alias(f"p{p}")
                for p in _QUANTILE_PCTS
            ]
        )
        .select("n", *[f"p{p}" for p in _QUANTILE_PCTS])
    )


@query(
    "stats_winsorize",
    oracle="""
    WITH s AS (SELECT event_id, value FROM events WHERE value IS NOT NULL),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
    g AS (SELECT value, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1),
    cum AS (
      SELECT value,
             SUM(c) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cm
      FROM g),
    cuts AS (
      SELECT MIN(CASE WHEN cum.cm >= (n.n * 1 + 99) // 100
                      THEN cum.value END) AS lo,
             MIN(CASE WHEN cum.cm >= (n.n * 99 + 99) // 100
                      THEN cum.value END) AS hi
      FROM cum, n)
    SELECT s.event_id, s.value,
           CASE WHEN s.value < c.lo THEN c.lo
                WHEN s.value > c.hi THEN c.hi
                ELSE s.value END AS value_w,
           s.value < c.lo OR s.value > c.hi AS clipped
    FROM s, cuts c
    """,
)
def stats_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clamp every value into the exact [p1, p99] band — the
    standard robust-preprocessing step before training on heavy-tailed
    features (clip, don't drop: the row survives with its tail influence
    bounded). Flags which rows were clipped so the rate is auditable.

    The cut points are EXACT discrete quantiles from the same machinery as
    stats_quantiles_exact (shared _two_phase_cumsum; pure-integer ranks
    ceil(qN) = (N·k+99)//100) — a sketch-based clip moves the boundary by
    its error bound, and on a heavy tail that's exactly where the mass
    is. Clamp comparisons are on raw doubles both engines share
    bit-for-bit, so no row flips sides.

    Plan: the (value, count) agg + two-phase prefix sum produce a 1-row
    (lo, hi) frame that broadcasts back onto the scan (bounded NLJ — the
    events_zscore_outliers second-pass shape); the clamp itself is a
    map-only expression.
    """
    e = table(spark, sf_dir, "events")
    s = e.filter(F.col("value").isNotNull()).select("event_id", "value")
    g = s.groupBy("value").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cum = _two_phase_cumsum(g, "value", ["c"])
    n = cum.agg(F.sum("c").cast("long").alias("n"))
    rank = lambda k: F.expr(f"(n * {k} + 99) div 100").cast("long")  # noqa: E731
    cuts = (
        cum.crossJoin(F.broadcast(n))
        .agg(
            F.min(F.when(F.col("cum_c") >= rank(1), F.col("value"))).alias("lo"),
            F.min(F.when(F.col("cum_c") >= rank(99), F.col("value"))).alias("hi"),
        )
    )
    return s.crossJoin(F.broadcast(cuts)).select(
        "event_id",
        "value",
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
        .alias("value_w"),
        ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).alias(
            "clipped"
        ),
    )


@query(
    "events_cusum_alarm",
    oracle="""
    WITH RECURSIVE
    daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    rk AS (
      SELECT event_type, d, n,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS t
      FROM daily),
    mu AS (
      SELECT event_type,
             CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu
      FROM rk WHERE t <= 7 GROUP BY 1),
    walk AS (
      SELECT r.event_type, r.t, r.d,
             greatest(CAST(r.n AS DOUBLE) - m.mu, 0.0) AS s, m.mu
      FROM rk r JOIN mu m USING (event_type) WHERE r.t = 1
      UNION ALL
      SELECT r.event_type, r.t, r.d,
             greatest(w.s + CAST(r.n AS DOUBLE) - w.mu, 0.0), w.mu
      FROM walk w JOIN rk r ON r.event_type = w.event_type AND r.t = w.t + 1)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(max_by(s, t), 6) AS s_final,
           ROUND(MAX(s), 6) AS s_max,
           CAST(SUM(CASE WHEN s > 3.0 * sqrt(mu) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarms,
           CAST(MIN(CASE WHEN s > 3.0 * sqrt(mu) THEN d END) AS VARCHAR)
             AS first_alarm_day
    FROM walk GROUP BY 1 ORDER BY 1
    """,
)
def events_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM alarm — the ONLINE changepoint monitor (Page 1954
    SPC form) complementing events_cusum's offline argmax scan: per event
    type, S_t = max(0, S_{t-1} + (x_t - mu0)) over the daily count series,
    alarming when S_t exceeds h = 2*mu0. The reference mean mu0 is the
    first-7-day window — the production pattern of pinning a baseline from
    a reference period, computed in-plan here so the op is closed over its
    input at any SF.

    The recursion is a SEQUENTIAL fold (not a prefix sum — the max-reset
    breaks linearity), so both engines execute it in identical day order:
    Spark as an ordered F.aggregate with a struct accumulator over each
    type's day-sorted series, DuckDB as a recursive CTE stepping t -> t+1.
    Per-step arithmetic is one mirrored IEEE expression chain; alarms
    compare against 2*mu0 exactly.

    Scale: the fold runs per KEY over the |days|-row aggregated series
    (the raw log collapses in the daily rollup — the only full-table
    shuffle); state per key is one struct. The streaming twin
    (streaming/pipelines.cusum_alarm) runs the same recursion as
    applyInPandasWithState with exactly that struct as its state row.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w7 = Window.partitionBy("event_type").orderBy("d")
    rk = daily.withColumn("t", F.row_number().over(w7).cast("long"))
    mu = (
        rk.filter(F.col("t") <= 7)
        .groupBy("event_type")
        .agg(
            (F.sum("n").cast("double") / F.count(F.lit(1)).cast("double")).alias("mu")
        )
    )
    series = (
        rk.join(mu, "event_type")
        .groupBy("event_type", "mu")
        .agg(
            F.array_sort(F.collect_list(F.struct("d", "n"))).alias("days"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
        )
    )
    zero = F.struct(
        F.lit(0.0).alias("s"),
        F.lit(float("-inf")).alias("smax"),
        F.lit(0).cast("long").alias("nal"),
        F.lit(None).cast("date").alias("first"),
    )

    def step(acc, x):
        s = F.greatest(acc["s"] + x["n"].cast("double") - F.col("mu"), F.lit(0.0))
        # h = 3*sqrt(mu0), NOT k*mu0: a mean-proportional threshold goes
        # dead as volume grows (Poisson fluctuations scale with sqrt(mu),
        # so at sf0.01 the old 2*mu never fired and first_alarm_day sat
        # all-NULL through nine driver rounds — the r13 degeneracy gate's
        # first catch). sqrt is correctly rounded in IEEE-754, so the
        # comparison mirrors bit-exactly across Spark/DuckDB/Python.
        alarm = s > 3.0 * F.sqrt(F.col("mu"))
        return F.struct(
            s.alias("s"),
            F.greatest(acc["smax"], s).alias("smax"),
            (acc["nal"] + F.when(alarm, 1).otherwise(0)).cast("long").alias("nal"),
            F.coalesce(acc["first"], F.when(alarm, x["d"])).alias("first"),
        )

    folded = series.select(
        "event_type",
        "n_days",
        F.aggregate("days", zero, step).alias("acc"),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.round(F.col("acc.s"), 6).alias("s_final"),
        F.round(F.col("acc.smax"), 6).alias("s_max"),
        F.col("acc.nal").alias("n_alarms"),
        F.col("acc.first").cast("string").alias("first_alarm_day"),
    ).orderBy("event_type")


# First-digit CASE chain and Benford expectations are authoring-time
# LITERALS (math.log10 in the generator below) — no runtime log10, whose
# last-ULP behavior differs between the engines' libm bindings.
_BENFORD_P = {1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181, 6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757}
_BENFORD_DECADES = [11, 10, 9, 8, 7, 6, 5, 4, 3, 2, 1, 0]


@query(
    "dq_benford",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN CAST(o_totalprice AS DOUBLE) >= 1e11 THEN CAST(floor(CAST(o_totalprice AS DOUBLE) / 1e11) AS BIGINT) WHEN CAST(o_totalprice AS DOUBLE) >= 1e10 THEN CAST(floor(CAST(o_totalprice AS DOUBLE) / 1e10) AS BIGINT) WHEN CAST(o_totalprice AS DOUBLE) >= 1e9 THEN CAST(floor(CAST(o_totalprice AS DOUBLE) / 1e9) AS BIGINT) WHEN CAST(o_totalprice AS DOUBLE) >= 1e8 THEN CAST(floor(CAST(o_totalprice AS DOUBLE) / 1e8) AS BIGINT) WHEN CAST(o_totalprice AS DOUBLE) >= 1e7 THEN CAST(floor(CAST(o_totalprice AS DOUBLE) / 1e7) AS BIGINT) WHEN CAST(o_totalprice AS DOUBLE) >= 1e6 THEN CAST(floor(CAST(o_totalprice AS DOUBLE) / 1e6) AS BIGINT) WHEN CAST(o_totalprice AS DOUBLE) >= 1e5 THEN CAST(floor(CAST(o_totalprice AS DOUBLE) / 1e5) AS BIGINT) WHEN CAST(o_totalprice AS DOUBLE) >= 1e4 THEN CAST(floor(CAST(o_totalprice AS DOUBLE) / 1e4) AS BIGINT) WHEN CAST(o_totalprice AS DOUBLE) >= 1e3 THEN CAST(floor(CAST(o_totalprice AS DOUBLE) / 1e3) AS BIGINT) WHEN CAST(o_totalprice AS DOUBLE) >= 1e2 THEN CAST(floor(CAST(o_totalprice AS DOUBLE) / 1e2) AS BIGINT) WHEN CAST(o_totalprice AS DOUBLE) >= 1e1 THEN CAST(floor(CAST(o_totalprice AS DOUBLE) / 1e1) AS BIGINT) WHEN CAST(o_totalprice AS DOUBLE) >= 1e0 THEN CAST(floor(CAST(o_totalprice AS DOUBLE) / 1e0) AS BIGINT) END AS digit
      FROM orders WHERE o_totalprice >= 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
    g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt FROM s GROUP BY 1)
    SELECT g.digit, g.cnt,
           ROUND(CAST(g.cnt AS DOUBLE) / CAST(n.n AS DOUBLE), 6) AS p_obs,
           CASE g.digit WHEN 1 THEN 0.30103 WHEN 2 THEN 0.176091 WHEN 3 THEN 0.124939 WHEN 4 THEN 0.09691 WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947 WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153 WHEN 9 THEN 0.045757 END AS p_benford,
           ROUND(CAST(g.cnt AS DOUBLE) / CAST(n.n AS DOUBLE)
                 - CASE g.digit WHEN 1 THEN 0.30103 WHEN 2 THEN 0.176091 WHEN 3 THEN 0.124939 WHEN 4 THEN 0.09691 WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947 WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153 WHEN 9 THEN 0.045757 END, 6) AS deviation
    FROM g, n ORDER BY g.digit
    """,
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over the money column — the
    classic fabricated-data / broken-ETL detector: natural multi-decade
    amounts follow P(d) = log10(1 + 1/d); a generator that draws amounts
    uniformly (as synthetic testdata does) or a pipeline bug that
    truncates a decade shows up as a flat or spiked deviation column.
    This op REPORTS the per-digit deviation; alerting composes with
    stats_psi-style thresholds downstream.

    Exactness: the first digit comes from a literal decade CASE chain
    (floor(x / 10^k) over pinned powers — no runtime log10, whose libm
    rounding differs between engines), and the Benford expectations are
    authoring-time literals, so every column is one mirrored expression.

    Plan: one map-side-combined (digit) count shuffle (<= 9 groups), a
    1-row N broadcast (bounded NLJ), and a 9-row report.
    """
    o = table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("double")
    digit = F.lit(None).cast("long")
    for d in reversed(_BENFORD_DECADES):  # build CASE from smallest decade up
        digit = F.when(x >= float(10 ** d), F.floor(x / float(10 ** d)).cast("long")).otherwise(digit)
    s = o.filter(x >= 1).select(digit.alias("digit"))
    n = s.agg(F.count(F.lit(1)).cast("long").alias("n"))
    g = s.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    p_exp = F.lit(None).cast("double")
    for d, p in _BENFORD_P.items():
        p_exp = F.when(F.col("digit") == d, F.lit(p)).otherwise(p_exp)
    p_obs = F.col("cnt").cast("double") / F.col("n").cast("double")
    return (
        g.crossJoin(F.broadcast(n))
        .select(
            "digit",
            "cnt",
            F.round(p_obs, 6).alias("p_obs"),
            p_exp.alias("p_benford"),
            F.round(p_obs - p_exp, 6).alias("deviation"),
        )
        .orderBy("digit")
    )


@query(
    "events_holt_forecast",
    oracle="""
    WITH RECURSIVE
    daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    rk AS (
      SELECT event_type, d, n,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS t
      FROM daily),
    walk AS (
      SELECT event_type, t, CAST(n AS DOUBLE) AS l,
             CAST(0.0 AS DOUBLE) AS b  -- bare 0.0 is DECIMAL(2,1): it would
             -- quantize the trend to one decimal on every recursive step
      FROM rk WHERE t = 1
      UNION ALL
      SELECT r.event_type, r.t,
             0.5 * CAST(r.n AS DOUBLE) + 0.5 * (w.l + w.b),
             0.5 * ((0.5 * CAST(r.n AS DOUBLE) + 0.5 * (w.l + w.b)) - w.l)
               + 0.5 * w.b
      FROM walk w JOIN rk r ON r.event_type = w.event_type AND r.t = w.t + 1)
    SELECT event_type, CAST(MAX(t) AS BIGINT) AS n_days,
           ROUND(max_by(l, t), 6) AS level,
           ROUND(max_by(b, t), 6) AS trend,
           ROUND(max_by(l, t) + 7.0 * max_by(b, t), 6) AS forecast_7d
    FROM walk GROUP BY 1 ORDER BY 1
    """,
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double) exponential smoothing over the per-type daily
    count series — the trend-aware forecaster one step up from
    events_ewma's level-only smoothing: l_t = a*x_t + (1-a)(l+b),
    b_t = g*(l_t - l_prev) + (1-g)*b, forecast h days out = l + h*b.
    Emits the fitted (level, trend) and the 7-day-ahead forecast per
    event type — the capacity-planning number an ops dashboard charts.

    a = g = 0.5 exactly (binary-exact halves: every smoothing multiply is
    an IEEE-exact scalebyhalf, so the recursion never accumulates a
    multiplier rounding that could diverge cross-engine); init l_1 = x_1,
    b_1 = 0. The recursion is the events_cusum_alarm sequential-fold
    shape: Spark folds each type's day-sorted series with a struct
    accumulator, DuckDB steps a recursive CTE — identical order, so
    bit-equal.

    Scale: the raw log collapses in the daily rollup (only full-table
    shuffle); the fold runs per key over |days| elements.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("d", "n"))).alias("days"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    zero = F.struct(
        F.lit(None).cast("double").alias("l"),
        F.lit(0.0).alias("b"),
    )

    def step(acc, x):
        xn = x["n"].cast("double")
        first = acc["l"].isNull()
        l_new = F.when(first, xn).otherwise(0.5 * xn + 0.5 * (acc["l"] + acc["b"]))
        b_new = F.when(first, F.lit(0.0)).otherwise(
            0.5 * (l_new - acc["l"]) + 0.5 * acc["b"]
        )
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    folded = series.select(
        "event_type", "n_days", F.aggregate("days", zero, step).alias("acc")
    )
    return folded.select(
        "event_type",
        "n_days",
        F.round(F.col("acc.l"), 6).alias("level"),
        F.round(F.col("acc.b"), 6).alias("trend"),
        F.round(F.col("acc.l") + 7.0 * F.col("acc.b"), 6).alias("forecast_7d"),
    ).orderBy("event_type")


@query(
    "stats_weighted_quantiles",
    oracle="""
    WITH g AS (
      SELECT l_extendedprice AS v,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1),
    cum AS (
      SELECT v, SUM(w) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw
      FROM g),
    t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM g)
    SELECT t.tw AS total_weight,
           MIN(CASE WHEN cum.cw * 100 >= t.tw * 25 THEN cum.v END) AS wp25,
           MIN(CASE WHEN cum.cw * 100 >= t.tw * 50 THEN cum.v END) AS wp50,
           MIN(CASE WHEN cum.cw * 100 >= t.tw * 75 THEN cum.v END) AS wp75,
           MIN(CASE WHEN cum.cw * 100 >= t.tw * 99 THEN cum.v END) AS wp99
    FROM cum, t GROUP BY t.tw
    """,
)
def stats_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED quantiles of the price distribution, weighted by
    quantity — the volume-weighted percentiles a price index or a
    cost-attribution report needs (an unweighted p50 over line items is
    NOT the median unit's price). Lower-quantile semantics: the smallest
    value whose cumulative weight reaches k% of total, decided by the
    all-integer cross-multiplication 100*cumw >= k*W — no per-row float
    division, no boundary ambiguity (quantities are integral; the cast
    pins it).

    Fourth consumer of the shared _two_phase_cumsum machinery: same
    single-scan plan as stats_quantiles_exact (grouped frame
    checkpointed, totals derived from it, 1-row broadcast, one min-CASE
    aggregate).
    """
    l = table(spark, sf_dir, "lineitem")
    g = l.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("w")
    )
    cum = _two_phase_cumsum(g, "v", ["w"])
    t = cum.agg(F.sum("w").cast("long").alias("tw"))
    joined = cum.crossJoin(F.broadcast(t))
    return (
        joined.groupBy("tw")
        .agg(
            *[
                F.min(
                    F.when(F.col("cum_w") * 100 >= F.col("tw") * k, F.col("v"))
                ).alias(f"wp{k}")
                for k in (25, 50, 75, 99)
            ]
        )
        .select(F.col("tw").alias("total_weight"), "wp25", "wp50", "wp75", "wp99")
    )


def _rank_sum_x2(s: DataFrame, flag: str, n1: str, n2: str, r2: str) -> DataFrame:
    """The 1-row rank-sum aggregate of a (v, ``flag``) frame, ``flag`` in
    {0, 1}: ``n1`` rows flagged 1, ``n2`` rows flagged 0, ``r2`` twice the
    flagged rows' midrank sum (2*cb + cnt + 1 per distinct value, always
    integral), and ``tie3`` = Σ(cnt³ - cnt), pruned where unread. The
    ~2N^2-magnitude sums accumulate in decimal(38,0) like stats_spearman:
    a long sum would wrap SILENTLY near N~2e9 under non-ANSI arithmetic
    while DuckDB's HUGEINT->BIGINT cast errors."""
    g = s.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(flag).cast("long").alias("a"),
    )
    cum = _two_phase_cumsum(g, "v", ["cnt"])
    return cum.agg(
        F.sum("a").cast("long").alias(n1),
        F.sum(F.col("cnt") - F.col("a")).cast("long").alias(n2),
        F.sum(
            F.col("a").cast("decimal(38,0)")
            * (2 * (F.col("cum_cnt") - F.col("cnt")) + F.col("cnt") + 1)
        )
        .cast("long")
        .alias(r2),
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        )
        .cast("long")
        .alias("tie3"),
    )


@query(
    "stats_mann_whitney",
    oracle="""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ia
      FROM events WHERE event_type IN ('view', 'click') AND value IS NOT NULL),
    g AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(ia) AS BIGINT) AS a
      FROM s GROUP BY 1),
    c AS (
      SELECT v, cnt, a,
             SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
      FROM g),
    t AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n1,
             CAST(SUM(cnt - a) AS BIGINT) AS n2,
             CAST(SUM(a * (2 * (cum - cnt) + cnt + 1)) AS BIGINT) AS r2a,
             CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
      FROM c)
    SELECT n1, n2,
           r2a - n1 * (n1 + 1) AS u1_x2,
           2 * n1 * n2 - (r2a - n1 * (n1 + 1)) AS u2_x2,
           ROUND(
             CAST(r2a - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
             / (2.0 * sqrt(
                 (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                  * ((CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                      * CAST(n1 + n2 AS DOUBLE) - CAST(n1 + n2 AS DOUBLE))
                     - CAST(tie3 AS DOUBLE)))
                 / (12.0 * CAST(n1 + n2 AS DOUBLE)
                    * (CAST(n1 + n2 AS DOUBLE) - 1.0)))),
             6) AS z
    FROM t
    """,
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) two-sample test: are 'view' and
    'click' event values drawn from the same distribution? The
    NONPARAMETRIC drift detector between stats_ks_test (sup-norm ECDF) and
    stats_welch_ttest (means): rank-based, so it is location-sensitive but
    robust to the heavy tails that break the t-test.

    Exactness discipline: ranks never materialize as floats. For a
    distinct value with cnt occurrences after cb smaller samples, the
    tie-averaged rank is cb + (cnt+1)/2 — a half-integer — so the engine
    carries DOUBLED rank sums (2r = 2*cb + cnt + 1, always integral) and
    emits u1_x2 = 2*U1 as exact BIGINT (U1 = R1 - n1(n1+1)/2 in half-unit
    precision). Convention (stated r11 after the audit): the asymptotic
    z carries NO 0.5 continuity correction (scipy's use_continuity=True
    default differs by exactly that shift; stats_mann_kendall, by
    contrast, does apply its standard correction — both stated).
    The tie-corrected z runs division and sqrt only — both
    exactly-rounded IEEE ops, bit-identical across engines on the mirrored
    expression tree (pow/exp are the unsafe transcendentals, not used).

    Overflow discipline: _rank_sum_x2 accumulates r2a and tie3 in
    decimal(38,0) (DuckDB's HUGEINT sum). The BIGINT *outputs* are the
    remaining bound: u1_x2 <= 2*n1*n2 fits int64 iff N <~ 4.3e9
    (balanced); past that Spark's decimal->long cast yields NULL (loud,
    non-ANSI) and DuckDB's HUGEINT->BIGINT cast errors — neither engine
    returns a wrapped wrong number.

    Scale: fifth consumer of _two_phase_cumsum — the pooled ranks come
    from the distinct-value grouped frame (one map-side-combined shuffle
    of the 100 TB scan), bucket-parallel prefix sums, then ONE 1-row
    aggregate. No window over a single partition, no join at all.
    """
    e = table(spark, sf_dir, "events")
    s = e.filter(
        F.col("event_type").isin("view", "click") & F.col("value").isNotNull()
    ).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("ia"),
    )
    t = _rank_sum_x2(s, "ia", "n1", "n2", "r2a")
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    u1_x2 = F.col("r2a") - F.col("n1") * (F.col("n1") + 1)
    var_num = n1d * n2d * ((nd * nd * nd - nd) - F.col("tie3").cast("double"))
    return t.select(
        "n1",
        "n2",
        u1_x2.alias("u1_x2"),
        (2 * F.col("n1") * F.col("n2") - u1_x2).alias("u2_x2"),
        F.round(
            (u1_x2 - F.col("n1") * F.col("n2")).cast("double")
            / (F.lit(2.0) * F.sqrt(var_num / (F.lit(12.0) * nd * (nd - F.lit(1.0))))),
            6,
        ).alias("z"),
    )


@query(
    "stats_spearman",
    oracle="""
    WITH r AS (
      SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
    gx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM r GROUP BY x),
    cx AS (
      SELECT x,
             2 * (SUM(cnt) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - cnt)
               + cnt + 1 AS rx2
      FROM gx),
    gy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM r GROUP BY y),
    cy AS (
      SELECT y,
             2 * (SUM(cnt) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) - cnt)
               + cnt + 1 AS ry2
      FROM gy),
    j AS (
      SELECT CAST(cx.rx2 AS HUGEINT) AS rx2, CAST(cy.ry2 AS HUGEINT) AS ry2
      FROM r JOIN cx ON r.x = cx.x JOIN cy ON r.y = cy.y),
    t AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(rx2 * ry2) AS sxy,
             SUM(rx2 * rx2) AS sxx,
             SUM(ry2 * ry2) AS syy,
             SUM(rx2) AS sx,
             SUM(ry2) AS sy
      FROM j)
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho
    FROM t
    """,
)
def stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between lineitem quantity and extended
    price — the monotone-association twin of Pearson (stats_corr_matrix):
    rank-transform both columns (average ranks on ties), then Pearson on
    the ranks. Robust to outliers and any monotone nonlinearity, so it is
    the correlation a feature-audit pipeline trusts on heavy-tailed money
    columns.

    Exactness discipline: like stats_mann_whitney, ranks stay integral by
    carrying DOUBLED tie-averaged ranks (2r = 2*cum_before + cnt + 1); all
    five moment sums accumulate in decimal(38,0) (DuckDB HUGEINT) — the
    per-row product (2r_x)(2r_y) ~ 4n^2 would overflow int64 near n ~ 2e9
    rows, so the cast happens BEFORE the multiply. The closing rho is one
    division and one sqrt over mirrored expression trees, ROUND-6: the
    division/sqrt are exactly rounded, but the decimal->double casts of
    the moment terms are NOT once they exceed 2^53 — at sf0.1 (n = 6e5,
    num ~ 5e23) DuckDB's HUGEINT->double and Spark's Decimal->double
    differ by one ULP (found by the r13 full sf0.1 sweep; sf0.01 was
    exact because every term fit in 2^53). ROUND-6 absorbs the cast ULP
    the way it absorbs ln/exp ULP drift elsewhere.

    Scale: sixth _two_phase_cumsum consumer, twice (one global rank frame
    per column — each a distinct-value grouped shuffle + bucket-parallel
    prefix sums). The rank frames join back to the fact rows as plain
    equi-joins: the x side (50 distinct quantities) auto-broadcasts, the
    y side (~|distinct prices|) is a shuffle equi-join that AQE broadcasts
    while it fits. Final reduce is ONE 1-row aggregate; no windows over
    the raw fact table.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )
    rank2 = lambda cum: (  # noqa: E731 — doubled tie-averaged rank
        2 * (F.col("cum_cnt") - F.col("cnt")) + F.col("cnt") + 1
    )
    gx = li.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    rx = _two_phase_cumsum(gx, "x", ["cnt"]).select(
        "x", rank2("cum_cnt").cast("decimal(38,0)").alias("rx2")
    )
    gy = li.groupBy("y").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    ry = _two_phase_cumsum(gy, "y", ["cnt"]).select(
        "y", rank2("cum_cnt").cast("decimal(38,0)").alias("ry2")
    )
    j = li.join(rx, "x").join(ry, "y")
    t = j.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("rx2") * F.col("ry2")).alias("sxy"),
        F.sum(F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).alias("syy"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return t.select(
        F.col("n").cast("long").alias("n"),
        F.round(
            num.cast("double")
            / F.sqrt(denx.cast("double") * deny.cast("double")),
            6,
        ).alias("rho"),
    )


@query(
    "stats_linear_regression",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
             CAST(value AS DECIMAL(18,6)) AS y
      FROM events WHERE value IS NOT NULL),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y) AS DECIMAL(38,6)) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(18,0)) * y) AS DECIMAL(38,6)) AS sxy,
             CAST(SUM(y * y) AS DECIMAL(38,12)) AS syy
      FROM s GROUP BY 1)
    SELECT event_type, n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE), 6) AS intercept,
           ROUND(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
    FROM m ORDER BY event_type
    """,
)
def stats_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS of value against epoch day — closed-form simple linear
    regression (slope / intercept / R²), the trend-estimation primitive
    between events_ewma's smoothing and events_holt_forecast's recursion.

    Exactness (the stats_spearman recipe): the five moment sums are EXACT
    — x and x² are integers; y carries ≤ 2 decimal digits so decimal(18,6)
    holds it exactly, x·y and y² accumulate in decimal(38,·) — then each
    output is a fixed tree of IEEE double products/divisions over the
    same exact inputs on both engines, closed by ROUND-6. No double is
    ever accumulated, so partitioning cannot move a bit. Bounds: |x| ~
    2×10⁴ (epoch days), so n·Sxx stays under 2⁵³ through n ~ 10⁹ rows per
    group and the decimal(38) sums clear int64 overflow the way
    stats_spearman's do.

    Scale: ONE map-side-combined aggregate over the scan — |types| rows
    out; nothing else.
    """
    e = table(spark, sf_dir, "events")
    s = e.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.col("value").cast("decimal(18,6)").alias("y"),
    )
    m = s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("y").cast("decimal(38,6)").alias("sy"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("y"))
        .cast("decimal(38,6)")
        .alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,12)").alias("syy"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sxx_d = F.col("sxx").cast("double")
    sy_d = F.col("sy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    syy_d = F.col("syy").cast("double")
    num = n_d * sxy_d - sx_d * sy_d
    denx = n_d * sxx_d - sx_d * sx_d
    deny = n_d * syy_d - sy_d * sy_d
    slope = num / denx
    return m.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy_d - slope * sx_d) / n_d, 6).alias("intercept"),
        F.round((num * num) / (denx * deny), 6).alias("r2"),
    ).orderBy("event_type")


_BOOT_B = 32  # Poisson-bootstrap replicates
# Poisson(1) inverse-CDF thresholds as PINNED floor(cdf * 2^30) literals —
# no exp()/factorial at runtime, so both engines draw identical weights.
_BOOT_CDF_Q30 = [
    (0, 395007542), (1, 790015084), (2, 987518855),
    (3, 1053353445), (4, 1069812093), (5, 1073103822),
]


def _bootstrap_oracle() -> str:
    w_case = " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in _BOOT_CDF_Q30
    )
    return f"""
    WITH r AS (
      SELECT event_type, CAST(value AS DECIMAL(18,6)) AS y,
             u.b AS b,
             CAST(('0x' || substring(sha256(CAST(event_id AS VARCHAR)
                    || ':' || CAST(u.b AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1073741824 AS u
      FROM events, unnest(generate_series(0, {_BOOT_B - 1})) u(b)
      WHERE value IS NOT NULL),
    w AS (
      SELECT event_type, b, y,
             CASE {w_case} ELSE 6 END AS w
      FROM r),
    reps AS (
      SELECT event_type, b,
             CAST(SUM(w * y) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS m
      FROM w WHERE w > 0 GROUP BY 1, 2),
    agg AS (
      SELECT event_type, list(m ORDER BY m, b) AS ms FROM reps GROUP BY 1),
    base AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mean
      FROM events WHERE value IS NOT NULL GROUP BY 1)
    SELECT base.event_type, base.n, ROUND(base.mean, 6) AS mean,
           ROUND(ms[2], 6) AS ci_lo, ROUND(ms[{_BOOT_B - 1}], 6) AS ci_hi
    FROM base JOIN agg USING (event_type) ORDER BY 1
    """


@query("stats_bootstrap_ci", oracle=_bootstrap_oracle())
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed confidence interval for the per-type mean via the
    POISSON BOOTSTRAP (Chamandy et al., the resampling scheme that
    actually works on a cluster: classical bootstrap needs a global
    sample-with-replacement pass per replicate; Poissonization gives each
    row an independent Poisson(1) multiplicity per replicate, computable
    row-locally in the scan).

    Determinism: the per-(row, replicate) uniform is a sha256 slice (the
    minhash base-hash pattern) reduced mod 2^30, and the Poisson(1)
    inverse CDF is applied via PINNED floor(cdf·2^30) integer literals —
    no exp() at runtime, no RNG state, so every weight is bit-identical
    cross-engine and across partitionings. Replicate means are exact
    decimal sums with one final double division; the CI is the 2nd/31st
    of the 32 sorted replicate means (~94% coverage at B=32; B is a
    constant to raise, not a semantic).

    Scale: the explode is B× the scan but collapses map-side into
    |types|×B groups; the CI step sorts 32 numbers per type. No global
    resample pass, no driver-side randomness — the whole point of the
    Poisson formulation.
    """
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    r = e.select(
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("y"),
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        "event_id",
    ).select(
        "event_type",
        "y",
        "b",
        (
            gram_key(
                F.concat(F.col("event_id").cast("string"), F.lit(":"), F.col("b").cast("string"))
            )
            % F.lit(1073741824).cast("long")
        ).alias("u"),
    )
    w = F.lit(6)
    for k, t in reversed(_BOOT_CDF_Q30):
        w = F.when(F.col("u") < t, F.lit(k)).otherwise(w)
    reps = (
        r.select("event_type", "b", "y", w.alias("w"))
        .filter(F.col("w") > 0)
        .groupBy("event_type", "b")
        .agg(
            (
                F.sum(F.col("w") * F.col("y")).cast("double")
                / F.sum("w").cast("double")
            ).alias("m")
        )
    )
    agg = reps.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "b"))), lambda s: s["m"]
        ).alias("ms")
    )
    base = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean"),
    )
    return (
        base.join(agg, "event_type")
        .select(
            "event_type",
            "n",
            F.round("mean", 6).alias("mean"),
            F.round(F.element_at("ms", 2), 6).alias("ci_lo"),
            F.round(F.element_at("ms", _BOOT_B - 1), 6).alias("ci_hi"),
        )
        .orderBy("event_type")
    )


@query(
    "stats_anova_oneway",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS s,
             CAST(SUM(CAST(value AS DECIMAL(18,6))
                      * CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,12)) AS ss
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n_tot,
             CAST(SUM(s) AS DECIMAL(38,6)) AS s_tot,
             CAST(SUM(ss) AS DECIMAL(38,12)) AS ss_tot,
             SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                 ORDER BY event_type) AS sq_over_n
      FROM g)
    SELECT k, n_tot,
           ROUND(sq_over_n
                 - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
                   / CAST(n_tot AS DOUBLE), 6) AS ss_between,
           ROUND(CAST(ss_tot AS DOUBLE) - sq_over_n, 6) AS ss_within,
           ROUND(((sq_over_n
                   - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
                     / CAST(n_tot AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
                 / ((CAST(ss_tot AS DOUBLE) - sq_over_n)
                    / CAST(n_tot - k AS DOUBLE)), 6) AS f_stat
    FROM t
    """,
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across event types: does the mean of `value` differ
    by type — the k-group generalization of stats_welch_ttest, closing
    the classical-inference set (t, chi², KS, Mann-Whitney, Spearman,
    ANOVA).

    Exactness: _one_way_f, shared with stats_levene_bf — exact decimal
    group sums of ≤2-dp values, one ORDERED k-term double fold (the
    stats_psi contract), ROUND-6.

    Scale: one map-side-combined aggregate to |types| rows, one ordered
    k-term fold — nothing else.
    """
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return _one_way_f(e, F.col("value").cast("decimal(18,6)"), "s", "f_stat")


def _one_way_f(z: DataFrame, y: Column, s: str, stat: str) -> DataFrame:
    """One-way ANOVA of ``y`` (a decimal(18,6) column) across event_type:
    (k, n_tot, ss_between, ss_within, ``stat``), the F statistic named
    ``stat``. Per group (n, Σy named ``s``, Σy²) are exact decimal sums; the
    one order-sensitive reduction, Σ_g s_g²/n_g over k DOUBLES, is an
    ORDERED fold over event_type (array_sort + aggregate, mirroring DuckDB's
    SUM(... ORDER BY)); everything after is a fixed double tree closed by
    ROUND-6."""
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).cast("decimal(38,6)").alias(s),
        F.sum(y * y).cast("decimal(38,12)").alias("ss"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum(s).cast("decimal(38,6)").alias("s_tot"),
        F.sum("ss").cast("decimal(38,12)").alias("ss_tot"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("event_type", "n", s))),
                lambda x: x[s].cast("double") * x[s].cast("double") / x["n"].cast("double"),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("sq_over_n"),
    )
    ssb = F.col("sq_over_n") - F.col("s_tot").cast("double") * F.col("s_tot").cast(
        "double"
    ) / F.col("n_tot").cast("double")
    ssw = F.col("ss_tot").cast("double") - F.col("sq_over_n")
    return t.select(
        "k",
        "n_tot",
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        F.round(
            (ssb / (F.col("k") - 1).cast("double"))
            / (ssw / (F.col("n_tot") - F.col("k")).cast("double")),
            6,
        ).alias(stat),
    )


@query(
    "stats_proportion_ztest",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT)
               >= (SELECT CAST(floor(epoch(MIN(ts))) AS BIGINT)
                     + (CAST(floor(epoch(MAX(ts))) AS BIGINT)
                        - CAST(floor(epoch(MIN(ts))) AS BIGINT)) // 2
                   FROM events) AS late,
             event_type = 'purchase' AS hit
      FROM events WHERE event_type IN ('view', 'click', 'purchase')),
    g AS (
      SELECT late, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM b GROUP BY 1),
    w AS (
      SELECT MAX(CASE WHEN NOT late THEN n END) AS n1,
             MAX(CASE WHEN NOT late THEN x END) AS x1,
             MAX(CASE WHEN late THEN n END) AS n2,
             MAX(CASE WHEN late THEN x END) AS x2
      FROM g)
    SELECT n1, x1, n2, x2,
           ROUND(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6) AS p1,
           ROUND(CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) AS p2,
           ROUND((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                  - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                 / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                        * (1.0 - CAST(x1 + x2 AS DOUBLE)
                                 / CAST(n1 + n2 AS DOUBLE))
                        * (1.0 / CAST(n1 AS DOUBLE)
                           + 1.0 / CAST(n2 AS DOUBLE))), 6) AS z
    FROM w
    """,
)
def stats_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on the purchase rate, first half of the time
    range vs second half — the A/B-test primitive (pooled-variance z),
    here as a before/after drift check on conversion.

    Exactness: the epoch midpoint split is ALL-INTEGER (floored epoch
    seconds, integer // 2 — Spark's unix_timestamp floors identically);
    the four cell counts are exact; z is one fixed tree of IEEE double
    divisions and a sqrt (ln/sqrt are the cross-engine-safe
    transcendentals) closed by ROUND-6. One map-side-combined aggregate
    plus a 1-row min/max broadcast — the events_rate_test shape.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    sec = F.unix_timestamp("ts")
    # integer midpoint: min + (max - min) div 2, computed exactly
    mm = e.agg(
        F.min(sec).cast("long").alias("lo"), F.max(sec).cast("long").alias("hi")
    ).select((F.col("lo") + F.expr("(hi - lo) div 2")).alias("mid"))
    g = (
        e.crossJoin(F.broadcast(mm))
        .select(
            (sec >= F.col("mid")).alias("late"),
            (F.col("event_type") == "purchase").alias("hit"),
        )
        .groupBy("late")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("long").alias("x"),
        )
    )
    w = g.agg(
        F.max(F.when(~F.col("late"), F.col("n"))).alias("n1"),
        F.max(F.when(~F.col("late"), F.col("x"))).alias("x1"),
        F.max(F.when(F.col("late"), F.col("n"))).alias("n2"),
        F.max(F.when(F.col("late"), F.col("x"))).alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1").cast("double")
    p2 = F.col("x2").cast("double") / F.col("n2").cast("double")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (
        F.col("n1") + F.col("n2")
    ).cast("double")
    z = (p1 - p2) / F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n1").cast("double") + F.lit(1.0) / F.col("n2").cast("double"))
    )
    return w.select(
        "n1", "x1", "n2", "x2",
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round(z, 6).alias("z"),
    )


@query(
    "stats_kruskal_wallis",
    oracle="""
    WITH s AS (
      SELECT value AS v, event_type AS et
      FROM events WHERE value IS NOT NULL),
    gv AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM s GROUP BY 1),
    cv AS (
      SELECT v, cnt,
             2 * (SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - cnt)
               + cnt + 1 AS rank2
      FROM gv),
    ga AS (
      SELECT et, v, CAST(COUNT(*) AS BIGINT) AS a FROM s GROUP BY 1, 2),
    rg AS (
      SELECT ga.et, CAST(SUM(ga.a) AS BIGINT) AS n,
             SUM(CAST(ga.a AS HUGEINT) * cv.rank2) AS r2
      FROM ga JOIN cv ON ga.v = cv.v GROUP BY 1),
    tv AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_tot,
             CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
      FROM gv),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             SUM(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
                 / CAST(n AS DOUBLE) ORDER BY et) AS s4
      FROM rg),
    f AS (
      SELECT t.k, tv.n_tot,
             3.0 * t.s4 / (CAST(tv.n_tot AS DOUBLE)
                           * (CAST(tv.n_tot AS DOUBLE) + 1.0))
               - 3.0 * (CAST(tv.n_tot AS DOUBLE) + 1.0) AS h,
             1.0 - CAST(tv.tie3 AS DOUBLE)
                   / (CAST(tv.n_tot AS DOUBLE) * CAST(tv.n_tot AS DOUBLE)
                      * CAST(tv.n_tot AS DOUBLE)
                      - CAST(tv.n_tot AS DOUBLE)) AS c
      FROM t, tv)
    SELECT k, n_tot, ROUND(h, 6) AS h, ROUND(h / c, 6) AS h_tie
    FROM f
    """,
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H: the k-group generalization of stats_mann_whitney
    — are the `value` distributions across ALL event types drawn from one
    population? Rank-based, so robust where stats_anova_oneway's F (means)
    is not; together they close the k-group pair (parametric + rank).

    Exactness: pooled tie-averaged ranks never materialize as floats —
    the DOUBLED rank 2r = 2*cum_before + cnt + 1 is integral, so each
    group's doubled rank-sum R2_g accumulates EXACTLY in decimal(38,0)
    (DuckDB HUGEINT). The one order-sensitive float reduction — the
    k-term sum Σ_g R2_g²/n_g — is an ORDERED fold over event_type
    (array_sort + aggregate mirroring SUM(.. ORDER BY et), the stats_psi
    contract). With R_g = R2_g/2, H = 12/(N(N+1))·ΣR²/n − 3(N+1)
    = 3·(ΣR2²/n)/(N(N+1)) − 3(N+1): a fixed double tree after exact
    integers, closed by ROUND-6; the tie correction 1 − Σ(t³−t)/(N³−N)
    divides once more. sqrt/ln unneeded; pow/exp (the unsafe
    transcendentals) never appear.

    Scale: the pooled ranks come from the distinct-value grouped frame
    (one map-side-combined shuffle), bucket-parallel prefix sums
    (_two_phase_cumsum — no single-partition window), one (et, v)
    aggregate joined back on v (sort-merge on distinct values), then a
    k-row and a 1-row aggregate. The per-(et,v) counts shuffle is the
    only addition over Mann-Whitney's binary-indicator trick, which does
    not generalize to k groups.
    """
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select(F.col("value").alias("v"), F.col("event_type").alias("et"))
    gv = s.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cum = _two_phase_cumsum(gv, "v", ["cnt"])
    cv = cum.select(
        "v",
        "cnt",
        (2 * (F.col("cum_cnt") - F.col("cnt")) + F.col("cnt") + 1).alias("rank2"),
    )
    ga = s.groupBy("et", "v").agg(F.count(F.lit(1)).cast("long").alias("a"))
    rg = (
        ga.join(cv.select("v", "rank2"), "v")
        .groupBy("et")
        .agg(
            F.sum("a").cast("long").alias("n"),
            # ~2N^2-magnitude: accumulate in decimal(38,0) like
            # stats_mann_whitney (DuckDB's SUM(BIGINT) is HUGEINT).
            F.sum(F.col("a").cast("decimal(38,0)") * F.col("rank2")).alias("r2"),
        )
    )
    tv = cum.agg(
        F.sum("cnt").cast("long").alias("n_tot"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        )
        .cast("long")
        .alias("tie3"),
    )
    t = rg.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("et", "n", "r2"))),
                lambda x: x["r2"].cast("double")
                * x["r2"].cast("double")
                / x["n"].cast("double"),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("s4"),
    )
    nd = F.col("n_tot").cast("double")
    f = t.crossJoin(F.broadcast(tv)).select(
        "k",
        "n_tot",
        (
            F.lit(3.0) * F.col("s4") / (nd * (nd + F.lit(1.0)))
            - F.lit(3.0) * (nd + F.lit(1.0))
        ).alias("h"),
        (
            F.lit(1.0) - F.col("tie3").cast("double") / (nd * nd * nd - nd)
        ).alias("c"),
    )
    return f.select(
        "k",
        "n_tot",
        F.round("h", 6).alias("h"),
        F.round(F.col("h") / F.col("c"), 6).alias("h_tie"),
    )


@query(
    "stats_jensen_shannon",
    oracle="""
    WITH s AS (
      SELECT event_type AS cat,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS is_ref
      FROM events),
    b AS (
      SELECT cat, CAST(SUM(is_ref) AS BIGINT) AS ca,
             CAST(SUM(1 - is_ref) AS BIGINT) AS cb
      FROM s GROUP BY 1),
    t AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_ref, CAST(SUM(cb) AS BIGINT) AS n_cur,
             CAST(SUM(ca) AS DOUBLE) AS na, CAST(SUM(cb) AS DOUBLE) AS nb,
             CAST(COUNT(*) AS BIGINT) AS k_cats,
             list(struct_pack(cat := cat, ca := ca, cb := cb) ORDER BY cat)
               AS catrows
      FROM b)
    SELECT n_ref, n_cur, k_cats,
           ROUND(list_aggregate(list_transform(catrows, r ->
             (CASE WHEN r.ca > 0
                   THEN (CAST(r.ca AS DOUBLE) / na)
                        * ln(2.0 * (CAST(r.ca AS DOUBLE) / na)
                             / (CAST(r.ca AS DOUBLE) / na
                                + CAST(r.cb AS DOUBLE) / nb))
                   ELSE 0.0 END
              + CASE WHEN r.cb > 0
                   THEN (CAST(r.cb AS DOUBLE) / nb)
                        * ln(2.0 * (CAST(r.cb AS DOUBLE) / nb)
                             / (CAST(r.ca AS DOUBLE) / na
                                + CAST(r.cb AS DOUBLE) / nb))
                   ELSE 0.0 END) * 0.5), 'sum'), 6) AS jsd
    FROM t
    """,
)
def stats_jensen_shannon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the event-type MIX of two user
    cohorts (even vs odd user_id) — the bounded, symmetric member of the
    drift family: PSI blows up on empty bins, KL is asymmetric, JSD is
    always finite in [0, ln 2] and symmetric, which is why it is the
    default categorical drift metric in ML monitoring.

    Determinism: the stats_psi discipline verbatim — exact integer cell
    counts, each per-category term one mirrored IEEE expression (JSD
    needs ln; the 2p/(p+q) form evaluates KL-to-midpoint without ever
    materializing m = (p+q)/2, and a category absent from one cohort
    contributes its p·ln2 term from the other alone — no epsilon fudge),
    an ORDERED fold over category, closing ROUND-6 absorbing the bounded
    ln ULP drift.

    Plan: one map-side-combined (event_type) count shuffle, then a single
    |types|-row aggregate emitting totals AND the ordered category list —
    no joins, no broadcast, no second pass.
    """
    e = table(spark, sf_dir, "events")
    s = e.select(
        F.col("event_type").alias("cat"),
        (F.col("user_id") % 2 == 0).cast("int").alias("is_ref"),
    )

    def _term(r, p, q):
        t1 = F.when(r["ca"] > 0, p * F.log(F.lit(2.0) * p / (p + q))).otherwise(
            F.lit(0.0)
        )
        t2 = F.when(r["cb"] > 0, q * F.log(F.lit(2.0) * q / (p + q))).otherwise(
            F.lit(0.0)
        )
        return (t1 + t2) * F.lit(0.5)

    return _cohort_divergence(s, "cat", _term, "jsd", k_cats=F.count(F.lit(1)))


@query(
    "stats_theil_sen",
    oracle="""
    WITH g AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    p AS (
      SELECT a.event_type,
             CAST(b.c - a.c AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
      FROM g a JOIN g b
        ON a.event_type = b.event_type AND a.x < b.x),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             list(slope ORDER BY slope) AS sl
      FROM p GROUP BY 1),
    d AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
      FROM g GROUP BY 1)
    SELECT m.event_type, d.n_days, m.n_pairs,
           CASE WHEN m.n_pairs % 2 = 1 THEN sl[CAST((m.n_pairs + 1) // 2 AS INT)]
                ELSE (sl[CAST(m.n_pairs // 2 AS INT)]
                      + sl[CAST(m.n_pairs // 2 + 1 AS INT)]) / 2.0
           END AS slope
    FROM m JOIN d ON m.event_type = d.event_type
    ORDER BY m.event_type
    """,
)
def stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: per event type, the MEDIAN of all pairwise
    slopes of the daily-count series — the estimator that shrugs off the
    outlier days that wreck OLS (stats_linear_regression is its fragile
    twin; a single logging-glitch spike day moves OLS but not this).

    Determinism: every slope is ONE exact IEEE division of two integer
    differences (day counts and epoch-day indices), so both engines hold
    bit-identical doubles; the median is an exact element pick (odd n)
    or one addition + one halving of two exact doubles (even n) — no
    transcendentals, no rounding needed, the output doubles are exact.
    Sorting equal doubles is value-stable by definition, so engine sort
    ties cannot change the pick.

    Plan: one (type, day) count shuffle bounds the series at |types| x
    calendar-span rows regardless of event volume — the O(span^2)
    pairwise self-join is an EQUI-join on event_type with the x1 < x2
    range as a post-join predicate, never a cartesian, and its output
    (<= |types| * C(span, 2) rows) is calendar-bounded, not data-bounded.
    The per-type sorted-list median materializes <= C(span, 2) doubles
    per group inside one row. At 100 TB only the first count shuffle
    grows; everything after is fixed-size.
    """
    e = table(spark, sf_dir, "events")
    g = (
        e.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            "event_type",
            F.datediff("d", F.lit("1970-01-01").cast("date")).alias("x"),
            "c",
        )
    )
    a = g.select(
        F.col("event_type").alias("et"),
        F.col("x").alias("x1"),
        F.col("c").alias("c1"),
    )
    b = g.select(
        F.col("event_type").alias("et2"),
        F.col("x").alias("x2"),
        F.col("c").alias("c2"),
    )
    p = a.join(b, (F.col("et") == F.col("et2")) & (F.col("x1") < F.col("x2"))).select(
        "et",
        (
            (F.col("c2") - F.col("c1")).cast("double")
            / (F.col("x2") - F.col("x1")).cast("double")
        ).alias("slope"),
    )
    m = p.groupBy("et").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.array_sort(F.collect_list("slope")).alias("sl"),
    )
    d = (
        g.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_days"))
        .select(F.col("event_type").alias("et2"), "n_days")
    )
    half = (F.col("n_pairs") / 2).cast("int")
    med = F.when(
        F.col("n_pairs") % 2 == 1,
        F.element_at("sl", ((F.col("n_pairs") + 1) / 2).cast("int")),
    ).otherwise((F.element_at("sl", half) + F.element_at("sl", half + 1)) / F.lit(2.0))
    return (
        m.join(d, F.col("et") == F.col("et2"))
        .select(
            F.col("et").alias("event_type"),
            "n_days",
            "n_pairs",
            med.alias("slope"),
        )
        .orderBy("event_type")
    )


@query(
    "stats_cramers_v",
    oracle="""
    WITH o AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
      FROM documents GROUP BY 1, 2),
    m AS (SELECT SUM(obs) AS n FROM o),
    rt AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS row_tot FROM o GROUP BY 1),
    ct AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS col_tot FROM o GROUP BY 1),
    cells AS (
      SELECT (CAST(o.obs AS DOUBLE)
              - CAST(rt.row_tot * ct.col_tot AS DOUBLE) / CAST(m.n AS DOUBLE))
             * (CAST(o.obs AS DOUBLE)
              - CAST(rt.row_tot * ct.col_tot AS DOUBLE) / CAST(m.n AS DOUBLE))
             / (CAST(rt.row_tot * ct.col_tot AS DOUBLE) / CAST(m.n AS DOUBLE))
               AS term,
             CAST(rt.row_tot * ct.col_tot AS DOUBLE) / CAST(m.n AS DOUBLE) AS ex
      FROM o JOIN rt USING (lang) JOIN ct USING (source), m),
    s AS (
      SELECT CAST((SELECT n FROM m) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS n_langs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS n_sources,
             list_aggregate(list(term ORDER BY term), 'sum')
               + (CAST((SELECT n FROM m) AS DOUBLE)
                  - list_aggregate(list(ex ORDER BY ex), 'sum')) AS chi2
      FROM cells)
    SELECT n, n_cells, n_langs, n_sources,
           (n_langs - 1) * (n_sources - 1) AS dof,
           ROUND(chi2, 6) AS chi2,
           ROUND(sqrt(chi2 / (CAST(n AS DOUBLE)
                 * CAST(LEAST(n_langs - 1, n_sources - 1) AS DOUBLE))), 6)
             AS cramers_v
    FROM s
    """,
)
def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V over the documents lang x source contingency — the
    EFFECT SIZE the chi-squared statistic refuses to be: chi2 grows
    linearly with n (at 100 TB everything is "significant"), while
    V = sqrt(chi2 / (n * min(r-1, c-1))) stays in [0, 1] and answers the
    question that matters at scale — HOW associated are language and
    source, not whether n is big.

    Exactness is stats_chi2_independence's (the cells are _chi2_cells):
    exact BIGINT cell counts, each cell term one mirrored IEEE sequence
    (integer row_tot*col_tot until the single division by n), the term
    sum folded in ASCENDING SORTED order on both engines before any
    rounding, and V
    derived from the UNROUNDED chi2 with one exact division and one
    sqrt (the IEEE-exact transcendental) — ROUND-6 only on the two
    emitted doubles.

    Plan: one (lang, source) count shuffle (the table stays |langs| x
    |sources| cells no matter the corpus size), two bounded dimension
    broadcasts, a 1-row grand-total broadcast (the stats_ks_test shape,
    whitelisted), and a single small aggregate.
    """
    d = table(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("long").alias("obs"))
    cells = _chi2_cells(o, "lang", "source")
    # UNOBSERVED (lang, source) cells still contribute (0-e)^2/e = e to
    # chi2; since SUM(all expected) = n, the missing mass is n - SUM(ex
    # over observed cells) — added WITHOUT enumerating missing cells
    # (r11 fix: the known-answer audit caught chi2 understated by the
    # zero-cell mass, 73.99 vs 77.69 at sf0.001).
    s = cells.agg(
        F.first("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        (
            F.aggregate(
                F.array_sort(F.collect_list("term")), F.lit(0.0), lambda a, x: a + x
            )
            + (
                F.first("n").cast("double")
                - F.aggregate(
                    F.array_sort(F.collect_list("ex")), F.lit(0.0), lambda a, x: a + x
                )
            )
        ).alias("chi2"),
    )
    return s.select(
        "n",
        "n_cells",
        "n_langs",
        "n_sources",
        ((F.col("n_langs") - 1) * (F.col("n_sources") - 1)).alias("dof"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("n_langs") - 1, F.col("n_sources") - 1).cast(
                        "double"
                    )
                )
            ),
            6,
        ).alias("cramers_v"),
    )


_PERM_B = 32  # permutation replicates


@query(
    "stats_permutation_test",
    oracle=f"""
    WITH b0 AS (
      SELECT event_type, CAST(value AS DECIMAL(18,6)) AS y, event_id,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS is_a
      FROM events WHERE value IS NOT NULL),
    obs AS (
      SELECT event_type,
             CAST(SUM(is_a) AS BIGINT) AS n_a,
             CAST(SUM(1 - is_a) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN is_a = 1 THEN y END) AS DOUBLE)
               / CAST(SUM(is_a) AS DOUBLE)
             - CAST(SUM(CASE WHEN is_a = 0 THEN y END) AS DOUBLE)
               / CAST(SUM(1 - is_a) AS DOUBLE) AS diff_obs
      FROM b0 GROUP BY 1),
    r AS (
      SELECT b0.event_type, y, u.b,
             CAST(('0x' || substring(sha256('p:' || CAST(event_id AS VARCHAR)
                    || ':' || CAST(u.b AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1073741824 AS u
      FROM b0, unnest(generate_series(0, {_PERM_B - 1})) u(b)),
    j AS (
      SELECT r.event_type, r.b, r.y,
             CASE WHEN CAST(r.u AS HUGEINT) * (o.n_a + o.n_b)
                       < CAST(o.n_a AS HUGEINT) * 1073741824
                  THEN 1 ELSE 0 END AS a2
      FROM r JOIN obs o USING (event_type)),
    reps AS (
      SELECT event_type, b,
             CASE WHEN SUM(a2) = 0 OR SUM(1 - a2) = 0 THEN NULL
                  ELSE CAST(SUM(CASE WHEN a2 = 1 THEN y END) AS DOUBLE)
                         / CAST(SUM(a2) AS DOUBLE)
                       - CAST(SUM(CASE WHEN a2 = 0 THEN y END) AS DOUBLE)
                         / CAST(SUM(1 - a2) AS DOUBLE)
             END AS diff_b
      FROM j GROUP BY 1, 2),
    x AS (
      SELECT r.event_type,
             CAST(SUM(CASE WHEN r.diff_b IS NOT NULL
                            AND abs(r.diff_b) >= abs(o.diff_obs)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
      FROM reps r JOIN obs o USING (event_type) GROUP BY 1)
    SELECT o.event_type, o.n_a, o.n_b, ROUND(o.diff_obs, 6) AS diff_obs,
           x.n_extreme,
           (1.0 + CAST(x.n_extreme AS DOUBLE)) / {_PERM_B + 1}.0 AS p_value
    FROM obs o JOIN x USING (event_type) ORDER BY 1
    """,
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test for the cohort mean-value gap per event type —
    the assumption-free alternative to the z/t tests: instead of a
    normal approximation, re-label rows at random B=32 times and ask how
    often a relabeled gap is as extreme as the observed one. p =
    (1 + #extreme) / (B + 1), the add-one estimator that can never claim
    p = 0 from finite replicates.

    Relabeling is the stats_bootstrap_ci determinism scheme: the
    per-(row, replicate) uniform is a salted sha256 slice mod 2^30 — no
    RNG state, bit-identical cross-engine — and a row joins pseudo-A
    when u * n < n_a * 2^30, comparing in decimal(38,0)/HUGEINT so the
    proportion threshold is exact at any n (row-level relabeling is the
    cluster-computable randomization; a fixed-margin permutation needs a
    global shuffle by design). Replicate means are exact decimal sums
    with one double division each; the observed gap stays UNROUNDED for
    the extremity comparison and is ROUND-6 only on emission; an
    empty-side replicate yields NULL and is excluded by the same CASE in
    both engines. p_value is one exact division of small integers.

    Plan: the B-way explode collapses map-side into |types| x B groups
    (the bootstrap shape); obs is a |types|-row broadcast joined twice;
    nothing global, nothing driver-side.
    """
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b0 = e.select(
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("y"),
        "event_id",
        (F.col("user_id") % 2 == 0).cast("int").alias("is_a"),
    )
    obs = b0.groupBy("event_type").agg(
        F.sum("is_a").cast("long").alias("n_a"),
        F.sum(1 - F.col("is_a")).cast("long").alias("n_b"),
        (
            F.sum(F.when(F.col("is_a") == 1, F.col("y"))).cast("double")
            / F.sum("is_a").cast("double")
            - F.sum(F.when(F.col("is_a") == 0, F.col("y"))).cast("double")
            / F.sum(1 - F.col("is_a")).cast("double")
        ).alias("diff_obs"),
    )
    r = b0.select(
        "event_type",
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(_PERM_B - 1))).alias("b"),
        gram_key(
            F.concat(
                F.lit("p:"),
                F.col("event_id").cast("string"),
                F.lit(":"),
                F.col("b").cast("string"),
            )
        ).alias("u"),
    ).withColumn("u", F.col("u") % F.lit(1073741824).cast("long"))
    j = r.join(F.broadcast(obs), "event_type").select(
        "event_type",
        "b",
        "y",
        F.when(
            F.col("u").cast("decimal(38,0)")
            * (F.col("n_a") + F.col("n_b")).cast("decimal(38,0)")
            < F.col("n_a").cast("decimal(38,0)") * F.lit(1073741824).cast("decimal(38,0)"),
            1,
        )
        .otherwise(0)
        .alias("a2"),
    )
    reps = j.groupBy("event_type", "b").agg(
        F.when(
            (F.sum("a2") == 0) | (F.sum(1 - F.col("a2")) == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.sum(F.when(F.col("a2") == 1, F.col("y"))).cast("double")
            / F.sum("a2").cast("double")
            - F.sum(F.when(F.col("a2") == 0, F.col("y"))).cast("double")
            / F.sum(1 - F.col("a2")).cast("double")
        )
        .alias("diff_b"),
    )
    x = (
        reps.join(F.broadcast(obs.select("event_type", "diff_obs")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.col("diff_b").isNotNull()
                    & (F.abs("diff_b") >= F.abs("diff_obs")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_extreme")
        )
    )
    return (
        obs.join(x, "event_type")
        .select(
            "event_type",
            "n_a",
            "n_b",
            F.round("diff_obs", 6).alias("diff_obs"),
            "n_extreme",
            ((F.lit(1.0) + F.col("n_extreme").cast("double")) / F.lit(float(_PERM_B + 1))).alias(
                "p_value"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "stats_runs_test",
    oracle="""
    WITH g AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    dl AS (
      SELECT event_type, d, c,
             LAG(c) OVER (PARTITION BY event_type ORDER BY d) AS pc
      FROM g),
    s AS (
      SELECT event_type, d,
             CASE WHEN c > pc THEN 1 ELSE 0 END AS up
      FROM dl WHERE pc IS NOT NULL AND c <> pc),
    r AS (
      SELECT event_type, up,
             LAG(up) OVER (PARTITION BY event_type ORDER BY d) AS pup
      FROM s),
    agg AS (
      SELECT event_type,
             CAST(SUM(up) AS BIGINT) AS n_up,
             CAST(SUM(1 - up) AS BIGINT) AS n_down,
             CAST(1 + SUM(CASE WHEN pup IS NOT NULL AND up <> pup
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
      FROM r GROUP BY 1)
    SELECT event_type, n_up, n_down, n_runs,
           (CAST(n_runs AS DOUBLE)
            - (CAST(2 * n_up * n_down AS DOUBLE)
               / CAST(n_up + n_down AS DOUBLE) + 1.0))
           / sqrt(CAST(2 * n_up * n_down * (2 * n_up * n_down - n_up - n_down)
                       AS DOUBLE)
                  / CAST((n_up + n_down) * (n_up + n_down)
                         * (n_up + n_down - 1) AS DOUBLE)) AS z
    FROM agg ORDER BY event_type
    """,
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily-count DELTA sequence per
    event type — the randomness check a monitoring pipeline runs before
    trusting any trend op: too FEW runs means the series is trending or
    sticky (deltas clump), too MANY means oscillation (negative
    autocorrelation); |z| > 1.96 rejects "the ups and downs are random".
    Complements stats_theil_sen (which estimates the trend this test
    detects) and events_autocorr_lag1 (the parametric cousin).

    Tie days (equal consecutive counts) are DISCARDED before runs are
    counted — the standard treatment, identical CASE in both engines.

    Determinism: n_up/n_down/n_runs are pure integers off two partitioned
    LAG passes; mu = 2ab/n + 1 and sigma are each one exact division
    (integer numerators — at calendar-bounded n the 2ab(2ab-a-b) product
    tops out ~10^14, far inside int64) plus one exact sqrt; z is exact
    with NO rounding anywhere.

    Plan: one (type, day) count shuffle bounds everything downstream at
    |types| x span rows; the two LAGs share one partitioned sort; the
    rollup is map-side-combined. Unchanged at 100 TB — the calendar,
    not the event volume, is the series length.
    """
    e = table(spark, sf_dir, "events")
    g = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    dl = g.withColumn("pc", F.lag("c").over(w))
    s = dl.filter(F.col("pc").isNotNull() & (F.col("c") != F.col("pc"))).select(
        "event_type", "d", (F.col("c") > F.col("pc")).cast("int").alias("up")
    )
    r = s.withColumn("pup", F.lag("up").over(w))
    agg = r.groupBy("event_type").agg(
        F.sum("up").cast("long").alias("n_up"),
        F.sum(1 - F.col("up")).cast("long").alias("n_down"),
        (
            1
            + F.sum(
                F.when(
                    F.col("pup").isNotNull() & (F.col("up") != F.col("pup")), 1
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("n_runs"),
    )
    a, b = F.col("n_up"), F.col("n_down")
    n = a + b
    mu = (2 * a * b).cast("double") / n.cast("double") + F.lit(1.0)
    var = (2 * a * b * (2 * a * b - a - b)).cast("double") / (
        n * n * (n - 1)
    ).cast("double")
    return agg.select(
        "event_type",
        "n_up",
        "n_down",
        "n_runs",
        ((F.col("n_runs").cast("double") - mu) / F.sqrt(var)).alias("z"),
    ).orderBy("event_type")


@query(
    "stats_levene_bf",
    oracle="""
    WITH s AS (
      SELECT event_type AS g, value AS v FROM events WHERE value IS NOT NULL),
    gd AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
    w AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM gd GROUP BY 1),
    cum AS (
      SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cm
      FROM gd),
    med AS (
      SELECT cum.g, MIN(v) AS med
      FROM cum JOIN w USING (g)
      WHERE cm >= (w.n * 50 + 99) // 100 GROUP BY 1),
    z AS (
      SELECT s.g AS event_type,
             CAST(abs(CAST(s.v AS DECIMAL(18,6))
                      - CAST(med.med AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS y
      FROM s JOIN med ON s.g = med.g),
    gr AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS DECIMAL(38,6)) AS sm,
             CAST(SUM(y * y) AS DECIMAL(38,12)) AS ss
      FROM z GROUP BY 1),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n_tot,
             CAST(SUM(sm) AS DECIMAL(38,6)) AS s_tot,
             CAST(SUM(ss) AS DECIMAL(38,12)) AS ss_tot,
             SUM(CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)
                 ORDER BY event_type) AS sq_over_n
      FROM gr)
    SELECT k, n_tot,
           ROUND(sq_over_n
                 - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
                   / CAST(n_tot AS DOUBLE), 6) AS ss_between,
           ROUND(CAST(ss_tot AS DOUBLE) - sq_over_n, 6) AS ss_within,
           ROUND(((sq_over_n
                   - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
                     / CAST(n_tot AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
                 / ((CAST(ss_tot AS DOUBLE) - sq_over_n)
                    / CAST(n_tot - k AS DOUBLE)), 6) AS w_stat
    FROM t
    """,
)
def stats_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene's test with MEDIAN centers) for
    equality of variances across event types — the check that gates
    stats_anova_oneway: ANOVA assumes equal group variances, and when
    spreads differ you switch to Welch. Median centering (vs Levene's
    original mean) is the robust variant every stats package defaults
    to. The statistic is one-way ANOVA's F applied to the absolute
    deviations z = |y - median_g|.

    Exactness: the group median is a VALUE-EXACT pick — the established
    (N*50+99)//100 integer rank against the per-group distinct-value
    cumulative frame (the stats_grouped_quantiles machinery, a
    partitioned-window cumsum in the oracle and the scalable
    _grouped_two_phase_cumsum in the engine — integer cumsums, so both
    orderings agree exactly); deviations are exact decimal subtractions;
    the ANOVA tail is _one_way_f, shared with stats_anova_oneway — exact
    decimal (n, Σz, Σz²) per group, ONE ordered k-term double fold, ROUND-6.

    Plan: the distinct-value frame + grouped cumsum (no global window,
    parallelism = groups x buckets), a |types|-row median broadcast back
    onto the scan, then one map-side-combined aggregate to |types| rows
    and the k-term fold.
    """
    s, ranked = _event_value_ranks(spark, sf_dir)
    med = (
        ranked.groupBy("g")
        .agg(
            F.min(
                F.when(
                    F.col("cum_c") >= F.expr("(n * 50 + 99) div 100").cast("long"),
                    F.col("v"),
                )
            ).alias("med")
        )
    )
    z = s.join(F.broadcast(med), "g").select(
        F.col("g").alias("event_type"),
        F.abs(
            F.col("v").cast("decimal(18,6)") - F.col("med").cast("decimal(18,6)")
        )
        .cast("decimal(18,6)")
        .alias("y"),
    )
    return _one_way_f(z, F.col("y"), "sm", "w_stat")


@query(
    "stats_auc",
    oracle="""
    WITH s AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events WHERE value IS NOT NULL),
    g AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(pos) AS BIGINT) AS p
      FROM s GROUP BY 1),
    c AS (
      SELECT v, cnt, p,
             SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cm
      FROM g),
    t AS (
      SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
             CAST(SUM(cnt - p) AS BIGINT) AS n_neg,
             CAST(SUM(CAST(p AS HUGEINT)
                      * (2 * (cm - cnt) + cnt + 1)) AS BIGINT) AS r2pos
      FROM c)
    SELECT n_pos, n_neg,
           CAST(r2pos - n_pos * (n_pos + 1) AS DOUBLE)
             / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
    FROM t
    """,
)
def stats_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC, exactly, from the Mann-Whitney identity — the model-eval
    primitive: AUC = P(score_pos > score_neg) + P(=)/2 = (R_pos -
    n_pos(n_pos+1)/2) / (n_pos * n_neg), with R_pos the rank-sum of
    positives under midrank ties. Here the "model" is events.value
    scoring purchase vs non-purchase rows — swap in any score column and
    this is the distributed AUC every offline eval needs without
    sampling or sklearn.

    Exactness: the rank-sum aggregate is _rank_sum_x2, shared with
    stats_mann_whitney — DOUBLED tie-averaged ranks (2r = 2·cum_before +
    cnt + 1, always integral) off the distinct-value cumulative frame,
    rank-sums accumulated in decimal(38,0)/HUGEINT (silent int64 wrap is
    the 100 TB failure), and
    AUC = (2R_pos - n_pos(n_pos+1)) / (2·n_pos·n_neg) — integers into
    ONE exact division, emitted unrounded. The engine's cumsum is the
    two-phase distributed prefix (no single-partition window); the
    oracle's integer window cumsum agrees under any ordering.

    Plan: one distinct-value shuffle, bucket-parallel prefix sums, one
    1-row aggregate. No joins.
    """
    e = table(spark, sf_dir, "events")
    s = e.filter(F.col("value").isNotNull()).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    t = _rank_sum_x2(s, "pos", "n_pos", "n_neg", "r2pos")
    return t.select(
        "n_pos",
        "n_neg",
        (
            (F.col("r2pos") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


@query(
    "stats_calibration_bins",
    oracle="""
    WITH s AS (
      SELECT CAST(('0x' || substring(sha256('cal:'
                   || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1073741824 AS u,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events),
    b AS (
      SELECT CAST(u * 10 // 1073741824 AS BIGINT) AS bin, u, pos FROM s)
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(u) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1073741824.0) AS mean_score,
           CAST(SUM(pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
    FROM b GROUP BY 1 ORDER BY 1
    """,
)
def stats_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability diagram — the model-eval companion to
    stats_auc: bin predictions into score deciles and compare each bin's
    mean predicted score against its observed outcome rate; a calibrated
    model sits on the diagonal, and the gap pattern (over-confident
    head, under-confident tail) is what temperature scaling fixes. The
    stand-in score is a deterministic sha-slice uniform per event (an
    UNINFORMATIVE model — so the correct output is flat bin rates at the
    base rate with mean scores at bin centers, a known-answer shape);
    swap in any real score column and the operator is unchanged.

    Determinism: the score is the bootstrap/permutation sha discipline
    (salted sha256 slice mod 2^30, no RNG state); bins are integer
    u*10 // 2^30; per-bin sums are exact integers; the two per-bin
    ratios are one mirrored division tree each, emitted unrounded.

    Plan: one map-side-combined aggregate to exactly 10 rows. Nothing
    else — the cheapest eval in the suite.
    """
    e = table(spark, sf_dir, "events")
    s = e.select(
        (
            gram_key(F.concat(F.lit("cal:"), F.col("event_id").cast("string")))
            % F.lit(1073741824).cast("long")
        ).alias("u"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    b = s.select(F.expr("CAST(u * 10 div 1073741824 AS BIGINT)").alias("bin"), "u", "pos")
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (
                F.sum("u").cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1073741824.0))
            ).alias("mean_score"),
            (F.sum("pos").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "pos_rate"
            ),
        )
        .orderBy("bin")
    )


@query(
    "stats_pr_curve",
    oracle="""
    WITH s AS (
      SELECT CAST(('0x' || substring(sha256('cal:'
                   || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1073741824 AS u,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events),
    th AS (SELECT unnest(range(1, 10)) AS k),
    c AS (
      SELECT th.k,
             CAST(SUM(CASE WHEN s.u * 10 >= th.k * 1073741824
                           THEN s.pos ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN s.u * 10 >= th.k * 1073741824
                           THEN 1 - s.pos ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(s.pos) AS BIGINT) AS n_pos
      FROM s, th GROUP BY 1)
    SELECT k AS threshold_decile, tp, fp, n_pos - tp AS fn,
           CASE WHEN tp + fp = 0 THEN NULL
                ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
             AS precision,
           CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) AS recall
    FROM c ORDER BY threshold_decile
    """,
)
def stats_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall threshold sweep — the third model-eval op (with
    stats_auc and stats_calibration_bins): TP/FP/FN and precision/recall
    at the nine decile thresholds of the score, the table behind every
    PR curve and threshold-picking decision. Uses the same deterministic
    sha-uniform stand-in score as the calibration op (uninformative
    model — the known-answer is precision ≈ base rate at every cut and
    recall stepping down ~0.1 per decile); swap in a real score column
    and the operator is unchanged.

    Determinism: thresholds compare in pure integers (u*10 >= k*2^30 —
    no float boundary can disagree); counts are exact; the two ratios
    are one mirrored division each, unrounded; an empty predicted-
    positive set yields NULL precision by identical CASE.

    Plan: the 9-threshold fan-out is a tiny broadcast cross of the scan
    collapsed by ONE map-side-combined aggregate to 9 rows (the
    stats_permutation_test explode shape, constant factor 9).
    """
    e = table(spark, sf_dir, "events")
    s = e.select(
        (
            gram_key(F.concat(F.lit("cal:"), F.col("event_id").cast("string")))
            % F.lit(1073741824).cast("long")
        ).alias("u"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    th = s.select("u", "pos", F.explode(F.sequence(F.lit(1), F.lit(9))).alias("k"))
    hit = F.col("u") * 10 >= F.col("k").cast("long") * F.lit(1073741824).cast("long")
    c = th.groupBy("k").agg(
        F.sum(F.when(hit, F.col("pos")).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(hit, 1 - F.col("pos")).otherwise(0)).cast("long").alias("fp"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    return (
        c.select(
            F.col("k").alias("threshold_decile"),
            "tp",
            "fp",
            (F.col("n_pos") - F.col("tp")).alias("fn"),
            F.when(F.col("tp") + F.col("fp") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double")
            )
            .alias("precision"),
            (F.col("tp").cast("double") / F.col("n_pos").cast("double")).alias(
                "recall"
            ),
        )
        .orderBy("threshold_decile")
    )


@query(
    "stats_power_sample_size",
    oracle="""
    WITH b AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM events),
    p AS (
      SELECT n, conv,
             CAST(conv AS DOUBLE) / CAST(n AS DOUBLE) AS p0
      FROM b),
    mde AS (SELECT unnest([5, 10, 20]) AS mde_pct)
    SELECT p.n AS n_events, p.conv AS n_conversions, p.p0 AS baseline_rate,
           mde.mde_pct,
           CAST(ceil(
             (1.959963984540054 + 0.8416212335729143)
             * (1.959963984540054 + 0.8416212335729143)
             * 2.0 * p.p0 * (1.0 - p.p0)
             / ((p.p0 * CAST(mde.mde_pct AS DOUBLE) / 100.0)
                * (p.p0 * CAST(mde.mde_pct AS DOUBLE) / 100.0))
           ) AS BIGINT) AS n_per_arm
    FROM p, mde
    ORDER BY mde.mde_pct
    """,
)
def stats_power_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size planner — the question that comes BEFORE
    stats_proportion_ztest: at the observed baseline conversion rate, how
    many subjects per arm does a two-proportion test need to detect a
    5/10/20% relative lift at alpha = 0.05 (two-sided) and 80% power?
    n = (z_{a/2} + z_b)^2 * 2 p(1-p) / (p*mde)^2 — the planner every
    experimentation platform runs against live baselines before opening
    an experiment.

    Determinism: the two normal quantiles are PINNED literals (1.96...,
    0.8416... — transcendental inverse-CDFs do NOT belong in plans, the
    stats_bootstrap_ci lesson), the baseline is one exact division of
    exact counts, the formula is one mirrored IEEE expression tree, and
    ceil of an identical double is identical. The 3-row MDE grid is a
    constant unnest.

    Plan: ONE 1-row count aggregate and a 3-row constant fan-out —
    after the scan this is free, which is the point: planners run on
    every metric every day.
    """
    e = table(spark, sf_dir, "events")
    b = e.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("conv"),
    )
    p0 = F.col("conv").cast("double") / F.col("n").cast("double")
    za, zb = 1.959963984540054, 0.8416212335729143
    grid = b.select(
        F.col("n").alias("n_events"),
        F.col("conv").alias("n_conversions"),
        p0.alias("baseline_rate"),
        F.explode(F.array(F.lit(5), F.lit(10), F.lit(20))).alias("mde_pct"),
    )
    delta = F.col("baseline_rate") * F.col("mde_pct").cast("double") / F.lit(100.0)
    return grid.select(
        "n_events",
        "n_conversions",
        "baseline_rate",
        "mde_pct",
        F.ceil(
            F.lit((za + zb) * (za + zb))
            * F.lit(2.0)
            * F.col("baseline_rate")
            * (F.lit(1.0) - F.col("baseline_rate"))
            / (delta * delta)
        )
        .cast("long")
        .alias("n_per_arm"),
    ).orderBy("mde_pct")


_NEYMAN_BUDGET = 1000


@query(
    "sample_stratified_neyman",
    oracle=f"""
    WITH g AS (
      SELECT event_type AS et,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS s,
             CAST(SUM(CAST(value AS DECIMAL(18,6))
                      * CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,12)) AS ss
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    one AS (
      SELECT list(struct_pack(et := et, n := n, s := s, ss := ss)
                  ORDER BY et) AS rs
      FROM g),
    w AS (
      SELECT rs,
             list_transform(rs, r ->
               CAST(r.n AS DOUBLE) * sqrt(
                 (CAST(r.n AS DOUBLE) * CAST(r.ss AS DOUBLE)
                  - CAST(r.s AS DOUBLE) * CAST(r.s AS DOUBLE))
                 / (CAST(r.n AS DOUBLE) * CAST(r.n - 1 AS DOUBLE)))) AS ws
      FROM one),
    t AS (
      SELECT rs, ws, list_aggregate(ws, 'sum') AS wt FROM w),
    fl AS (
      SELECT rs, ws, wt,
             list_transform(ws, x ->
               CAST(floor({_NEYMAN_BUDGET}.0 * x / wt) AS BIGINT)) AS fs,
             list_transform(ws, x ->
               {_NEYMAN_BUDGET}.0 * x / wt
               - floor({_NEYMAN_BUDGET}.0 * x / wt)) AS fr
      FROM t),
    rk AS (
      SELECT rs, ws, fs, fr,
             CAST({_NEYMAN_BUDGET} - list_aggregate(fs, 'sum') AS BIGINT)
               AS rem,
             list_transform(fr, (x, i) ->
               CAST(len(list_filter(range(1, len(fr) + 1), j ->
                 fr[j] > x OR (fr[j] = x AND j < i))) AS BIGINT)) AS pos
      FROM fl)
    SELECT rs[i].et AS event_type,
           rs[i].n AS n_pop,
           ROUND(ws[i] / CAST(rs[i].n AS DOUBLE), 6) AS sigma,
           fs[i] + CASE WHEN pos[i] < rem THEN 1 ELSE 0 END AS n_alloc
    FROM rk, UNNEST(range(1, len(rs) + 1)) AS ix(i)
    ORDER BY event_type
    """,
)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified allocation — HOW MANY samples each
    stratum deserves, the question sample_stratified (which takes rates
    as given) does not answer: n_h proportional to N_h * sigma_h puts
    budget where the variance is, the textbook-optimal design for
    estimating the overall mean. A 1000-sample budget splits by exact
    largest-remainder rounding (floor allocations + the leftovers to the
    largest fractional parts, ties to the earlier stratum) so the
    allocations sum to EXACTLY the budget — the off-by-a-few bug every
    naive proportional rounder ships.

    Determinism: per-stratum (n, Σy, Σy²) are exact decimal sums; sigma
    is one mirrored division tree + sqrt (IEEE-exact); weights fold in
    stratum order (jensen_shannon discipline); floors and the remainder
    ranking are computed inside ONE row over the |strata|-element arrays
    — the fractional-part comparisons see bit-identical doubles in both
    engines, so the largest-remainder ranking can never diverge.

    Plan: one map-side-combined aggregate to |strata| rows, one 1-row
    ordered fold, posexplode. Nothing data-sized after the scan.
    """
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    y = F.col("value").cast("decimal(18,6)")
    g = e.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).cast("decimal(38,6)").alias("s"),
        F.sum(y * y).cast("decimal(38,12)").alias("ss"),
    )
    one = g.agg(
        F.array_sort(F.collect_list(F.struct("et", "n", "s", "ss"))).alias("rs")
    )
    B = float(_NEYMAN_BUDGET)

    def w_of(r):
        nd = r["n"].cast("double")
        return nd * F.sqrt(
            (nd * r["ss"].cast("double") - r["s"].cast("double") * r["s"].cast("double"))
            / (nd * (r["n"] - 1).cast("double"))
        )

    w = one.select("rs", F.transform("rs", w_of).alias("ws"))
    t = w.select(
        "rs",
        "ws",
        F.aggregate("ws", F.lit(0.0), lambda a, x: a + x).alias("wt"),
    )
    fl = t.select(
        "rs",
        "ws",
        "wt",
        F.transform(
            "ws", lambda x: F.floor(F.lit(B) * x / F.col("wt")).cast("long")
        ).alias("fs"),
        F.transform(
            "ws",
            lambda x: F.lit(B) * x / F.col("wt")
            - F.floor(F.lit(B) * x / F.col("wt")),
        ).alias("fr"),
    )
    rk = fl.select(
        "rs",
        "ws",
        "fs",
        "fr",
        (
            F.lit(_NEYMAN_BUDGET)
            - F.aggregate("fs", F.lit(0).cast("long"), lambda a, x: a + x)
        )
        .cast("long")
        .alias("rem"),
        F.transform(
            "fr",
            lambda x, i: F.size(
                F.filter(
                    F.transform(
                        "fr",
                        lambda y2, j: (y2 > x)
                        | ((y2 == x) & (j < i)),
                    ),
                    lambda b: b,
                )
            ).cast("long"),
        ).alias("pos"),
    )
    ex = rk.select(F.posexplode("rs").alias("p", "r"), "ws", "fs", "pos", "rem")
    i1 = F.col("p") + 1
    return ex.select(
        F.col("r.et").alias("event_type"),
        F.col("r.n").alias("n_pop"),
        F.round(
            F.element_at("ws", i1) / F.col("r.n").cast("double"), 6
        ).alias("sigma"),
        (
            F.element_at("fs", i1)
            + F.when(F.element_at("pos", i1) < F.col("rem"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_alloc"),
    ).orderBy("event_type")


_BH_Q = 0.10  # FDR level


def _bh_oracle() -> str:
    from wri_data_processing_spark.registry import ORACLE

    base = ORACLE["stats_permutation_test"]
    return f"""
    WITH base AS ({base}),
    one AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             list(struct_pack(et := event_type, p := p_value)
                  ORDER BY p_value, event_type) AS rs
      FROM base),
    th AS (
      SELECT m, rs,
             list_transform(rs, (r, i) ->
               CAST(i AS DOUBLE) * {_BH_Q} / CAST(m AS DOUBLE)) AS thr
      FROM one),
    k AS (
      SELECT m, rs, thr,
             CAST(COALESCE(list_max(list_filter(
               list_transform(rs, (r, i) ->
                 CASE WHEN r.p <= thr[i] THEN i ELSE 0 END),
               x -> x > 0)), 0) AS BIGINT) AS kstar
      FROM th)
    SELECT rs[i].et AS event_type,
           rs[i].p AS p_value,
           CAST(i AS BIGINT) AS rank,
           thr[i] AS bh_threshold,
           i <= kstar AS rejected
    FROM k, UNNEST(range(1, len(rs) + 1)) AS ix(i)
    ORDER BY rank
    """


@query("stats_fdr_bh", oracle=_bh_oracle())
def stats_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction over the per-type permutation
    p-values — the multiple-testing step every metrics platform skips at
    its peril: run the cohort gap test on five metrics and at alpha 0.05
    you expect a false positive every fourth experiment; BH controls the
    FALSE DISCOVERY RATE instead (here q = 0.10): sort p ascending,
    find the largest k with p_k <= k*q/m, reject exactly ranks 1..k —
    including the non-significant-alone members below a significant one,
    which is the part naive per-test thresholds get wrong in both
    directions.

    COMPOSES stats_permutation_test verbatim (the engine calls the
    registered op; the oracle embeds its SQL as a CTE), so the p-values
    are the sha-deterministic exact ones already driver-proven. The BH
    step itself is pure comparisons of exact doubles against rank*q/m
    (one exact division each) inside a one-row |tests|-element fold —
    ties in p break on the type name in both engines.

    Plan: the permutation plan unchanged, then a 5-row ordered fold.
    """
    base = stats_permutation_test(spark, sf_dir).select("event_type", "p_value")
    one = base.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.array_sort(
            F.collect_list(F.struct(F.col("p_value").alias("p"), F.col("event_type").alias("et")))
        ).alias("rs"),
    )
    th = one.select(
        "m",
        "rs",
        F.transform(
            "rs",
            lambda r, i: (i + 1).cast("double") * F.lit(_BH_Q) / F.col("m").cast("double"),
        ).alias("thr"),
    )
    k = th.select(
        "m",
        "rs",
        "thr",
        F.aggregate(
            F.transform(
                "rs",
                lambda r, i: F.when(
                    r["p"] <= F.element_at("thr", i + 1), (i + 1).cast("long")
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda a, x: F.greatest(a, x),
        ).alias("kstar"),
    )
    ex = k.select(F.posexplode("rs").alias("p0", "r"), "thr", "kstar")
    rank = (F.col("p0") + 1).cast("long")
    return ex.select(
        F.col("r.et").alias("event_type"),
        F.col("r.p").alias("p_value"),
        rank.alias("rank"),
        F.element_at("thr", F.col("p0") + 1).alias("bh_threshold"),
        (rank <= F.col("kstar")).alias("rejected"),
    ).orderBy("rank")


@query(
    "stats_mcnemar",
    oracle="""
    WITH ud AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
             MAX(CASE WHEN event_type = 'purchase'
                       AND hour(CAST(ts AS TIMESTAMP)) < 12
                      THEN 1 ELSE 0 END) AS am,
             MAX(CASE WHEN event_type = 'purchase'
                       AND hour(CAST(ts AS TIMESTAMP)) >= 12
                      THEN 1 ELSE 0 END) AS pm
      FROM events GROUP BY 1, 2),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN am = 1 AND pm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(SUM(CASE WHEN am = 1 AND pm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN am = 0 AND pm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN am = 0 AND pm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
      FROM ud)
    SELECT n_pairs, n11, n10, n01, n00,
           ROUND(CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
                 / CAST(n10 + n01 AS DOUBLE), 6) AS mcnemar_chi2
    FROM c
    """,
)
def stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes: does purchase behavior
    differ between morning and afternoon on the same user-day? The
    within-subject companion to stats_proportion_ztest's independent-
    samples z — the pairing (each user-day is its own control) removes
    between-user variance, and only the DISCORDANT pairs (n10/n01) carry
    information: chi2 = (b-c)^2/(b+c) on 1 dof.

    The unit is (user, day), NOT user: probed first (the degenerate-
    fixture rule) — every synthetic user purchases in both halves of the
    timeline, so user-level pre/post is all-concordant and the statistic
    collapses to 0/0; at the user-day grain the discordant cells are
    ~67/72 at sf0.001.

    Determinism: four exact BIGINT cells from one aggregate; the
    statistic is integer (b-c)^2 over integer (b+c) — ONE IEEE division,
    ROUND-6 closed. Plan: one map-side-combined (user, day) aggregate,
    then a 5-column global fold to a single row. Nothing else.
    """
    e = table(spark, sf_dir, "events")
    ud = e.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.hour("ts") < 12), 1
            ).otherwise(0)
        ).alias("am"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.hour("ts") >= 12), 1
            ).otherwise(0)
        ).alias("pm"),
    )
    c = ud.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when((F.col("am") == 1) & (F.col("pm") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.sum(F.when((F.col("am") == 1) & (F.col("pm") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when((F.col("am") == 0) & (F.col("pm") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
        F.sum(F.when((F.col("am") == 0) & (F.col("pm") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
    )
    stat = ((F.col("n10") - F.col("n01")) * (F.col("n10") - F.col("n01"))).cast(
        "double"
    ) / (F.col("n10") + F.col("n01")).cast("double")
    return c.select(
        "n_pairs", "n11", "n10", "n01", "n00", F.round(stat, 6).alias("mcnemar_chi2")
    )


@query(
    "stats_wilcoxon_signed_rank",
    oracle="""
    WITH mid AS (
      SELECT CAST(floor(epoch(MIN(ts))) AS BIGINT)
             + (CAST(floor(epoch(MAX(ts))) AS BIGINT)
                - CAST(floor(epoch(MIN(ts))) AS BIGINT)) // 2 AS m
      FROM events WHERE value IS NOT NULL),
    u AS (
      SELECT user_id,
             SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < (SELECT m FROM mid)
                      THEN CAST(value AS DECIMAL(18,6))
                      ELSE CAST(0 AS DECIMAL(18,6)) END) AS s1,
             SUM(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= (SELECT m FROM mid)
                      THEN CAST(value AS DECIMAL(18,6))
                      ELSE CAST(0 AS DECIMAL(18,6)) END) AS s2
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    d AS (
      SELECT CAST((s2 - s1) * 1000000 AS BIGINT) AS ds
      FROM u WHERE s2 <> s1),
    gv AS (
      SELECT abs(ds) AS absd, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CASE WHEN ds > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM d GROUP BY 1),
    cv AS (
      SELECT absd, cnt, pos,
             2 * (SUM(cnt) OVER (ORDER BY absd ROWS UNBOUNDED PRECEDING) - cnt)
               + cnt + 1 AS rank2
      FROM gv),
    t AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(pos * rank2) AS BIGINT) AS w2_plus,
             CAST(SUM((cnt - pos) * rank2) AS BIGINT) AS w2_minus
      FROM cv)
    SELECT n, w2_plus, w2_minus,
           ROUND(CAST(w2_plus - n * (n + 1) // 2 AS DOUBLE)
                 / sqrt(CAST(n * (n + 1) * (2 * n + 1) // 6 AS DOUBLE)),
                 6) AS z
    FROM t
    """,
)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test: did per-user spend SHIFT between the
    first and second half of the timeline? The PAIRED companion to
    stats_mann_whitney (two independent samples) — each user is their own
    control, differences d = spend_H2 - spend_H1 are ranked by |d| with
    average ranks for ties, and W+ sums the ranks of the positive
    differences. Zero differences are excluded (standard treatment).

    Determinism: half-sums are exact DECIMAL(18,6); d scales to an exact
    BIGINT (x 1e6), so |d| grouping and ordering are pure integers.
    Average tie ranks use the DOUBLED-rank trick from
    stats_kruskal_wallis (2*cnt_less + cnt_eq + 1 is always integer), so
    W2+ = 2*W+ stays BIGINT. The z statistic works entirely on the
    DOUBLED scale: E[W2+] = n(n+1)/2 (integer — n(n+1) is even) and
    Var(W2+) = 4*Var(W+) = n(n+1)(2n+1)/6, the integer sum of squares,
    so z = (W2+ - n(n+1)/2) / sqrt(n(n+1)(2n+1)/6) — ONE IEEE division
    over the safe sqrt, ROUND-6. (r12 fix, found by the known-answer
    net: the original denominator carried a spurious extra factor 2 —
    2*sqrt(Var(W2+)) = 4*sigma(W+) — emitting z/2; the mirrored oracle
    shared the error, the 4th formula bug caught this way. No
    tie-correction term; ties are measure-zero in scaled micro-units
    and both engines would drop the identical term.)

    Plan: one map-side-combined per-user aggregate (the epoch midpoint
    is ALL-INTEGER, a 1-row broadcast — the stats_proportion_ztest
    shape, whitelisted), one |d|-group aggregate, then the two-phase
    cumulative sum (no single-partition window) and a 3-column fold.
    """
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    sec = F.unix_timestamp("ts")
    mm = e.agg(
        F.min(sec).cast("long").alias("lo"), F.max(sec).cast("long").alias("hi")
    ).select((F.col("lo") + F.expr("(hi - lo) div 2")).alias("mid"))
    dec0 = F.lit(0).cast("decimal(18,6)")
    u = (
        e.crossJoin(F.broadcast(mm))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(sec < F.col("mid"), F.col("value").cast("decimal(18,6)"))
                .otherwise(dec0)
            ).alias("s1"),
            F.sum(
                F.when(sec >= F.col("mid"), F.col("value").cast("decimal(18,6)"))
                .otherwise(dec0)
            ).alias("s2"),
        )
    )
    d = u.filter(F.col("s2") != F.col("s1")).select(
        ((F.col("s2") - F.col("s1")) * 1000000).cast("long").alias("ds")
    )
    gv = d.groupBy(F.abs(F.col("ds")).alias("absd")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.when(F.col("ds") > 0, 1).otherwise(0)).cast("long").alias("pos"),
    )
    cw = _two_phase_cumsum(gv, "absd", ["cnt"])
    cv = cw.select(
        "cnt",
        "pos",
        (2 * (F.col("cum_cnt") - F.col("cnt")) + F.col("cnt") + 1).alias("rank2"),
    )
    t = cv.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("pos") * F.col("rank2")).cast("long").alias("w2_plus"),
        F.sum((F.col("cnt") - F.col("pos")) * F.col("rank2"))
        .cast("long")
        .alias("w2_minus"),
    )
    z = (
        F.col("w2_plus") - F.expr("n * (n + 1) div 2")
    ).cast("double") / F.sqrt(
        F.expr("CAST(n * (n + 1) * (2 * n + 1) div 6 AS DOUBLE)")
    )
    return t.select("n", "w2_plus", "w2_minus", F.round(z, 6).alias("z"))


@query(
    "stats_cohens_kappa",
    oracle="""
    WITH r AS (
      SELECT CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END AS ra,
             CASE WHEN CAST(('0x' || substring(sha256('kap:'
                    || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  % 1073741824 * 5 < 1073741824
                  THEN 1 - CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END
                  ELSE CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END
             END AS rb
      FROM documents),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(SUM(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
      FROM r)
    SELECT n, n11, n10, n01, n00,
           ROUND(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
           ROUND(CAST((n11 + n10) * (n11 + n01)
                      + (n01 + n00) * (n10 + n00) AS DOUBLE)
                 / CAST(n * n AS DOUBLE), 6) AS pe,
           ROUND(CAST(2 * (n11 * n00 - n10 * n01) AS DOUBLE)
                 / CAST((n11 + n10) * (n10 + n00)
                        + (n11 + n01) * (n01 + n00) AS DOUBLE), 6) AS kappa
    FROM c
    """,
)
def stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two binary
    annotators on document quality, the standard inter-rater metric for
    labeling-pipeline QA. Rater A is the length heuristic
    (n_chars >= 400); rater B is a NOISY SECOND ANNOTATOR stand-in —
    rater A's label flipped with probability 1/5 by a salted sha-slice
    uniform per doc (the stats_calibration_bins stand-in discipline:
    deterministic, and the known answer is kappa ~= the noise-free 0.6
    that a 20% symmetric flip implies; swap in any real second label
    column and the operator is unchanged).

    Probed before designing: every length-ish rater pair on the
    synthetic corpus is perfectly NESTED (chars and whitespace words are
    linearly coupled, so one off-diagonal cell is structurally zero);
    the sha flip is what makes all four cells carry mass.

    Determinism: the flip compares in pure integers (u*5 < 2^30); the
    four cells are one exact aggregate; po, pe, and kappa (the
    2(ad-bc) / ((a+b)(b+d)+(a+c)(c+d)) closed form) are each ONE IEEE
    division of exact BIGINTs, ROUND-6. Plan: one map-side-combined
    fold to a single row — no joins, no shuffle beyond the final
    1-row combine.
    """
    docs = table(spark, sf_dir, "documents")
    ra = F.when(F.col("n_chars") >= 400, 1).otherwise(0)
    u = (
        gram_key(F.concat(F.lit("kap:"), F.col("doc_id").cast("string")))
        % F.lit(1073741824).cast("long")
    )
    rb = F.when(u * 5 < F.lit(1073741824), 1 - ra).otherwise(ra)
    r = docs.select(ra.alias("ra"), rb.alias("rb"))
    c = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
    )
    po = (F.col("n11") + F.col("n00")).cast("double") / F.col("n").cast("double")
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    ).cast("double") / (F.col("n") * F.col("n")).cast("double")
    kappa = (
        2 * (F.col("n11") * F.col("n00") - F.col("n10") * F.col("n01"))
    ).cast("double") / (
        (F.col("n11") + F.col("n10")) * (F.col("n10") + F.col("n00"))
        + (F.col("n11") + F.col("n01")) * (F.col("n01") + F.col("n00"))
    ).cast("double")
    return c.select(
        "n", "n11", "n10", "n01", "n00",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round(kappa, 6).alias("kappa"),
    )


@query(
    "stats_mutual_info",
    oracle="""
    WITH o AS (
      SELECT event_type, hour(CAST(ts AS TIMESTAMP)) // 6 AS tod,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    m AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM o),
    rt AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS r FROM o GROUP BY 1),
    ct AS (SELECT tod, CAST(SUM(c) AS BIGINT) AS ct FROM o GROUP BY 1),
    cells AS (
      SELECT (CAST(o.c AS DOUBLE) / CAST(m.n AS DOUBLE))
             * ln((CAST(o.c AS DOUBLE) * CAST(m.n AS DOUBLE))
                  / (CAST(rt.r AS DOUBLE) * CAST(ct.ct AS DOUBLE))) AS term
      FROM o JOIN rt USING (event_type) JOIN ct USING (tod), m)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(list_aggregate(list(term ORDER BY term), 'sum'), 6) AS mi_nats
    FROM cells
    """,
)
def stats_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and time-of-day quadrant
    (hour // 6) — "how much does WHEN predict WHAT": the
    information-theoretic dependence measure completing the categorical
    family (chi2 tests independence, Cramer's V sizes the effect, MI
    measures it in nats and is what feature-selection pipelines rank
    by). I(X;Y) = sum_ij p_ij * ln(p_ij / (p_i q_j)).

    Determinism: counts are exact BIGINTs; each cell's term is the
    identical IEEE tree on both engines — the ratio is computed as
    (c*n)/(r*ct) with the products taken IN DOUBLE (BIGINT c*n overflows
    int64 once n > ~3e9 rows; double multiply is the scale-safe form and
    is still bit-identical), then ln (the cross-engine-safe
    transcendental, stats_psi precedent). The final sum runs in
    ASCENDING SORTED order on both sides (the stats_chi2_independence
    ordered-fold contract), ROUND-6 closed.

    Plan: one map-side-combined (type, quadrant) count — the only
    data-sized stage — then broadcast joins of the |X|-row and |Y|-row
    marginals and a 20-double ordered fold. The 1-row grand-total
    broadcast is the whitelisted stats_ks_test shape.
    """
    e = table(spark, sf_dir, "events")
    o = e.groupBy(
        "event_type", F.expr("hour(ts) div 6").cast("long").alias("tod")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    rt = o.groupBy("event_type").agg(F.sum("c").cast("long").alias("r"))
    ct = o.groupBy("tod").agg(F.sum("c").cast("long").alias("ct"))
    m = o.agg(F.sum("c").cast("long").alias("n"))
    term = (F.col("c").cast("double") / F.col("n").cast("double")) * F.log(
        (F.col("c").cast("double") * F.col("n").cast("double"))
        / (F.col("r").cast("double") * F.col("ct").cast("double"))
    )
    cells = (
        o.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "tod")
        .crossJoin(F.broadcast(m))
        .select(term.alias("term"))
    )
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("term")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("mi_nats"),
    )


_MOMENT_CTES = """
    WITH s AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS ci
      FROM events WHERE value IS NOT NULL),
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ci) AS BIGINT) AS s1,
             CAST(SUM(ci * ci) AS BIGINT) AS s2,
             SUM(CAST(ci AS HUGEINT) * ci * ci) AS s3,
             SUM(CAST(ci AS HUGEINT) * ci * ci * ci) AS s4
      FROM s GROUP BY 1),
    d AS (
      SELECT event_type, n,
             CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS d1,
             CAST(s2 AS DOUBLE) AS d2, CAST(s3 AS DOUBLE) AS d3,
             CAST(s4 AS DOUBLE) AS d4
      FROM g),
    m AS (
      SELECT event_type, n, nd,
             nd * d2 - d1 * d1 AS m2,
             nd * nd * d3 - 3.0 * nd * d1 * d2 + 2.0 * d1 * d1 * d1 AS m3,
             nd * nd * nd * d4 - 4.0 * nd * nd * d1 * d3
               + 6.0 * nd * d1 * d1 * d2 - 3.0 * d1 * d1 * d1 * d1 AS m4
      FROM d)"""


def _shape_moments(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, F.Column, F.Column]:
    """The per-type power-sum frame (event_type, n, s1..s4) of the non-null
    event values in exact centi-units, with the ROUND-6 sample skewness
    m3/m2^1.5 and excess kurtosis m4/m2^2 - 3 as columns over it — the
    moment tree stats_skewness_kurtosis and stats_jarque_bera share, whose
    SQL twin is _MOMENT_CTES."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ci = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    g = e.select("event_type", ci.alias("ci")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ci").cast("long").alias("s1"),
        F.sum(F.col("ci") * F.col("ci")).cast("long").alias("s2"),
        F.sum(F.col("ci").cast("decimal(38,0)") * F.col("ci") * F.col("ci")).alias(
            "s3"
        ),
        F.sum(
            F.col("ci").cast("decimal(38,0)") * F.col("ci") * F.col("ci") * F.col("ci")
        ).alias("s4"),
    )
    nd = F.col("n").cast("double")
    d1 = F.col("s1").cast("double")
    d2 = F.col("s2").cast("double")
    d3 = F.col("s3").cast("double")
    d4 = F.col("s4").cast("double")
    m2 = nd * d2 - d1 * d1
    m3 = nd * nd * d3 - F.lit(3.0) * nd * d1 * d2 + F.lit(2.0) * d1 * d1 * d1
    m4 = (
        nd * nd * nd * d4
        - F.lit(4.0) * nd * nd * d1 * d3
        + F.lit(6.0) * nd * d1 * d1 * d2
        - F.lit(3.0) * d1 * d1 * d1 * d1
    )
    return (
        g,
        F.round(m3 / (m2 * F.sqrt(m2)), 6),
        F.round(m4 / (m2 * m2) - F.lit(3.0), 6),
    )


@query(
    "stats_skewness_kurtosis",
    oracle=f"""{_MOMENT_CTES}
    SELECT event_type, n,
           ROUND(m3 / (m2 * sqrt(m2)), 6) AS skewness,
           ROUND(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
    FROM m ORDER BY event_type
    """,
)
def stats_skewness_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type skewness and excess kurtosis of the value distribution —
    the third and fourth moments completing stats_moments' profile (mean/
    variance say where and how wide; these say how LOPSIDED and how
    HEAVY-TAILED, the shape facts that decide log-transforms and outlier
    policy before any parametric test in this module is trusted).

    Exactness: values are exact 2-decimal money (probed), so centi-unit
    ints make all four RAW power sums exact — s1/s2 in int64, s3/s4 in
    DECIMAL(38,0)/HUGEINT (ci^4 <= 5.8e18 per row just clears int64;
    the 38-digit sum clears any corpus). Central moments expand from raw
    sums in ONE mirrored double tree (BIGINT/DECIMAL -> DOUBLE rounds
    identically on both engines); m2^1.5 is m2*sqrt(m2) — sqrt is the
    safe transcendental, no pow() anywhere (pow is NOT cross-engine
    exact, probed in r7) — ROUND-6 closes both statistics.

    Identity check (r11 fix): the scaled sums here are m2 = n*M2,
    m3 = n^2*M3, m4 = n^3*M4 for central moments Mk = sum((x-mean)^k),
    so g1 = sqrt(n)*M3/M2^1.5 = m3/m2^1.5 and g2 = n*M4/M2^2 - 3
    = m4/m2^2 - 3 — the n-powers cancel EXACTLY; the previous extra
    sqrt(n)/n factors (r9-r10) inflated both statistics. Statistic-level
    correctness is now pinned against an independent per-value numpy
    moment computation in tests/test_stats_known_answers.py, not just
    engine-oracle symmetry (ADVICE r10, high).

    Plan: one map-side-combined per-type aggregate; 5 output rows; the
    moment algebra runs on the 5-row frame.
    """
    g, skew, kurt = _shape_moments(spark, sf_dir)
    return g.select(
        "event_type", "n", skew.alias("skewness"), kurt.alias("kurtosis_excess")
    ).orderBy("event_type")


@query(
    "stats_tost_equivalence",
    oracle="""
    WITH b AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS arm,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
      FROM events),
    g AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(hit) AS BIGINT) AS x
      FROM b GROUP BY 1),
    w AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n1,
             MAX(CASE WHEN arm = 0 THEN x END) AS x1,
             MAX(CASE WHEN arm = 1 THEN n END) AS n2,
             MAX(CASE WHEN arm = 1 THEN x END) AS x2
      FROM g),
    z AS (
      SELECT n1, x1, n2, x2,
             CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS diff,
             sqrt(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                    * (1.0 - CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                    / CAST(n1 AS DOUBLE)
                  + CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE)
                    * (1.0 - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                    / CAST(n2 AS DOUBLE)) AS se
      FROM w)
    SELECT n1, x1, n2, x2,
           ROUND(diff, 6) AS diff,
           ROUND((diff + 0.01) / se, 6) AS z_lower,
           ROUND((0.01 - diff) / se, 6) AS z_upper,
           (diff + 0.01) / se >= 1.644854 AND (0.01 - diff) / se >= 1.644854
             AS equivalent
    FROM z
    """,
)
def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests): is the purchase rate
    of the two user-id-parity arms the SAME within a ±1pp margin? The
    inferential complement to stats_proportion_ztest — a non-significant
    difference test never proves similarity; TOST does: both one-sided
    z's against the margin must clear the 5% critical value. This is the
    A/B gate for "the cheaper variant is NOT worse" decisions.

    Determinism: two exact (n, x) cells; diff and the unpooled Welch-
    style standard error are one mirrored double tree (divisions + safe
    sqrt); the normal critical value 1.644854 is a PINNED literal (the
    stats_power_sample_size discipline — inverse-CDF transcendentals
    never evaluate in plans); verdict and both z's emitted, ROUND-6.

    Plan: one map-side-combined aggregate to 2 rows, then scalar algebra
    on a 1-row fold. Nothing else.
    """
    e = table(spark, sf_dir, "events")
    b = e.select(
        (F.col("user_id") % 2).cast("long").alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("hit"),
    )
    g = b.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("hit").cast("long").alias("x"),
    )
    w = g.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("x"))).alias("x1"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("arm") == 1, F.col("x"))).alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1").cast("double")
    p2 = F.col("x2").cast("double") / F.col("n2").cast("double")
    diff = p1 - p2
    se = F.sqrt(
        p1 * (F.lit(1.0) - p1) / F.col("n1").cast("double")
        + p2 * (F.lit(1.0) - p2) / F.col("n2").cast("double")
    )
    zlo = (diff + F.lit(0.01)) / se
    zhi = (F.lit(0.01) - diff) / se
    return w.select(
        "n1", "x1", "n2", "x2",
        F.round(diff, 6).alias("diff"),
        F.round(zlo, 6).alias("z_lower"),
        F.round(zhi, 6).alias("z_upper"),
        ((zlo >= F.lit(1.644854)) & (zhi >= F.lit(1.644854))).alias("equivalent"),
    )


@query(
    "stats_ab_srm_check",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN CAST(('0x' || substring(sha256('srm:'
                    || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  % 1073741824 * 2 < 1073741824
             THEN 0 ELSE 1 END AS arm,
             user_id
      FROM (SELECT DISTINCT user_id FROM events)),
    g AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1),
    w AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1
      FROM g)
    SELECT n0, n1,
           ROUND(CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
                 / CAST(n0 + n1 AS DOUBLE), 6) AS srm_chi2,
           CAST((n0 - n1) * (n0 - n1) AS DOUBLE)
             / CAST(n0 + n1 AS DOUBLE) > 3.841459 AS mismatch
    FROM w
    """,
)
def stats_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard — the FIRST check any A/B readout must
    pass (Kohavi's trustworthy-experiments rule: a 50/50 split that
    lands significantly off 50/50 means broken randomization or
    differential logging loss, and every downstream p-value is garbage).
    Users are bucketed by a salted sha-slice uniform (the production
    idiom: stable, stateless, independent of user_id arithmetic — unlike
    the parity arms in stats_tost_equivalence, which this op guards);
    the 1-dof goodness-of-fit chi2 against the expected even split is
    (n0-n1)^2/(n0+n1), flagged against the pinned 3.841459 critical
    value (chi2_{0.95,1} — pinned-literal discipline, no inverse-CDF in
    plans).

    Determinism: the bucket compares in pure integers (u*2 < 2^30);
    counts exact; the statistic is ONE division, ROUND-6; the verdict
    compares the unrounded double to the pinned literal identically.

    Plan: one distinct-user shuffle, one 2-row aggregate, scalar algebra.
    """
    e = table(spark, sf_dir, "events").select("user_id").distinct()
    u = (
        gram_key(F.concat(F.lit("srm:"), F.col("user_id").cast("string")))
        % F.lit(1073741824).cast("long")
    )
    b = e.select(F.when(u * 2 < F.lit(1073741824), 0).otherwise(1).alias("arm"))
    g = b.groupBy("arm").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = g.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
    )
    chi2 = ((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))).cast(
        "double"
    ) / (F.col("n0") + F.col("n1")).cast("double")
    return w.select(
        "n0",
        "n1",
        F.round(chi2, 6).alias("srm_chi2"),
        (chi2 > F.lit(3.841459)).alias("mismatch"),
    )


def _eval_pipeline_oracle() -> str:
    """Composed oracle: each stage's full oracle SQL embedded as a nested
    CTE (the stats_fdr_bh oracle-composition pattern — the oracle runs
    exactly what the engine composes, not a re-derivation)."""
    from wri_data_processing_spark.registry import ORACLE

    srm = ORACLE["stats_ab_srm_check"].strip()
    auc = ORACLE["stats_auc"].strip()
    cal = ORACLE["stats_calibration_bins"].strip()
    lift = ORACLE["stats_lift_gains"].strip()
    return f"""
    WITH srm AS ({srm}),
    auc AS ({auc}),
    cal AS ({cal}),
    lift AS ({lift})
    SELECT srm.srm_chi2, srm.mismatch AS srm_mismatch,
           auc.auc,
           (SELECT ROUND(MAX(ABS(mean_score - pos_rate)), 6) FROM cal)
             AS max_calibration_gap,
           (SELECT lift FROM lift WHERE decile = 9) AS lift_top_decile
    FROM srm, auc
    """


@query("model_eval_pipeline", oracle=_eval_pipeline_oracle)
def model_eval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFTH composed flagship: the model-evaluation report — the one-row
    scorecard an eval pipeline publishes per scoring run, composed from
    four driver-green stages over the same scored population: (1) the
    sample-ratio-mismatch GATE (if randomization broke, stop reading),
    (2) ranking quality (exact Mann-Whitney AUC), (3) calibration
    honesty (max |mean_score - pos_rate| over the reliability deciles),
    (4) business yield (lift at the top decile). Composition follows the
    stats_fdr_bh contract: the ENGINE calls the registered ops and
    cross-joins their one-row outputs; the oracle embeds each op's exact
    oracle SQL as nested CTEs, so the pipeline is verified as the
    composition of already-verified parts.

    (The oracle is the callable _eval_pipeline_oracle, which
    registry.load_all calls once all four component oracles are
    registered.)

    Known answers on the sha-uniform stand-in score: AUC ~= 0.5,
    calibration gap ~= the base-rate band, lift ~= 1.0, SRM green —
    the uninformative-model fixed point every eval harness should
    reproduce before trusting itself on a real score column.

    Plan: four independent subplans (each 1-2 map-side-combined
    aggregates; the AUC's two-phase prefix sum is the only interesting
    one) joined by three 1-row broadcasts (whitelisted). At 100 TB the
    four stages share nothing but the scan — a real deployment fuses
    stages (2)-(4) onto one scored frame; the factored form keeps each
    stage independently driver-verified.
    """
    from wri_data_processing_spark.queries.llm_pipeline import stats_lift_gains

    srm = stats_ab_srm_check(spark, sf_dir).select(
        "srm_chi2", F.col("mismatch").alias("srm_mismatch")
    )
    auc = stats_auc(spark, sf_dir).select("auc")
    cal = stats_calibration_bins(spark, sf_dir).agg(
        F.round(F.max(F.abs(F.col("mean_score") - F.col("pos_rate"))), 6).alias(
            "max_calibration_gap"
        )
    )
    lift = (
        stats_lift_gains(spark, sf_dir)
        .filter(F.col("decile") == 9)
        .select(F.col("lift").alias("lift_top_decile"))
    )
    return (
        srm.crossJoin(F.broadcast(auc))
        .crossJoin(F.broadcast(cal))
        .crossJoin(F.broadcast(lift))
        .select(
            "srm_chi2", "srm_mismatch", "auc", "max_calibration_gap",
            "lift_top_decile",
        )
    )


@query(
    "stats_mann_kendall",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1),
    s AS (
      SELECT CAST(SUM(CASE WHEN b.n > a.n THEN 1
                           WHEN b.n < a.n THEN -1 ELSE 0 END) AS BIGINT) AS s
      FROM daily a JOIN daily b ON b.d > a.d),
    k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM daily),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tt
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY n)
      WHERE t > 1),
    v AS (
      SELECT s.s, k.k,
             (k.k * (k.k - 1) * (2 * k.k + 5) - ties.tt) AS v18
      FROM s, k, ties)
    SELECT s AS mk_s, k AS n_days,
           ROUND(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
                             / sqrt(CAST(v18 AS DOUBLE) / 18.0)
                      WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
                             / sqrt(CAST(v18 AS DOUBLE) / 18.0)
                      ELSE 0.0 END, 6) AS z
    FROM v
    """,
)
def stats_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily event-count series — the
    nonparametric "is traffic trending?" inference that PAIRS with
    stats_theil_sen: Theil-Sen estimates the slope, Mann-Kendall tests
    whether any monotone trend exists at all (S = sum of pairwise
    sign(later - earlier); no distributional assumption, ties handled
    by the standard variance correction).

    Determinism: S is an exact integer from the day-pair equi-range join
    (bounded by the CALENDAR squared, the stats_theil_sen contract —
    fixed cost at any corpus size); the tie-corrected variance
    18V = k(k-1)(2k+5) - sum t(t-1)(2t+5) stays integer; z applies the
    standard continuity correction with the identical
    (S-+1)/sqrt(V18/18) tree on both engines (safe sqrt), ROUND-6.

    Plan: one data-sized daily rollup, then calendar-bounded pair work
    and two scalar folds.
    """
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()
    )
    a = daily.select(F.col("d").alias("da"), F.col("n").alias("na"))
    b = daily.select(F.col("d").alias("db"), F.col("n").alias("nb"))
    s = (
        a.join(F.broadcast(b), F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("nb") > F.col("na"), 1)
                .when(F.col("nb") < F.col("na"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    k = daily.agg(F.count(F.lit(1)).cast("long").alias("k"))
    ties = (
        daily.groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            )
            .cast("long")
            .alias("tt")
        )
    )
    v = (
        s.crossJoin(F.broadcast(k))
        .crossJoin(F.broadcast(ties))
        .select(
            "s",
            "k",
            (
                F.col("k") * (F.col("k") - 1) * (2 * F.col("k") + 5) - F.col("tt")
            ).alias("v18"),
        )
    )
    den = F.sqrt(F.col("v18").cast("double") / F.lit(18.0))
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1).cast("double") / den)
        .when(F.col("s") < 0, (F.col("s") + 1).cast("double") / den)
        .otherwise(F.lit(0.0))
    )
    return v.select(
        F.col("s").alias("mk_s"), F.col("k").alias("n_days"), F.round(z, 6).alias("z")
    )


def _drift_report_oracle() -> str:
    """Composed oracle: the four drift detectors' exact oracle SQL as
    nested CTEs — the model_eval_pipeline composition contract applied
    to the monitoring side."""
    from wri_data_processing_spark.registry import ORACLE

    ks = ORACLE["stats_ks_test"].strip()
    psi = ORACLE["stats_psi"].strip()
    jsd = ORACLE["stats_jensen_shannon"].strip()
    chi2 = ORACLE["stats_chi2_independence"].strip()
    return f"""
    WITH ks AS ({ks}),
    psi AS ({psi}),
    jsd AS ({jsd}),
    chi2 AS ({chi2})
    SELECT ks.ks_d, psi.psi, jsd.jsd, chi2.chi2, chi2.dof,
           psi.psi >= 0.25 OR ks.ks_d >= 0.2 AS drifted
    FROM ks, psi, jsd, chi2
    """


@query("drift_report_pipeline", oracle=_drift_report_oracle)
def drift_report_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift scorecard — the monitoring twin of model_eval_pipeline's
    eval scorecard: one row a scheduler publishes per check interval,
    composing the four registered drift detectors over the same cohort
    pair (view vs click): exact KS sup-distance (continuous), binned PSI
    (the industry monitor with its standard 0.25 action threshold),
    Jensen-Shannon divergence (bounded symmetric categorical), and the
    chi-squared independence statistic with its dof. The `drifted` flag
    applies the textbook gates (PSI >= 0.25 or KS >= 0.2) so a pager can
    key on one boolean while the four statistics explain WHY.

    Composition contract (stats_fdr_bh / model_eval_pipeline): the
    engine cross-joins the registered components' one-row outputs; the
    oracle embeds each component's exact oracle SQL as nested CTEs,
    built by registry.load_all after all modules register.

    Plan: four independent subplans (the KS two-phase ECDF is the only
    data-ordered one) stitched by three 1-row broadcasts (whitelisted).
    """
    ks = stats_ks_test(spark, sf_dir).select("ks_d")
    psi = stats_psi(spark, sf_dir).select("psi")
    jsd = stats_jensen_shannon(spark, sf_dir).select("jsd")
    chi2 = stats_chi2_independence(spark, sf_dir).select("chi2", "dof")
    return (
        ks.crossJoin(F.broadcast(psi))
        .crossJoin(F.broadcast(jsd))
        .crossJoin(F.broadcast(chi2))
        .select(
            "ks_d", "psi", "jsd", "chi2", "dof",
            ((F.col("psi") >= 0.25) | (F.col("ks_d") >= 0.2)).alias("drifted"),
        )
    )


@query(
    "stats_qq_table",
    oracle="""
    WITH s AS (
      SELECT event_type AS cohort, value AS v
      FROM events
      WHERE event_type IN ('view', 'click') AND value IS NOT NULL),
    g AS (
      SELECT cohort, v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM s GROUP BY 1, 2),
    cw AS (
      SELECT cohort, v, cnt,
             SUM(cnt) OVER (PARTITION BY cohort
                            ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
      FROM g),
    n AS (SELECT cohort, CAST(SUM(cnt) AS BIGINT) AS n FROM g GROUP BY 1),
    ks AS (SELECT unnest(generate_series(1, 9)) AS k),
    q AS (
      SELECT cw.cohort, ks.k, MIN(cw.v) AS qv
      FROM cw JOIN n USING (cohort), ks
      WHERE 10 * cw.cum >= ks.k * n.n
      GROUP BY 1, 2)
    SELECT a.k AS decile, a.qv AS q_view, b.qv AS q_click,
           a.qv - b.qv AS qq_diff
    FROM q a JOIN q b ON a.k = b.k
    WHERE a.cohort = 'view' AND b.cohort = 'click'
    ORDER BY a.k
    """,
)
def stats_qq_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile table between the view and click value
    distributions at the nine deciles — the drift detector that
    LOCALIZES what stats_ks_test only sizes: the KS statistic says "the
    distributions differ by D"; the Q-Q diff column says WHERE (head,
    body, or tail) and in WHICH DIRECTION, which decides whether the
    fix is a cap, a rebucketing, or nothing.

    Exactness: type-1 (lower) quantiles — the k-th decile is the
    smallest value whose per-cohort cumulative count clears k*n/10,
    compared in PURE INTEGERS (10*cum >= k*n; no float thresholds, the
    stats_pr_curve discipline); values pass through untouched as the
    scan's doubles, and qq_diff is one subtraction of two such doubles.

    Plan: one (cohort, value) count, the grouped two-phase cumulative
    sum (per-cohort windows over global range buckets — no
    single-partition exchange), a bounded 9-row decile-frame broadcast
    (whitelisted, the events_acf shape), and a 9-row self-join.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click") & F.col("value").isNotNull()
    )
    g = e.groupBy(
        F.col("event_type").alias("cohort"), F.col("value").alias("v")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cw = _grouped_two_phase_cumsum(g, "cohort", "v", ["cnt"])
    n = g.groupBy("cohort").agg(F.sum("cnt").cast("long").alias("n"))
    ks = spark.range(1, 10).select(F.col("id").cast("long").alias("k"))
    q = (
        cw.join(F.broadcast(n), "cohort")
        .crossJoin(F.broadcast(ks))
        .filter(10 * F.col("cum_cnt") >= F.col("k") * F.col("n"))
        .groupBy("cohort", "k")
        .agg(F.min("v").alias("qv"))
    )
    a = q.filter(F.col("cohort") == "view").select(
        F.col("k").alias("decile"), F.col("qv").alias("q_view")
    )
    b = q.filter(F.col("cohort") == "click").select(
        F.col("k").alias("decile"), F.col("qv").alias("q_click")
    )
    return (
        a.join(b, "decile")
        .select(
            "decile", "q_view", "q_click",
            (F.col("q_view") - F.col("q_click")).alias("qq_diff"),
        )
        .orderBy("decile")
    )


def _effect_sizes_oracle() -> str:
    """Own exact moment CTEs + stats_mann_whitney's oracle embedded as a
    nested CTE for the rank-based component (the composition contract)."""
    from wri_data_processing_spark.registry import ORACLE

    mw = ORACLE["stats_mann_whitney"].strip()
    return f"""
    WITH s AS (
      SELECT CASE WHEN event_type = 'view' THEN 1 ELSE 2 END AS grp,
             CAST(value AS DECIMAL(18,6)) AS v
      FROM events
      WHERE event_type IN ('view', 'click') AND value IS NOT NULL),
    g AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(v) AS sv, SUM(v * v) AS qv
      FROM s GROUP BY 1),
    w AS (
      SELECT MAX(CASE WHEN grp = 1 THEN n END) AS n1,
             MAX(CASE WHEN grp = 1 THEN CAST(sv AS DOUBLE) END) AS s1,
             MAX(CASE WHEN grp = 1 THEN CAST(qv AS DOUBLE) END) AS q1,
             MAX(CASE WHEN grp = 2 THEN n END) AS n2,
             MAX(CASE WHEN grp = 2 THEN CAST(sv AS DOUBLE) END) AS s2,
             MAX(CASE WHEN grp = 2 THEN CAST(qv AS DOUBLE) END) AS q2
      FROM g),
    d AS (
      SELECT n1, n2,
             (s1 / n1 - s2 / n2)
               / sqrt(((q1 - s1 * s1 / n1) + (q2 - s2 * s2 / n2))
                      / CAST(n1 + n2 - 2 AS DOUBLE)) AS cohens_d
      FROM w),
    mw AS ({mw})
    SELECT d.n1, d.n2,
           ROUND(d.cohens_d, 6) AS cohens_d,
           ROUND(d.cohens_d
                 * (1.0 - 3.0 / CAST(4 * (d.n1 + d.n2) - 9 AS DOUBLE)), 6)
             AS hedges_g,
           ROUND(CAST(mw.u1_x2 AS DOUBLE)
                 / CAST(2 * d.n1 * d.n2 AS DOUBLE) * 2.0 - 1.0, 6)
             AS cliffs_delta
    FROM d, mw
    """


@query("stats_effect_sizes", oracle=_effect_sizes_oracle)
def stats_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The effect-size panel for the view-vs-click value comparison —
    what every significance test in this module deliberately omits: HOW
    BIG is the difference? Cohen's d (pooled-SD standardized mean gap),
    Hedges' g (the small-sample bias correction 1 - 3/(4N-9)), and
    Cliff's delta (the rank-based, outlier-immune P(X>Y) - P(X<Y),
    derived EXACTLY from stats_mann_whitney's doubled U: delta =
    u1_x2/(n1*n2) - 1). A z or t tells you the gap is real; these tell
    you whether anyone should care — the pair of numbers a decision memo
    actually quotes.

    Composition contract: the rank component CALLS the registered
    stats_mann_whitney (its doubled-U output is exact); the oracle
    embeds that op's exact SQL as a nested CTE next to its own
    moment CTEs.

    Determinism: moment sums are exact DECIMAL(18,6)/(38,12); d and g
    are one mirrored double tree each with safe sqrt; delta is one
    division of exact integers; all ROUND-6.

    Plan: one map-side-combined two-cohort moment fold, the MW subplan
    (two-phase rank sums), one 1-row broadcast stitch (whitelisted).
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click") & F.col("value").isNotNull()
    )
    s = e.select(
        F.when(F.col("event_type") == "view", 1).otherwise(2).alias("grp"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    g = s.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("qv"),
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("sv").cast("double"))).alias("s1"),
        F.max(F.when(F.col("grp") == 1, F.col("qv").cast("double"))).alias("q1"),
        F.max(F.when(F.col("grp") == 2, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == 2, F.col("sv").cast("double"))).alias("s2"),
        F.max(F.when(F.col("grp") == 2, F.col("qv").cast("double"))).alias("q2"),
    )
    d = (
        F.col("s1") / F.col("n1") - F.col("s2") / F.col("n2")
    ) / F.sqrt(
        (
            (F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1"))
            + (F.col("q2") - F.col("s2") * F.col("s2") / F.col("n2"))
        )
        / (F.col("n1") + F.col("n2") - 2).cast("double")
    )
    mw = stats_mann_whitney(spark, sf_dir).select("u1_x2")
    out = w.select("n1", "n2", d.alias("cohens_d")).crossJoin(F.broadcast(mw))
    return out.select(
        "n1",
        "n2",
        F.round(F.col("cohens_d"), 6).alias("cohens_d"),
        F.round(
            F.col("cohens_d")
            * (
                F.lit(1.0)
                - F.lit(3.0) / (4 * (F.col("n1") + F.col("n2")) - 9).cast("double")
            ),
            6,
        ).alias("hedges_g"),
        F.round(
            F.col("u1_x2").cast("double")
            / (2 * F.col("n1") * F.col("n2")).cast("double")
            * F.lit(2.0)
            - F.lit(1.0),
            6,
        ).alias("cliffs_delta"),
    )


def _daily_traffic_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared r10 frame: per-day event count and exact decimal revenue.

    The (traffic, revenue) daily pair is the canonical bivariate series the
    r10 association/agreement family (Kendall tau-b, Lin's CCC,
    Durbin-Watson) runs on: counts are exact BIGINTs, revenue sums in
    DECIMAL(18,6) so every downstream comparison/product is exact until
    the op's single closing division."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("rev"),
        )
        .localCheckpoint()
    )


_DAILY_TR_CTE = """
    daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS rev
      FROM events GROUP BY 1)
"""


@query(
    "stats_kendall_tau",
    oracle=f"""
    WITH {_DAILY_TR_CTE},
    pairs AS (
      SELECT a.n AS na, a.rev AS ra, b.n AS nb, b.rev AS rb
      FROM daily a JOIN daily b ON a.d < b.d),
    cls AS (
      SELECT
        CAST(SUM(CASE WHEN (na < nb AND ra < rb) OR (na > nb AND ra > rb)
                      THEN 1 ELSE 0 END) AS BIGINT) AS c,
        CAST(SUM(CASE WHEN (na < nb AND ra > rb) OR (na > nb AND ra < rb)
                      THEN 1 ELSE 0 END) AS BIGINT) AS disc,
        CAST(SUM(CASE WHEN na = nb AND ra != rb THEN 1 ELSE 0 END) AS BIGINT)
          AS tie_x,
        CAST(SUM(CASE WHEN ra = rb AND na != nb THEN 1 ELSE 0 END) AS BIGINT)
          AS tie_y,
        CAST(SUM(CASE WHEN na = nb AND ra = rb THEN 1 ELSE 0 END) AS BIGINT)
          AS tie_both,
        CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pairs)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           n_pairs, c AS concordant, disc AS discordant, tie_x, tie_y,
           tie_both,
           ROUND(CAST(c - disc AS DOUBLE)
                 / sqrt(CAST((c + disc + tie_y) AS DOUBLE)
                        * CAST((c + disc + tie_x) AS DOUBLE)), 6) AS tau_b
    FROM cls
    """,
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between daily traffic and daily
    revenue — the pairwise-concordance twin of stats_spearman: where
    Spearman correlates rank VALUES, tau counts how often the two series
    agree on the ORDER of any two days, with the b-correction discounting
    ties on either axis (traffic counts tie on 7 of 30 fixture days —
    probed — so the correction is genuinely exercised).

    Exactness: day-pair classification compares exact BIGINT counts and
    exact DECIMAL revenue sums, so concordant/discordant/tie tallies are
    exact integers; tau_b is ONE double division over one sqrt of an
    integer product (n0-n1)(n0-n2) expressed as (C+D+ty)(C+D+tx) —
    mirrored trees, safe transcendental, ROUND-6.

    Plan: one data-sized daily rollup, then the calendar-bounded day-pair
    range join (the stats_theil_sen / stats_mann_kendall shape — pair
    count is CALENDAR-squared, fixed at any corpus size) into one scalar
    fold plus a 1-row day-count broadcast.
    """
    daily = _daily_traffic_revenue(spark, sf_dir)
    a = daily.select(
        F.col("d").alias("da"), F.col("n").alias("na"), F.col("rev").alias("ra")
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("n").alias("nb"), F.col("rev").alias("rb")
    )
    p = a.join(b, F.col("da") < F.col("db"))
    na, nb, ra, rb = F.col("na"), F.col("nb"), F.col("ra"), F.col("rb")
    cls = p.agg(
        F.sum(
            F.when(((na < nb) & (ra < rb)) | ((na > nb) & (ra > rb)), 1).otherwise(0)
        )
        .cast("long")
        .alias("c"),
        F.sum(
            F.when(((na < nb) & (ra > rb)) | ((na > nb) & (ra < rb)), 1).otherwise(0)
        )
        .cast("long")
        .alias("disc"),
        F.sum(F.when((na == nb) & (ra != rb), 1).otherwise(0))
        .cast("long")
        .alias("tie_x"),
        F.sum(F.when((ra == rb) & (na != nb), 1).otherwise(0))
        .cast("long")
        .alias("tie_y"),
        F.sum(F.when((na == nb) & (ra == rb), 1).otherwise(0))
        .cast("long")
        .alias("tie_both"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    ndays = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    c, disc = F.col("c"), F.col("disc")
    return F.broadcast(ndays).crossJoin(cls).select(
        "n_days",
        "n_pairs",
        F.col("c").alias("concordant"),
        F.col("disc").alias("discordant"),
        "tie_x",
        "tie_y",
        "tie_both",
        F.round(
            (c - disc).cast("double")
            / F.sqrt(
                (c + disc + F.col("tie_y")).cast("double")
                * (c + disc + F.col("tie_x")).cast("double")
            ),
            6,
        ).alias("tau_b"),
    )


@query(
    "stats_ccc_lin",
    oracle=f"""
    WITH {_DAILY_TR_CTE},
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n) AS BIGINT) AS sx,
             CAST(SUM(n * n) AS BIGINT) AS sxx,
             SUM(rev) AS sy,
             SUM(rev * rev) AS syy,
             SUM(n * rev) AS sxy
      FROM daily),
    d AS (
      SELECT n, CAST(n AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) AS dx, CAST(sxx AS DOUBLE) AS dxx,
             CAST(sy AS DOUBLE) AS dy, CAST(syy AS DOUBLE) AS dyy,
             CAST(sxy AS DOUBLE) AS dxy
      FROM s)
    SELECT n AS n_days,
           ROUND((nd * dxy - dx * dy)
                 / sqrt((nd * dxx - dx * dx) * (nd * dyy - dy * dy)), 6)
             AS pearson_r,
           ROUND(2.0 * (nd * dxy - dx * dy)
                 / (nd * dxx - dx * dx + nd * dyy - dy * dy
                    + (dx - dy) * (dx - dy)), 6) AS ccc
    FROM d
    """,
)
def stats_ccc_lin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance correlation coefficient between daily traffic and
    daily revenue — agreement, not just association: Pearson r asks "do
    they move together?", CCC additionally penalizes scale and location
    mismatch (a series that tracks another at half the magnitude has
    r = 1 but CCC << 1), which is why method-comparison and
    forecast-vs-actual audits report CCC.

    Exactness: all six moment sums are exact (BIGINT counts,
    DECIMAL(18,6) revenue; products stay decimal); multiplying the
    classical formula through by n^2 gives CCC = 2(nSxy - SxSy) /
    (nSxx - Sx^2 + nSyy - Sy^2 + (Sx - Sy)^2) — integers/decimals into
    ONE double tree mirrored on both engines, ROUND-6. Pearson r rides
    along from the same sums (one sqrt, the safe transcendental).

    Plan: one map-side-combined daily rollup, one 1-row moment fold —
    no joins, no windows.
    """
    daily = _daily_traffic_revenue(spark, sf_dir)
    s = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n").cast("long").alias("sx"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sxx"),
        F.sum("rev").alias("sy"),
        F.sum(F.col("rev") * F.col("rev")).alias("syy"),
        F.sum(F.col("n") * F.col("rev")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    dx = F.col("sx").cast("double")
    dxx = F.col("sxx").cast("double")
    dy = F.col("sy").cast("double")
    dyy = F.col("syy").cast("double")
    dxy = F.col("sxy").cast("double")
    return s.select(
        F.col("n").alias("n_days"),
        F.round(
            (nd * dxy - dx * dy)
            / F.sqrt((nd * dxx - dx * dx) * (nd * dyy - dy * dy)),
            6,
        ).alias("pearson_r"),
        F.round(
            F.lit(2.0)
            * (nd * dxy - dx * dy)
            / (nd * dxx - dx * dx + nd * dyy - dy * dy + (dx - dy) * (dx - dy)),
            6,
        ).alias("ccc"),
    )


@query(
    "stats_jarque_bera",
    oracle=f"""{_MOMENT_CTES},
    sk AS (
      SELECT event_type, n, nd,
             ROUND(m3 / (m2 * sqrt(m2)), 6) AS s,
             ROUND(m4 / (m2 * m2) - 3.0, 6) AS k
      FROM m)
    SELECT event_type, n,
           ROUND(nd * (s * s / 6.0 + k * k / 24.0), 6) AS jb,
           nd * (s * s / 6.0 + k * k / 24.0) > 5.991465 AS normal_rejected
    FROM sk ORDER BY event_type
    """,
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per event type — the decision layer on
    top of stats_skewness_kurtosis: JB = n(S^2/6 + K^2/24) ~ chi2(2)
    under normality, so one number (and one pinned 95% quantile) answers
    the question every parametric test in this module silently assumes —
    "is this column normal enough?". The money-like value distribution
    is emphatically not, and the op says so with a test statistic
    instead of a shape eyeball.

    Exactness: stats_skewness_kurtosis's _shape_moments — exact
    centi-unit power sums (s3/s4 in DECIMAL(38,0)/HUGEINT), central
    moments from ONE mirrored double tree, m2^1.5 as m2*sqrt(m2), and
    the chi2(2) 95% critical value PINNED as the literal 5.991465
    (inverse-CDF transcendentals never evaluate in plans — the
    stats_power_sample_size discipline). ROUND-6 on the statistic; the
    boolean compares the UNrounded tree on both engines.

    Identity check (r11 fix): S = m3/m2^1.5 and K = m4/m2^2 - 3 — the
    scaled-sum n-powers cancel exactly (see stats_skewness_kurtosis);
    the previous extra sqrt(n)/n factors inflated JB by ~n^2-n^3 and
    made the 5.991465 gate vacuous (always true). Now pinned against an
    independent numpy computation in tests/test_stats_known_answers.py
    (ADVICE r10, high).

    Plan: one map-side-combined per-type aggregate, 5 output rows.
    """
    g, s, k = _shape_moments(spark, sf_dir)
    nd = F.col("n").cast("double")
    jb = nd * (s * s / F.lit(6.0) + k * k / F.lit(24.0))
    return g.select(
        "event_type",
        "n",
        F.round(jb, 6).alias("jb"),
        (jb > F.lit(5.991465)).alias("normal_rejected"),
    ).orderBy("event_type")


@query(
    "stats_mood_median",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS grp,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS ci
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
    vc AS (
      SELECT ci, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1),
    cum AS (
      SELECT ci, c,
             SUM(c) OVER (ORDER BY ci
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_c
      FROM vc),
    med AS (
      SELECT MIN(ci) AS m
      FROM cum, (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vc) t
      WHERE cum_c >= (t.n + 1) // 2),
    cells AS (
      SELECT
        CAST(SUM(CASE WHEN grp = 'a' AND ci >  med.m THEN 1 ELSE 0 END)
             AS BIGINT) AS a_above,
        CAST(SUM(CASE WHEN grp = 'a' AND ci <= med.m THEN 1 ELSE 0 END)
             AS BIGINT) AS a_below,
        CAST(SUM(CASE WHEN grp = 'b' AND ci >  med.m THEN 1 ELSE 0 END)
             AS BIGINT) AS b_above,
        CAST(SUM(CASE WHEN grp = 'b' AND ci <= med.m THEN 1 ELSE 0 END)
             AS BIGINT) AS b_below,
        MIN(med.m) AS m
      FROM s, med)
    SELECT CAST(m AS DOUBLE) / 100.0 AS pooled_median,
           a_above, a_below, b_above, b_below,
           ROUND(CAST(a_above + a_below + b_above + b_below AS DOUBLE)
                 * (CAST(a_above AS DOUBLE) * CAST(b_below AS DOUBLE)
                    - CAST(a_below AS DOUBLE) * CAST(b_above AS DOUBLE))
                 * (CAST(a_above AS DOUBLE) * CAST(b_below AS DOUBLE)
                    - CAST(a_below AS DOUBLE) * CAST(b_above AS DOUBLE))
                 / (CAST(a_above + a_below AS DOUBLE)
                    * CAST(b_above + b_below AS DOUBLE)
                    * CAST(a_above + b_above AS DOUBLE)
                    * CAST(a_below + b_below AS DOUBLE)), 6) AS chi2,
           CAST(a_above + a_below + b_above + b_below AS DOUBLE)
             * (CAST(a_above AS DOUBLE) * CAST(b_below AS DOUBLE)
                - CAST(a_below AS DOUBLE) * CAST(b_above AS DOUBLE))
             * (CAST(a_above AS DOUBLE) * CAST(b_below AS DOUBLE)
                - CAST(a_below AS DOUBLE) * CAST(b_above AS DOUBLE))
             / (CAST(a_above + a_below AS DOUBLE)
                * CAST(b_above + b_below AS DOUBLE)
                * CAST(a_above + b_above AS DOUBLE)
                * CAST(a_below + b_below AS DOUBLE)) > 3.841459
             AS medians_differ
    FROM cells
    """,
)
def stats_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: do purchase and click order values share a
    median? The coarsest — and most outlier-immune — two-sample location
    test: classify every row as above/at-or-below the POOLED median and
    chi2 the resulting 2x2 table. Where Mann-Whitney needs comparable
    shapes, Mood's only trusts the sign of (value - pooled median), the
    right screen for wildly heavy-tailed money columns.

    Exactness: the pooled lower median is the smallest centi-unit value
    whose cumulative count reaches ceil(n/2) — an exact integer rank off
    the distinct-value cumulative frame (the stats_quantiles_exact
    contract, no interpolation); the 2x2 cells are exact integers; the
    2x2 chi2 n(ad-bc)^2/((a+b)(c+d)(a+c)(b+d)) is ONE mirrored double
    tree, ROUND-6, gated against the PINNED chi2(1) 95% literal
    3.841459 (the stats_ab_srm_check constant).

    Plan: one distinct-value shuffle + two-phase prefix sums for the
    median, a 1-row median broadcast back over the scan (stats_ks_test
    shape), one cell fold.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isin("purchase", "click")
    )
    s = e.select(
        F.when(F.col("event_type") == "purchase", "a").otherwise("b").alias("grp"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("ci"),
    ).localCheckpoint()
    vc = s.groupBy("ci").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cum = _two_phase_cumsum(vc, "ci", ["c"])
    n = s.count()
    med = (
        cum.filter(F.col("cum_c") >= F.lit((n + 1) // 2))
        .agg(F.min("ci").alias("m"))
    )
    cells = F.broadcast(med).crossJoin(s).agg(
        F.sum(F.when((F.col("grp") == "a") & (F.col("ci") > F.col("m")), 1).otherwise(0))
        .cast("long")
        .alias("a_above"),
        F.sum(
            F.when((F.col("grp") == "a") & (F.col("ci") <= F.col("m")), 1).otherwise(0)
        )
        .cast("long")
        .alias("a_below"),
        F.sum(F.when((F.col("grp") == "b") & (F.col("ci") > F.col("m")), 1).otherwise(0))
        .cast("long")
        .alias("b_above"),
        F.sum(
            F.when((F.col("grp") == "b") & (F.col("ci") <= F.col("m")), 1).otherwise(0)
        )
        .cast("long")
        .alias("b_below"),
        F.min("m").alias("m"),
    )
    aa = F.col("a_above").cast("double")
    ab = F.col("a_below").cast("double")
    ba = F.col("b_above").cast("double")
    bb = F.col("b_below").cast("double")
    ntot = (F.col("a_above") + F.col("a_below") + F.col("b_above") + F.col("b_below")).cast(
        "double"
    )
    det = aa * bb - ab * ba
    chi2 = ntot * det * det / ((aa + ab) * (ba + bb) * (aa + ba) * (ab + bb))
    return cells.select(
        (F.col("m").cast("double") / F.lit(100.0)).alias("pooled_median"),
        "a_above",
        "a_below",
        "b_above",
        "b_below",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > F.lit(3.841459)).alias("medians_differ"),
    )


@query(
    "stats_hodges_lehmann",
    oracle="""
    WITH da AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    db AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_type = 'click' GROUP BY 1),
    diffs AS (
      SELECT a.n - b.n AS diff FROM da a, db b),
    vc AS (
      SELECT diff, CAST(COUNT(*) AS BIGINT) AS c FROM diffs GROUP BY 1),
    cum AS (
      SELECT diff, c,
             SUM(c) OVER (ORDER BY diff
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_c
      FROM vc),
    t AS (SELECT CAST(SUM(c) AS BIGINT) AS np FROM vc),
    lo AS (SELECT MIN(diff) AS v FROM cum, t WHERE cum_c >= (t.np + 1) // 2),
    hi AS (SELECT MIN(diff) AS v FROM cum, t WHERE cum_c >= t.np // 2 + 1)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM da) AS n_days_a,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM db) AS n_days_b,
           t.np AS n_pairs,
           (CAST(lo.v AS DOUBLE) + CAST(hi.v AS DOUBLE)) / 2.0 AS hl_shift
    FROM t, lo, hi
    """,
)
def stats_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann shift estimator between the purchase and click
    daily-count series — the ESTIMATE that pairs with Mann-Whitney's
    TEST (exactly as stats_theil_sen pairs with stats_mann_kendall):
    the median of all pairwise differences a_i - b_j is the
    distribution-free "how much higher does series A run?" number, with
    the estimator's 29% breakdown point instead of the mean-difference's
    zero.

    Exactness: daily counts are exact BIGINTs, so all |A| x |B| pairwise
    differences are exact integers; the median of the (even-size) pair
    multiset is the average of the two middle order statistics, each an
    exact integer rank off the distinct-difference cumulative frame —
    the only float is the final /2.0.

    Plan: two daily rollups (data-sized), a calendar-bounded |A| x |B|
    broadcast cross of the tiny per-day frames (the stats_theil_sen
    pair-cost contract), distinct-diff counts, and a bounded
    |diffs|^2/2 cumulative self-join — no single-partition window.
    """
    e = table(spark, sf_dir, "events")
    da = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    db = (
        e.filter(F.col("event_type") == "click")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    diffs = (
        da.select(F.col("n").alias("na"))
        .crossJoin(F.broadcast(db.select(F.col("n").alias("nb"))))
        .select((F.col("na") - F.col("nb")).alias("diff"))
    )
    vc = diffs.groupBy("diff").agg(F.count(F.lit(1)).cast("long").alias("c"))
    vc = vc.localCheckpoint()
    # bounded cumulative: |distinct diffs| is calendar-scale, so the
    # triangular self-join replaces any global-order window outright
    lo_ = vc.select(F.col("diff").alias("d2"), F.col("c").alias("c2"))
    cum = (
        vc.join(F.broadcast(lo_), F.col("d2") <= F.col("diff"))
        .groupBy("diff")
        .agg(F.sum("c2").cast("long").alias("cum_c"))
    )
    np_ = vc.agg(F.sum("c").cast("long").alias("np"))
    k_lo = F.broadcast(np_).crossJoin(cum).filter(
        F.col("cum_c") >= F.floor((F.col("np") + 1) / 2)
    ).agg(F.min("diff").alias("v_lo"))
    k_hi = F.broadcast(np_).crossJoin(cum).filter(
        F.col("cum_c") >= F.floor(F.col("np") / 2) + 1
    ).agg(F.min("diff").alias("v_hi"))
    na_days = da.agg(F.count(F.lit(1)).cast("long").alias("n_days_a"))
    nb_days = db.agg(F.count(F.lit(1)).cast("long").alias("n_days_b"))
    return (
        F.broadcast(na_days)
        .crossJoin(F.broadcast(nb_days))
        .crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(k_lo))
        .crossJoin(k_hi)
        .select(
            "n_days_a",
            "n_days_b",
            F.col("np").alias("n_pairs"),
            (
                (F.col("v_lo").cast("double") + F.col("v_hi").cast("double"))
                / F.lit(2.0)
            ).alias("hl_shift"),
        )
    )


@query(
    "stats_durbin_watson",
    oracle=f"""
    WITH {_DAILY_TR_CTE},
    dmin AS (SELECT MIN(d) AS d0 FROM daily),
    t AS (
      SELECT d, CAST(datediff('day', dmin.d0, d) AS BIGINT) AS t,
             rev, CAST(rev AS DOUBLE) AS y
      FROM daily, dmin),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS st,
             CAST(SUM(t * t) AS BIGINT) AS stt,
             CAST(SUM(rev) AS DOUBLE) AS sy,
             CAST(SUM(t * rev) AS DOUBLE) AS sty
      FROM t),
    co AS (
      SELECT n,
             (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                  - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b,
             CAST(st AS DOUBLE) AS std, sy, CAST(n AS DOUBLE) AS nd
      FROM m),
    res AS (
      SELECT t.d, t.y - (co.sy - co.b * co.std) / co.nd - co.b * t.t AS e
      FROM t, co),
    terms AS (
      SELECT CAST(SUM(CAST(floor(cur.e * cur.e * 1000000.0) AS BIGINT))
                  AS BIGINT) AS den_i,
             CAST(SUM(CASE WHEN prev.e IS NOT NULL THEN
                    CAST(floor((cur.e - prev.e) * (cur.e - prev.e)
                               * 1000000.0) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS num_i,
             CAST(COUNT(prev.e) AS BIGINT) AS n_lagged
      FROM res cur LEFT JOIN res prev ON cur.d = prev.d + INTERVAL 1 DAY)
    SELECT (SELECT n FROM m) AS n_days, n_lagged,
           ROUND(CAST(num_i AS DOUBLE) / CAST(den_i AS DOUBLE), 6) AS dw
    FROM terms
    """,
)
def stats_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson autocorrelation statistic on the residuals of the
    daily-revenue-vs-time OLS — the regression-diagnostics sibling of
    events_acf: after stats_linear_regression removes the trend, DW =
    sum (e_t - e_t-1)^2 / sum e_t^2 in [0,4] says whether what remains
    is serially correlated (DW << 2), the assumption check behind every
    time-indexed regression this module fits.

    Exactness: OLS coefficients come from exact integer/DECIMAL moment
    sums — sy and t*y fold as DECIMAL(38,6) and cast to double only after
    the fold (r11 fix: the previous double-summed sy/sty were
    order-dependent, a latent cross-engine ULP flake under the floor
    scaling below) — via one mirrored double tree; residuals are then
    deterministic doubles per day. The two quadratic-form sums are made
    order-independent by FLOOR-scaling each nonnegative term to micro
    units (floor(x*1e6) of a bit-identical double is exact on both
    engines, no ROUND-midpoint hazard) and summing the resulting
    BIGINTs; DW closes with one division, ROUND-6. The lag pairs come
    from an observed-day adjacency join (d = prev + 1 day; fixture
    series is daily-complete, probed 30/30 days) — the events_acf
    join-based shift, no window.

    Plan: one daily rollup, a 1-row OLS-coefficient broadcast back over
    the 30-row frame (stream_watermark shape), one adjacency self-join,
    one scalar fold.
    """
    daily = _daily_traffic_revenue(spark, sf_dir)
    dmin = daily.agg(F.min("d").alias("d0"))
    t = (
        F.broadcast(dmin)
        .crossJoin(daily)
        .select(
            "d",
            F.datediff("d", "d0").cast("long").alias("t"),
            F.col("rev"),
            F.col("rev").cast("double").alias("y"),
        )
    )
    # sy/sty fold in DECIMAL (t is an exact integer, so t*rev stays decimal)
    # and cast to double only AFTER the fold — double summation is
    # order-dependent in Spark and floor(e^2*1e6) would amplify a last-ULP
    # difference into an off-by-one num_i/den_i (ADVICE r10; the
    # _daily_traffic_revenue / stats_ccc_lin discipline).
    m = t.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum("rev").cast("double").alias("sy"),
        F.sum(F.col("t") * F.col("rev")).cast("double").alias("sty"),
    )
    nd = F.col("n").cast("double")
    std_ = F.col("st").cast("double")
    sttd = F.col("stt").cast("double")
    b = (nd * F.col("sty") - std_ * F.col("sy")) / (nd * sttd - std_ * std_)
    co = m.select(
        F.col("n"),
        b.alias("b"),
        std_.alias("std"),
        F.col("sy"),
        nd.alias("nd"),
    )
    res = (
        F.broadcast(co)
        .crossJoin(t)
        .select(
            "d",
            (
                F.col("y")
                - (F.col("sy") - F.col("b") * F.col("std")) / F.col("nd")
                - F.col("b") * F.col("t")
            ).alias("e"),
        )
        .localCheckpoint()
    )
    prev = res.select(F.col("d").alias("dp"), F.col("e").alias("ep"))
    j = res.join(prev, F.col("d") == F.date_add(F.col("dp"), 1), "left")
    terms = j.agg(
        F.sum(F.floor(F.col("e") * F.col("e") * F.lit(1000000.0)).cast("long"))
        .cast("long")
        .alias("den_i"),
        F.sum(
            F.when(
                F.col("ep").isNotNull(),
                F.floor(
                    (F.col("e") - F.col("ep"))
                    * (F.col("e") - F.col("ep"))
                    * F.lit(1000000.0)
                ).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("num_i"),
        F.count("ep").cast("long").alias("n_lagged"),
    )
    ndays = res.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        F.broadcast(ndays)
        .crossJoin(terms)
        .select(
            "n_days",
            "n_lagged",
            F.round(
                F.col("num_i").cast("double") / F.col("den_i").cast("double"), 6
            ).alias("dw"),
        )
    )


@query(
    "stats_cronbach_alpha",
    oracle="""
    WITH dmin AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    uw AS (
      SELECT user_id,
             datediff('day', dmin.d0, CAST(ts AS DATE)) // 7 AS w,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events, dmin
      WHERE datediff('day', dmin.d0, CAST(ts AS DATE)) // 7 < 4
      GROUP BY 1, 2),
    items AS (
      SELECT CAST(SUM(sxx) AS BIGINT) AS sum_sxx,
             CAST(SUM(sx * sx) AS BIGINT) AS sum_sx2
      FROM (SELECT w, CAST(SUM(c) AS BIGINT) AS sx,
                   CAST(SUM(c * c) AS BIGINT) AS sxx
            FROM uw GROUP BY 1)),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(tt * tt) AS BIGINT) AS stt,
             CAST(SUM(tt) AS BIGINT) AS st
      FROM (SELECT user_id, CAST(SUM(c) AS BIGINT) AS tt
            FROM uw GROUP BY 1))
    SELECT tot.n_users, CAST(4 AS BIGINT) AS k_items,
           ROUND((4.0 / 3.0)
                 * (1.0 - CAST(tot.n_users * items.sum_sxx - items.sum_sx2
                               AS DOUBLE)
                        / CAST(tot.n_users * tot.stt - tot.st * tot.st
                               AS DOUBLE)), 6) AS alpha
    FROM items, tot
    """,
)
def stats_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the user x week activity matrix — internal
    consistency of a 4-item "engagement scale" where item w = a user's
    event count in week w: the metric-reliability question ("do the
    weekly readings measure one stable trait?") every composite
    engagement score should answer before anyone ranks users by it.
    Positive alpha here means persistent heavy/light users; zero means
    weekly counts are independent noise.

    Exactness: with N = all users active in the 28-day window (absent
    user-weeks contribute 0 to every sum, so sparse per-(user, week)
    counts ARE the dense matrix), alpha = k/(k-1) * (1 -
    (N*sum_w Sxx_w - sum_w Sx_w^2) / (N*Stt - St^2)) — the N(N-1)
    variance denominators cancel, leaving exact BIGINT sums into ONE
    double division, ROUND-6.

    Plan: one (user, week) rollup, two bounded re-aggregations (4 item
    rows, N user rows), a 1-row x 1-row join. The min-date scalar
    broadcasts over the scan (stream_watermark shape).
    """
    e = table(spark, sf_dir, "events")
    dmin = e.agg(F.min(F.to_date("ts")).alias("d0"))
    uw = (
        F.broadcast(dmin)
        .crossJoin(e)
        .select(
            "user_id",
            F.floor(F.datediff(F.to_date("ts"), F.col("d0")) / 7).alias("w"),
        )
        .filter(F.col("w") < 4)
        .groupBy("user_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    items = (
        uw.groupBy("w")
        .agg(
            F.sum("c").cast("long").alias("sx"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("sxx"),
        )
        .agg(
            F.sum("sxx").cast("long").alias("sum_sxx"),
            F.sum(F.col("sx") * F.col("sx")).cast("long").alias("sum_sx2"),
        )
    )
    tot = (
        uw.groupBy("user_id")
        .agg(F.sum("c").cast("long").alias("tt"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(F.col("tt") * F.col("tt")).cast("long").alias("stt"),
            F.sum("tt").cast("long").alias("st"),
        )
    )
    num = (F.col("n_users") * F.col("sum_sxx") - F.col("sum_sx2")).cast("double")
    den = (F.col("n_users") * F.col("stt") - F.col("st") * F.col("st")).cast("double")
    return (
        F.broadcast(items)
        .crossJoin(tot)
        .select(
            "n_users",
            F.lit(4).cast("long").alias("k_items"),
            F.round(
                (F.lit(4.0) / F.lit(3.0)) * (F.lit(1.0) - num / den), 6
            ).alias("alpha"),
        )
    )


@query(
    "stats_cvm",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN event_type = 'view' THEN 'a' ELSE 'b' END AS g,
             value AS v
      FROM events
      WHERE event_type IN ('view', 'click') AND value IS NOT NULL),
    gv AS (
      SELECT v,
             CAST(SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM s GROUP BY 1),
    cw AS (
      SELECT v, na, nb,
             SUM(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
             SUM(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
      FROM gv),
    t AS (
      SELECT na, nb,
             2 * (ca + cb - na - nb) + (na + nb) + 1 AS bigr,
             ca - na AS offa, cb - nb AS offb
      FROM cw),
    f AS (
      SELECT CAST(SUM(na) AS BIGINT) AS n,
             CAST(SUM(nb) AS BIGINT) AS m,
             SUM(CASE WHEN na > 0 THEN
               6 * CAST(na AS HUGEINT) * bigr * bigr
               - 24 * CAST(bigr AS HUGEINT)
                 * (na * offa + na * (na + 1) // 2)
               + 4 * (CAST(offa + na AS HUGEINT) * (offa + na + 1)
                        * (2 * (offa + na) + 1)
                      - CAST(offa AS HUGEINT) * (offa + 1) * (2 * offa + 1))
               ELSE 0 END) AS six_sa2,
             SUM(CASE WHEN nb > 0 THEN
               6 * CAST(nb AS HUGEINT) * bigr * bigr
               - 24 * CAST(bigr AS HUGEINT)
                 * (nb * offb + nb * (nb + 1) // 2)
               + 4 * (CAST(offb + nb AS HUGEINT) * (offb + nb + 1)
                        * (2 * (offb + nb) + 1)
                      - CAST(offb AS HUGEINT) * (offb + 1) * (2 * offb + 1))
               ELSE 0 END) AS six_sb2
      FROM t)
    SELECT n AS n_view, m AS n_click,
           ROUND((CAST(n AS DOUBLE) * CAST(six_sa2 AS DOUBLE)
                  + CAST(m AS DOUBLE) * CAST(six_sb2 AS DOUBLE))
                 / (24.0 * CAST(n + m AS DOUBLE) * CAST(n AS DOUBLE)
                    * CAST(m AS DOUBLE))
                 - (4.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE) - 1.0)
                   / (6.0 * CAST(n + m AS DOUBLE)), 6) AS cvm_t,
           (CAST(n AS DOUBLE) * CAST(six_sa2 AS DOUBLE)
                  + CAST(m AS DOUBLE) * CAST(six_sb2 AS DOUBLE))
                 / (24.0 * CAST(n + m AS DOUBLE) * CAST(n AS DOUBLE)
                    * CAST(m AS DOUBLE))
                 - (4.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE) - 1.0)
                   / (6.0 * CAST(n + m AS DOUBLE)) > 0.461 AS rejected
    FROM f
    """,
)
def stats_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises test between the view and click value
    distributions — the whole-distribution complement of stats_ks_test:
    KS reacts to the single worst ECDF gap, CvM integrates the SQUARED
    gap everywhere, so it catches broad mild drift KS under-weights (and
    vice versa); production drift suites run both. Anderson's rank form:
    T = U/(N n m) - (4nm - 1)/(6N), U = n SUM_i (r_i - i)^2
    + m SUM_j (s_j - j)^2 over each sample's (global midrank - within-
    sample index) pairs; reject at the pinned 5% asymptotic critical
    value 0.461.

    Exactness: midranks are half-integers so DOUBLED ranks are exact
    integers (the stats_auc discipline); for each distinct value the tie
    block's SUM (R - 2i)^2 expands in closed form — 6x-scaled so the /2
    and /6 of the index-sum identities stay integral — and accumulates
    in DECIMAL(38,0)/HUGEINT (per-value terms reach ~k (2N)^2: int64
    wraps at corpus scale). T closes in ONE mirrored double tree;
    ROUND-6; the boolean compares the unrounded tree.

    Plan: one distinct-value count, bucket-parallel two-phase prefix
    sums (no single-partition window), one 1-row fold.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click") & F.col("value").isNotNull()
    )
    gv = (
        e.select(
            F.when(F.col("event_type") == "view", "a").otherwise("b").alias("g"),
            F.col("value").alias("v"),
        )
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("g") == "a", 1).otherwise(0)).cast("long").alias("na"),
            F.sum(F.when(F.col("g") == "b", 1).otherwise(0)).cast("long").alias("nb"),
        )
    )
    cw = _two_phase_cumsum(gv, "v", ["na", "nb"])
    bigr = (
        2 * (F.col("cum_na") + F.col("cum_nb") - F.col("na") - F.col("nb"))
        + (F.col("na") + F.col("nb"))
        + 1
    )
    offa = F.col("cum_na") - F.col("na")
    offb = F.col("cum_nb") - F.col("nb")
    t = cw.select(
        "na",
        "nb",
        bigr.alias("bigr"),
        offa.alias("offa"),
        offb.alias("offb"),
    )

    def six_block(k: F.Column, off: F.Column) -> F.Column:
        kd = k.cast("decimal(38,0)")
        rd = F.col("bigr").cast("decimal(38,0)")
        offd = off.cast("decimal(38,0)")
        hi = offd + kd
        s1x2 = 2 * kd * offd + kd * (kd + 1)  # 2 * SUM i
        f2hi = hi * (hi + 1) * (2 * hi + 1)
        f2lo = offd * (offd + 1) * (2 * offd + 1)
        return F.when(
            k > 0,
            6 * kd * rd * rd - 12 * rd * s1x2 + 4 * (f2hi - f2lo),
        ).otherwise(F.lit(0).cast("decimal(38,0)"))

    f = t.agg(
        F.sum("na").cast("long").alias("n"),
        F.sum("nb").cast("long").alias("m"),
        F.sum(six_block(F.col("na"), F.col("offa"))).alias("six_sa2"),
        F.sum(six_block(F.col("nb"), F.col("offb"))).alias("six_sb2"),
    )
    nd = F.col("n").cast("double")
    md = F.col("m").cast("double")
    tstat = (
        nd * F.col("six_sa2").cast("double") + md * F.col("six_sb2").cast("double")
    ) / (F.lit(24.0) * (nd + md) * nd * md) - (
        F.lit(4.0) * nd * md - F.lit(1.0)
    ) / (F.lit(6.0) * (nd + md))
    return f.select(
        F.col("n").alias("n_view"),
        F.col("m").alias("n_click"),
        F.round(tstat, 6).alias("cvm_t"),
        (tstat > F.lit(0.461)).alias("rejected"),
    )


@query(
    "stats_friedman",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, event_type AS trt,
             SUM(CAST(value AS DECIMAL(18,6))) AS s
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    k_ AS (SELECT CAST(COUNT(DISTINCT trt) AS BIGINT) AS k FROM daily),
    complete AS (
      SELECT d FROM daily GROUP BY d
      HAVING COUNT(*) = (SELECT k FROM k_)),
    cells AS (SELECT daily.* FROM daily JOIN complete USING (d)),
    ranked AS (
      SELECT a.d, a.trt,
             2 * SUM(CASE WHEN b.s < a.s THEN 1 ELSE 0 END)
               + SUM(CASE WHEN b.s = a.s THEN 1 ELSE 0 END) + 1 AS r2
      FROM cells a JOIN cells b ON a.d = b.d
      GROUP BY 1, 2),
    colsums AS (
      SELECT trt, CAST(SUM(r2) AS BIGINT) AS rj2,
             CAST(SUM(CAST(r2 AS HUGEINT) * r2) AS HUGEINT) AS a2x4_part
      FROM ranked GROUP BY 1),
    f AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(rj2 AS HUGEINT) * rj2) AS HUGEINT) AS sum_rj2_sq,
             CAST(SUM(a2x4_part) AS HUGEINT) AS a2x4,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM complete) AS n
      FROM colsums)
    SELECT n AS n_blocks, k, k - 1 AS dof,
           ROUND(CAST(k - 1 AS DOUBLE)
                 * (CAST(sum_rj2_sq AS DOUBLE)
                    - CAST(n AS DOUBLE) * n * k * (k + 1) * (k + 1))
                 / (CAST(a2x4 AS DOUBLE)
                    - CAST(n AS DOUBLE) * k * (k + 1) * (k + 1)), 6)
             AS friedman_t,
           CAST(k - 1 AS DOUBLE)
                 * (CAST(sum_rj2_sq AS DOUBLE)
                    - CAST(n AS DOUBLE) * n * k * (k + 1) * (k + 1))
                 / (CAST(a2x4 AS DOUBLE)
                    - CAST(n AS DOUBLE) * k * (k + 1) * (k + 1)) > 9.487729
             AS rejected
    FROM f
    """,
)
def stats_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: do the k event types differ in daily revenue once
    the DAY is controlled for? — the k-sample paired complement of
    stats_kruskal_wallis (which ignores blocking) and the k-group
    extension of stats_wilcoxon_signed_rank: each day is a block, the k
    types are ranked WITHIN the day, and the statistic asks whether the
    mean ranks differ. Conover's tie-corrected form
    T = (k-1)(SUM_j R_j^2 - n^2 k(k+1)^2/4) / (SUM_ij r_ij^2 - nk(k+1)^2/4),
    chi2(k-1) under the null; the fixture's k=5 gives dof 4 and the
    PINNED 5% critical value 9.487729 (the stats_tost literal
    discipline). Incomplete blocks (days missing a type) are dropped —
    the textbook complete-block requirement, counted in n_blocks.

    Exactness: within-block midranks come from an exact decimal-compare
    self-join (2r = 2*cnt_less + cnt_eq + 1, the stats_auc doubling);
    4x-scaling makes numerator and denominator EXACT integers folded in
    DECIMAL(38,0)/HUGEINT, and T closes in one mirrored double tree.
    ROUND-6; the boolean compares the unrounded tree.

    Plan: one daily rollup, a per-day k x k self-join (k=5 — CALENDAR x 25
    rows, never data-sized), two bounded aggregations, one 1-row fold.
    """
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy(
        F.to_date("ts").alias("d"), F.col("event_type").alias("trt")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("s"))
    k_row = daily.agg(F.count_distinct("trt").cast("long").alias("k"))
    complete = (
        daily.groupBy("d")
        .agg(F.count(F.lit(1)).alias("ntypes"))
        .crossJoin(F.broadcast(k_row))
        .filter(F.col("ntypes") == F.col("k"))
        .select("d")
    )
    cells = daily.join(F.broadcast(complete), "d").localCheckpoint()
    a = cells.alias("a")
    b = cells.alias("b")
    ranked = (
        a.join(b, F.col("a.d") == F.col("b.d"))
        .groupBy(F.col("a.d").alias("d"), F.col("a.trt").alias("trt"))
        .agg(
            (
                2 * F.sum(F.when(F.col("b.s") < F.col("a.s"), 1).otherwise(0))
                + F.sum(F.when(F.col("b.s") == F.col("a.s"), 1).otherwise(0))
                + 1
            )
            .cast("long")
            .alias("r2")
        )
    )
    colsums = ranked.groupBy("trt").agg(
        F.sum("r2").cast("long").alias("rj2"),
        F.sum(F.col("r2").cast("decimal(38,0)") * F.col("r2")).alias("a2x4_part"),
    )
    nrow = complete.agg(F.count(F.lit(1)).cast("long").alias("n"))
    f = (
        colsums.agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum(F.col("rj2").cast("decimal(38,0)") * F.col("rj2")).alias(
                "sum_rj2_sq"
            ),
            F.sum("a2x4_part").alias("a2x4"),
        )
        .crossJoin(F.broadcast(nrow))
    )
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    kp1 = kd + F.lit(1.0)
    tstat = (
        (kd - F.lit(1.0))
        * (F.col("sum_rj2_sq").cast("double") - nd * nd * kd * kp1 * kp1)
        / (F.col("a2x4").cast("double") - nd * kd * kp1 * kp1)
    )
    return f.select(
        F.col("n").alias("n_blocks"),
        "k",
        (F.col("k") - 1).alias("dof"),
        F.round(tstat, 6).alias("friedman_t"),
        (tstat > F.lit(9.487729)).alias("rejected"),
    )


@query(
    "stats_cochran_q",
    oracle="""
    WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    b AS (
      SELECT user_id,
             datediff('day', d0.d0, CAST(ts AS DATE)) // 7 AS w,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
      FROM events, d0),
    rows_ AS (
      SELECT user_id,
             CAST(MAX(CASE WHEN w = 0 THEN hit ELSE 0 END) AS BIGINT) AS h0,
             CAST(MAX(CASE WHEN w = 1 THEN hit ELSE 0 END) AS BIGINT) AS h1,
             CAST(MAX(CASE WHEN w = 2 THEN hit ELSE 0 END) AS BIGINT) AS h2
      FROM b GROUP BY 1),
    f AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(h0) AS BIGINT) AS c0,
             CAST(SUM(h1) AS BIGINT) AS c1,
             CAST(SUM(h2) AS BIGINT) AS c2,
             CAST(SUM(h0 + h1 + h2) AS BIGINT) AS t,
             CAST(SUM((h0 + h1 + h2) * (h0 + h1 + h2)) AS BIGINT) AS sum_r_sq
      FROM rows_)
    SELECT n AS n_users, c0 AS hits_w0, c1 AS hits_w1, c2 AS hits_w2,
           ROUND(3.0 * 2.0
                 * (CAST(3 * (c0 * c0 + c1 * c1 + c2 * c2) AS DOUBLE)
                    - CAST(t * t AS DOUBLE)) / 3.0
                 / (CAST(3 * t AS DOUBLE) - CAST(sum_r_sq AS DOUBLE)), 6)
             AS cochran_q,
           3.0 * 2.0
                 * (CAST(3 * (c0 * c0 + c1 * c1 + c2 * c2) AS DOUBLE)
                    - CAST(t * t AS DOUBLE)) / 3.0
                 / (CAST(3 * t AS DOUBLE) - CAST(sum_r_sq AS DOUBLE)) > 5.991465
             AS rejected
    FROM f
    """,
)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q: did the per-user purchase PROPENSITY change across the
    first three calendar weeks? — the k-treatment extension of
    stats_mcnemar (k=2 Q reduces to McNemar without the correction) and
    the binary-outcome sibling of stats_friedman: blocks are USERS,
    treatments are weeks 0-2, outcomes are did-purchase-that-week bits.
    Q = k(k-1) SUM_j (C_j - T/k)^2 / (kT - SUM_i R_i^2) ~ chi2(k-1);
    k=3 gives dof 2 and the PINNED 5% critical value 5.991465. All-zero
    and all-one user rows contribute zero to both numerator and
    denominator (textbook invariance), so no row filter is needed.

    Exactness: every input is an exact 0/1 MAX-bit; column totals, T and
    SUM R_i^2 are exact BIGINTs (R_i <= 3 so the squared sum is ~9n —
    int64 clears any corpus); the k SUM_j (C_j - T/k)^2 term is computed
    4x...3x-scaled as (3 SUM C_j^2 - T^2)/3 to stay integral until ONE
    mirrored double tree. ROUND-6; boolean on the unrounded tree.

    Plan: one (user, week)-bit aggregate pivoted to 3 MAX bits per user
    (map-side combined), one 1-row fold. No joins beyond the 1-row
    min-date broadcast.
    """
    e = table(spark, sf_dir, "events")
    d0 = e.agg(F.min(F.to_date("ts")).alias("d0"))
    b = (
        F.broadcast(d0)
        .crossJoin(e)
        .select(
            "user_id",
            (F.datediff(F.to_date("ts"), F.col("d0")) / 7)
            .cast("long")
            .alias("w"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("hit"),
        )
    )
    rows_ = b.groupBy("user_id").agg(
        F.max(F.when(F.col("w") == 0, F.col("hit")).otherwise(0))
        .cast("long")
        .alias("h0"),
        F.max(F.when(F.col("w") == 1, F.col("hit")).otherwise(0))
        .cast("long")
        .alias("h1"),
        F.max(F.when(F.col("w") == 2, F.col("hit")).otherwise(0))
        .cast("long")
        .alias("h2"),
    )
    r = F.col("h0") + F.col("h1") + F.col("h2")
    f = rows_.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("h0").cast("long").alias("c0"),
        F.sum("h1").cast("long").alias("c1"),
        F.sum("h2").cast("long").alias("c2"),
        F.sum(r).cast("long").alias("t"),
        F.sum(r * r).cast("long").alias("sum_r_sq"),
    )
    csq = (
        3 * (F.col("c0") * F.col("c0") + F.col("c1") * F.col("c1") + F.col("c2") * F.col("c2"))
        - F.col("t") * F.col("t")
    ).cast("double")
    q = (
        F.lit(3.0)
        * F.lit(2.0)
        * (csq / F.lit(3.0))
        / ((3 * F.col("t")).cast("double") - F.col("sum_r_sq").cast("double"))
    )
    return f.select(
        F.col("n").alias("n_users"),
        F.col("c0").alias("hits_w0"),
        F.col("c1").alias("hits_w1"),
        F.col("c2").alias("hits_w2"),
        F.round(q, 6).alias("cochran_q"),
        (q > F.lit(5.991465)).alias("rejected"),
    )


def _fleiss_oracle() -> str:
    """Three deterministic raters per document: the labeled lang column,
    the text_lang_id marker heuristic, and a sha-noised copy of the label
    (1-in-8 flipped to 'en' — simulated annotator error)."""
    from wri_data_processing_spark.queries.llm_text import _PRED_SQL

    return f"""
    WITH r AS (
      SELECT doc_id, lang AS r1, {_PRED_SQL} AS r2,
             CASE WHEN CAST(('0x' || substring(sha256('fleiss:'
                       || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       % 8 = 0
                  THEN 'en' ELSE lang END AS r3
      FROM documents),
    nij AS (
      SELECT doc_id, cat, CAST(COUNT(*) AS BIGINT) AS nc
      FROM (SELECT doc_id, unnest([r1, r2, r3]) AS cat FROM r)
      GROUP BY 1, 2),
    f AS (
      SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n,
             CAST(SUM(nc * nc) AS BIGINT) AS sum_nij_sq
      FROM nij),
    cj AS (SELECT cat, CAST(SUM(nc) AS BIGINT) AS c FROM nij GROUP BY 1),
    pe AS (SELECT CAST(SUM(c * c) AS BIGINT) AS sum_cj_sq FROM cj),
    alg AS (
      SELECT n,
             (CAST(sum_nij_sq AS DOUBLE) - 3.0 * CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) * 6.0) AS p_bar,
             CAST(sum_cj_sq AS DOUBLE)
               / (CAST(n AS DOUBLE) * 3.0 * CAST(n AS DOUBLE) * 3.0) AS p_e
      FROM f, pe)
    SELECT n AS n_docs, CAST(3 AS BIGINT) AS n_raters,
           ROUND(p_bar, 6) AS p_bar,
           ROUND(p_e, 6) AS p_e,
           ROUND((p_bar - p_e) / (1.0 - p_e), 6) AS fleiss_kappa
    FROM alg
    """


@query("stats_fleiss_kappa", oracle=_fleiss_oracle())
def stats_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over THREE raters per document — the multi-rater
    generalization of stats_cohens_kappa (which stops at two): rater 1
    is the labeled lang column, rater 2 the engine's own text_lang_id
    heuristic, rater 3 a sha-noised copy of the label (1-in-8 flipped to
    'en', simulated annotator error). The chance-corrected agreement
    kappa = (P_bar - P_e)/(1 - P_e) with P_i = (SUM_j n_ij^2 - r)/(r(r-1))
    and P_e = SUM_j p_j^2 — the number an annotation-quality report
    quotes before trusting a labeling pipeline.

    Exactness: n_ij are exact category counts per item (r=3 raters);
    SUM n_ij^2 and the category totals fold as exact BIGINTs; P_bar and
    P_e are two divisions of exact integers and kappa one more — ONE
    mirrored double tree, ROUND-6.

    Plan: one per-(doc, category) count (map-side combined; <= 3 rows
    per doc), two bounded folds (1 row and |categories| rows), scalar
    algebra on a 1-row frame.
    """
    from wri_data_processing_spark.queries.llm_text import _marker_pred_col

    d = table(spark, sf_dir, "documents")
    noise = (
        gram_key(F.concat(F.lit("fleiss:"), F.col("doc_id").cast("string")))
        % 8
    )
    r = d.select(
        "doc_id",
        F.col("lang").alias("r1"),
        _marker_pred_col().alias("r2"),
        F.when(noise == 0, F.lit("en")).otherwise(F.col("lang")).alias("r3"),
    )
    nij = (
        r.select(
            "doc_id", F.explode(F.array("r1", "r2", "r3")).alias("cat")
        )
        .groupBy("doc_id", "cat")
        .agg(F.count(F.lit(1)).cast("long").alias("nc"))
        .localCheckpoint()  # feeds both folds
    )
    f = nij.agg(
        F.count_distinct("doc_id").cast("long").alias("n"),
        F.sum(F.col("nc") * F.col("nc")).cast("long").alias("sum_nij_sq"),
    )
    pe = (
        nij.groupBy("cat")
        .agg(F.sum("nc").cast("long").alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_cj_sq"))
    )
    alg = f.crossJoin(F.broadcast(pe))
    nd = F.col("n").cast("double")
    p_bar = (F.col("sum_nij_sq").cast("double") - F.lit(3.0) * nd) / (nd * F.lit(6.0))
    p_e = F.col("sum_cj_sq").cast("double") / (nd * F.lit(3.0) * nd * F.lit(3.0))
    return alg.select(
        F.col("n").alias("n_docs"),
        F.lit(3).cast("long").alias("n_raters"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        F.round((p_bar - p_e) / (F.lit(1.0) - p_e), 6).alias("fleiss_kappa"),
    )


@query(
    "stats_ljung_box",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
      FROM daily),
    den AS (
      SELECT CAST(SUM(CAST(tot.n * daily.x - tot.s AS HUGEINT)
                      * (tot.n * daily.x - tot.s)) AS HUGEINT) AS d_int
      FROM daily, tot),
    lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
    num AS (
      SELECT lags.lag,
             CAST(SUM(CAST(tot.n * a.x - tot.s AS HUGEINT)
                      * (tot.n * b.x - tot.s)) AS HUGEINT) AS n_int
      FROM daily a
      JOIN lags ON TRUE
      JOIN daily b ON b.d = a.d + CAST(lags.lag AS INTEGER) * INTERVAL 1 DAY
      CROSS JOIN tot
      GROUP BY 1),
    q AS (
      SELECT CAST(SUM(CAST(floor(
               (CAST(n_int AS DOUBLE) / CAST(den.d_int AS DOUBLE))
               * (CAST(n_int AS DOUBLE) / CAST(den.d_int AS DOUBLE))
               / CAST(tot.n - num.lag AS DOUBLE)
               * 1000000000000000.0) AS BIGINT)) AS BIGINT) AS srho_i
      FROM num, den, tot)
    SELECT tot.n AS n_days,
           ROUND(CAST(tot.n AS DOUBLE) * (CAST(tot.n AS DOUBLE) + 2.0)
                 * (CAST(q.srho_i AS DOUBLE) / 1000000000000000.0), 6)
             AS ljung_box_q,
           CAST(tot.n AS DOUBLE) * (CAST(tot.n AS DOUBLE) + 2.0)
             * (CAST(q.srho_i AS DOUBLE) / 1000000000000000.0)
             > 14.067140 AS autocorrelated
    FROM q, tot
    """,
)
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test at lags 1..7 over the daily event-count
    series — the DECISION layer on top of events_acf's profile (the ACF
    shows seven correlations; this answers "is the series white noise at
    all?", the gate before any forecast/CUSUM parameterization) and the
    multi-lag sibling of stats_durbin_watson's lag-1 residual check.
    Q = n(n+2) SUM_h rho_h^2/(n-h) ~ chi2(H) under the null; H=7 gives
    the PINNED 5% critical value 14.067140.

    Convention: textbook Ljung-Box ACF — GLOBAL mean centering and the
    FULL sum of squares in every lag's denominator (events_acf, by
    contrast, reports pairwise-complete Pearson per lag; the two differ
    at series edges, both stated).

    Exactness: scaling by n makes every centered term the exact integer
    n*x_t - S, so each lag's cross-sum and the shared denominator fold
    as exact DECIMAL(38,0)/HUGEINT; each rho_h is ONE exact-integer
    ratio, the 7 rho^2/(n-h) terms fold as floor-scaled femto-unit
    BIGINTs (order-independent), and Q closes in one mirrored double
    tree. ROUND-6; the boolean compares the unrounded tree.

    Plan: one daily rollup (localCheckpointed — three consumers), a
    bounded 7-row lag broadcast, one date equi-join (the events_acf
    join-based shift, no window), two 1-row folds.
    """
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint()
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    dj = daily.crossJoin(F.broadcast(tot))
    den = dj.agg(
        F.sum(
            (F.col("n") * F.col("x") - F.col("s")).cast("decimal(38,0)")
            * (F.col("n") * F.col("x") - F.col("s"))
        ).alias("d_int")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a = daily.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.expr("date_add(da, lag)"))
        .crossJoin(F.broadcast(tot))
        .groupBy("lag")
        .agg(
            F.sum(
                (F.col("n") * F.col("xa") - F.col("s")).cast("decimal(38,0)")
                * (F.col("n") * F.col("xb") - F.col("s"))
            ).alias("n_int")
        )
    )
    q = (
        num.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(tot))
        .agg(
            # floor-scaled femto-unit BIGINTs: the 7-term rho^2 fold is
            # order-independent by construction (house discipline)
            F.sum(
                F.floor(
                    (F.col("n_int").cast("double") / F.col("d_int").cast("double"))
                    * (F.col("n_int").cast("double") / F.col("d_int").cast("double"))
                    / (F.col("n") - F.col("lag")).cast("double")
                    * F.lit(1000000000000000.0)
                ).cast("long")
            )
            .cast("long")
            .alias("srho_i")
        )
    )
    alg = q.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    stat = nd * (nd + F.lit(2.0)) * (
        F.col("srho_i").cast("double") / F.lit(1000000000000000.0)
    )
    return alg.select(
        F.col("n").alias("n_days"),
        F.round(stat, 6).alias("ljung_box_q"),
        (stat > F.lit(14.067140)).alias("autocorrelated"),
    )


@query(
    "dq_outlier_iqr",
    oracle="""
    WITH s AS (
      SELECT event_type, value AS v FROM events WHERE value IS NOT NULL),
    g AS (
      SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM s GROUP BY 1, 2),
    cw AS (
      SELECT event_type, v, cnt,
             SUM(cnt) OVER (PARTITION BY event_type
                            ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
      FROM g),
    n_ AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM g GROUP BY 1),
    q AS (
      SELECT cw.event_type,
             MIN(CASE WHEN 4 * cw.cum >= 1 * n_.n THEN cw.v END) AS q1,
             MIN(CASE WHEN 4 * cw.cum >= 3 * n_.n THEN cw.v END) AS q3
      FROM cw JOIN n_ USING (event_type)
      GROUP BY 1),
    fences AS (
      SELECT event_type, q1, q3,
             q1 - 1.5 * (q3 - q1) AS lo,
             q3 + 1.5 * (q3 - q1) AS hi
      FROM q),
    f AS (
      SELECT s.event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN s.v < fences.lo OR s.v > fences.hi
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM s JOIN fences USING (event_type)
      GROUP BY 1)
    SELECT f.event_type, f.n,
           ROUND(fences.q1, 6) AS q1, ROUND(fences.q3, 6) AS q3,
           ROUND(fences.lo, 6) AS lo_fence, ROUND(fences.hi, 6) AS hi_fence,
           f.n_outliers
    FROM f JOIN fences USING (event_type)
    ORDER BY f.event_type
    """,
)
def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (1.5 x IQR) outlier audit per event type — the robust
    sibling completing the outlier family: events_zscore_outliers
    assumes normality, events_mad_outliers resists it with the median,
    this is the boxplot rule every data-quality dashboard draws. Exact
    type-1 quartiles (the stats_qq_table integer-threshold discipline:
    q_k = smallest v with 4*cum >= k*n), fences in one double tree, and
    the per-type outlier census.

    Exactness: quartiles are selected by PURE-INTEGER threshold
    comparisons on the per-type cumulative counts (no float quantile
    interpolation to disagree on); fences are one mirrored double tree
    over the two selected raw values; outlier counts are exact integers
    against the unrounded fences.

    Plan: one (type, value) count, grouped two-phase prefix sums (no
    single-partition window), a |types|-row fence broadcast joined back
    for the census — two passes over the data, both map-side combined.
    """
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select("event_type", F.col("value").alias("v")).localCheckpoint()
    g = s.groupBy("event_type", "v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cw = _grouped_two_phase_cumsum(g, "event_type", "v", ["cnt"])
    n_ = g.groupBy("event_type").agg(F.sum("cnt").cast("long").alias("n"))
    q = (
        cw.join(F.broadcast(n_), "event_type")
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(4 * F.col("cum_cnt") >= 1 * F.col("n"), F.col("v"))
            ).alias("q1"),
            F.min(
                F.when(4 * F.col("cum_cnt") >= 3 * F.col("n"), F.col("v"))
            ).alias("q3"),
        )
    )
    iqr = F.col("q3") - F.col("q1")
    fences = q.select(
        "event_type",
        "q1",
        "q3",
        (F.col("q1") - F.lit(1.5) * iqr).alias("lo"),
        (F.col("q3") + F.lit(1.5) * iqr).alias("hi"),
    ).localCheckpoint()
    f = (
        s.join(F.broadcast(fences), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when((F.col("v") < F.col("lo")) | (F.col("v") > F.col("hi")), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )
    return (
        f.join(F.broadcast(fences), "event_type")
        .select(
            "event_type",
            "n",
            F.round("q1", 6).alias("q1"),
            F.round("q3", 6).alias("q3"),
            F.round("lo", 6).alias("lo_fence"),
            F.round("hi", 6).alias("hi_fence"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


@query(
    "stats_odds_ratio",
    oracle="""
    WITH u AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS exposed,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
      FROM events),
    c AS (
      SELECT CAST(SUM(CASE WHEN exposed = 1 AND hit = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN exposed = 1 AND hit = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN exposed = 0 AND hit = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN exposed = 0 AND hit = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM u),
    alg AS (
      SELECT a, b, c, d,
             CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
               / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) AS orr,
             sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
                  + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE)) AS se
      FROM c)
    SELECT a, b, c, d,
           ROUND(orr, 6) AS odds_ratio,
           ROUND(exp(ln(orr) - 1.959964 * se), 6) AS or_lo95,
           ROUND(exp(ln(orr) + 1.959964 * se), 6) AS or_hi95,
           ROUND((CAST(a AS DOUBLE) / CAST(a + b AS DOUBLE))
                 / (CAST(c AS DOUBLE) / CAST(c + d AS DOUBLE)), 6)
             AS relative_risk,
           ln(orr) - 1.959964 * se > 0.0 OR ln(orr) + 1.959964 * se < 0.0
             AS significant
    FROM alg
    """,
)
def stats_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio and relative risk of an event being a purchase under
    the user-parity exposure split, with the Woolf 95% CI — the 2x2
    effect-size report stats_proportion_ztest's p-value can't replace (a
    significant z with OR 1.02 and a non-significant one with OR 3
    demand opposite decisions). OR = ad/bc, RR = risk ratio, CI =
    exp(ln OR ± z·SE), SE = sqrt(1/a + 1/b + 1/c + 1/d), z PINNED at
    1.959964. Cells are EVENT-level (probed: the user-level outcome is
    degenerate on this fixture — every user purchases, so b = d = 0 and
    the odds are undefined; event-level keeps all four cells live).

    Exactness: the 2x2 cells are exact integers; OR/RR/SE/CI are one mirrored double
    tree — ln, exp... exp IS evaluated here, the one transcendental pair
    probed to round-trip bit-identically when fed the identical double
    (exp(ln(orr) ± z·se) on both engines sees the same argument); the
    significance boolean compares the LOG-scale bounds against 0, never
    the exp'd values, so it is immune to exp ULP drift. ROUND-6.

    Plan: one 1-row map-side-combined 2x2 fold, scalar algebra.
    """
    e = table(spark, sf_dir, "events")
    u = e.select(
        (F.col("user_id") % 2).cast("long").alias("exposed"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("hit"),
    )
    cgrid = u.agg(
        F.sum(F.when((F.col("exposed") == 1) & (F.col("hit") == 1), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when((F.col("exposed") == 1) & (F.col("hit") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("exposed") == 0) & (F.col("hit") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("exposed") == 0) & (F.col("hit") == 0), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    ad, bd, cd_, dd = (F.col(x).cast("double") for x in ("a", "b", "c", "d"))
    orr = ad * dd / (bd * cd_)
    se = F.sqrt(1 / ad + 1 / bd + 1 / cd_ + 1 / dd)
    lo_log = F.log(orr) - F.lit(1.959964) * se
    hi_log = F.log(orr) + F.lit(1.959964) * se
    return cgrid.select(
        "a",
        "b",
        "c",
        "d",
        F.round(orr, 6).alias("odds_ratio"),
        F.round(F.exp(lo_log), 6).alias("or_lo95"),
        F.round(F.exp(hi_log), 6).alias("or_hi95"),
        F.round((ad / (ad + bd)) / (cd_ / (cd_ + dd)), 6).alias("relative_risk"),
        ((lo_log > F.lit(0.0)) | (hi_log < F.lit(0.0))).alias("significant"),
    )


@query(
    "stats_brunner_munzel",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN event_type = 'view' THEN 'a' ELSE 'b' END AS g,
             value AS v
      FROM events
      WHERE event_type IN ('view', 'click') AND value IS NOT NULL),
    gv AS (
      SELECT v,
             CAST(SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM s GROUP BY 1),
    cw AS (
      SELECT v, na, nb,
             SUM(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
             SUM(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
      FROM gv),
    t AS (
      SELECT na, nb,
             2 * (ca + cb - na - nb) + (na + nb) + 1 AS r2,
             2 * (ca - na) + na + 1 AS h2a,
             2 * (cb - nb) + nb + 1 AS h2b
      FROM cw),
    f AS (
      SELECT CAST(SUM(na) AS BIGINT) AS n,
             CAST(SUM(nb) AS BIGINT) AS m,
             CAST(SUM(CAST(na AS HUGEINT) * (r2 - h2a)) AS HUGEINT) AS sda,
             CAST(SUM(CAST(na AS HUGEINT) * (r2 - h2a) * (r2 - h2a))
                  AS HUGEINT) AS sda2,
             CAST(SUM(CAST(nb AS HUGEINT) * (r2 - h2b)) AS HUGEINT) AS sdb,
             CAST(SUM(CAST(nb AS HUGEINT) * (r2 - h2b) * (r2 - h2b))
                  AS HUGEINT) AS sdb2
      FROM t),
    alg AS (
      SELECT n, m,
             CAST(n AS DOUBLE) AS nd, CAST(m AS DOUBLE) AS md,
             CAST(sda AS DOUBLE) / 2.0 AS pa,
             CAST(sda2 AS DOUBLE) / 4.0 AS pa2,
             CAST(sdb AS DOUBLE) / 2.0 AS pb,
             CAST(sdb2 AS DOUBLE) / 4.0 AS pb2
      FROM f),
    z AS (
      SELECT n, m, nd, md,
             (pb / md - pa / nd) AS pdiff,
             (pa2 - pa * pa / nd) / (nd - 1.0) AS s2a,
             (pb2 - pb * pb / md) / (md - 1.0) AS s2b
      FROM alg)
    SELECT n AS n_view, m AS n_click,
           ROUND((pdiff + md) / (nd + md), 6) AS p_hat,
           ROUND(nd * md * (pdiff + (md - nd) / 2.0) / (nd + md)
                 / sqrt(nd * s2a + md * s2b), 6) AS w_bm,
           abs(nd * md * (pdiff + (md - nd) / 2.0) / (nd + md)
               / sqrt(nd * s2a + md * s2b)) > 1.959964 AS significant
    FROM z
    """,
)
def stats_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel test on the view-vs-click value distributions — the
    rank test to run when stats_mann_whitney's equal-variance assumption
    is itself in doubt (the Behrens-Fisher situation for ranks): it
    estimates p = P(A < B) + P(A = B)/2 directly and studentizes with
    EACH sample's own placement variance, so unequal spreads can't
    masquerade as location shifts. W = n m (Rbar_B - Rbar_A) / (N sqrt(n
    S_A^2 + m S_B^2)) with S_i^2 the sample variance of the placements
    R_ik - H_ik (global minus within-sample midrank); large-sample
    normal gate at the PINNED 1.959964 (stated convention — the
    small-sample t reference needs a data-dependent df).

    Exactness: doubled midranks make every placement (R2 - H2)/2 exact
    half-integers constant across each tie block, so the four placement
    moment sums fold as exact DECIMAL(38,0)/HUGEINT (the stats_cvm
    expansion discipline); p_hat and W close in ONE mirrored double
    tree. ROUND-6; the boolean compares the unrounded tree.

    Plan: the stats_cvm frame verbatim — one distinct-value count,
    two-phase prefix sums, one 1-row fold.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click") & F.col("value").isNotNull()
    )
    gv = (
        e.select(
            F.when(F.col("event_type") == "view", "a").otherwise("b").alias("g"),
            F.col("value").alias("v"),
        )
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("g") == "a", 1).otherwise(0)).cast("long").alias("na"),
            F.sum(F.when(F.col("g") == "b", 1).otherwise(0)).cast("long").alias("nb"),
        )
    )
    cw = _two_phase_cumsum(gv, "v", ["na", "nb"])
    r2 = (
        2 * (F.col("cum_na") + F.col("cum_nb") - F.col("na") - F.col("nb"))
        + (F.col("na") + F.col("nb"))
        + 1
    )
    h2a = 2 * (F.col("cum_na") - F.col("na")) + F.col("na") + 1
    h2b = 2 * (F.col("cum_nb") - F.col("nb")) + F.col("nb") + 1
    t = cw.select(
        "na", "nb", r2.alias("r2"), h2a.alias("h2a"), h2b.alias("h2b")
    )
    da = F.col("r2") - F.col("h2a")
    db_ = F.col("r2") - F.col("h2b")
    f = t.agg(
        F.sum("na").cast("long").alias("n"),
        F.sum("nb").cast("long").alias("m"),
        F.sum(F.col("na").cast("decimal(38,0)") * da).alias("sda"),
        F.sum(F.col("na").cast("decimal(38,0)") * da * da).alias("sda2"),
        F.sum(F.col("nb").cast("decimal(38,0)") * db_).alias("sdb"),
        F.sum(F.col("nb").cast("decimal(38,0)") * db_ * db_).alias("sdb2"),
    )
    nd = F.col("n").cast("double")
    md = F.col("m").cast("double")
    pa = F.col("sda").cast("double") / F.lit(2.0)
    pa2 = F.col("sda2").cast("double") / F.lit(4.0)
    pb = F.col("sdb").cast("double") / F.lit(2.0)
    pb2 = F.col("sdb2").cast("double") / F.lit(4.0)
    pdiff = pb / md - pa / nd  # placement-mean difference Pbar_B - Pbar_A
    s2a = (pa2 - pa * pa / nd) / (nd - F.lit(1.0))
    s2b = (pb2 - pb * pb / md) / (md - F.lit(1.0))
    # identities: Pbar_B = n*p_hat, Pbar_A = m*(1 - p_hat)  =>
    # p_hat = (pdiff + m)/N; Rbar_B - Rbar_A = pdiff + (m - n)/2
    p_hat = (pdiff + md) / (nd + md)
    w = (
        nd * md * (pdiff + (md - nd) / F.lit(2.0)) / (nd + md)
        / F.sqrt(nd * s2a + md * s2b)
    )
    return f.select(
        F.col("n").alias("n_view"),
        F.col("m").alias("n_click"),
        F.round(p_hat, 6).alias("p_hat"),
        F.round(w, 6).alias("w_bm"),
        (F.abs(w) > F.lit(1.959964)).alias("significant"),
    )


@query(
    "stats_bartlett",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS ci
      FROM events WHERE value IS NOT NULL),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ci) AS BIGINT) AS s1,
             CAST(SUM(ci * ci) AS BIGINT) AS s2
      FROM s GROUP BY 1),
    v AS (
      SELECT event_type, n,
             (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS s2i
      FROM g),
    f AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS ntot,
             CAST(SUM((n - 1) * CAST(floor(s2i) AS BIGINT)) AS HUGEINT)
               AS pooled_num_i,
             CAST(SUM(CAST(floor((CAST(n AS DOUBLE) - 1.0) * ln(s2i)
                                 * 1000000000000.0) AS BIGINT)) AS HUGEINT)
               AS sum_lnv_i,
             CAST(SUM(CAST(floor(1000000000000.0
                                 / (CAST(n AS DOUBLE) - 1.0)) AS BIGINT))
                  AS BIGINT) AS sum_inv_i,
             SUM((CAST(n AS DOUBLE) - 1.0) * s2i) AS pooled_num
      FROM v),
    alg AS (
      SELECT k, ntot,
             CAST(k - 1 AS DOUBLE) AS km1,
             CAST(ntot - k AS DOUBLE) AS nmk,
             CAST(pooled_num_i AS DOUBLE) / CAST(ntot - k AS DOUBLE) AS sp2,
             CAST(sum_lnv_i AS DOUBLE) / 1000000000000.0 AS sum_lnv,
             CAST(sum_inv_i AS DOUBLE) / 1000000000000.0 AS sum_inv
      FROM f)
    SELECT k, ntot AS n_total,
           ROUND((nmk * ln(sp2) - sum_lnv)
                 / (1.0 + (sum_inv - 1.0 / nmk) / (3.0 * km1)), 6)
             AS bartlett_t,
           (nmk * ln(sp2) - sum_lnv)
             / (1.0 + (sum_inv - 1.0 / nmk) / (3.0 * km1)) > 9.487729
             AS rejected
    FROM alg
    """,
)
def stats_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's variance-homogeneity test across the k event types —
    the NORMAL-theory counterpart of stats_levene_bf (Brown-Forsythe is
    what you run when normality is doubtful; Bartlett is sharper when
    stats_jarque_bera has already passed — together the three close the
    variance-assumption loop every ANOVA opens). T = [(N-k) ln Sp^2 -
    SUM (n_i-1) ln S_i^2] / C with Bartlett's C correction; chi2(k-1)
    under the null, k=5 gives the PINNED 9.487729.

    Exactness: group variances come from exact centi-unit integer power
    sums via one mirrored double tree; the two k-term folds that would
    be unordered double sums — SUM (n_i-1) ln S_i^2 and SUM 1/(n_i-1) —
    FLOOR-scale to pico-unit BIGINTs per group (order-independent, the
    stats_ljung_box discipline); the pooled numerator folds the floor'd
    integer variances exactly. One closing double tree, ROUND-6.
    The ln-fold ACCUMULATES in decimal(38,0) (r15: its pico terms grow
    LINEARLY with group size — ~3.5e18/group at 10x-sf0.1, so a long
    accumulator crosses int64 where DuckDB's SUM(BIGINT) silently
    widens to HUGEINT; caught by the 10x-synth sweep). Past 2^53 the
    decimal->double projection's 1-ULP is ~1e-16 relative on sum_lnv
    and absorbed by ROUND-6 on the statistic.

    Plan: one map-side-combined per-type power-sum aggregate (5 rows),
    one 1-row fold, scalar algebra.
    """
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ci = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    g = e.select("event_type", ci.alias("ci")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ci").cast("long").alias("s1"),
        F.sum(F.col("ci") * F.col("ci")).cast("long").alias("s2"),
    )
    nd = F.col("n").cast("double")
    s2i = (
        nd * F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
    ) / (nd * (nd - F.lit(1.0)))
    v = g.select("event_type", "n", s2i.alias("s2i"))
    f = v.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("ntot"),
        F.sum(
            (F.col("n") - 1).cast("decimal(38,0)")
            * F.floor(F.col("s2i")).cast("decimal(38,0)")
        ).alias("pooled_num_i"),
        # Each pico term is (n_i-1)*ln(S_i^2)*1e12 — LINEAR in the group
        # size, ~3.5e18 per group at 10x-sf0.1, so the five-term SUM must
        # accumulate in decimal(38,0): a long accumulator crosses int64 at
        # that scale (ANSI raise — caught by the r15 10x-synth sweep).
        # DuckDB's SUM(BIGINT) widens to HUGEINT implicitly; this is the
        # explicit mirror. The per-term floor->long stays: a SINGLE term
        # past int64 (n_i ~ 5e17 rows) is out of reach, and keeping it
        # pins term grain identical on both engines.
        F.sum(
            F.floor(
                (F.col("n").cast("double") - F.lit(1.0))
                * F.log("s2i")
                * F.lit(1000000000000.0)
            )
            .cast("long")
            .cast("decimal(38,0)")
        ).alias("sum_lnv_i"),
        F.sum(
            F.floor(
                F.lit(1000000000000.0) / (F.col("n").cast("double") - F.lit(1.0))
            ).cast("long")
        )
        .cast("long")
        .alias("sum_inv_i"),
    )
    km1 = (F.col("k") - 1).cast("double")
    nmk = (F.col("ntot") - F.col("k")).cast("double")
    sp2 = F.col("pooled_num_i").cast("double") / nmk
    sum_lnv = F.col("sum_lnv_i").cast("double") / F.lit(1000000000000.0)
    sum_inv = F.col("sum_inv_i").cast("double") / F.lit(1000000000000.0)
    tstat = (nmk * F.log(sp2) - sum_lnv) / (
        F.lit(1.0) + (sum_inv - F.lit(1.0) / nmk) / (F.lit(3.0) * km1)
    )
    return f.select(
        "k",
        F.col("ntot").alias("n_total"),
        F.round(tstat, 6).alias("bartlett_t"),
        (tstat > F.lit(9.487729)).alias("rejected"),
    )


# BH step-up z-thresholds for m=10 pairwise tests at family alpha 0.05:
# z*_i = invPhi(1 - 0.05*i/(2*10)) for rank i = 1..10, evaluated once at
# import from the stdlib NormalDist (the _DCG_W pinned-literal discipline;
# inverse-CDF transcendentals never evaluate in plans).
def _dunn_thresholds() -> list[float]:
    from statistics import NormalDist

    nd = NormalDist()
    return [round(nd.inv_cdf(1 - 0.05 * i / 20.0), 6) for i in range(1, 11)]


_DUNN_Z = _dunn_thresholds()


@query(
    "stats_dunn_posthoc",
    oracle=f"""
    WITH s AS (
      SELECT event_type, value AS v FROM events WHERE value IS NOT NULL),
    gt AS (
      SELECT v, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM s GROUP BY 1, 2),
    g AS (SELECT v, CAST(SUM(cnt) AS BIGINT) AS t FROM gt GROUP BY 1),
    cum AS (
      SELECT v, t,
             SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ct
      FROM g),
    r2 AS (SELECT v, 2 * (ct - t) + t + 1 AS r2 FROM cum),
    ranks AS (
      SELECT gt.event_type,
             CAST(SUM(CAST(gt.cnt AS HUGEINT) * r2.r2) AS HUGEINT) AS sr2,
             CAST(SUM(gt.cnt) AS BIGINT) AS n
      FROM gt JOIN r2 USING (v) GROUP BY 1),
    ties AS (
      SELECT CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tt,
             CAST(SUM(t) AS BIGINT) AS ntot
      FROM g),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             (CAST(a.sr2 AS DOUBLE) / (2.0 * CAST(a.n AS DOUBLE))
              - CAST(b.sr2 AS DOUBLE) / (2.0 * CAST(b.n AS DOUBLE)))
               / sqrt(((CAST(ntot AS DOUBLE) * (CAST(ntot AS DOUBLE) + 1.0)
                        * (CAST(ntot AS DOUBLE) - 1.0) - CAST(tt AS DOUBLE))
                       / (12.0 * (CAST(ntot AS DOUBLE) - 1.0)))
                      * (1.0 / CAST(a.n AS DOUBLE) + 1.0 / CAST(b.n AS DOUBLE)))
               AS z
      FROM ranks a JOIN ranks b ON a.event_type < b.event_type, ties),
    ranked AS (
      SELECT p.type_a, p.type_b, p.z,
             1 + CAST(SUM(CASE WHEN abs(q.z) > abs(p.z)
                               OR (abs(q.z) = abs(p.z)
                                   AND (q.type_a || '|' || q.type_b)
                                       < (p.type_a || '|' || p.type_b))
                          THEN 1 ELSE 0 END) AS BIGINT) AS rnk
      FROM pairs p, pairs q
      GROUP BY 1, 2, 3),
    flags AS (
      SELECT *, abs(z) >= ([{", ".join(str(z) for z in _DUNN_Z)}])[rnk] AS flag
      FROM ranked),
    sig AS (
      SELECT f.type_a, f.type_b, f.z, f.rnk,
             MAX(CASE WHEN g2.rnk >= f.rnk AND g2.flag THEN 1 ELSE 0 END) = 1
               AS significant
      FROM flags f, flags g2
      GROUP BY 1, 2, 3, 4)
    SELECT type_a, type_b, ROUND(z, 6) AS z_dunn, rnk AS bh_rank, significant
    FROM sig ORDER BY type_a, type_b
    """,
)
def stats_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons after Kruskal-Wallis, with
    Benjamini-Hochberg step-up over the 10 type pairs — the answer to
    the question the omnibus test leaves open: stats_kruskal_wallis says
    "SOME type differs in value distribution"; this says WHICH PAIRS,
    with the multiplicity control stats_fdr_bh applies to p-values done
    here in z-space (p = 2(1-Phi(|z|)) is monotone in |z|, so BH's
    p_(i) <= i*alpha/m is EXACTLY |z|_(i) >= z*_i with the ten z*
    thresholds PINNED at import from the stdlib inverse normal — no
    CDF ever evaluates in a plan).

    Exactness: rank sums use the doubled-midrank machinery (exact
    DECIMAL(38,0)/HUGEINT weighted sums off the distinct-value frame);
    the tie term SUM(t^3 - t) and N are exact integers; each z is ONE
    mirrored double tree. The BH rank comes from a 10x10 triangular
    self-join on (|z|, pair-key) — a total order, NO global window
    (dodging the single-partition exchange a 10-row rank would
    otherwise cost); step-up resolves with a second bounded self-join.
    ROUND-6 on z; booleans compare unrounded.

    Plan: one distinct-value count + two-phase prefix sums (shared with
    stats_cvm), one |types|-row rank-sum rollup, then k(k-1)/2 = 10-row
    algebra — everything after the rollup is constant-size.
    """
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = e.select("event_type", F.col("value").alias("v"))
    gt = s.groupBy("v", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).localCheckpoint()
    g = gt.groupBy("v").agg(F.sum("cnt").cast("long").alias("t"))
    cum = _two_phase_cumsum(g, "v", ["t"])
    r2f = cum.select(
        "v", (2 * (F.col("cum_t") - F.col("t")) + F.col("t") + 1).alias("r2")
    )
    ranks = (
        gt.join(r2f, "v")
        .groupBy("event_type")
        .agg(
            F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("r2")).alias("sr2"),
            F.sum("cnt").cast("long").alias("n"),
        )
        .localCheckpoint()
    )
    ties = cum.agg(
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tt"),
        F.sum("t").cast("long").alias("ntot"),
    )
    a = ranks.select(
        F.col("event_type").alias("type_a"),
        F.col("sr2").alias("sra"),
        F.col("n").alias("na"),
    )
    b = ranks.select(
        F.col("event_type").alias("type_b"),
        F.col("sr2").alias("srb"),
        F.col("n").alias("nb"),
    )
    ntd = F.col("ntot").cast("double")
    av = (ntd * (ntd + 1) * (ntd - 1) - F.col("tt").cast("double")) / (
        F.lit(12.0) * (ntd - 1)
    )
    z = (
        F.col("sra").cast("double") / (F.lit(2.0) * F.col("na").cast("double"))
        - F.col("srb").cast("double") / (F.lit(2.0) * F.col("nb").cast("double"))
    ) / F.sqrt(av * (1 / F.col("na").cast("double") + 1 / F.col("nb").cast("double")))
    pairs = (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .crossJoin(F.broadcast(ties))
        .select("type_a", "type_b", z.alias("z"))
        .localCheckpoint()  # 10 rows; feeds two bounded self-joins
    )
    q = pairs.select(
        F.col("type_a").alias("qa"), F.col("type_b").alias("qb"), F.col("z").alias("qz")
    )
    key = F.concat(F.col("type_a"), F.lit("|"), F.col("type_b"))
    qkey = F.concat(F.col("qa"), F.lit("|"), F.col("qb"))
    ranked = (
        pairs.crossJoin(q)
        .groupBy("type_a", "type_b", "z")
        .agg(
            (
                1
                + F.sum(
                    F.when(
                        (F.abs(F.col("qz")) > F.abs(F.col("z")))
                        | (
                            (F.abs(F.col("qz")) == F.abs(F.col("z")))
                            & (qkey < key)
                        ),
                        1,
                    ).otherwise(0)
                )
            )
            .cast("long")
            .alias("rnk")
        )
    )
    thresh = F.element_at(
        F.array(*[F.lit(t) for t in _DUNN_Z]), F.col("rnk").cast("int")
    )
    flags = ranked.select(
        "type_a", "type_b", "z", "rnk", (F.abs(F.col("z")) >= thresh).alias("flag")
    ).localCheckpoint()
    g2 = flags.select(F.col("rnk").alias("r2k"), F.col("flag").alias("f2"))
    sig = (
        flags.crossJoin(g2)
        .groupBy("type_a", "type_b", "z", "rnk")
        .agg(
            (
                F.max(
                    F.when((F.col("r2k") >= F.col("rnk")) & F.col("f2"), 1).otherwise(0)
                )
                == 1
            ).alias("significant")
        )
    )
    return sig.select(
        "type_a",
        "type_b",
        F.round("z", 6).alias("z_dunn"),
        F.col("rnk").alias("bh_rank"),
        "significant",
    ).orderBy("type_a", "type_b")


@query(
    "stats_wilson_ci",
    oracle="""
    WITH c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM events),
    alg AS (
      SELECT n, x,
             CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
             1.959964 * 1.959964 AS z2,
             CAST(n AS DOUBLE) AS nd
      FROM c)
    SELECT n, x, ROUND(p, 6) AS p_hat,
           ROUND((p + z2 / (2.0 * nd)
                  - 1.959964 * sqrt(p * (1.0 - p) / nd
                                    + z2 / (4.0 * nd * nd)))
                 / (1.0 + z2 / nd), 6) AS wilson_lo95,
           ROUND((p + z2 / (2.0 * nd)
                  + 1.959964 * sqrt(p * (1.0 - p) / nd
                                    + z2 / (4.0 * nd * nd)))
                 / (1.0 + z2 / nd), 6) AS wilson_hi95,
           ROUND(p - 1.959964 * sqrt(p * (1.0 - p) / nd), 6) AS wald_lo95,
           ROUND(p + 1.959964 * sqrt(p * (1.0 - p) / nd), 6) AS wald_hi95
    FROM alg
    """,
)
def stats_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% interval for the purchase-rate proportion — the
    CI every conversion report should quote instead of the Wald interval
    it usually quotes (Wald collapses to zero width at p near 0/1 and
    undercovers badly below n~100; Wilson inverts the score test and
    stays calibrated). Both intervals are emitted so the comparison IS
    the lesson; pairs with stats_proportion_ztest (the test this CI
    inverts) and stats_odds_ratio (the 2x2 effect).

    Exactness: (n, x) are exact integers; both intervals are ONE
    mirrored double tree each (safe sqrt, PINNED z = 1.959964, z^2 as
    the literal product). ROUND-6.

    Plan: one map-side-combined 1-row fold, scalar algebra. Nothing
    else.
    """
    e = table(spark, sf_dir, "events")
    c = e.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    nd = F.col("n").cast("double")
    p = F.col("x").cast("double") / nd
    z = F.lit(1.959964)
    z2 = z * z
    half = z * F.sqrt(p * (F.lit(1.0) - p) / nd + z2 / (F.lit(4.0) * nd * nd))
    denom = F.lit(1.0) + z2 / nd
    center = p + z2 / (F.lit(2.0) * nd)
    wald_half = z * F.sqrt(p * (F.lit(1.0) - p) / nd)
    return c.select(
        "n",
        "x",
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("wilson_lo95"),
        F.round((center + half) / denom, 6).alias("wilson_hi95"),
        F.round(p - wald_half, 6).alias("wald_lo95"),
        F.round(p + wald_half, 6).alias("wald_hi95"),
    )


@query(
    "stats_breusch_pagan",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    arr AS (
      SELECT event_type,
             list(struct_pack(d := d, y := y) ORDER BY d) AS rs
      FROM daily GROUP BY 1),
    mom AS (
      SELECT event_type, rs, CAST(len(rs) AS BIGINT) AS n,
             list_aggregate(list_transform(rs, (r, i) ->
               CAST(i - 1 AS DOUBLE)), 'sum') AS sx,
             list_aggregate(list_transform(rs, (r, i) ->
               CAST(i - 1 AS DOUBLE) * CAST(i - 1 AS DOUBLE)), 'sum') AS sxx,
             list_aggregate(list_transform(rs, (r, i) ->
               CAST(r.y AS DOUBLE)), 'sum') AS sy,
             list_aggregate(list_transform(rs, (r, i) ->
               CAST(i - 1 AS DOUBLE) * CAST(r.y AS DOUBLE)), 'sum') AS sxy
      FROM arr),
    ab AS (
      SELECT event_type, rs, n, sx, sxx,
             (CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx) AS b,
             (sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                     / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
               / CAST(n AS DOUBLE) AS a
      FROM mom),
    res AS (
      SELECT event_type, rs, n, sx, sxx,
             list_transform(rs, (r, i) ->
               pow(CAST(r.y AS DOUBLE) - a - b * CAST(i - 1 AS DOUBLE), 2))
               AS z
      FROM ab),
    aux AS (
      SELECT event_type, n, sx, sxx,
             list_aggregate(z, 'sum') AS sz,
             list_aggregate(list_transform(z, x -> x * x), 'sum') AS szz,
             list_aggregate(list_transform(z, (x, i) ->
               CAST(i - 1 AS DOUBLE) * x), 'sum') AS sxz
      FROM res)
    SELECT event_type, n AS n_days,
           ROUND(CASE WHEN (CAST(n AS DOUBLE) * szz - sz * sz) > 0.0 THEN
             CAST(n AS DOUBLE)
               * pow(CAST(n AS DOUBLE) * sxz - sx * sz, 2)
               / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                  * (CAST(n AS DOUBLE) * szz - sz * sz))
           ELSE 0.0 END, 6) AS lm_stat,
           CASE WHEN (CAST(n AS DOUBLE) * szz - sz * sz) > 0.0 THEN
             CAST(n AS DOUBLE)
               * pow(CAST(n AS DOUBLE) * sxz - sx * sz, 2)
               / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                  * (CAST(n AS DOUBLE) * szz - sz * sz))
           ELSE 0.0 END > 3.841459 AS reject_5pct
    FROM aux ORDER BY event_type
    """,
)
def stats_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan LM heteroscedasticity test (Koenker's studentized
    n*R2 form) per event type over the daily-total trend — the diagnostic
    that closes the regression family: stats_linear_regression estimates
    the trend, stats_durbin_watson checks residual AUTOCORRELATION, this
    checks residual VARIANCE drift (a fanning-out residual plot means the
    OLS standard errors everyone quotes are wrong). Auxiliary regression:
    squared OLS residuals on the day index; LM = n * R2_aux ~ chi2(1),
    5% critical 3.841459 PINNED.

    Determinism (the events_acf discipline, NOT the stats_linear_
    regression one — residuals need per-element arithmetic, so everything
    runs on the per-type day-ordered array inside ONE row): daily totals
    are exact DECIMAL sums; x is the 0-based day index; every moment is
    an identical-order list fold of one mirrored double expression; a, b,
    the residual squares, and the closing LM tree are the same IEEE
    expression DAG on both engines. Zero-variance residuals (an exactly
    linear series) short to LM = 0 by a mirrored CASE — never a 0/0.

    Plan at 100 TB: ONE map-side-combined (type, day) aggregate — the
    only data-sized shuffle — then a |types|-row frame of calendar-
    bounded arrays; the two regressions are in-row folds. The raw event
    log never reaches a window or a join.
    """
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(38,6)")
        .alias("y")
    )
    arr = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("d", "y"))).alias("rs"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )

    def fold(expr_fn) -> F.Column:
        # identical-order in-row fold over the day-sorted array:
        # posexplode-free, partitioning-independent
        return F.aggregate(
            F.transform("rs", expr_fn), F.lit(0.0), lambda acc, v: acc + v
        )

    xd = lambda i: i.cast("double")  # noqa: E731
    yd = lambda r: r["y"].cast("double")  # noqa: E731
    mom = arr.select(
        "event_type",
        "rs",
        "n",
        fold(lambda r, i: xd(i)).alias("sx"),
        fold(lambda r, i: xd(i) * xd(i)).alias("sxx"),
        fold(lambda r, i: yd(r)).alias("sy"),
        fold(lambda r, i: xd(i) * yd(r)).alias("sxy"),
    )
    nD = F.col("n").cast("double")
    b = (nD * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nD * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    ab = mom.select(
        "event_type",
        "rs",
        "n",
        "sx",
        "sxx",
        b.alias("b"),
        ((F.col("sy") - b * F.col("sx")) / nD).alias("a"),
    )
    res = ab.select(
        "event_type",
        "n",
        "sx",
        "sxx",
        F.transform(
            "rs",
            lambda r, i: F.pow(
                yd(r) - F.col("a") - F.col("b") * xd(i), F.lit(2.0)
            ),
        ).alias("z"),
    )

    def zfold(expr_fn) -> F.Column:
        return F.aggregate(
            F.transform("z", expr_fn), F.lit(0.0), lambda acc, v: acc + v
        )

    aux = res.select(
        "event_type",
        "n",
        "sx",
        "sxx",
        zfold(lambda x, i: x).alias("sz"),
        zfold(lambda x, i: x * x).alias("szz"),
        zfold(lambda x, i: i.cast("double") * x).alias("sxz"),
    )
    denom_z = nD * F.col("szz") - F.col("sz") * F.col("sz")
    lm = F.when(
        denom_z > 0.0,
        nD
        * F.pow(nD * F.col("sxz") - F.col("sx") * F.col("sz"), F.lit(2.0))
        / ((nD * F.col("sxx") - F.col("sx") * F.col("sx")) * denom_z),
    ).otherwise(F.lit(0.0))
    return aux.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(lm, 6).alias("lm_stat"),
        (lm > F.lit(3.841459)).alias("reject_5pct"),
    ).orderBy("event_type")


@query(
    "drift_positive_control",
    oracle="""
    WITH base AS (
      SELECT CAST(value AS DOUBLE) AS v FROM events
      WHERE event_type = 'view' AND value IS NOT NULL),
    s AS (
      SELECT v AS value, 1 AS is_a FROM base
      UNION ALL
      SELECT 2.0 * v + 50.0 AS value, 0 AS is_a FROM base),
    n AS (SELECT CAST(SUM(is_a) AS BIGINT) AS n1,
                 CAST(SUM(1 - is_a) AS BIGINT) AS n2 FROM s),
    g AS (
      SELECT value,
             CAST(SUM(is_a) AS BIGINT) AS a,
             CAST(SUM(1 - is_a) AS BIGINT) AS b
      FROM s GROUP BY value),
    c AS (
      SELECT SUM(a) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS ca,
             SUM(b) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cb
      FROM g),
    ks AS (
      SELECT n.n1, n.n2,
             CAST(MAX(ABS(n.n2 * c.ca - n.n1 * c.cb)) AS DOUBLE)
               / (n.n1 * n.n2) AS ks_d
      FROM c, n GROUP BY n.n1, n.n2),
    bins AS (
      SELECT CAST(least(floor(value / 10.0), 19) AS BIGINT) AS bin,
             CAST(SUM(is_a) AS BIGINT) AS na,
             CAST(SUM(1 - is_a) AS BIGINT) AS nb
      FROM s GROUP BY 1),
    used AS (SELECT bin, na, nb FROM bins WHERE na > 0 AND nb > 0),
    tot AS (SELECT CAST(SUM(na) AS BIGINT) AS ta,
                   CAST(SUM(nb) AS BIGINT) AS tb,
                   CAST(COUNT(*) AS BIGINT) AS n_bins_used,
                   list(struct_pack(bin := bin, na := na, nb := nb)
                        ORDER BY bin) AS rs
            FROM used),
    psi AS (
      SELECT n_bins_used,
             ROUND(list_aggregate(list_transform(rs, r ->
               (CAST(r.na AS DOUBLE) / ta - CAST(r.nb AS DOUBLE) / tb)
               * ln((CAST(r.na AS DOUBLE) / ta)
                    / (CAST(r.nb AS DOUBLE) / tb))), 'sum'), 6) AS psi
      FROM tot)
    SELECT n1 AS n_per_cohort,
           ROUND(ks_d, 6) AS ks_d,
           psi.psi,
           psi.n_bins_used,
           psi.psi >= 0.25 OR ks_d >= 0.2 AS drifted
    FROM ks, psi
    """,
)
def drift_positive_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive-control drift check — the pager test every monitoring
    stack runs: push a KNOWN-drifted cohort pair through the exact same
    detectors and require the alert to FIRE. The r13 boolean-gate audit
    found the real scorecard's `drifted` flag has never been True on the
    synthetic corpus (the view/click cohorts genuinely don't drift) —
    correct, but it meant no fixture ever exercised the alerting branch
    end-to-end. Here the pair is (view values) vs (2.0*v + 50.0 of the
    SAME values): a deterministic scale+shift drift, margins measured at
    ks 0.62-0.64 / psi 0.42-0.80 across the three SFs vs the 0.2/0.25 gates, so `drifted` is
    True by construction and a regression that silences the pager (sign
    flip, wrong threshold, broken ECDF) turns this fixture red.

    Statistics are the registered conventions re-applied, not new math:
    exact cross-multiplied integer ECDF sup-distance (the stats_ks_test
    machinery — reused via _two_phase_cumsum) and binned PSI on the
    stream_drift_monitor value/10 20-bin grid with both-sides-used bin
    normalization; the shift itself is one exact IEEE multiply-add per
    element on both engines.

    Plan at 100 TB: ONE scan of the view cohort projected twice (the
    union never re-reads), the KS two-phase distributed prefix sum (no
    Exchange SinglePartition), one 20-row bin aggregate, and 1-row
    broadcast stitches for the scalars.
    """
    e = table(spark, sf_dir, "events")
    base = e.filter(
        (F.col("event_type") == "view") & F.col("value").isNotNull()
    ).select(F.col("value").cast("double").alias("v"))
    s = base.select(F.col("v").alias("value"), F.lit(1).alias("is_a")).unionAll(
        base.select((F.lit(2.0) * F.col("v") + F.lit(50.0)).alias("value"),
                    F.lit(0).alias("is_a"))
    )
    g = s.groupBy("value").agg(
        F.sum("is_a").cast("long").alias("a"),
        F.sum(1 - F.col("is_a")).cast("long").alias("b"),
    )
    cw = _two_phase_cumsum(g, "value", ["a", "b"])
    n = cw.agg(
        F.sum("a").cast("long").alias("n1"),
        F.sum("b").cast("long").alias("n2"),
    )
    ks = (
        cw.select("cum_a", "cum_b")
        .crossJoin(F.broadcast(n))
        .select(
            "n1",
            "n2",
            F.abs(F.col("n2") * F.col("cum_a") - F.col("n1") * F.col("cum_b")).alias("dd"),
        )
        .groupBy("n1", "n2")
        .agg(
            (F.max("dd").cast("double") / (F.col("n1") * F.col("n2")).cast("double")).alias("ks_d")
        )
    )
    bins = s.groupBy(
        F.least(F.floor(F.col("value") / 10.0), F.lit(19)).cast("long").alias("bin")
    ).agg(
        F.sum("is_a").cast("long").alias("na"),
        F.sum(1 - F.col("is_a")).cast("long").alias("nb"),
    )
    used = bins.filter((F.col("na") > 0) & (F.col("nb") > 0))
    # bin-ordered in-row fold (the stream_drift_monitor discipline): an
    # unordered SUM of double terms could flip ROUND-6 at a boundary
    # under a different partial-aggregation order.
    tot = used.agg(
        F.sum("na").cast("long").alias("ta"),
        F.sum("nb").cast("long").alias("tb"),
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
        F.array_sort(F.collect_list(F.struct("bin", "na", "nb"))).alias("rs"),
    )
    ta = F.col("ta").cast("double")
    tb = F.col("tb").cast("double")
    psi = tot.select(
        "n_bins_used",
        F.round(
            F.aggregate(
                F.transform(
                    "rs",
                    lambda r: (r["na"].cast("double") / ta - r["nb"].cast("double") / tb)
                    * F.log((r["na"].cast("double") / ta) / (r["nb"].cast("double") / tb)),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        ).alias("psi"),
    )
    return (
        ks.crossJoin(F.broadcast(psi))
        .select(
            F.col("n1").alias("n_per_cohort"),
            F.round("ks_d", 6).alias("ks_d"),
            "psi",
            "n_bins_used",
            ((F.col("psi") >= 0.25) | (F.col("ks_d") >= 0.2)).alias("drifted"),
        )
    )
