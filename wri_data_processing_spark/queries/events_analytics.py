"""Event-log and embedding analytics operators.

Extends the engine's events/embeddings surface with the shapes a product
analytics or feature-store workload runs daily: semi-structured JSON
extraction, time-series resampling with gap fill, RFM user segmentation,
ordered funnel analysis, and per-label embedding centroids.

Scale notes: JSON extraction is a pure column expression inside the scan
stage (no UDF — ``get_json_object`` is JVM codegen). Resample/gap-fill and
funnel shuffle once on their natural keys. The centroid uses fixed-point
quantization (floor(x * 2^30) as int64) so the distributed sum is EXACT and
order-independent — the standard trick for bit-reproducible float reductions
across nondeterministic partition orders; the quantization error (2^-30 per
element) is far below float32 input precision.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.operators.ranking import with_global_ntiles
from wri_data_processing_spark.registry import query
from wri_data_processing_spark.streaming.pipelines import attribution_window_join

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@query(
    "json_extract_kv",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY k_bucket
    ORDER BY k_bucket
    """,
)
def json_extract_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the JSON ``props`` column, pull an
    integer field, and aggregate by its decade bucket.

    ``get_json_object`` is a JVM-side expression (SIMD-JSON-style parse per
    row, whole-stage codegen, no Python) — at 100 TB the parse runs inside
    the scan stage and only the 8-byte bucket key shuffles. For repeated
    access patterns the scale path is schema-on-read ``from_json`` into a
    struct column persisted back to Parquet, after which extraction is free
    column pruning.
    """
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select(k.alias("k"), "value")
        .groupBy(F.expr("k div 10").alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .orderBy("k_bucket")
    )


@query(
    "ts_resample_gapfill",
    oracle=f"""
    WITH p AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS b,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    grid AS (
        SELECT unnest(generate_series((SELECT MIN(b) FROM p),
                                      (SELECT MAX(b) FROM p),
                                      INTERVAL '1 hour')) AS b
    )
    SELECT strftime(grid.b, '{_TS_FMT_DUCK}') AS bucket,
           COALESCE(p.n, 0) AS n,
           LAST_VALUE(p.s IGNORE NULLS)
             OVER (ORDER BY grid.b ROWS UNBOUNDED PRECEDING) AS filled_sum
    FROM grid LEFT JOIN p ON grid.b = p.b
    ORDER BY bucket
    """,
)
def ts_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap fill: hourly purchase totals on a
    dense bucket grid; empty hours get count 0 and a forward-filled sum
    (last observation carried forward).

    The dense grid comes from one ``sequence()`` over the aggregated
    min/max — generated, not scanned. The forward fill is a single-ordering
    window; at 100 TB the same plan runs partitioned by day with each
    partition seeded by the previous day's closing value (two-pass LOCF),
    keeping the window parallel instead of one global task.
    """
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    p = (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        )
        .select(F.col("w.start").alias("b"), "n", "s")
    )
    rng = p.agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
    grid = rng.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("b")
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        grid.join(p, "b", "left")
        .select(
            F.date_format("b", _TS_FMT_SPARK).alias("bucket"),
            F.coalesce("n", F.lit(0)).alias("n"),
            F.last("s", ignorenulls=True).over(w).alias("filled_sum"),
        )
        .orderBy("bucket")
    )


@query(
    "user_rfm_segments",
    oracle=f"""
    WITH m AS (
        SELECT user_id,
               MAX(ts) AS last_ts,
               COUNT(*) AS freq,
               SUM(CAST(value AS DECIMAL(18,6))) AS monetary_dec
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           strftime(last_ts, '{_TS_FMT_DUCK}') AS last_seen,
           freq,
           CAST(CAST(monetary_dec * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0
             AS monetary,
           NTILE(4) OVER (ORDER BY last_ts, user_id) AS r_quartile,
           NTILE(4) OVER (ORDER BY freq, user_id) AS f_quartile,
           NTILE(4) OVER (ORDER BY monetary_dec, user_id) AS m_quartile
    FROM m
    """,
)
def user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency/frequency/monetary metrics with
    quartile scores.

    One shuffle to aggregate per user. The quartiles are EXACT NTILE(4)
    with user_id tiebreak (total order, deterministic boundaries) — but
    computed with the parallel two-phase global rank
    (operators/ranking.py), not a global single-partition window: at 100 TB
    the per-user frame is still billions of rows, and three
    ``Window.orderBy`` calls would each funnel it through one task. All
    three metrics share ONE multi-column quantile pass and ONE combined
    bucket-count pass (with_global_ntiles), and the aggregate is eagerly
    localCheckpoint'ed so those statistics jobs and the final query all read
    one materialization of the event log scan — checkpoint blocks are
    reference-counted and freed when the frame is dropped, unlike a bare
    ``persist()`` which accumulated a cached copy per invocation (ADVICE
    r4). Monetary ranks on the exact DECIMAL (not the double
    projection), so boundary users can't flip quartiles between engines.
    """
    e = table(spark, sf_dir, "events")
    m = e.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("monetary_dec"),
    )
    m = m.localCheckpoint(eager=True)
    m = with_global_ntiles(
        m,
        [
            (["last_ts", "user_id"], 4, "r_quartile"),
            (["freq", "user_id"], 4, "f_quartile"),
            (["monetary_dec", "user_id"], 4, "m_quartile"),
        ],
    )
    return m.select(
        "user_id",
        F.date_format("last_ts", _TS_FMT_SPARK).alias("last_seen"),
        "freq",
        # micros-int64 bridge (r14 cast audit): exact to $9.2e12/user,
        # engine-identical at any magnitude (int64->double is IEEE on
        # both); a direct DECIMAL->double cast diverges above 2^53 scaled.
        (
            (F.col("monetary_dec") * 1000000).cast("long").cast("double")
            / F.lit(1000000.0)
        ).alias("monetary"),
        "r_quartile",
        "f_quartile",
        "m_quartile",
    )


@query(
    "funnel_stages",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS t0 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t1
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'click' AND e.ts > s.t0
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t1
        GROUP BY e.user_id
    )
    SELECT stage, users FROM (
        SELECT 1 AS ord, 'signup' AS stage, COUNT(*) AS users FROM s
        UNION ALL SELECT 2, 'click_after_signup', COUNT(*) FROM c
        UNION ALL SELECT 3, 'purchase_after_click', COUNT(*) FROM p
    ) ORDER BY ord
    """,
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who signed up, then clicked after signing up,
    then purchased after that click — count at each stage.

    Each stage is an aggregate-then-broadcast-join: the per-user stage
    timestamps are |users| rows, tiny relative to the event log, so every
    join broadcasts and the raw events shuffle zero times (the per-stage
    groupBys partial-aggregate map-side down to |users| rows). The strict
    ts ordering between stages is the part naive event-count funnels get
    wrong.
    """
    e = table(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(F.broadcast(s), "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )

    def stage(df: DataFrame, ord_: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(ord_).alias("ord"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("users"),
        )

    return (
        stage(s, 1, "signup")
        .unionByName(stage(c, 2, "click_after_signup"))
        .unionByName(stage(p, 3, "purchase_after_click"))
        .orderBy("ord")
        .select("stage", "users")
    )


@query(
    "embed_label_centroid",
    oracle="""
    SELECT label, i AS pos,
           CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1073741824.0)
                         AS BIGINT)) AS DOUBLE)
             / (COUNT(*) * 1073741824.0) AS centroid,
           COUNT(*) AS n
    FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
    GROUP BY label, i
    ORDER BY label, pos
    """,
)
def embed_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, component-wise, bit-reproducibly.

    Float sums are order-dependent, and Spark's partition order is not
    deterministic — so each component is quantized to fixed point
    (floor(x * 2^30) as int64) and summed EXACTLY as integers; the single
    double division at the end is order-free. Quantization error 2^-30 is
    ~100x below float32 ulp at |x|~1, and int64 headroom allows ~2^33 rows
    per (label, pos) group before overflow (hierarchical re-quantization
    extends that). posexplode keeps (label, pos, q) rows 16 bytes wide;
    partial aggregation collapses them map-side to |labels| x dims.
    """
    e = table(spark, sf_dir, "embeddings")
    q = F.floor(F.col("comp").cast("double") * F.lit(1073741824.0)).cast("long")
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "comp"))
        .select("label", (F.col("pos0") + 1).alias("pos"), q.alias("q"))
        .groupBy("label", "pos")
        .agg(
            (F.sum("q").cast("double") / (F.count(F.lit(1)) * F.lit(1073741824.0))).alias(
                "centroid"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("label", "pos")
    )


@query(
    "events_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, value, ts,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, COUNT(*) AS n_events,
           MIN(epoch_us(ts)) AS session_start_us,
           MAX(epoch_us(ts)) AS session_end_us,
           (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 1000000.0 AS duration_sec
    FROM numbered
    GROUP BY user_id, session_idx
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: gap-based sessions (30-min inactivity timeout)
    via lag + running sum — the batch twin of stream_session_window.

    Two window passes and the final aggregate all share ONE (user_id) hash
    partitioning: Catalyst plans a single exchange and sorts once for both
    window specs. Timestamp math is integer microseconds (unix_micros /
    epoch_us) on both engines, so session boundaries are exact — no float
    epoch rounding at the 30-min threshold. At 100 TB, state per user is one
    sort run, and skewed power users are bounded by per-user event counts,
    not table size.
    """
    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select("user_id", "event_id", "ts", us.alias("us")).withColumn(
        "new_session",
        F.when(
            (F.col("us") - F.lag("us").over(w) > 1_800_000_000)
            | F.lag("ts").over(w).isNull(),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    numbered = flagged.withColumn(
        "session_idx",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return numbered.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("us").alias("session_start_us"),
        F.max("us").alias("session_end_us"),
        ((F.max("us") - F.min("us")) / F.lit(1_000_000.0)).alias("duration_sec"),
    )


@query(
    "events_rolling_window",
    oracle="""
    SELECT user_id, event_id,
           COUNT(*) OVER w AS n_prev_hour,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_prev_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def events_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range rolling window: per user, count and sum of events in the
    trailing 1 hour (RANGE frame over event time, not row count).

    Spark's DataFrame rangeBetween needs a numeric ordering column, so the
    frame orders by unix_micros(ts) with a -3.6e9 us lower bound — exactly
    DuckDB's RANGE INTERVAL 1 HOUR frame (inclusive bounds, ties-as-peers
    on both engines). The sum goes through DECIMAL(18,6) so the windowed
    float reduction is order-independent and hash-exact. One shuffle on
    user_id; frame state is a single sliding accumulator per user — O(1)
    memory per row at any scale.
    """
    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    dec = F.col("value").cast("decimal(18,6)")
    return e.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_prev_hour"),
        F.sum(dec).over(w).cast("double").alias("sum_prev_hour"),
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
    ),
    tagged AS (
      SELECT e.user_id,
             strftime(date_trunc('week', f.first_ts), '%Y-%m-%d') AS cohort_week,
             CAST(date_diff('day', date_trunc('week', f.first_ts),
                            date_trunc('week', e.ts)) // 7 AS BIGINT) AS week_n
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_week, week_n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
    FROM tagged
    GROUP BY cohort_week, week_n
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted as
    active in each subsequent week — the standard product-analytics
    retention triangle.

    Week arithmetic is pure integers (date_trunc to Monday on both engines,
    day-diff // 7), so the cohort cells hash exactly. Plan: the per-user
    MIN(ts) aggregate and the events-to-firsts join share the user_id
    hash partitioning (one exchange serves both), then the cohort rollup
    reshuffles on the ~|weeks|^2-cardinality cell key. COUNT(DISTINCT
    user_id) is the two-phase distinct aggregate; at 100 TB swap in
    approx_count_distinct per the documented accuracy/cost trade.
    """
    e = table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    tagged = e.join(firsts, "user_id").select(
        "user_id",
        F.date_format(F.date_trunc("week", "first_ts"), "yyyy-MM-dd").alias("cohort_week"),
        (
            F.datediff(F.date_trunc("week", F.col("ts")), F.date_trunc("week", "first_ts"))
            / 7
        )
        .cast("long")
        .alias("week_n"),
    )
    return tagged.groupBy("cohort_week", "week_n").agg(
        F.count_distinct("user_id").cast("long").alias("active_users")
    )


def click_purchase_join(
    e: DataFrame, click_cols: list, purchase_cols: list, how: str
) -> DataFrame:
    """The batch click -> purchase attribution join over the events frame
    ``e``: its clicks, projected to ``click_cols`` (which carry user_id and
    click_ts), joined by attribution_window_join to its purchases,
    projected to (p_user, purchase_ts, *``purchase_cols``)."""
    c = e.filter(F.col("event_type") == "click").select(*click_cols)
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"), *purchase_cols
    )
    return attribution_window_join(c, p, "user_id", how)


@query(
    "events_attribution_join",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id,
           p.event_id AS purchase_id, p.value AS amount
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def events_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click->purchase attribution: every purchase joined to the same
    user's clicks in the preceding 30 minutes — the BATCH twin of
    streaming/pipelines.click_purchase_join, verified against the same
    semantics the stream-stream test asserts.

    Equi key (user_id) drives a hash join; the time bound is a post-join
    filter inside the same stage. In streaming the identical condition
    becomes the state-eviction bound (watermark + interval). One shuffle
    per side; a user's clicks x purchases fan-out is bounded by per-user
    activity in any 30-min span, the same property that bounds streaming
    state.
    """
    e = table(spark, sf_dir, "events")
    return click_purchase_join(
        e,
        ["user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")],
        [F.col("event_id").alias("purchase_id"), F.col("value").alias("amount")],
        "inner",
    ).select("user_id", "click_id", "purchase_id", "amount")


@query(
    "events_windowed_topk",
    oracle="""
    SELECT hour_bucket, event_type, n FROM (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
             event_type, CAST(COUNT(*) AS BIGINT) AS n,
             ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY COUNT(*) DESC, event_type) AS rn
      FROM events
      GROUP BY date_trunc('hour', ts), event_type
    ) WHERE rn <= 3
    """,
)
def events_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k: the 3 most frequent event types in every hour —
    trending-items over time buckets.

    Heavy reduction first (count by hour x type — partial-aggregated
    map-side), then a rank window over the tiny aggregate. The window
    input is |hours| x |types|, never |rows|: at 100 TB the rank stage is
    thousands of rows regardless of input size. The streaming twin is the
    same aggregate under a watermarked window with the rank applied per
    emitted batch (foreachBatch).
    """
    e = table(spark, sf_dir, "events")
    counts = (
        e.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("h").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.date_format("h", _TS_FMT_SPARK).alias("hour_bucket"),
            "event_type",
            "n",
        )
    )


@query(
    "events_conversion_latency",
    oracle="""
    WITH pairs AS (
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             epoch_us(p.ts) - epoch_us(c.ts) AS latency_us
      FROM events c
      JOIN events p
        ON c.user_id = p.user_id
       AND p.ts > c.ts
       AND p.ts <= c.ts + INTERVAL 30 MINUTE
      WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    )
    SELECT CAST(latency_us // 300000000 AS BIGINT) AS bucket_5min,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(MIN(latency_us) AS BIGINT) AS min_latency_us,
           CAST(MAX(latency_us) AS BIGINT) AS max_latency_us
    FROM pairs GROUP BY 1
    """,
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: click->purchase delays from the
    attribution join, bucketed into 5-minute bins with per-bin extremes —
    the funnel-timing histogram product analytics plots.

    Latency is integer microseconds end to end (unix_micros difference,
    integer floor-div binning) — no float time math anywhere, so bin
    edges are exact on both engines. Builds on click_purchase_join, the
    bounded user-blocked interval join of events_attribution_join; the
    histogram is a 6-row aggregate on top.
    """
    e = table(spark, sf_dir, "events")
    pairs = click_purchase_join(
        e,
        ["user_id", F.col("ts").alias("click_ts"), F.unix_micros("ts").alias("click_us")],
        [F.unix_micros("ts").alias("purchase_us")],
        "inner",
    ).select((F.col("purchase_us") - F.col("click_us")).alias("latency_us"))
    return (
        pairs.groupBy(F.expr("latency_us div 300000000").alias("bucket_5min"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_conversions"),
            F.min("latency_us").alias("min_latency_us"),
            F.max("latency_us").alias("max_latency_us"),
        )
    )


@query(
    "events_gaps_islands",
    oracle="""
    WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    isl AS (
      SELECT user_id, d,
             datediff('day', DATE '1970-01-01', d)
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS g
      FROM days),
    runs AS (
      SELECT user_id, g, CAST(COUNT(*) AS BIGINT) AS len
      FROM isl GROUP BY user_id, g)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_streaks,
           MAX(len) AS longest_streak
    FROM runs GROUP BY user_id
    """,
)
def events_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user consecutive-active-day streaks.

    The classic trick — day_number minus row_number is constant within a
    run of consecutive days — turns streak detection into a plain groupBy,
    with no self-join and no iterative pass. All arithmetic is integer
    (days since epoch), so the island ids are bit-identical across
    engines. Scale shape: one distinct (user, day) aggregate, one
    per-user window (partition-local sort after the shuffle), two hash
    aggregates — everything partitions by user_id, nothing global.
    """
    e = table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "g",
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        - F.row_number().over(w),
    )
    runs = isl.groupBy("user_id", "g").agg(F.count(F.lit(1)).alias("len"))
    return runs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"), F.max("len").alias("longest_streak")
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events),
    cnt AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n_pairs,
           CAST(n_pairs AS DOUBLE)
             / CAST(SUM(n_pairs) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
    FROM cnt
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences.

    lead() pairs each event with its successor inside the user's timeline
    (unique tiebreaker event_id — determinism rule); the bigram counts
    then normalize into row-stochastic probabilities. The probability is
    a single division of two exact integer counts, done identically in
    both engines — no floating accumulation anywhere. The final window
    runs over the |types|^2 matrix (tiny); the heavy lifting is the
    per-user sequence window, which shuffles once on user_id.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cnt = seq.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    wt = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n_pairs",
        (
            F.col("n_pairs").cast("double")
            / F.sum("n_pairs").over(wt).cast("double")
        ).alias("prob"),
    )


@query(
    "events_interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) // 1000000 AS s,
             epoch_us(ts) // 1000000 + 300 AS en
      FROM events),
    m AS (
      SELECT user_id, event_id, s, en,
             MAX(en) OVER (PARTITION BY user_id ORDER BY s, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM iv),
    flagged AS (
      SELECT user_id, event_id, s, en,
             CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END
               AS new_isl
      FROM m),
    isl AS (
      SELECT user_id, s, en,
             SUM(new_isl) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS isl_id
      FROM flagged),
    per AS (
      SELECT user_id, isl_id, MIN(s) AS s0, MAX(en) AS e1
      FROM isl GROUP BY user_id, isl_id)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_active_windows,
           CAST(SUM(e1 - s0) AS BIGINT) AS covered_sec
    FROM per GROUP BY user_id
    """,
)
def events_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping intervals: per-user total covered wall-clock.

    Each event opens a 5-minute activity interval; overlapping intervals
    merge via the prefix-max sweep (an interval starts a new island iff
    its start exceeds the running max end of everything before it).
    Integer epoch-seconds everywhere — timestamp casts floor identically
    in both engines for positive epochs. Same single-shuffle shape as
    the other sequence ops: everything is partitioned by user_id; the
    sweep is a partition-local sorted pass, which is exactly how the
    textbook O(n log n) merge runs single-node.
    """
    e = table(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    iv = e.select(
        "user_id", "event_id", sec.alias("s"), (sec + 300).alias("en")
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = F.max("en").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_isl",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    # The island SUM must run over the SAME unique (s, event_id) order as
    # the flag window: within an equal-s tie run only the first row can
    # carry flag=1, and a different tie order would hand the earlier tied
    # rows to the previous island, double-counting the overlap.
    isl = flagged.withColumn(
        "isl_id",
        F.sum("new_isl").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per = isl.groupBy("user_id", "isl_id").agg(
        F.min("s").alias("s0"), F.max("en").alias("e1")
    )
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_active_windows"),
        F.sum(F.col("e1") - F.col("s0")).cast("long").alias("covered_sec"),
    )


@query(
    "events_time_weighted_avg",
    oracle="""
    WITH seg AS (
      SELECT user_id,
             CAST(value AS DECIMAL(18,6)) AS v,
             LEAD(epoch_us(ts) // 1000000) OVER w
               - epoch_us(ts) // 1000000 AS dt
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id,
           CAST(SUM(v * dt) AS DOUBLE) / CAST(SUM(dt) AS DOUBLE) AS twa_value,
           CAST(SUM(dt) AS BIGINT) AS total_sec
    FROM seg WHERE dt IS NOT NULL
    GROUP BY user_id HAVING SUM(dt) > 0
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average: each reading holds until the next one.

    The TSDB staple (billing meters, gauge rollups): weight each value by
    its holding duration instead of counting readings equally. Weights
    are integer seconds (lead over the unique (ts, event_id) order) and
    values ride as DECIMAL(18,6), so the weighted sum is exact — one
    double division at the very end, identical in both engines. Shape:
    one shuffle on user_id shared by the window and the aggregate.
    """
    e = table(spark, sf_dir, "events")
    sec = F.col("ts").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = e.select(
        "user_id",
        F.col("value").cast("decimal(18,6)").alias("v"),
        (F.lead(sec).over(w) - sec).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    return (
        seg.groupBy("user_id")
        .agg(
            F.sum(F.col("v") * F.col("dt")).alias("num"),
            F.sum("dt").alias("den"),
        )
        .filter(F.col("den") > 0)
        .select(
            "user_id",
            (F.col("num").cast("double") / F.col("den").cast("double")).alias(
                "twa_value"
            ),
            F.col("den").cast("long").alias("total_sec"),
        )
    )


@query(
    "events_cumulative_distinct",
    oracle="""
    WITH fs AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id),
    nu AS (
      SELECT d0 AS d, CAST(COUNT(*) AS BIGINT) AS new_users FROM fs GROUP BY d0),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
    SELECT CAST(days.d AS VARCHAR) AS day,
           COALESCE(nu.new_users, 0) AS new_users,
           CAST(SUM(COALESCE(nu.new_users, 0)) OVER (
             ORDER BY days.d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM days LEFT JOIN nu ON days.d = nu.d
    """,
)
def events_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the first-seen rewrite.

    COUNT(DISTINCT) OVER a growing window is unsupported (and inherently
    non-mergeable); the standard rewrite is exact and cheap: a user joins
    the running total exactly once, on their FIRST day, so cumulative
    distinct = prefix sum of first-seen counts. Two hash aggregates and
    a prefix sum over |days| rows; the raw table is touched once. The
    zero-fill left join keeps quiet days visible so the running total is
    defined every day.
    """
    e = table(spark, sf_dir, "events")
    fs = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    nu = fs.groupBy(F.col("d0").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    days = e.select(F.to_date("ts").alias("d")).distinct()
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    filled = days.join(nu, "d", "left").select(
        "d", F.coalesce("new_users", F.lit(0).cast("long")).alias("new_users")
    )
    return filled.select(
        F.col("d").cast("string").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


@query(
    "events_seasonality_dow",
    oracle="""
    SELECT CAST(isodow(ts) AS INTEGER) AS iso_dow,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS avg_value
    FROM events GROUP BY 1
    """,
)
def events_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile: traffic and value by ISO weekday.

    The first-look seasonality diagnostic. Averages are the exact-decimal
    sum divided by the exact count — one double division per group, no
    float accumulation. Seven output rows; purely map-side partials.
    """
    e = table(spark, sf_dir, "events")
    return e.groupBy((F.weekday("ts") + 1).alias("iso_dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_value"),
    )


def pearson(pairs: DataFrame, n: str, keys: list[str]) -> tuple[DataFrame, Column]:
    """Pearson's r over the integer (x, y) pairs of ``pairs`` per ``keys``,
    exactly: the frame of ``keys``, the pair count ``n`` and the five
    power sums as BIGINTs, and r over it as one closed-form double tree
    with the IEEE-exact sqrt."""
    s = pairs.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias(n),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = (F.col(n) * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col(n) * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt((F.col(n) * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return s, num / den


@query(
    "events_autocorr_lag1",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1),
    pairs AS (
      SELECT n AS y, LAG(n) OVER (ORDER BY d) AS x FROM daily),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pairs WHERE x IS NOT NULL)
    SELECT k AS n_pairs,
           CAST(k * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(k * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(k * syy - sy * sy AS DOUBLE))) AS autocorr_lag1
    FROM s
    """,
)
def events_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily event-count series, exactly.

    Pearson r over (today, yesterday) pairs with ALL power sums kept as
    exact 64-bit integers (daily counts are ints, so no decimal cast is
    even needed); the closed form evaluates once in double. sqrt is
    IEEE-754 correctly rounded — unlike log/exp it is safe in oracled
    output. The window is over |days| aggregated rows; the raw table
    contributes one hash aggregation.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.orderBy("d")
    pairs = daily.select(
        F.col("n").alias("y"), F.lag("n").over(w).alias("x")
    ).filter(F.col("x").isNotNull())
    s, r = pearson(pairs, "k", [])
    return s.select(F.col("k").alias("n_pairs"), r.alias("autocorr_lag1"))


@query(
    "events_audience_overlap",
    oracle="""
    WITH a AS (SELECT DISTINCT event_type, user_id FROM events),
    c AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM a GROUP BY 1),
    p AS (
      SELECT x.event_type AS type_a, y.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM a x JOIN a y ON x.user_id = y.user_id
      WHERE x.event_type < y.event_type
      GROUP BY 1, 2)
    SELECT type_a, type_b, ca.n AS n_a, cb.n AS n_b, n_both,
           CAST(n_both AS DOUBLE) / CAST(ca.n + cb.n - n_both AS DOUBLE)
             AS jaccard
    FROM p
    JOIN c ca ON ca.event_type = type_a
    JOIN c cb ON cb.event_type = type_b
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard similarity between the user sets of
    every pair of event types.

    The distinct-first rewrite is the scale move: the raw event table never
    self-joins — it collapses to |users| x |types| (bounded by 5x users
    here) in one hash aggregate, and only that reduced audience table joins
    itself on user_id. Both sides of the pair join share the same shuffle
    partitioning on user_id, and the per-type totals are a tiny broadcast.
    Jaccard is a double ratio of exact counts. Reference analog: the
    domain x dimension co-occurrence summaries of scripts/02b_make_stac_all
    .R:299-304, generalized to set similarity.
    """
    e = table(spark, sf_dir, "events")
    a = e.select("event_type", "user_id").distinct()
    c = a.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    x = a.select(F.col("event_type").alias("type_a"), "user_id")
    y = a.select(F.col("event_type").alias("type_b"), "user_id")
    p = (
        x.join(y, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    ca = c.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    cb = c.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        p.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double")
            ).alias("jaccard"),
        )
    )


@query(
    "events_ewma",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1),
    pairs AS (
      SELECT a.d, b.n,
             CAST(1 << (7 - datediff('day', b.d, a.d)) AS BIGINT) AS w
      FROM daily a JOIN daily b
        ON b.d BETWEEN a.d - INTERVAL 7 DAY AND a.d)
    SELECT CAST(d AS VARCHAR) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(w * n) AS BIGINT) AS wsum,
           CAST(SUM(w) AS BIGINT) AS wtot,
           CAST(SUM(w * n) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS ewma
    FROM pairs GROUP BY d
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily traffic, exactly.

    The classic EWMA recurrence is float-order-sensitive; this is the
    bounded-window closed form with alpha = 1/2, so every weight is a power
    of two (shiftleft, exact int64) and the whole accumulation is integer —
    one IEEE division per output row at the end. The range self-join runs on
    the |days|-row aggregate, never the raw table, and at any scale the
    daily rollup is the only wide shuffle (the 8-day band join broadcasts).
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = daily.select(F.col("d"))
    b = daily.select(F.col("d").alias("bd"), "n")
    pairs = a.join(
        F.broadcast(b),
        (F.col("bd") <= F.col("d")) & (F.col("bd") >= F.date_sub(F.col("d"), 7)),
    ).select(
        "d",
        "n",
        F.expr("CAST(shiftleft(1, 7 - datediff(d, bd)) AS BIGINT)").alias("w"),
    )
    return pairs.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("w") * F.col("n")).cast("long").alias("wsum"),
        F.sum("w").cast("long").alias("wtot"),
        (
            F.sum(F.col("w") * F.col("n")).cast("double")
            / F.sum("w").cast("double")
        ).alias("ewma"),
    ).select(
        F.col("d").cast("string").alias("day"), "n_days", "wsum", "wtot", "ewma"
    )


@query(
    "events_user_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    t AS (
      SELECT user_id,
             CAST(SUM(c) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             list(c ORDER BY event_type) AS cs
      FROM c GROUP BY 1),
    h AS (
      SELECT user_id, n_events, n_types,
             list_aggregate(
               list_transform(cs, x ->
                 -(CAST(x AS DOUBLE) / CAST(n_events AS DOUBLE))
                  * ln(CAST(x AS DOUBLE) / CAST(n_events AS DOUBLE))),
               'sum') AS ent
      FROM t)
    SELECT user_id, n_events, n_types, ROUND(ent, 6) AS entropy
    FROM h
    ORDER BY entropy DESC, user_id
    LIMIT 100
    """,
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type mix — the behavioral-
    diversity score a bot/abuse detector thresholds on (a scripted user
    hammers one event type: entropy ~ 0; an organic one spreads across
    the catalog: entropy ~ ln |types|). Returns the 100 most diverse
    users.

    Exactness: the (user, type) counts are exact integers; each p·ln p
    term is one mirrored IEEE expression, summed by an ORDERED fold over
    the type-sorted list (the stats_psi contract — a reorderable SUM
    aggregate would leak partial-agg order into the low bits), and the
    closing ROUND-6 absorbs the measured JVM-vs-glibc ln ULP drift. The
    top-100 orders by the ROUNDED entropy with a user_id tie-break, so
    sub-1e-6 gaps collapse to deterministic id order on both engines.

    Scale: ONE shuffle — the (user, type) count aggregate (map-side
    combined; |types| is small so this is ~|users| rows) — then a per-user
    collect_list bounded by |types| per row and a global top-100
    TakeOrdered. No windows over the raw log, no joins.
    """
    e = table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    t = c.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.array_sort(F.collect_list(F.struct("event_type", "c"))).alias("rows"),
    )
    p = lambda r: r["c"].cast("double") / F.col("n_events").cast("double")  # noqa: E731
    terms = F.transform("rows", lambda r: -p(r) * F.log(p(r)))
    ent = F.aggregate(terms, F.lit(0.0), lambda a, x: a + x)
    return (
        t.select(
            "user_id",
            "n_events",
            "n_types",
            F.round(ent, 6).alias("entropy"),
        )
        .orderBy(F.col("entropy").desc(), "user_id")
        .limit(100)
    )


@query(
    "events_path_analysis",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    p AS (
      SELECT user_id,
             array_to_string(list(event_type ORDER BY rn), '>') AS path
      FROM r WHERE rn <= 5 GROUP BY 1)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM p
    GROUP BY 1
    ORDER BY n_users DESC, path
    LIMIT 20
    """,
)
def events_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most common onboarding paths: each user's first five events
    (by time, event_id tiebreak) joined into a '>' path string, counted
    across users. The clickstream-path report growth teams run to see
    where new users actually go — the full-sequence complement of
    events_transition_matrix's one-step bigrams.

    Determinism: the (ts, event_id) order is total, so every user's path
    string is unique text — counting strings is exact. Path length caps at
    5 so the key stays bounded (an unbounded concat would make the
    shuffle key grow with the worst user's history).

    Scale: one user_id-partitioned window computes ranks in the same
    shuffle that the per-user collect uses (co-partitioned: Catalyst
    reuses the exchange), rows past rank 5 drop BEFORE the collect, and
    the path-count aggregate is map-side combined over short strings. The
    top-20 is a TakeOrdered, never a global sort materialization.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = e.select("user_id", "event_type", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= 5
    )
    p = r.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        p.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


@query(
    "events_rate_test",
    oracle="""
    WITH e AS (
      SELECT CAST(FLOOR(EXTRACT(EPOCH FROM ts)) AS BIGINT) AS sec
      FROM events),
    m AS (
      SELECT (MIN(sec) + MAX(sec)) // 2 AS mid FROM e),
    b AS (
      SELECT CASE WHEN e.sec < m.mid THEN 0 ELSE 1 END AS half, e.sec
      FROM e CROSS JOIN m),
    s AS (
      SELECT CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
             CAST(SUM(half) AS BIGINT) AS k2,
             CAST(MAX(CASE WHEN half = 0 THEN sec END)
                  - MIN(CASE WHEN half = 0 THEN sec END) AS BIGINT) AS t1,
             CAST(MAX(CASE WHEN half = 1 THEN sec END)
                  - MIN(CASE WHEN half = 1 THEN sec END) AS BIGINT) AS t2
      FROM b)
    SELECT k1, k2, t1, t2,
           (CAST(k1 AS DOUBLE) / CAST(t1 AS DOUBLE)
            - CAST(k2 AS DOUBLE) / CAST(t2 AS DOUBLE))
           / sqrt(CAST(k1 AS DOUBLE) / (CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE))
                  + CAST(k2 AS DOUBLE)
                    / (CAST(t2 AS DOUBLE) * CAST(t2 AS DOUBLE))) AS z
    FROM s
    """,
)
def events_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate test: did the event arrival RATE change
    between the first and second half of the log? z compares k/t per half
    with variance k/t^2 — the volume-drift alarm that fires when traffic
    collapses or a client starts flooding, complementing the
    distribution-drift trio (KS / chi2 / PSI) which all condition on the
    values and miss pure intensity shifts.

    Exactness: counts and epoch-second spans are exact integers; z is
    division + sqrt only — the exactly-rounded IEEE ops — over mirrored
    trees, so NO rounding is needed (ln never appears). The midpoint is
    (min_sec + max_sec) // 2 in INTEGER epoch seconds — engine interval
    arithmetic (ts + interval/2) rounds differently across engines and
    moved 11 of 1000 rows at sf0.001 when probed.

    Scale: one pass for the (min, max) timestamp bounds (1-row broadcast
    back over the scan — whitelisted bounded NLJ), then ONE map-side-
    combined aggregate produces all four statistics; zero shuffled rows
    beyond the two 1-row frames.
    """
    e = table(spark, sf_dir, "events").select(
        F.unix_timestamp("ts").cast("long").alias("sec")
    )
    bounds = e.agg(
        F.floor((F.min("sec") + F.max("sec")) / 2).cast("long").alias("mid")
    )
    b = e.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("sec") < F.col("mid"), 0).otherwise(1).alias("half"), "sec"
    )
    s = b.agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("k1"),
        F.sum("half").cast("long").alias("k2"),
        (
            F.max(F.when(F.col("half") == 0, F.col("sec")))
            - F.min(F.when(F.col("half") == 0, F.col("sec")))
        )
        .cast("long")
        .alias("t1"),
        (
            F.max(F.when(F.col("half") == 1, F.col("sec")))
            - F.min(F.when(F.col("half") == 1, F.col("sec")))
        )
        .cast("long")
        .alias("t2"),
    )
    k1d, k2d = F.col("k1").cast("double"), F.col("k2").cast("double")
    t1d, t2d = F.col("t1").cast("double"), F.col("t2").cast("double")
    return s.select(
        "k1",
        "k2",
        "t1",
        "t2",
        ((k1d / t1d - k2d / t2d) / F.sqrt(k1d / (t1d * t1d) + k2d / (t2d * t2d))).alias(
            "z"
        ),
    )


@query(
    "events_stl_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    tr AS (
      SELECT event_type, d, n,
             CAST(SUM(n) OVER w AS BIGINT) AS sum7,
             CAST(COUNT(*) OVER w AS BIGINT) AS k7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    full7 AS (
      SELECT event_type, d, n, sum7, 7 * n - sum7 AS det7
      FROM tr WHERE k7 = 7),
    season AS (
      SELECT event_type, CAST(isodow(d) AS BIGINT) AS dow,
             CAST(SUM(det7) AS BIGINT) AS snum,
             CAST(COUNT(*) AS BIGINT) AS scnt
      FROM full7 GROUP BY 1, 2)
    SELECT f.event_type, strftime(f.d, '%Y-%m-%d') AS d, f.n,
           CAST(f.sum7 AS DOUBLE) / 7.0 AS trend,
           CAST(s.snum AS DOUBLE) / (7.0 * CAST(s.scnt AS DOUBLE)) AS seasonal,
           CAST(f.det7 * s.scnt - s.snum AS DOUBLE)
             / (7.0 * CAST(s.scnt AS DOUBLE)) AS residual
    FROM full7 f
    JOIN season s ON f.event_type = s.event_type AND isodow(f.d) = s.dow
    """,
)
def events_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the per-type daily series:
    trend (centered 7-day moving average, full windows only) + weekly
    seasonal (per-ISO-dow mean of the detrended series) + residual — the
    STL-shaped diagnostic behind 'is Monday low or is traffic dropping'.

    EXACTNESS BY CONSTRUCTION: the decomposition is kept RATIONAL until
    the final step — trend numerator sum7 and the 7x-scaled detrended
    series det7 = 7n - sum7 are integers, the seasonal numerator/count
    are integer sums of det7, and residual = (det7*scnt - snum)/(7*scnt)
    is one integer expression over one correctly-rounded IEEE division.
    No double is ever accumulated, so summation order cannot move a ULP
    and the op needs no ROUND.

    Scale: the window runs over the DAILY frame — already reduced to
    |types| x |days| rows by a map-side-combined aggregate of the raw
    scan — partitioned by event_type (never a single global partition);
    the seasonal join-back broadcasts the |types| x 7 frame.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "d",
        "n",
        F.sum("n").over(w).cast("long").alias("sum7"),
        F.count(F.lit(1)).over(w).cast("long").alias("k7"),
    )
    full7 = tr.filter(F.col("k7") == 7).withColumn(
        "det7", 7 * F.col("n") - F.col("sum7")
    )
    dow = (F.weekday(F.col("d")) + 1).cast("long")
    season = (
        full7.groupBy("event_type", dow.alias("dow"))
        .agg(
            F.sum("det7").cast("long").alias("snum"),
            F.count(F.lit(1)).cast("long").alias("scnt"),
        )
        .select(
            F.col("event_type").alias("et2"), F.col("dow").alias("dow2"),
            "snum", "scnt"
        )
    )
    out = full7.withColumn("dow", dow).join(
        F.broadcast(season),
        (F.col("event_type") == F.col("et2")) & (F.col("dow") == F.col("dow2")),
    ).select(
        "event_type",
        F.date_format(F.col("d"), "yyyy-MM-dd").alias("d"),
        "n",
        (F.col("sum7").cast("double") / F.lit(7.0)).alias("trend"),
        (F.col("snum").cast("double") / (F.lit(7.0) * F.col("scnt").cast("double"))).alias(
            "seasonal"
        ),
        (
            (F.col("det7") * F.col("scnt") - F.col("snum")).cast("double")
            / (F.lit(7.0) * F.col("scnt").cast("double"))
        ).alias("residual"),
    )
    return out


@query(
    "events_changepoint_binary",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    cum AS (
      SELECT event_type, d, n,
             CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY d
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sk,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
                  AS BIGINT) AS k
      FROM daily),
    tot AS (
      SELECT event_type, CAST(MAX(k) AS BIGINT) AS t,
             CAST(MAX(sk) AS BIGINT) AS st
      FROM cum GROUP BY 1),
    scored AS (
      SELECT c.event_type, c.d, c.k, t.t,
             CAST((c.sk * t.t - c.k * t.st)
                  * (c.sk * t.t - c.k * t.st) AS DOUBLE)
               / CAST(c.k * (t.t - c.k) AS DOUBLE) AS score
      FROM cum c JOIN tot t USING (event_type)
      WHERE c.k < t.t),
    best AS (
      SELECT event_type, d, k, t, score,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY score DESC, k ASC) AS rn
      FROM scored)
    SELECT event_type, t AS n_days, k AS split_k,
           strftime(d, '%Y-%m-%d') AS split_day,
           ROUND(score, 6) AS score
    FROM best WHERE rn = 1 ORDER BY event_type
    """,
)
def events_changepoint_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline single-changepoint detection (the first step of binary
    segmentation): per event type, the day split k maximizing the
    between-segment sum of squares of the daily-count series — the
    post-hoc twin of events_cusum_alarm's online detector. With
    D_k = S_k*T - k*S_T (an INTEGER — cumulative count scaled by total
    count), BSS(k) ∝ D_k² / (k(T-k)); the argmax is ordered by one
    double division from exact integers, ties broken by earliest k, so
    both engines pick the same split deterministically. |D_k| ≤ S_T·T
    bounds the int64 square at S_T·T < 3×10⁹ — far above any daily-count
    series; beyond that the products move to decimal like stats_spearman.

    Scale: the series is the already-reduced |types| × |days| daily
    frame; cumsum + argmax windows run per type over that frame, and the
    per-type totals join is a |types|-row broadcast.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    cum = daily.select(
        "event_type",
        "d",
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("sk"),
        F.row_number().over(w).cast("long").alias("k"),
    )
    tot = cum.groupBy("event_type").agg(
        F.max("k").cast("long").alias("t"), F.max("sk").cast("long").alias("st")
    )
    dterm = F.col("sk") * F.col("t") - F.col("k") * F.col("st")
    scored = (
        cum.join(F.broadcast(tot), "event_type")
        .filter(F.col("k") < F.col("t"))
        .select(
            "event_type",
            "d",
            "k",
            "t",
            (
                (dterm * dterm).cast("double")
                / (F.col("k") * (F.col("t") - F.col("k"))).cast("double")
            ).alias("score"),
        )
    )
    wb = Window.partitionBy("event_type").orderBy(
        F.col("score").desc(), F.col("k").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("t").alias("n_days"),
            F.col("k").alias("split_k"),
            F.date_format("d", "yyyy-MM-dd").alias("split_day"),
            F.round("score", 6).alias("score"),
        )
        .orderBy("event_type")
    )


@query(
    "events_funnel_windowed",
    oracle="""
    WITH s0 AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY 1),
    s1 AS (
      SELECT e.user_id, MIN(e.ts) AS t1
      FROM events e JOIN s0 ON e.user_id = s0.user_id
      WHERE e.event_type = 'click'
        AND e.ts > s0.t0 AND e.ts <= s0.t0 + INTERVAL 24 HOUR
      GROUP BY 1),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 24 HOUR
      GROUP BY 1)
    SELECT 'signup' AS stage, CAST((SELECT COUNT(*) FROM s0) AS BIGINT) AS n_users
    UNION ALL
    SELECT 'click_24h', CAST((SELECT COUNT(*) FROM s1) AS BIGINT)
    UNION ALL
    SELECT 'purchase_24h', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-CONSTRAINED funnel: signup -> first click within 24 h of the
    signup -> first purchase within 24 h of THAT click. The conversion
    question funnel_stages (unconstrained ordering) cannot answer:
    product funnels expire, and a purchase a month later is churn-and-
    return, not conversion.

    Semantics are GREEDY-EARLIEST (the product-analytics standard): each
    stage anchors on the EARLIEST qualifying event of the previous stage.
    Greedy can miss exotic chains a backtracking search would find (a
    later click whose window covers the purchase) — that exhaustive
    variant is a per-user sequence scan, deliberately not this op.

    Plan shape: identical to funnel_stages — each stage is a map-side-
    combined per-user MIN (|users| rows) broadcast-joined onto the next
    stage's filtered scan, so the raw event log never shuffles; the time
    windows ride the join as scan-stage predicates.
    """
    e = table(spark, sf_dir, "events")
    s0 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    s1 = (
        e.filter(F.col("event_type") == "click")
        .join(F.broadcast(s0), "user_id")
        .filter(
            (F.col("ts") > F.col("t0"))
            & (F.col("ts") <= F.col("t0") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(s1), "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    rows = [
        s0.agg(F.lit("signup").alias("stage"), F.count(F.lit(1)).cast("long").alias("n_users")),
        s1.agg(F.lit("click_24h").alias("stage"), F.count(F.lit(1)).cast("long").alias("n_users")),
        s2.agg(F.lit("purchase_24h").alias("stage"), F.count(F.lit(1)).cast("long").alias("n_users")),
    ]
    out = rows[0]
    for nxt in rows[1:]:
        out = out.unionAll(nxt)
    return out


_LIFE_TABLE_CTES = """
    WITH u AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE)) AS fd,
             MAX(CAST(ts AS DATE)) AS ld,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS pd
      FROM events GROUP BY 1),
    f AS (
      SELECT CASE WHEN pd IS NOT NULL THEN date_diff('day', fd, pd)
                  ELSE date_diff('day', fd, ld) END AS dur,
             CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM u),
    g AS (
      SELECT dur, CAST(SUM(ev) AS BIGINT) AS d,
             CAST(SUM(1 - ev) AS BIGINT) AS c
      FROM f GROUP BY 1),
    one AS (
      SELECT CAST(SUM(d + c) AS BIGINT) AS ntot,
             list(struct_pack(dur := dur, d := d, c := c) ORDER BY dur) AS rs
      FROM g),
    enr AS (
      SELECT ntot, rs,
             list_transform(rs, (r, i) ->
               ntot - CAST(COALESCE(list_aggregate(
                 list_transform(rs[1:i-1], x -> x.d + x.c), 'sum'), 0)
                 AS BIGINT)) AS atrisk
      FROM one)"""


def _life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row time-to-first-purchase life table of events_survival_km
    and events_hazard_nelson_aalen: ``rs``, the (dur, d, c) event and
    censor counts per duration in duration order, and ``atrisk``, the
    users still at risk at each of them (ntot minus every earlier
    duration's d + c). Its SQL twin is _LIFE_TABLE_CTES."""
    e = table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("fd"),
        F.max(F.to_date("ts")).alias("ld"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("pd"),
    )
    f = u.select(
        F.when(F.col("pd").isNotNull(), F.datediff("pd", "fd"))
        .otherwise(F.datediff("ld", "fd"))
        .alias("dur"),
        F.when(F.col("pd").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    g = f.groupBy("dur").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(1 - F.col("ev")).cast("long").alias("c"),
    )
    one = g.agg(
        F.sum(F.col("d") + F.col("c")).cast("long").alias("ntot"),
        F.array_sort(F.collect_list(F.struct("dur", "d", "c"))).alias("rs"),
    )
    return one.select(
        "ntot",
        "rs",
        F.transform(
            "rs",
            lambda r, i: F.col("ntot")
            - F.coalesce(
                F.aggregate(
                    F.slice("rs", F.lit(1), i),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x["d"] + x["c"],
                ),
                F.lit(0).cast("long"),
            ),
        ).alias("atrisk"),
    )


def _life_rows(
    spark: SparkSession, sf_dir: str, terms: dict[str, Column], *out: Column
) -> DataFrame:
    """(dur, n_risk, n_event, n_censor, *out) per duration of _life_table,
    in duration order: each ``terms`` array (name -> a per-duration array
    over rs and atrisk) rides next to the exploded row at its position p,
    for ``out`` to read (_prefix_sum)."""
    t = _life_table(spark, sf_dir).select("rs", "atrisk", *[c.alias(n) for n, c in terms.items()])
    ex = t.select(F.posexplode("rs").alias("p", "r"), "atrisk", *terms)
    return ex.select(
        F.col("r.dur").alias("dur"),
        F.element_at("atrisk", F.col("p") + 1).alias("n_risk"),
        F.col("r.d").alias("n_event"),
        F.col("r.c").alias("n_censor"),
        *out,
    ).orderBy("dur")


def _prefix_sum(col: str) -> Column:
    """ROUND-6 of the ordered fold of the life-table array ``col`` up to
    its exploded position p (the list discipline of both engines)."""
    return F.round(
        F.aggregate(F.slice(col, F.lit(1), F.col("p") + 1), F.lit(0.0), lambda a, x: a + x),
        6,
    )


@query(
    "events_survival_km",
    oracle=f"""{_LIFE_TABLE_CTES},
    t AS (
      SELECT rs, atrisk,
             list_transform(rs, (r, i) ->
               CASE WHEN r.d > 0 AND atrisk[i] > r.d
                    THEN ln(CAST(atrisk[i] - r.d AS DOUBLE)
                            / CAST(atrisk[i] AS DOUBLE))
                    WHEN r.d > 0 THEN NULL
                    ELSE 0.0 END) AS terms
      FROM enr)
    SELECT rs[i].dur AS dur,
           atrisk[i] AS n_risk,
           rs[i].d AS n_event,
           rs[i].c AS n_censor,
           CASE WHEN terms[i] IS NULL THEN NULL
                ELSE ROUND(list_aggregate(terms[1:i], 'sum'), 6)
           END AS ln_surv
    FROM t, UNNEST(range(1, len(rs) + 1)) AS ix(i)
    ORDER BY dur
    """,
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion life table — the estimator every
    retention/conversion dashboard ultimately plots. A user's duration
    is days from first activity to FIRST PURCHASE (the event); a user
    who never purchases is RIGHT-CENSORED at their last active day. KM
    is the standard way to use the censored users' partial information
    ("still hasn't converted after 20 days") instead of dropping them,
    which naive conversion-latency averages get wrong.

    Determinism: ln(S(t)) is emitted instead of S(t) — ln is the
    cross-engine-exact transcendental (probed r7; exp is not), and each
    per-duration hazard term ln((n_i - d_i)/n_i) is one exact division
    plus one ln. The ordered prefix fold over duration uses the
    jensen_shannon list discipline in BOTH engines (identical
    association order), closed with ROUND-6. If every remaining at-risk
    user converts at the final duration (S hits exactly 0), that row's
    ln_surv is NULL by explicit CASE in both engines — never a fold
    over a NULL term, which the two engines' sums treat differently
    (Spark propagates, DuckDB list-sum skips).

    Plan: ONE per-user conditional min/max shuffle (the event and censor
    dates come out of the same aggregate — no second scan, no join),
    one per-duration count shuffle bounded by the calendar span rather
    than |users|, then a single-row ordered-array fold and posexplode.
    The O(k^2) slice sums run over k <= span-days elements inside one
    row — never a global window — so the shape is unchanged at 100 TB
    where |users| grows but the calendar does not.
    """
    terms = F.transform(
        "rs",
        lambda r, i: F.when(
            (r["d"] > 0) & (F.element_at("atrisk", i + 1) > r["d"]),
            F.log(
                (F.element_at("atrisk", i + 1) - r["d"]).cast("double")
                / F.element_at("atrisk", i + 1).cast("double")
            ),
        ).when(r["d"] > 0, F.lit(None).cast("double")).otherwise(F.lit(0.0)),
    )
    ln_surv = F.when(
        F.element_at("terms", F.col("p") + 1).isNull(), F.lit(None).cast("double")
    ).otherwise(_prefix_sum("terms"))
    return _life_rows(spark, sf_dir, {"terms": terms}, ln_surv.alias("ln_surv"))


@query(
    "events_attribution_position",
    oracle="""
    WITH p AS (
      SELECT user_id, MIN(ts) AS t0 FROM events
      WHERE event_type = 'purchase' GROUP BY 1),
    t AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id
      FROM events e JOIN p ON e.user_id = p.user_id
      WHERE e.ts < p.t0 AND e.event_type <> 'purchase'),
    r AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS k
      FROM t),
    c AS (
      SELECT user_id, event_type,
             CASE
               WHEN k = 1 THEN 1000000
               WHEN k = 2 THEN 500000
               WHEN rn = 1 OR rn = k THEN 400000
               ELSE 200000 // (k - 2)
             END AS credit_ppm
      FROM r)
    SELECT event_type AS channel,
           CAST(SUM(credit_ppm) AS BIGINT) AS credit_ppm,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_touches
    FROM c GROUP BY 1 ORDER BY 1
    """,
)
def events_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: every touch
    before a user's first purchase earns credit — 40% to the first
    touch, 40% to the last, the middle 20% split evenly — the industry
    default between last-touch (events_attribution_join) and linear,
    because discovery and closing both matter.

    Credits are EXACT INTEGERS in parts-per-million: first/last earn
    400000 ppm (single-touch paths 1000000, two-touch 500000 each),
    each middle touch earns 200000 div (k-2) with the integer remainder
    deliberately truncated — a documented quirk that buys order-
    independent exact integer sums, so the per-channel totals are
    bit-identical under ANY partitioning with no float anywhere and no
    ordered folds needed. (The float version of this op would need a
    per-channel ordered fold over |users| rows — unbounded. Integers
    make the commutative sum safe.)

    Plan: the first-purchase anchor is one per-user MIN; the touch scan
    joins it on the user key with the time window as a scan predicate
    (the funnel shape); position and path length are ONE partitioned
    window pass (per-user, never global); the final rollup is a
    map-side-combined channel aggregate.
    """
    e = table(spark, sf_dir, "events")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    t = (
        e.join(p, "user_id")
        .filter((F.col("ts") < F.col("t0")) & (F.col("event_type") != "purchase"))
        .select("user_id", "event_type", "ts", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wk = Window.partitionBy("user_id")
    r = t.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wk).cast("long").alias("k"),
    )
    c = r.select(
        "user_id",
        "event_type",
        F.when(F.col("k") == 1, F.lit(1000000))
        .when(F.col("k") == 2, F.lit(500000))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("k")), F.lit(400000))
        .otherwise(F.expr("200000 div (k - 2)"))
        .cast("long")
        .alias("credit_ppm"),
    )
    return (
        c.groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.sum("credit_ppm").cast("long").alias("credit_ppm"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_touches"),
        )
        .orderBy("channel")
    )


@query(
    "events_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    dau AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
    cov AS (
      SELECT DISTINCT user_id, d + CAST(i AS INTEGER) AS t
      FROM ud, UNNEST(range(0, 7)) AS u(i)),
    wau AS (
      SELECT t AS d, CAST(COUNT(*) AS BIGINT) AS wau FROM cov GROUP BY 1)
    SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau,
           CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    ORDER BY day
    """,
)
def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the product-health ratio every growth
    team tracks (what share of this week's actives showed up today;
    1/7 = everyone visits weekly, 1.0 = everyone visits daily). Joining
    days only present in the data keeps the first six days' partial
    trailing windows, the standard dashboard convention.

    The trailing-7-day DISTINCT is the interesting distributed problem:
    a windowed COUNT(DISTINCT) does not compose, and a date-RANGE join
    is a nested loop. This op instead EXPLODES each (user, day) into the
    7 future days it covers and de-dups — turning WAU into a plain
    (user, coverage-day) distinct + count, ALL equi-shuffles that
    map-side combine (the explode factor is a constant 7, and the
    distinct collapses it back before anything wide moves). Pure integer
    counts; stickiness is one exact IEEE division, emitted unrounded.

    At 100 TB: the (user, day) distinct is the only data-sized shuffle;
    coverage rows are 7x that but fixed-width and pre-aggregated
    map-side. No window, no range join, no broadcast.
    """
    e = table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    cov = (
        ud.select(
            "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "d"
        )
        .select("user_id", F.expr("date_add(d, i)").alias("t"))
        .distinct()
    )
    wau = cov.groupBy(F.col("t").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("wau")
    )
    return (
        dau.join(wau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


@query(
    "events_cooccurrence_pmi",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
      FROM events),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ctx
          FROM (SELECT DISTINCT user_id, d FROM ut)),
    m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
          FROM ut GROUP BY 1),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.d = b.d
       AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT p.type_a, p.type_b, p.n_ab, ma.n_t AS n_a, mb.n_t AS n_b,
           ROUND(ln(CAST(p.n_ab AS DOUBLE) * CAST(n.n_ctx AS DOUBLE)
                    / (CAST(ma.n_t AS DOUBLE) * CAST(mb.n_t AS DOUBLE))), 6)
             AS pmi
    FROM p JOIN m ma ON p.type_a = ma.event_type
           JOIN m mb ON p.type_b = mb.event_type, n
    ORDER BY type_a, type_b
    """,
)
def events_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event-type PAIRS within a
    (user, day) context: PMI = ln(P(a,b) / (P(a)P(b))) over "this user
    did both a and b on the same day" — the association measure behind
    feature co-occurrence analysis and word-embedding objectives (SGNS
    factorizes exactly this matrix). Positive = the behaviors travel
    together beyond chance, negative = they repel; raw co-counts can't
    tell those apart because popular types co-occur with everything.
    (The context must be NARROW to carry signal — at user granularity
    every active user eventually does everything and all PMIs collapse
    to 0; a day of one user's activity is the natural session-scale
    context, the same windowing choice word2vec makes.)

    Determinism: all counts are exact integers off (user, day, type)
    DISTINCT frames; PMI is one mirrored expression — integer products
    cast to double, one division, one ln (the cross-engine-exact
    transcendental), closed with ROUND-6. The 1-row context-count
    denominator rides a bounded broadcast (the stats_ks_test shape).

    Plan: the (user, day, type) distinct is the only data-sized shuffle;
    the pair join is an equi self-join on (user, day) whose fan-out is
    bounded by |types|² per context; marginals are |types|-row broadcast
    join-backs. At 100 TB: unchanged — type cardinality bounds
    everything after the distinct.
    """
    e = table(spark, sf_dir, "events")
    ut = e.select("user_id", F.to_date("ts").alias("d"), "event_type").distinct()
    n = (
        ut.select("user_id", "d")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_ctx"))
    )
    m = ut.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    a = ut.select("user_id", "d", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", "d", F.col("event_type").alias("type_b"))
    p = (
        a.join(b, ["user_id", "d"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    out = (
        p.join(
            F.broadcast(
                m.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                m.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
            ),
            "type_b",
        )
        .crossJoin(F.broadcast(n))
    )
    return out.select(
        "type_a",
        "type_b",
        "n_ab",
        "n_a",
        "n_b",
        F.round(
            F.log(
                F.col("n_ab").cast("double")
                * F.col("n_ctx").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ),
            6,
        ).alias("pmi"),
    ).orderBy("type_a", "type_b")


@query(
    "events_velocity_alert",
    oracle="""
    WITH h AS (
      SELECT user_id, date_trunc('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    u AS (
      SELECT user_id,
             CAST(MAX(n) AS BIGINT) AS peak_hour_events,
             CAST(SUM(n) AS BIGINT) AS total_events,
             CAST(COUNT(*) AS BIGINT) AS active_hours
      FROM h GROUP BY 1)
    SELECT user_id, peak_hour_events, total_events, active_hours,
           CAST(peak_hour_events * 100 AS DOUBLE)
             / CAST(total_events AS DOUBLE) AS peak_pct
    FROM u
    ORDER BY peak_hour_events DESC, user_id
    LIMIT 10
    """,
)
def events_velocity_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity screening — the rate-limiting / bot-detection primitive:
    each user's PEAK events-in-one-hour, with their total volume and how
    concentrated that peak is. A human's activity spreads across hours;
    a script's collapses into one — the top-10 by peak hour is the
    review queue an abuse team actually works.

    Determinism: tumbling-hour buckets (date_trunc is exact integer time
    arithmetic in both engines), pure integer counts, max/sum/count per
    user, and one exact division for the concentration percentage —
    no rounding needed. Ties in the cut break on user_id.

    Plan: two map-side-combined aggregates — (user, hour) then user —
    and a 10-row TakeOrdered; no window, no join, no broadcast. The
    (user, hour) count is the only data-sized shuffle, and a tumbling
    bucket (unlike a sliding one) needs no self-join: at 100 TB this is
    the cheapest alert that catches the dumbest — and most common —
    abuse pattern.
    """
    e = table(spark, sf_dir, "events")
    h = e.groupBy("user_id", F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    u = h.groupBy("user_id").agg(
        F.max("n").cast("long").alias("peak_hour_events"),
        F.sum("n").cast("long").alias("total_events"),
        F.count(F.lit(1)).cast("long").alias("active_hours"),
    )
    return (
        u.select(
            "user_id",
            "peak_hour_events",
            "total_events",
            "active_hours",
            (
                (F.col("peak_hour_events") * 100).cast("double")
                / F.col("total_events").cast("double")
            ).alias("peak_pct"),
        )
        .orderBy(F.col("peak_hour_events").desc(), "user_id")
        .limit(10)
    )


@query(
    "orders_backlog_aging",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderdate) AS asof FROM orders),
    o AS (
      SELECT o_orderstatus,
             CAST(date_diff('day', o_orderdate, mx.asof) AS BIGINT) AS age,
             o_totalprice
      FROM orders, mx
      WHERE o_orderstatus <> 'F'),
    b AS (
      SELECT o_orderstatus,
             CASE WHEN age <= 30 THEN '0-30'
                  WHEN age <= 90 THEN '31-90'
                  WHEN age <= 365 THEN '91-365'
                  ELSE '365+' END AS bucket,
             o_totalprice
      FROM o)
    SELECT o_orderstatus, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS open_value
    FROM b GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlog aging report — the receivables/fulfilment classic: every
    NON-FULFILLED order bucketed by how long it has sat open (as of the
    newest order date in the table), with count and tied-up value per
    (status, age-bucket). The 365+ bucket is where a fulfilment team
    finds the orders everyone forgot.

    Determinism: the as-of anchor is MAX(o_orderdate) (a 1-row broadcast,
    the stream_watermark shape); ages are integer day diffs; bucket edges
    are integer comparisons; value sums are exact decimal with one final
    double cast — no rounding.

    Plan: the status filter prunes at the scan (pushed predicate), the
    1-row anchor broadcasts back, and one map-side-combined aggregate
    lands |statuses| x 4 rows. Nothing else.
    """
    allo = table(spark, sf_dir, "orders")
    # The as-of anchor is the newest order date in the WHOLE table — the
    # report's "today" — not the newest open order (which would silently
    # shrink every age when recent orders happen to be fulfilled).
    mx = allo.agg(F.max("o_orderdate").alias("asof"))
    o = allo.filter(F.col("o_orderstatus") != "F")
    aged = o.crossJoin(F.broadcast(mx)).select(
        "o_orderstatus",
        F.datediff("asof", "o_orderdate").cast("long").alias("age"),
        "o_totalprice",
    )
    b = aged.select(
        "o_orderstatus",
        F.when(F.col("age") <= 30, "0-30")
        .when(F.col("age") <= 90, "31-90")
        .when(F.col("age") <= 365, "91-365")
        .otherwise("365+")
        .alias("bucket"),
        "o_totalprice",
    )
    return (
        b.groupBy("o_orderstatus", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("open_value"),
        )
        .orderBy("o_orderstatus", "bucket")
    )


@query(
    "events_peak_concurrency",
    oracle="""
    WITH b AS (
      SELECT epoch_us(ts) AS t, 1 AS d FROM events
      UNION ALL
      SELECT epoch_us(ts + INTERVAL 5 MINUTE) AS t, -1 AS d FROM events),
    g AS (SELECT t, CAST(SUM(d) AS BIGINT) AS net FROM b GROUP BY 1),
    c AS (
      SELECT t, SUM(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cum
      FROM g)
    SELECT strftime(make_timestamp(t), '%Y-%m-%d') AS day,
           CAST(MAX(cum) AS BIGINT) AS peak_concurrent,
           CAST(COUNT(*) AS BIGINT) AS n_boundaries
    FROM c GROUP BY 1 ORDER BY 1
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day — the capacity-planning sweep-line: treat
    each event as a 5-minute activity window, +1 at start, -1 at the
    EXCLUSIVE end, and the running boundary sum at any instant is the
    number of concurrently active windows; the daily max is the number a
    capacity planner provisions for. Grouping boundaries by timestamp
    BEFORE the prefix sum nets same-instant starts against ends, which
    IS the exclusive-end convention — no ordering-within-tie subtlety
    survives the net.

    Determinism: boundary times are exact integer microseconds, deltas
    and running sums are pure integers, and the global prefix runs on
    _two_phase_cumsum (bucket-parallel, no single-partition window — the
    engine's cumsum and the oracle's integer window agree under any
    ordering). Peak-per-day is a plain max.

    Plan: one boundary union (two scan projections), one map-side
    combined net per timestamp, the two-phase prefix, and a |days|-row
    max. The sweep line is THE way to answer concurrency at scale — the
    interval self-join alternative is quadratic in overlap density
    (measured for join_interval_overlap).
    """
    from wri_data_processing_spark.queries.stats_numeric import _two_phase_cumsum

    e = table(spark, sf_dir, "events")
    b = e.select(F.unix_micros("ts").alias("t"), F.lit(1).alias("d")).unionAll(
        e.select(
            F.unix_micros(F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("t"),
            F.lit(-1).alias("d"),
        )
    )
    g = b.groupBy("t").agg(F.sum("d").cast("long").alias("net"))
    cum = _two_phase_cumsum(g, "t", ["net"])
    return (
        cum.groupBy(
            F.date_format(F.timestamp_micros(F.col("t")), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.max("cum_net").cast("long").alias("peak_concurrent"),
            F.count(F.lit(1)).cast("long").alias("n_boundaries"),
        )
        .orderBy("day")
    )


@query(
    "events_forecast_backtest",
    oracle="""
    WITH g AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    j AS (
      SELECT cur.event_type, cur.d, cur.c,
             lag1.c AS f_naive, lag7.c AS f_seasonal
      FROM g cur
      JOIN g lag1 ON lag1.event_type = cur.event_type
                 AND lag1.d = cur.d - INTERVAL 1 DAY
      JOIN g lag7 ON lag7.event_type = cur.event_type
                 AND lag7.d = cur.d - INTERVAL 7 DAY)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_origins,
           CAST(SUM(abs(c - f_naive)) AS BIGINT) AS ae_naive,
           CAST(SUM(abs(c - f_seasonal)) AS BIGINT) AS ae_seasonal,
           CAST(SUM(abs(c - f_naive)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mae_naive,
           CAST(SUM(abs(c - f_seasonal)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mae_seasonal
    FROM j GROUP BY 1 ORDER BY 1
    """,
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest — the evaluation that should gate
    any forecaster before a dashboard trusts it: at every day with both
    baselines available, score yesterday's value (naive) and
    last-same-weekday's value (seasonal naive) against the actual, and
    report MAE per event type. These two baselines are the published
    floor every fancier model must beat (the M-competitions' enduring
    lesson); events_holt_forecast produces the model — this op produces
    the bar.

    Determinism: daily counts and absolute errors are pure integers
    (exact BIGINT sums emitted alongside), MAE is one exact division
    each. The lag joins are date-key EQUI-joins on the calendar-bounded
    daily frame — no window needed, no ordering sensitivity at all.

    Plan: one (type, day) count shuffle; two self equi-joins on
    (type, date-k) over |types| x span rows; one rollup to |types| rows.
    """
    e = table(spark, sf_dir, "events")
    g = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    l1 = g.select(
        F.col("event_type").alias("et1"),
        F.date_add("d", 1).alias("d1"),
        F.col("c").alias("f_naive"),
    )
    l7 = g.select(
        F.col("event_type").alias("et7"),
        F.date_add("d", 7).alias("d7"),
        F.col("c").alias("f_seasonal"),
    )
    j = g.join(
        l1, (F.col("event_type") == F.col("et1")) & (F.col("d") == F.col("d1"))
    ).join(l7, (F.col("event_type") == F.col("et7")) & (F.col("d") == F.col("d7")))
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_origins"),
            F.sum(F.abs(F.col("c") - F.col("f_naive"))).cast("long").alias("ae_naive"),
            F.sum(F.abs(F.col("c") - F.col("f_seasonal")))
            .cast("long")
            .alias("ae_seasonal"),
            (
                F.sum(F.abs(F.col("c") - F.col("f_naive"))).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mae_naive"),
            (
                F.sum(F.abs(F.col("c") - F.col("f_seasonal"))).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mae_seasonal"),
        )
        .orderBy("event_type")
    )


@query(
    "events_interarrival_quantiles",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(LAG(ts) OVER (PARTITION BY event_type, user_id
                                                ORDER BY ts, event_id)))
                      AS BIGINT) AS gap
      FROM events),
    gd AS (
      SELECT event_type AS g, gap AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM s WHERE gap IS NOT NULL GROUP BY 1, 2),
    w AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM gd GROUP BY 1),
    cum AS (
      SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cm
      FROM gd)
    SELECT cum.g AS event_type, w.n AS n_gaps,
           MIN(CASE WHEN cm >= (w.n * 50 + 99) // 100 THEN v END) AS p50_sec,
           MIN(CASE WHEN cm >= (w.n * 90 + 99) // 100 THEN v END) AS p90_sec,
           MIN(CASE WHEN cm >= (w.n * 99 + 99) // 100 THEN v END) AS p99_sec
    FROM cum JOIN w USING (g)
    GROUP BY 1, 2 ORDER BY 1
    """,
)
def events_interarrival_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact inter-arrival latency distribution per event type — p50/p90/
    p99 of the gap between a user's consecutive events of that type, THE
    operational metric shape (tail latencies, not means, are what pages
    fire on). The per-(type, user) LAG keeps gaps within one user's
    stream — mixing users would measure traffic volume, not behavior.

    Determinism: gaps are exact integer seconds (floored epochs — the
    stats_proportion_ztest convention: Spark's unix_timestamp truncates
    where a bare CAST rounds half-even); quantiles are the established
    VALUE-EXACT (N·p + 99)//100 rank picks against the per-group
    distinct-gap cumulative frame — the engine runs the scalable
    _grouped_two_phase_cumsum, the oracle an integer window cumsum, and
    integer prefix sums agree under any ordering.

    Plan: one partitioned LAG (per type+user, never global), one
    distinct-gap count shuffle, grouped two-phase prefix, one rank-pick
    aggregate to |types| rows.
    """
    from wri_data_processing_spark.queries.stats_numeric import (
        _grouped_two_phase_cumsum,
    )

    e = table(spark, sf_dir, "events")
    w_lag = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type",
        (
            F.unix_timestamp("ts").cast("long")
            - F.unix_timestamp(F.lag("ts").over(w_lag)).cast("long")
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    gd = s.groupBy(F.col("event_type").alias("g"), F.col("gap").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cum = _grouped_two_phase_cumsum(gd, "g", "v", ["c"])
    w_ = gd.groupBy("g").agg(F.sum("c").cast("long").alias("n"))
    joined = cum.join(F.broadcast(w_), "g")
    pick = lambda p: F.min(  # noqa: E731
        F.when(
            F.col("cum_c") >= F.expr(f"(n * {p} + 99) div 100").cast("long"),
            F.col("v"),
        )
    )
    return (
        joined.groupBy("g", "n")
        .agg(
            pick(50).alias("p50_sec"),
            pick(90).alias("p90_sec"),
            pick(99).alias("p99_sec"),
        )
        .select(
            F.col("g").alias("event_type"),
            F.col("n").alias("n_gaps"),
            "p50_sec",
            "p90_sec",
            "p99_sec",
        )
        .orderBy("event_type")
    )


@query(
    "events_cohort_ltv",
    oracle="""
    WITH f AS (
      SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY 1),
    j AS (
      SELECT strftime(date_trunc('week', f.first_ts), '%Y-%m-%d')
               AS cohort_week,
             CAST(date_diff('day', date_trunc('week', f.first_ts),
                            date_trunc('week', e.ts)) // 7 AS BIGINT) AS week_n,
             CAST(e.value AS DECIMAL(18,6)) AS y
      FROM events e JOIN f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase' AND e.value IS NOT NULL),
    w AS (
      SELECT cohort_week, week_n,
             CAST(SUM(y) AS DECIMAL(38,6)) AS rev
      FROM j GROUP BY 1, 2),
    c AS (
      SELECT cohort_week, week_n, rev,
             CAST(SUM(rev) OVER (PARTITION BY cohort_week ORDER BY week_n
                                 ROWS UNBOUNDED PRECEDING)
                  AS DECIMAL(38,6)) AS cum_rev
      FROM w)
    SELECT cohort_week, week_n,
           CAST(CAST(rev * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0
             AS revenue,
           CAST(CAST(cum_rev * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0
             AS ltv_cum
    FROM c ORDER BY cohort_week, week_n
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve — the money twin of events_retention_cohorts:
    purchase revenue per signup-week cohort per week-since-signup, plus
    the running cumulative (the LTV curve payback models are fit to).
    Retention says WHO comes back; this says what their return is WORTH
    — the pair every growth model needs together.

    Determinism: the retention op's integer week arithmetic verbatim
    (date_trunc to Monday both engines, day-diff // 7); revenue
    accumulates in exact DECIMAL through both the weekly sum AND the
    running window (decimal window sums are order-independent), and each
    emitted cell leaves decimal space through the micros-int64 bridge —
    (x*1e6)::BIGINT::DOUBLE/1e6 — not a direct DECIMAL->double cast,
    which is engine-divergent by one ULP above 2^53 scaled (r14 cast
    audit; exact to $9.2e12 per cell, loud past it).

    Plan: one per-user MIN, a first-ts join back onto the filtered
    purchase scan (the retention shape), a (cohort, week) aggregate
    bounded by weeks², and a cohort-PARTITIONED running window (never
    global; each cohort's frame is |weeks| rows).
    """
    e = table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    j = (
        e.filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .join(f, "user_id")
        .select(
            F.date_format(F.date_trunc("week", "first_ts"), "yyyy-MM-dd").alias(
                "cohort_week"
            ),
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")),
                    F.date_trunc("week", "first_ts"),
                )
                / 7
            )
            .cast("long")
            .alias("week_n"),
            F.col("value").cast("decimal(18,6)").alias("y"),
        )
    )
    w = j.groupBy("cohort_week", "week_n").agg(
        F.sum("y").cast("decimal(38,6)").alias("rev")
    )
    win = (
        Window.partitionBy("cohort_week")
        .orderBy("week_n")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        w.withColumn("cum_rev", F.sum("rev").over(win).cast("decimal(38,6)"))
        .select(
            "cohort_week",
            "week_n",
            # micros-int64 bridge (r14 cast audit): a direct DECIMAL->double
            # cast diverges one ULP across engines above 2^53 scaled — a
            # cohort-week cell crosses $9e9 well inside 100 TB. The bridge
            # is bit-exact to $9.2e12/cell; int64->double agrees per IEEE.
            ((F.col("rev") * 1000000).cast("long").cast("double") / F.lit(1000000.0))
            .alias("revenue"),
            (
                (F.col("cum_rev") * 1000000).cast("long").cast("double")
                / F.lit(1000000.0)
            ).alias("ltv_cum"),
        )
        .orderBy("cohort_week", "week_n")
    )


@query(
    "orders_priority_sla",
    oracle="""
    WITH first_ship AS (
      SELECT l_orderkey, MIN(l_shipdate) AS ship0
      FROM lineitem GROUP BY 1),
    j AS (
      SELECT o.o_orderpriority,
             CAST(date_diff('day', o.o_orderdate, f.ship0) AS BIGINT)
               AS days_to_ship
      FROM orders o JOIN first_ship f ON o.o_orderkey = f.l_orderkey)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN days_to_ship <= 30 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_within_30d,
           CAST(SUM(CASE WHEN days_to_ship <= 30 THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS sla_rate,
           CAST(MAX(days_to_ship) AS BIGINT) AS worst_days
    FROM j GROUP BY 1 ORDER BY 1
    """,
)
def orders_priority_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA compliance by order priority — the fulfilment scorecard: what
    fraction of each priority class got its FIRST shipment out within 30
    days, and the worst case. The first-shipment anchor matters (an
    order ships in parts; the SLA clock stops at the first line out the
    door, which is MIN over lineitems, not a join against every line).

    If the urgent classes don't beat the low ones here, the priority
    field is decorative — the exact dashboard a TPC-H-shaped business
    would run daily.

    Determinism: integer day diffs, integer threshold compares, one
    exact division per class. Plan: one map-side-combined MIN per order
    (collapses lineitem before the join — the agg-below-join shape q18
    pins), one equi-join to orders, one rollup to |priorities| rows.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("ship0"))
    j = o.join(first_ship, o["o_orderkey"] == first_ship["l_orderkey"]).select(
        "o_orderpriority",
        F.datediff("ship0", "o_orderdate").cast("long").alias("days_to_ship"),
    )
    within = (F.col("days_to_ship") <= 30).cast("long")
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(within).cast("long").alias("n_within_30d"),
            (F.sum(within).cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "sla_rate"
            ),
            F.max("days_to_ship").cast("long").alias("worst_days"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "events_absence_alert",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events),
    u AS (
      SELECT user_id, event_type,
             CAST(COUNT(DISTINCT CASE WHEN CAST(ts AS DATE) <= maxd - 7
                                      THEN CAST(ts AS DATE) END) AS BIGINT)
               AS days_before,
             CAST(COUNT(CASE WHEN CAST(ts AS DATE) > maxd - 7
                             THEN 1 END) AS BIGINT) AS events_last7,
             MAX(CAST(ts AS DATE)) AS last_seen,
             ANY_VALUE(maxd) AS maxd
      FROM events, mx GROUP BY 1, 2)
    SELECT user_id, event_type, days_before,
           strftime(last_seen, '%Y-%m-%d') AS last_seen,
           CAST(date_diff('day', last_seen, maxd) AS BIGINT) AS days_silent
    FROM u
    WHERE days_before >= 5 AND events_last7 = 0
    ORDER BY days_silent DESC, user_id, event_type
    """,
)
def events_absence_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absence alert — the win-back/regression list: (user, behavior)
    pairs where the user was REGULAR at that event type (>= 5 distinct
    active days before the final week — a calendar-relative floor; the
    pre-r13 >= 10 was a COUNT floor that starved at sf0.001 where users
    have fewer events, making the local oracle test vacuous 0==0) and then went completely silent
    in it for the last 7 days. Dashboards fire on what happened; this
    fires on what STOPPED happening — churn is an absence, not an event
    — and the per-BEHAVIOR granularity is what makes it actionable (a
    user who still clicks but stopped purchasing is a different alert
    than one who vanished; whole-user absence is also invisible on any
    corpus where everyone shows up weekly, which this fixture probes
    proved the hard way).

    Determinism: one whole-table max date via the 1-row broadcast, exact
    integer distinct-day and event counts split at the maxd - 7 boundary
    inside ONE conditional aggregate — no second scan, no anti-join of
    two time slices (the naive spelling); days_silent is an integer date
    diff; ordering ties on (user, type).

    Plan: one scan, the stream_watermark-shape broadcast back, one
    (user, type) conditional aggregate, and a filtered sort of the tiny
    alert set. At 100 TB the alert list, not the log, is the output.
    """
    e = table(spark, sf_dir, "events")
    mx = e.agg(F.max(F.to_date("ts")).alias("maxd"))
    u = (
        e.crossJoin(F.broadcast(mx))
        .groupBy("user_id", "event_type")
        .agg(
            F.countDistinct(
                F.when(
                    F.to_date("ts") <= F.date_sub(F.col("maxd"), 7),
                    F.to_date("ts"),
                )
            )
            .cast("long")
            .alias("days_before"),
            F.count(
                F.when(F.to_date("ts") > F.date_sub(F.col("maxd"), 7), 1)
            )
            .cast("long")
            .alias("events_last7"),
            F.max(F.to_date("ts")).alias("last_seen"),
            F.first("maxd").alias("maxd"),
        )
    )
    return (
        u.filter((F.col("days_before") >= 5) & (F.col("events_last7") == 0))
        .select(
            "user_id",
            "event_type",
            "days_before",
            F.date_format("last_seen", "yyyy-MM-dd").alias("last_seen"),
            F.datediff("maxd", "last_seen").cast("long").alias("days_silent"),
        )
        .orderBy(F.col("days_silent").desc(), "user_id", "event_type")
    )


@query(
    "events_acf",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1),
    lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
    pairs AS (
      SELECT l.lag, a.n AS x, b.n AS y
      FROM daily a CROSS JOIN lags l
      JOIN daily b ON b.d = a.d + to_days(CAST(l.lag AS INTEGER))),
    s AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY 1)
    SELECT lag, k AS n_pairs,
           ROUND(CAST(k * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(k * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(k * syy - sy * sy AS DOUBLE))), 6) AS acf
    FROM s ORDER BY lag
    """,
)
def events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The autocorrelation function at lags 1..7 of the daily event-count
    series — the full weekly ACF profile behind every seasonality/ARIMA
    decision (events_autocorr_lag1 is the single point; the lag-7 spike
    vs lag-1..6 decay is what distinguishes weekly seasonality from
    momentum, and it feeds directly into events_holt_forecast's
    smoothing choices).

    Semantics: per-lag Pearson r over pairwise-complete (day, day+lag)
    pairs — computed with NO window function at all: the shifted series
    is an equi-JOIN of the daily frame against itself on d + lag, so
    there is no global-order exchange anywhere (the events_autocorr_lag1
    window is over the tiny aggregated frame; this op shows the
    join-based form that stays shuffle-clean at any series length).

    Exactness: daily counts are ints, all six power sums per lag are
    exact BIGINTs, and r is the one-shot closed form over doubles with
    cross-engine-safe sqrt, ROUND-6.

    Plan: ONE data-sized aggregate (the daily rollup, localCheckpointed
    — it feeds both join sides), then a bounded 7-row lag-frame
    broadcast cross (whitelisted, the events_ewma shape) and an
    equi-join on the date key; 7 output rows.
    """
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a = daily.crossJoin(F.broadcast(lags)).select(
        F.expr("date_add(d, lag)").alias("dj"), "lag", F.col("n").alias("x")
    )
    b = daily.select(F.col("d").alias("dj"), F.col("n").alias("y"))
    pairs = a.join(b, "dj")
    s, r = pearson(pairs, "k", ["lag"])
    return s.select(
        "lag", F.col("k").alias("n_pairs"), F.round(r, 6).alias("acf")
    ).orderBy("lag")


@query(
    "events_burstiness",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS s1,
             CAST(SUM(n * n) AS BIGINT) AS s2
      FROM daily GROUP BY 1),
    m AS (
      SELECT event_type, k, s1,
             CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE) AS mu,
             (CAST(s2 AS DOUBLE)
              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE))
               / CAST(k AS DOUBLE) AS var
      FROM g)
    SELECT event_type, k AS n_days, s1 AS n_events,
           ROUND(var / mu, 6) AS dispersion_index,
           ROUND((sqrt(var) - mu) / (sqrt(var) + mu), 6) AS burstiness
    FROM m ORDER BY event_type
    """,
)
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness profile per event type over the daily count series: the
    dispersion index D = var/mean (Poisson arrivals give D = 1 — above
    it, traffic clumps; below, it's anti-bursty/regular) and the
    Goh-Barabási burstiness B = (σ-μ)/(σ+μ) in [-1, 1]. The capacity
    and anomaly question events_velocity_alert thresholds ad hoc,
    answered distributionally — and the diagnostic that says whether
    events_rate_test's Poisson assumption is even admissible.

    Determinism: daily counts are ints; k, Σn, Σn² exact; population
    mean/variance expand in one mirrored double tree; σ is the safe
    sqrt; both ratios ROUND-6. Plan: one map-side-combined (type, day)
    aggregate — the only data-sized stage — then a |types|-row fold.
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("k").cast("double")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
        / F.col("k").cast("double")
    ) / F.col("k").cast("double")
    sigma = F.sqrt(var)
    return g.select(
        "event_type",
        F.col("k").alias("n_days"),
        F.col("s1").alias("n_events"),
        F.round(var / mu, 6).alias("dispersion_index"),
        F.round((sigma - mu) / (sigma + mu), 6).alias("burstiness"),
    ).orderBy("event_type")


@query(
    "events_new_vs_returning",
    oracle="""
    WITH firstseen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1),
    tagged AS (
      SELECT CAST(e.ts AS DATE) AS d,
             CASE WHEN CAST(e.ts AS DATE) = f.d0 THEN 1 ELSE 0 END AS is_new
      FROM events e JOIN firstseen f ON e.user_id = f.user_id),
    g AS (
      SELECT d, CAST(SUM(is_new) AS BIGINT) AS new_events,
             CAST(SUM(1 - is_new) AS BIGINT) AS returning_events
      FROM tagged GROUP BY 1)
    SELECT strftime(d, '%Y-%m-%d') AS d, new_events, returning_events,
           ROUND(CAST(new_events AS DOUBLE)
                 / CAST(new_events + returning_events AS DOUBLE), 6)
             AS new_frac
    FROM g ORDER BY d LIMIT 14
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning traffic split for the first 14 days — the growth
    dashboard's top-line decomposition (acquisition vs engagement): an
    event is "new" iff it falls on its user's FIRST active day. The
    user grain of text_heaps_law's first-seen rewrite — and like it, the
    first-seen tag is computed as a min-aggregate + equi-join back, never
    a running window over the raw stream.

    Determinism: first-seen days and counts are exact; the fraction is
    one division, ROUND-6; the 14-day LIMIT rides the date ordering.

    Plan: one per-user min shuffle, one equi-join back on user_id (the
    aggregate side auto-broadcasts at dimension scale; at data scale
    it's a co-partitioned shuffle join on the same key), one per-day
    rollup. No window anywhere.
    """
    e = table(spark, sf_dir, "events")
    firstseen = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    tagged = e.join(firstseen, "user_id").select(
        F.to_date("ts").alias("d"),
        F.when(F.to_date("ts") == F.col("d0"), 1).otherwise(0).alias("is_new"),
    )
    g = tagged.groupBy("d").agg(
        F.sum("is_new").cast("long").alias("new_events"),
        F.sum(1 - F.col("is_new")).cast("long").alias("returning_events"),
    )
    return (
        g.orderBy("d")
        .limit(14)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            "new_events",
            "returning_events",
            F.round(
                F.col("new_events").cast("double")
                / (F.col("new_events") + F.col("returning_events")).cast("double"),
                6,
            ).alias("new_frac"),
        )
    )


@query(
    "events_seasonality_strength",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(isodow(ts) AS INTEGER) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    g AS (
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS kg,
             CAST(SUM(n) AS BIGINT) AS sg
      FROM daily GROUP BY 1),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS s,
             CAST(SUM(n * n) AS BIGINT) AS sq
      FROM daily),
    bet AS (
      -- 2520 = lcm(1..9) clears every per-dow group-size denominator
      SELECT CAST(SUM((2520 // kg) * sg * sg) AS BIGINT) AS b2520 FROM g)
    SELECT tot.k AS n_days,
           ROUND(CAST(tot.k * bet.b2520 - 2520 * tot.s * tot.s AS DOUBLE)
                 / CAST(tot.k * 2520 * tot.sq - 2520 * tot.s * tot.s
                        AS DOUBLE), 6) AS seasonality_strength
    FROM tot, bet
    """,
)
def events_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality STRENGTH of daily traffic: the fraction of day-to-day
    variance explained by the day-of-week profile (the eta-squared of
    the dow grouping — 0 = no weekly rhythm, 1 = traffic is pure
    weekday pattern). The scalar that says whether
    events_seasonality_dow's profile MATTERS, and the quantitative
    companion to events_acf's lag-7 spike and events_stl_decompose's
    seasonal component.

    Determinism: the variance ratio is computed ENTIRELY in integers
    before one closing division — the between-group sum of squares
    clears its per-dow denominators by scaling with 2520 (= lcm(1..10);
    every dow group size on a span up to ~10 weeks divides it, so
    (2520 div kg)*sg^2 is the EXACT 2520*sg^2/kg on this fixture), and
    eta^2 = (k*B - 2520*s^2) / (2520*k*sq - 2520*s^2) with every term
    an exact BIGINT — ONE division, ROUND-6. On longer spans where a
    group size stops dividing 2520 the integer div truncates
    IDENTICALLY in both engines (oracle-consistent, epsilon-biased);
    the exact escalation is scaling by the actual lcm of group sizes.

    Plan: one (day, dow) rollup — the only data-sized stage — then
    7-row and 1-row folds stitched by a broadcast (whitelisted).
    """
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date("ts").alias("d"), (F.weekday("ts") + 1).alias("dow")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    daily = daily.localCheckpoint()  # feeds the dow fold AND the totals
    g = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("kg"),
        F.sum("n").cast("long").alias("sg"),
    )
    bet = g.agg(
        F.sum(F.expr("(2520 div kg) * sg * sg")).cast("long").alias("b2520")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sq"),
    )
    out = tot.crossJoin(F.broadcast(bet))
    num = (F.col("k") * F.col("b2520") - 2520 * F.col("s") * F.col("s")).cast(
        "double"
    )
    den = (
        F.col("k") * 2520 * F.col("sq") - 2520 * F.col("s") * F.col("s")
    ).cast("double")
    return out.select(
        F.col("k").alias("n_days"),
        F.round(num / den, 6).alias("seasonality_strength"),
    )


@query(
    "ts_interpolate_linear",
    oracle="""
    WITH known AS (
      SELECT CAST(ts AS DATE) AS d,
             SUM(CAST(value AS DECIMAL(18,6))) AS rev
      FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL
        AND user_id % 97 = 0
      GROUP BY 1),
    bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM known),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
      FROM bounds),
    prev AS (
      SELECT s.d, MAX(k.d) AS dp
      FROM spine s JOIN known k ON k.d <= s.d GROUP BY 1),
    nxt AS (
      SELECT s.d, MIN(k.d) AS dn
      FROM spine s JOIN known k ON k.d >= s.d GROUP BY 1),
    j AS (
      SELECT spine.d, prev.dp, nxt.dn, kp.rev AS rp, kn.rev AS rn
      FROM spine
      JOIN prev ON spine.d = prev.d
      JOIN nxt ON spine.d = nxt.d
      JOIN known kp ON prev.dp = kp.d
      JOIN known kn ON nxt.dn = kn.d)
    SELECT CAST(d AS VARCHAR) AS d,
           ROUND(CASE WHEN dp = d THEN CAST(rp AS DOUBLE)
                 ELSE CAST(rp AS DOUBLE)
                      + (CAST(rn AS DOUBLE) - CAST(rp AS DOUBLE))
                        * CAST(datediff('day', dp, d) AS DOUBLE)
                        / CAST(datediff('day', dp, dn) AS DOUBLE)
                 END, 6) AS rev,
           dp != d AS interpolated
    FROM j ORDER BY d
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap-fill of a sparse daily revenue series (the user_id % 97
    purchase cohort — probed: 9 missing days inside the span at sf0.01)
    — the interpolation sibling of ts_resample_gapfill's step fill:
    step-fill answers "carry the last value", this answers "assume the
    trend", the difference that decides whether a dashboard lies during
    an outage window. Missing days get rev_prev + (rev_next - rev_prev)
    * elapsed/gap; present days pass through with interpolated = false.

    Exactness: anchor revenues are exact DECIMAL daily sums; day
    arithmetic is exact integers; the interpolation is ONE mirrored
    double tree per missing day (two casts, one division), ROUND-6.
    Calendar spine and neighbor lookups are date algebra only.

    Plan: one filtered daily rollup (localCheckpointed — four
    consumers), a 1-row bounds fold exploded to the calendar spine, and
    two spine x known argmax joins — ALL calendar-bounded (|days|^2 at
    worst), never data-sized; the only data-sized stage is the rollup.
    """
    e = table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & (F.col("user_id") % 97 == 0)
    )
    known = (
        e.groupBy(F.to_date("ts").alias("d"))
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("rev"))
        .localCheckpoint()
    )
    bounds = known.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    kp = known.select(F.col("d").alias("kd"), F.col("rev").alias("krev"))
    prev = (
        spine.join(kp, F.col("kd") <= F.col("d"))
        .groupBy("d")
        .agg(F.max(F.struct(F.col("kd").alias("dp"), F.col("krev").alias("rp"))).alias("m"))
        .select("d", F.col("m.dp").alias("dp"), F.col("m.rp").alias("rp"))
    )
    nxt = (
        spine.join(kp, F.col("kd") >= F.col("d"))
        .groupBy("d")
        .agg(F.min(F.struct(F.col("kd").alias("dn"), F.col("krev").alias("rn"))).alias("m"))
        .select("d", F.col("m.dn").alias("dn"), F.col("m.rn").alias("rn"))
    )
    j = prev.join(nxt, "d")
    rp = F.col("rp").cast("double")
    rn = F.col("rn").cast("double")
    val = F.when(F.col("dp") == F.col("d"), rp).otherwise(
        rp
        + (rn - rp)
        * F.datediff(F.col("d"), F.col("dp")).cast("double")
        / F.datediff(F.col("dn"), F.col("dp")).cast("double")
    )
    return j.select(
        F.col("d").cast("string").alias("d"),
        F.round(val, 6).alias("rev"),
        (F.col("dp") != F.col("d")).alias("interpolated"),
    ).orderBy("d")


@query(
    "events_page_hinkley",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1),
    idx AS (
      SELECT a.d, a.x,
             CAST(COUNT(*) AS BIGINT) AS t,
             CAST(SUM(b.x) AS BIGINT) AS s
      FROM daily a JOIN daily b ON b.d <= a.d
      GROUP BY 1, 2),
    fs AS (
      SELECT d, t, s,
             CAST(s * 1000000000 // t AS BIGINT) AS fs_i
      FROM idx),
    m AS (
      SELECT a.d, a.t, a.s,
             CAST(a.s AS HUGEINT) * 1000000000
               - CAST(SUM(b.fs_i) AS HUGEINT) AS m_i
      FROM fs a JOIN fs b ON b.d <= a.d
      GROUP BY 1, 2, 3),
    g AS (
      SELECT a.d, a.t, a.s, a.m_i,
             a.m_i - MIN(b.m_i) AS gap_i
      FROM m a JOIN m b ON b.d <= a.d
      GROUP BY 1, 2, 3, 4),
    tot AS (SELECT MAX(t) AS n, MAX(s) AS sn FROM idx)
    SELECT CAST(g.d AS VARCHAR) AS d,
           ROUND(CAST(g.m_i AS DOUBLE) / 1000000000.0, 6) AS m_ph,
           ROUND(CAST(g.gap_i AS DOUBLE) / 1000000000.0, 6) AS gap,
           2 * tot.n * g.gap_i > CAST(tot.sn AS HUGEINT) * 1000000000
             AS alarm
    FROM g, tot ORDER BY g.d
    """,
)
def events_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift detector over the daily event-count series —
    the SEQUENTIAL mean-shift monitor completing the family:
    events_cusum_alarm tracks deviation from a PINNED baseline,
    events_changepoint_binary locates one break OFFLINE; Page-Hinkley is
    what streaming drift libraries (MOA/river) actually run — m_t =
    SUM_{s<=t}(x_s - xbar_s) against its running minimum, alarming when
    the gap clears lambda. Here delta = 0 and lambda = xbar_n/2 (half
    the global mean), both stated; the running mean makes it
    self-baselining, the property CUSUM lacks.

    Exactness: m_t = S_t - SUM_{s<=t} S_s/s telescopes the recursion
    into prefix sums; each S_s/s floor-scales to the exact integer
    floor(S_s*1e9/s) (integral div), so m and its running min are EXACT
    scaled integers — no float accumulates anywhere — and the alarm
    compares 2*n*gap_i > S_n*1e9 in pure integers (cross-multiplied
    lambda, no division). ROUND-6 on the emitted doubles only.
    Convention note: this OFFLINE form gates against the FULL-SERIES
    mean (S_n/n); the streaming twin (streaming/pipelines.page_hinkley)
    necessarily gates against the RUNNING mean per emission — both
    stated, equivalence tested against an exact-integer reference fold.

    Plan: one daily rollup, then three TRIANGULAR self-joins on the
    |days|-row frame — calendar-squared, never data-sized (the
    stats_hodges_lehmann bound); the only data-sized stage is the
    rollup.
    """
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .localCheckpoint()
    )
    a = daily.select(F.col("d"), F.col("x"))
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    idx = (
        a.join(b, F.col("db") <= F.col("d"))
        .groupBy("d", "x")
        .agg(
            F.count(F.lit(1)).cast("long").alias("t"),
            F.sum("xb").cast("long").alias("s"),
        )
        .localCheckpoint()
    )
    fs = idx.select(
        "d",
        "t",
        "s",
        F.expr("CAST(s * 1000000000 div t AS BIGINT)").alias("fs_i"),
    ).localCheckpoint()
    fb = fs.select(F.col("d").alias("db"), F.col("fs_i").alias("fsb"))
    m = (
        fs.join(fb, F.col("db") <= F.col("d"))
        .groupBy("d", "t", "s")
        .agg(
            (
                F.col("s").cast("decimal(38,0)") * F.lit(1000000000)
                - F.sum(F.col("fsb").cast("decimal(38,0)"))
            ).alias("m_i")
        )
        .localCheckpoint()
    )
    mb = m.select(F.col("d").alias("db"), F.col("m_i").alias("mib"))
    g = (
        m.join(mb, F.col("db") <= F.col("d"))
        .groupBy("d", "t", "s", "m_i")
        .agg((F.col("m_i") - F.min("mib")).alias("gap_i"))
    )
    tot = idx.agg(F.max("t").alias("n"), F.max("s").alias("sn"))
    j = g.crossJoin(F.broadcast(tot))
    return j.select(
        F.col("d").cast("string").alias("d"),
        F.round(F.col("m_i").cast("double") / F.lit(1000000000.0), 6).alias("m_ph"),
        F.round(F.col("gap_i").cast("double") / F.lit(1000000000.0), 6).alias("gap"),
        (
            F.lit(2) * F.col("n") * F.col("gap_i")
            > F.col("sn").cast("decimal(38,0)") * F.lit(1000000000)
        ).alias("alarm"),
    ).orderBy("d")


@query(
    "events_hazard_nelson_aalen",
    oracle=f"""{_LIFE_TABLE_CTES},
    t AS (
      SELECT rs, atrisk,
             list_transform(rs, (r, i) ->
               CAST(r.d AS DOUBLE) / CAST(atrisk[i] AS DOUBLE)) AS hterms,
             list_transform(rs, (r, i) ->
               CAST(r.d AS DOUBLE)
                 / (CAST(atrisk[i] AS DOUBLE) * CAST(atrisk[i] AS DOUBLE)))
               AS vterms
      FROM enr)
    SELECT rs[i].dur AS dur,
           atrisk[i] AS n_risk,
           rs[i].d AS n_event,
           rs[i].c AS n_censor,
           ROUND(list_aggregate(hterms[1:i], 'sum'), 6) AS cum_hazard,
           ROUND(list_aggregate(vterms[1:i], 'sum'), 6) AS hazard_var
    FROM t, UNNEST(range(1, len(rs) + 1)) AS ix(i)
    ORDER BY dur
    """,
)
def events_hazard_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard life table — the estimator twin of
    events_survival_km over the SAME censoring fixture (duration = days
    from first activity to first purchase, never-converters censored at
    last active day): H(t) = sum_{t_i <= t} d_i/n_i, with the Poisson
    variance estimate sum d_i/n_i^2. Where KM answers "what fraction
    survives", NA answers "how much hazard has accumulated" — the form
    additive-risk models and hazard-ratio eyeballing consume, and the
    better-behaved estimator when per-time event counts are tiny.

    Determinism: each term is ONE exact division of two BIGINTs (d_i,
    n_i come out of exact integer folds; no transcendental anywhere, so
    this is stricter than KM's ln path), and the prefix fold over the
    ordered single-row array uses the same list discipline in both
    engines — identical association order, closed with ROUND-6. No NULL
    branch exists: n_i >= d_i + c_i >= 1 at every observed duration by
    construction.

    Plan: events_survival_km's _life_table (one per-user conditional
    min/max shuffle, one per-duration count shuffle bounded by the
    calendar span), then a single-row ordered fold + posexplode;
    the O(k^2) slice sums run over k <= span-days elements inside one
    row, unchanged at 100 TB where |users| grows but the calendar
    doesn't.
    """
    hterms = F.transform(
        "rs", lambda r, i: r["d"].cast("double") / F.element_at("atrisk", i + 1).cast("double")
    )
    vterms = F.transform(
        "rs",
        lambda r, i: r["d"].cast("double")
        / (
            F.element_at("atrisk", i + 1).cast("double")
            * F.element_at("atrisk", i + 1).cast("double")
        ),
    )
    return _life_rows(
        spark,
        sf_dir,
        {"hterms": hterms, "vterms": vterms},
        _prefix_sum("hterms").alias("cum_hazard"),
        _prefix_sum("vterms").alias("hazard_var"),
    )


@query(
    "stats_logrank_test",
    oracle="""
    WITH u AS (
      SELECT user_id, user_id % 2 AS grp,
             MIN(CAST(ts AS DATE)) AS fd,
             MAX(CAST(ts AS DATE)) AS ld,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN CAST(ts AS DATE) END) AS pd
      FROM events GROUP BY 1, 2),
    f AS (
      SELECT grp,
             CASE WHEN pd IS NOT NULL THEN date_diff('day', fd, pd)
                  ELSE date_diff('day', fd, ld) END AS dur,
             CASE WHEN pd IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM u),
    g AS (
      SELECT dur,
             CAST(SUM(CASE WHEN grp = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 - ev ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN grp = 0 THEN ev ELSE 0 END) AS BIGINT) AS d0,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 - ev ELSE 0 END) AS BIGINT) AS c0
      FROM f GROUP BY 1),
    one AS (
      SELECT CAST(SUM(d1 + c1) AS BIGINT) AS n1tot,
             CAST(SUM(d0 + c0) AS BIGINT) AS n0tot,
             list(struct_pack(dur := dur, d1 := d1, c1 := c1,
                              d0 := d0, c0 := c0) ORDER BY dur) AS rs
      FROM g),
    enr AS (
      SELECT rs,
             list_transform(rs, (r, i) ->
               n1tot - CAST(COALESCE(list_aggregate(
                 list_transform(rs[1:i-1], x -> x.d1 + x.c1), 'sum'), 0)
                 AS BIGINT)) AS n1,
             list_transform(rs, (r, i) ->
               n1tot + n0tot - CAST(COALESCE(list_aggregate(
                 list_transform(rs[1:i-1],
                                x -> x.d1 + x.c1 + x.d0 + x.c0), 'sum'), 0)
                 AS BIGINT)) AS nt
      FROM one),
    t AS (
      SELECT rs,
             list_transform(rs, (r, i) ->
               CAST(r.d1 + r.d0 AS DOUBLE) * CAST(n1[i] AS DOUBLE)
                 / CAST(nt[i] AS DOUBLE)) AS eterms,
             list_transform(rs, (r, i) ->
               CASE WHEN nt[i] > 1 THEN
                 CAST(r.d1 + r.d0 AS DOUBLE)
                   * (CAST(n1[i] AS DOUBLE) / CAST(nt[i] AS DOUBLE))
                   * (1.0 - CAST(n1[i] AS DOUBLE) / CAST(nt[i] AS DOUBLE))
                   * (CAST(nt[i] - (r.d1 + r.d0) AS DOUBLE)
                      / CAST(nt[i] - 1 AS DOUBLE))
               ELSE 0.0 END) AS vterms
      FROM enr)
    SELECT CAST(len(rs) AS BIGINT) AS n_durations,
           CAST(list_aggregate(list_transform(rs, x -> x.d1), 'sum')
                AS BIGINT) AS o1,
           ROUND(list_aggregate(eterms, 'sum'), 6) AS e1,
           ROUND(list_aggregate(vterms, 'sum'), 6) AS var_lr,
           ROUND(pow(CAST(list_aggregate(list_transform(rs, x -> x.d1), 'sum')
                          AS DOUBLE)
                     - list_aggregate(eterms, 'sum'), 2)
                 / list_aggregate(vterms, 'sum'), 6) AS chi2,
           pow(CAST(list_aggregate(list_transform(rs, x -> x.d1), 'sum')
                    AS DOUBLE)
               - list_aggregate(eterms, 'sum'), 2)
             / list_aggregate(vterms, 'sum') > 3.841459 AS reject_5pct
    FROM t
    """,
)
def stats_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Cox log-rank test between two user cohorts' time-to-conversion
    curves — the standard "did arm B convert faster?" significance gate
    over the SAME censoring fixture as events_survival_km /
    events_hazard_nelson_aalen, completing the survival family (estimate
    KM, accumulate NA, compare log-rank). Cohort = user_id % 2, the
    hash-arm surrogate every A/B assignment reduces to.

    Per event time t: observed d_1t vs hypergeometric expectation
    E_1t = d_t * n_1t / n_t and variance
    V_t = d_t * (n_1t/n_t)(1 - n_1t/n_t)(n_t - d_t)/(n_t - 1);
    chi2(1) = (O_1 - E_1)^2 / sum V_t, 5% critical value 3.841459 PINNED
    (no runtime distribution call), reject boolean compares the UNROUNDED
    statistic. O_1 and every life-table count are exact integers off
    integer folds; E/V terms are mirrored double trees over exact values,
    folded in identical duration order on both engines (the KM list
    discipline), ROUND-6 on emitted aggregates.

    Plan at 100 TB: identical to the KM/NA shape — ONE per-user
    conditional min/max shuffle (grp rides the same aggregate), one
    calendar-bounded per-duration count shuffle, then all test algebra
    over the single-row ordered array. The two-group split adds columns,
    not exchanges.
    """
    e = table(spark, sf_dir, "events")
    u = e.groupBy("user_id", (F.col("user_id") % 2).alias("grp")).agg(
        F.min(F.to_date("ts")).alias("fd"),
        F.max(F.to_date("ts")).alias("ld"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("pd"),
    )
    f = u.select(
        "grp",
        F.when(F.col("pd").isNotNull(), F.datediff("pd", "fd"))
        .otherwise(F.datediff("ld", "fd"))
        .alias("dur"),
        F.when(F.col("pd").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    g = f.groupBy("dur").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("ev")).otherwise(0)).cast("long").alias("d1"),
        F.sum(F.when(F.col("grp") == 1, 1 - F.col("ev")).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("grp") == 0, F.col("ev")).otherwise(0)).cast("long").alias("d0"),
        F.sum(F.when(F.col("grp") == 0, 1 - F.col("ev")).otherwise(0)).cast("long").alias("c0"),
    )
    one = g.agg(
        F.sum(F.col("d1") + F.col("c1")).cast("long").alias("n1tot"),
        F.sum(F.col("d0") + F.col("c0")).cast("long").alias("n0tot"),
        F.array_sort(F.collect_list(F.struct("dur", "d1", "c1", "d0", "c0"))).alias("rs"),
    )

    def prefix_drop(fields: list[str]) -> F.Column:
        return lambda r, i: F.coalesce(
            F.aggregate(
                F.slice("rs", F.lit(1), i),
                F.lit(0).cast("long"),
                lambda a, x: a + sum((x[fl] for fl in fields), F.lit(0)),
            ),
            F.lit(0).cast("long"),
        )

    enr = one.select(
        "rs",
        F.transform(
            "rs", lambda r, i: F.col("n1tot") - prefix_drop(["d1", "c1"])(r, i)
        ).alias("n1"),
        F.transform(
            "rs",
            lambda r, i: F.col("n1tot")
            + F.col("n0tot")
            - prefix_drop(["d1", "c1", "d0", "c0"])(r, i),
        ).alias("nt"),
    )

    def at(arr: str, i: F.Column) -> F.Column:
        return F.element_at(arr, i + 1).cast("double")

    t = enr.select(
        "rs",
        F.transform(
            "rs",
            lambda r, i: (r["d1"] + r["d0"]).cast("double") * at("n1", i) / at("nt", i),
        ).alias("eterms"),
        F.transform(
            "rs",
            lambda r, i: F.when(
                F.element_at("nt", i + 1) > 1,
                (r["d1"] + r["d0"]).cast("double")
                * (at("n1", i) / at("nt", i))
                * (F.lit(1.0) - at("n1", i) / at("nt", i))
                * (
                    (F.element_at("nt", i + 1) - (r["d1"] + r["d0"])).cast("double")
                    / (F.element_at("nt", i + 1) - 1).cast("double")
                ),
            ).otherwise(F.lit(0.0)),
        ).alias("vterms"),
    )
    fsum = lambda col: F.aggregate(col, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    o1 = F.aggregate(
        F.transform("rs", lambda x: x["d1"]), F.lit(0).cast("long"), lambda a, x: a + x
    )
    chi2 = F.pow(o1.cast("double") - fsum(F.col("eterms")), F.lit(2.0)) / fsum(
        F.col("vterms")
    )
    return t.select(
        F.size("rs").cast("long").alias("n_durations"),
        o1.alias("o1"),
        F.round(fsum(F.col("eterms")), 6).alias("e1"),
        F.round(fsum(F.col("vterms")), 6).alias("var_lr"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > F.lit(3.841459)).alias("reject_5pct"),
    )
