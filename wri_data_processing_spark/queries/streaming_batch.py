"""Windowed event-time operators, batch-checkable (SURVEY.md §2.10 T1-T4).

These run the SAME Spark expressions Structured Streaming uses
(window / session_window / dedup) in batch mode so the DuckDB oracle can
verify semantics; the streaming/ package wires identical logic behind
readStream + watermarks (rows-only tests — see tests/test_streaming.py).

Scale notes: tumbling/sliding windows are hash aggregations keyed by
(window, user) — partial aggregation map-side; session windows shuffle once
on user_id then merge sorted runs. In streaming, watermarks bound state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.registry import query

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@query(
    "stream_window_agg",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '{_TS_FMT_DUCK}') AS window_start,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window aggregation (T2)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "stream_sliding_window",
    oracle=f"""
    WITH w AS (
      SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
               AS window_start,
             value
      FROM events
    )
    SELECT strftime(window_start, '{_TS_FMT_DUCK}') AS window_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value
    FROM w GROUP BY 1
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1-hour duration, 30-minute slide (each event in 2 windows)."""
    e = table(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            n.alias("n"),
            (F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / n).alias("avg_value"),
        )
        .select(F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"), "n", "avg_value")
    )


@query(
    "stream_session_window",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
        CASE WHEN LAG(ts) OVER w IS NULL
              OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT user_id, strftime(MIN(ts), '{_TS_FMT_DUCK}') AS session_start,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap (T3).

    Spark semantics: an event extends a session iff its ts is STRICTLY before
    session_end (= last_ts + gap); the oracle's gaps-and-islands encoding
    uses >= gap as the new-session test, which is the same boundary rule.
    """
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", _TS_FMT_SPARK).alias("session_start"),
            "n_events",
        )
    )


@query(
    "stream_dedup",
    oracle=f"""
    SELECT user_id, event_type, event_id,
           strftime(ts, '{_TS_FMT_DUCK}') AS first_ts
    FROM (
      SELECT user_id, event_type, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keep-first dedup by (user_id, event_type) (T4 batch analog).

    The streaming twin is dropDuplicatesWithinWatermark; batch uses an
    explicit row_number so "first" is well-defined (ts, event_id order).
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.date_format("ts", _TS_FMT_SPARK).alias("first_ts"),
        )
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT event_id, user_id, event_type,
           c_mktsegment AS segment, c_nationkey AS nationkey
    FROM events LEFT JOIN customer ON user_id = c_custkey
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment join (streaming/pipelines
    enriched_with_dimension): dimension attributes onto the event stream.

    Identical expression tree in both modes — in streaming the static side
    is re-resolved per micro-batch and broadcast; here Catalyst broadcasts
    it outright. The rows-only streaming equality test lives in
    tests/test_streaming.py; this entry gives the SQL oracle its shot.
    """
    from wri_data_processing_spark.streaming.pipelines import enriched_with_dimension

    return enriched_with_dimension(
        table(spark, sf_dir, "events"), table(spark, sf_dir, "customer")
    )


@query(
    "stream_user_census",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events GROUP BY user_id
    """,
)
def stream_user_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/pipelines user_type_census (the
    transformWithStateInPandas StatefulProcessor): per-user event count and
    distinct-type count. In streaming, the counter is ValueState and the
    type set is ListState in RocksDB; in batch it is one hash aggregation
    with a partial-distinct Expand — identical final rows, so this oracle
    certifies the processor's converged output.
    """
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_distinct("event_type").cast("long").alias("n_types"),
    )


@query(
    "stream_join_outer",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id,
           p.event_id AS purchase_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS latency_us
    FROM events c
    LEFT JOIN events p
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click'
    """,
)
def stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the LEFT-OUTER stream-stream interval join
    (streaming/pipelines.click_purchase_join_outer): every click row with
    its attributed purchase, or NULL purchase columns when no purchase by
    the same user lands within the following 30 minutes.

    This is the semantics Structured Streaming's watermarked outer join
    converges to — unmatched rows emit once the opposite watermark passes
    the interval's close, so a live stream trails batch by the watermark
    delay on exactly the NULL rows (tests/test_streaming.py pins matched
    rows equal and streamed NULL rows a subset). Latency is integer
    microseconds end to end; no float time math.

    Scale notes: one shuffle on user_id for both sides; per-user event runs
    are bounded, so the interval predicate prunes within sorted runs. In
    streaming, the same condition is what bounds the join STATE — clicks
    evict once the purchase watermark passes click_ts + 30 min.
    """
    from wri_data_processing_spark.queries.events_analytics import click_purchase_join

    e = table(spark, sf_dir, "events")
    click_cols = [
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
        F.unix_micros("ts").alias("click_us"),
    ]
    purchase_cols = [
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("purchase_us"),
    ]
    return click_purchase_join(e, click_cols, purchase_cols, "left").select(
        "click_id",
        "user_id",
        "purchase_id",
        (F.col("purchase_us") - F.col("click_us")).alias("latency_us"),
    )


@query(
    "stream_drift_monitor",
    oracle=f"""
    WITH s AS (
      SELECT time_bucket(INTERVAL '6 hours', ts) AS ws,
             CAST(LEAST(floor(CAST(value AS DOUBLE) / 10.0), 19) AS BIGINT) AS bin
      FROM events WHERE value IS NOT NULL),
    ref AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS cr FROM s GROUP BY 1),
    rt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ref FROM s),
    cur AS (SELECT ws, bin, CAST(COUNT(*) AS BIGINT) AS cq FROM s GROUP BY 1, 2),
    g AS (
      SELECT c.ws, CAST(SUM(c.cq) AS BIGINT) AS n_cur,
             CAST(COUNT(*) AS BIGINT) AS n_bins_used,
             list(struct_pack(bin := c.bin, cq := c.cq, cr := r.cr)
                  ORDER BY c.bin) AS binrows
      FROM cur c JOIN ref r ON c.bin = r.bin GROUP BY 1)
    SELECT strftime(g.ws, '{_TS_FMT_DUCK}') AS window_start, g.n_cur, g.n_bins_used,
           ROUND(list_aggregate(list_transform(binrows, b ->
             (CAST(b.cr AS DOUBLE) / CAST(rt.n_ref AS DOUBLE)
                - CAST(b.cq AS DOUBLE) / CAST(g.n_cur AS DOUBLE))
             * ln((CAST(b.cr AS DOUBLE) / CAST(rt.n_ref AS DOUBLE))
                  / (CAST(b.cq AS DOUBLE) / CAST(g.n_cur AS DOUBLE)))
           ), 'sum'), 6) AS psi
    FROM g, rt
    ORDER BY window_start
    """,
)
def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window PSI drift monitor — stats_psi lifted onto the streaming
    surface: every tumbling 6-hour event-time window's value distribution
    is scored against the REFERENCE distribution (in streaming, a static
    baseline table joined stream-static; in this batch twin, the whole
    table — same plan shape). The op a serving pipeline alerts on: one PSI
    number per window, rising when the traffic mix shifts.

    Same determinism contract as stats_psi: integer bin counts, mirrored
    per-bin (p - q) * ln(p / q) IEEE terms (ln ULP drift absorbed by
    ROUND-6, see stats_psi), per-window ordered fold over the bin-sorted
    list. Bins the
    window never hit are skipped (q = 0) exactly as stats_psi skips them —
    n_bins_used says how many contributed.

    Plan: one (window, bin) count shuffle over the event scan + one (bin)
    count for the reference; the per-window fold runs on ~20-row groups;
    the 1-row reference total broadcasts (bounded NLJ, the stats_ks_test
    shape). In true streaming this is readStream -> window agg with the
    reference broadcast — state per window is 20 bin counts, watermark
    bounds it.
    """
    e = table(spark, sf_dir, "events")
    s = e.filter(F.col("value").isNotNull()).select(
        F.window("ts", "6 hours").alias("w"),
        F.least(F.floor(F.col("value").cast("double") / 10.0), F.lit(19))
        .cast("long")
        .alias("bin"),
    )
    ref = s.groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("cr"))
    rt = s.agg(F.count(F.lit(1)).cast("long").alias("n_ref"))
    cur = s.groupBy("w", "bin").agg(F.count(F.lit(1)).cast("long").alias("cq"))
    g = (
        cur.join(F.broadcast(ref), "bin")
        .groupBy("w")
        .agg(
            F.sum("cq").cast("long").alias("n_cur"),
            F.count(F.lit(1)).cast("long").alias("n_bins_used"),
            F.array_sort(F.collect_list(F.struct("bin", "cq", "cr"))).alias(
                "binrows"
            ),
        )
    )
    n_ref = F.col("n_ref").cast("double")
    n_cur = F.col("n_cur").cast("double")

    def _term(b):
        p = b["cr"].cast("double") / n_ref
        q = b["cq"].cast("double") / n_cur
        return (p - q) * F.log(p / q)

    return (
        g.crossJoin(F.broadcast(rt))
        .select(
            F.date_format("w.start", _TS_FMT_SPARK).alias("window_start"),
            "n_cur",
            "n_bins_used",
            F.round(
                F.aggregate(
                    F.transform("binrows", _term), F.lit(0.0), lambda a, x: a + x
                ),
                6,
            ).alias("psi"),
        )
        .orderBy("window_start")
    )
