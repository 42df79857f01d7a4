"""Structured Streaming operators (SURVEY.md §2.10, T1-T4).

The reference is pure batch; its only incremental notions are the resume
anti-join and skip-if-exists sinks (§4). The engine's streaming surface runs
the SAME window/session/dedup expressions as queries/streaming_batch.py
behind readStream + event-time watermarks, so batch oracle checks validate
the streaming semantics and these pipelines validate state handling.

Scale notes: watermarks bound state stores; tumbling/sliding windows keep
one row per (window, key) in state; session windows merge on arrival;
dropDuplicatesWithinWatermark evicts seen-keys older than the watermark.
State store backend (RocksDB on a real cluster) is a config, not a code
change.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from wri_data_processing_spark.sources import snapshots

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source event stream (parquet files dropped into source_dir)."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """T1+T2: watermarked tumbling-window aggregation."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def sessionized(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """T3: session windows with an inactivity gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events")
    )


def deduped(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """T4: stateful dedup on event_id within the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    (count, sum) emitted on every update — the engine's template for
    operators Structured Streaming lacks natively."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, checkpoint: str, output_mode: str = "update"
) -> None:
    """Drain everything currently in the source into an in-memory table."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def _read_current_snapshot(spark: SparkSession, target_root: str):
    """Read the published snapshot, or None before batch 0."""
    name = snapshots.current(target_root)
    return None if name is None else snapshots.read(spark, target_root, name)


def _commit_snapshot(df: DataFrame, target_root: str, batch_id: int) -> None:
    """Write a full snapshot, then publish it (sources/snapshots.py).

    Re-running an uncommitted batch overwrites the same snap dir and
    manifest (idempotent); publish is an atomic pointer swap, so readers
    never see a partial snapshot. This is the poor-man's table format — on
    a real deployment this is exactly what Delta/Iceberg's commit log does,
    with the same snapshot-isolation semantics.
    """
    import os

    name = f"snap_{batch_id:010d}"
    files = snapshots.write_batch(df, os.path.join(target_root, name))
    snapshots.write_manifest(target_root, name, files)
    snapshots.publish(target_root, name)


def merge_user_totals(batch_df: DataFrame, batch_id: int, target_root: str) -> None:
    """One micro-batch of incremental_user_totals: aggregate the batch to
    per-user delta rows, full-outer merge them into the newest snapshot
    committed BEFORE ``batch_id`` and commit the result as this batch's
    snapshot.

    The base is not the published snapshot: when a driver dies after
    publishing batch k but before the checkpoint records it, Spark replays
    batch k, and the published snapshot then already holds k's delta.
    Merging onto the snapshot below k rewrites the same state instead of
    counting the batch twice."""
    delta = batch_df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("total_dec"),
    )
    name = f"snap_{batch_id:010d}"
    prior = [n for n in snapshots.names(target_root) if n.startswith("snap_") and n < name]
    if not prior:
        merged = delta
    else:
        cur = snapshots.read(batch_df.sparkSession, target_root, prior[-1])
        zero = F.lit(0).cast("decimal(18,6)")
        merged = (
            cur.alias("t")
            .join(delta.alias("d"), F.col("t.user_id") == F.col("d.user_id"), "full_outer")
            .select(
                F.coalesce("t.user_id", "d.user_id").alias("user_id"),
                (
                    F.coalesce("t.n_events", F.lit(0))
                    + F.coalesce("d.n_events", F.lit(0))
                ).alias("n_events"),
                (
                    F.coalesce(F.col("t.total_dec"), zero)
                    + F.coalesce(F.col("d.total_dec"), zero)
                ).cast("decimal(18,6)").alias("total_dec"),
            )
        )
    _commit_snapshot(merged, target_root, batch_id)


def incremental_user_totals(
    spark: SparkSession, source_dir: str, target_root: str, checkpoint: str
) -> None:
    """Streaming MERGE: per-user event totals maintained incrementally via
    foreachBatch — the streaming twin of queries/warehouse_ops.merge_upsert.

    Each micro-batch aggregates its new events to |users| delta rows, then
    full-outer merges them into the snapshot committed before it and
    commits the result atomically (merge_user_totals). Exactly-once: the
    checkpoint makes batch delivery at-least-once with stable batch ids,
    and a batch's snapshot depends only on its id and its events, so a
    replayed batch rewrites the same state. The final state is bit-equal
    to a from-scratch batch aggregation because the accumulators are exact
    decimals (order-insensitive addition).

    At 100 TB the snapshot rewrite becomes the bottleneck; the scale path is
    partitioning the snapshot by a user-hash bucket and rewriting only
    buckets the delta touches (or a real table format's MERGE, which is this
    exact plan behind a commit log).
    """
    q = (
        read_event_stream(spark, source_dir)
        .writeStream.foreachBatch(lambda df, batch_id: merge_user_totals(df, batch_id, target_root))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def attribution_window_join(
    clicks: DataFrame, purchases: DataFrame, click_user: str, how: str
) -> DataFrame:
    """Clicks (``click_user``, click_ts, ...) joined to the purchases
    (p_user, purchase_ts, ...) the same user makes within the 30 minutes
    after the click: the interval condition of every click -> purchase
    join, streamed or batch. Streamed, its time bound is what lets the
    state store evict clicks."""
    cond = (
        (F.col(click_user) == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    return clicks.join(purchases, cond, how)


def _click_purchase_join(clicks: DataFrame, purchases: DataFrame, how: str) -> DataFrame:
    """The watermarked 30-minute click -> purchase interval join of both
    variants below."""
    c = clicks.withWatermark("ts", "1 hour").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.withWatermark("ts", "1 hour").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("amount"),
    )
    return attribution_window_join(c, p, "c_user", how).select(
        F.col("c_user").alias("user_id"), "click_id", "purchase_id", "amount"
    )


def click_purchase_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream interval join: purchases attributed to a click by the
    same user within the preceding 30 minutes.

    Both sides carry watermarks, so the state store evicts click rows once
    the purchase-side watermark passes click.ts + 30 min — bounded state,
    the property that makes stream-stream joins runnable forever. The time
    bound in the join condition is REQUIRED: without it Spark rejects the
    plan (unbounded state). Batch twin: the same join expression over the
    static events table (tests assert set equality).
    """
    return _click_purchase_join(clicks, purchases, "inner")


def click_purchase_join_outer(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """LEFT-OUTER stream-stream interval join: every click, with its
    attributed purchase or NULLs if none arrives within 30 minutes.

    The outer side is what distinguishes this from click_purchase_join:
    matched rows emit immediately, but an UNMATCHED click can only emit
    once the purchase-side watermark passes click.ts + 30 min — before
    that, a matching purchase could still arrive. So outer results are
    inherently watermark-delayed, and a drained-but-unclosed stream
    (availableNow over a finite source) retains trailing clicks in state
    rather than emitting them with NULLs; the batch twin
    (queries/streaming_batch.stream_join_outer) is the full answer the
    stream converges to. State bound and join condition requirements are
    identical to the inner variant.
    """
    return _click_purchase_join(clicks, purchases, "leftOuter")


def windowed_topk(
    events: DataFrame,
    spark: SparkSession,
    sink_table: str,
    checkpoint: str,
    k: int = 3,
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> None:
    """Streaming windowed top-k: the k most frequent event types per hour
    window, maintained via foreachBatch (batch twin:
    queries/events_analytics.events_windowed_topk).

    Rank is NOT a streaming-supported operator (it needs the whole window's
    counts), so the idiomatic decomposition is: Spark maintains the
    incremental windowed COUNTS (update-mode state store, watermark-bounded),
    and foreachBatch re-ranks the UPDATED windows against the sink's
    current state each micro-batch. The sink holds one row per (window,
    type) with the latest count; the top-k view is a rank over that tiny
    table. This 'aggregate in the stream, finish in the batch epilogue'
    split is the standard recipe for any not-incrementalizable epilogue
    (rank, percentile, argmax) at 100 TB stream rates.
    """
    from pyspark.sql import Window as W

    counts = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    state: dict[tuple, int] = {}

    def upsert_and_rank(batch_df: DataFrame, batch_id: int) -> None:
        for r in batch_df.collect():  # updated (window, type) rows only — tiny
            state[(r["window_start"], r["event_type"])] = r["n"]
        rows = [
            {"window_start": ws, "event_type": et, "n": n}
            for (ws, et), n in state.items()
        ]
        full = spark.createDataFrame(rows)
        w = W.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
        (
            full.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("window_start", "event_type", "n")
            .createOrReplaceTempView(sink_table)
        )

    q = (
        counts.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(upsert_and_rank)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def enriched_with_dimension(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: attach slowly-changing dimension
    attributes to a live event stream.

    The static side is a plain batch DataFrame — Spark re-resolves it per
    micro-batch (so a refreshed dimension snapshot is picked up on the
    next trigger) and broadcasts it when small; no watermark and no state
    store are involved because the static side never grows within a
    batch. This is THE standard enrichment topology: keep dimensions in
    the warehouse, join them onto the stream, never copy them into state.
    """
    d = dim.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nationkey"),
    )
    return events.join(d, "user_id", "left").select(
        "event_id", "user_id", "event_type", "segment", "nationkey"
    )


CENSUS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_types", LongType()),
    ]
)


def user_type_census(events: DataFrame) -> DataFrame:
    """Second-generation stateful operator via transformWithStateInPandas
    (Spark 4 StatefulProcessor API): per-user running event count and
    distinct event-type count, using composite state (ValueState counter +
    ListState seen-set) — the API family that adds timers, TTL, and typed
    state over applyInPandasWithState.

    GATED: the TransformWithState driver worker needs google.protobuf at
    runtime; environments without it should use running_user_totals
    (applyInPandasWithState) — same semantics, first-gen API. Call
    ``transform_with_state_available()`` to probe. Requires the RocksDB
    state store provider:
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Census(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.n = handle.getValueState("n", "n BIGINT")
            self.types = handle.getListState("types", "t STRING")

        def handleInputRows(self, key, rows, timer_values):
            n = self.n.get()[0] if self.n.exists() else 0
            seen = {r[0] for r in self.types.get()}
            new_types: set[str] = set()
            for pdf in rows:
                n += len(pdf)
                new_types |= set(pdf["event_type"]) - seen
            if new_types:
                self.types.appendList([(t,) for t in sorted(new_types)])
            self.n.update((n,))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_types": [len(seen) + len(new_types)],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Census(),
        outputStructType=CENSUS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


_CENSUS_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("types", ArrayType(StringType())),
    ]
)


def user_type_census_v1(events: DataFrame) -> DataFrame:
    """First-generation twin of ``user_type_census``: identical semantics
    (per-user running event count + distinct event-type count) over
    applyInPandasWithState, whose state channel is Arrow-only — no
    google.protobuf runtime needed. This is the portable default;
    ``user_type_census`` (TransformWithState) adds timers/TTL/typed state
    where its python worker can start."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, types = state.get if state.exists else (0, [])
        seen = set(types)
        for pdf in pdfs:
            n += len(pdf)
            seen |= set(pdf["event_type"])
        state.update((n, sorted(seen)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "n_types": [len(seen)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=CENSUS_SCHEMA,
        stateStructType=_CENSUS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def transform_with_state_available() -> bool:
    """True iff the TransformWithState python driver worker can start
    (needs google.protobuf, absent from some runtimes)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def read_doc_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source document stream (parquet drops of (doc_id, text))."""
    return spark.readStream.schema(DOCS_SCHEMA).parquet(source_dir)


def segment_deduped(docs: DataFrame, n_tokens: int = 16) -> DataFrame:
    """Streaming twin of the C4-style segment dedup (queries/llm_segments):
    documents explode into n-token segments keyed by the 16-hex sha256
    prefix, and ``dropDuplicates`` keeps the FIRST ARRIVAL of each distinct
    segment across the whole stream — state persists across micro-batches,
    so a segment seen in batch 1 suppresses every later copy.

    Semantics vs the batch op: the batch keep-first winner is the global
    min (doc_id, seg_idx); the stream's winner is arrival order. The KEPT
    SEGMENT SET is identical either way (one winner per distinct segment)
    — the equivalence test pins exactly that, not winner identity.

    State note: keyed dedup state here is unbounded by design (corpus-wide
    dedup has no expiry); a deployment that can bound re-occurrence lag
    uses dropDuplicatesWithinWatermark on an ingest-time column instead —
    same plan, state trimmed at the watermark (the T4 ``deduped`` pattern).
    """
    from wri_data_processing_spark.queries.llm_segments import _segments

    segs = _segments(docs, n_tokens)
    return segs.withColumn(
        "wh", F.substring(F.sha2(F.col("seg"), 256), 1, 16)
    ).dropDuplicates(["wh"])


_N_DRIFT_BINS = 20


def drift_monitor(
    events: DataFrame,
    reference: DataFrame,
    window: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of queries/streaming_batch.stream_drift_monitor: one
    PSI score per tumbling event-time window, comparing the window's value
    distribution against a STATIC reference distribution ``reference``
    (columns bin, cr — the pinned baseline snapshot a serving pipeline
    ships alongside the model).

    State shape is the point: the 20 bins are unrolled into 20 conditional
    counters inside ONE windowed aggregation, so the state store holds
    exactly 20 longs per open window (bounded by the watermark) — never a
    per-bin row set, never a collect_list of events. The reference side is
    a stream-static broadcast: pivoted to a single 21-column row at plan
    build and re-resolved per micro-batch, so a refreshed baseline is
    picked up on the next trigger with zero state migration.

    Determinism matches the batch twin bit-for-bit: per-bin
    (p - q) * ln(p / q) terms over exact integer counts, summed in bin
    order (the unrolled left-to-right chain is the same fold order as the
    batch op's array_sort fold; skipped bins add literal +0.0, which is
    bitwise-neutral on the finite non-negative partial sums PSI produces).
    Bins absent from the reference are excluded from n_cur exactly as the
    batch op's inner join excludes them.
    """
    bins = list(range(_N_DRIFT_BINS))
    s = events.filter(F.col("value").isNotNull()).select(
        "ts",
        F.least(F.floor(F.col("value").cast("double") / 10.0), F.lit(19))
        .cast("long")
        .alias("bin"),
    )
    cur = (
        s.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            *[
                F.sum(F.when(F.col("bin") == i, 1).otherwise(0))
                .cast("long")
                .alias(f"c{i}")
                for i in bins
            ]
        )
    )
    ref_row = reference.agg(
        *[
            F.sum(F.when(F.col("bin") == i, F.col("cr")))
            .cast("long")
            .alias(f"r{i}")
            for i in bins
        ],
        F.sum("cr").cast("long").alias("n_ref"),
    )
    joined = cur.join(F.broadcast(ref_row))
    live = [
        (F.col(f"c{i}") > 0) & F.col(f"r{i}").isNotNull() & (F.col(f"r{i}") > 0)
        for i in bins
    ]
    n_cur = sum(
        (F.when(F.col(f"r{i}").isNotNull() & (F.col(f"r{i}") > 0), F.col(f"c{i}")).otherwise(F.lit(0)) for i in bins),
        F.lit(0),
    ).cast("long")
    joined = joined.withColumn("n_cur", n_cur)
    na = F.col("n_ref").cast("double")
    nb = F.col("n_cur").cast("double")
    psi = F.lit(0.0)
    for i in bins:
        p = F.col(f"r{i}").cast("double") / na
        q = F.col(f"c{i}").cast("double") / nb
        psi = psi + F.when(live[i], (p - q) * F.log(p / q)).otherwise(F.lit(0.0))
    n_used = sum(
        (F.when(live[i], 1).otherwise(0) for i in bins), F.lit(0)
    ).cast("long")
    return joined.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_cur",
        n_used.alias("n_bins_used"),
        F.round(psi, 6).alias("psi"),
    )


def reference_bins(events: DataFrame) -> DataFrame:
    """Build the (bin, cr) baseline snapshot ``drift_monitor`` consumes —
    in production this runs once in batch over the reference corpus and is
    pinned; here it mirrors stream_drift_monitor's whole-table reference."""
    return (
        events.filter(F.col("value").isNotNull())
        .select(
            F.least(F.floor(F.col("value").cast("double") / 10.0), F.lit(19))
            .cast("long")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cr"))
    )


DAILY_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("d", StringType()),
        StructField("n", LongType()),
    ]
)

CUSUM_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_days", LongType()),
        StructField("s_final", DoubleType()),
        StructField("s_max", DoubleType()),
        StructField("n_alarms", LongType()),
        StructField("first_alarm_day", StringType()),
    ]
)
_CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("s", DoubleType()),
        StructField("smax", DoubleType()),
        StructField("nal", LongType()),
        StructField("first", StringType()),
        StructField("ndays", LongType()),
    ]
)


def read_daily_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream of per-day aggregated counts (event_type, d, n) —
    the shape an upstream watermarked window agg emits in commit order."""
    return spark.readStream.schema(DAILY_SCHEMA).parquet(source_dir)


def _round6_half_up(x: float) -> float:
    """Spark's double round (HALF_UP on the shortest decimal repr) —
    Python's round() is banker's and diverges at exact midpoints."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def cusum_alarm(daily: DataFrame, mu0: dict[str, float], h_sigma: float = 3.0) -> DataFrame:
    """Streaming twin of events_cusum_alarm: per-key one-sided CUSUM
    S_t = max(0, S_{t-1} + (x_t - mu0[key])) as a custom stateful operator
    (applyInPandasWithState) over the daily-count stream, alarming when
    S_t > h_sigma * sqrt(mu0) (scale-free Poisson-fluctuation units,
    matching the batch op — a mean-proportional threshold goes dead as
    volume grows). RENAMED from the pre-r13 `h_factor` (ADVICE r13): that
    name survived a semantic change (h = factor*mu -> factor*sqrt(mu),
    default 2.0 -> 3.0), so a caller passing an explicit value silently
    got different threshold semantics — the new name makes stale call
    sites fail loudly at the signature. The baseline mu0 is a PINNED
    config dict (the
    production pattern: derived once from a reference window, shipped with
    the job), so the recursion is closed per key and the state row is one
    (s, smax, n_alarms, first_alarm_day, n_days) struct — constant bytes
    per key no matter how long the stream runs.

    Ordering contract: rows are folded in day order WITHIN each
    micro-batch (sorted here) and batches arrive in commit order (the
    upstream emitter's guarantee) — identical fold order to the batch
    op's array_sort, so the final emission per key equals the batch
    result exactly (equivalence-tested across a mid-series batch split).
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        et = key[0]
        mu = float(mu0.get(et, 0.0))
        h = h_sigma * math.sqrt(mu)
        s, smax, nal, first, ndays = (
            state.get if state.exists else (0.0, float("-inf"), 0, None, 0)
        )
        # Concatenate ALL Arrow chunks before sorting: a key whose
        # micro-batch data spans multiple chunks must still fold in
        # global day order, not per-chunk order.
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            for row in batch.sort_values("d").itertuples(index=False):
                # Association order mirrors the batch op exactly:
                # (s + n) - mu, not s + (n - mu) — the two differ in the
                # last ULP on ~28% of steps, which would break the
                # documented bit-exact stream==batch equivalence.
                s = max((s + float(row.n)) - mu, 0.0)
                smax = max(smax, s)
                if s > h:
                    nal += 1
                    if first is None:
                        first = row.d
                ndays += 1
        state.update((s, smax, nal, first, ndays))
        yield pd.DataFrame(
            {
                "event_type": [et],
                "n_days": [ndays],
                "s_final": [_round6_half_up(s)],
                "s_max": [_round6_half_up(smax)],
                "n_alarms": [nal],
                "first_alarm_day": [first],
            }
        )

    return daily.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=CUSUM_SCHEMA,
        stateStructType=_CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def url_deduped(docs: DataFrame) -> DataFrame:
    """Streaming twin of dedup_url_canonical: the canonicalization rule
    chain (fragment strip, scheme+host lowercase, :443 drop, trailing
    slash, tracking-param filter + sort — all stateless scan expressions,
    llm_pipeline._canonical_urls) runs on the stream, then
    ``dropDuplicates`` keeps the FIRST ARRIVAL per canonical key across
    micro-batches — the crawl-frontier dedup that suppresses refetch
    variants the moment they arrive, instead of batching the whole crawl
    first.

    Semantics vs the batch op: batch keeps min doc_id per canonical URL;
    the stream keeps arrival order. The KEPT KEY SET is identical (one
    winner per canonical key) — the equivalence test pins that, the
    segment_deduped contract. State is unbounded by design (frontier
    dedup has no expiry); bound it with dropDuplicatesWithinWatermark on
    fetch time when refetch lag has a bound.
    """
    from wri_data_processing_spark.queries.llm_pipeline import _canonical_urls

    return _canonical_urls(docs).dropDuplicates(["canonical_url"])


def velocity_windowed(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of events_velocity_alert's hourly grain: watermarked
    tumbling-hour (user, hour) counts — the stateful part of the velocity
    screen. The per-user rollup (peak hour, totals, top-10) is the batch
    read over this sink: rate-limit review is a human-latency loop, so
    the lambda split puts ONLY the unbounded count under streaming state.
    Equivalence to the batch op is pinned in tests/test_streaming.py.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.col("w.start").alias("hr"), "user_id", "n")
    )


def drift_report_windowed(
    events: DataFrame,
    window: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of queries/stats_numeric.drift_report_pipeline: one
    composed drift SCORECARD row per tumbling event-time window (VERDICT
    r10 item 7) — the shape a production drift gate actually runs, where
    the batch op is the scheduled offline audit.

    Per window it compares the live view-vs-click value distributions on
    the drift_monitor 20-bin grid and emits all four statistics plus the
    pager boolean: binned PSI (used-bin normalization, the drift_monitor
    convention), Jensen-Shannon divergence, the binned KS sup-distance
    over the two cumulative bin profiles, and the 2 x bins chi-squared
    with its dof; `drifted` applies the batch op's textbook gates
    (PSI >= 0.25 or KS >= 0.2).

    State shape is the whole point (the drift_monitor lesson): the two
    cohort histograms unroll into 40 conditional counters inside ONE
    windowed aggregation — the state store holds exactly 40 longs per
    open window, bounded by the watermark; the scorecard algebra runs on
    the emitted 40-column row, never in state. Works identically on a
    BATCH frame (watermark skipped) — the equivalence tests run this
    same builder both ways and require bit-identical scorecards, and a
    kill-and-resume test proves the 40 counters recover from the
    checkpoint mid-window.

    Binned-KS note: exact KS needs the full ECDF (unbounded state); on a
    stream the 20-bin cumulative profile is the bounded-state analog and
    its sup-distance LOWER-bounds the exact D, so the KS gate can only
    under-alarm, never false-alarm, vs the batch audit.
    """
    bins = list(range(_N_DRIFT_BINS))
    s = events.filter(
        F.col("value").isNotNull() & F.col("event_type").isin("view", "click")
    ).select(
        "ts",
        F.col("event_type").alias("cohort"),
        F.least(F.floor(F.col("value").cast("double") / 10.0), F.lit(19))
        .cast("long")
        .alias("bin"),
    )
    if events.isStreaming:
        s = s.withWatermark("ts", watermark)
    counters = []
    for i in bins:
        counters.append(
            F.sum(
                F.when((F.col("cohort") == "view") & (F.col("bin") == i), 1).otherwise(0)
            )
            .cast("long")
            .alias(f"v{i}")
        )
        counters.append(
            F.sum(
                F.when((F.col("cohort") == "click") & (F.col("bin") == i), 1).otherwise(0)
            )
            .cast("long")
            .alias(f"c{i}")
        )
    g = s.groupBy(F.window("ts", window).alias("w")).agg(*counters)

    # The scorecard algebra runs over the two counter ARRAYS with
    # higher-order functions (zip_with/aggregate), NOT unrolled per-bin
    # column chains: the unrolled form inlines the 20-term normalization
    # sums into every one of 20 x 4 statistic terms and blows past
    # janino's method-size limit (probed: codegen compile failure). The
    # array form keeps each statistic ONE aggregate node.
    vs = F.array(*[F.col(f"v{i}") for i in bins])
    cs = F.array(*[F.col(f"c{i}") for i in bins])
    zero = F.lit(0).cast("long")

    def asum(arr):
        return F.aggregate(arr, zero, lambda a, x: a + x)

    nv = asum(vs)
    nc = asum(cs)
    nv_u = asum(F.zip_with(vs, cs, lambda v, c: F.when((v > 0) & (c > 0), v).otherwise(zero)))
    nc_u = asum(F.zip_with(vs, cs, lambda v, c: F.when((v > 0) & (c > 0), c).otherwise(zero)))
    g = (
        g.withColumn("n_view", nv)
        .withColumn("n_click", nc)
        .withColumn("nvu", nv_u.cast("double"))
        .withColumn("ncu", nc_u.cast("double"))
    )
    # ANSI + codegen gotcha (probed): common-subexpression elimination
    # HOISTS divisions out of CASE branches, so a zero denominator errors
    # even when its branch is never taken. Every denominator below is
    # therefore made structurally nonzero (the guarded numerator terms are
    # already 0 in exactly the cases the substitute value would matter),
    # and the emitted statistics are NULLed when a cohort is empty.
    def _safe(c):
        return F.when(c > 0, c).otherwise(F.lit(1.0))

    nvd = _safe(F.col("n_view").cast("double"))
    ncd = _safe(F.col("n_click").cast("double"))
    nvu, ncu = _safe(F.col("nvu")), _safe(F.col("ncu"))

    # PSI over both-live bins with used-bin renormalization (drift_monitor)
    psi = F.aggregate(
        F.zip_with(
            vs,
            cs,
            lambda v, c: F.when(
                (v > 0) & (c > 0),
                (v.cast("double") / nvu - c.cast("double") / ncu)
                * F.log((v.cast("double") / nvu) / (c.cast("double") / ncu)),
            ).otherwise(F.lit(0.0)),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )

    # JSD over full normalization; 0*ln(...) terms excluded per side
    def _jsd_term(v, c):
        pcol = v.cast("double") / nvd
        qcol = c.cast("double") / ncd
        m = (pcol + qcol) / F.lit(2.0)
        return F.when(v > 0, pcol * F.log(pcol / m) / F.lit(2.0)).otherwise(
            F.lit(0.0)
        ) + F.when(c > 0, qcol * F.log(qcol / m) / F.lit(2.0)).otherwise(F.lit(0.0))

    jsd = F.aggregate(
        F.zip_with(vs, cs, _jsd_term), F.lit(0.0), lambda a, x: a + x
    )

    # binned KS: sup |cumV*NC - cumC*NV| over the ordered bin grid — EXACT
    # integer cross-products, no float cumsum; one struct-state fold
    ks_fold = F.aggregate(
        F.zip_with(vs, cs, lambda v, c: F.struct(v.alias("v"), c.alias("c"))),
        F.struct(zero.alias("cv"), zero.alias("cc"), zero.alias("best")),
        lambda acc, x: F.struct(
            (acc["cv"] + x["v"]).alias("cv"),
            (acc["cc"] + x["c"]).alias("cc"),
            F.greatest(
                acc["best"],
                F.abs(
                    (acc["cv"] + x["v"]) * F.col("n_click")
                    - (acc["cc"] + x["c"]) * F.col("n_view")
                ),
            ).alias("best"),
        ),
    )
    ks_d = ks_fold["best"].cast("double") / (nvd * ncd)

    # chi-squared over non-empty bins: expected from pooled marginals
    tot = nvd + ncd

    def _chi2_term(v, c):
        bi = (v + c).cast("double")
        ev = nvd * bi / tot
        ec = ncd * bi / tot
        ov, oc = v.cast("double"), c.cast("double")
        return F.when(
            (v + c) > 0, (ov - ev) * (ov - ev) / ev + (oc - ec) * (oc - ec) / ec
        ).otherwise(F.lit(0.0))

    chi2 = F.aggregate(
        F.zip_with(vs, cs, _chi2_term), F.lit(0.0), lambda a, x: a + x
    )
    used = asum(
        F.zip_with(vs, cs, lambda v, c: F.when((v + c) > 0, F.lit(1).cast("long")).otherwise(zero))
    )
    dof = (used - 1).cast("long")

    both = (F.col("n_view") > 0) & (F.col("n_click") > 0)
    return g.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_view",
        "n_click",
        F.when(both, F.round(psi, 6)).alias("psi"),
        F.when(both, F.round(jsd, 6)).alias("jsd"),
        F.when(both, F.round(ks_d, 6)).alias("ks_d"),
        F.when(both, F.round(chi2, 6)).alias("chi2"),
        F.when(both, dof).alias("dof"),
        F.when(both, (psi >= F.lit(0.25)) | (ks_d >= F.lit(0.2))).alias("drifted"),
    )


PH_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_days", LongType()),
        StructField("m_ph", DoubleType()),
        StructField("gap", DoubleType()),
        StructField("n_alarms", LongType()),
        StructField("first_alarm_day", StringType()),
    ]
)
# cumfs/minm ride as DECIMAL-DIGIT STRINGS, not longs (ADVICE r11): cumfs
# = SUM_{s<=t} floor(S_s*1e9/s) grows ~n_days * S_mean * 1e9 and wraps
# int64 once a key's cumulative count S crosses ~9.2e9 — easily reached
# per event type at 100 TB. Python-bigint arithmetic is exact at any
# magnitude; stringifying for the state row is the streaming analog of
# the batch twin folding m_i in DECIMAL(38,0) (events_page_hinkley).
_PH_STATE_SCHEMA = StructType(
    [
        StructField("t", LongType()),
        StructField("s", LongType()),
        StructField("cumfs", StringType()),
        StructField("minm", StringType()),
        StructField("nal", LongType()),
        StructField("first", StringType()),
    ]
)


def page_hinkley(daily: DataFrame) -> DataFrame:
    """Streaming twin of events_page_hinkley, PER EVENT TYPE (the keyed,
    production shape — the batch op monitors the global series; a real
    deployment monitors each metric): the self-baselining mean-shift
    detector as a custom stateful operator (applyInPandasWithState) over
    the daily-count stream.

    The batch op's telescoped integer algebra IS the state design:
    m_t = S_t*1e9 - SUM_{s<=t} floor(S_s*1e9/s) needs exactly
    (t, S_t, cum_fs, min_m) — four integers per key, constant forever —
    instead of the unbounded raw series a naive running-mean recursion
    would keep. t and S_t are BIGINTs; cum_fs and min_m are carried as
    decimal-digit STRINGS because cum_fs grows ~t * S_mean * 1e9 and
    wraps int64 at large per-key counts (ADVICE r11) — Python bigints
    keep the fold exact at any magnitude, matching the batch twin's
    DECIMAL(38,0) discipline. The alarm is the cross-multiplied pure-integer compare
    2*t*gap > S_t*1e9 against the RUNNING mean (a stream has no final
    mean; the batch op's lambda uses the full-series mean — the
    equivalence test recomputes this running-lambda convention in exact
    batch integers rather than comparing to the batch op directly, and
    the convention difference is stated in both docstrings).

    Ordering contract: rows fold in day order within each micro-batch
    (pd.concat THEN sort — the cusum_alarm chunk lesson) and batches
    arrive in commit order, so every emission is the exact prefix state.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        et = key[0]
        t, s, cumfs_s, minm_s, nal, first = (
            state.get if state.exists else (0, 0, "0", None, 0, None)
        )
        cumfs = int(cumfs_s)
        minm = int(minm_s) if minm_s is not None else None
        batch = pd.concat(list(pdfs), ignore_index=True)
        m = s * 1_000_000_000 - cumfs if t else 0
        gap = (m - minm) if minm is not None else 0
        if len(batch):
            for row in batch.sort_values("d").itertuples(index=False):
                t += 1
                s += int(row.n)
                cumfs += s * 1_000_000_000 // t
                m = s * 1_000_000_000 - cumfs
                minm = m if minm is None else min(minm, m)
                gap = m - minm
                if 2 * t * gap > s * 1_000_000_000:
                    nal += 1
                    if first is None:
                        first = row.d
        state.update(
            (t, s, str(cumfs), str(minm) if minm is not None else None, nal, first)
        )
        yield pd.DataFrame(
            {
                "event_type": [et],
                "n_days": [t],
                "m_ph": [_round6_half_up(m / 1_000_000_000.0)],
                "gap": [_round6_half_up(gap / 1_000_000_000.0)],
                "n_alarms": [nal],
                "first_alarm_day": [first],
            }
        )

    return daily.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=PH_SCHEMA,
        stateStructType=_PH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
