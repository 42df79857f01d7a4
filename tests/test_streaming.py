"""Structured Streaming pipelines: semantics vs batch, state, late data."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.streaming.pipelines import (
    deduped,
    read_event_stream,
    run_available_now,
    running_user_totals,
    sessionized,
    windowed_counts,
)


@pytest.fixture()
def event_source(spark, sf_dir, tmp_path):
    """Copy the events table into a stream source dir as two file drops."""
    src = str(tmp_path / "source")
    e = table(spark, sf_dir, "events")
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    return src


def test_windowed_counts_matches_batch(spark, sf_dir, event_source, tmp_path):
    stream = read_event_stream(spark, event_source)
    run_available_now(
        windowed_counts(stream), "wc_test", str(tmp_path / "ckpt_wc"), output_mode="update"
    )
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in spark.sql("SELECT * FROM wc_test").collect()
    }
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )
    want = {
        (str(r["w"]["start"]), r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in batch.collect()
    }
    # update-mode memory sink may emit a window twice (once per drop); the
    # LAST emission per key must equal the batch result. All events here are
    # in ts order per file drop, so final state == batch aggregation.
    assert set(want).issubset(set(got))
    for k, v in want.items():
        assert got[k] == v, k


def test_dedup_within_watermark(spark, event_source, tmp_path):
    # Duplicate every event by appending the same files again.
    stream = read_event_stream(spark, event_source)
    run_available_now(
        deduped(stream), "dedup_test", str(tmp_path / "ckpt_dd"), output_mode="append"
    )
    out = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_test").first()
    assert out["n"] == out["d"]


def test_sessionized_runs(spark, event_source, tmp_path):
    stream = read_event_stream(spark, event_source)
    # Session-window streaming aggregation only supports append mode: rows
    # emit once the watermark passes the session end.
    run_available_now(
        sessionized(stream), "sess_test", str(tmp_path / "ckpt_ss"), output_mode="append"
    )
    rows = spark.sql("SELECT * FROM sess_test").collect()
    assert len(rows) > 0
    assert {"session_start", "user_id", "n_events"} == set(rows[0].asDict())


def test_running_user_totals_state(spark, event_source, tmp_path):
    stream = read_event_stream(spark, event_source)
    run_available_now(
        running_user_totals(stream), "rut_test", str(tmp_path / "ckpt_rut"), output_mode="update"
    )
    # Latest emission per user equals the full batch totals.
    got = spark.sql(
        """
        SELECT user_id, max(n_events) AS n_events
        FROM rut_test GROUP BY user_id
        """
    )
    want = (
        spark.read.parquet(event_source)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    diff = got.join(want, "user_id").filter(got["n_events"] != want["n_events"]).count()
    assert diff == 0


def test_incremental_upsert_equals_batch(spark, sf_dir, event_source, tmp_path):
    """foreachBatch MERGE final state == from-scratch batch aggregation."""
    from wri_data_processing_spark.streaming.pipelines import (
        _read_current_snapshot,
        incremental_user_totals,
    )

    target = str(tmp_path / "target")
    os.makedirs(target, exist_ok=True)
    incremental_user_totals(spark, event_source, target, str(tmp_path / "ckpt_up"))
    got = {
        r["user_id"]: (r["n_events"], str(r["total_dec"]))
        for r in _read_current_snapshot(spark, target).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], str(r["total_dec"]))
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("total_dec"),
        )
        .collect()
    }
    assert got == want


def test_snapshot_commit_replay_idempotent(spark, sf_dir, tmp_path):
    """Re-committing the same batch id (an uncommitted-replay crash story)
    leaves exactly the state a single commit produces."""
    from wri_data_processing_spark.streaming.pipelines import (
        _commit_snapshot,
        _read_current_snapshot,
    )

    target = str(tmp_path / "snap_target")
    os.makedirs(target, exist_ok=True)
    df = table(spark, sf_dir, "events").groupBy("user_id").count()
    _commit_snapshot(df, target, 0)
    first = sorted((r["user_id"], r["count"]) for r in
                   _read_current_snapshot(spark, target).collect())
    _commit_snapshot(df, target, 0)  # replay of the same batch
    again = sorted((r["user_id"], r["count"]) for r in
                   _read_current_snapshot(spark, target).collect())
    assert first == again


def test_user_totals_replayed_batch_counts_once(spark, tmp_path):
    """A micro-batch replayed after its snapshot was published (the driver
    died before the checkpoint recorded it) leaves the totals of one
    application: the merge starts from the snapshot below its batch id."""
    from wri_data_processing_spark.streaming.pipelines import (
        _read_current_snapshot,
        merge_user_totals,
    )

    target = str(tmp_path / "totals")
    os.makedirs(target, exist_ok=True)
    batch = spark.createDataFrame([(1, 2.0), (2, 3.0)], "user_id long, value double")
    for batch_id in (0, 1, 1):  # batch 1 runs twice
        merge_user_totals(batch, batch_id, target)
    totals = sorted(
        (r["user_id"], int(r["total_dec"])) for r in _read_current_snapshot(spark, target).collect()
    )
    assert totals == [(1, 4), (2, 6)]


def test_stream_stream_join_matches_batch(spark, sf_dir, event_source, tmp_path):
    """Watermarked stream-stream interval join == the batch interval join."""
    from wri_data_processing_spark.streaming.pipelines import (
        click_purchase_join,
        read_event_stream,
        run_available_now,
    )

    s = read_event_stream(spark, event_source)
    joined = click_purchase_join(
        s.filter(F.col("event_type") == "click"),
        s.filter(F.col("event_type") == "purchase"),
    )
    run_available_now(joined, "ssj_test", str(tmp_path / "ckpt_ssj"), output_mode="append")
    got = {
        (r["user_id"], r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM ssj_test").collect()
    }
    e = table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"))
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"))
    want = {
        (r["c_user"], r["click_id"], r["purchase_id"])
        for r in c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") > F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        ).collect()
    }
    # availableNow drains everything; watermarks never pass the final rows'
    # event times, so no pair is dropped: exact set equality.
    assert got == want and len(want) > 0


def test_windowed_topk_matches_batch(spark, sf_dir, event_source, tmp_path):
    """Streaming top-3 types per hour (foreachBatch re-rank) == batch op."""
    from wri_data_processing_spark.streaming.pipelines import (
        read_event_stream,
        windowed_topk,
    )

    s = read_event_stream(spark, event_source)
    windowed_topk(s, spark, "topk_test", str(tmp_path / "ckpt_topk"), k=3)
    got = {
        (str(r["window_start"]), r["event_type"], r["n"])
        for r in spark.sql("SELECT * FROM topk_test").collect()
    }
    from wri_data_processing_spark import registry

    registry.load_all()
    want = {
        # Batch op formats the hour bucket as a string; align via str().
        (str(r["hour_bucket"]), r["event_type"], r["n"])
        for r in registry.REGISTRY["events_windowed_topk"](spark, sf_dir).collect()
    }
    assert len(want) > 0 and got == want


def test_stream_static_enrichment_matches_batch(spark, sf_dir, event_source, tmp_path):
    """Stream-static dimension join == the same join run in batch."""
    from wri_data_processing_spark.streaming.pipelines import (
        enriched_with_dimension,
        read_event_stream,
        run_available_now,
    )

    dim = table(spark, sf_dir, "customer")
    s = read_event_stream(spark, event_source)
    run_available_now(
        enriched_with_dimension(s, dim),
        "sse_test",
        str(tmp_path / "ckpt_sse"),
        output_mode="append",
    )
    got = {
        tuple(r) for r in spark.sql("SELECT * FROM sse_test").collect()
    }
    want = {
        tuple(r)
        for r in enriched_with_dimension(table(spark, sf_dir, "events"), dim).collect()
    }
    assert got == want and len(want) > 0


def test_user_type_census_matches_batch(spark, sf_dir, event_source, tmp_path):
    """Stateful census == batch groupBy. Runs the second-gen
    transformWithStateInPandas operator where its python worker can start
    (needs google.protobuf), else the semantically identical first-gen
    applyInPandasWithState twin — real stateful streaming runs either way."""
    from wri_data_processing_spark.streaming.pipelines import (
        read_event_stream,
        run_available_now,
        transform_with_state_available,
        user_type_census,
        user_type_census_v1,
    )

    census = (
        user_type_census if transform_with_state_available() else user_type_census_v1
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        s = read_event_stream(spark, event_source)
        run_available_now(
            census(s), "census_test", str(tmp_path / "ckpt_census")
        )
        got = {
            (r.user_id, r.n_events, r.n_types)
            for r in spark.sql(
                "SELECT user_id, MAX_BY(n_events, n_events) AS n_events,"
                " MAX_BY(n_types, n_events) AS n_types"
                " FROM census_test GROUP BY user_id"
            ).collect()
        }
        want = {
            (r.user_id, r.n_events, r.n_types)
            for r in table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.count_distinct("event_type").alias("n_types"),
            )
            .collect()
        }
        assert got == want and len(want) > 0
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_stream_outer_join_matches_batch(spark, sf_dir, event_source, tmp_path):
    """LEFT-OUTER watermarked join: matched rows == batch; NULL rows are the
    watermark-delayed subset of batch's unconverted clicks."""
    from wri_data_processing_spark.streaming.pipelines import (
        click_purchase_join_outer,
        read_event_stream,
        run_available_now,
    )

    s = read_event_stream(spark, event_source)
    joined = click_purchase_join_outer(
        s.filter(F.col("event_type") == "click"),
        s.filter(F.col("event_type") == "purchase"),
    )
    run_available_now(joined, "ssjo_test", str(tmp_path / "ckpt_ssjo"), output_mode="append")
    rows = spark.sql("SELECT * FROM ssjo_test").collect()
    got_matched = {
        (r["user_id"], r["click_id"], r["purchase_id"])
        for r in rows
        if r["purchase_id"] is not None
    }
    got_null = {(r["user_id"], r["click_id"]) for r in rows if r["purchase_id"] is None}

    e = table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"))
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"))
    batch = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left",
    ).collect()
    want_matched = {
        (r["c_user"], r["click_id"], r["purchase_id"])
        for r in batch
        if r["purchase_id"] is not None
    }
    want_null = {(r["c_user"], r["click_id"]) for r in batch if r["purchase_id"] is None}

    # Matched pairs emit immediately: exact equality, like the inner join.
    assert got_matched == want_matched and len(want_matched) > 0
    # NULL rows need the purchase watermark to close the click's interval;
    # a drained finite source leaves trailing clicks in state, so streaming
    # emits a subset of batch's unconverted clicks — and never a false NULL.
    assert got_null.issubset(want_null)
    # A streamed NULL click must not also have a matched emission.
    assert not {(u, cid) for (u, cid, _) in got_matched} & got_null


def test_segment_dedup_stream_matches_batch_distinct(spark, sf_dir, tmp_path):
    """The streamed keep-first must keep each distinct segment exactly once
    and the kept-segment SET must equal the batch op's distinct segments
    (winner identity legitimately differs: arrival order vs global
    min(doc_id, seg_idx) — see segment_deduped docstring)."""
    from wri_data_processing_spark.queries.llm_segments import _segments
    from wri_data_processing_spark.streaming.pipelines import (
        read_doc_stream,
        segment_deduped,
    )

    src = str(tmp_path / "docs_src")
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    run_available_now(
        segment_deduped(read_doc_stream(spark, src)),
        "seg_dedup_test",
        str(tmp_path / "ckpt_segdedup"),
        output_mode="append",
    )
    got = spark.sql("SELECT wh FROM seg_dedup_test").collect()
    got_whs = [r.wh for r in got]
    assert len(got_whs) == len(set(got_whs))  # exactly one winner per segment

    batch_whs = {
        r.wh
        for r in _segments(d)
        .select(F.substring(F.sha2(F.col("seg"), 256), 1, 16).alias("wh"))
        .distinct()
        .collect()
    }
    assert set(got_whs) == batch_whs


def test_drift_monitor_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming per-window PSI == the batch stream_drift_monitor op,
    bit-for-bit per window (same integer bin counts, same ordered-fold ln
    terms — the unrolled 20-counter state produces the identical sum)."""
    from wri_data_processing_spark.streaming.pipelines import (
        drift_monitor,
        reference_bins,
    )
    from wri_data_processing_spark import registry

    src = str(tmp_path / "drift_src")
    e = table(spark, sf_dir, "events")
    # single file drop -> one micro-batch -> one update-mode emission/window
    e.coalesce(1).write.mode("append").parquet(src)

    ref = reference_bins(e)
    run_available_now(
        drift_monitor(read_event_stream(spark, src), ref),
        "drift_test",
        str(tmp_path / "ckpt_drift"),
        output_mode="update",
    )
    got = {
        r["window_start"]: (r["n_cur"], r["n_bins_used"], r["psi"])
        for r in spark.sql("SELECT * FROM drift_test").collect()
    }
    registry.load_all()
    want = {
        r["window_start"]: (r["n_cur"], r["n_bins_used"], r["psi"])
        for r in registry.REGISTRY["stream_drift_monitor"](spark, sf_dir).collect()
    }
    assert len(want) > 0 and got == want


def test_cusum_alarm_stream_matches_batch(spark, sf_dir, tmp_path):
    """Stateful streaming CUSUM == the batch events_cusum_alarm op exactly,
    with the series split MID-STREAM across two file drops so the fold
    state provably carries across micro-batches."""
    from wri_data_processing_spark.streaming.pipelines import (
        cusum_alarm,
        read_daily_stream,
        run_available_now,
    )
    from wri_data_processing_spark import registry

    rk, mu0 = _daily_and_mu0(spark, sf_dir)
    src = str(tmp_path / "daily_src")
    # two ordered drops: days 1-15, then 16-30 (state must carry over)
    rk.filter(F.col("t") <= 15).select("event_type", "d", "n").coalesce(1)\
        .write.mode("append").parquet(src)
    rk.filter(F.col("t") > 15).select("event_type", "d", "n").coalesce(1)\
        .write.mode("append").parquet(src)

    run_available_now(
        cusum_alarm(read_daily_stream(spark, src), mu0),
        "cusum_test",
        str(tmp_path / "ckpt_cusum"),
        output_mode="update",
    )
    # update mode emits once per (key, micro-batch); keep the LAST (the
    # memory sink appends in batch order) — that is the full-series state.
    got = {}
    for r in spark.sql("SELECT * FROM cusum_test").collect():
        got[r["event_type"]] = (
            r["n_days"], r["s_final"], r["s_max"], r["n_alarms"], r["first_alarm_day"]
        )
    got = {k: v for k, v in got.items() if v[0] == 30}  # final emissions only
    registry.load_all()
    want = {
        r["event_type"]: (
            r["n_days"], r["s_final"], r["s_max"], r["n_alarms"], r["first_alarm_day"]
        )
        for r in registry.REGISTRY["events_cusum_alarm"](spark, sf_dir).collect()
    }
    assert len(want) > 0 and got == want

def _daily_and_mu0(spark, sf_dir):
    """Per-day counts with a day rank + the pinned 7-day baseline dict —
    shared prep for the cusum streaming tests."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("dd"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select("event_type", F.col("dd").cast("string").alias("d"), "n")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    rk = daily.withColumn("t", F.row_number().over(w))
    mu0 = {
        r["event_type"]: r["mu"]
        for r in rk.filter(F.col("t") <= 7)
        .groupBy("event_type")
        .agg((F.sum("n").cast("double") / F.count(F.lit(1)).cast("double")).alias("mu"))
        .collect()
    }
    return rk, mu0


def test_cusum_alarm_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Checkpoint RECOVERY, not just cross-batch state (VERDICT r7 item 5):
    the first query instance drains days 1-15 and STOPS; a brand-new query
    object — new plan, new applyInPandasWithState instance — restarts from
    the SAME checkpoint dir, consumes only the late-arriving days 16-30
    (the file-source log must skip the already-committed drop), and its
    final per-key emission must equal the unbroken batch op exactly. This
    is the kill/redeploy path every production stateful job exercises: the
    mid-series fold state (s, smax, n_alarms, first_alarm_day, n_days)
    survives on disk, not in the stopped query's JVM objects."""
    from wri_data_processing_spark import registry
    from wri_data_processing_spark.streaming.pipelines import (
        cusum_alarm,
        read_daily_stream,
    )

    rk, mu0 = _daily_and_mu0(spark, sf_dir)
    src = str(tmp_path / "daily_src")
    ckpt = str(tmp_path / "ckpt_cusum_recovery")

    # Incarnation 1: only days 1-15 exist; the query drains them, commits
    # state + source log to the checkpoint, and terminates (availableNow).
    # The memory sink refuses checkpoint recovery by design, so emissions
    # go through foreachBatch — the sink production stateful jobs restart
    # behind (it replays an uncommitted epoch but never a committed one).
    def _drain(emitted):
        def _sink(batch_df, batch_id):
            emitted.extend(batch_df.collect())
        return _sink

    rk.filter(F.col("t") <= 15).select("event_type", "d", "n").coalesce(1)\
        .write.mode("append").parquet(src)
    run1_rows: list = []
    q = (
        cusum_alarm(read_daily_stream(spark, src), mu0)
        .writeStream.foreachBatch(_drain(run1_rows))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    mid = {r["event_type"]: r["n_days"] for r in run1_rows}
    assert mid and all(v == 15 for v in mid.values()), mid

    # Days 16-30 arrive while no query is running.
    rk.filter(F.col("t") > 15).select("event_type", "d", "n").coalesce(1)\
        .write.mode("append").parquet(src)

    # Incarnation 2: a NEW query object against the SAME checkpoint. It
    # must resume — replaying nothing from drop 1 — and fold 16-30 onto
    # the recovered state.
    run2_rows: list = []
    q = (
        cusum_alarm(read_daily_stream(spark, src), mu0)
        .writeStream.foreachBatch(_drain(run2_rows))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_type"]: (
            r["n_days"], r["s_final"], r["s_max"], r["n_alarms"], r["first_alarm_day"]
        )
        for r in run2_rows
    }
    # Run 2 saw only drop-2 rows: every key must still show the FULL
    # series (15 recovered + 15 new), proving state came off disk.
    assert got and all(v[0] == 30 for v in got.values()), got

    registry.load_all()
    want = {
        r["event_type"]: (
            r["n_days"], r["s_final"], r["s_max"], r["n_alarms"], r["first_alarm_day"]
        )
        for r in registry.REGISTRY["events_cusum_alarm"](spark, sf_dir).collect()
    }
    assert got == want


def test_url_dedup_stream_matches_batch_keys(spark, sf_dir, tmp_path):
    """Streaming canonical-URL dedup keeps exactly the batch op's key set,
    with the corpus split across two file drops so first-arrival state
    provably carries across micro-batches."""
    from wri_data_processing_spark import registry
    from wri_data_processing_spark.streaming.pipelines import (
        run_available_now,
        url_deduped,
    )

    d = table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_src")
    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(d.schema).parquet(src)
    run_available_now(
        url_deduped(stream), "url_dedup_test", str(tmp_path / "ckpt_url"),
        output_mode="append",
    )
    got = {r["canonical_url"] for r in spark.sql("SELECT * FROM url_dedup_test").collect()}

    registry.load_all()
    want = {
        r["canonical_url"]
        for r in registry.REGISTRY["dedup_url_canonical"](spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_velocity_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming (user, hour) velocity counts, rolled up per user over the
    sink, == the batch events_velocity_alert top-10 exactly. The series is
    split MID-STREAM across two time-ordered file drops; update mode emits
    per (key, batch) and the LAST emission per key is the settled count."""
    from wri_data_processing_spark import registry
    from wri_data_processing_spark.streaming.pipelines import (
        read_event_stream,
        run_available_now,
        velocity_windowed,
    )

    e = table(spark, sf_dir, "events")
    mid = e.agg(F.expr("min(ts) + (max(ts) - min(ts)) / 2").alias("m")).collect()[0][
        "m"
    ]
    src = str(tmp_path / "vel_src")
    e.filter(F.col("ts") <= mid).coalesce(1).write.mode("append").parquet(src)
    e.filter(F.col("ts") > mid).coalesce(1).write.mode("append").parquet(src)

    run_available_now(
        velocity_windowed(read_event_stream(spark, src)),
        "vel_test",
        str(tmp_path / "ckpt_vel"),
        output_mode="update",
    )
    sink = spark.sql(
        """
        SELECT user_id,
               MAX(n) AS peak_hour_events,
               SUM(n) AS total_events,
               COUNT(*) AS active_hours
        FROM (
          SELECT hr, user_id, n,
                 ROW_NUMBER() OVER (PARTITION BY hr, user_id
                                    ORDER BY n DESC) AS rn
          FROM vel_test) WHERE rn = 1
        GROUP BY user_id
        ORDER BY peak_hour_events DESC, user_id LIMIT 10
        """
    ).collect()
    registry.load_all()
    want = registry.REGISTRY["events_velocity_alert"](spark, sf_dir).collect()
    got = [
        (r["user_id"], r["peak_hour_events"], r["total_events"], r["active_hours"])
        for r in sink
    ]
    exp = [
        (r["user_id"], r["peak_hour_events"], r["total_events"], r["active_hours"])
        for r in want
    ]
    assert got == exp


def test_velocity_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Kill-and-resume for the r9 velocity twin (VERDICT r9 item 8), the
    cusum-recovery pattern applied to a WINDOWED aggregation: incarnation 1
    drains the first half of the event series and stops; the second half
    arrives while nothing runs; a brand-new query object restarts from the
    SAME checkpoint and must fold drop 2 onto the RECOVERED (user, hour)
    window state — the boundary hour's count can only be correct if the
    partial count came off disk, not from replaying drop 1 (the committed
    source-log epoch is never re-read). Settled last-emission-per-key
    across both incarnations must equal the batch op exactly."""
    from wri_data_processing_spark import registry
    from wri_data_processing_spark.streaming.pipelines import (
        read_event_stream,
        velocity_windowed,
    )

    e = table(spark, sf_dir, "events")
    # Split INSIDE an hour so at least one (user, hour) window straddles
    # the two drops. The fixture is sparse (~1 event per user-hour), so a
    # blind midpoint cut usually lands where no window straddles — pick
    # the cut adaptively instead: the FIRST event's timestamp of a
    # deterministic (user, hour) cell that holds >= 2 events, which
    # guarantees that cell contributes rows to both drops.
    cell = (
        e.groupBy(F.date_trunc("hour", "ts").alias("hr"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("lo"),
             F.max("ts").alias("hi"))
        .filter((F.col("n") >= 2) & (F.col("lo") < F.col("hi")))
        .orderBy("hr", "user_id")
        .limit(1)
        .collect()
    )
    assert cell, "fixture probe: no (user, hour) cell with >= 2 events"
    mid = cell[0]["lo"]
    src = str(tmp_path / "vel_rec_src")
    ckpt = str(tmp_path / "ckpt_vel_recovery")

    def _drain(emitted):
        def _sink(batch_df, batch_id):
            emitted.extend(batch_df.collect())
        return _sink

    e.filter(F.col("ts") <= mid).coalesce(1).write.mode("append").parquet(src)
    run1: list = []
    q = (
        velocity_windowed(read_event_stream(spark, src))
        .writeStream.foreachBatch(_drain(run1))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert run1

    e.filter(F.col("ts") > mid).coalesce(1).write.mode("append").parquet(src)
    run2: list = []
    q = (
        velocity_windowed(read_event_stream(spark, src))
        .writeStream.foreachBatch(_drain(run2))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert run2

    c1 = {(r["hr"], r["user_id"]): r["n"] for r in run1}
    c2 = {(r["hr"], r["user_id"]): r["n"] for r in run2}
    # State-off-disk evidence: at least one straddling window re-emits in
    # run 2 with a STRICTLY larger count than its run-1 partial (run 2 saw
    # only drop-2 rows, so growth beyond the partial proves recovery).
    grown = [k for k in c2 if k in c1 and c2[k] > c1[k]]
    assert grown, "no window accumulated across the restart"

    settled = dict(c1)
    settled.update(c2)  # update mode: last emission per key wins
    import collections

    per_user = collections.defaultdict(lambda: [0, 0, 0])
    for (_, uid), n in settled.items():
        agg = per_user[uid]
        agg[0] = max(agg[0], n)
        agg[1] += n
        agg[2] += 1
    top = sorted(
        ((v[0], uid, v[1], v[2]) for uid, v in per_user.items()),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    registry.load_all()
    want = [
        (r["peak_hour_events"], r["user_id"], r["total_events"], r["active_hours"])
        for r in registry.REGISTRY["events_velocity_alert"](spark, sf_dir).collect()
    ]
    assert top == want


def test_drift_report_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming per-window drift scorecard == the SAME builder run over
    the batch frame, with the series split MID-STREAM across two
    time-ordered drops; update mode emits per (window, batch) and the
    LAST emission per window is the settled scorecard (VERDICT r10
    item 7 — the drift_report_pipeline streaming twin)."""
    from wri_data_processing_spark.streaming.pipelines import (
        drift_report_windowed,
        read_event_stream,
        run_available_now,
    )

    e = table(spark, sf_dir, "events")
    mid = e.agg(F.expr("min(ts) + (max(ts) - min(ts)) / 2").alias("m")).collect()[0][
        "m"
    ]
    src = str(tmp_path / "drift_src")
    e.filter(F.col("ts") <= mid).coalesce(1).write.mode("append").parquet(src)
    e.filter(F.col("ts") > mid).coalesce(1).write.mode("append").parquet(src)

    run_available_now(
        drift_report_windowed(read_event_stream(spark, src)),
        "drift_report_test",
        str(tmp_path / "ckpt_drift_report"),
        output_mode="update",
    )
    emitted = spark.sql(
        "SELECT * FROM drift_report_test"
    ).collect()  # in emission order per micro-batch? settle via dict below
    settled = {}
    for r in emitted:
        settled[r["window_start"]] = r
    want = {r["window_start"]: r for r in drift_report_windowed(e).collect()}
    assert set(settled) == set(want) and len(want) > 1
    cols = ["n_view", "n_click", "psi", "jsd", "ks_d", "chi2", "dof", "drifted"]
    for wkey, wrow in want.items():
        got = settled[wkey]
        assert tuple(got[c] for c in cols) == tuple(wrow[c] for c in cols), wkey


def test_drift_report_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Kill-and-resume for the drift scorecard twin: incarnation 1 drains
    the first half (cut INSIDE a window so its 40 bin counters are
    partial), the second half arrives while nothing runs, and a fresh
    query restarts from the SAME checkpoint — the straddling window's
    settled scorecard is only correct if the 40 recovered counters came
    off disk. Settled scorecards across both incarnations must equal the
    batch builder exactly."""
    from wri_data_processing_spark.streaming.pipelines import (
        drift_report_windowed,
        read_event_stream,
    )

    e = table(spark, sf_dir, "events")
    win = F.window("ts", "6 hours").alias("w")
    cell = (
        e.filter(F.col("value").isNotNull() & F.col("event_type").isin("view", "click"))
        .groupBy(win)
        .agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .filter((F.col("n") >= 2) & (F.col("lo") < F.col("hi")))
        .orderBy("w.start")
        .limit(1)
        .collect()
    )
    assert cell, "fixture probe: no window with >= 2 scorecard rows"
    mid = cell[0]["lo"]
    src = str(tmp_path / "drift_rec_src")
    ckpt = str(tmp_path / "ckpt_drift_recovery")

    def _drain(emitted):
        def _sink(batch_df, batch_id):
            emitted.extend(batch_df.collect())

        return _sink

    e.filter(F.col("ts") <= mid).coalesce(1).write.mode("append").parquet(src)
    run1: list = []
    q = (
        drift_report_windowed(read_event_stream(spark, src))
        .writeStream.foreachBatch(_drain(run1))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    e.filter(F.col("ts") > mid).coalesce(1).write.mode("append").parquet(src)
    run2: list = []
    q = (
        drift_report_windowed(read_event_stream(spark, src))
        .writeStream.foreachBatch(_drain(run2))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert run2

    c1 = {r["window_start"]: r for r in run1}
    c2 = {r["window_start"]: r for r in run2}
    grown = [
        k
        for k in c2
        if k in c1
        and (c2[k]["n_view"] + c2[k]["n_click"]) > (c1[k]["n_view"] + c1[k]["n_click"])
    ]
    assert grown, "no window accumulated across the restart"

    settled = dict(c1)
    settled.update(c2)
    want = {r["window_start"]: r for r in drift_report_windowed(e).collect()}
    assert set(settled) == set(want)
    cols = ["n_view", "n_click", "psi", "jsd", "ks_d", "chi2", "dof", "drifted"]
    for wkey, wrow in want.items():
        got = settled[wkey]
        assert tuple(got[c] for c in cols) == tuple(wrow[c] for c in cols), wkey


def _ph_reference(spark, sf_dir):
    """Exact-integer Page-Hinkley reference per event type (running-mean
    lambda — the streaming convention), computed in plain Python ints."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("dd"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select("event_type", F.col("dd").cast("string").alias("d"), "n")
    )
    series = {}
    for r in daily.collect():
        series.setdefault(r["event_type"], []).append((r["d"], r["n"]))
    want = {}
    for et, rows in series.items():
        t = s = cumfs = nal = 0
        minm = first = None
        m = gap = 0
        for d, n in sorted(rows):
            t += 1
            s += int(n)
            cumfs += s * 10**9 // t
            m = s * 10**9 - cumfs
            minm = m if minm is None else min(minm, m)
            gap = m - minm
            if 2 * t * gap > s * 10**9:
                nal += 1
                if first is None:
                    first = d
        want[et] = (t, m, gap, nal, first)
    return daily, want


def test_page_hinkley_stream_matches_reference(spark, sf_dir, tmp_path):
    """Stateful streaming Page-Hinkley == the exact-integer reference fold,
    with the series split MID-STREAM so the 4-BIGINT state carries."""
    from wri_data_processing_spark.streaming.pipelines import (
        page_hinkley,
        read_daily_stream,
        run_available_now,
    )

    daily, want = _ph_reference(spark, sf_dir)
    cut = sorted({r["d"] for r in daily.select("d").distinct().collect()})
    cut_d = cut[len(cut) // 2]
    src = str(tmp_path / "ph_src")
    daily.filter(F.col("d") <= cut_d).coalesce(1).write.mode("append").parquet(src)
    daily.filter(F.col("d") > cut_d).coalesce(1).write.mode("append").parquet(src)

    run_available_now(
        page_hinkley(read_daily_stream(spark, src)),
        "ph_test",
        str(tmp_path / "ckpt_ph"),
        output_mode="update",
    )
    got = {}
    for r in spark.sql("SELECT * FROM ph_test ORDER BY n_days").collect():
        got[r["event_type"]] = (
            r["n_days"], r["m_ph"], r["gap"], r["n_alarms"], r["first_alarm_day"]
        )
    assert len(got) == len(want)
    for et, (t, m, gap, nal, first) in want.items():
        g = got[et]
        assert g[0] == t and g[3] == nal and g[4] == first, et
        assert abs(g[1] - m / 1e9) < 1e-6 and abs(g[2] - gap / 1e9) < 1e-6, et


def test_page_hinkley_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Kill-and-resume: incarnation 1 drains half the series and stops; a
    fresh query restarts from the SAME checkpoint and folds drop 2 onto
    the recovered (t, S, cum_fs, min_m) integers — correct final state is
    only possible if they came off disk."""
    from wri_data_processing_spark.streaming.pipelines import (
        page_hinkley,
        read_daily_stream,
    )

    daily, want = _ph_reference(spark, sf_dir)
    cut = sorted({r["d"] for r in daily.select("d").distinct().collect()})
    cut_d = cut[len(cut) // 2]
    src = str(tmp_path / "ph_rec_src")
    ckpt = str(tmp_path / "ckpt_ph_rec")

    def _drain(sink):
        def _s(batch_df, batch_id):
            sink.extend(batch_df.collect())
        return _s

    daily.filter(F.col("d") <= cut_d).coalesce(1).write.mode("append").parquet(src)
    run1: list = []
    q = (
        page_hinkley(read_daily_stream(spark, src))
        .writeStream.foreachBatch(_drain(run1))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert run1 and all(r["n_days"] < want[r["event_type"]][0] for r in run1)

    daily.filter(F.col("d") > cut_d).coalesce(1).write.mode("append").parquet(src)
    run2: list = []
    q = (
        page_hinkley(read_daily_stream(spark, src))
        .writeStream.foreachBatch(_drain(run2))
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert run2
    got = {r["event_type"]: r for r in run2}
    for et, (t, m, gap, nal, first) in want.items():
        g = got[et]
        assert g["n_days"] == t and g["n_alarms"] == nal, et
        assert g["first_alarm_day"] == first, et
        assert abs(g["m_ph"] - m / 1e9) < 1e-6, et


def test_page_hinkley_state_survives_int64_overflow(spark, tmp_path):
    """ADVICE r11: cum_fs = SUM floor(S_s*1e9/s) wraps int64 once a key's
    cumulative count clears ~9.2e9. The state now carries cum_fs/min_m as
    decimal-digit strings folded in Python bigints; feed counts of ~4e17
    per day (cum_fs ~1e28 after 10 days — 10**9 times past int64) split
    across TWO drops through the SAME checkpoint, and require the exact
    bigint fold on the far side of both the overflow and the recovery."""
    from wri_data_processing_spark.streaming.pipelines import (
        page_hinkley,
        read_daily_stream,
    )

    rows = [("big", f"2024-01-{i:02d}", 4 * 10**17 + i * 10**13) for i in range(1, 11)]
    t = s = cumfs = nal = 0
    minm = first = None
    m = gap = 0
    for d, n in [(r[1], r[2]) for r in rows]:
        t += 1
        s += n
        cumfs += s * 10**9 // t
        m = s * 10**9 - cumfs
        minm = m if minm is None else min(minm, m)
        gap = m - minm
        if 2 * t * gap > s * 10**9:
            nal += 1
            if first is None:
                first = d
    assert cumfs > 2**63  # the premise: the old LongType field WOULD wrap

    src = str(tmp_path / "ph_big_src")
    ckpt = str(tmp_path / "ckpt_ph_big")
    daily = spark.createDataFrame(rows, "event_type string, d string, n long")

    def _drain(sink):
        def _s(batch_df, batch_id):
            sink.extend(batch_df.collect())
        return _s

    def _run(sink):
        q = (
            page_hinkley(read_daily_stream(spark, src))
            .writeStream.foreachBatch(_drain(sink))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    daily.filter(F.col("d") <= "2024-01-05").coalesce(1).write.mode("append").parquet(src)
    run1: list = []
    _run(run1)
    assert run1 and all(r["n_days"] < t for r in run1)
    daily.filter(F.col("d") > "2024-01-05").coalesce(1).write.mode("append").parquet(src)
    run2: list = []
    _run(run2)
    got = max(run2, key=lambda r: r["n_days"])
    assert got["n_days"] == t and got["n_alarms"] == nal
    assert got["first_alarm_day"] == first
    assert abs(got["m_ph"] - m / 1e9) < max(1e-6, abs(m / 1e9) * 1e-12)
    assert abs(got["gap"] - gap / 1e9) < max(1e-6, abs(gap / 1e9) * 1e-12)


def test_stream_stream_join_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Kill-and-resume proof for the stream-stream interval join — the
    only twin family without one (cusum/velocity/drift_report/
    page_hinkley have theirs). The recovery property under test is the
    JOIN STATE STORE: clicks buffered awaiting future purchases must
    survive a query restart on disk, not in the stopped JVM. The time
    axis splits at the midpoint of a known matching (click, purchase)
    pair, so at least one attribution can ONLY be produced by a click
    recovered from the checkpoint joining a purchase that arrives in the
    second incarnation."""
    from wri_data_processing_spark.streaming.pipelines import (
        click_purchase_join,
        read_event_stream,
    )

    e = table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    batch_pairs = c.join(p, cond).collect()
    assert batch_pairs
    # the widest-gap matching pair gives the most room for a clean split
    straddle = max(batch_pairs, key=lambda r: r["purchase_ts"] - r["click_ts"])
    cut = straddle["click_ts"] + (straddle["purchase_ts"] - straddle["click_ts"]) / 2
    want = {(r["c_user"], r["click_id"], r["purchase_id"]) for r in batch_pairs}
    straddle_key = (straddle["c_user"], straddle["click_id"], straddle["purchase_id"])

    src = str(tmp_path / "ssj_src")
    ckpt = str(tmp_path / "ckpt_ssj_recovery")
    e.filter(F.col("ts") <= cut).coalesce(1).write.mode("append").parquet(src)

    def _drain(emitted):
        def _sink(batch_df, batch_id):
            emitted.extend(batch_df.collect())
        return _sink

    def _run(emitted):
        s = read_event_stream(spark, src)
        q = (
            click_purchase_join(
                s.filter(F.col("event_type") == "click"),
                s.filter(F.col("event_type") == "purchase"),
            )
            .writeStream.foreachBatch(_drain(emitted))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run1: list = []
    _run(run1)
    got1 = {(r["user_id"], r["click_id"], r["purchase_id"]) for r in run1}
    # the straddling purchase hasn't arrived yet — its click sits in the
    # checkpointed join state
    assert straddle_key not in got1

    # second drop arrives while no query runs; a NEW query object resumes
    # from the same checkpoint
    e.filter(F.col("ts") > cut).coalesce(1).write.mode("append").parquet(src)
    run2: list = []
    _run(run2)
    got2 = {(r["user_id"], r["click_id"], r["purchase_id"]) for r in run2}
    # the straddling attribution is only producible from RECOVERED state
    assert straddle_key in got2
    # and the two incarnations together equal the unbroken batch join
    assert got1 | got2 == want


def test_stream_stream_outer_join_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Outer-join twin recovery: beyond the inner test's buffered-match
    property, the LEFT-OUTER path must also emit the NULL row for a click
    buffered BEFORE the kill whose interval only closes (purchase-side
    watermark passes click_ts + 30 min) AFTER the restart — proving the
    watermark position and the unmatched-click buffer both came off the
    checkpoint, not the stopped JVM."""
    from wri_data_processing_spark.streaming.pipelines import (
        click_purchase_join_outer,
        read_event_stream,
    )

    e = table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    batch = c.join(p, cond, "left").collect()
    want_matched = {
        (r["c_user"], r["click_id"], r["purchase_id"])
        for r in batch
        if r["purchase_id"] is not None
    }
    want_null = {(r["c_user"], r["click_id"]) for r in batch if r["purchase_id"] is None}
    click_ts = {r["click_id"]: r["click_ts"] for r in c.collect()}

    # split at the global median event time: plenty of pre-cut clicks
    # whose NULL can only emit after drop 2 advances the watermark
    all_ts = sorted(r["ts"] for r in e.select("ts").collect())
    cut = all_ts[len(all_ts) // 2]

    src = str(tmp_path / "ssjo_rec_src")
    ckpt = str(tmp_path / "ckpt_ssjo_recovery")
    e.filter(F.col("ts") <= cut).coalesce(1).write.mode("append").parquet(src)

    def _drain(emitted):
        def _sink(batch_df, batch_id):
            emitted.extend(batch_df.collect())
        return _sink

    def _run(emitted):
        s = read_event_stream(spark, src)
        q = (
            click_purchase_join_outer(
                s.filter(F.col("event_type") == "click"),
                s.filter(F.col("event_type") == "purchase"),
            )
            .writeStream.foreachBatch(_drain(emitted))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run1: list = []
    _run(run1)
    null1 = {(r["user_id"], r["click_id"]) for r in run1 if r["purchase_id"] is None}

    e.filter(F.col("ts") > cut).coalesce(1).write.mode("append").parquet(src)
    run2: list = []
    _run(run2)
    rows = run1 + run2
    got_matched = {
        (r["user_id"], r["click_id"], r["purchase_id"])
        for r in rows
        if r["purchase_id"] is not None
    }
    got_null = {(r["user_id"], r["click_id"]) for r in rows if r["purchase_id"] is None}

    # matched rows across both incarnations == batch, exactly (inner logic)
    assert got_matched == want_matched and want_matched
    # never a false NULL, before or after the restart
    assert got_null.issubset(want_null)
    # the recovery-specific evidence: some click from BEFORE the cut
    # (buffered across the kill, absent from run 1's NULLs) emits its
    # NULL only in incarnation 2
    recovered_nulls = {
        key for key in got_null - null1 if click_ts[key[1]] <= cut
    }
    assert recovered_nulls, "no pre-cut click emitted NULL after restart"
    # a NULL click never also matches
    assert not {(u, cid) for (u, cid, _) in got_matched} & got_null


def test_url_dedup_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Kill-and-resume for the first-arrival URL dedup state (VERDICT r12
    item 5): incarnation 1 drains the even-doc_id drop and stops; the odd
    drop lands while NO query runs; a brand-new query object restarts from
    the SAME checkpoint. The recovered dropDuplicates state must suppress
    every canonical key already won in run 1 (at sf0.001 every even-side
    key recurs on the odd side — 125 forced collisions), so run 2 may emit
    only NET-NEW keys, and run1 ∪ run2 must equal the batch op's key set."""
    from wri_data_processing_spark import registry
    from wri_data_processing_spark.streaming.pipelines import (
        read_doc_stream,
        url_deduped,
    )

    d = table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "ckpt_url_recovery")

    def _drain(emitted):
        def _sink(batch_df, batch_id):
            emitted.extend(batch_df.collect())
        return _sink

    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    run1: list = []
    q = (
        url_deduped(read_doc_stream(spark, src))
        .writeStream.foreachBatch(_drain(run1))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    keys1 = {r["canonical_url"] for r in run1}
    assert keys1

    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    run2: list = []
    q = (
        url_deduped(read_doc_stream(spark, src))
        .writeStream.foreachBatch(_drain(run2))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    keys2 = {r["canonical_url"] for r in run2}

    # The recovery proof: run 2 re-emitted NOTHING run 1 already won, even
    # though every run-1 key recurs in drop 2 — that state came off disk.
    assert not keys1 & keys2, sorted(keys1 & keys2)[:5]

    registry.load_all()
    want = {
        r["canonical_url"]
        for r in registry.REGISTRY["dedup_url_canonical"](spark, sf_dir).collect()
    }
    assert keys1 | keys2 == want


def test_segment_dedup_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Kill-and-resume for the C4-style segment dedup state: same two-
    incarnation protocol as the URL twin, over the 16-token segment hash
    keys (the even/odd doc split forces 41 cross-drop duplicate segments
    at sf0.001). Run 2 may emit only segments unseen in run 1, and the
    union must equal the batch op's distinct-segment set."""
    from wri_data_processing_spark.queries.llm_segments import _segments
    from wri_data_processing_spark.streaming.pipelines import (
        read_doc_stream,
        segment_deduped,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "ckpt_seg_recovery")

    def _drain(emitted):
        def _sink(batch_df, batch_id):
            emitted.extend(batch_df.collect())
        return _sink

    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    run1: list = []
    q = (
        segment_deduped(read_doc_stream(spark, src))
        .writeStream.foreachBatch(_drain(run1))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    whs1 = {r["wh"] for r in run1}
    assert whs1

    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    run2: list = []
    q = (
        segment_deduped(read_doc_stream(spark, src))
        .writeStream.foreachBatch(_drain(run2))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    whs2 = {r["wh"] for r in run2}

    assert not whs1 & whs2, f"{len(whs1 & whs2)} segments re-emitted after restart"
    batch_whs = {
        r["wh"]
        for r in _segments(d)
        .select(F.substring(F.sha2(F.col("seg"), 256), 1, 16).alias("wh"))
        .distinct()
        .collect()
    }
    assert whs1 | whs2 == batch_whs
