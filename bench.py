#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries and prints ONE JSON line.

Usage: python bench.py
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS   (default 32)
       SPARK_GRAFT_BENCH_RUNS (default 3; timed runs per query)

Prints ONE COMPACT line (must fit the driver's ~2 KB tail capture —
VERDICT r6 item 2):
    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {name: median_sec}, "sf": <sf>}
and writes the full attribution (queries_detail min/spread/breakdowns,
env_probe pre/post) to BENCH_DETAIL.json next to this script.

Methodology — numbers this harness must be able to DEFEND on a contended box:
- Each query is executed to completion (count-collected) so the measured
  time covers the full scan/shuffle/aggregate pipeline, not lazy plan
  construction. A warmup run of each query first JIT-warms whole-stage
  codegen and the parquet footer cache, so every timed run is steady-state.
- >= 3 timed runs per query. The headline scalar per query is the MEDIAN
  (robust to one noisy-neighbor spike); min and relative spread
  ((max-min)/median) ship alongside in queries_detail so a regression is
  distinguishable from variance. If spread exceeds 20%, up to 2 extra runs
  are taken and the spread recomputed over the best window.
- An ENVIRONMENT PROBE runs alongside the headline: two pinned constant
  workloads whose cost is independent of the engine code and the data under
  test — a cached 1-row count (scheduler/job-launch overhead) and a fixed
  4M-row sha256 reduction (raw JVM CPU throughput). Round-over-round, the
  probe separates "the box is N× slower today" from "this query regressed":
  divide a query's delta by the cpu-probe delta before believing it. The
  probe runs twice, before and after the headline; "post" (fully JIT-warm,
  same state the timed queries ran in) is the canonical normalizer, "pre"
  captures cold-start drift.

Headline ADMISSION RULE (the suite stays a signal, not a ceremony): a query
earns a headline slot only if it is (a) the heaviest driver-green
representative of an operator family (scan-agg, join, window, top-k,
streaming-batch, sessionize, dedup, similarity, text), (b) one side of a
measured design tradeoff tracked round-over-round (dedup_substring vs
_winnow: CPU-vs-shuffle; dedup_clusters vs _unique: duplication
invariance), or (c) the flagship composed pipeline. A new op enters by
REPLACING its family's representative or by documenting which tradeoff it
measures; everything else is covered by the correctness harness, not timed
here.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wri_data_processing_spark import registry
from wri_data_processing_spark.session import get_spark

# Headline set: one representative per operator family, weighted toward the
# plans that matter at scale (wide agg scan, big joins, windows, sessionize,
# dedup incl. the iterative cluster closure, bucketed ANN pairs).
HEADLINE = [
    "q1_pricing_summary",
    "join_inner_equi",
    "join_broadcast_left",
    "join_asof",
    "join_range",
    "agg_cube_rollup",
    "window_running_sum",
    "top_k",
    "stream_window_agg",
    "stream_session_window",
    "events_sessionize",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_substring",
    "dedup_substring_winnow",
    "dedup_segments_rewrite",  # segment-granularity family rep (heavier than counts)
    "dedup_clusters",
    "dedup_clusters_unique",
    "corpus_prep_pipeline",
    "sim_topk",
    "sim_pairs_threshold",
    "text_stats",
    # r8: text_bigram_lm REPLACES text_lm_score as the text family's heavy
    # representative (admission rule a: the bigram LM is the unigram plan
    # twice over — distinct-bigram shuffles dominate; measured 1.15 s vs
    # 0.9 s at sf0.1). The unigram plan stays timed inside
    # web_corpus_pipeline's survivor-LM stage.
    "text_bigram_lm",
    # r7: stats-family representative (admission rule a): the heaviest
    # consumer of the shared two-phase distributed prefix sum.
    "stats_quantiles_exact",
    # r8 late: the graph/co-occurrence family (pagerank, CC, k-core,
    # triangles, link prediction, item-item CF) had NO headline
    # representative; admission rule a admits its heaviest driver-green
    # member — 5-round integer PageRank, measured 4.6 s at sf0.1 vs
    # recsys_item_similar 2.8 / graph_kcore 2.7 / linkpred 2.1.
    "graph_pagerank",
    # r8 late: the fourth composed flagship (admission rule c) — the RAG
    # serving path (IVF probe -> exact integer re-rank -> greedy MMR),
    # measured 2.8 s at sf0.1; serving-path latency regressions should be
    # visible in the headline, not hidden behind curation pipelines.
    "retrieval_pipeline",
    # r8: the web-curation composed program (admission rule c): one slot
    # covering three r8 families end-to-end — scan-stage URL
    # canonicalization, survivor-trained unigram LM, grouped two-phase
    # cumsum thirds (measured 2.9 s at sf0.1).
    "web_corpus_pipeline",
    # r9: the model-eval family (AUC, calibration bins, PR sweep, decile
    # lift/gains, pass@k) had NO headline representative; admission rule a
    # admits its heaviest driver-green member — the Mann-Whitney AUC's
    # two-phase distinct-value prefix sum, measured 1.04 s at sf0.1 vs
    # stats_lift_gains 0.75 / eval_pass_at_k 0.75.
    "stats_auc",
    # r11: the warehouse family (MERGE, SCD2, snapshot time-travel/expire/
    # rollback/branching, WAP, GDPR erasure — 15+ ops) had NO headline
    # representative despite being manifest-IO bound, a regression class
    # the correctness rows can't catch (VERDICT r10 item 6); admission
    # rule a admits its heaviest driver-green member — the full branch
    # fork -> diverge -> conflict-checked merge-back lifecycle, measured
    # 1.64 s at sf0.1 vs snapshot_forget_user 1.56 / merge_upsert 0.59.
    "snapshot_merge_branch",
    # r11: the seventh composed flagship (admission rule c) — the
    # tokenizer lifecycle (5-round BPE training loop -> vocabulary
    # tokenization -> per-language fertility audit), measured 2.5 s at
    # sf0.1; the training loop's per-round pair-count shuffle +
    # TakeOrdered argmax + array-fold rewrite is a plan shape nothing
    # else in the headline exercises.
    "tokenizer_pipeline",
    # r12: the eighth composed flagship (admission rule c) — the corpus-
    # release privacy pass (detect -> masked redact -> residual-verify ->
    # per-source rollup). Its plan shape is unique in the headline: a
    # heavy regex/Luhn expression pipeline fused into ONE scan-stage
    # projection (text never shuffles) — the pure-codegen-throughput
    # regression class (a refactor that breaks the fusion or drops a
    # boundary into Python shows up here, not in any shuffle-bound query).
    "privacy_pipeline",
    # r12 late wave: the global set-difference family rep — two corpus-
    # wide DISTINCTs over int64 shingle keys feeding ONE partitioned
    # LEFT ANTI join (deliberately not broadcast: the build side is
    # corpus-sized). No other headline query exercises a large anti
    # join; a regression that flips it to broadcast (driver OOM at
    # scale) or lets text reach the exchange shows up here.
    "text_ngram_novelty",
    # r13: the sha-per-trigram reader-throughput class at its heaviest —
    # five per-class folds over a ONCE-materialized bucket array. The
    # regression this slot catches is the subexpression one: an edit
    # that inlines the bucket array re-hashes per class (5x sha) with
    # zero correctness signal, visible only as wall-clock here.
    "text_lang_id_multi",
    # r13: the survival family rep (KM/NA/log-rank share the shape) —
    # per-user conditional min/max aggregate + calendar-bounded duration
    # agg, then single-row O(k^2) array folds; the one headline slot
    # where single-row array-expression evaluation dominates the
    # shuffles, a distinct regression class.
    "stats_logrank_test",
    # r15 (VERDICT r14 item 5): the two r14 flagships get tracked timings
    # against their shipped A/B baselines. eval_bleu is the 4-way n-gram
    # explode + one map-side-combined (pair, n, h) fold — the measured
    # one-scan shape (1.49 s vs the 3.07 s union-of-scans alternative);
    # a regression back to per-n scans shows up here first.
    "eval_bleu",
    # retrieval_hybrid_rrf composes BOTH registered ranking plans (BM25's
    # scan-local tf + the exact integer-dot top-k) plus the 20x20 fusion
    # join — the serving-latency twin of retrieval_pipeline for the
    # hybrid path.
    "retrieval_hybrid_rrf",
    # r15b: eval_cer is the one headline slot where a per-row QUADRATIC
    # JVM expression (the Levenshtein DP inside the post-shuffle project)
    # dominates a single pair shuffle — a distinct regression class: a
    # slide to a Python UDF or a pairing join shows up here first.
    "eval_cer",
    # eval_dedup_pr runs BOTH proven candidate generators (posting-list
    # exact Jaccard + declared-permutation MinHash banding) plus the
    # pair-level full-outer audit join — the heaviest dedup-family
    # composition, and the slot that times the generators' shared
    # helpers against each other every round.
    "eval_dedup_pr",
]

SPREAD_TARGET = 0.20
EXTRA_RUNS = 2


# r15 (OPTIMIZATION_r15.md, guide §1.4): the timed action is the NOOP SINK,
# not count(). count() lets Catalyst prune unreferenced columns and whole
# row-preserving operators, and the audit (experiments/noop_audit.py) showed
# it was silently skipping the core compute of several headline queries —
# privacy_pipeline's scan-fused regex pipeline (13.5x under-measured),
# text_lang_id_multi's per-trigram sha folds (37x), eval_cer's quadratic DP
# (4.7x), the window family, q1's aggregate expressions (4x). The noop sink
# computes EVERY column of every row and discards it. The r1-r14 count()
# figures stay recorded in OPTIMIZATION_r15.md for cross-round comparison.


def _time_once(fn, spark, sf_dir) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _env_probe(spark, n_runs: int) -> dict:
    """Pinned constant workloads: an environment normalizer for the headline.

    Both probes are independent of SF_DIR and of every engine module, so
    their round-over-round ratio measures the BOX, not the code. noop_sec is
    a count over a pre-materialized 1-row cache (pure scheduler + job-launch
    latency); cpu_sec is a fixed 4M-row sha256 fold over 32 in-memory
    partitions (pure JVM compute, no I/O, no shuffle beyond the 32->1 agg).
    """
    from pyspark.sql import functions as F

    one = spark.range(1).cache()
    one.count()  # materialize the cache before timing

    def _noop(s, d):
        return one

    def _cpu(s, d):
        return (
            s.range(0, 4_000_000, 1, 32)
            .select(F.sha2(F.col("id").cast("string"), 256).alias("h"))
            .agg(F.sum(F.length("h")).alias("n"))
        )

    out = {}
    for key, fn in (("noop_sec", _noop), ("cpu_sec", _cpu)):
        _time_once(fn, spark, None)  # warmup
        runs = sorted(_time_once(fn, spark, None) for _ in range(max(3, n_runs)))
        out[key] = round(statistics.median(runs), 4)
        out[key.replace("_sec", "_min_sec")] = round(runs[0], 4)
    one.unpersist()
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = max(3, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    registry.load_all()
    spark = get_spark(app_name="wri-engine-bench")

    probe_pre = _env_probe(spark, n_runs)

    timings: dict[str, float] = {}
    detail: dict[str, dict] = {}
    for name in HEADLINE:
        fn = registry.REGISTRY[name]
        _time_once(fn, spark, sf_dir)  # per-query warmup (codegen, listings)
        runs = [_time_once(fn, spark, sf_dir) for _ in range(n_runs)]
        med = statistics.median(runs)
        # Contended-box escape hatch: tighten with extra runs, then report
        # spread over the n_runs fastest (the steady-state window).
        extra = 0
        while med > 0 and (max(runs) - min(runs)) / med > SPREAD_TARGET and extra < EXTRA_RUNS:
            runs.append(_time_once(fn, spark, sf_dir))
            runs = sorted(runs)[:n_runs]
            med = statistics.median(runs)
            extra += 1
        spread = (max(runs) - min(runs)) / med if med > 0 else 0.0
        timings[name] = round(med, 3)
        detail[name] = {
            "median": round(med, 3),
            "min": round(min(runs), 3),
            "spread_pct": round(100.0 * spread, 1),
            "runs": n_runs + extra,
        }

    # dedup_clusters attribution: time its pair-generation half alone so a
    # future regression is attributable to pair generation vs propagation
    # (VERDICT r4 item 5). cluster_edges materializes eagerly, so call+count
    # covers exactly the edge-building work embedded in dedup_clusters.
    if "dedup_clusters" in timings:
        from wri_data_processing_spark.queries import llm_dedup

        def _edges(s, d):
            return llm_dedup.cluster_edges(s, d)

        _time_once(_edges, spark, sf_dir)  # warmup
        pair_runs = [_time_once(_edges, spark, sf_dir) for _ in range(n_runs)]
        pairgen = statistics.median(pair_runs)
        residual = timings["dedup_clusters"] - pairgen
        detail["dedup_clusters"]["pairgen_sec"] = round(pairgen, 3)
        detail["dedup_clusters"]["pairgen_spread_pct"] = round(
            100.0 * (max(pair_runs) - min(pair_runs)) / pairgen, 1
        ) if pairgen > 0 else 0.0
        detail["dedup_clusters"]["propagation_sec"] = round(max(0.0, residual), 3)
        detail["dedup_clusters"]["propagation_residual_sec"] = round(residual, 3)
        _labels, rounds = llm_dedup.propagate_min_labels(llm_dedup.cluster_edges(spark, sf_dir))
        detail["dedup_clusters"]["propagation_rounds"] = rounds

    # Same split for the duplication-invariant variant: its pairgen half adds
    # the digest collapse + star edges on top of the rep-space shingle join.
    if "dedup_clusters_unique" in timings:
        from wri_data_processing_spark.queries import llm_dedup

        def _edges_u(s, d):
            return llm_dedup.cluster_edges_unique(s, d)

        _time_once(_edges_u, spark, sf_dir)  # warmup
        pair_runs = [_time_once(_edges_u, spark, sf_dir) for _ in range(n_runs)]
        pairgen = statistics.median(pair_runs)
        # The residual (headline median minus an independently-sampled pairgen
        # median) is an attribution heuristic on a shared box: ship pairgen's
        # own spread and the UNCLAMPED residual so a negative/near-zero value
        # is visible in the JSON rather than silently clamped to 0.0.
        residual = timings["dedup_clusters_unique"] - pairgen
        detail["dedup_clusters_unique"]["pairgen_sec"] = round(pairgen, 3)
        detail["dedup_clusters_unique"]["pairgen_spread_pct"] = round(
            100.0 * (max(pair_runs) - min(pair_runs)) / pairgen, 1
        ) if pairgen > 0 else 0.0
        detail["dedup_clusters_unique"]["propagation_sec"] = round(max(0.0, residual), 3)
        detail["dedup_clusters_unique"]["propagation_residual_sec"] = round(residual, 3)

    # dedup_ngram_jaccard attribution: shingle construction (CPU-bound
    # expression eval) vs posting-list join (shuffle-bound) — the two halves
    # regress for different reasons (codegen vs exchange sizing).
    if "dedup_ngram_jaccard" in timings:
        from wri_data_processing_spark.catalog import table as _table
        from wri_data_processing_spark.queries.llm_dedup import _shingles_hashed

        def _shingles(s, d):
            return _shingles_hashed(_table(s, d, "documents"), 3)

        _time_once(_shingles, spark, sf_dir)  # warmup
        sh_runs = [_time_once(_shingles, spark, sf_dir) for _ in range(n_runs)]
        sh = statistics.median(sh_runs)
        detail["dedup_ngram_jaccard"]["shingle_sec"] = round(sh, 3)
        detail["dedup_ngram_jaccard"]["join_sec"] = round(
            max(0.0, timings["dedup_ngram_jaccard"] - sh), 3
        )

    # ANN build/query split (VERDICT r7 item 2): the registered pq/ivfpq
    # ops fold index build into the query, so their end-to-end timings are
    # ~80% build (experiments/pq_build_split.py) — the serving-path number
    # a capacity planner needs would otherwise be invisible here. Build is
    # timed ONCE (it is inherently a cold, run-once-at-ingest cost; a
    # median over reruns would time the localCheckpoint cache instead),
    # the query path gets the standard warmup + n_runs median.
    ann_split: dict[str, dict] = {}
    try:
        from wri_data_processing_spark.catalog import table as _table
        from wri_data_processing_spark.queries.llm_similarity import (
            _qvec,
            ivfpq_index,
            ivfpq_query,
            pq_encode,
            pq_query,
            pq_subvectors,
            pq_train_codebooks,
        )

        e = _table(spark, sf_dir, "embeddings")
        e.count()  # warm the scan so build_sec is index work, not I/O

        t0 = time.perf_counter()
        qt = e.select("vec_id", _qvec("embedding").alias("qv"))
        sub = pq_subvectors(qt)
        cents = pq_train_codebooks(sub)
        codes = pq_encode(sub, cents).localCheckpoint()
        pq_build = time.perf_counter() - t0

        def _pq_q(s, d):
            return pq_query(e, sub, cents, codes)

        _time_once(_pq_q, spark, sf_dir)  # warmup
        q_runs = [_time_once(_pq_q, spark, sf_dir) for _ in range(n_runs)]
        ann_split["sim_ann_pq"] = {
            "build_sec": round(pq_build, 3),
            "query_sec": round(statistics.median(q_runs), 3),
        }

        t0 = time.perf_counter()
        qt = e.select("vec_id", _qvec("embedding").alias("qv"))
        ccents, asg, pcents, icodes = ivfpq_index(qt)
        asg = asg.localCheckpoint()
        icodes = icodes.localCheckpoint()
        ivfpq_build = time.perf_counter() - t0

        def _ivfpq_q(s, d):
            return ivfpq_query(e, qt, ccents, asg, pcents, icodes)

        _time_once(_ivfpq_q, spark, sf_dir)  # warmup
        q_runs = [_time_once(_ivfpq_q, spark, sf_dir) for _ in range(n_runs)]
        ann_split["sim_ann_ivfpq"] = {
            "build_sec": round(ivfpq_build, 3),
            "query_sec": round(statistics.median(q_runs), 3),
        }
    except Exception as exc:  # the split must never sink the headline
        ann_split = {"error": repr(exc)}

    # web_corpus_pipeline attribution: the localCheckpoint after the
    # survivor-LM score frame is a natural stage boundary — time the
    # url-dedup + survivor-LM half alone so a regression is attributable
    # to the LM stage vs the thirds/report stage (the dedup_clusters
    # pairgen/propagation protocol).
    if "web_corpus_pipeline" in timings:
        from wri_data_processing_spark.catalog import table as _tbl
        from wri_data_processing_spark.queries.llm_pipeline import _canonical_urls
        from wri_data_processing_spark.queries.llm_text import _lm_xent

        def _lm_half(s, d):
            doc = _tbl(s, d, "documents")
            keep = (
                _canonical_urls(doc)
                .groupBy("canonical_url")
                .agg(F_bench.min("doc_id").alias("doc_id"))
                .select("doc_id")
            )
            surv = doc.join(keep, "doc_id", "left_semi")
            return _lm_xent(surv, passengers=("lang",), share_dt=True)

        from pyspark.sql import functions as F_bench

        _time_once(_lm_half, spark, sf_dir)  # warmup
        lm_runs = [_time_once(_lm_half, spark, sf_dir) for _ in range(n_runs)]
        lm_sec = statistics.median(lm_runs)
        detail["web_corpus_pipeline"]["lm_stage_sec"] = round(lm_sec, 3)
        detail["web_corpus_pipeline"]["thirds_report_residual_sec"] = round(
            timings["web_corpus_pipeline"] - lm_sec, 3
        )

    # retrieval_pipeline attribution (VERDICT r12 item 4): the pool's
    # localCheckpoint is the stage boundary — time the IVF-probe + exact
    # rerank half alone so a driver-bench spike is attributable to the
    # index/rerank stage vs the MMR tail (r12's 5.9 s loaded-box reading
    # vs the 1.5 s quiet median was unattributable without this split).
    if "retrieval_pipeline" in timings:
        # Shared helper (r14, ADVICE r13): the attribution times the
        # pipeline's OWN pool plan (checkpoint=False = the pre-barrier
        # plan, same work the old inline copy measured), so a pool-shape
        # change in llm_similarity.py can never leave this stale.
        from wri_data_processing_spark.queries.llm_similarity import retrieval_pool

        def _pool_half(s, d):
            return retrieval_pool(s, d, checkpoint=False)

        _time_once(_pool_half, spark, sf_dir)  # warmup
        pool_runs = [_time_once(_pool_half, spark, sf_dir) for _ in range(n_runs)]
        pool_sec = statistics.median(pool_runs)
        detail["retrieval_pipeline"]["probe_rerank_sec"] = round(pool_sec, 3)
        detail["retrieval_pipeline"]["probe_rerank_spread_pct"] = round(
            100.0 * (max(pool_runs) - min(pool_runs)) / max(pool_sec, 1e-9), 1
        )
        detail["retrieval_pipeline"]["mmr_residual_sec"] = round(
            timings["retrieval_pipeline"] - pool_sec, 3
        )

    probe_post = _env_probe(spark, n_runs)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Load normalization (VERDICT r9 item 2): the raw headline is hostage to
    # whatever else the box is running (r9: 42.9 s driver vs 27.8 s committed
    # for IDENTICAL code — pre cpu-probe 0.348 vs 0.172, a 2.0x loaded box).
    # The quiet reference is HOST-DERIVED (ADVICE r10 item 5): the minimum
    # PRE-probe cpu_sec ever observed on this host lineage — committed
    # BENCH_r*.json payloads, committed BENCH_DETAIL.json, and THIS run's
    # own pre probe — with the r9 quiet-box constant 0.172 kept as the
    # lineage anchor. Pre probes only: post probes run JIT-warm and would
    # flatter the ratio. On genuinely slower (but quiet) hardware the
    # host's own probes become the floor, so hardware slowness is no
    # longer attributed to load. load_factor > 1 means the box was that
    # much slower than its quiet floor during THIS run;
    # value_load_normalized divides it out (ADVISORY — an estimate, not a
    # measurement; the raw value stays the headline). Clamped at 1.0.
    quiet_candidates = [0.172, probe_pre["cpu_sec"]]
    import glob as _glob

    _root = os.path.dirname(os.path.abspath(__file__))
    for _p in _glob.glob(os.path.join(_root, "BENCH_r*.json")):
        try:
            with open(_p) as _fh:
                _parsed = (json.load(_fh) or {}).get("parsed") or {}
            if isinstance(_parsed.get("env_cpu_probe_sec"), (int, float)):
                quiet_candidates.append(float(_parsed["env_cpu_probe_sec"]))
        except (OSError, ValueError):
            pass
    try:
        with open(os.path.join(_root, "BENCH_DETAIL.json")) as _fh:
            _pre = ((json.load(_fh) or {}).get("env_probe") or {}).get("pre") or {}
        if isinstance(_pre.get("cpu_sec"), (int, float)):
            quiet_candidates.append(float(_pre["cpu_sec"]))
    except (OSError, ValueError):
        pass
    # Robust floor (ADVICE r11): an unguarded min would let ONE glitched
    # (anomalously low) historical probe permanently inflate load_factor
    # and flatter value_load_normalized forever after. Discard candidates
    # below half the candidate median before taking the min — the median
    # itself always survives its own cut, so the set is never empty.
    _med = statistics.median(quiet_candidates)
    quiet_pre_cpu_sec = min(c for c in quiet_candidates if c >= 0.5 * _med)
    load_factor = max(1.0, probe_pre["cpu_sec"] / quiet_pre_cpu_sec)
    raw_total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": raw_total,
        "unit": "sec",
        "timed_action": "noop",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "env_cpu_probe_sec": probe_pre["cpu_sec"],
        "quiet_cpu_ref_sec": round(quiet_pre_cpu_sec, 4),
        "load_factor": round(load_factor, 3),
        "value_load_normalized": round(raw_total / load_factor, 3),
    }
    # stdout carries ONLY the compact line: the driver's tail capture is
    # ~2 KB, and three rounds of full-detail stdout came back "parsed: null"
    # (VERDICT r6 item 2). The per-query min/spread attribution and the
    # environment probe move to BENCH_DETAIL.json next to this script.
    detail_out = dict(out)
    detail_out["queries_detail"] = detail
    detail_out["ann_split"] = ann_split
    detail_out["env_probe"] = {"pre": probe_pre, "post": probe_post}
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(detail_out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
