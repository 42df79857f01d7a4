"""Repo-wide join-shape invariant: candidate generation is equi-join only.

The single worst scale failure for a 100 TB engine is a quadratic join that
slipped in as a cartesian product or an unbounded nested-loop join. Specific
plan tests (test_plan_shapes.py) pin individual operators; this sweep pins
the WHOLE registered surface: every query's physical plan is scanned, with
the plan of every frame it localCheckpoints (a loop round's joins live only
there). A ``BroadcastNestedLoopJoin``/``CartesianProduct`` is only tolerated
for ops on the whitelist below, each with the reason its nested loop is
bounded, and a listed op must still plan one, so an entry cannot outlive
its join.

A new operator that plans an unlisted nested loop fails here with the plan
line in the message — the regression-to-cartesian class becomes a CI
failure instead of a production incident.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from wri_data_processing_spark import registry
from wri_data_processing_spark.catalog import table

registry.load_all()

# name -> why a nested-loop join is acceptable THERE. Two legitimate shapes:
# (a) one side is provably tiny (1-row scalar, nlist centroids, 1 query
#     vector) so the "loop" is a broadcast map over a constant;
# (b) the op is an explicitly labeled small-N correctness anchor whose scale
#     twin uses bucketed equi-joins (VERDICT r4 "quarantined as anchors").
NLJ_WHITELIST: dict[str, str] = {
    "join_cross": "the operator IS a cross join (bounded dim x dim demo)",
    "q11_important_stock": "1-row scalar threshold (SUM * fraction) broadcast",
    "q22_global_sales_opportunity": "1-row AVG(acctbal) scalar broadcast",
    "text_tfidf": "1-row corpus-size N broadcast",
    "text_bm25_rank": "1-row corpus-stats broadcast (N, sum_dl, per-term "
    "df — constant width for a fixed query) over the scan; tf counts are "
    "map-side array-filter sizes, no token shuffle at all",
    "text_bm25_batch": "the text_bm25_rank 1-row corpus-stats broadcast, "
    "widened to the query set's 8 distinct terms (still constant width); "
    "the per-query fan-out is an in-row struct-array explode, and the only "
    "data-sized exchange is the WindowGroupLimit-pruned per-query rank",
    "stream_watermark": "1-row max-ts watermark scalar broadcast",
    "events_rate_test": "1-row integer-midpoint scalar broadcast over the "
    "scan — the stream_watermark shape",
    "materialized_reuse": "1-row cached grand-total broadcast",
    "basket_association_rules": "1-row basket-count denominator broadcast",
    "events_ewma": "7-day bounded date-range join against per-day aggregates",
    "sim_topk": "single query vector broadcast over the scan",
    "sim_ann_sq8": "two 1-row broadcasts: the per-dim min/max stats row "
    "and the query-vector row — both constant-size regardless of N",
    "sim_ann_pq": "1-row query-vector broadcast over the constant-size re-rank "
    "pool (ADC candidates themselves come from broadcast equi-joins on "
    "(subspace, code) — pinned in test_pq.py)",
    "sim_ann_ivfpq": "nlist-row coarse-centroid broadcast (assignment + "
    "probe) and 1-row query broadcast over the constant-size re-rank pool; "
    "candidates come from the broadcast (cell, subspace, code) LUT "
    "equi-join which doubles as the probe filter",
    "sim_topk_batch": "20-row query-set broadcast over the scan — a "
    "constant-size serving batch, and the per-query rank prunes to k rows "
    "per task map-side (WindowGroupLimit, pinned in test_pq.py)",
    "stats_ks_test": "1-row (n1, n2) grand-total broadcast over the "
    "cumulative ECDF frame",
    "stats_chi2_independence": "1-row grand-total n broadcast over the "
    "(types x cohorts) contingency cells frame — same bounded shape as "
    "stats_ks_test (VERDICT r6 item 1)",
    "stats_cramers_v": "1-row grand-total n broadcast over the "
    "(langs x sources) contingency cells frame — the "
    "stats_chi2_independence shape",
    "events_cooccurrence_pmi": "1-row context-count broadcast over "
    "the <=C(|types|,2)-row pair frame — the stats_ks_test shape",
    "text_heaps_law": "1-row corpus-bound (max doc_id) broadcast "
    "onto the type/token frames — the stats_ks_test shape, twice",
    "orders_backlog_aging": "1-row as-of max-date broadcast over the "
    "filtered scan — the stream_watermark shape",
    "events_absence_alert": "1-row max-date broadcast over the scan "
    "— the stream_watermark shape",
    "stream_drift_monitor": "1-row reference-total broadcast over the "
    "per-window PSI frame (one row per 6h window) — the stats_ks_test shape",
    "dedup_semantic": "nlist-row centroid table broadcast (ivf_assign "
    "coarse assignment) — the sim_ann_ivf shape; all pair work is the "
    "bucketed equi-join",
    "text_lm_score": "1-row (N, V) vocab-total broadcast over doc-level "
    "term rows — the stats_ks_test shape",
    "text_bigram_lm": "1-row (N, V) totals broadcast over doc-level "
    "bigram rows — the text_lm_score shape",
    "stats_quantiles_exact": "1-row N-total broadcast over the distinct-"
    "value cumsum frame — the stats_ks_test shape",
    "sample_dsir_weights": "1-row (N_r, N_t, V) totals broadcast over "
    "doc-level term rows — the text_lm_score shape",
    "mixture_temperature_weights": "1-row (N, Z) totals broadcast over "
    "the |langs|-row share frame — the stats_ks_test shape",
    "stats_winsorize": "two bounded 1-row broadcasts (N total onto the "
    "cumsum frame; (lo, hi) cuts back onto the scan — the "
    "events_zscore_outliers second-pass shape)",
    "snapshot_expire": "two 1-row count aggregates cross-joined into the "
    "single report row — both sides bounded",
    "snapshot_orphan_files": "two 1-row count aggregates cross-joined "
    "into the single report row — the snapshot_expire shape",
    "snapshot_forget_user": "two 1-row audit aggregates cross-joined "
    "into the single report row — the snapshot_expire shape",
    "dq_benford": "1-row N-total broadcast over the <=9-digit count frame "
    "— the stats_ks_test shape",
    "stats_proportion_ztest": "1-row epoch-midpoint broadcast back over "
    "the scan — the events_rate_test shape",
    "stats_kruskal_wallis": "1-row (n_tot, tie3) totals broadcast onto "
    "the k-row group frame — the stats_ks_test shape",
    "stats_weighted_quantiles": "1-row total-weight broadcast over the "
    "distinct-value cumsum frame — the stats_quantiles_exact shape",
    "sim_ann_lsh": "24-row sign matrix broadcast for signatures; candidate "
    "generation itself is the (band, bucket) equi-join vs the 36-row "
    "multi-probe table",
    "sim_ann_ivf": "nlist-row centroid table broadcast (assign + nprobe)",
    "sim_pairs_threshold": "nlist-row centroid broadcast; pair candidates "
    "themselves come from the (cid, blk) equi-join (pinned in "
    "test_plan_shapes)",
    "dedup_embedding": "same IVF centroid broadcast as sim_pairs_threshold",
    "embed_kmeans_assign": "k-row centroid table broadcast",
    "retrieval_hybrid_rrf": "its two source rankings' own bounded "
    "broadcasts — text_bm25_rank's 1-row corpus-stats row and the 1-row "
    "query-vector broadcast of the sim_topk shape; the fusion itself is a "
    "20-row x 20-row full outer equi-join on doc id",
    "embed_pca_power": "1-row max|y| renormalizer broadcast per power-"
    "iteration round (3 rounds, each bounded)",
    "embed_kmeans_iterate": "k-row centroid table broadcast, twice (one "
    "per unrolled Lloyd round)",
    "graph_triangle_count": "1-row edge-count denominator broadcast",
    "graph_markov_steady": "1-row occupancy-total broadcast onto the "
    "|types|-row steady vector — the stats_ks_test shape",
    "graph_hits": "1-row score-total broadcast per renormalized half-step "
    "(three, each bounded) — the graph_markov_steady shape",
    "stats_mutual_info": "1-row grand-total n broadcast over the "
    "(types x quadrants) cells frame — the stats_chi2_independence shape",
    "stats_lift_gains": "bounded 10x10 decile-range self-join for the "
    "cumulative-from-top sums (the events_ewma bounded-range shape) plus "
    "a 1-row totals broadcast",
    "sample_class_balance": "1-row minority-count target broadcast over "
    "the ranked scan — the stream_watermark shape",
    "text_collocations_pmi": "1-row bigram-total N broadcast over the "
    "supported pair frame — the stats_ks_test shape",
    "embed_label_affinity": "bounded |labels|^2 centroid pair cross "
    "(45 pairs; labels are a dimension, not data) — the "
    "embed_kmeans_iterate centroid-broadcast shape",
    "embed_triplet_mining": "constant-fraction anchor-set broadcast over "
    "the scan — the sim_topk_batch shape",
    "events_acf": "bounded 7-row lag-frame broadcast cross onto the "
    "daily aggregate — the events_ewma shape",
    "model_eval_pipeline": "three 1-row broadcast crosses stitching the "
    "four component reports into the one-row scorecard, plus the "
    "components' own whitelisted 1-row broadcasts (stats_lift_gains, "
    "stats_ks_test shapes)",
    "dedup_coverage_estimate": "three 1-row count broadcasts stitching "
    "the Lincoln-Petersen scorecard row; detector pair work is all "
    "banded equi-joins",
    "graph_transitivity": "1-row wedge-total broadcast — the "
    "graph_triangle_count shape",
    "stats_mann_kendall": "calendar-bounded day-pair range join (the "
    "stats_theil_sen shape) plus two 1-row scalar broadcasts",
    "events_seasonality_strength": "1-row between-group-SS broadcast "
    "onto the totals fold — the stats_ks_test shape",
    "drift_report_pipeline": "three 1-row broadcast crosses stitching "
    "the four drift detectors' reports, plus the components' own "
    "whitelisted 1-row broadcasts (stats_ks_test, stats_chi2 shapes)",
    "stats_qq_table": "bounded 9-row decile-frame broadcast cross onto "
    "the cumulative frame (the events_acf shape) + a 2-row cohort "
    "totals broadcast",
    "stats_effect_sizes": "1-row doubled-U broadcast from the composed "
    "stats_mann_whitney onto the moments fold — the stats_ks_test shape",
    "stats_kendall_tau": "calendar-bounded day-pair range join (the "
    "stats_theil_sen shape) plus a 1-row day-count broadcast",
    "stats_mood_median": "1-row pooled-median broadcast over the scan — "
    "the stats_ks_test shape",
    "stats_hodges_lehmann": "calendar-bounded |A|x|B| daily-count cross "
    "(the stats_theil_sen pair-cost contract), a bounded "
    "distinct-diff triangular cumulative self-join, and 1-row "
    "order-statistic broadcasts",
    "stats_durbin_watson": "1-row OLS-coefficient broadcast over the "
    "calendar-bounded daily frame (stream_watermark shape) plus a "
    "1-row day-count broadcast",
    "stats_cronbach_alpha": "1-row min-date broadcast over the scan "
    "(stream_watermark shape) and a 1-row x 1-row moment stitch",
    "eval_retrieval_per_query": "8-row probe-query-set broadcast over "
    "the scan — the sim_topk_batch shape",
    "retrieval_eval_pipeline": "the eval_retrieval_per_query 8-row "
    "query broadcast feeding one 1-row fold — the sim_topk_batch shape",
    "sim_pairs_exact": "labeled O(N^2) small-N anchor; scale path is "
    "sim_pairs_threshold",
    "dedup_embedding_exact": "labeled O(N^2) anchor; scale path is "
    "dedup_embedding",
    "sim_knn_graph": "labeled O(N^2) anchor; scale path is sim_ann_*",
    "embed_knn_outliers": "labeled O(N^2) anchor (the sim_knn_graph topology); scale path is sim_ann_*",
    # -- r11 --
    "embed_silhouette": "k-row centroid table broadcast — the "
    "embed_kmeans_assign shape",
    "eval_ann_recall": "8-row centroid broadcast (assignment + probe "
    "selection) and 8-row probe-query broadcast (the sim_topk_batch "
    "ground-truth cost); ANN candidates themselves come from the cell-id "
    "equi-join",
    "stats_friedman": "1-row k broadcast for the complete-block filter "
    "and a 1-row n_blocks broadcast; the rank join is a per-day k x k "
    "equi-join (calendar-bounded)",
    "stats_ljung_box": "bounded 7-row lag broadcast (events_acf shape) "
    "plus 1-row totals/denominator broadcasts",
    "stats_cochran_q": "1-row min-date broadcast over the scan — the "
    "stream_watermark shape",
    "stats_fleiss_kappa": "1-row P_e broadcast stitched to the 1-row "
    "P_bar fold — the stats_ks_test shape",
    "eval_mcc": "two 1-row cross-sum broadcasts stitching the Gorodkin "
    "scalar — the stats_ks_test shape",
    "eval_average_precision": "1-row (n, npos) totals broadcast over the "
    "distinct-score cumulative frame — the stats_quantiles_exact shape",
    "ts_interpolate_linear": "spine x known neighbor-argmax inequality "
    "joins — calendar-bounded (|days|^2 at worst, the "
    "stats_hodges_lehmann pair-cost contract)",
    "text_kneser_ney": "1-row (n_types, n_bigrams) totals broadcast over "
    "the bigram-type frame — the stats_ks_test shape",
    "events_page_hinkley": "three triangular self-joins on the daily "
    "frame — calendar-squared, never data-sized (the "
    "stats_hodges_lehmann bound), plus a 1-row lambda broadcast",
    "maintenance_compaction_plan": "triangular cumulative self-join on "
    "the per-MONTH partition frame — months-bounded, never data-sized",
    "stats_dunn_posthoc": "k(k-1)/2 = 10-row pair frame self-joined "
    "twice for the BH rank/step-up (deliberately INSTEAD of a global "
    "window's single-partition exchange) plus a |types|-row inequality "
    "pair join and a 1-row tie-term broadcast — all constant-size",
    "orders_abc_classification": "1-row total-revenue broadcast over "
    "the per-part cumulative frame — the stats_quantiles_exact shape",
    "eval_krippendorff_alpha": "1-row n_units broadcast onto the "
    "|categories|-row frame + the 1-row S_o x S_e scalar stitch — both "
    "constant-size (the stats_ks_test shape); the ratings path itself "
    "is join-free (pinned in test_plan_shapes)",
    "eval_rank_biased_overlap": "1-row query-vector broadcast onto the "
    "rel frame (the sim_topk/retrieval_pipeline shape) + the 1-row "
    "exact-list x ivf-list stitch — both constant-size; the probe "
    "restriction is a broadcast EQUI-join (pinned)",
    "drift_positive_control": "1-row cohort-total and 1-row psi/ks "
    "scalar stitches (the stats_ks_test shape); the data-sized work is "
    "the two-phase ECDF and a 20-row bin aggregate",
    "embed_separation_control": "constant-fraction anchor-set broadcast "
    "over the scan — the embed_triplet_mining shape verbatim (same "
    "mining, boosted space)",
    # -- nested loops planned only inside a localCheckpointed frame --
    "quality_perplexity_buckets": "text_lm_score's 1-row (N, V) vocab-total "
    "broadcast, inside the checkpointed (lang, xent) count frame",
    "web_corpus_pipeline": "text_lm_score's 1-row (N, V) vocab-total "
    "broadcast over the checkpointed doc-term counts — the "
    "quality_perplexity_buckets shape",
    "retrieval_pipeline": "inside the checkpointed top-20 pool: the "
    "nlist-row centroid broadcast of ivf_assign and of the 3-of-8 probe "
    "pick, and the 1-row query-vector broadcast over the probed "
    "candidates (the sim_ann_ivf and sim_topk shapes)",
    "sim_mmr_rerank": "1-row query-vector broadcast over the scan, inside "
    "the checkpointed top-20 pool — the sim_topk shape",
    "sample_coreset_kcenter": "the chosen set (<= 5 rows) broadcast over "
    "the point table once per round, 4 rounds, each round's frame "
    "checkpointed — the embed_kmeans_assign centroid-broadcast shape",
    "eval_bradley_terry": "1-row (sum, count) normalizer broadcast onto the "
    "|types|-row strength frame once per MM round (3 rounds, each "
    "checkpointed) — the graph_markov_steady shape",
    "stats_wilcoxon_signed_rank": "1-row epoch-midpoint broadcast over the "
    "scan, inside the checkpointed per-user half-sum frame — the "
    "stats_proportion_ztest shape",
}


def nested_loop_problems(name: str, *plans: str) -> list[str]:
    """The join-shape violations of one op's physical plans (the plan it
    returns and those of the frames it checkpointed): an unlisted
    nested-loop/cartesian join, or a listed op that no longer plans one."""
    bad = [
        line.strip()[:160]
        for plan in plans
        for line in plan.splitlines()
        if "BroadcastNestedLoopJoin" in line or "CartesianProduct" in line
    ]
    if name in NLJ_WHITELIST:
        if bad:
            return []  # bounded by construction (reason documented above)
        return [
            f"{name} is whitelisted for a nested-loop join but plans none; "
            "drop its NLJ_WHITELIST entry"
        ]
    if bad:
        return [
            f"{name} plans a nested-loop/cartesian join: {bad}; rewrite candidate "
            "generation as an equi-join (bucket/band/blocking key) or whitelist "
            "with a boundedness argument"
        ]
    return []


@pytest.mark.parametrize("name", sorted(registry.REGISTRY))
def test_no_unbounded_nested_loop_joins(name, op_build):
    problems = nested_loop_problems(name, op_build.plan, *op_build.checkpoint_plans)
    assert not problems, problems[0]


# Queries where a Window legitimately runs over an Exchange SinglePartition:
# each operates on an already-reduced frame (per-day / per-year / per-price
# aggregates — thousands of rows at any input scale), audited in r4. A NEW
# entry appearing here means someone put a global window on unreduced data —
# the single-task sort that kills 100 TB jobs.
WINDOW_SINGLE_PARTITION_WHITELIST: frozenset[str] = frozenset(
    {
        "events_autocorr_lag1",  # window over per-day aggregates
        "events_cumulative_distinct",  # running total over per-day firsts
        "events_cusum",  # cumulative sum over per-day aggregates
        "orders_yoy_growth",  # lag over per-year aggregates
        "skyline_pareto_frontier",  # running max over per-price aggregates
        "eval_bradley_terry",  # rank over the |event types|-row (5-row)
        # checkpointed strength frame — reduced by construction before
        # the window (the MM rounds end on a broadcast-sized frame)
    }
)


def global_window_problems(name: str, plan: str) -> list[str]:
    """The global-window violations of one op's physical plan: an unlisted
    Window over Exchange SinglePartition, or a listed op that plans none."""
    lines = plan.splitlines()
    window_over_sp = any(
        "Exchange SinglePartition" in l
        and any("Window" in lines[j] for j in range(max(0, i - 3), i))
        for i, l in enumerate(lines)
    )
    if name in WINDOW_SINGLE_PARTITION_WHITELIST:
        if window_over_sp:
            return []  # reduced-frame global window, audited above
        return [
            f"{name} is whitelisted for a global window but plans none; drop "
            "its WINDOW_SINGLE_PARTITION_WHITELIST entry"
        ]
    if window_over_sp:
        return [
            f"{name} plans a Window over Exchange SinglePartition on unreduced "
            "data — partition the window or pre-aggregate (see operators/"
            "ranking.py for the distributed global-rank pattern)"
        ]
    return []


@pytest.mark.parametrize("name", sorted(registry.REGISTRY))
def test_no_global_window_on_unreduced_data(name, op_build):
    problems = global_window_problems(name, op_build.plan)
    assert not problems, problems[0]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestSweepIsNotVacuous:
    def test_cross_join_of_two_scans_fails(self, spark, sf_dir):
        df = table(spark, sf_dir, "region").crossJoin(table(spark, sf_dir, "nation"))
        problems = nested_loop_problems("synthetic_cross", _plan(df))
        assert len(problems) == 1 and "plans a nested-loop/cartesian join" in problems[0]

    def test_cross_join_only_in_a_checkpointed_frame_fails(self, op_builds, monkeypatch):
        """A loop round's nested loop is planned in the frame the op
        checkpoints; the returned plan reads that frame as an RDD scan."""

        def op(spark, sf_dir):
            cross = table(spark, sf_dir, "region").crossJoin(table(spark, sf_dir, "nation"))
            return cross.localCheckpoint().groupBy("r_regionkey").count()

        name = "synthetic_checkpointed_cross"
        monkeypatch.setitem(registry.REGISTRY, name, op)
        build = op_builds.get(name)
        op_builds.clear()  # release the synthetic frame
        assert not nested_loop_problems(name, build.plan)  # invisible in the returned plan
        problems = nested_loop_problems(name, build.plan, *build.checkpoint_plans)
        assert len(problems) == 1 and "plans a nested-loop/cartesian join" in problems[0]

    def test_global_window_over_a_scan_fails(self, spark, sf_dir):
        w = Window.orderBy("l_extendedprice")
        df = table(spark, sf_dir, "lineitem").withColumn("r", F.rank().over(w))
        problems = global_window_problems("synthetic_window", _plan(df))
        assert len(problems) == 1 and "Exchange SinglePartition" in problems[0]

    def test_stale_whitelist_entries_fail(self, spark, sf_dir):
        plan = _plan(table(spark, sf_dir, "region"))
        assert "plans none" in nested_loop_problems("join_cross", plan)[0]
        assert "plans none" in global_window_problems("events_cusum", plan)[0]
