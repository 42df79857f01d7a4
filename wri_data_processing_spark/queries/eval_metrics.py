"""Model-evaluation metrics (r10): classifier reports, probabilistic
scoring rules, and retrieval-quality metrics (SURVEY.md §2.4 A59-A64).

Completes the model-eval family started in r8/r9 (stats_auc, calibration
bins, PR curve, lift/gains, pass@k, model_eval_pipeline): a
classification report over a REAL in-repo classifier (the text_lang_id
marker heuristic audited against the labeled lang column), the two
proper scoring rules (Brier, log-loss) over the established sha-uniform
stand-in score, expected calibration error composing the calibration-bin
machinery, and ranked-retrieval metrics (MRR, nDCG@10, capped
recall@10 — hits@10/min(n_rel,10), named for the variant it is) over
the exact-cosine ranking the similarity family already proves — plus the
SIXTH composed flagship, retrieval_eval_pipeline, which scores all three
retrieval metrics from ONE shared ranked-pool subplan.

Determinism disciplines (all established elsewhere in the repo):
sha-slice uniforms (no RNG state), floor-scaled integer folds for any
distributed float sum (floor(x*1e12) of a bit-identical double is exact
on both engines — no ROUND-midpoint hazard), pinned 2^30-scaled
logarithm weights as module literals (transcendentals never evaluate in
plans), ROUND-6 cosine with id tiebreaks for total ranking order.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.functions.text import gram_key
from wri_data_processing_spark.queries.llm_similarity import _dvec, cosine
from wri_data_processing_spark.queries.llm_text import _PRED_SQL, _marker_pred_col
from wri_data_processing_spark.registry import query

_Q30 = 1 << 30

# DCG position weights, PINNED: W(r) = floor(2^30 * ln 2 / ln(r+1)) for
# ranks 1..10 (so W(1) = 2^30 exactly), and IDCG prefix sums. Evaluated
# once at import from Python's libm — the plans see only integer literals
# (the stats_power_sample_size / multimodal_phash cosine-table discipline).
_DCG_W = [(1 << 30) if r == 1 else
          math.floor((1 << 30) * math.log(2.0) / math.log(r + 1.0))
          for r in range(1, 11)]
_IDCG = [sum(_DCG_W[:k]) for k in range(0, 11)]  # _IDCG[k] = ideal DCG of k hits


@query(
    "eval_classifier_report",
    oracle=f"""
    WITH conf AS (
      SELECT lang AS labeled, {_PRED_SQL} AS pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2),
    lab AS (
      SELECT labeled AS cls, CAST(SUM(n) AS BIGINT) AS support FROM conf GROUP BY 1),
    prd AS (
      SELECT pred AS cls, CAST(SUM(n) AS BIGINT) AS pred_total FROM conf GROUP BY 1),
    tp AS (
      SELECT labeled AS cls, CAST(SUM(n) AS BIGINT) AS tp
      FROM conf WHERE labeled = pred GROUP BY 1),
    j AS (
      SELECT lab.cls, lab.support,
             COALESCE(tp.tp, 0) AS tp,
             COALESCE(prd.pred_total, 0) - COALESCE(tp.tp, 0) AS fp,
             lab.support - COALESCE(tp.tp, 0) AS fn
      FROM lab LEFT JOIN tp ON lab.cls = tp.cls
               LEFT JOIN prd ON lab.cls = prd.cls)
    SELECT cls, support, tp, fp, fn,
           CASE WHEN tp + fp > 0
                THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
           CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
           END AS f1
    FROM j ORDER BY cls
    """,
)
def eval_classifier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 for the text_lang_id heuristic
    against the labeled lang column — the classification report that
    turns text_lang_id's raw confusion counts into the numbers a model
    card publishes. Probed: the marker heuristic predicts only
    {en, unknown} on this corpus (English function words leak into every
    language's generated text), so non-English classes correctly show
    recall 0 and NULL precision — the report EXPOSES the heuristic's
    weakness, which is what a classifier audit is for.

    Exactness: tp/fp/fn are exact integers off the tiny confusion frame
    (per-class totals minus diagonal); precision/recall are one division
    each; F1 = 2tp/(2tp+fp+fn) — computed from the integers directly,
    never from rounded precision/recall. Zero-denominator cells emit
    NULL on both engines.

    Plan: one scan-fused prediction aggregate to <= |langs|x|langs| confusion
    rows, two bounded re-aggregations, broadcast left joins on the
    |langs|-row class list.
    """
    d = table(spark, sf_dir, "documents")
    conf = (
        d.select(F.col("lang").alias("labeled"), _marker_pred_col().alias("pred"))
        .groupBy("labeled", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()
    )
    lab = conf.groupBy(F.col("labeled").alias("cls")).agg(
        F.sum("n").cast("long").alias("support")
    )
    prd = conf.groupBy(F.col("pred").alias("cls")).agg(
        F.sum("n").cast("long").alias("pred_total")
    )
    tp = (
        conf.filter(F.col("labeled") == F.col("pred"))
        .groupBy(F.col("labeled").alias("cls"))
        .agg(F.sum("n").cast("long").alias("tp"))
    )
    j = (
        lab.join(F.broadcast(tp), "cls", "left")
        .join(F.broadcast(prd), "cls", "left")
        .select(
            "cls",
            "support",
            F.coalesce(F.col("tp"), F.lit(0)).cast("long").alias("tp"),
            (F.coalesce(F.col("pred_total"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0)))
            .cast("long")
            .alias("fp"),
            (F.col("support") - F.coalesce(F.col("tp"), F.lit(0)))
            .cast("long")
            .alias("fn"),
        )
    )
    tp_, fp_, fn_ = F.col("tp"), F.col("fp"), F.col("fn")
    return j.select(
        "cls",
        "support",
        "tp",
        "fp",
        "fn",
        F.when(tp_ + fp_ > 0, tp_.cast("double") / (tp_ + fp_).cast("double")).alias(
            "precision"
        ),
        (tp_.cast("double") / (tp_ + fn_).cast("double")).alias("recall"),
        F.when(
            F.lit(2) * tp_ + fp_ + fn_ > 0,
            (F.lit(2) * tp_).cast("double")
            / (F.lit(2) * tp_ + fp_ + fn_).cast("double"),
        ).alias("f1"),
    ).orderBy("cls")


_SCORE_CTE = """
    sc AS (
      SELECT CAST(('0x' || substring(sha256('cal:'
                   || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1073741824 AS u,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events)
"""


def _score_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The established sha-uniform stand-in score + purchase outcome
    (stats_calibration_bins' frame verbatim: u in [0, 2^30), y in {0,1})."""
    e = table(spark, sf_dir, "events")
    return e.select(
        (
            gram_key(F.concat(F.lit("cal:"), F.col("event_id").cast("string")))
            % F.lit(_Q30).cast("long")
        ).alias("u"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )


@query(
    "eval_brier_score",
    oracle=f"""
    WITH {_SCORE_CTE},
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS npos,
             SUM(CAST((u - y * 1073741824) AS HUGEINT)
                 * (u - y * 1073741824)) AS sq
      FROM sc)
    SELECT n, npos,
           ROUND(CAST(sq AS DOUBLE)
                 / (CAST(n AS DOUBLE) * 1073741824.0 * 1073741824.0), 6)
             AS brier,
           ROUND(CAST(npos AS DOUBLE) / CAST(n AS DOUBLE)
                 * (1.0 - CAST(npos AS DOUBLE) / CAST(n AS DOUBLE)), 6)
             AS brier_ref,
           ROUND(1.0 - (CAST(sq AS DOUBLE)
                        / (CAST(n AS DOUBLE) * 1073741824.0 * 1073741824.0))
                     / (CAST(npos AS DOUBLE) / CAST(n AS DOUBLE)
                        * (1.0 - CAST(npos AS DOUBLE) / CAST(n AS DOUBLE))), 6)
             AS brier_skill
    FROM s
    """,
)
def eval_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the stand-in purchase model — the PROPER scoring
    rule the calibration bins visualize: mean (p - y)^2, plus the
    climatological reference p_bar(1 - p_bar) and the Brier skill score
    1 - BS/BS_ref. The sha-uniform score is uninformative by
    construction, so the known-answer shape is BS ~ 1/3 - q/3... and
    skill < 0 (worse than predicting the base rate) — the op proves the
    metric CAN say "this model is useless", which is its job.

    Exactness: with p = u/2^30, each (p - y)^2 is the integer
    (u - y*2^30)^2 scaled by 2^-60; per-row squares reach 2^60 so they
    accumulate in DECIMAL(38,0)/HUGEINT; all three outputs are mirrored
    single-division trees over exact integers, ROUND-6.

    Plan: one map-side-combined scalar fold over the scan. No joins.
    """
    s = _score_frame(spark, sf_dir)
    diff = (F.col("u") - F.col("y") * F.lit(_Q30)).cast("decimal(38,0)")
    g = s.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("npos"),
        F.sum(diff * (F.col("u") - F.col("y") * F.lit(_Q30))).alias("sq"),
    )
    nd = F.col("n").cast("double")
    q30d = F.lit(float(_Q30))
    brier = F.col("sq").cast("double") / (nd * q30d * q30d)
    rate = F.col("npos").cast("double") / nd
    ref = rate * (F.lit(1.0) - rate)
    return g.select(
        "n",
        "npos",
        F.round(brier, 6).alias("brier"),
        F.round(ref, 6).alias("brier_ref"),
        F.round(F.lit(1.0) - brier / ref, 6).alias("brier_skill"),
    )


@query(
    "eval_log_loss",
    oracle=f"""
    WITH {_SCORE_CTE},
    t AS (
      SELECT CAST(floor(-ln(CASE WHEN y = 1
                    THEN CAST(u + 1 AS DOUBLE) / 1073741826.0
                    ELSE 1.0 - CAST(u + 1 AS DOUBLE) / 1073741826.0 END)
                  * 1000000000000.0) AS BIGINT) AS li
      FROM sc)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(li AS HUGEINT)) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0), 6)
             AS log_loss
    FROM t
    """,
)
def eval_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-entropy (log-loss) of the stand-in purchase model — the
    other proper scoring rule: mean -[y ln p + (1-y) ln(1-p)], the
    quantity a classifier's training loss reports and the harshest
    punisher of confident wrong predictions. Known-answer band: an
    uninformative uniform score yields ~= 1 nat against any base rate.

    Determinism: p = (u+1)/(2^30+2) is bounded away from {0,1} so ln is
    finite; each per-row loss is a deterministic double (ln is the safe
    transcendental, probed bit-identical in r7), made order-independent
    by FLOOR-scaling to pico units — floor(loss * 1e12) BIGINTs sum
    exactly in any order. The fold accumulates in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) — per-row magnitude reaches 2.1e13 (21 nats), so an
    int64 sum would wrap SILENTLY past ~4.4e5 worst-case rows; the
    38-digit accumulator clears any corpus (r11 fix per ADVICE r10 — the
    int64 fold was a latent overflow at larger SFs). ONE closing
    division, ROUND-6.

    Plan: one map-side-combined scalar fold over the scan. No joins.
    """
    s = _score_frame(spark, sf_dir)
    p = (F.col("u") + 1).cast("double") / F.lit(float(_Q30 + 2))
    loss = -F.log(F.when(F.col("y") == 1, p).otherwise(F.lit(1.0) - p))
    t = s.select(
        F.floor(loss * F.lit(1000000000000.0)).cast("long").alias("li")
    )
    return t.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum(F.col("li").cast("decimal(38,0)")).cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1000000000000.0)),
            6,
        ).alias("log_loss"),
    )


@query(
    "eval_ece",
    oracle=f"""
    WITH {_SCORE_CTE},
    b AS (
      SELECT CAST(u * 10 // 1073741824 AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(u) AS BIGINT) AS su,
             CAST(SUM(y) AS BIGINT) AS sy
      FROM sc GROUP BY 1),
    t AS (
      SELECT CAST(SUM(nb) AS BIGINT) AS n,
             CAST(SUM(abs(sy * 1073741824 - su)) AS BIGINT) AS gap_i,
             CAST(COUNT(*) AS BIGINT) AS n_bins
      FROM b)
    SELECT n, n_bins,
           ROUND(CAST(gap_i AS DOUBLE)
                 / (CAST(n AS DOUBLE) * 1073741824.0), 6) AS ece
    FROM t
    """,
)
def eval_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error — the scalar that summarizes
    stats_calibration_bins' reliability diagram: sum_b (n_b/n) *
    |pos_rate_b - mean_score_b|, the number quoted when someone says "the
    model is N points miscalibrated" (and the target temperature scaling
    minimizes).

    Exactness: inside bin b the gap n_b * |pos_rate - mean_score| equals
    |2^30 * sum(y) - sum(u)| / 2^30 EXACTLY — integer numerators per bin,
    summed exactly across bins, ONE closing division by n*2^30. No
    per-bin floats anywhere: the entire statistic is one integer until
    the last step.

    Plan: one map-side-combined aggregate to 10 bins, one 1-row fold.
    """
    s = _score_frame(spark, sf_dir)
    b = s.groupBy(
        F.expr("CAST(u * 10 div 1073741824 AS BIGINT)").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("u").cast("long").alias("su"),
        F.sum("y").cast("long").alias("sy"),
    )
    t = b.agg(
        F.sum("nb").cast("long").alias("n"),
        F.sum(F.abs(F.col("sy") * F.lit(_Q30) - F.col("su")))
        .cast("long")
        .alias("gap_i"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )
    return t.select(
        "n",
        "n_bins",
        F.round(
            F.col("gap_i").cast("double") / (F.col("n").cast("double") * F.lit(float(_Q30))),
            6,
        ).alias("ece"),
    )


def _dcg_w_sql(rank_expr: str) -> str:
    cases = " ".join(f"WHEN {r} THEN {w}" for r, w in zip(range(1, 11), _DCG_W))
    return f"CASE {rank_expr} {cases} ELSE 0 END"


def _idcg_sql(k_expr: str) -> str:
    cases = " ".join(f"WHEN {k} THEN {_IDCG[k]}" for k in range(1, 11))
    return f"CASE {k_expr} {cases} END"


# Per-query retrieval scoring CTE chain, shared by eval_retrieval_per_query
# and the composed retrieval_eval_pipeline oracle. Queries are the 8
# vectors with vec_id % 64 == 0; relevance = same label; ranking is exact
# ROUND-6 cosine with vec_id tiebreak (total order on both engines).
_RETRIEVAL_CTES = f"""
    q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
             label AS qlabel
      FROM embeddings WHERE vec_id % 64 = 0),
    pool AS (
      SELECT q.qid, q.qlabel, c.vec_id AS cand,
             CASE WHEN c.label = q.qlabel THEN 1 ELSE 0 END AS rel,
             ROW_NUMBER() OVER (
               PARTITION BY q.qid
               ORDER BY ROUND(list_cosine_similarity(
                          CAST(c.embedding AS DOUBLE[]), q.qv), 6) DESC,
                        c.vec_id) AS rnk
      FROM embeddings c, q WHERE c.vec_id != q.qid),
    perq AS (
      SELECT qid, MIN(qlabel) AS qlabel,
             CAST(SUM(rel) AS BIGINT) AS n_rel,
             CAST(MIN(CASE WHEN rel = 1 THEN rnk END) AS BIGINT)
               AS first_rel_rank,
             CAST(SUM(CASE WHEN rnk <= 10 THEN rel ELSE 0 END) AS BIGINT)
               AS hits_10,
             CAST(SUM(CASE WHEN rnk <= 10 AND rel = 1
                           THEN {_dcg_w_sql('rnk')} ELSE 0 END) AS BIGINT)
               AS dcg_i
      FROM pool GROUP BY qid),
    scored AS (
      SELECT qid, qlabel, n_rel, first_rel_rank, hits_10,
             1.0 / CAST(first_rel_rank AS DOUBLE) AS reciprocal_rank,
             CAST(hits_10 AS DOUBLE) / CAST(least(n_rel, 10) AS DOUBLE)
               AS capped_recall_10,
             CAST(dcg_i AS DOUBLE)
               / CAST({_idcg_sql('CAST(least(n_rel, 10) AS INTEGER)')} AS DOUBLE)
               AS ndcg_10
      FROM perq)
"""


def _retrieval_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine twin of _RETRIEVAL_CTES: the per-query scored frame."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 64 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    pool = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            F.col("vec_id").alias("cand"),
            F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0).alias("rel"),
            F.round(cosine(_dvec("embedding"), _dvec("qv")), 6).alias("cos6"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos6").desc(), F.col("cand"))
    ranked = pool.withColumn("rnk", F.row_number().over(w))
    dcg_w = F.element_at(
        F.array(*[F.lit(w_).cast("long") for w_ in _DCG_W]), F.col("rnk").cast("int")
    )
    perq = ranked.groupBy("qid").agg(
        F.min("qlabel").alias("qlabel"),
        F.sum("rel").cast("long").alias("n_rel"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).cast("long").alias(
            "first_rel_rank"
        ),
        F.sum(F.when(F.col("rnk") <= 10, F.col("rel")).otherwise(0))
        .cast("long")
        .alias("hits_10"),
        F.sum(
            F.when((F.col("rnk") <= 10) & (F.col("rel") == 1), dcg_w).otherwise(0)
        )
        .cast("long")
        .alias("dcg_i"),
    )
    idcg = F.element_at(
        F.array(*[F.lit(v).cast("long") for v in _IDCG[1:]]),
        F.least(F.col("n_rel"), F.lit(10)).cast("int"),
    )
    return perq.select(
        "qid",
        "qlabel",
        "n_rel",
        "first_rel_rank",
        "hits_10",
        (F.lit(1.0) / F.col("first_rel_rank").cast("double")).alias(
            "reciprocal_rank"
        ),
        (
            F.col("hits_10").cast("double")
            / F.least(F.col("n_rel"), F.lit(10)).cast("double")
        ).alias("capped_recall_10"),
        (F.col("dcg_i").cast("double") / idcg.cast("double")).alias("ndcg_10"),
    )


@query(
    "eval_retrieval_per_query",
    oracle=f"""
    WITH {_RETRIEVAL_CTES}
    SELECT qid, qlabel, n_rel, first_rel_rank, hits_10,
           ROUND(reciprocal_rank, 6) AS reciprocal_rank,
           ROUND(capped_recall_10, 6) AS capped_recall_10,
           ROUND(ndcg_10, 6) AS ndcg_10
    FROM scored ORDER BY qid
    """,
)
def eval_retrieval_per_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query ranked-retrieval scorecard — reciprocal rank, CAPPED
    recall@10, nDCG@10 for 8 deterministic probe queries (vec_id % 64
    == 0) against the exact-cosine ranking, relevance = same label. This
    is the offline-eval table a retrieval system reports per query before
    averaging hides the hard queries; the label-stratified fixture gives
    ~49 relevant per query so every metric has signal.

    Convention (r11, per ADVICE r10): `capped_recall_10` = hits@10 /
    min(n_rel, 10) — the best-achievable-at-k normalization (reaches 1.0
    when the top-10 is all-relevant), NOT trec_eval's plain recall@10 =
    hits@10 / n_rel (which tops out near 0.2 here at ~49 relevant). The
    column name now states the variant.

    Determinism: ranking is ROUND-6 cosine (the sim_topk cross-engine
    contract) with vec_id tiebreak — a TOTAL order, so ranks are exact
    integers; DCG position weights are PINNED floor(2^30*ln2/ln(r+1))
    module literals (transcendentals never in plans) making dcg_i an
    exact BIGINT; ideal DCG is a pinned prefix-sum CASE on
    least(n_rel, 10); each emitted ratio is one double division,
    ROUND-6.

    Plan: 8-row query-set broadcast over the scan (sim_topk_batch
    shape), per-query partitioned rank (never global), one grouped fold
    to 8 rows.
    """
    s = _retrieval_scored(spark, sf_dir)
    return s.select(
        "qid",
        "qlabel",
        "n_rel",
        "first_rel_rank",
        "hits_10",
        F.round("reciprocal_rank", 6).alias("reciprocal_rank"),
        F.round("capped_recall_10", 6).alias("capped_recall_10"),
        F.round("ndcg_10", 6).alias("ndcg_10"),
    ).orderBy("qid")


@query(
    "retrieval_eval_pipeline",
    oracle=f"""
    WITH {_RETRIEVAL_CTES},
    fold AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
             CAST(SUM(1073741824 // first_rel_rank) AS BIGINT) AS rr_i,
             CAST(SUM(CAST(floor(ndcg_10 * 1000000000000.0) AS BIGINT))
                  AS BIGINT) AS ndcg_i,
             CAST(SUM(CAST(floor(capped_recall_10 * 1000000000000.0) AS BIGINT))
                  AS BIGINT) AS rec_i
      FROM scored)
    SELECT n_queries,
           ROUND(CAST(rr_i AS DOUBLE)
                 / (CAST(n_queries AS DOUBLE) * 1073741824.0), 6) AS mrr,
           ROUND(CAST(ndcg_i AS DOUBLE)
                 / (CAST(n_queries AS DOUBLE) * 1000000000000.0), 6)
             AS mean_ndcg_10,
           ROUND(CAST(rec_i AS DOUBLE)
                 / (CAST(n_queries AS DOUBLE) * 1000000000000.0), 6)
             AS mean_capped_recall_10
    FROM fold
    """,
)
def retrieval_eval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIXTH composed flagship: the one-row retrieval-quality scorecard —
    MRR, mean nDCG@10, mean CAPPED recall@10 (hits@10/min(n_rel,10); see
    eval_retrieval_per_query for the convention) — folded from ONE shared
    ranked-pool subplan (eval_retrieval_per_query's frame computed once;
    the three metrics are three aggregates over it, not three rankings).
    Pairs with retrieval_pipeline (r8): that flagship SERVES results,
    this one SCORES the serving quality offline — together they close
    the retrieval loop the way model_eval_pipeline closes the
    classifier loop.

    Determinism: reciprocal ranks fold as exact 2^30 // rank integers;
    the two double-valued metrics fold as floor(x * 1e12) pico-unit
    BIGINTs (order-independent, the stats_durbin_watson discipline);
    three closing divisions, ROUND-6.

    Plan: the per-query subplan (8-row broadcast, partitioned rank) into
    one 1-row fold — composition overhead is a single aggregate.
    """
    s = _retrieval_scored(spark, sf_dir)
    fold = s.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(
            F.expr("CAST(1073741824 div first_rel_rank AS BIGINT)")
        )
        .cast("long")
        .alias("rr_i"),
        F.sum(F.floor(F.col("ndcg_10") * F.lit(1000000000000.0)).cast("long"))
        .cast("long")
        .alias("ndcg_i"),
        F.sum(F.floor(F.col("capped_recall_10") * F.lit(1000000000000.0)).cast("long"))
        .cast("long")
        .alias("rec_i"),
    )
    nq = F.col("n_queries").cast("double")
    return fold.select(
        "n_queries",
        F.round(F.col("rr_i").cast("double") / (nq * F.lit(float(_Q30))), 6).alias(
            "mrr"
        ),
        F.round(
            F.col("ndcg_i").cast("double") / (nq * F.lit(1000000000000.0)), 6
        ).alias("mean_ndcg_10"),
        F.round(
            F.col("rec_i").cast("double") / (nq * F.lit(1000000000000.0)), 6
        ).alias("mean_capped_recall_10"),
    )


_DELONG_ROWS_CTE = """
    s AS (
      SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS sa,
             CAST(('0x' || substring(sha256('cal:'
                   || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1073741824 AS sb,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL)
"""


def _delong_rank_cte(key: str) -> str:
    """Per-distinct-score doubled structural components for one model:
    a = 2r - 2r+ (positives' V10 numerator, scaled by 2*n_neg) and
    c = 2r - 2r- (negatives' complement, V01 = 1 - c/(2*n_pos))."""
    return f"""(
      SELECT {key},
             (2*(SUM(cnt) OVER (ORDER BY {key}) - cnt) + cnt + 1)
               - (2*(SUM(p) OVER (ORDER BY {key}) - p) + p + 1) AS a,
             (2*(SUM(cnt) OVER (ORDER BY {key}) - cnt) + cnt + 1)
               - (2*(SUM(np) OVER (ORDER BY {key}) - np) + np + 1) AS c
      FROM (SELECT {key}, CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(y) AS BIGINT) AS p,
                   CAST(COUNT(*) - SUM(y) AS BIGINT) AS np
            FROM s GROUP BY 1))"""


@query(
    "eval_auc_delong",
    oracle=f"""
    WITH {_DELONG_ROWS_CTE},
    ra AS {_delong_rank_cte('sa')},
    rb AS {_delong_rank_cte('sb')},
    j AS (
      SELECT s.y, ra.a AS aa, ra.c AS ca, rb.a AS ab, rb.c AS cb
      FROM s JOIN ra USING (sa) JOIN rb USING (sb)),
    f AS (
      SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(SUM(1 - y) AS BIGINT) AS n_neg,
             SUM(CASE WHEN y = 1 THEN CAST(aa AS HUGEINT) ELSE 0 END) AS sa1,
             SUM(CASE WHEN y = 1 THEN CAST(ab AS HUGEINT) ELSE 0 END) AS sb1,
             SUM(CASE WHEN y = 1 THEN CAST(aa AS HUGEINT) * aa ELSE 0 END) AS saa,
             SUM(CASE WHEN y = 1 THEN CAST(ab AS HUGEINT) * ab ELSE 0 END) AS sbb,
             SUM(CASE WHEN y = 1 THEN CAST(aa AS HUGEINT) * ab ELSE 0 END) AS sab,
             SUM(CASE WHEN y = 0 THEN CAST(ca AS HUGEINT) ELSE 0 END) AS ca1,
             SUM(CASE WHEN y = 0 THEN CAST(cb AS HUGEINT) ELSE 0 END) AS cb1,
             SUM(CASE WHEN y = 0 THEN CAST(ca AS HUGEINT) * ca ELSE 0 END) AS caa,
             SUM(CASE WHEN y = 0 THEN CAST(cb AS HUGEINT) * cb ELSE 0 END) AS cbb,
             SUM(CASE WHEN y = 0 THEN CAST(ca AS HUGEINT) * cb ELSE 0 END) AS cab
      FROM j),
    alg AS (
      SELECT n_pos, n_neg,
             CAST(n_pos AS DOUBLE) AS pd, CAST(n_neg AS DOUBLE) AS nd,
             CAST(sa1 AS DOUBLE) AS da1, CAST(sb1 AS DOUBLE) AS db1,
             CAST(saa AS DOUBLE) AS daa, CAST(sbb AS DOUBLE) AS dbb,
             CAST(sab AS DOUBLE) AS dab,
             CAST(ca1 AS DOUBLE) AS ea1, CAST(cb1 AS DOUBLE) AS eb1,
             CAST(caa AS DOUBLE) AS eaa, CAST(cbb AS DOUBLE) AS ebb,
             CAST(cab AS DOUBLE) AS eab
      FROM f),
    z AS (
      SELECT n_pos, n_neg, pd, nd,
             da1 / (2.0 * nd * pd) AS auc_a,
             db1 / (2.0 * nd * pd) AS auc_b,
             (da1 - db1) / (2.0 * nd * pd) AS delta,
             ((daa + dbb - 2.0 * dab - (da1 - db1) * (da1 - db1) / pd)
                / ((pd - 1.0) * 4.0 * nd * nd)) / pd
             + ((eaa + ebb - 2.0 * eab - (ea1 - eb1) * (ea1 - eb1) / nd)
                / ((nd - 1.0) * 4.0 * pd * pd)) / nd AS var_delta
      FROM alg)
    SELECT n_pos, n_neg,
           ROUND(auc_a, 6) AS auc_a,
           ROUND(auc_b, 6) AS auc_b,
           ROUND(delta, 6) AS delta,
           ROUND(delta / sqrt(var_delta), 6) AS z_delong,
           abs(delta / sqrt(var_delta)) > 1.959964 AS significant
    FROM z
    """,
)
def eval_auc_delong(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong test for the difference of two correlated AUCs — the question
    every eval report actually answers: model A (the value column, the
    stats_auc stand-in) vs model B (the sha-uniform baseline) scored on the
    SAME rows, is the AUC gap real? Completes the family: stats_auc ranks
    one model; this op compares two, with the covariance the paired design
    induces (VERDICT r10 item 5).

    Method: per-observation structural components. For each model, a
    positive's V10 = (r - r+)/n_neg and a negative's V01 = 1 - (r - r-)/
    n_pos, where r is the global midrank and r+/r- the within-class
    midrank — so the components come from the SAME distinct-value rank
    machinery stats_auc/stats_mann_whitney already prove (mean V10 = mean
    V01 = AUC, checked). Var(AUC_A - AUC_B) = S10/n_pos + S01/n_neg with
    S10/S01 the sample variances of the paired component DIFFERENCES
    (DeLong 1988's S matrices folded into the delta form); z = delta /
    sqrt(var), two-sided gate at the PINNED 1.959964.

    Exactness: doubled midranks make every component a*1 = 2r - 2r+ /
    c = 2r - 2r- an exact integer in [0, 2n]; all eleven moment sums
    accumulate in DECIMAL(38,0)/HUGEINT (per-row a^2 reaches 4*n_neg^2 —
    int64 wraps at corpus scale); the closing algebra is ONE mirrored
    double tree (the "1 -" V01 shift cancels inside the variance, so the
    fold never needs the scalars early). ROUND-6 outputs; the boolean
    compares the unrounded tree.

    Plan: two distinct-value rank subplans (bucket-parallel two-phase
    prefix sums — no single-partition window), two equi joins back to the
    row frame on the score keys, ONE 1-row moment fold. At 100 TB the
    rank tables are |distinct scores|-sized and the joins shuffle by
    score key; nothing is ever pairwise.
    """
    from wri_data_processing_spark.queries.stats_numeric import _two_phase_cumsum

    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    rows = e.select(
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("sa"),
        (
            gram_key(F.concat(F.lit("cal:"), F.col("event_id").cast("string")))
            % F.lit(_Q30).cast("long")
        ).alias("sb"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    ).localCheckpoint()  # feeds two rank subplans + the joined fold

    def ranked(key: str, a_name: str, c_name: str) -> DataFrame:
        g = (
            rows.groupBy(key)
            .agg(
                F.count(F.lit(1)).cast("long").alias("cnt"),
                F.sum("y").cast("long").alias("p"),
            )
            .withColumn("np", (F.col("cnt") - F.col("p")).cast("long"))
        )
        cum = _two_phase_cumsum(g, key, ["cnt", "p", "np"])
        two_r = 2 * (F.col("cum_cnt") - F.col("cnt")) + F.col("cnt") + 1
        two_rp = 2 * (F.col("cum_p") - F.col("p")) + F.col("p") + 1
        two_rn = 2 * (F.col("cum_np") - F.col("np")) + F.col("np") + 1
        return cum.select(
            F.col(key),
            (two_r - two_rp).cast("long").alias(a_name),
            (two_r - two_rn).cast("long").alias(c_name),
        )

    j = rows.join(ranked("sa", "aa", "ca"), "sa").join(ranked("sb", "ab", "cb"), "sb")
    pos = F.col("y") == 1

    def dsum(cond, col, other=None):
        prod = F.col(col).cast("decimal(38,0)") * (
            F.col(col) if other is None else F.col(other)
        )
        return F.sum(F.when(cond, prod).otherwise(F.lit(0)))

    f = j.agg(
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(1 - F.col("y")).cast("long").alias("n_neg"),
        F.sum(F.when(pos, F.col("aa")).otherwise(0)).cast("decimal(38,0)").alias("sa1"),
        F.sum(F.when(pos, F.col("ab")).otherwise(0)).cast("decimal(38,0)").alias("sb1"),
        dsum(pos, "aa").alias("saa"),
        dsum(pos, "ab").alias("sbb"),
        dsum(pos, "aa", "ab").alias("sab"),
        F.sum(F.when(~pos, F.col("ca")).otherwise(0)).cast("decimal(38,0)").alias("ca1"),
        F.sum(F.when(~pos, F.col("cb")).otherwise(0)).cast("decimal(38,0)").alias("cb1"),
        dsum(~pos, "ca").alias("caa"),
        dsum(~pos, "cb").alias("cbb"),
        dsum(~pos, "ca", "cb").alias("cab"),
    )
    pd_ = F.col("n_pos").cast("double")
    nd_ = F.col("n_neg").cast("double")
    da1, db1 = F.col("sa1").cast("double"), F.col("sb1").cast("double")
    daa, dbb, dab = (F.col(c).cast("double") for c in ("saa", "sbb", "sab"))
    ea1, eb1 = F.col("ca1").cast("double"), F.col("cb1").cast("double")
    eaa, ebb, eab = (F.col(c).cast("double") for c in ("caa", "cbb", "cab"))
    auc_a = da1 / (F.lit(2.0) * nd_ * pd_)
    auc_b = db1 / (F.lit(2.0) * nd_ * pd_)
    delta = (da1 - db1) / (F.lit(2.0) * nd_ * pd_)
    var_delta = (
        (daa + dbb - F.lit(2.0) * dab - (da1 - db1) * (da1 - db1) / pd_)
        / ((pd_ - F.lit(1.0)) * F.lit(4.0) * nd_ * nd_)
    ) / pd_ + (
        (eaa + ebb - F.lit(2.0) * eab - (ea1 - eb1) * (ea1 - eb1) / nd_)
        / ((nd_ - F.lit(1.0)) * F.lit(4.0) * pd_ * pd_)
    ) / nd_
    zc = delta / F.sqrt(var_delta)
    return f.select(
        "n_pos",
        "n_neg",
        F.round(auc_a, 6).alias("auc_a"),
        F.round(auc_b, 6).alias("auc_b"),
        F.round(delta, 6).alias("delta"),
        F.round(zc, 6).alias("z_delong"),
        (F.abs(zc) > F.lit(1.959964)).alias("significant"),
    )


@query(
    "eval_mcc",
    oracle=f"""
    WITH conf AS (
      SELECT lang AS labeled, {_PRED_SQL} AS pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS s,
             CAST(SUM(CASE WHEN labeled = pred THEN n ELSE 0 END) AS BIGINT) AS c
      FROM conf),
    t_ AS (SELECT labeled AS cls, CAST(SUM(n) AS BIGINT) AS t FROM conf GROUP BY 1),
    p_ AS (SELECT pred AS cls, CAST(SUM(n) AS BIGINT) AS p FROM conf GROUP BY 1),
    cross_ AS (
      SELECT CAST(SUM(CAST(t_.t AS HUGEINT) * COALESCE(p_.p, 0)) AS HUGEINT) AS sum_tp,
             CAST(SUM(CAST(t_.t AS HUGEINT) * t_.t) AS HUGEINT) AS sum_t_sq
      FROM t_ LEFT JOIN p_ ON t_.cls = p_.cls),
    psq AS (SELECT CAST(SUM(CAST(p AS HUGEINT) * p) AS HUGEINT) AS sum_p_sq FROM p_)
    SELECT s AS n_docs, c AS n_correct,
           ROUND((CAST(c AS DOUBLE) * CAST(s AS DOUBLE)
                  - CAST(sum_tp AS DOUBLE))
                 / sqrt((CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                         - CAST(sum_p_sq AS DOUBLE))
                        * (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                           - CAST(sum_t_sq AS DOUBLE))), 6) AS mcc
    FROM tot, cross_, psq
    """,
)
def eval_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass Matthews correlation coefficient of the text_lang_id
    heuristic — the single balanced scalar the classification report
    (eval_classifier_report) lacks: accuracy flatters majority-class
    predictors and macro-F1 ignores correlation structure; the Gorodkin
    R_K form MCC = (c s - SUM_k p_k t_k) / sqrt((s^2 - SUM p_k^2)
    (s^2 - SUM t_k^2)) punishes exactly the predict-{en, unknown}
    degeneracy the report exposes, in one number in [-1, 1].

    Exactness: c, s, per-class predicted/true totals are exact BIGINTs
    off the confusion frame; the three cross-sums fold in
    DECIMAL(38,0)/HUGEINT (t_k * p_k products clear int64 only to ~3e9
    docs); the closing tree is one mirrored division with the safe sqrt.
    ROUND-6.

    Plan: one scan-fused confusion aggregate (<= |langs|^2 rows), two
    bounded class rollups, a |langs|-row broadcast join, 1-row algebra.
    """
    d = table(spark, sf_dir, "documents")
    conf = (
        d.select(F.col("lang").alias("labeled"), _marker_pred_col().alias("pred"))
        .groupBy("labeled", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()
    )
    tot = conf.agg(
        F.sum("n").cast("long").alias("s"),
        F.sum(F.when(F.col("labeled") == F.col("pred"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    t_ = conf.groupBy(F.col("labeled").alias("cls")).agg(
        F.sum("n").cast("long").alias("t")
    )
    p_ = conf.groupBy(F.col("pred").alias("cls")).agg(
        F.sum("n").cast("long").alias("p")
    )
    cross_ = (
        t_.join(F.broadcast(p_), "cls", "left")
        .agg(
            F.sum(
                F.col("t").cast("decimal(38,0)") * F.coalesce(F.col("p"), F.lit(0))
            ).alias("sum_tp"),
            F.sum(F.col("t").cast("decimal(38,0)") * F.col("t")).alias("sum_t_sq"),
        )
    )
    psq = p_.agg(
        F.sum(F.col("p").cast("decimal(38,0)") * F.col("p")).alias("sum_p_sq")
    )
    alg = tot.crossJoin(F.broadcast(cross_)).crossJoin(F.broadcast(psq))
    sd = F.col("s").cast("double")
    cd = F.col("c").cast("double")
    mcc = (cd * sd - F.col("sum_tp").cast("double")) / F.sqrt(
        (sd * sd - F.col("sum_p_sq").cast("double"))
        * (sd * sd - F.col("sum_t_sq").cast("double"))
    )
    return alg.select(
        F.col("s").alias("n_docs"),
        F.col("c").alias("n_correct"),
        F.round(mcc, 6).alias("mcc"),
    )


@query(
    "eval_average_precision",
    oracle=f"""
    WITH {_SCORE_CTE},
    g AS (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(y) AS BIGINT) AS p
      FROM sc GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(SUM(p) AS BIGINT) AS npos
      FROM g),
    c AS (
      SELECT u, cnt, p,
             SUM(cnt) OVER (ORDER BY u ROWS UNBOUNDED PRECEDING) AS ca,
             SUM(p) OVER (ORDER BY u ROWS UNBOUNDED PRECEDING) AS cp
      FROM g),
    terms AS (
      SELECT CAST(SUM(CASE WHEN p > 0 THEN
               CAST(p AS HUGEINT) * (tot.npos - (cp - p))
                 * 1000000000000
                 // (CAST(tot.n - (ca - cnt) AS HUGEINT) * tot.npos)
             ELSE 0 END) AS HUGEINT) AS ap_i
      FROM c, tot)
    SELECT tot.n, tot.npos,
           ROUND(CAST(ap_i AS DOUBLE) / 1000000000000.0, 6)
             AS average_precision,
           ROUND(CAST(tot.npos AS DOUBLE) / CAST(tot.n AS DOUBLE), 6)
             AS prevalence
    FROM terms, tot
    """,
)
def eval_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (the exact PR-curve area) of the stand-in
    purchase model — the ranking metric stats_pr_curve samples at fixed
    thresholds and stats_auc complements: AUC weights all rank pairs
    equally, AP concentrates on the head where retrieval happens.
    AP = SUM_blocks (tp_b / n_pos) * precision-after-block over distinct
    descending scores, with the WHOLE tie block entering before
    precision is read (the pessimistic tie convention, stated here
    because sklearn's step variant differs under ties). Known-answer
    shape: an uninformative uniform score gives AP ~= prevalence.

    Exactness: NO floats anywhere until the final division — each block
    term is the exact integer (tp_b * TP_k * 10^12) // (K_k * n_pos)
    folded in DECIMAL(38,0)/HUGEINT (truncation, not rounding, mirrors
    // on both engines), so the fold is order-independent by
    construction and the metric closes with one division and ROUND-6.
    Descending cumulatives come from ascending prefix sums and the
    totals (TP = npos - cum_before, K = n - cum_before) — no second sort.

    Plan: one distinct-score count, bucket-parallel two-phase prefix
    sums (no single-partition window), one 1-row fold.
    """
    from wri_data_processing_spark.queries.stats_numeric import _two_phase_cumsum

    s = _score_frame(spark, sf_dir)
    g = s.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("p"),
    )
    c = _two_phase_cumsum(g, "u", ["cnt", "p"])
    tot = c.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("p").cast("long").alias("npos"),
    )
    j = c.crossJoin(F.broadcast(tot))
    tp = F.col("npos") - (F.col("cum_p") - F.col("p"))
    k = F.col("n") - (F.col("cum_cnt") - F.col("cnt"))
    # exact integral quotient: Spark's `div` truncates the exact decimal
    # quotient (positive operands => identical to DuckDB's //); a plain
    # decimal `/` would ROUND at its result scale before any floor,
    # off-by-one at quotient boundaries.
    num = (
        F.col("p").cast("decimal(38,0)")
        * tp
        * F.lit(1000000000000).cast("decimal(38,0)")
    )
    den = k.cast("decimal(38,0)") * F.col("npos")
    j = j.withColumn("num", num).withColumn("den", den)
    term_i = F.when(
        F.col("p") > 0, F.expr("num div den").cast("decimal(38,0)")
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    f = j.agg(
        F.max("n").cast("long").alias("n"),
        F.max("npos").cast("long").alias("npos"),
        F.sum(term_i).alias("ap_i"),
    )
    return f.select(
        "n",
        "npos",
        F.round(F.col("ap_i").cast("double") / F.lit(1000000000000.0), 6).alias(
            "average_precision"
        ),
        F.round(F.col("npos").cast("double") / F.col("n").cast("double"), 6).alias(
            "prevalence"
        ),
    )


@query(
    "eval_macro_f1",
    oracle=f"""
    WITH conf AS (
      SELECT lang AS labeled, {_PRED_SQL} AS pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2),
    lab AS (
      SELECT labeled AS cls, CAST(SUM(n) AS BIGINT) AS support FROM conf GROUP BY 1),
    prd AS (
      SELECT pred AS cls, CAST(SUM(n) AS BIGINT) AS pred_total FROM conf GROUP BY 1),
    tp AS (
      SELECT labeled AS cls, CAST(SUM(n) AS BIGINT) AS tp
      FROM conf WHERE labeled = pred GROUP BY 1),
    cls AS (
      SELECT cls FROM lab UNION SELECT cls FROM prd),
    j AS (
      SELECT cls.cls,
             COALESCE(lab.support, 0) AS support,
             COALESCE(tp.tp, 0) AS tp,
             COALESCE(prd.pred_total, 0) - COALESCE(tp.tp, 0) AS fp,
             COALESCE(lab.support, 0) - COALESCE(tp.tp, 0) AS fn
      FROM cls LEFT JOIN lab ON cls.cls = lab.cls
               LEFT JOIN tp ON cls.cls = tp.cls
               LEFT JOIN prd ON cls.cls = prd.cls),
    perc AS (
      SELECT cls, support, tp, fp, fn,
             CASE WHEN 2 * tp + fp + fn > 0
                  THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
                  ELSE 0.0 END AS f1
      FROM j),
    f AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(support) AS BIGINT) AS n,
             CAST(SUM(tp) AS BIGINT) AS tp_tot,
             CAST(SUM(fp) AS BIGINT) AS fp_tot,
             CAST(SUM(fn) AS BIGINT) AS fn_tot,
             list_aggregate(list(f1 ORDER BY cls), 'sum') AS sum_f1,
             list_aggregate(list(CAST(support AS DOUBLE) * f1 ORDER BY cls),
                            'sum') AS sum_wf1
      FROM perc)
    SELECT k AS n_classes, n AS n_docs,
           ROUND(sum_f1 / CAST(k AS DOUBLE), 6) AS macro_f1,
           ROUND(CAST(2 * tp_tot AS DOUBLE)
                 / CAST(2 * tp_tot + fp_tot + fn_tot AS DOUBLE), 6) AS micro_f1,
           ROUND(sum_wf1 / CAST(n AS DOUBLE), 6) AS weighted_f1
    FROM f
    """,
)
def eval_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro-, micro- and support-weighted F1 of the text_lang_id
    heuristic in one row — the three averaging conventions a model card
    must distinguish (macro exposes the dead minority classes the
    heuristic never predicts; micro equals accuracy for single-label
    classification; weighted sits between).

    Class axis (r12, ADVICE fix): the FULL OUTER UNION of labeled and
    predicted classes — sklearn's convention. A predicted-only class
    (e.g. 'unknown' when no doc is labeled unknown) enters with
    support=0, tp=0, fn=0 and its false positives COUNT in the micro
    totals; its per-class F1 is 0 (zero_division=0) and it dilutes the
    macro mean by widening k. With the union axis micro-F1 provably
    equals accuracy for single-label classification (fp_tot = fn_tot =
    n_docs - tp_tot); the pre-r12 labels-only axis broke that identity
    (micro 0.327 vs accuracy 0.292 on the sf0.01 fixture) by dropping
    the 'unknown' predictions' fp. Weighted-F1 is numerically unchanged
    (support-0 classes carry zero weight).

    Exactness: tp/fp/fn are exact integers; per-class F1 = 2tp/(2tp+
    fp+fn) from integers; the k-term macro/weighted folds run in FIXED
    class order (ordered list fold both engines — the stats_ljung_box
    alternative for a k<=5 frame); micro-F1 is one division of exact
    integer totals. ROUND-6.

    Plan: the eval_classifier_report confusion topology (scan-fused
    aggregate to <= |langs|^2 rows, bounded rollups, broadcast joins)
    into one 1-row fold.
    """
    d = table(spark, sf_dir, "documents")
    conf = (
        d.select(F.col("lang").alias("labeled"), _marker_pred_col().alias("pred"))
        .groupBy("labeled", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()
    )
    lab = conf.groupBy(F.col("labeled").alias("cls")).agg(
        F.sum("n").cast("long").alias("support")
    )
    prd = conf.groupBy(F.col("pred").alias("cls")).agg(
        F.sum("n").cast("long").alias("pred_total")
    )
    tp = (
        conf.filter(F.col("labeled") == F.col("pred"))
        .groupBy(F.col("labeled").alias("cls"))
        .agg(F.sum("n").cast("long").alias("tp"))
    )
    j = (
        lab.join(prd, "cls", "full_outer")
        .join(F.broadcast(tp), "cls", "left")
        .select(
            "cls",
            F.coalesce(F.col("support"), F.lit(0)).cast("long").alias("support"),
            F.coalesce(F.col("tp"), F.lit(0)).cast("long").alias("tp"),
            (F.coalesce(F.col("pred_total"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0)))
            .cast("long")
            .alias("fp"),
            (F.coalesce(F.col("support"), F.lit(0)) - F.coalesce(F.col("tp"), F.lit(0)))
            .cast("long")
            .alias("fn"),
        )
    )
    f1 = F.when(
        2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
        (2 * F.col("tp")).cast("double")
        / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
    ).otherwise(F.lit(0.0))
    perc = j.select("cls", "support", "tp", "fp", "fn", f1.alias("f1"))
    f = perc.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("support").cast("long").alias("n"),
        F.sum("tp").cast("long").alias("tp_tot"),
        F.sum("fp").cast("long").alias("fp_tot"),
        F.sum("fn").cast("long").alias("fn_tot"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("cls", "f1"))), lambda s: s["f1"]
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("sum_f1"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("cls", (F.col("support").cast("double") * F.col("f1")).alias("wf1"))
                    )
                ),
                lambda s: s["wf1"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("sum_wf1"),
    )
    return f.select(
        F.col("k").alias("n_classes"),
        F.col("n").alias("n_docs"),
        F.round(F.col("sum_f1") / F.col("k").cast("double"), 6).alias("macro_f1"),
        F.round(
            (2 * F.col("tp_tot")).cast("double")
            / (2 * F.col("tp_tot") + F.col("fp_tot") + F.col("fn_tot")).cast("double"),
            6,
        ).alias("micro_f1"),
        F.round(F.col("sum_wf1") / F.col("n").cast("double"), 6).alias("weighted_f1"),
    )


# -- Bradley-Terry pairwise-preference ranking (r12) -------------------------

_BT_S = 1_000_000  # Q6 fixed point for strengths
_BT_S2 = _BT_S * _BT_S
_BT_ROUNDS = 3  # unrolled MM iterations (Hunter 2004)


def _bt_oracle() -> str:
    iters = []
    for r in range(1, _BT_ROUNDS + 1):
        prev = f"p{r - 1}"
        iters.append(f""",
    d{r} AS (
      SELECT dir.i,
             SUM(CASE WHEN pi.p + pj.p > 0
                      THEN (dir.n * {_BT_S2}) // (pi.p + pj.p)
                      ELSE CAST(0 AS HUGEINT) END) AS den
      FROM dir
      JOIN {prev} pi ON dir.i = pi.i
      JOIN {prev} pj ON dir.j = pj.i
      GROUP BY dir.i),
    r{r} AS (
      SELECT w.i,
             CASE WHEN d.den > 0 THEN (w.w * {_BT_S2}) // d.den
                  ELSE CAST(0 AS HUGEINT) END AS praw
      FROM wins w JOIN d{r} d ON w.i = d.i),
    t{r} AS (SELECT SUM(praw) AS tot, COUNT(*) AS k FROM r{r}),
    p{r} AS (SELECT i, (praw * k * {_BT_S}) // tot AS p FROM r{r}, t{r})""")
    return f"""
    WITH uc AS (
      SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2),
    duel AS (
      SELECT a.event_type AS i, b.event_type AS j
      FROM uc a JOIN uc b
        ON a.user_id = b.user_id AND a.event_type <> b.event_type
      WHERE a.c > b.c),
    pw AS (SELECT i, j, CAST(COUNT(*) AS HUGEINT) AS w FROM duel GROUP BY 1, 2),
    g AS (SELECT i, j, w FROM pw UNION ALL SELECT j AS i, i AS j, w FROM pw),
    dir AS (SELECT i, j, CAST(SUM(w) AS HUGEINT) AS n FROM g GROUP BY 1, 2),
    items AS (SELECT DISTINCT i FROM dir),
    wins AS (
      SELECT items.i, CAST(COALESCE(SUM(pw.w), 0) AS HUGEINT) AS w
      FROM items LEFT JOIN pw ON pw.i = items.i GROUP BY items.i),
    p0 AS (SELECT i, CAST({_BT_S} AS HUGEINT) AS p FROM items){"".join(iters)}
    SELECT i AS event_type,
           CAST(p AS BIGINT) AS strength_q,
           CAST(CAST(p AS BIGINT) AS DOUBLE) / {_BT_S} AS strength,
           CAST(ROW_NUMBER() OVER (ORDER BY p DESC, i) AS BIGINT) AS bt_rank
    FROM p{_BT_ROUNDS}
    """


@query("eval_bradley_terry", oracle=_bt_oracle())
def eval_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strengths from pairwise preferences via ``_BT_ROUNDS`` (=3) unrolled
    minorization-maximization rounds (Hunter 2004) in Q6 integer fixed
    point — the arena-style ranking every LLM-eval leaderboard runs over
    pairwise human/model judgments, here over a deterministic duel
    fixture: for each user and each event-type pair, the type with the
    higher event count wins (ties contribute nothing), so w_ij = #users
    preferring i over j.

    MM update per round: p_i' = W_i / sum_j n_ij/(p_i+p_j), then
    normalize to mean 1. All arithmetic is DECIMAL(38,0) products with
    truncating integer division (Spark `div` / DuckDB HUGEINT `//`, the
    embed_pca_power convention) — bit-identical across engines and
    partitionings; a float MM would reorder its denominator sums under
    shuffle. W_i (total wins) and n_ij (total games) are exact integers
    fixed before iteration; the comparison graph here is complete, and
    zero-win items converge to strength 0 (documented: items outside any
    duel drop out; a disconnected comparison graph makes BT
    non-identifiable and needs a regularizer upstream).

    Plan at 100 TB: ONE groupBy to per-user type counts, one user-keyed
    self-join bounded by |types|^2 rows per user, then every iteration
    frame (pw/dir/wins/p) is |types|^2-bounded — broadcast joins, no
    data-sized shuffle after the duel stage. dir_/wins/p are
    localCheckpointed (the propagate_min_labels idiom): dir_ feeds every
    round twice, so lazy lineage would re-derive the duel subtree
    ~2^rounds times and the analyzed plan blows up with it.

    Output: (event_type, strength_q, strength, bt_rank) — Q6 strengths,
    mean-1 normalized, rank 1 = strongest.
    """
    ev = table(spark, sf_dir, "events")
    uc = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    a = uc.select(
        F.col("user_id").alias("u"), F.col("event_type").alias("i"), F.col("c").alias("ca")
    )
    b = uc.select(
        F.col("user_id").alias("u"), F.col("event_type").alias("j"), F.col("c").alias("cb")
    )
    duel = a.join(b, "u").filter((F.col("i") != F.col("j")) & (F.col("ca") > F.col("cb")))
    pw = duel.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("w")
    )
    g = pw.select("i", "j", "w").unionAll(
        pw.select(F.col("j").alias("i"), F.col("i").alias("j"), "w")
    )
    # The duel stage is the only data-sized work; everything after is
    # |types|^2-bounded. localCheckpoint the iteration inputs ONCE and p
    # per round (the propagate_min_labels idiom) — dir_ feeds every round
    # TWICE (p_i and p_j sides), so a lazy plan would duplicate the whole
    # duel subtree ~2^rounds times (measured: a 45k-line formatted plan
    # at 3 rounds vs ~200 lines checkpointed).
    dir_ = (
        g.groupBy("i", "j")
        .agg(F.sum("w").cast("decimal(38,0)").alias("n"))
        .localCheckpoint()
    )
    items = dir_.select("i").distinct()
    wins = (
        items.join(pw.groupBy("i").agg(F.sum("w").alias("wsum")), "i", "left")
        .select("i", F.coalesce(F.col("wsum"), F.lit(0)).cast("decimal(38,0)").alias("w"))
        .localCheckpoint()
    )
    p = items.select("i", F.lit(_BT_S).cast("decimal(38,0)").alias("p"))
    for _ in range(_BT_ROUNDS):
        pi = p.select("i", F.col("p").alias("p_i"))
        pj = p.select(F.col("i").alias("j"), F.col("p").alias("p_j"))
        den = (
            dir_.join(F.broadcast(pi), "i")
            .join(F.broadcast(pj), "j")
            # Guard p_i + p_j = 0 (two items both floored to strength 0 by
            # the normalization under skewed duel counts): Spark's non-ANSI
            # `div` would yield NULL (silently dropped from SUM) while the
            # DuckDB HUGEINT `//` raises — mirrored CASE on both engines.
            .select(
                "i",
                F.expr(
                    f"CASE WHEN p_i + p_j > 0 THEN CAST(n * {_BT_S2} div (p_i + p_j)"
                    " AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END"
                ).alias("term"),
            )
            .groupBy("i")
            .agg(F.sum("term").cast("decimal(38,0)").alias("den"))
        )
        praw = wins.join(den, "i").select(
            "i",
            F.when(F.col("den") > 0, F.expr(f"w * {_BT_S2} div den"))
            .otherwise(F.lit(0))
            .cast("decimal(38,0)")
            .alias("praw"),
        )
        tot = praw.agg(
            F.sum("praw").cast("decimal(38,0)").alias("tot"),
            F.count(F.lit(1)).cast("decimal(38,0)").alias("k"),
        )
        p = (
            praw.crossJoin(F.broadcast(tot))
            .select(
                "i",
                F.expr(f"CAST(praw * k * {_BT_S} div tot AS DECIMAL(38,0))").alias("p"),
            )
            .localCheckpoint()
        )
    w_rank = Window.orderBy(F.col("strength_q").desc(), F.col("event_type"))
    return (
        p.select(F.col("i").alias("event_type"), F.col("p").cast("long").alias("strength_q"))
        .select(
            "event_type",
            "strength_q",
            (F.col("strength_q").cast("double") / F.lit(float(_BT_S))).alias("strength"),
        )
        .withColumn("bt_rank", F.row_number().over(w_rank).cast("long"))
    )
