"""Corpus-preparation operators for LLM training-data pipelines.

Beyond SURVEY.md §2.12: the operations a 100 TB pretraining pipeline runs
between raw crawl and tokenizer — repetition-based quality gating (Gopher-style
rules), benchmark-contamination flagging, deterministic content-hash train/
holdout splitting, stratified sampling, vocabulary building, and sequence
packing. Reference analog: the per-row classify/validate/quarantine loop of
scripts/00b_extract_metadata_all.R:85-165 generalized to document corpora.

Scale notes: every operator here is either a pure column expression (split
assignment) or an explode -> two-level hash aggregation (repetition, vocab) —
map-side partial aggregation keeps the shuffle at |doc_id, token| distinct
pairs, not token occurrences. Contamination is a broadcast semi-join: the
benchmark side is tiny by construction (an eval set, not the corpus), so the
corpus never shuffles. Packing uses a per-source window — partitioned by the
same source key the corpus is stored under, so at 100 TB it rides the existing
table layout without a repartition.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.functions.text import (
    fingerprint,
    gram_key,
    quality_score,
    split_pair,
    spread_small_scan,
    tagged_char_grams,
    tagged_word_grams,
    word_ngrams,
    words,
    ws_tokens,
)
from wri_data_processing_spark.queries.llm_similarity import _idot, _idot_sql, _qv_sql, _qvec
from wri_data_processing_spark.registry import query

_TOKS_CTE = r"""
    t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t)
"""


def _tokens(d: DataFrame) -> DataFrame:
    """(doc_id, tok) one row per token occurrence."""
    return d.select("doc_id", F.explode(ws_tokens("text")).alias("tok"))


@query(
    "text_repetition",
    oracle=f"""
    WITH {_TOKS_CTE},
    c AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(MAX(cnt) AS BIGINT) AS top_count,
           CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS top_frac,
           CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
             AS dup_frac,
           CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) > 0.12
             AS flagged
    FROM c GROUP BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gate: per-doc top-token fraction and
    duplicate-token fraction; docs dominated by one token get flagged.

    Two-level aggregation — (doc_id, tok) counts, then per-doc rollup. The
    first groupBy is the only wide shuffle and partial-aggregates map-side,
    so the shuffle carries distinct (doc, token) pairs (bounded by vocab x
    docs), never raw token occurrences. All ratios are double divisions of
    exact integer counts — bit-deterministic vs the oracle.
    """
    d = table(spark, sf_dir, "documents")
    c = _tokens(d).groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    n_tokens = F.sum("cnt").cast("long")
    top = F.max("cnt").cast("long")
    return c.groupBy("doc_id").agg(
        n_tokens.alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        top.alias("top_count"),
        (top.cast("double") / n_tokens.cast("double")).alias("top_frac"),
        (
            (n_tokens - F.count(F.lit(1))).cast("double") / n_tokens.cast("double")
        ).alias("dup_frac"),
        (top.cast("double") / n_tokens.cast("double") > 0.12).alias("flagged"),
    )


@query(
    "contamination_flag",
    oracle=r"""
    WITH t AS (SELECT doc_id, source,
                      regexp_split_to_array(trim(text), '\s+') AS toks
               FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, source,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
               AS shingle
      FROM t, unnest(generate_series(1, greatest(len(toks) - 3, 0))) AS u(i)
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
    hits AS (SELECT DISTINCT sh.doc_id FROM sh JOIN bench USING (shingle)
             WHERE sh.source <> 'src0')
    SELECT d.doc_id, d.source,
           COALESCE(h.doc_id IS NOT NULL, FALSE) AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.source <> 'src0'
    """,
)
def contamination_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: flag corpus docs sharing any word
    4-gram with the held-out benchmark set (here: source 'src0').

    The benchmark shingle set is tiny by construction (an eval suite, not
    the corpus), so it BROADCASTS: the corpus-side shingles stream through
    a broadcast semi-join with no shuffle of the corpus at all, then the
    flagged doc_id set (also small) broadcasts back onto the documents
    scan. Shingles are compared as xxhash64 longs; the string oracle is
    identical up to 64-bit hash collisions.
    """
    from wri_data_processing_spark.queries.llm_dedup import _word_ngram_hashes

    d = table(spark, sf_dir, "documents")
    shingles = _word_ngram_hashes(d, 4, "doc_id", "source")
    bench = shingles.filter(F.col("source") == "src0").select("shingle").distinct()
    hits = (
        shingles.filter(F.col("source") != "src0")
        .join(F.broadcast(bench), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        d.filter(F.col("source") != "src0")
        .join(F.broadcast(hits), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("contaminated"), F.lit(False)).alias("contaminated"),
        )
    )


@query(
    "split_train_holdout",
    oracle="""
    SELECT doc_id,
           CASE WHEN substring(md5(text), 1, 1) <= 'b' THEN 'train'
                ELSE 'holdout' END AS split
    FROM documents
    """,
)
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/holdout split (~75/25): the split
    key is md5(text), so byte-identical duplicates always land on the same
    side — no leakage from train into holdout via exact dups.

    Pure column expression: zero shuffle, runs inside the scan stage, and
    the assignment is reproducible across runs/clusters (no RNG state).
    """
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.when(F.substring(F.md5("text"), 1, 1) <= "b", "train")
        .otherwise("holdout")
        .alias("split"),
    )


@query(
    "sample_stratified",
    oracle="""
    WITH r AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY md5(text), doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS cnt
        FROM documents
    )
    SELECT doc_id, lang FROM r WHERE rn * 5 <= cnt
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified 20% sample per language, deterministic: rank docs
    within each stratum by content hash and keep the first floor(n/5).

    One shuffle on lang (the window). rn*5 <= cnt is pure integer math —
    no float rate multiplication, so the boundary row is unambiguous. At
    100 TB with few strata the lang partitions are huge; the same pattern
    runs per (lang, shard) with a salted key and a second exact top-up
    pass, or approximately via hash-threshold sampling
    (md5 < rate-scaled bound) with zero shuffle.
    """
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    wc = Window.partitionBy("lang")
    return (
        d.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("cnt"),
        )
        .filter(F.col("rn") * 5 <= F.col("cnt"))
        .select("doc_id", "lang")
    )


@query(
    "vocab_top_terms",
    oracle=f"""
    WITH {_TOKS_CTE}
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM tok GROUP BY tok
    ORDER BY freq DESC, tok LIMIT 50
    """,
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary builder: corpus-wide term and document frequencies,
    top-50. The seed step of tokenizer training (BPE starts from exactly
    this table).

    explode -> groupBy(tok) with map-side partial agg; COUNT(DISTINCT
    doc_id) expands to the standard two-phase distinct aggregate. The
    final top-50 is TakeOrderedAndProject — no global sort.
    """
    d = table(spark, sf_dir, "documents")
    return (
        _tokens(d)
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.count_distinct("doc_id").cast("long").alias("doc_freq"),
        )
        .orderBy(F.col("freq").desc(), "tok")
        .limit(50)
    )


@query(
    "pack_sequences",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, source,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
        FROM documents
    ),
    b AS (
        SELECT source, n_tok,
               CAST(floor((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tok) / 512.0)
                    AS BIGINT) AS bin_id
        FROM t
    )
    SELECT source, bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
    FROM b GROUP BY source, bin_id
    ORDER BY source, bin_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to fixed-capacity (512-token) training
    bins by contiguous fill in doc_id order within each source, then report
    per-bin document count and token occupancy.

    bin = floor(exclusive-prefix-sum / capacity) — the distributed-friendly
    packing rule: one window shuffle on source, no driver-side first-fit
    loop, deterministic under any executor layout because the order key
    (doc_id) is total. Integer prefix sums stay exact; the /512.0 floor is
    exact for any corpus below 2^53 tokens per source.
    """
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(ws_tokens("text"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b = d.select("doc_id", "source", n_tok.alias("n_tok")).withColumn(
        "bin_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(512.0)).cast("long"),
    )
    return (
        b.groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("bin_tokens"),
        )
        .orderBy("source", "bin_id")
    )


_MIX_WEIGHTS = {"en": 4, "de": 2, "es": 2, "fr": 1, "zh": 1}
_MIX_CASES = " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_WEIGHTS.items())


@query(
    "mixture_sample",
    oracle=f"""
    WITH r AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY md5(text), doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS cnt,
               CASE lang {_MIX_CASES} ELSE 0 END AS w
        FROM documents
    )
    SELECT doc_id, lang FROM r WHERE rn * 10 <= cnt * w
    """,
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction: sample each language at a different
    rate (weight/10) so the output corpus hits a target language mixture —
    the step that turns raw crawl proportions into a curated data recipe.

    Same deterministic rank-per-stratum machinery as sample_stratified but
    with per-stratum rates from a broadcast-size weights table (here a
    literal CASE — in production a joined config dim). rn*10 <= cnt*w is
    all-integer, so rate boundaries are exact in both engines.
    """
    d = table(spark, sf_dir, "documents")
    w_rank = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    w_cnt = Window.partitionBy("lang")
    weight = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _MIX_WEIGHTS.items()],
        F.lit(0),
    )
    return (
        d.select(
            "doc_id",
            "lang",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(w_cnt).alias("cnt"),
            weight.alias("w"),
        )
        .filter(F.col("rn") * 10 <= F.col("cnt") * F.col("w"))
        .select("doc_id", "lang")
    )


@query(
    "sample_token_budget",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, source,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
               length(replace(text, ' ', '')) * 1.0 / greatest(length(text), 1)
                 AS density
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tok,
               SUM(n_tok) OVER (PARTITION BY source
                                ORDER BY density DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT doc_id, source, n_tok FROM c WHERE cum <= 800
    """,
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection under a token budget: take each source's best docs
    (by a quality proxy — here character density) until the source's
    800-token budget is spent.

    The greedy knapsack every curation pipeline runs, as one window: rank
    by (quality DESC, doc_id), inclusive prefix-sum the token counts, keep
    while cum <= budget. The quality proxy is a ratio of integer lengths —
    identical double division in both engines — and the (quality, doc_id)
    order is total, so the cut line is deterministic.
    """
    d = table(spark, sf_dir, "documents")
    text = F.col("text")
    n_tok = F.size(ws_tokens(text))
    density = (
        F.length(F.regexp_replace(text, " ", "")) * F.lit(1.0)
        / F.greatest(F.length(text), F.lit(1))
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("density").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select("doc_id", "source", n_tok.alias("n_tok"), density.alias("density"))
        .withColumn("cum", F.sum("n_tok").over(w))
        .filter(F.col("cum") <= 800)
        .select("doc_id", "source", "n_tok")
    )


@query(
    "text_tfidf",
    oracle=f"""
    WITH {_TOKS_CTE},
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
    df AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM tok GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             tf.tf * (n.n_docs + 1.0) / (df.df + 1.0) AS tfidf
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tf, df, tfidf FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, tok) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-5 characteristic terms per document.

    The idf is the RATIONAL form tf * (N+1)/(df+1) — a ratio of exact
    integers evaluated in one double division, identical on both engines
    (the usual log() idf would hang bit-equality on libm differences;
    monotone in df, so rankings are unchanged). Plan: token explode feeds
    BOTH the tf and df aggregates from one shuffle-partitioned exchange;
    the df side (vocabulary-sized) broadcasts back onto tf, and N arrives
    as a broadcast 1-row cross join — no driver collect. The final
    per-doc top-5 window repartitions by doc_id only.
    """
    d = table(spark, sf_dir, "documents")
    toks = _tokens(d)
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    df_ = toks.groupBy("tok").agg(F.count_distinct("doc_id").cast("long").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.col("tf") * (F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "tok", "tf", "df", "tfidf")
    )


_BM25_TERMS = ("spark", "join", "vector")

# Module-level so retrieval_hybrid_rrf's oracle can embed the SAME lexical
# ranking as a derived table — one source of truth for the BM25 arithmetic.
_BM25_TOP20_SQL = r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents),
    d AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS dl,
             CAST(len(list_filter(toks, x -> x = 'spark')) AS BIGINT) AS tf1,
             CAST(len(list_filter(toks, x -> x = 'join')) AS BIGINT) AS tf2,
             CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT) AS tf3
      FROM t),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS sum_dl,
             CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
             CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
             CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
      FROM d),
    sc AS (
      SELECT d.doc_id, d.dl, d.tf1, d.tf2, d.tf3,
             ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(s.df1 AS DOUBLE) + 0.5)
                      / (CAST(s.df1 AS DOUBLE) + 0.5))
               * (CAST(d.tf1 AS DOUBLE) * 2.2)
               / (CAST(d.tf1 AS DOUBLE)
                  + 1.2 * (0.25 + (0.75 * CAST(d.dl AS DOUBLE))
                                  / (CAST(s.sum_dl AS DOUBLE)
                                     / CAST(s.n_docs AS DOUBLE))))
             + ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(s.df2 AS DOUBLE) + 0.5)
                      / (CAST(s.df2 AS DOUBLE) + 0.5))
               * (CAST(d.tf2 AS DOUBLE) * 2.2)
               / (CAST(d.tf2 AS DOUBLE)
                  + 1.2 * (0.25 + (0.75 * CAST(d.dl AS DOUBLE))
                                  / (CAST(s.sum_dl AS DOUBLE)
                                     / CAST(s.n_docs AS DOUBLE))))
             + ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(s.df3 AS DOUBLE) + 0.5)
                      / (CAST(s.df3 AS DOUBLE) + 0.5))
               * (CAST(d.tf3 AS DOUBLE) * 2.2)
               / (CAST(d.tf3 AS DOUBLE)
                  + 1.2 * (0.25 + (0.75 * CAST(d.dl AS DOUBLE))
                                  / (CAST(s.sum_dl AS DOUBLE)
                                     / CAST(s.n_docs AS DOUBLE))))
             AS raw
      FROM d CROSS JOIN s)
    SELECT doc_id, dl, tf1, tf2, tf3, ROUND(raw, 6) AS score
    FROM sc
    WHERE tf1 + tf2 + tf3 > 0
    ORDER BY score DESC, doc_id
    LIMIT 20
    """


@query("text_bm25_rank", oracle=_BM25_TOP20_SQL)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring: rank documents against the fixed query
    {spark, join, vector} with Okapi BM25 (k1=1.2, b=0.75) and return the
    top 20. The quality-aware cousin of text_tfidf — BM25's tf saturation
    and length normalization is what query-based data selection (e.g.
    retrieving pretraining docs relevant to a benchmark) actually uses.

    Cross-engine exactness: idf = ln(1 + (N - df + 0.5)/(df + 0.5)).
    JVM Math.log and glibc/DuckDB log DISAGREE at the last ULP on ~9% of
    arguments (measured this round: 3610/40000; sqrt stays exactly
    rounded per IEEE-754), so the score is ROUND-6 closed like the other
    ln consumers (text_lm_score, stats_psi) and the top-20 orders by the
    ROUNDED score with a doc_id tie-break — sub-1e-6 score gaps collapse
    to deterministic id order on both engines. The 3-term sum is a
    fixed-order a+b+c chain, never a reorderable SUM aggregate.

    Scale: zero explodes and zero token shuffles — per-term tf counts are
    array-filter sizes computed inside the scan stage (the
    bpe_merge_candidates locality trick), so the ONLY exchanges are the
    1-row corpus-stats aggregate (N, Σdl, per-term df — one reduce),
    its broadcast back over the scan (bounded: NLJ-whitelisted), and the
    global top-20 TakeOrdered. Query terms ship as plan literals; a
    parameterized variant broadcasts a |Q|-row term table instead
    (the sim_topk_batch shape).
    """
    dd = _bm25_docs(spark, sf_dir, {str(i): t for i, t in enumerate(_BM25_TERMS, 1)})
    score = _bm25_term("1") + _bm25_term("2") + _bm25_term("3")
    return (
        dd.filter(F.col("tf1") + F.col("tf2") + F.col("tf3") > 0)
        .select(
            "doc_id", "dl", "tf1", "tf2", "tf3", F.round(score, 6).alias("score")
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


def _bm25_docs(spark: SparkSession, sf_dir: str, terms: dict[str, str]) -> DataFrame:
    """(doc_id, dl, tf<k>..., n_docs, sum_dl, df<k>...): per document its
    whitespace-token length and the count of each query term ``terms[k]``
    (array-filter sizes inside the scan stage: no explode, no token
    shuffle), next to the 1-row corpus stats — N, Σdl and each term's
    document frequency — broadcast back (a bounded NLJ)."""
    d = table(spark, sf_dir, "documents")
    toks = ws_tokens("text")

    def _eq(term):
        # NB: a 2-arg lambda (x, t=term) would make F.filter pass the
        # ELEMENT INDEX as the second argument — close over the term.
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter(toks, _eq(t))).cast("long").alias(f"tf{k}") for k, t in terms.items()
    ]
    dd = d.select("doc_id", F.size(toks).cast("long").alias("dl"), *tf_cols)
    s = dd.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[F.sum((F.col(f"tf{k}") > 0).cast("int")).cast("long").alias(f"df{k}") for k in terms],
    )
    return dd.crossJoin(F.broadcast(s))


def _bm25_term(k: str) -> Column:
    """Okapi BM25 (k1=1.2, b=0.75) of query term k over a _bm25_docs row:
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) times the saturated,
    length-normalized tf."""
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    norm = F.lit(0.25) + (F.lit(0.75) * F.col("dl").cast("double")) / avgdl
    tfd = F.col(f"tf{k}").cast("double")
    dfd = F.col(f"df{k}").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs").cast("double") - dfd + F.lit(0.5))
        / (dfd + F.lit(0.5))
    )
    return idf * (tfd * F.lit(2.2)) / (tfd + F.lit(1.2) * norm)


# The parameterized serving batch (VERDICT r14 item 4): query terms arrive
# as DATA, not plan literals. Pinned literal query set — query 1 IS
# text_bm25_rank's registered query, so the two rankings are
# cross-checkable (tests/test_r15_known_answers.py pins batch q1 top-10 ==
# rank top-20 prefix); query 3 has a different term count, proving the
# shape is |Q|- and |terms|-generic.
_BM25_BATCH_QUERIES: tuple[tuple[int, tuple[str, ...]], ...] = (
    (1, ("spark", "join", "vector")),
    (2, ("data", "stream", "table")),
    (3, ("hash", "filter")),
)
_BM25_BATCH_TERMS: tuple[str, ...] = tuple(
    sorted({t for _, ts in _BM25_BATCH_QUERIES for t in ts})
)


def _bm25_batch_sql() -> str:
    """Oracle builder: the batch BM25 SQL generated from the SAME pinned
    query structure the engine compiles, so term order (the fixed-order
    score chain), df column wiring, and the rank window can never drift
    between the two plans."""
    idx = {t: i for i, t in enumerate(_BM25_BATCH_TERMS)}
    tf_cols = ",\n             ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(_BM25_BATCH_TERMS)
    )
    df_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(_BM25_BATCH_TERMS))
    )

    def term_score(i: int) -> str:
        return (
            f"ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(s.df_{i} AS DOUBLE) + 0.5)"
            f" / (CAST(s.df_{i} AS DOUBLE) + 0.5))"
            f" * (CAST(d.tf_{i} AS DOUBLE) * 2.2)"
            f" / (CAST(d.tf_{i} AS DOUBLE) + 1.2 * (0.25"
            f" + (0.75 * CAST(d.dl AS DOUBLE))"
            f" / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))"
        )

    blocks = []
    for qid, terms in _BM25_BATCH_QUERIES:
        ids = [idx[t] for t in terms]
        score = "\n               + ".join(term_score(i) for i in ids)
        nterms = " + ".join(f"(CASE WHEN d.tf_{i} > 0 THEN 1 ELSE 0 END)" for i in ids)
        anymatch = " + ".join(f"d.tf_{i}" for i in ids)
        blocks.append(
            f"SELECT {qid} AS query_id, d.doc_id,\n"
            f"             CAST({nterms} AS BIGINT) AS n_terms,\n"
            f"             ROUND({score}, 6) AS score\n"
            f"      FROM d CROSS JOIN s WHERE {anymatch} > 0"
        )
    union = "\n      UNION ALL\n      ".join(blocks)
    return f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents),
    d AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
             {tf_cols}
      FROM t),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS sum_dl,
             {df_cols}
      FROM d),
    sc AS (
      {union})
    SELECT query_id, doc_id, n_terms, score, rn FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY score DESC, doc_id) AS BIGINT) AS rn
      FROM sc)
    WHERE rn <= 10
    ORDER BY query_id, rn
    """


@query("text_bm25_batch", oracle=_bm25_batch_sql())
def text_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25 serving: score EVERY query in a query set against the
    corpus in one pass and return each query's top-10 — the
    parameterized-lexical-retrieval surface text_bm25_rank's own docstring
    promises (VERDICT r14 item 4): the single-query op bakes its terms
    into the plan as literals; a serving tier re-planning per query would
    be absurd, so here the query set is DATA and the plan is query-count
    generic (the sim_topk_batch shape, lexical edition). Arithmetic is
    text_bm25_rank's, through the same _bm25_docs/_bm25_term: Okapi BM25,
    k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5)).

    Cross-engine exactness: per-query scores are FIXED-ORDER chains of
    per-term scores in the query's pinned term order on both engines
    (generated from the same tuple — never a reorderable SUM aggregate);
    ln() forces ROUND-6 (the bm25 ULP measurement) and the per-query rank
    orders by the ROUNDED score with a doc_id tie-break.

    Plan at 100 TB: zero explodes of raw tokens and zero token shuffles —
    per-term tfs are array-filter sizes inside the scan stage (one column
    per DISTINCT term across the whole query set, shared by every query
    that uses the term); the 1-row corpus-stats aggregate broadcasts back
    (the whitelisted bounded NLJ); each doc emits one in-row |Q|-element
    struct array explode carrying (query_id, n_terms, rounded score), and
    the ONLY data-sized exchange is the per-query rank window, which
    WindowGroupLimit prunes map-side to <=10 rows per partition before
    anything shuffles. At a real serving batch (|Q| in the thousands) the
    term table would broadcast-join an inverted tf long-form instead of
    widening the scan — the registered shape keeps the scan-local
    variant because distinct terms here are bounded (8).
    """
    dd = _bm25_docs(spark, sf_dir, {f"_{i}": t for i, t in enumerate(_BM25_BATCH_TERMS)})
    tidx = {t: i for i, t in enumerate(_BM25_BATCH_TERMS)}
    entries = []
    for qid, terms in _BM25_BATCH_QUERIES:
        ids = [tidx[t] for t in terms]
        score = _bm25_term(f"_{ids[0]}")
        nterms = (F.col(f"tf_{ids[0]}") > 0).cast("int")
        anymatch = F.col(f"tf_{ids[0]}")
        for i in ids[1:]:
            score = score + _bm25_term(f"_{i}")
            nterms = nterms + (F.col(f"tf_{i}") > 0).cast("int")
            anymatch = anymatch + F.col(f"tf_{i}")
        entries.append(
            F.struct(
                F.lit(qid).alias("query_id"),
                nterms.cast("long").alias("n_terms"),
                F.round(score, 6).alias("score"),
                (anymatch > 0).alias("keep"),
            )
        )
    long = (
        dd.select("doc_id", F.explode(F.array(*entries)).alias("e"))
        .filter(F.col("e.keep"))
        .select(
            F.col("e.query_id").alias("query_id"),
            "doc_id",
            F.col("e.n_terms").alias("n_terms"),
            F.col("e.score").alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    return (
        long.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 10)
        .select("query_id", "doc_id", "n_terms", "score", "rn")
        .orderBy("query_id", "rn")
    )


_RRF_K0 = 60  # the Cormack/Clarke/Buettcher constant — rank dampener
_RRF_DEPTH = 20  # fusion depth: both source rankings contribute their top-20
# Pinned weight literals (the _DCG_W discipline): 1/(k0+rank) authored ONCE
# as Python doubles and emitted verbatim into both engines' plans, so the
# fused score is a sum of two identical literals — bit-exact with no
# division anywhere in either plan.
_RRF_W = tuple(1.0 / (_RRF_K0 + r) for r in range(1, _RRF_DEPTH + 1))


@query(
    "retrieval_hybrid_rrf",
    oracle=f"""
    WITH lex20 AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS lex_rank
      FROM ({_BM25_TOP20_SQL})),
    qe AS (
      SELECT vec_id,
             {_qv_sql("embedding")} AS qv
      FROM embeddings),
    q0 AS (SELECT qv AS q0 FROM qe WHERE vec_id = 0),
    drel AS (
      SELECT e.vec_id,
             {_idot_sql("e.qv", "q.q0")} AS rel
      FROM qe e, q0 q WHERE e.vec_id <> 0),
    dense20 AS (
      SELECT vec_id,
             CAST(ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id) AS BIGINT)
               AS dense_rank
      FROM (SELECT vec_id, rel FROM drel
            ORDER BY rel DESC, vec_id LIMIT {_RRF_DEPTH})),
    w AS (SELECT [{", ".join(repr(x) for x in _RRF_W)}] AS ws),
    fused AS (
      SELECT COALESCE(l.doc_id, d.vec_id) AS doc_id,
             l.lex_rank, d.dense_rank,
             ROUND(COALESCE(w.ws[CAST(l.lex_rank AS INT)], 0.0)
                   + COALESCE(w.ws[CAST(d.dense_rank AS INT)], 0.0), 6)
               AS rrf_score
      FROM lex20 l FULL JOIN dense20 d ON l.doc_id = d.vec_id
      CROSS JOIN w)
    SELECT doc_id, lex_rank, dense_rank, rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
    """,
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval via reciprocal-rank fusion
    (Cormack, Clarke & Buettcher 2009) — the single most common
    production retrieval shape, and the engine's missing link between
    its two registered rankings: BM25 (text_bm25_rank, query {spark,
    join, vector} over documents) and exact integer-dot vector top-k
    (the sim_topk/retrieval_pipeline rel frame, query vec_id 0 over
    embeddings; doc_id and vec_id share the id space). Each side
    contributes its top-20; a document's fused score is
    sum(1/(60+rank)) over the rankings that contain it, and the top-10
    fused results are served with both source ranks attached (NULL
    where a side didn't rank the doc — the outer join IS the fusion
    semantics, so both one-sided branches stay live).

    Exactness: the weights 1/(60+r) are PINNED module literals indexed
    by rank on both engines (the _DCG_W discipline) — the fused score
    is one fixed-order sum of two authored doubles, bit-identical with
    zero divisions in either plan; ROUND-6 on emission is belt only.
    Both input rankings are already deterministic total orders (BM25's
    ROUND-6 score + doc_id tiebreak; the exact BIGINT dot + vec_id).

    Plan at 100 TB: the two source rankings are each ONE data-sized
    stage ending in a TakeOrdered(20) (BM25's per-term tf stays
    scan-stage array-filter work; the dense side is the brute-force
    anchor — swap in retrieval_pool's IVF probe for the indexed path);
    the fusion itself joins two 20-row frames and never touches data
    again. RRF is rank-only, so the two sides' incomparable score
    scales (ln-space BM25 vs BIGINT dots) need no normalization — the
    reason RRF wins hybrid-search bakeoffs despite its simplicity.
    """
    lex = text_bm25_rank(spark, sf_dir)  # 20 rows, deterministic order
    wl = Window.orderBy(F.col("score").desc(), "doc_id")
    lex_r = (
        lex.select("doc_id", "score")
        .withColumn("lex_rank", F.row_number().over(wl).cast("long"))
        .select(F.col("doc_id").alias("id"), "lex_rank")
    )
    e = table(spark, sf_dir, "embeddings")
    qt = e.select("vec_id", _qvec("embedding").alias("qv"))
    q0 = qt.filter(F.col("vec_id") == 0).select(F.col("qv").alias("q0"))
    rel = (
        qt.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q0))
        .select("vec_id", _idot(F.col("qv"), F.col("q0")).alias("rel"))
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_RRF_DEPTH)
    )
    wd = Window.orderBy(F.col("rel").desc(), "vec_id")
    dense_r = (
        rel.withColumn("dense_rank", F.row_number().over(wd).cast("long"))
        .select(F.col("vec_id").alias("id"), "dense_rank")
    )
    w_arr = F.array(*[F.lit(x) for x in _RRF_W])
    fused = lex_r.join(dense_r, ["id"], "full_outer")

    def _w(rank_col: Column) -> Column:
        # Explicit NULL gate: Spark's element_at(arr, NULL) resolves to the
        # LAST element (probed on 4.1 — not the NULL DuckDB's ws[NULL]
        # yields), so a bare coalesce(element_at(...), 0) silently credits
        # absent-side docs the rank-20 weight.
        return F.when(rank_col.isNull(), F.lit(0.0)).otherwise(
            F.element_at(w_arr, rank_col.cast("int"))
        )

    rrf = _w(F.col("lex_rank")) + _w(F.col("dense_rank"))
    return (
        fused.select(
            F.col("id").alias("doc_id"),
            "lex_rank",
            "dense_rank",
            F.round(rrf, 6).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(10)
    )


def _pair_ngram_counts(spark: SparkSession, sf_dir: str, ks: tuple) -> DataFrame:
    """The shared generated-text-eval fold: per (pair, n, gram-hash),
    candidate-side and reference-side occurrence counts under the corpus
    pairing convention (doc 2k+1 = candidate, doc 2k = its reference).
    eval_bleu consumes it at n=1..4 (precision-oriented), eval_rouge_n at
    n=1..2 (recall-oriented) — ONE machinery, two foldings (VERDICT r14
    item 3). Grams hash to the sha256 60-bit slice so only int64 keys
    cross the exchange — text never shuffles; the n-gram expansion is one
    in-row flatten+explode in the scan stage."""
    return _pair_gram_counts(
        spark, sf_dir, ks, ws_tokens("text").alias("toks"), tagged_word_grams
    )


def _pair_gram_counts(
    spark: SparkSession,
    sf_dir: str,
    ks: tuple,
    unit: Column,
    tagged: Callable[[Column, int], Column],
) -> DataFrame:
    """Shared body of the pair-count folds: ``unit`` is the aliased per-doc
    token array or string, ``tagged(unit, k)`` its (n, g)-tagged k-grams."""
    d = table(spark, sf_dir, "documents")
    base = spread_small_scan(d).select(
        F.floor(F.col("doc_id") / 2).cast("long").alias("pair"),
        (F.col("doc_id") % 2).cast("int").alias("side"),
        unit,
    )
    u = F.col(base.columns[-1])
    grams = [tagged(u, k) for k in ks]
    g = base.select(
        "pair", "side", F.explode(F.flatten(F.array(*grams))).alias("ng")
    ).select("pair", "side", F.col("ng.n").alias("n"), gram_key("ng.g").alias("h"))
    return g.groupBy("pair", "n", "h").agg(
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("long").alias("c_cnt"),
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).cast("long").alias("r_cnt"),
    )


@query(
    "eval_bleu",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id // 2 AS pair, doc_id % 2 AS side,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents),
    g AS (
      SELECT pair, side, n.n AS n,
             CAST(('0x' || substring(sha256(
               CASE n.n
                 WHEN 1 THEN toks[u.i]
                 WHEN 2 THEN toks[u.i] || ' ' || toks[u.i+1]
                 WHEN 3 THEN toks[u.i] || ' ' || toks[u.i+1] || ' ' || toks[u.i+2]
                 ELSE toks[u.i] || ' ' || toks[u.i+1] || ' ' || toks[u.i+2]
                      || ' ' || toks[u.i+3]
               END), 1, 15)) AS BIGINT) AS h
      FROM tk,
           (VALUES (1), (2), (3), (4)) AS n(n),
           unnest(generate_series(1, greatest(len(toks) - n.n + 1, 0))) AS u(i)),
    c AS (
      SELECT pair, n, h,
             CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_cnt,
             CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS r_cnt
      FROM g GROUP BY 1, 2, 3),
    m AS (
      SELECT
        CAST(SUM(CASE WHEN n = 1 THEN LEAST(c_cnt, r_cnt) ELSE 0 END) AS BIGINT) AS m1,
        CAST(SUM(CASE WHEN n = 2 THEN LEAST(c_cnt, r_cnt) ELSE 0 END) AS BIGINT) AS m2,
        CAST(SUM(CASE WHEN n = 3 THEN LEAST(c_cnt, r_cnt) ELSE 0 END) AS BIGINT) AS m3,
        CAST(SUM(CASE WHEN n = 4 THEN LEAST(c_cnt, r_cnt) ELSE 0 END) AS BIGINT) AS m4,
        CAST(SUM(CASE WHEN n = 1 THEN c_cnt ELSE 0 END) AS BIGINT) AS t1,
        CAST(SUM(CASE WHEN n = 2 THEN c_cnt ELSE 0 END) AS BIGINT) AS t2,
        CAST(SUM(CASE WHEN n = 3 THEN c_cnt ELSE 0 END) AS BIGINT) AS t3,
        CAST(SUM(CASE WHEN n = 4 THEN c_cnt ELSE 0 END) AS BIGINT) AS t4,
        CAST(SUM(CASE WHEN n = 1 THEN r_cnt ELSE 0 END) AS BIGINT) AS ref_tokens
      FROM c)
    SELECT m1, t1, m2, t2, m3, t3, m4, t4, ref_tokens,
           ROUND(CASE WHEN t1 >= ref_tokens THEN 1.0
                      ELSE exp(1.0 - CAST(ref_tokens AS DOUBLE)
                                     / CAST(t1 AS DOUBLE)) END, 6) AS bp,
           ROUND((CASE WHEN t1 >= ref_tokens THEN 1.0
                       ELSE exp(1.0 - CAST(ref_tokens AS DOUBLE)
                                      / CAST(t1 AS DOUBLE)) END)
                 * exp((ln((CAST(m1 AS DOUBLE) + 1.0) / (CAST(t1 AS DOUBLE) + 1.0))
                      + ln((CAST(m2 AS DOUBLE) + 1.0) / (CAST(t2 AS DOUBLE) + 1.0))
                      + ln((CAST(m3 AS DOUBLE) + 1.0) / (CAST(t3 AS DOUBLE) + 1.0))
                      + ln((CAST(m4 AS DOUBLE) + 1.0) / (CAST(t4 AS DOUBLE) + 1.0)))
                       / 4.0), 6) AS bleu
    FROM m
    """,
)
def eval_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level smoothed BLEU-4 (Papineni 2002; add-one smoothing à la
    Lin & Och 2004) — the sequence-overlap metric that closes the eval
    family's generated-text gap: every other eval op scores classifiers or
    rankers; this one scores candidate TEXT against reference TEXT.
    Deterministic pairing on the synthetic corpus: doc 2k+1 is the
    "candidate", doc 2k its "reference" (pair = doc_id//2), and the metric
    aggregates corpus-level — clipped n-gram matches m_n = sum over pairs
    of sum_g min(count_cand, count_ref) and candidate totals t_n, n=1..4,
    then BLEU = BP * exp(mean_n ln((m_n+1)/(t_n+1))) with brevity penalty
    BP = exp(min(0, 1 - r/c)). The +1 smoothing keeps ln() defined where
    4-gram matches are sparse (they are, at sf0.001) — documented, not
    hidden. Emits the exact integer evidence (m1..m4, t1..t4, ref_tokens;
    cand_tokens IS t1) plus bp/bleu.

    Exactness: all counts are exact integers off one (pair, n, gram-hash)
    fold; grams hash to the sha256 60-bit slice (the text_ngram_novelty
    convention) so ONLY int64 keys cross the exchange — text never
    shuffles. The closing bp/bleu combine exact-integer ratios through
    exp/ln (JVM vs glibc last-ULP drift, the bm25 measurement), so both
    emit ROUND-6. Integer terms stay under 2^53 to ~10^15 candidate
    tokens — beyond any real corpus.

    Plan at 100 TB: the 4-way n-gram expansion is one in-row
    flatten+explode in the scan stage (~4x token volume, the shingle
    cost every dedup op already pays); ONE map-side-combined groupBy on
    (pair, n, h) where BOTH sides' counts come from conditional sums (no
    cand-vs-ref join — pairing is in the key); then one all-columns
    1-row fold. Nothing is quadratic, nothing collects. Measured A/B at
    sf0.1 (warm, median-of-3, identical aggregates): this one-scan shape
    1.49 s vs the union-of-4-per-n-scans alternative 3.07 s — the
    4x-reread and the 4x shuffle segments cost 2.1x wall; at 100 TB the
    re-read multiple dominates even harder.
    """
    c = _pair_ngram_counts(spark, sf_dir, (1, 2, 3, 4))
    m = c.agg(
        *[
            F.sum(F.when(F.col("n") == k, F.least("c_cnt", "r_cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"m{k}")
            for k in (1, 2, 3, 4)
        ],
        *[
            F.sum(F.when(F.col("n") == k, F.col("c_cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"t{k}")
            for k in (1, 2, 3, 4)
        ],
        F.sum(F.when(F.col("n") == 1, F.col("r_cnt")).otherwise(F.lit(0)))
        .cast("long")
        .alias("ref_tokens"),
    )
    c_d = F.col("t1").cast("double")
    r_d = F.col("ref_tokens").cast("double")
    bp = F.when(F.col("t1") >= F.col("ref_tokens"), F.lit(1.0)).otherwise(
        F.exp(F.lit(1.0) - r_d / c_d)
    )

    def lp(k: int):
        return F.log(
            (F.col(f"m{k}").cast("double") + F.lit(1.0))
            / (F.col(f"t{k}").cast("double") + F.lit(1.0))
        )

    bleu = bp * F.exp((lp(1) + lp(2) + lp(3) + lp(4)) / F.lit(4.0))
    return m.select(
        "m1",
        "t1",
        "m2",
        "t2",
        "m3",
        "t3",
        "m4",
        "t4",
        "ref_tokens",
        F.round(bp, 6).alias("bp"),
        F.round(bleu, 6).alias("bleu"),
    )


@query(
    "eval_rouge_n",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id // 2 AS pair, doc_id % 2 AS side,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents),
    g AS (
      SELECT pair, side, n.n AS n,
             CAST(('0x' || substring(sha256(
               CASE n.n
                 WHEN 1 THEN toks[u.i]
                 ELSE toks[u.i] || ' ' || toks[u.i+1]
               END), 1, 15)) AS BIGINT) AS h
      FROM tk,
           (VALUES (1), (2)) AS n(n),
           unnest(generate_series(1, greatest(len(toks) - n.n + 1, 0))) AS u(i)),
    c AS (
      SELECT pair, n, h,
             CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_cnt,
             CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS r_cnt
      FROM g GROUP BY 1, 2, 3)
    SELECT
      CAST(SUM(CASE WHEN n = 1 THEN LEAST(c_cnt, r_cnt) ELSE 0 END) AS BIGINT) AS m1,
      CAST(SUM(CASE WHEN n = 1 THEN r_cnt ELSE 0 END) AS BIGINT) AS r1,
      CAST(SUM(CASE WHEN n = 1 THEN c_cnt ELSE 0 END) AS BIGINT) AS t1,
      CAST(SUM(CASE WHEN n = 1 THEN LEAST(c_cnt, r_cnt) ELSE 0 END) AS DOUBLE)
        / CAST(SUM(CASE WHEN n = 1 THEN r_cnt ELSE 0 END) AS DOUBLE) AS rouge1,
      CAST(SUM(CASE WHEN n = 2 THEN LEAST(c_cnt, r_cnt) ELSE 0 END) AS BIGINT) AS m2,
      CAST(SUM(CASE WHEN n = 2 THEN r_cnt ELSE 0 END) AS BIGINT) AS r2,
      CAST(SUM(CASE WHEN n = 2 THEN c_cnt ELSE 0 END) AS BIGINT) AS t2,
      CAST(SUM(CASE WHEN n = 2 THEN LEAST(c_cnt, r_cnt) ELSE 0 END) AS DOUBLE)
        / CAST(SUM(CASE WHEN n = 2 THEN r_cnt ELSE 0 END) AS DOUBLE) AS rouge2
    FROM c
    """,
)
def eval_rouge_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level ROUGE-N for N=1,2 (Lin 2004) — eval_bleu's RECALL twin
    and the summarization-eval standard (VERDICT r14 item 3): the same
    clipped n-gram matches m_n = sum over pairs of sum_g min(count_cand,
    count_ref), divided by the REFERENCE totals r_n instead of the
    candidate totals — "how much of the reference did the candidate
    cover" where BLEU asks "how much of the candidate is in the
    reference". Micro-averaged corpus-level, the multi-document form of
    Lin's per-summary definition. Emits the exact integer evidence
    (m1, r1, m2, r2 plus the candidate totals t1, t2 so precision/F1 are
    recomputable downstream) and the two recalls.

    Machinery: literally ``_pair_ngram_counts`` at n=1..2 — the SAME
    (pair, n, gram-hash) fold eval_bleu consumes at n=1..4, so the two
    metrics can never drift apart on tokenization, pairing, or hashing.
    No smoothing: unlike BLEU's ln() chain, a zero m_n is a legitimate
    recall of 0.0 — rouge_n is ONE int64/int64 double division,
    IEEE-identical across engines unrounded (no exp/ln anywhere).

    Plan at 100 TB: identical to eval_bleu minus the 3- and 4-gram
    expansion (half the explode volume): one scan-stage flatten+explode,
    ONE map-side-combined (pair, n, h) groupBy, one 1-row fold.
    """
    c = _pair_ngram_counts(spark, sf_dir, (1, 2))
    aggs = []
    for k in (1, 2):
        is_k = F.col("n") == k
        aggs += [
            F.sum(F.when(is_k, F.least("c_cnt", "r_cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"m{k}"),
            F.sum(F.when(is_k, F.col("r_cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"r{k}"),
            F.sum(F.when(is_k, F.col("c_cnt")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"t{k}"),
        ]
    m = c.agg(*aggs)
    return m.select(
        "m1",
        "r1",
        "t1",
        (F.col("m1").cast("double") / F.col("r1").cast("double")).alias("rouge1"),
        "m2",
        "r2",
        "t2",
        (F.col("m2").cast("double") / F.col("r2").cast("double")).alias("rouge2"),
    )


def _pair_chargram_counts(spark: SparkSession, sf_dir: str, ks: tuple) -> DataFrame:
    """Character-n-gram sibling of ``_pair_ngram_counts``: per (pair, n,
    gram-hash), candidate- and reference-side occurrence counts over
    WHITESPACE-STRIPPED text (the chrF convention — Popović 2015 scores
    character n-grams of the de-spaced string so tokenization never enters).
    Same key discipline: grams hash to the sha256 60-bit slice so only
    int64 keys cross the exchange; the n-gram expansion is one in-row
    transform+flatten+explode in the scan stage."""
    s = F.regexp_replace(F.col("text"), r"\s+", "").alias("s")
    return _pair_gram_counts(spark, sf_dir, ks, s, tagged_char_grams)


@query(
    "eval_chrf",
    oracle=r"""
    WITH ck AS (
      SELECT doc_id // 2 AS pair, doc_id % 2 AS side,
             regexp_replace(text, '\s+', '', 'g') AS s
      FROM documents),
    g AS (
      SELECT pair, side, n.n AS n,
             CAST(('0x' || substring(sha256(substring(s, u.i, n.n)), 1, 15))
               AS BIGINT) AS h
      FROM ck,
           (VALUES (1), (2), (3), (4), (5), (6)) AS n(n),
           unnest(generate_series(1, greatest(length(s) - n.n + 1, 0))) AS u(i)),
    c AS (
      SELECT pair, n, h,
             CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_cnt,
             CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS r_cnt
      FROM g GROUP BY 1, 2, 3),
    m AS (
      SELECT n,
             CAST(SUM(LEAST(c_cnt, r_cnt)) AS BIGINT) AS m,
             CAST(SUM(c_cnt) AS BIGINT) AS t,
             CAST(SUM(r_cnt) AS BIGINT) AS r
      FROM c GROUP BY n),
    w AS (
      SELECT
        MAX(CASE WHEN n = 1 THEN m END) AS m1, MAX(CASE WHEN n = 1 THEN t END) AS t1,
        MAX(CASE WHEN n = 1 THEN r END) AS r1,
        MAX(CASE WHEN n = 2 THEN m END) AS m2, MAX(CASE WHEN n = 2 THEN t END) AS t2,
        MAX(CASE WHEN n = 2 THEN r END) AS r2,
        MAX(CASE WHEN n = 3 THEN m END) AS m3, MAX(CASE WHEN n = 3 THEN t END) AS t3,
        MAX(CASE WHEN n = 3 THEN r END) AS r3,
        MAX(CASE WHEN n = 4 THEN m END) AS m4, MAX(CASE WHEN n = 4 THEN t END) AS t4,
        MAX(CASE WHEN n = 4 THEN r END) AS r4,
        MAX(CASE WHEN n = 5 THEN m END) AS m5, MAX(CASE WHEN n = 5 THEN t END) AS t5,
        MAX(CASE WHEN n = 5 THEN r END) AS r5,
        MAX(CASE WHEN n = 6 THEN m END) AS m6, MAX(CASE WHEN n = 6 THEN t END) AS t6,
        MAX(CASE WHEN n = 6 THEN r END) AS r6
      FROM m),
    f AS (
      SELECT *,
        ((CASE WHEN t1 = 0 THEN 0.0 ELSE CAST(m1 AS DOUBLE) / CAST(t1 AS DOUBLE) END
        + CASE WHEN t2 = 0 THEN 0.0 ELSE CAST(m2 AS DOUBLE) / CAST(t2 AS DOUBLE) END
        + CASE WHEN t3 = 0 THEN 0.0 ELSE CAST(m3 AS DOUBLE) / CAST(t3 AS DOUBLE) END
        + CASE WHEN t4 = 0 THEN 0.0 ELSE CAST(m4 AS DOUBLE) / CAST(t4 AS DOUBLE) END
        + CASE WHEN t5 = 0 THEN 0.0 ELSE CAST(m5 AS DOUBLE) / CAST(t5 AS DOUBLE) END
        + CASE WHEN t6 = 0 THEN 0.0 ELSE CAST(m6 AS DOUBLE) / CAST(t6 AS DOUBLE) END)
         / 6.0) AS chrp_u,
        ((CASE WHEN r1 = 0 THEN 0.0 ELSE CAST(m1 AS DOUBLE) / CAST(r1 AS DOUBLE) END
        + CASE WHEN r2 = 0 THEN 0.0 ELSE CAST(m2 AS DOUBLE) / CAST(r2 AS DOUBLE) END
        + CASE WHEN r3 = 0 THEN 0.0 ELSE CAST(m3 AS DOUBLE) / CAST(r3 AS DOUBLE) END
        + CASE WHEN r4 = 0 THEN 0.0 ELSE CAST(m4 AS DOUBLE) / CAST(r4 AS DOUBLE) END
        + CASE WHEN r5 = 0 THEN 0.0 ELSE CAST(m5 AS DOUBLE) / CAST(r5 AS DOUBLE) END
        + CASE WHEN r6 = 0 THEN 0.0 ELSE CAST(m6 AS DOUBLE) / CAST(r6 AS DOUBLE) END)
         / 6.0) AS chrr_u
      FROM w)
    SELECT m1, t1, r1, m2, t2, r2, m3, t3, r3,
           m4, t4, r4, m5, t5, r5, m6, t6, r6,
           ROUND(chrp_u, 6) AS chrp,
           ROUND(chrr_u, 6) AS chrr,
           ROUND(CASE WHEN 4.0 * chrp_u + chrr_u = 0.0 THEN 0.0
                      ELSE 5.0 * chrp_u * chrr_u
                           / (4.0 * chrp_u + chrr_u) END, 6) AS chrf
    FROM f
    """,
)
def eval_chrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level chrF (Popović 2015, β=2, character n=1..6) — the
    tokenization-free member of the generated-text-eval trio: BLEU scores
    token-precision, ROUGE token-recall, chrF scores CHARACTER n-gram
    overlap of the whitespace-stripped strings, so it is robust to
    tokenizer and word-segmentation choices (the reason it is the WMT
    metric-task baseline). Same corpus pairing (candidate = doc 2k+1,
    reference = doc 2k); micro-averaged: per order n, corpus precision
    P_n = m_n/t_n and recall R_n = m_n/r_n from clipped matches; chrP/chrR
    average the six orders (the sacrebleu convention — average P and R
    across orders, THEN combine); chrF = (1+β²)·P·R/(β²·P+R) with β=2.
    Emits the exact integer evidence (m/t/r per order) plus chrp/chrr/chrf.

    Exactness: all counts are exact integers off one (pair, n, gram-hash)
    fold (``_pair_chargram_counts`` — the eval_bleu fold at character
    grain); each P_n/R_n is one int64/int64 division (IEEE-identical),
    the 6-term averages are FIXED-ORDER chains written identically on
    both engines (never a reorderable SUM), and the closing harmonic
    combine is plain *,/ arithmetic — ROUND-6 on the three emitted
    doubles per house convention. Zero-guards: an order with no
    candidate (resp. reference) grams contributes P_n = 0 (resp.
    R_n = 0), sacrebleu's effective behavior.

    Plan at 100 TB: identical topology to eval_bleu — the 6-order
    char-gram expansion is one in-row transform+flatten+explode in the
    scan stage (~6x char volume — bounded, no join), ONE map-side-
    combined groupBy on (pair, n, h) where both sides' counts are
    conditional sums (pairing lives in the key, no cand-vs-ref join),
    a ≤6-row per-n fold, then a 1-row finish. Nothing quadratic,
    nothing collects.
    """
    c = _pair_chargram_counts(spark, sf_dir, (1, 2, 3, 4, 5, 6))
    per_n = c.groupBy("n").agg(
        F.sum(F.least("c_cnt", "r_cnt")).cast("long").alias("m"),
        F.sum("c_cnt").cast("long").alias("t"),
        F.sum("r_cnt").cast("long").alias("r"),
    )
    w = per_n.agg(
        *[
            F.max(F.when(F.col("n") == k, F.col(col))).alias(f"{col}{k}")
            for k in (1, 2, 3, 4, 5, 6)
            for col in ("m", "t", "r")
        ]
    )

    def ratio(mc: str, dc: str):
        return F.when(F.col(dc) == 0, F.lit(0.0)).otherwise(
            F.col(mc).cast("double") / F.col(dc).cast("double")
        )

    chrp_u = (
        ratio("m1", "t1") + ratio("m2", "t2") + ratio("m3", "t3")
        + ratio("m4", "t4") + ratio("m5", "t5") + ratio("m6", "t6")
    ) / F.lit(6.0)
    chrr_u = (
        ratio("m1", "r1") + ratio("m2", "r2") + ratio("m3", "r3")
        + ratio("m4", "r4") + ratio("m5", "r5") + ratio("m6", "r6")
    ) / F.lit(6.0)
    w = w.withColumn("chrp_u", chrp_u).withColumn("chrr_u", chrr_u)
    denom = F.lit(4.0) * F.col("chrp_u") + F.col("chrr_u")
    chrf = F.when(denom == 0.0, F.lit(0.0)).otherwise(
        F.lit(5.0) * F.col("chrp_u") * F.col("chrr_u") / denom
    )
    return w.select(
        *[f"{col}{k}" for k in (1, 2, 3, 4, 5, 6) for col in ("m", "t", "r")],
        F.round(F.col("chrp_u"), 6).alias("chrp"),
        F.round(F.col("chrr_u"), 6).alias("chrr"),
        F.round(chrf, 6).alias("chrf"),
    )


@query(
    "eval_token_f1",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id // 2 AS pair, doc_id % 2 AS side,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents),
    g AS (
      SELECT pair, side,
             CAST(('0x' || substring(sha256(toks[u.i]), 1, 15)) AS BIGINT) AS h
      FROM tk, unnest(generate_series(1, len(toks))) AS u(i)),
    c AS (
      SELECT pair, h,
             CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_cnt,
             CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS r_cnt
      FROM g GROUP BY 1, 2),
    p AS (
      SELECT pair,
             CAST(SUM(LEAST(c_cnt, r_cnt)) AS BIGINT) AS m,
             CAST(SUM(c_cnt) AS BIGINT) AS tc,
             CAST(SUM(r_cnt) AS BIGINT) AS tr
      FROM c GROUP BY 1),
    terms AS (
      SELECT pair, m, tc, tr,
        CASE WHEN tc = 0 THEN CAST(0 AS HUGEINT)
             ELSE CAST(m AS HUGEINT) * 1000000000000 // tc END AS p_i,
        CASE WHEN tr = 0 THEN CAST(0 AS HUGEINT)
             ELSE CAST(m AS HUGEINT) * 1000000000000 // tr END AS r_i,
        CAST(2 * m AS HUGEINT) * 1000000000000 // (tc + tr) AS f_i
      FROM p)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(m) AS BIGINT) AS m_tot,
           CAST(SUM(tc) AS BIGINT) AS cand_tokens,
           CAST(SUM(tr) AS BIGINT) AS ref_tokens,
           ROUND(CAST(SUM(p_i) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0), 6)
             AS macro_precision,
           ROUND(CAST(SUM(r_i) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0), 6)
             AS macro_recall,
           ROUND(CAST(SUM(f_i) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0), 6)
             AS macro_f1
    FROM terms
    """,
)
def eval_token_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro-averaged token-overlap F1 (the SQuAD/reading-comprehension
    answer metric, Rajpurkar 2016) — the PER-PAIR member of the
    generated-text family: BLEU/ROUGE/chrF are corpus-micro (one giant
    count fold — a few long pairs dominate), token-F1 scores EVERY pair
    on its own bag-of-tokens overlap and averages the per-pair scores,
    so each (candidate, reference) pair carries equal weight — the
    convention QA and instruction-following evals actually report. Per
    pair: clipped unigram matches m, candidate/reference token totals
    tc/tr; precision m/tc, recall m/tr, and F1 = 2m/(tc+tr) (the
    harmonic identity — no p,r intermediate needed). Emits n_pairs and
    the exact corpus totals so micro variants recompute downstream.

    Exactness: the macro means are reorderable sums of per-pair RATIOS,
    so each ratio is folded as the exact pico-scaled integer
    (x·10^12) div denom in DECIMAL(38,0)/HUGEINT (truncation mirrors
    `div` vs `//` on both engines — the eval_average_precision
    convention), making the fold order-independent by construction;
    ONE division and ROUND-6 close each metric. Zero-guards: a pair
    missing one side folds p/r as 0; tc+tr >= 1 always under the
    house tokenization (an empty doc is one ''-token).

    Plan at 100 TB: the unigram slice of the eval_bleu topology — one
    scan-stage explode, ONE map-side-combined (pair, h) groupBy, a
    per-pair fold at |pairs| rows (map-side combined again), then a
    1-row finish. No joins, nothing collects; pico-int64 capacity
    holds to 9e6 pairs in int64 but the fold runs in decimal(38,0),
    exact past any real corpus.
    """
    c = _pair_ngram_counts(spark, sf_dir, (1,))
    p = c.groupBy("pair").agg(
        F.sum(F.least("c_cnt", "r_cnt")).cast("long").alias("m"),
        F.sum("c_cnt").cast("long").alias("tc"),
        F.sum("r_cnt").cast("long").alias("tr"),
    )
    pico = F.lit(1000000000000).cast("decimal(38,0)")
    p = (
        p.withColumn("p_num", F.col("m").cast("decimal(38,0)") * pico)
        .withColumn("f_num", F.lit(2).cast("decimal(38,0)") * F.col("m") * pico)
        .withColumn("f_den", (F.col("tc") + F.col("tr")).cast("decimal(38,0)"))
    )
    terms = p.select(
        "m",
        "tc",
        "tr",
        F.when(F.col("tc") == 0, F.lit(0).cast("decimal(38,0)"))
        .otherwise(F.expr("p_num div cast(tc as decimal(38,0))").cast("decimal(38,0)"))
        .alias("p_i"),
        F.when(F.col("tr") == 0, F.lit(0).cast("decimal(38,0)"))
        .otherwise(F.expr("p_num div cast(tr as decimal(38,0))").cast("decimal(38,0)"))
        .alias("r_i"),
        F.expr("f_num div f_den").cast("decimal(38,0)").alias("f_i"),
    )
    f = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("m").cast("long").alias("m_tot"),
        F.sum("tc").cast("long").alias("cand_tokens"),
        F.sum("tr").cast("long").alias("ref_tokens"),
        F.sum("p_i").alias("p_sum"),
        F.sum("r_i").alias("r_sum"),
        F.sum("f_i").alias("f_sum"),
    )
    scale = F.col("n_pairs").cast("double") * F.lit(1000000000000.0)
    return f.select(
        "n_pairs",
        "m_tot",
        "cand_tokens",
        "ref_tokens",
        F.round(F.col("p_sum").cast("double") / scale, 6).alias("macro_precision"),
        F.round(F.col("r_sum").cast("double") / scale, 6).alias("macro_recall"),
        F.round(F.col("f_sum").cast("double") / scale, 6).alias("macro_f1"),
    )


@query(
    "eval_distinct_n",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id // 2 AS pair, doc_id % 2 AS side,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents),
    g AS (
      SELECT pair, side, n.n AS n,
             CAST(('0x' || substring(sha256(
               CASE n.n WHEN 1 THEN toks[u.i]
                        ELSE toks[u.i] || ' ' || toks[u.i+1] END), 1, 15))
               AS BIGINT) AS h
      FROM tk,
           (VALUES (1), (2)) AS n(n),
           unnest(generate_series(1, greatest(len(toks) - n.n + 1, 0))) AS u(i)
      WHERE side = 1)
    SELECT
      CAST(COUNT(DISTINCT CASE WHEN n = 1 THEN h END) AS BIGINT) AS d1,
      CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
      CASE WHEN SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) = 0 THEN 0.0
           ELSE CAST(COUNT(DISTINCT CASE WHEN n = 1 THEN h END) AS DOUBLE)
                / CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) END
        AS distinct_1,
      CAST(COUNT(DISTINCT CASE WHEN n = 2 THEN h END) AS BIGINT) AS d2,
      CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS t2,
      CASE WHEN SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) = 0 THEN 0.0
           ELSE CAST(COUNT(DISTINCT CASE WHEN n = 2 THEN h END) AS DOUBLE)
                / CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS DOUBLE) END
        AS distinct_2
    FROM g
    """,
)
def eval_distinct_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1 / distinct-2 generation-diversity ratios (Li et al.
    2016) over the CANDIDATE side of the eval pairing — the degeneracy
    monitor every generation eval runs next to BLEU/ROUGE/chrF: a model
    that beam-collapses onto stock phrases scores fine on overlap
    metrics while distinct-n craters. distinct_n = |unique n-grams
    across all candidates| / total n-gram tokens across all candidates,
    n=1,2; the exact integer numerators/denominators are emitted.

    Exactness: both terms are exact integers off the same scan-stage
    n-gram expansion (candidate side only — reference docs are filtered
    before the explode, so they never leave the scan); grams hash to
    the sha256 60-bit slice (distinct-counting hashes, the
    text_ngram_novelty convention — collision odds ~t²/2^61, negligible
    at any testable SF and one-in-a-million at 10^12 grams); each ratio
    is ONE int64/int64 double division, IEEE-identical unrounded.

    Plan at 100 TB: one scan + explode over HALF the corpus (the side
    filter runs in the scan stage, before the n-gram expansion — the
    reference volume never explodes or shuffles), ONE hash aggregate
    to distinct (n, h) grain with a map-side partial (the COUNT
    DISTINCT expand is 2 n-values wide, constant), 1-row finish. No
    joins, no windows, nothing collects.
    """
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    base = spread_small_scan(d).select(ws_tokens("text").alias("toks"))
    toks = F.col("toks")
    g = base.select(
        F.explode(
            F.flatten(F.array(tagged_word_grams(toks, 1), tagged_word_grams(toks, 2)))
        ).alias("ng")
    ).select(F.col("ng.n").alias("n"), gram_key("ng.g").alias("h"))
    f = g.agg(
        F.countDistinct(F.when(F.col("n") == 1, F.col("h"))).cast("long").alias("d1"),
        F.count(F.when(F.col("n") == 1, F.lit(1))).cast("long").alias("t1"),
        F.countDistinct(F.when(F.col("n") == 2, F.col("h"))).cast("long").alias("d2"),
        F.count(F.when(F.col("n") == 2, F.lit(1))).cast("long").alias("t2"),
    )

    def ratio(dc: str, tc: str):
        return F.when(F.col(tc) == 0, F.lit(0.0)).otherwise(
            F.col(dc).cast("double") / F.col(tc).cast("double")
        )

    return f.select(
        "d1",
        "t1",
        ratio("d1", "t1").alias("distinct_1"),
        "d2",
        "t2",
        ratio("d2", "t2").alias("distinct_2"),
    )


@query(
    "eval_cer",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id // 2 AS pair, doc_id % 2 AS side, trim(text) AS t
      FROM documents),
    p AS (
      SELECT pair,
             MAX(CASE WHEN side = 1 THEN t END) AS cand,
             MAX(CASE WHEN side = 0 THEN t END) AS ref
      FROM tk GROUP BY 1
      HAVING MAX(CASE WHEN side = 1 THEN t END) IS NOT NULL
         AND MAX(CASE WHEN side = 0 THEN t END) IS NOT NULL),
    e AS (
      SELECT CAST(levenshtein(cand, ref) AS BIGINT) AS edits,
             CAST(length(ref) AS BIGINT) AS ref_len,
             CAST(length(cand) AS BIGINT) AS cand_len
      FROM p),
    terms AS (
      SELECT edits, ref_len, cand_len,
             CAST(edits AS HUGEINT) * 1000000000000
               // greatest(ref_len, 1) AS c_i
      FROM e)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(edits) AS BIGINT) AS total_edits,
           CAST(SUM(ref_len) AS BIGINT) AS ref_chars,
           CAST(SUM(cand_len) AS BIGINT) AS cand_chars,
           CASE WHEN SUM(ref_len) = 0 THEN 0.0
                ELSE ROUND(CAST(SUM(edits) AS DOUBLE)
                           / CAST(SUM(ref_len) AS DOUBLE), 6) END AS cer_micro,
           ROUND(CAST(SUM(c_i) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0), 6)
             AS cer_macro
    FROM terms
    """,
)
def eval_cer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character error rate (the ASR/OCR transcription metric: WER's
    character-grain sibling, normalized Levenshtein distance) — the
    EDIT-DISTANCE member of the generated-text eval family. BLEU/ROUGE/
    chrF/token-F1 are all bag-or-n-gram overlap metrics: they cannot see
    ORDER errors inside an n-gram window or charge for transpositions;
    CER = edits / reference-length is the alignment-cost view every
    speech/OCR pipeline reports. Same corpus pairing as the rest of the
    family (doc 2k+1 = candidate, doc 2k = reference, trimmed text);
    emits corpus-micro CER (total edits / total reference chars), the
    per-pair macro mean, and the exact integer totals.

    Exactness: edit counts and lengths are exact integers; micro CER is
    ONE int64/int64 division + ROUND-6. The macro mean is a reorderable
    sum of per-pair ratios, folded as exact pico-scaled integers
    (edits*10^12 div max(ref_len, 1)) in DECIMAL(38,0)/HUGEINT — the
    eval_token_f1 discipline — so the fold is order-independent; one
    division and ROUND-6 close it. CONTRACT (probe-pinned): the oracle
    equality holds on ASCII text — DuckDB's levenshtein counts BYTES
    where Spark's counts codepoints, so multi-byte characters diverge
    ('héllo'->'hallo' is 1 edit on Spark, 2 on DuckDB); the synthetic
    corpus is pure ASCII, and a non-ASCII deployment needs a bytes-vs-
    chars decision, not a silent one. Zero-guards: a pair missing either
    side is excluded on both engines (no text to align); an empty
    reference folds against max(ref_len, 1).

    Plan at 100 TB: one scan, ONE (pair) groupBy carrying the paired
    texts (the only data-sized exchange — map-side partial MAX), then
    the O(|cand|*|ref|) Levenshtein DP runs INSIDE the post-shuffle
    project, embarrassingly parallel, no joins, no Python, 1-row finish.
    The per-pair cost is quadratic in document length by nature of the
    metric — it is meant for transcript-scale text; cap pathological doc
    lengths upstream (the corpus-prep length gates) before pointing it
    at arbitrary web documents.
    """
    d = table(spark, sf_dir, "documents")
    tk = spread_small_scan(d).select(
        F.floor(F.col("doc_id") / 2).cast("long").alias("pair"),
        (F.col("doc_id") % 2).cast("int").alias("side"),
        F.trim(F.col("text")).alias("t"),
    )
    p = (
        tk.groupBy("pair")
        .agg(
            F.max(F.when(F.col("side") == 1, F.col("t"))).alias("cand"),
            F.max(F.when(F.col("side") == 0, F.col("t"))).alias("ref"),
        )
        .filter(F.col("cand").isNotNull() & F.col("ref").isNotNull())
    )
    # r16 (guide §1.2: don't compute what you can prove): levenshtein(x, x)
    # is 0 by definition, so identical pairs — common in real eval corpora
    # (unchanged transcriptions) — skip the O(|cand|*|ref|) DP behind a
    # codegen'd equality check. The equality scan is O(min(len)) with early
    # exit; the non-equal branch is the exact same built-in as before, so
    # every emitted integer is unchanged.
    # The testdata holds none: 0 identical pairs of 2,500 (measured).
    e = p.select(
        F.when(F.col("cand") == F.col("ref"), F.lit(0))
        .otherwise(F.levenshtein("cand", "ref"))
        .cast("long")
        .alias("edits"),
        F.length("ref").cast("long").alias("ref_len"),
        F.length("cand").cast("long").alias("cand_len"),
    )
    terms = e.withColumn(
        "c_i",
        F.expr(
            "cast(edits as decimal(38,0)) * cast(1000000000000 as decimal(38,0))"
            " div cast(greatest(ref_len, 1) as decimal(38,0))"
        ).cast("decimal(38,0)"),
    )
    f = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("edits").cast("long").alias("total_edits"),
        F.sum("ref_len").cast("long").alias("ref_chars"),
        F.sum("cand_len").cast("long").alias("cand_chars"),
        F.sum("c_i").alias("c_sum"),
    )
    return f.select(
        "n_pairs",
        "total_edits",
        "ref_chars",
        "cand_chars",
        F.when(F.col("ref_chars") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("total_edits").cast("double") / F.col("ref_chars").cast("double"),
                6,
            )
        )
        .alias("cer_micro"),
        F.round(
            F.col("c_sum").cast("double")
            / (F.col("n_pairs").cast("double") * F.lit(1000000000000.0)),
            6,
        ).alias("cer_macro"),
    )


@query(
    "bpe_merge_candidates",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id, toks[i] AS left_tok, toks[i + 1] AS right_tok
      FROM t, unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS u(i)
    )
    SELECT left_tok, right_tok,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM bg
    GROUP BY left_tok, right_tok
    ORDER BY n_pairs DESC, left_tok, right_tok
    LIMIT 50
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style merge candidates: the 50 most frequent ADJACENT token
    pairs across the corpus — exactly the statistic a byte-pair-encoding
    trainer computes each merge round (vocab_top_terms seeds the vocab;
    this ranks the merges).

    Adjacency comes from a transform over the token array (pair i with
    i+1) — an array expression inside the scan stage, NO positional
    self-join and no window: the per-doc sequence never shuffles, only
    the (pair -> count) aggregate does, with map-side partial counts.
    That locality is what makes iterated BPE rounds feasible at corpus
    scale; the full trainer loops this query, rewriting token arrays
    after each merge (same plan shape every round).
    """
    d = table(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    t = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 2)
    bgarr = word_ngrams(F.array_join("toks", " "), 2)
    bg = t.select("doc_id", F.explode_outer(bgarr).alias("b")).select(
        "doc_id", *split_pair("b", "left_tok", "right_tok")
    )
    return (
        bg.groupBy("left_tok", "right_tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
        )
        .orderBy(F.col("n_pairs").desc(), "left_tok", "right_tok")
        .limit(50)
    )


@query(
    "text_chunk_windows",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             CAST((i - 1) / 64 AS BIGINT) AS chunk_id,
             toks[i:i+127] AS chunk_toks
      FROM t, unnest(generate_series(1, len(toks), 64)) AS u(i)
    )
    SELECT doc_id, chunk_id,
           CAST(len(chunk_toks) AS INTEGER) AS n_tokens,
           array_to_string(chunk_toks, ' ') AS chunk_text
    FROM c
    WHERE len(chunk_toks) >= 16
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: 128-token chunks, stride 64 (50%
    overlap), runts under 16 tokens dropped — the op that turns a corpus
    into fixed-context training samples.

    Pure array expressions (sequence of starts -> transform+slice ->
    explode): the 1->N expansion happens INSIDE the scan stage with no
    shuffle at all — chunking 100 TB is embarrassingly parallel and this
    plan keeps it that way (the only exchange is whatever the consumer
    adds). Chunk text is reassembled with a single array_join; chunk_id
    is derived from the start offset, so output is deterministic without
    any window function.
    """
    d = table(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    t = d.select("doc_id", toks.alias("toks"))
    starts = F.sequence(F.lit(1), F.size("toks"), F.lit(64))
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            ((i - 1) / 64).cast("long").alias("chunk_id"),
            F.slice(F.col("toks"), i.cast("int"), 128).alias("chunk_toks"),
        ),
    )
    c = t.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_id", "c.chunk_toks"
    )
    return c.filter(F.size("chunk_toks") >= 16).select(
        "doc_id",
        "chunk_id",
        F.size("chunk_toks").alias("n_tokens"),
        F.array_join("chunk_toks", " ").alias("chunk_text"),
    )


@query(
    "corpus_diversity_gini",
    oracle="""
    WITH c AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY source, lang
    ),
    tot AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS total,
             CAST(SUM(n * n) AS BIGINT) AS sum_sq
      FROM c GROUP BY source
    )
    SELECT source, total,
           1.0 - sum_sq * 1.0 / (total * total) AS gini_impurity,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c WHERE c.source = tot.source)
             AS n_langs
    FROM tot
    """,
)
def corpus_diversity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition diversity: per-source Gini impurity of the
    language mix (1 - sum p_i^2), plus language count — the balance
    metric a data-mixture audit reports per shard/source.

    Gini is chosen over Shannon entropy DELIBERATELY: entropy needs
    log(), whose last-ulp behavior differs between libm implementations,
    while Gini is a ratio of exact integer sums (sum n_i^2 / N^2) — one
    double division, hash-exact on both engines, same diversity ordering.
    Two tiny aggregates over one scan; everything after the first groupBy
    is |sources| x |langs| rows.
    """
    d = table(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = c.groupBy("source").agg(
        F.sum("n").cast("long").alias("total"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_sq"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
    )
    return tot.select(
        "source",
        "total",
        (1.0 - F.col("sum_sq") * 1.0 / (F.col("total") * F.col("total"))).alias(
            "gini_impurity"
        ),
        "n_langs",
    )


@query(
    "text_gopher_rules",
    oracle=f"""
    WITH {_TOKS_CTE},
    s AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(len(tok)) AS BIGINT) AS sum_len,
             CAST(SUM(CASE WHEN regexp_matches(tok, '^[a-z]+$')
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
             CAST(COUNT(DISTINCT CASE WHEN tok IN
               ('the','a','of','to','and','in') THEN tok END) AS BIGINT)
               AS n_stop
      FROM tok GROUP BY doc_id)
    SELECT doc_id, n_tokens, sum_len, n_alpha, n_stop,
           n_tokens BETWEEN 10 AND 100000 AS rule_len,
           sum_len BETWEEN 3 * n_tokens AND 10 * n_tokens AS rule_wordlen,
           5 * n_alpha >= 4 * n_tokens AS rule_alpha,
           n_stop >= 2 AS rule_stop,
           (n_tokens BETWEEN 10 AND 100000)
             AND (sum_len BETWEEN 3 * n_tokens AND 10 * n_tokens)
             AND (5 * n_alpha >= 4 * n_tokens)
             AND (n_stop >= 2) AS passes
    FROM s
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality ruleset: length bounds, mean word
    length in [3,10], >= 80% alphabetic tokens, >= 2 distinct stopwords.

    Every rule is an integer inequality (mean word length as the
    cross-multiplied 3n <= sum_len <= 10n, the alpha ratio as 5*n_alpha >=
    4*n) — no float appears anywhere, so the gate is bit-deterministic and
    cheap: one explode, one map-side-combined aggregation, zero joins.
    Complements text_repetition (token-concentration rules) to complete the
    Gopher filter family over the corpus.
    """
    d = table(spark, sf_dir, "documents")
    t = _tokens(d)
    s = t.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.length("tok")).cast("long").alias("sum_len"),
        F.sum(F.col("tok").rlike("^[a-z]+$").cast("int")).cast("long").alias("n_alpha"),
        F.count_distinct(
            F.when(
                F.col("tok").isin("the", "a", "of", "to", "and", "in"), F.col("tok")
            )
        )
        .cast("long")
        .alias("n_stop"),
    )
    n, sl, na, ns = (F.col(c) for c in ("n_tokens", "sum_len", "n_alpha", "n_stop"))
    rule_len = n.between(10, 100000)
    rule_wordlen = sl.between(3 * n, 10 * n)
    rule_alpha = 5 * na >= 4 * n
    rule_stop = ns >= 2
    return s.select(
        "doc_id",
        "n_tokens",
        "sum_len",
        "n_alpha",
        "n_stop",
        rule_len.alias("rule_len"),
        rule_wordlen.alias("rule_wordlen"),
        rule_alpha.alias("rule_alpha"),
        rule_stop.alias("rule_stop"),
        (rule_len & rule_wordlen & rule_alpha & rule_stop).alias("passes"),
    )


def _corpus_prep_oracle() -> str:
    from wri_data_processing_spark.queries.llm_dedup import _PAIRS_CTES

    pairs = _PAIRS_CTES.replace("FROM documents", "FROM surv")
    return rf"""
    WITH RECURSIVE base AS (
      SELECT doc_id, source, n_chars, text,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
             0.4 * least(len(regexp_split_to_array(trim(text), '\s+')) / 50.0, 1.0)
               + 0.3 * (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                        * 1.0 / greatest(length(text), 1))
               + 0.3 * least(length(text) / 200.0, 1.0) AS quality
      FROM documents
      WHERE lang = 'en' AND source <> 'src0'
    ),
    q AS (SELECT * FROM base WHERE quality >= 0.5),
    ex AS (SELECT fp, MIN(doc_id) AS keeper FROM q GROUP BY fp),
    surv AS (
      SELECT q.doc_id, q.source, q.n_chars, q.text
      FROM q JOIN ex ON q.fp = ex.fp AND q.doc_id = ex.keeper
    ),
    {pairs},
    e2 AS (SELECT doc_a AS a, doc_b AS b FROM jac
           UNION SELECT doc_b, doc_a FROM jac),
    nodes AS (SELECT DISTINCT a AS n FROM e2),
    reach(n, m) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT r.n, e.b FROM reach r JOIN e2 e ON r.m = e.a
    ),
    comp AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n),
    nd_drop AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id),
    rem AS (SELECT s.* FROM surv s
            WHERE NOT EXISTS (SELECT 1 FROM nd_drop d WHERE d.doc_id = s.doc_id)),
    bt AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
           FROM documents WHERE source = 'src0'),
    bsh AS (SELECT DISTINCT toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   || ' ' || toks[i+3] AS shingle
            FROM bt, unnest(generate_series(1, greatest(len(toks) - 3, 0))) u(i)),
    rt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM rem),
    rsh AS (SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   || ' ' || toks[i+3] AS shingle
            FROM rt, unnest(generate_series(1, greatest(len(toks) - 3, 0))) u(i)),
    contam AS (SELECT DISTINCT rsh.doc_id FROM rsh JOIN bsh USING (shingle)),
    kept AS (SELECT r.doc_id FROM rem r
             WHERE NOT EXISTS (SELECT 1 FROM contam c WHERE c.doc_id = r.doc_id))
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_input,
           CAST(COUNT(*) FILTER (WHERE b.quality < 0.5) AS BIGINT) AS n_quality_drop,
           CAST(COUNT(*) FILTER (WHERE b.quality >= 0.5 AND b.doc_id <> ex2.keeper)
                AS BIGINT) AS n_exact_drop,
           CAST(COUNT(*) FILTER (WHERE nd.doc_id IS NOT NULL) AS BIGINT) AS n_neardup_drop,
           CAST(COUNT(*) FILTER (WHERE ct.doc_id IS NOT NULL) AS BIGINT) AS n_contam_drop,
           CAST(COUNT(*) FILTER (WHERE kp.doc_id IS NOT NULL) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(b.n_chars) FILTER (WHERE kp.doc_id IS NOT NULL), 0)
                AS BIGINT) AS kept_chars
    FROM base b
    LEFT JOIN ex ex2 ON b.fp = ex2.fp
    LEFT JOIN nd_drop nd ON nd.doc_id = b.doc_id
    LEFT JOIN contam ct ON ct.doc_id = b.doc_id
    LEFT JOIN kept kp ON kp.doc_id = b.doc_id
    GROUP BY b.source
    ORDER BY b.source
    """


@query("corpus_prep_pipeline", oracle=_corpus_prep_oracle())
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""The full training-data preparation pipeline as ONE composed engine
    program, with per-source drop attribution: language filter -> quality
    gate -> exact dedup (keep-first) -> near-dup CLUSTER resolution (3-gram
    Jaccard pairs -> connected components -> keep cluster min) ->
    benchmark decontamination (shared word-4-gram vs the held-out 'src0'
    set) -> per-source report of every document's fate.

    Each stage reuses the exact arithmetic of its standalone operator
    (pipeline_clean_corpus's quality score and fingerprint, dedup_ngram's
    posting-list pairs and _MAX_DF cap, dedup_clusters' label propagation,
    contamination_flag's broadcast shingle semi-join), so the composed
    oracle is the standalone oracles chained — and the output partitions:
    n_input = n_quality_drop + n_exact_drop + n_neardup_drop +
    n_contam_drop + n_kept per source (asserted in tests).

    Scale shape: the quality/fingerprint scoring fuses into the scan; the
    corpus shuffles once for the exact-dedup agg and once for the posting
    join (both on digest/hashed keys, never text); components run the
    pointer-jumping rounds on the (tiny) near-dup edge list; the benchmark
    shingle set broadcasts. The post-filter survivor frame is checkpointed
    once — it is the pipeline's working set and every stage reads it.

    Collision caveat (ADVICE r5, mirrors contamination_flag): the
    decontamination stage compares word-4-gram shingles as xxhash64 longs on
    BOTH engines, so equivalence with the oracle holds modulo 64-bit hash
    collisions — a collision between distinct shingles would flag an extra
    document and shift the fate counts. At the testdata's ~10^5 distinct
    shingles the birthday bound puts a collision below ~10^-9; a deployment
    that cannot tolerate it swaps in the 16-hex sha2 key scheme the
    substring family uses (at double the shuffle-key width).
    """
    from wri_data_processing_spark.queries.llm_dedup import (
        _jaccard_pairs,
        _shingles_hashed,
        _word_ngram_hashes,
        propagate_min_labels,
    )

    d = table(spark, sf_dir, "documents")
    fp, quality = fingerprint(F.col("text")), quality_score(F.col("text"))
    base = (
        d.filter((F.col("lang") == "en") & (F.col("source") != "src0"))
        .select("doc_id", "source", "n_chars", "text", fp.alias("fp"), quality.alias("quality"))
        .localCheckpoint()
    )
    q = base.filter(F.col("quality") >= 0.5)
    ex = q.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    surv = (
        q.join(ex, "fp")
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "source", "n_chars", "text")
        .localCheckpoint()
    )
    pairs = (
        _jaccard_pairs(_shingles_hashed(surv, 3)).select("doc_a", "doc_b").localCheckpoint()
    )
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .localCheckpoint()
    )
    labels, _rounds = propagate_min_labels(edges)
    nd_drop = labels.filter(F.col("node") != F.col("lbl")).select(
        F.col("node").alias("doc_id")
    )
    rem = surv.join(nd_drop, "doc_id", "left_anti")

    bench = (
        _word_ngram_hashes(d.filter(F.col("source") == "src0"), 4)
        .distinct()
    )
    contam = (
        _word_ngram_hashes(rem.select("doc_id", "text"), 4, "doc_id")
        .join(F.broadcast(bench), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    kept = rem.join(contam, "doc_id", "left_anti").select("doc_id")

    marked = (
        base.join(ex.select("fp", "keeper"), "fp", "left")
        .join(nd_drop.withColumn("nd", F.lit(1)), "doc_id", "left")
        .join(contam.withColumn("ct", F.lit(1)), "doc_id", "left")
        .join(kept.withColumn("kp", F.lit(1)), "doc_id", "left")
    )
    lowq = F.col("quality") < 0.5
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_input"),
            # Every conditional sum coalesces to 0: an all-NULL sum is NULL,
            # and one NULL in a long column floats the whole pandas column.
            F.coalesce(F.sum(lowq.cast("long")), F.lit(0).cast("long")).alias(
                "n_quality_drop"
            ),
            F.coalesce(
                F.sum((~lowq & (F.col("doc_id") != F.col("keeper"))).cast("long")),
                F.lit(0).cast("long"),
            ).alias("n_exact_drop"),
            F.coalesce(
                F.sum((F.col("nd") == 1).cast("long")), F.lit(0).cast("long")
            ).alias("n_neardup_drop"),
            F.coalesce(
                F.sum((F.col("ct") == 1).cast("long")), F.lit(0).cast("long")
            ).alias("n_contam_drop"),
            F.coalesce(
                F.sum((F.col("kp") == 1).cast("long")), F.lit(0).cast("long")
            ).alias("n_kept"),
            F.coalesce(
                F.sum(F.when(F.col("kp") == 1, F.col("n_chars"))),
                F.lit(0).cast("long"),
            ).alias("kept_chars"),
        )
    )


_PACK_SEQ_TOKENS = 512  # tokens per packed training sequence


@query(
    "pack_sequences_spans",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
      FROM documents),
    c AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
           CAST((cum - n_tok) // {_PACK_SEQ_TOKENS} AS BIGINT) AS first_seq,
           CAST((cum - 1) // {_PACK_SEQ_TOKENS} AS BIGINT) AS last_seq,
           CAST((cum - 1) // {_PACK_SEQ_TOKENS}
                - (cum - n_tok) // {_PACK_SEQ_TOKENS} + 1 AS BIGINT) AS n_seqs,
           ((cum - n_tok) % {_PACK_SEQ_TOKENS}) != 0 AS starts_mid_seq
    FROM c
    """,
)
def pack_sequences_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document span bookkeeping for concat-and-chunk packing:
    each source's documents concatenate in doc_id order into one token
    stream cut every 512 tokens (the GPT-style packing pack_sequences bins
    by), and this op reports, per DOCUMENT, which packed sequences its
    tokens land in (first_seq/last_seq/n_seqs) and whether it starts
    mid-sequence — i.e. shares its first sequence with the tail of the
    previous document, the cross-document-attention accounting
    pack_sequences' per-bin occupancy view cannot answer.

    This is the bookkeeping a packed-dataset writer needs — the actual
    token copy is a per-partition formatting pass once the offsets exist.
    Everything is one window per source: an inclusive prefix sum of token
    counts, then pure integer arithmetic (DIV/% — no floats anywhere, so
    chunk boundaries can never diverge between engines).

    100 TB notes: the window partitions by source and orders by doc_id —
    one shuffle, no global ordering. The sequential-prefix-sum dependency
    is per SOURCE, which is the natural unit a packed writer shards by
    anyway; a source too big for one task switches to the two-pass
    distributed prefix sum (per-partition subtotals broadcast as offsets —
    the ranking.py pattern) without changing the output contract.
    """
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(ws_tokens("text")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select("doc_id", "source", n_tok.alias("n_tok")).withColumn(
        "cum", F.sum("n_tok").over(w)
    )
    first_seq = F.expr(f"(cum - n_tok) DIV {_PACK_SEQ_TOKENS}")
    last_seq = F.expr(f"(cum - 1) DIV {_PACK_SEQ_TOKENS}")
    return c.select(
        "doc_id",
        "source",
        "n_tok",
        first_seq.alias("first_seq"),
        last_seq.alias("last_seq"),
        (last_seq - first_seq + 1).alias("n_seqs"),
        (((F.col("cum") - F.col("n_tok")) % _PACK_SEQ_TOKENS) != 0).alias(
            "starts_mid_seq"
        ),
    )


@query(
    "quality_filter_report",
    oracle=rf"""
    WITH {_TOKS_CTE},
    c AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
    s AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(SUM(cnt * len(tok)) AS BIGINT) AS sum_len,
             CAST(SUM(CASE WHEN regexp_matches(tok, '^[a-z]+$')
                            THEN cnt ELSE 0 END) AS BIGINT) AS n_alpha,
             CAST(COUNT(DISTINCT CASE WHEN tok IN
               ('the','a','of','to','and','in') THEN tok END) AS BIGINT)
               AS n_stop,
             CAST(MAX(cnt) AS BIGINT) AS top
      FROM c GROUP BY doc_id),
    fate AS (
      SELECT d.source,
             CASE
               WHEN NOT (s.n_tokens BETWEEN 10 AND 100000) THEN 'len'
               WHEN NOT (s.sum_len BETWEEN 3 * s.n_tokens AND 10 * s.n_tokens)
                 THEN 'wordlen'
               WHEN NOT (5 * s.n_alpha >= 4 * s.n_tokens) THEN 'alpha'
               WHEN NOT (s.n_stop >= 2) THEN 'stop'
               WHEN 100 * s.top > 12 * s.n_tokens THEN 'repetition'
               ELSE 'pass'
             END AS fate
      FROM documents d JOIN s ON d.doc_id = s.doc_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN fate = 'len' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fail_len,
           CAST(SUM(CASE WHEN fate = 'wordlen' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fail_wordlen,
           CAST(SUM(CASE WHEN fate = 'alpha' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fail_alpha,
           CAST(SUM(CASE WHEN fate = 'stop' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fail_stop,
           CAST(SUM(CASE WHEN fate = 'repetition' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fail_repetition,
           CAST(SUM(CASE WHEN fate = 'pass' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass
    FROM fate GROUP BY source
    """,
)
def quality_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-filter funnel: every document attributed to its
    FIRST failing rule (len -> wordlen -> alpha -> stop -> repetition ->
    pass), rolled up per source — the "why did my corpus shrink" report a
    curation run ships alongside its output. The fate classes partition
    n_docs exactly (asserted in tests), mirroring corpus_prep_pipeline's
    fate-accounting convention at rule granularity.

    Rule arithmetic reuses text_gopher_rules' integer inequalities and
    text_repetition's top-token concentration, with the repetition cut as
    the cross-multiplied 100*top > 12*n (pure integers — the double
    division the standalone op reports can't flip a fate here).

    One (doc_id, tok) count aggregation feeds EVERY rule — token totals,
    occurrence-weighted lengths, alpha counts, distinct stopwords, and the
    top-token max all come out of the same map-side-combined shuffle, then
    a per-doc rollup and a per-source rollup. Three narrow shuffles total;
    the documents join carries (doc_id, source) only.
    """
    d = table(spark, sf_dir, "documents")
    c = _tokens(d).groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    s = c.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.sum(F.col("cnt") * F.length("tok")).cast("long").alias("sum_len"),
        F.sum(F.when(F.col("tok").rlike("^[a-z]+$"), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_alpha"),
        F.count_distinct(
            F.when(F.col("tok").isin("the", "a", "of", "to", "and", "in"), F.col("tok"))
        )
        .cast("long")
        .alias("n_stop"),
        F.max("cnt").cast("long").alias("top"),
    )
    n, sl, na, ns, top = (
        F.col(x) for x in ("n_tokens", "sum_len", "n_alpha", "n_stop", "top")
    )
    fate = (
        F.when(~n.between(10, 100000), "len")
        .when(~sl.between(3 * n, 10 * n), "wordlen")
        .when(~(5 * na >= 4 * n), "alpha")
        .when(~(ns >= 2), "stop")
        .when(100 * top > 12 * n, "repetition")
        .otherwise("pass")
    )
    fated = d.select("doc_id", "source").join(s, "doc_id").select("source", fate.alias("fate"))

    def cnt(val: str) -> F.Column:
        return F.sum((F.col("fate") == val).cast("int")).cast("long")

    return fated.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        cnt("len").alias("n_fail_len"),
        cnt("wordlen").alias("n_fail_wordlen"),
        cnt("alpha").alias("n_fail_alpha"),
        cnt("stop").alias("n_fail_stop"),
        cnt("repetition").alias("n_fail_repetition"),
        cnt("pass").alias("n_pass"),
    )


def _packing_pipeline_oracle() -> str:
    from wri_data_processing_spark.queries.llm_segments import _SEG_CTES

    seg_ctes = _SEG_CTES.replace("FROM documents", "FROM passed").strip().lstrip()
    return rf"""
    WITH tq AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
                FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM tq),
    c AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
    s AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(SUM(cnt * len(tok)) AS BIGINT) AS sum_len,
             CAST(SUM(CASE WHEN regexp_matches(tok, '^[a-z]+$')
                            THEN cnt ELSE 0 END) AS BIGINT) AS n_alpha,
             CAST(COUNT(DISTINCT CASE WHEN tok IN
               ('the','a','of','to','and','in') THEN tok END) AS BIGINT) AS n_stop,
             CAST(MAX(cnt) AS BIGINT) AS top
      FROM c GROUP BY doc_id),
    fate AS (
      SELECT doc_id,
             (s.n_tokens BETWEEN 10 AND 100000)
               AND (s.sum_len BETWEEN 3 * s.n_tokens AND 10 * s.n_tokens)
               AND (5 * s.n_alpha >= 4 * s.n_tokens)
               AND (s.n_stop >= 2)
               AND NOT (100 * s.top > 12 * s.n_tokens) AS ok
      FROM s),
    passed AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d JOIN fate f ON d.doc_id = f.doc_id WHERE f.ok),
    {seg_ctes},
    kd AS (
      SELECT doc_id,
             CAST(SUM(len(string_split(seg, ' '))) AS BIGINT) AS kept_tok
      FROM ranked WHERE rn = 1 GROUP BY doc_id),
    pm AS (
      SELECT p.source,
             CAST(COUNT(*) AS BIGINT) AS n_passed,
             CAST(SUM(CASE WHEN k.kept_tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fully_deduped,
             CAST(SUM(len(regexp_split_to_array(trim(p.text), '\s+'))) AS BIGINT)
               AS tokens_in,
             CAST(SUM(COALESCE(k.kept_tok, 0)) AS BIGINT) AS tokens_kept
      FROM passed p LEFT JOIN kd k ON p.doc_id = k.doc_id GROUP BY 1),
    inp AS (
      SELECT d.source,
             CAST(COUNT(*) AS BIGINT) AS n_input,
             CAST(SUM(CASE WHEN f.ok THEN 0 ELSE 1 END) AS BIGINT)
               AS n_quality_drop
      FROM documents d JOIN fate f ON d.doc_id = f.doc_id GROUP BY 1)
    SELECT i.source, i.n_input, i.n_quality_drop,
           COALESCE(pm.n_fully_deduped, 0) AS n_fully_deduped,
           COALESCE(pm.n_passed - pm.n_fully_deduped, 0) AS n_packed_docs,
           COALESCE(pm.tokens_in, 0) AS tokens_in,
           COALESCE(pm.tokens_kept, 0) AS tokens_kept,
           CASE WHEN COALESCE(pm.tokens_kept, 0) > 0
                THEN (pm.tokens_kept - 1) // 512 + 1 ELSE 0 END AS n_seqs
    FROM inp i LEFT JOIN pm ON i.source = pm.source
    """


@query("packing_pipeline", oracle=_packing_pipeline_oracle())
def packing_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed-dataset manifest as ONE composed plan: quality gate
    (the quality_filter_report rule cascade, pass/fail only) -> cross-corpus
    segment dedup with in-place rewrite (dedup_segments_rewrite's keep-first
    over the SURVIVOR set -- dedup after filtering, so dropped docs can't
    claim keep-first wins) -> concat-and-chunk packing accounting per
    source: surviving docs, token counts before/after dedup, and the packed
    512-token sequence count.

    The manifest is the contract a training run consumes: per source,
    n_input = n_quality_drop + n_fully_deduped + n_packed_docs and
    tokens_kept <= tokens_in (both asserted in tests). Every stage reuses
    the standalone operator's exact arithmetic (integer rule inequalities,
    keep-first min-(doc_id,seg_idx) ranking, token counts over the
    space-joined rewrite), so the composed oracle is the standalone oracles
    chained -- the corpus_prep_pipeline convention at packing granularity.

    Scale shape: one (doc_id, token) count shuffle feeds every quality rule;
    the survivor frame flows into the segment rank shuffle (16-hex sha256
    keys); per-doc and per-source rollups are map-side-combined; the final
    manifest join is per-source (broadcast-sized). No stage widens a row
    beyond (ids, segment text) and nothing returns to the driver.
    """
    from wri_data_processing_spark.queries.llm_segments import _ranked_segments

    d = table(spark, sf_dir, "documents")
    c = _tokens(d).groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    s = c.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.sum(F.col("cnt") * F.length("tok")).cast("long").alias("sum_len"),
        F.sum(F.when(F.col("tok").rlike("^[a-z]+$"), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_alpha"),
        F.count_distinct(
            F.when(F.col("tok").isin("the", "a", "of", "to", "and", "in"), F.col("tok"))
        )
        .cast("long")
        .alias("n_stop"),
        F.max("cnt").cast("long").alias("top"),
    )
    n, sl, na, ns, top = (
        F.col(x) for x in ("n_tokens", "sum_len", "n_alpha", "n_stop", "top")
    )
    ok = (
        n.between(10, 100000)
        & sl.between(3 * n, 10 * n)
        & (5 * na >= 4 * n)
        & (ns >= 2)
        & ~(100 * top > 12 * n)
    )
    # fate is (doc_id, bool) — tiny — and feeds BOTH the survivor frame and
    # the per-source input rollup; without the checkpoint the whole
    # (doc, token) aggregation chain executes once per consumer (caught in
    # the r6 PLANS.md audit: the inp branch replayed nodes 3-16).
    fate = s.select("doc_id", ok.alias("ok")).localCheckpoint()
    passed = (
        d.join(fate, "doc_id")
        .filter(F.col("ok"))
        .select("doc_id", "source", "text")
        .localCheckpoint()  # the pipeline working set: both branches read it
    )
    kd = (
        _ranked_segments(passed)
        .filter(F.col("rn") == 1)
        .select("doc_id", F.size(F.split("seg", " ")).cast("long").alias("seg_tok"))
        .groupBy("doc_id")
        .agg(F.sum("seg_tok").cast("long").alias("kept_tok"))
    )
    n_tok_in = F.size(ws_tokens("text")).cast("long")
    pm = (
        passed.join(kd, "doc_id", "left")
        .select("source", n_tok_in.alias("tok_in"), "kept_tok")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_passed"),
            F.sum(F.col("kept_tok").isNull().cast("int")).cast("long").alias(
                "n_fully_deduped"
            ),
            F.sum("tok_in").cast("long").alias("tokens_in"),
            F.sum(F.coalesce(F.col("kept_tok"), F.lit(0))).cast("long").alias(
                "tokens_kept"
            ),
        )
    )
    inp = (
        d.join(fate, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_input"),
            F.sum((~F.col("ok")).cast("int")).cast("long").alias("n_quality_drop"),
        )
    )
    return inp.join(pm, "source", "left").select(
        "source",
        "n_input",
        "n_quality_drop",
        F.coalesce("n_fully_deduped", F.lit(0)).alias("n_fully_deduped"),
        F.coalesce(F.col("n_passed") - F.col("n_fully_deduped"), F.lit(0)).alias(
            "n_packed_docs"
        ),
        F.coalesce("tokens_in", F.lit(0)).alias("tokens_in"),
        F.coalesce("tokens_kept", F.lit(0)).alias("tokens_kept"),
        F.when(
            F.coalesce("tokens_kept", F.lit(0)) > 0,
            F.expr("(tokens_kept - 1) DIV 512 + 1"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_seqs"),
    )


@query(
    "pack_sequences_emit",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, source,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents),
    c AS (
      SELECT doc_id, source, toks,
             SUM(len(toks)) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - len(toks) AS start
      FROM t),
    tk AS (
      SELECT source, start + u.i - 1 AS off, toks[u.i] AS tok
      FROM c, unnest(generate_series(1, len(toks))) u(i))
    SELECT source,
           CAST(off // {_PACK_SEQ_TOKENS} AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           string_agg(tok, ' ' ORDER BY off) AS seq_text
    FROM tk GROUP BY 1, 2
    """,
)
def pack_sequences_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZE the packed training sequences — the artifact the whole
    pipeline exists to produce. Each source's documents concatenate in
    doc_id order; the token stream is cut every 512 tokens; the op emits
    one row per (source, seq_id) carrying the actual sequence text (the
    final sequence per source is the only short one).

    pack_sequences_spans is the bookkeeping view of this exact cut; this op
    performs the token copy itself: documents get their stream offset from
    the per-source prefix-sum window, tokens posexplode WITH their offset,
    and each sequence assembles via one ordered aggregation (array_sort
    over (offset, token) structs — no second window, the segment-rewrite
    reassembly pattern).

    Scale shape: the token explode is the dominant volume and it is the
    workload — a packed-dataset writer must touch every token once. Two
    shuffles: the per-source prefix-sum window (rides the source layout)
    and the (source, seq_id) assembly aggregation, whose keys are dense
    integers with ~512 tokens per group — uniform by construction, no skew.
    Emitting to parquet partitioned by source turns the output into the
    training-ready layout directly.
    """
    d = table(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select("doc_id", "source", toks.alias("toks")).withColumn(
        "start", F.sum(F.size("toks")).over(w) - F.size("toks")
    )
    tk = c.select(
        "source",
        "start",
        F.posexplode("toks").alias("pos", "tok"),
    ).select(
        "source",
        (F.col("start") + F.col("pos")).cast("long").alias("off"),
        "tok",
    )
    parts = F.array_sort(F.collect_list(F.struct("off", "tok")))
    return (
        tk.groupBy("source", F.expr(f"off DIV {_PACK_SEQ_TOKENS}").alias("seq_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.array_join(F.transform(parts, lambda s: s["tok"]), " ").alias("seq_text"),
        )
    )


@query(
    "sample_dsir_weights",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      FROM documents),
    dt AS (SELECT doc_id, lang, w, CAST(COUNT(*) AS BIGINT) AS c_dw
           FROM tok GROUP BY 1, 2, 3),
    vocab AS (
      SELECT w, CAST(SUM(c_dw) AS BIGINT) AS c_r,
             CAST(SUM(CASE WHEN lang = 'en' THEN c_dw ELSE 0 END) AS BIGINT)
               AS c_t
      FROM dt GROUP BY 1),
    tot AS (SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
                   CAST(SUM(c_t) AS BIGINT) AS n_t,
                   CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
    terms AS (
      SELECT dt.doc_id, dt.lang, dt.w, dt.c_dw,
             CAST(dt.c_dw AS DOUBLE)
               * (ln((CAST(vb.c_t AS DOUBLE) + 1.0)
                     / (CAST(t.n_t AS DOUBLE) + CAST(t.v AS DOUBLE)))
                  - ln((CAST(vb.c_r AS DOUBLE) + 1.0)
                       / (CAST(t.n_r AS DOUBLE) + CAST(t.v AS DOUBLE)))) AS term
      FROM dt JOIN vocab vb ON dt.w = vb.w, tot t),
    g AS (
      SELECT doc_id, lang, CAST(SUM(c_dw) AS BIGINT) AS n_tokens,
             list(term ORDER BY w) AS terms
      FROM terms GROUP BY 1, 2)
    SELECT doc_id, lang, n_tokens,
           ROUND(list_aggregate(terms, 'sum'), 6) AS log_weight
    FROM g
    """,
)
def sample_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): score
    every raw document by how much more likely its tokens are under the
    TARGET domain's unigram distribution than under the raw corpus's —
    log w(d) = sum_w c_dw * (ln p_T(w) - ln p_R(w)). Data Selection via
    Importance Resampling then samples the raw pool with probability
    proportional to w; this op produces the (deterministic) weights, and
    selection composes downstream (top_k on log_weight, or
    sample_token_budget's hash-threshold resampling). Target here is the
    lang='en' slice — in production the target is the small high-quality
    corpus (Wikipedia/books) and raw is the web crawl.

    Both distributions are add-one smoothed over the SHARED raw
    vocabulary, so target-unseen tokens contribute the floor probability
    rather than -inf, exactly as DSIR's hashed-ngram estimator behaves.
    Same exactness contract as text_lm_score: integer counts, one mirrored
    ln-difference term per (doc, type), per-doc fold in token order.

    Plan at 100 TB: the SAME shuffles as text_lm_score — tokenize in the
    scan stage, (doc, w) then (w) map-side-combined counts (the target
    counts ride the same aggregate as a conditional sum: no second pass
    over the corpus for the target side), vocab join back, 1-row totals
    broadcast (bounded NLJ), per-doc bounded fold.
    """
    from wri_data_processing_spark.queries.llm_text import (
        _doc_terms,
        _doc_word_counts,
        _ln_add_one,
    )

    keys = ["doc_id", "lang"]
    dt = _doc_word_counts(table(spark, sf_dir, "documents"), keys)
    vocab = dt.groupBy("w").agg(
        F.sum("c_dw").cast("long").alias("c_r"),
        F.sum(F.when(F.col("lang") == "en", F.col("c_dw")).otherwise(0))
        .cast("long")
        .alias("c_t"),
    )
    tot = vocab.agg(
        F.sum("c_r").cast("long").alias("n_r"),
        F.sum("c_t").cast("long").alias("n_t"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    ln_t, ln_r = _ln_add_one("c_t", "n_t", "v"), _ln_add_one("c_r", "n_r", "v")
    g = _doc_terms(dt, vocab, tot, keys, F.col("c_dw").cast("double") * (ln_t - ln_r))
    return g.select(
        *keys,
        "n_tokens",
        F.round(F.aggregate("terms", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "log_weight"
        ),
    )


@query(
    "mixture_temperature_weights",
    oracle="""
    WITH tok AS (
      SELECT lang,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
               AS n_tok
      FROM documents),
    g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tok) AS BIGINT) AS n_tokens
          FROM tok GROUP BY 1),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS n_total,
                 list_aggregate(list(sqrt(CAST(n_tokens AS DOUBLE))
                                    ORDER BY lang), 'sum') AS z
          FROM g)
    SELECT g.lang, g.n_docs, g.n_tokens,
           ROUND(CAST(g.n_tokens AS DOUBLE) / CAST(t.n_total AS DOUBLE), 6) AS p,
           ROUND(sqrt(CAST(g.n_tokens AS DOUBLE)) / t.z, 6) AS q,
           ROUND((sqrt(CAST(g.n_tokens AS DOUBLE)) / t.z)
                 / (CAST(g.n_tokens AS DOUBLE) / CAST(t.n_total AS DOUBLE)), 6)
             AS boost
    FROM g, t
    ORDER BY g.lang
    """,
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture recipe (the mT5/XLM-R multilingual
    sampling rule, arXiv:1910.10683 §3.4.2 / 1911.02116): upsample
    low-resource sources by replacing the natural token share p_s with
    q_s proportional to p_s^alpha — the recipe-DERIVATION op whose output
    feeds mixture_sample's per-stratum rates. Emits per language the
    natural share p, the temperature share q, and boost = q/p (the
    up/downsampling factor a pipeline applies).

    alpha = 1/2 (T = 2) specifically, because p^0.5 = sqrt(p) is the one
    power IEEE guarantees correctly rounded: a probe of 699 inputs found
    Spark's Math.pow and DuckDB's glibc pow disagree in the last ULP on
    75 of them (and exp(a·ln x) on 86), so a general-alpha column cannot
    be engine-exact — sqrt, division, and the lang-ordered fold for the
    normalizer Z = sum sqrt(n_s) can. Production sweeps alpha offline;
    the in-plan contract pins the one exactly-representable setting.

    Plan: one (lang) count shuffle (token counts fuse into the scan), a
    |langs|-row aggregate, 1-row totals broadcast (bounded NLJ) — cost is
    independent of corpus size past the first aggregation.
    """
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "lang",
        F.size(words("text")).cast("long").alias("n_tok"),
    )
    g = tok.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    t = g.agg(
        F.sum("n_tokens").cast("long").alias("n_total"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("lang", F.sqrt(F.col("n_tokens").cast("double")).alias("s"))
                    )
                ),
                lambda r: r["s"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("z"),
    )
    p = F.col("n_tokens").cast("double") / F.col("n_total").cast("double")
    q = F.sqrt(F.col("n_tokens").cast("double")) / F.col("z")
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(p, 6).alias("p"),
            F.round(q, 6).alias("q"),
            F.round(q / p, 6).alias("boost"),
        )
        .orderBy("lang")
    )


_VOCAB_COVERAGE_K = 20  # fixed-vocab size: the synthetic corpus has only
# 31 distinct tokens, so the original K=100 covered EVERYTHING and the
# oov_rate column was identically zero (degeneracy-audit catch); K=20
# leaves 11 live OOV tokens at every driver SF


@query(
    "vocab_coverage",
    oracle=f"""
    WITH {{toks}},
    v AS (SELECT tok FROM (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
        FROM tok GROUP BY 1
        ORDER BY freq DESC, tok LIMIT {_VOCAB_COVERAGE_K})),
    g AS (
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_in_vocab
      FROM tok t LEFT JOIN v ON t.tok = v.tok GROUP BY 1)
    SELECT doc_id, n_tokens, n_in_vocab,
           ROUND(1.0 - CAST(n_in_vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             AS oov_rate
    FROM g
    """.format(toks=_TOKS_CTE.strip()),
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate against a FIXED top-K vocabulary — the
    tokenizer-coverage audit run before committing a vocab size: documents
    whose tokens fall outside the frozen vocabulary fragment into
    byte-fallback pieces, inflating sequence length and cost. High
    oov_rate docs are exactly where a BPE vocabulary underserves the
    corpus (vocab_top_terms builds the candidate vocab; this op scores
    its coverage; bpe_merge_candidates refines it).

    The vocabulary is the deterministic top-{_VOCAB_COVERAGE_K} slice by
    (freq DESC, token) — boundary ties resolve identically on both
    engines, so membership is exact, and oov_rate is one mirrored double
    division.

    Plan: one (tok) count shuffle builds the vocab, TakeOrdered cuts the
    top K (no global sort), and the K-row vocab BROADCASTS back onto the
    token stream — the per-doc aggregate is the only other shuffle. At
    100 TB with a realistic 100k-token vocab the broadcast is still MBs.
    """
    d = table(spark, sf_dir, "documents")
    tok = _tokens(d)
    v = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .orderBy(F.col("freq").desc(), "tok")
        .limit(_VOCAB_COVERAGE_K)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    g = (
        tok.join(F.broadcast(v), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab"), 1).otherwise(0))
            .cast("long")
            .alias("n_in_vocab"),
        )
    )
    return g.select(
        "doc_id",
        "n_tokens",
        "n_in_vocab",
        F.round(
            F.lit(1.0) - F.col("n_in_vocab").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("oov_rate"),
    )


# ---- Canonical-URL dedup (web-corpus L-family, r8) ----------------------
# Surface-form synthesis: each doc_id group of 4 shares one logical URL;
# doc_id % 4 picks the mess a crawler actually sees — uppercase
# scheme/host + fragment, tracking params in shuffled order, an explicit
# default port + trailing slash. Canonicalization must collapse each
# group to ONE key while never merging different groups.
_URL_SQL = """
    CASE CAST(doc_id % 4 AS INTEGER)
      WHEN 0 THEN 'https://www.site' || CAST((doc_id // 4) % 10 AS VARCHAR) || '.example.com/docs/'
                  || CAST(doc_id // 4 AS VARCHAR) || '?page='
                  || CAST((doc_id // 4) % 7 AS VARCHAR) || '&ref=home'
      WHEN 1 THEN 'HTTPS://WWW.SITE' || CAST((doc_id // 4) % 10 AS VARCHAR) || '.EXAMPLE.COM/docs/'
                  || CAST(doc_id // 4 AS VARCHAR) || '?page='
                  || CAST((doc_id // 4) % 7 AS VARCHAR) || '&ref=home#section2'
      WHEN 2 THEN 'https://www.site' || CAST((doc_id // 4) % 10 AS VARCHAR) || '.example.com/docs/'
                  || CAST(doc_id // 4 AS VARCHAR) || '?ref=home&utm_source=feed&page='
                  || CAST((doc_id // 4) % 7 AS VARCHAR) || '&utm_campaign=x'
      ELSE 'https://www.site' || CAST((doc_id // 4) % 10 AS VARCHAR) || '.example.com:443/docs/'
                  || CAST(doc_id // 4 AS VARCHAR) || '/?page='
                  || CAST((doc_id // 4) % 7 AS VARCHAR) || '&ref=home&fbclid=abc'
    END
"""


def _url_spark(d: DataFrame):
    gid = F.expr("doc_id div 4").cast("string")
    site = F.expr("(doc_id div 4) % 10").cast("string")
    page = F.expr("(doc_id div 4) % 7").cast("string")
    return (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("https://www.site"), site,
                     F.lit(".example.com/docs/"), gid, F.lit("?page="), page,
                     F.lit("&ref=home")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("HTTPS://WWW.SITE"), site,
                     F.lit(".EXAMPLE.COM/docs/"), gid, F.lit("?page="), page,
                     F.lit("&ref=home#section2")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("https://www.site"), site,
                     F.lit(".example.com/docs/"), gid,
                     F.lit("?ref=home&utm_source=feed&page="), page,
                     F.lit("&utm_campaign=x")),
        )
        .otherwise(
            F.concat(F.lit("https://www.site"), site,
                     F.lit(".example.com:443/docs/"), gid, F.lit("/?page="), page,
                     F.lit("&ref=home&fbclid=abc")),
        )
    )


_URL_CANON_CTES = f"""
    u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
    nofrag AS (
      SELECT doc_id, regexp_replace(url, '#.*$', '') AS url FROM u),
    cased AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([^/]*//[^/?]+)', 1))
               || substring(url, length(regexp_extract(url, '^([^/]*//[^/?]+)', 1)) + 1)
               AS url
      FROM nofrag),
    noport AS (
      SELECT doc_id, regexp_replace(url, '^(https://[^/:?]+):443', '\\1') AS url
      FROM cased),
    split AS (
      SELECT doc_id,
             regexp_replace(CASE WHEN instr(url, '?') > 0
                  THEN substring(url, 1, instr(url, '?') - 1) ELSE url END,
                  '/$', '') AS path,
             CASE WHEN instr(url, '?') > 0
                  THEN substring(url, instr(url, '?') + 1) ELSE '' END AS qs
      FROM noport),
    canon AS (
      SELECT doc_id, path ||
             CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canonical_url
      FROM (
        SELECT doc_id, path,
               array_to_string(list_sort(list_filter(string_split(qs, '&'),
                 p -> p <> '' AND NOT regexp_matches(p,
                      '^(utm_[a-z]+|fbclid|gclid)='))), '&') AS cq
        FROM split))
"""


@query(
    "dedup_url_canonical",
    oracle=f"""
    WITH {_URL_CANON_CTES}
    SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_copies,
           MIN(doc_id) AS keeper_doc_id
    FROM canon GROUP BY 1
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup — the first dedup pass of every web-crawl
    corpus (CommonCrawl-style): collapse surface-form URL variants onto
    one canonical key BEFORE any content hashing, since refetches of the
    same page differ by tracking params, host case, fragments, default
    ports, and trailing slashes long before their bytes differ.

    Canonicalization (each rule exercised by a synthesized variant):
    strip #fragment -> lowercase scheme+host (path case PRESERVED — it is
    significant per RFC 3986) -> drop the :443 default port -> drop
    trailing path slash -> drop tracking params (utm_*, fbclid, gclid) ->
    sort surviving query params. All string expressions: regexp_replace /
    filter / array_sort run JVM-side inside the scan stage; the only
    shuffle is the final groupBy on the canonical key (map-side combined),
    identical topology to dedup_exact. Param sorting is lexicographic on
    ASCII in both engines.
    """
    canon = _canonical_urls(table(spark, sf_dir, "documents"))
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


def _canonical_urls(d: DataFrame) -> DataFrame:
    """(doc_id, canonical_url) — the dedup_url_canonical rule chain over a
    documents frame; shared with web_corpus_pipeline."""
    u = d.select("doc_id", _url_spark(d).alias("url"))
    nofrag = F.regexp_replace("url", r"#.*$", "")
    head = F.regexp_extract(nofrag, r"^([^/]*//[^/?]+)", 1)
    cased = F.concat(F.lower(head), F.expr(
        "substring(regexp_replace(url, '#.*$', ''), "
        "length(regexp_extract(regexp_replace(url, '#.*$', ''), '^([^/]*//[^/?]+)', 1)) + 1)"
    ))
    c = u.select("doc_id", cased.alias("url"))
    noport = F.regexp_replace("url", r"^(https://[^/:?]+):443", r"$1")
    c = c.select("doc_id", noport.alias("url"))
    qpos = F.instr(F.col("url"), "?")
    path = F.regexp_replace(
        F.when(qpos > 0, F.expr("substring(url, 1, instr(url, '?') - 1)"))
        .otherwise(F.col("url")),
        r"/$", "",
    )
    qs = F.when(qpos > 0, F.expr("substring(url, instr(url, '?') + 1)")).otherwise(
        F.lit("")
    )
    keep = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: (p != "") & ~p.rlike("^(utm_[a-z]+|fbclid|gclid)="),
        )
    )
    cq = F.array_join(keep, "&")
    return c.select(
        "doc_id",
        F.concat(path, F.when(cq == "", F.lit("")).otherwise(F.concat(F.lit("?"), cq)))
        .alias("canonical_url"),
    )


def _web_pipeline_oracle() -> str:
    from wri_data_processing_spark.queries.llm_text import _lm_cte

    return f"""
    WITH {_URL_CANON_CTES},
    keep AS (SELECT MIN(doc_id) AS doc_id FROM canon GROUP BY canonical_url),
    surv AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
    {_lm_cte("surv")},
    x AS (SELECT s.lang, lm.doc_id, lm.n_tokens, lm.xent
          FROM lm JOIN surv s USING (doc_id)),
    gd AS (SELECT lang, xent, CAST(COUNT(*) AS BIGINT) AS c,
                  CAST(SUM(n_tokens) AS BIGINT) AS tk
           FROM x GROUP BY 1, 2),
    n AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM gd GROUP BY 1),
    cum AS (
      SELECT lang, xent, c, tk,
             SUM(c) OVER (PARTITION BY lang ORDER BY xent
                          ROWS UNBOUNDED PRECEDING) - c AS cumb
      FROM gd),
    tails AS (
      SELECT cum.lang, CAST(SUM(c) AS BIGINT) AS n_tail,
             CAST(SUM(tk) AS BIGINT) AS tail_tokens
      FROM cum JOIN n USING (lang)
      WHERE (cumb * 3) // n.n = 2 GROUP BY 1),
    inp AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_input
            FROM documents GROUP BY 1),
    sv AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_surv,
                  CAST(SUM(n_tokens) AS BIGINT) AS surv_tokens
           FROM x GROUP BY 1)
    SELECT inp.lang, inp.n_input,
           inp.n_input - sv.n_surv AS n_url_dup,
           COALESCE(t.n_tail, 0) AS n_tail_dropped,
           sv.n_surv - COALESCE(t.n_tail, 0) AS n_kept,
           sv.surv_tokens - COALESCE(t.tail_tokens, 0) AS kept_tokens
    FROM inp JOIN sv USING (lang) LEFT JOIN tails t USING (lang)
    """


@query("web_corpus_pipeline", oracle=_web_pipeline_oracle())
def web_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed web-crawl curation program — the third flagship pipeline,
    chaining this round's web ops the way a crawl actually flows:
    canonical-URL dedup (refetches collapse BEFORE content work) ->
    survivors re-scored by a unigram LM trained ON THE SURVIVORS (the LM
    must not learn from the duplicates it just removed — CCNet trains on
    the deduped crawl) -> per-language tail third dropped -> per-language
    fate report whose counts PARTITION the input exactly:
    n_input = n_url_dup + n_tail_dropped + n_kept (the corpus_prep_pipeline
    accounting invariant; docs the tokenizer finds empty count as kept).

    Scale: each stage is a proven registered plan (dedup_url_canonical's
    scan-stage canonicalization + one keyed groupBy; text_lm_score's two
    shuffles + vocab join over survivors only; the grouped two-phase
    cumsum for per-lang thirds with no single-reducer sort); the stages
    compose as one lazy DAG up to the survivor-score frame, which is
    localCheckpoint-ed because two consumers (the bucket frame and the
    per-lang tallies) would otherwise each re-run the survivor LM chain
    (measured: -32% at sf0.1).
    """
    from wri_data_processing_spark.queries.llm_text import _lm_xent
    from wri_data_processing_spark.queries.stats_numeric import (
        _grouped_two_phase_cumsum,
    )

    d = table(spark, sf_dir, "documents")
    keep = (
        _canonical_urls(d)
        .groupBy("canonical_url")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    surv = d.join(keep, "doc_id", "left_semi")
    # x feeds TWO consumers (the bucket frame gd and the per-lang survivor
    # tallies sv); without a checkpoint each re-runs the whole survivor LM
    # chain. Measured at sf0.1: 2.33 -> 1.58 s (-32%) — the same
    # shared-frame rule _two_phase_cumsum applies internally.
    # r16 (guide §1.2): lang rides the LM chain as a passenger grouping key
    # (functionally dependent on doc_id — identical groups, identical xent)
    # instead of a join back to surv, which re-ran the canonical-URL
    # aggregation + semi-join derivation a second time.
    # share_dt: the LM chain's (doc, word, count) frame otherwise re-runs
    # the whole survivor derivation (semi-join + explode + first agg) for
    # its second consumer — measured 0.93x at sf0.1, identical rows.
    x = _lm_xent(surv, passengers=("lang",), share_dt=True).localCheckpoint()
    gd = x.groupBy("lang", "xent").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("n_tokens").cast("long").alias("tk"),
    )
    cum = _grouped_two_phase_cumsum(gd, "lang", "xent", ["c"])
    n = gd.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    tails = (
        cum.withColumn("cumb", F.col("cum_c") - F.col("c"))
        .join(F.broadcast(n), "lang")
        .filter(F.expr("(cumb * 3) div n") == 2)
        .groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_tail"),
            F.sum("tk").cast("long").alias("tail_tokens"),
        )
    )
    inp = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_input"))
    sv = x.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_surv"),
        F.sum("n_tokens").cast("long").alias("surv_tokens"),
    )
    return (
        inp.join(sv, "lang")
        .join(tails, "lang", "left")
        .select(
            "lang",
            "n_input",
            (F.col("n_input") - F.col("n_surv")).alias("n_url_dup"),
            F.coalesce("n_tail", F.lit(0)).cast("long").alias("n_tail_dropped"),
            (F.col("n_surv") - F.coalesce("n_tail", F.lit(0))).cast("long").alias("n_kept"),
            (F.col("surv_tokens") - F.coalesce("tail_tokens", F.lit(0)))
            .cast("long")
            .alias("kept_tokens"),
        )
    )


_RESERVOIR_K = 100


@query(
    "sample_reservoir_global",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    ORDER BY md5('rsv:' || CAST(doc_id AS VARCHAR)), doc_id
    LIMIT {_RESERVOIR_K}
    """,
)
def sample_reservoir_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic GLOBAL k-sample: the k documents with the smallest
    keyed hash — equivalent in distribution to a uniform reservoir sample
    but reproducible (same corpus -> same sample, any partitioning) and
    mergeable (the global top-k over hash of a union is the sample of the
    union; classic bottom-k sketch property, which also makes it the
    basis of set-similarity-over-samples).

    Plan: ORDER BY hash LIMIT k compiles to TakeOrderedAndProject —
    per-partition heaps of k rows, one k-row-per-partition gather, NO
    global sort materialization (the top_k plan shape, pinned there).
    The 'rsv:' salt keys this sample's hash stream independently of
    every other hash-derived decision on the same ids (split assignment,
    stratified sampling) — unsalted reuse would correlate them.
    """
    d = table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("rsv:"), F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", "lang", "source", key.alias("__k"))
        .orderBy("__k", "doc_id")
        .limit(_RESERVOIR_K)
        .drop("__k")
    )


@query(
    "pack_epoch_shuffle",
    oracle="""
    WITH s AS (
      SELECT doc_id, n_chars, u.epoch,
             CAST(('0x' || substring(sha256('ep:' || CAST(u.epoch AS VARCHAR)
                    || ':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1073741824 AS u
      FROM documents, unnest(generate_series(0, 1)) u(epoch))
    SELECT CAST(epoch AS BIGINT) AS epoch,
           CAST(u % 8 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
           CAST(MIN(u) AS BIGINT) AS min_u
    FROM s GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def pack_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-shuffle shard manifest — the dataloader contract a training
    job actually needs from its data engine: every document gets a
    DETERMINISTIC pseudo-random position per epoch (a salted sha slice;
    epoch in the salt means a DIFFERENT but reproducible shuffle each
    epoch), the low bits pick one of 8 shards, and ordering by the slice
    within a shard IS the shuffle — any worker can recompute its own
    read order from (epoch, shard) alone, no coordination, no stored
    permutation, resumable mid-epoch. Emits the per-(epoch, shard)
    manifest: doc count, payload size, and the min slice as the
    determinism witness the loader can assert against.

    Determinism: the bootstrap sha discipline — no RNG state, every
    assignment bit-identical cross-engine and across partitionings; all
    emitted values are exact integers.

    Plan: one 2-way epoch explode collapsed by ONE map-side-combined
    aggregate to 16 rows; the full shuffle ORDER never materializes
    anywhere — it is a sort key workers derive lazily, which is the
    entire point at 100 TB (a stored permutation of 10^11 docs is
    itself a dataset).
    """
    d = table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(1))).alias("epoch"),
    ).select(
        "epoch",
        "n_chars",
        (
            gram_key(
                F.concat(
                    F.lit("ep:"),
                    F.col("epoch").cast("string"),
                    F.lit(":"),
                    F.col("doc_id").cast("string"),
                )
            )
            % F.lit(1073741824).cast("long")
        ).alias("u"),
    )
    return (
        s.groupBy(
            F.col("epoch").cast("long").alias("epoch"),
            (F.col("u") % 8).cast("long").alias("shard"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars_total"),
            F.min("u").cast("long").alias("min_u"),
        )
        .orderBy("epoch", "shard")
    )


@query(
    "eval_pass_at_k",
    oracle="""
    WITH t AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ok
      FROM events),
    g AS (
      SELECT user_id, CAST(SUM(ok) AS BIGINT) AS c
      FROM t WHERE rn <= 10 GROUP BY 1 HAVING COUNT(*) = 10),
    p AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tasks,
             CAST(SUM(c) AS BIGINT) AS sum_c,
             CAST(SUM(10 - c) AS BIGINT) AS miss1,
             CAST(SUM((10 - c) * (9 - c) * (8 - c) * (7 - c) * (6 - c))
                  AS BIGINT) AS miss5
      FROM g)
    SELECT n_tasks,
           ROUND(CAST(sum_c AS DOUBLE) / CAST(n_tasks AS DOUBLE), 6) AS avg_correct,
           ROUND(1.0 - CAST(miss1 AS DOUBLE) / CAST(n_tasks * 10 AS DOUBLE), 6)
             AS pass_at_1,
           ROUND(1.0 - CAST(miss5 AS DOUBLE) / CAST(n_tasks * 30240 AS DOUBLE), 6)
             AS pass_at_5
    FROM p
    """,
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k (Chen et al. 2021, the HumanEval estimator) over a
    fixed-n trial table: each user's first 10 events are the task's 10
    "samples", a purchase is a "pass", and pass@k = E[1 - C(n-c,k)/C(n,k)]
    is the unbiased probability that at least one of k drawn samples
    passes — THE metric every code/model eval pipeline aggregates, here
    as a pure relational program (swap in (task_id, sample_ok) and the
    operator is unchanged).

    Exactness: with n = 10 fixed, C(n-c,k)/C(n,k) is the falling-factorial
    ratio prod_{i<k}(n-c-i) / prod_{i<k}(n-i) — the numerator is an exact
    per-task BIGINT polynomial in c (zero whenever c > n-k, which the
    product form yields automatically), and the shared denominator (10
    for k=1, 30240 for k=5) factors out of the mean. So BOTH pass@k
    aggregates are ONE IEEE division of exact integer sums, ROUND-6.
    Tasks with fewer than 10 trials are excluded (HAVING n = 10) — the
    estimator requires fixed n.

    Plan: one per-user window (partitioned rank, never a global sort),
    one map-side-combined per-task fold, one 4-column global fold.
    """
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ok"),
    ).filter(F.col("rn") <= 10)
    g = (
        t.groupBy("user_id")
        .agg(
            F.sum("ok").cast("long").alias("c"),
            F.count(F.lit(1)).alias("nn"),
        )
        .filter(F.col("nn") == 10)
    )
    miss5 = (
        (10 - F.col("c"))
        * (9 - F.col("c"))
        * (8 - F.col("c"))
        * (7 - F.col("c"))
        * (6 - F.col("c"))
    )
    p = g.agg(
        F.count(F.lit(1)).cast("long").alias("n_tasks"),
        F.sum("c").cast("long").alias("sum_c"),
        F.sum(10 - F.col("c")).cast("long").alias("miss1"),
        F.sum(miss5).cast("long").alias("miss5"),
    )
    return p.select(
        "n_tasks",
        F.round(F.col("sum_c").cast("double") / F.col("n_tasks").cast("double"), 6)
        .alias("avg_correct"),
        F.round(
            F.lit(1.0)
            - F.col("miss1").cast("double")
            / (F.col("n_tasks") * 10).cast("double"),
            6,
        ).alias("pass_at_1"),
        F.round(
            F.lit(1.0)
            - F.col("miss5").cast("double")
            / (F.col("n_tasks") * 30240).cast("double"),
            6,
        ).alias("pass_at_5"),
    )


@query(
    "stats_lift_gains",
    oracle="""
    WITH s AS (
      SELECT CAST(('0x' || substring(sha256('lift:'
                   || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1073741824 AS u,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events),
    b AS (
      SELECT CAST(u * 10 // 1073741824 AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS np
      FROM s GROUP BY 1),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(np) AS BIGINT) AS tp FROM b),
    c AS (
      SELECT b.decile, b.n, b.np,
             CAST(SUM(b2.n) AS BIGINT) AS cum_n,
             CAST(SUM(b2.np) AS BIGINT) AS cum_pos
      FROM b JOIN b b2 ON b2.decile >= b.decile
      GROUP BY 1, 2, 3)
    SELECT c.decile, c.n, c.np, c.cum_n, c.cum_pos,
           ROUND(CAST(c.cum_pos AS DOUBLE) / CAST(t.tp AS DOUBLE), 6) AS gain,
           ROUND(CAST(c.cum_pos * t.tn AS DOUBLE)
                 / CAST(c.cum_n * t.tp AS DOUBLE), 6) AS lift
    FROM c, t ORDER BY c.decile DESC
    """,
)
def stats_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift by score decile — the campaign-targeting
    readout completing the model-eval family (stats_auc ranks, the
    calibration bins check honesty, the PR sweep picks a threshold; THIS
    answers "if I contact the top d deciles, what fraction of converters
    do I capture and at what multiple of random?"). Uses the same
    deterministic sha-uniform stand-in score as stats_calibration_bins
    (uninformative model: the known answer is gain ~= captured volume
    share and lift ~= 1 per decile); swap in a real score and the
    operator is unchanged.

    Determinism: decile assignment is the integer u*10 // 2^30; per-decile
    counts are exact; cumulative-from-the-top sums come from a BOUNDED
    10x10 decile-range self-join (whitelisted — the events_ewma bounded-
    range shape; never a single-partition window); gain and lift are one
    mirrored division each over exact BIGINT products (cum_pos*tn tops
    out at n^2 ~ 1e24 only past ~3e9 rows — at that scale the product
    moves to DECIMAL(38,0), noted here so the 100 TB reader knows the
    knob), ROUND-6.

    Plan: one map-side-combined aggregate to 10 rows, then constant-size
    work: the 10-row self-join and a 1-row totals broadcast.
    """
    e = table(spark, sf_dir, "events")
    u = (
        gram_key(F.concat(F.lit("lift:"), F.col("event_id").cast("string")))
        % F.lit(1073741824).cast("long")
    )
    s = e.select(
        u.alias("u"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    b = s.groupBy(F.expr("CAST(u * 10 div 1073741824 AS BIGINT)").alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("np"),
    )
    b = b.localCheckpoint()  # feeds the self-join twice + the totals row
    t = b.agg(
        F.sum("n").cast("long").alias("tn"), F.sum("np").cast("long").alias("tp")
    )
    b2 = b.select(
        F.col("decile").alias("d2"), F.col("n").alias("n2"), F.col("np").alias("np2")
    )
    c = (
        b.join(F.broadcast(b2), F.col("d2") >= F.col("decile"))
        .groupBy("decile", "n", "np")
        .agg(
            F.sum("n2").cast("long").alias("cum_n"),
            F.sum("np2").cast("long").alias("cum_pos"),
        )
    )
    out = c.crossJoin(F.broadcast(t))
    return out.select(
        "decile", "n", "np", "cum_n", "cum_pos",
        F.round(
            F.col("cum_pos").cast("double") / F.col("tp").cast("double"), 6
        ).alias("gain"),
        F.round(
            (F.col("cum_pos") * F.col("tn")).cast("double")
            / (F.col("cum_n") * F.col("tp")).cast("double"),
            6,
        ).alias("lift"),
    ).orderBy(F.col("decile").desc())


@query(
    "sample_class_balance",
    oracle="""
    WITH m AS (
      SELECT CAST(MIN(cnt) AS BIGINT) AS target
      FROM (SELECT COUNT(*) AS cnt FROM events GROUP BY event_type)),
    r AS (
      SELECT event_type, event_id,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY substring(sha256('bal:' || CAST(event_id AS VARCHAR)), 1, 16),
                        event_id) AS rn
      FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_in,
           CAST(SUM(CASE WHEN rn <= (SELECT target FROM m)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn <= (SELECT target FROM m)
                         THEN event_id ELSE 0 END) AS BIGINT) AS kept_id_sum
    FROM r GROUP BY 1 ORDER BY 1
    """,
)
def sample_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic majority-class downsampling to the minority count —
    the class-balancing step in front of any classifier training run:
    every class keeps exactly min-class-count rows, chosen by salted-hash
    rank (reproducible across runs, partitionings, and engines — no RNG
    state, the sample_reservoir_global discipline per class). The audit
    output proves WHICH rows were kept, not just how many: per class the
    input count, kept count (== the minority count for every class), and
    the exact sum of kept event_ids — any selection drift flips the
    checksum loudly.

    Determinism: rank orders on the sha256 hex prefix (string compare ==
    unsigned compare on hex) with the id as tiebreak; the target is the
    exact integer min of class counts (1-row broadcast, whitelisted —
    the stream_watermark shape). All-integer output, no rounding at all.

    Plan: one per-class window rank (partitioned by class — never
    global), one map-side-combined per-class fold. At 100 TB with a
    skewed majority class the rank's sort-within-class is the cost; the
    standard refinement is pre-filtering with an approximate per-class
    hash threshold before the exact rank, which this op's bounded output
    makes verifiable.
    """
    e = table(spark, sf_dir, "events")
    m = (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").cast("long").alias("target"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.substring(
            F.sha2(F.concat(F.lit("bal:"), F.col("event_id").cast("string")), 256),
            1,
            16,
        ),
        "event_id",
    )
    r = e.select("event_type", "event_id").withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        r.crossJoin(F.broadcast(m))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_in"),
            F.sum(F.when(F.col("rn") <= F.col("target"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(
                F.when(F.col("rn") <= F.col("target"), F.col("event_id")).otherwise(0)
            )
            .cast("long")
            .alias("kept_id_sum"),
        )
        .orderBy("event_type")
    )


_BPE_ROUNDS = 5


def _bpe_chain_parts(k: int, rewrite_last: bool) -> list[str]:
    """Shared K-round unrolled BPE CTE chain (the graph_bfs_layers
    pattern), one (pair-count, argmax, rewrite) triple per round over a
    caller-supplied `w(word, cnt)` CTE. list_reduce seeds the fold with
    the first symbol (elements wrapped as 1-lists so accumulator and
    element types agree), mirroring the engine's F.aggregate seed.
    ``rewrite_last`` additionally materializes s{k} — the fully
    tokenized vocabulary the tokenizer_pipeline flagship consumes."""
    parts = [
        """s0 AS MATERIALIZED (
      SELECT word, cnt,
             list_transform(range(1, length(word) + 1),
                            i -> substring(word, CAST(i AS INTEGER), 1)) AS syms
      FROM w)"""
    ]
    for r in range(1, k + 1):
        parts.append(
            f"""
    p{r} AS (
      SELECT syms[i] AS left_tok, syms[i + 1] AS right_tok,
             CAST(SUM(cnt) AS BIGINT) AS n_pairs
      FROM s{r - 1}, unnest(generate_series(1, len(syms) - 1)) AS u(i)
      GROUP BY 1, 2),
    b{r} AS MATERIALIZED (
      SELECT CAST({r} AS BIGINT) AS round, left_tok, right_tok,
             left_tok || right_tok AS merged, n_pairs
      FROM p{r} ORDER BY n_pairs DESC, left_tok, right_tok LIMIT 1)"""
        )
        if r < k or rewrite_last:
            parts.append(
                f"""
    s{r} AS MATERIALIZED (
      SELECT word, cnt,
             list_reduce(list_transform(syms, x -> [x]),
               (acc, x) -> CASE WHEN len(acc) > 0
                                     AND acc[-1] = b{r}.left_tok
                                     AND x[1] = b{r}.right_tok
                           THEN list_append(acc[1:len(acc) - 1],
                                            b{r}.left_tok || b{r}.right_tok)
                           ELSE list_append(acc, x[1]) END) AS syms
      FROM s{r - 1}, b{r})"""
            )
    return parts


_BPE_WORDS_CTE = r"""w AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
            FROM documents)
      WHERE word != '' GROUP BY 1)"""


def _bpe_oracle(k: int) -> str:
    parts = [_BPE_WORDS_CTE] + _bpe_chain_parts(k, rewrite_last=False)
    union = "\n      UNION ALL ".join(f"SELECT * FROM b{r}" for r in range(1, k + 1))
    return (
        "WITH "
        + ",".join(parts)
        + f"""
    SELECT round, left_tok, right_tok, merged, n_pairs
    FROM ({union}) ORDER BY round"""
    )


@query("bpe_train_rounds", oracle=_bpe_oracle(_BPE_ROUNDS))
def bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL BPE tokenizer training, 5 unrolled merge rounds — the
    trainer whose output text_tokenizer_fertility later audits:
    bpe_merge_candidates ranks ONE round's merges; this op runs the loop
    (count weighted adjacent symbol pairs -> argmax merge -> rewrite the
    symbol sequences) and emits the learned merge table (round, left,
    right, merged, pair_count), which IS a BPE tokenizer's model file
    (VERDICT r10 item 3).

    Semantics: classic word-level BPE (Sennrich 2016 shape). Training
    runs on the WORD-FREQUENCY table, not the corpus — the standard and
    decisive scale move: pair statistics are identical, but the frame is
    |vocab| rows instead of |tokens|. Pairs count naively (overlaps
    included), as reference implementations do for ranking; the rewrite
    is left-to-right non-overlapping via a first-symbol-seeded fold
    (merge-with-last: provably equal to left-to-right greedy because a
    merged symbol is strictly longer than the left token, so it can
    never chain-match within the same round).

    Determinism: pair counts are exact integer sums; argmax orders by
    (n_pairs DESC, left, right) — a total order, so every round's merge
    is cross-engine identical and the whole 5-round trajectory is exact.
    The DuckDB twin mirrors the fold seed (list_reduce starts from the
    first element, as does F.aggregate here).

    Plan & scale: per round — ONE pair-count shuffle (map-side combined,
    keyed by symbol pair), a TakeOrdered(1) argmax (never a global
    sort), a 1-row broadcast crossJoin, and a scan-stage array fold over
    the vocab frame; the vocab frame is localCheckpointed each round
    (two consumers: next round's count + rewrite — the graph_pagerank
    unroll discipline, which also stops K-deep plan nesting). K rounds
    of vocab-sized shuffles beat a driver loop because the vocab never
    collects: at 100 TB the word table is ~10^8 rows across executors,
    and the only driver-sized object is the 1-row argmax per round.
    """
    syms = _bpe_word_syms(table(spark, sf_dir, "documents"))
    merges, _ = _bpe_loop(syms, _BPE_ROUNDS, rewrite_last=False)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.orderBy("round")


def _bpe_word_syms(d: DataFrame) -> DataFrame:
    """(word, cnt, syms) — the global word-frequency table split to
    character symbols, the frame every BPE round rewrites.

    r16 probe: spread_small_scan here measured 1.23x WORSE in a 3-way
    interleave (fold-only 1.72 s vs fold+spread 2.12 s median) — the word
    explode + partial count is not the loop's wall (the per-round rewrite
    checkpoints are), so the spread exchange only added stage boundaries.
    Left unspread, the text_bigram_lm lesson."""
    words = d.select(
        F.explode(ws_tokens("text")).alias("word")
    ).filter(F.col("word") != "")
    w = words.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    return w.select(
        "word", "cnt", F.split(F.col("word"), "").alias("syms")
    ).localCheckpoint()


_BPE_TOPM = 64  # driver-collected head of each round's pair table (bounded)


def _merge_fold(arr: F.Column, lt: str, rt: str) -> F.Column:
    """One left-to-right greedy merge pass (lt, rt) -> lt||rt over a symbol
    array, with the merge pair as string LITERALS — the same
    first-symbol-seeded fold the loop always used, minus the per-round
    1-row broadcast crossJoin it used to read the pair from."""
    ltc, rtc = F.lit(lt), F.lit(rt)
    return F.aggregate(
        F.slice(arr, F.lit(2), F.size(arr) - 1),
        F.slice(arr, F.lit(1), F.lit(1)),
        lambda acc, x: F.when(
            (F.element_at(acc, -1) == ltc) & (x == rtc),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.concat(ltc, rtc)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_loop(
    syms: DataFrame, rounds: int, rewrite_last: bool
) -> tuple[list[DataFrame], DataFrame]:
    """The shared unrolled training loop: per ROUND-GROUP one pair-count
    shuffle, a bounded top-M driver collect, and one scan-stage array fold
    + checkpoint applying every merge certified from that count table;
    returns the per-round 1-row merge frames and the final syms frame
    (rewritten through round `rounds` iff rewrite_last).

    r16 merge-fold (guide §2.4 "fewer rounds", VERDICT r15 item 5): round
    r+1's merge is provably decidable from round r's pair table whenever a
    CERTIFICATE holds, in which case the two merges apply in ONE rewrite
    pass and the r+1 count/argmax jobs and checkpoint disappear. The
    certificate (exact, conservative — when it fails the loop falls back
    to fully sequential):

    - merging m1 = (a, b) only DESTROYS occurrences of pairs with
      left == b or right == a (an occurrence (x, y) dies iff one of its
      symbols is consumed, which needs y == a with b following, or x == b
      with a preceding), and only CREATES pairs involving the merged
      symbol a||b, each with count <= some old (z, a)/(b, z) count;
    - multi-char symbols exist ONLY as previously accepted merges (the
      initial alphabet is single characters), so when a||b is 2+ chars and
      not a previous merge, NO pre-existing pair involves it and every
      created pair is new;
    - therefore if R[1] (the runner-up under the (n desc, left, right)
      total order) has left != b, right != a, both its tokens non-empty,
      and n_pairs STRICTLY above every destroyable count in the collected
      head and above the head's floor (an upper bound on every uncollected
      count, hence on every creation), then after applying m1 the argmax
      is exactly R[1] with exactly its old count — unaffected rows keep
      their counts and order, destroyed rows only fall, creations stay
      strictly below. Emitted (round, pair, n_pairs) rows are identical to
      the sequential loop's; pinned by replay tests.

    The top-M collect is a bounded driver action (M=64 rows of two short
    symbols + a count) — the same class as the 1-row TakeOrdered argmax it
    replaces, explicitly NOT a data collect."""
    merges: list[DataFrame] = []
    spark = syms.sparkSession
    schema = "round long, left_tok string, right_tok string, merged string, n_pairs long"
    prev_merged: set[str] = set()
    r = 1
    while r <= rounds:
        # Adjacent symbol pairs of the space-rejoined symbol stream
        # (symbols are whitespace-free: words split on \s+, merges only
        # concatenate).
        bgarr = word_ngrams(F.array_join("syms", " "), 2)
        pc = (
            syms.filter(F.size("syms") >= 2)
            .select("cnt", F.explode_outer(bgarr).alias("b"))
            .select("cnt", *split_pair("b", "left_tok", "right_tok"))
            .groupBy("left_tok", "right_tok")
            .agg(F.sum("cnt").cast("long").alias("n_pairs"))
        )
        head = (
            pc.orderBy(F.col("n_pairs").desc(), "left_tok", "right_tok")
            .limit(_BPE_TOPM)
            .collect()
        )
        if not head:
            # degenerate empty pair table: no merge row, and syms emptied,
            # as the sequential loop's rewrite (a crossJoin with the empty
            # merge frame) empties it
            merges.append(spark.createDataFrame([], schema))
            if r < rounds or rewrite_last:
                syms = syms.limit(0)
            r += 1
            continue
        picked = [head[0]]
        if r + 1 <= rounds and len(head) >= 2:
            m1, r2 = head[0], head[1]
            merged1 = m1.left_tok + m1.right_tok
            floor_m = head[-1].n_pairs if len(head) == _BPE_TOPM else 0

            def _destroyable(row) -> bool:
                return row.right_tok == m1.left_tok or row.left_tok == m1.right_tok

            max_destroy = max(
                (row.n_pairs for row in head[1:] if _destroyable(row)), default=0
            )
            # A self-pair winner (a, a) creates (aa, aa), whose count is
            # bounded only by the winner's own count, not by any head row:
            # no certificate, so never fold after it.
            novel = (
                len(m1.left_tok) > 0
                and len(m1.right_tok) > 0
                and m1.left_tok != m1.right_tok
                and merged1 not in prev_merged
            )
            if (
                novel
                and not _destroyable(r2)
                and r2.n_pairs > max(max_destroy, floor_m)
            ):
                picked.append(r2)
        for j, row in enumerate(picked):
            merges.append(
                spark.createDataFrame(
                    [
                        (
                            r + j,
                            row.left_tok,
                            row.right_tok,
                            row.left_tok + row.right_tok,
                            row.n_pairs,
                        )
                    ],
                    schema,
                )
            )
            prev_merged.add(row.left_tok + row.right_tok)
        last_round = r + len(picked) - 1
        if last_round < rounds or rewrite_last:
            folded = F.col("syms")
            for row in picked:
                folded = _merge_fold(folded, row.left_tok, row.right_tok)
            syms = syms.select("word", "cnt", folded.alias("syms")).localCheckpoint()
        r += len(picked)
    return merges, syms


@query(
    "sample_ppswor",
    oracle="""
    WITH k AS (
      SELECT o_orderkey, o_totalprice,
             -ln((CAST(('0x' || substring(sha256('pps:'
                    || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
                  % 1073741824 + 1) / 1073741826.0)
               / CAST(o_totalprice AS DOUBLE) AS key
      FROM orders)
    SELECT o_orderkey, o_totalprice, ROUND(key, 12) AS pps_key
    FROM k ORDER BY key, o_orderkey LIMIT 20
    """,
)
def sample_ppswor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size sampling WITHOUT replacement —
    Efraimidis-Spirakis weighted order sampling, the deterministic form:
    each order draws key = -ln(u)/w (u sha-uniform in (0,1), w =
    o_totalprice) and the 20 SMALLEST keys are the sample, which is
    exactly PPS-without-replacement (each key is an Exponential(w) race;
    min-k of exponentials == sequential PPS draws). The weighted sibling
    of sample_reservoir_global, and the data-selection shape behind
    "sample documents proportional to quality score" curation passes.

    Determinism: u = (sha-slice + 1)/(2^30 + 2) is bounded away from
    {0,1}; ln is the safe transcendental (bit-identical cross-engine,
    probed r7); w is an exact decimal cast to double (<= 2^53); each key
    is ONE identical expression tree both engines evaluate bitwise-
    identically, so the global min-20 ordering (key, then orderkey)
    agrees exactly. Emitted key is ROUND-12: the keys are ~1/w ~ 1e-7,
    so the family's usual ROUND-6 flattened the whole column to zero
    (the degeneracy audit's catch — membership was always exact, but the
    reported key carried no information).

    Plan: scan-stage key expression + TakeOrderedAndProject(20) — no
    global sort, no shuffle beyond the top-k combine (the
    sample_reservoir_global plan shape with a weighted key).
    """
    o = table(spark, sf_dir, "orders")
    u = (
        gram_key(F.concat(F.lit("pps:"), F.col("o_orderkey").cast("string")))
        % F.lit(1073741824).cast("long")
        + 1
    ).cast("double") / F.lit(1073741826.0)
    key = -F.log(u) / F.col("o_totalprice").cast("double")
    return (
        o.select("o_orderkey", "o_totalprice", key.alias("key"))
        .orderBy("key", "o_orderkey")
        .limit(20)
        .select("o_orderkey", "o_totalprice", F.round("key", 12).alias("pps_key"))
    )


def _tokenizer_oracle(k: int) -> str:
    """Train (the shared K-round chain, final rewrite INCLUDED) then
    score: join the tokenized vocabulary back to per-language word
    frequencies and report fertility per language."""
    parts = [
        r"""wl AS (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
            FROM documents)
      WHERE word != '' GROUP BY 1, 2)""",
        "w AS (SELECT word, CAST(SUM(cnt) AS BIGINT) AS cnt FROM wl GROUP BY 1)",
    ] + _bpe_chain_parts(k, rewrite_last=True)
    return (
        "WITH "
        + ",".join(parts)
        + f"""
    , final AS (
      SELECT word, CAST(len(syms) AS BIGINT) AS n_tok,
             CAST(length(word) AS BIGINT) AS n_chr
      FROM s{k})
    SELECT wl.lang,
           CAST(SUM(wl.cnt) AS BIGINT) AS n_word_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_word_types,
           ROUND(CAST(SUM(wl.cnt * final.n_tok) AS DOUBLE)
                 / CAST(SUM(wl.cnt) AS DOUBLE), 6) AS fertility,
           ROUND(CAST(SUM(wl.cnt * final.n_chr) AS DOUBLE)
                 / CAST(SUM(wl.cnt) AS DOUBLE), 6) AS mean_word_chars,
           ROUND(CAST(SUM(wl.cnt * final.n_tok) AS DOUBLE)
                 / CAST(SUM(wl.cnt * final.n_chr) AS DOUBLE), 6)
             AS tokens_per_char
    FROM wl JOIN final USING (word)
    GROUP BY 1 ORDER BY 1
    """
    )


@query("tokenizer_pipeline", oracle=_tokenizer_oracle(_BPE_ROUNDS))
def tokenizer_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEVENTH composed flagship: the full tokenizer lifecycle — TRAIN
    (bpe_train_rounds' 5 unrolled merge rounds on the global
    word-frequency table, final rewrite included) -> APPLY (the learned
    merge table tokenizes the whole vocabulary as a side effect of the
    unrolled rewrites) -> AUDIT (per-language fertility: weighted
    subword tokens per word, mean word length, tokens per char). This
    is the loop text_tokenizer_fertility only audits the END of: here
    the tokenizer being audited is the one the engine itself just
    trained, so a fairness regression (one language's fertility rising)
    is attributable to the TRAINING DATA MIX — the actual production
    question.

    Composition contract: the oracle embeds the shared
    _bpe_chain_parts(k, rewrite_last=True) CTE chain and adds the
    per-language rollup; the engine reuses _bpe_loop verbatim — both
    flagship stages are the independently driver-verified components.

    Exactness: token/char lengths are exact integers off the rewritten
    symbol arrays; all three ratios are single divisions of exact
    BIGINT weighted sums, ROUND-6.

    Plan: the training loop's per-round (pair-count shuffle,
    TakeOrdered(1), broadcast, array fold), then ONE lang-keyed
    aggregate over the (lang, word) frequency table joined to the
    |vocab|-row tokenized vocabulary — composition overhead is a single
    equi-join + rollup.
    """
    d = table(spark, sf_dir, "documents")
    wl = (
        d.select(
            "lang",
            F.explode(ws_tokens("text")).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    syms = _bpe_word_syms(d)
    _, final_syms = _bpe_loop(syms, _BPE_ROUNDS, rewrite_last=True)
    final = final_syms.select(
        "word",
        F.size("syms").cast("long").alias("n_tok"),
        F.length("word").cast("long").alias("n_chr"),
    )
    return (
        wl.join(final, "word")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_word_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_word_types"),
            F.round(
                F.sum(F.col("cnt") * F.col("n_tok")).cast("double")
                / F.sum("cnt").cast("double"),
                6,
            ).alias("fertility"),
            F.round(
                F.sum(F.col("cnt") * F.col("n_chr")).cast("double")
                / F.sum("cnt").cast("double"),
                6,
            ).alias("mean_word_chars"),
            F.round(
                F.sum(F.col("cnt") * F.col("n_tok")).cast("double")
                / F.sum(F.col("cnt") * F.col("n_chr")).cast("double"),
                6,
            ).alias("tokens_per_char"),
        )
        .orderBy("lang")
    )
