"""Deduplication operators (SURVEY.md §2.12 L1/L2).

- dedup_exact         : content-hash groupBy, keep lowest doc_id.
- dedup_ngram_jaccard : word-3-gram shingles -> inverted-index self-join ->
                        Jaccard >= threshold pairs. Exact, SQL-checkable.
- dedup_minhash_lsh   : banded MinHash-LSH candidate join with PINNED
                        integer hash parameters — oracle-exact (driver-green
                        r4) since the replayable-permutation rewrite; the
                        spark.ml RNG variant survives as dedup_minhash_ml
                        (rows-only).
- dedup_simhash       : 64-bit SimHash per doc from a replayable token hash
                        shared with the DuckDB oracle — oracle-exact
                        (driver-green r4); pure DataFrame bit arithmetic.

Scale notes: exact dedup is one hash aggregation on a 256-bit digest (shuffle
carries 32-byte keys, not documents). The shingle pipeline is the textbook
inverted-index plan: per-doc distinct hashed shingles -> posting list per
shingle -> candidate pairs from each list -> per-pair co-occurrence counts;
the document-frequency cap (_MAX_DF) that bounds the quadratic term at
100 TB is a free size() filter on the posting list. MinHashLSH replaces the
exact pair generation when recall<1 is acceptable: cost drops from |pairs|
to |bucket collisions|.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.functions.text import (
    gram_key,
    spread_small_scan,
    word_ngrams,
    ws_tokens,
)
from wri_data_processing_spark.registry import query

# Threshold kept as an exact rational (3/5) so the pair-generation length
# prefilter in _jaccard_pairs can be pure int64 arithmetic: a pair's maximum
# achievable Jaccard is min(n_a,n_b)/max(n_a,n_b) (reached when the smaller
# shingle set is fully contained), so 5*min >= 3*max is EXACTLY the set of
# pairs that could still pass the final >= 0.6 filter.
_JT_NUM, _JT_DEN = 3, 5
_JACCARD_THRESHOLD = _JT_NUM / _JT_DEN  # same double the old 0.6 literal produced
_MAX_DF = 1000  # document-frequency cap on shingles (scale guard)


@query(
    "dedup_exact",
    oracle="""
    SELECT sha256(text) AS text_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2("text", 256).alias("text_hash"))
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _distinct_shingles(n: int) -> Column:
    """Distinct ``word_ngrams`` of the whitespace-normalized text."""
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    return F.array_distinct(word_ngrams(norm, n))


def _shingle_arrays(d: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc as an array: (doc_id, shingles).

    Dedup happens per-row via array_distinct (JVM-side, no shuffle) so the
    per-doc shingle count can ride along as a plain column — no separate
    sizes aggregation, no distinct() exchange. Docs with fewer than n tokens
    produce no rows (cheap token-count pre-filter — an independent
    expression, so Catalyst pushing it below the repartition never
    double-evaluates the shingle construction).
    """
    d2 = spread_small_scan(d).filter(F.size(ws_tokens("text")) >= n)
    return d2.select("doc_id", _distinct_shingles(n).alias("shingles"))


def _word_ngram_hashes(d: DataFrame, n: int, *keep: str) -> DataFrame:
    """Distinct word n-gram xxhash64 keys per row: (*keep, shingle: long).

    The _shingle_arrays construction generalized to carry arbitrary
    passenger columns, for consumers that shingle with context
    (contamination_flag keeps ``source``; corpus_prep_pipeline keeps
    ``doc_id``). Hashing the space-joined shingle STRING instead of the
    chained multi-arg xxhash64 changes only internal join-key values
    (tokens cannot contain spaces, so the join is equivalent up to the
    64-bit collision bound both formulations already accept). No
    spread_small_scan here: both consumers run the shingling inside larger
    compositions where the input is either already shuffled or filtered
    scan-stage work.
    """
    d2 = d.filter(F.size(ws_tokens("text")) >= n)
    return d2.select(*keep, F.explode_outer(_distinct_shingles(n)).alias("_sh")).select(
        *keep, F.xxhash64("_sh").alias("shingle")
    )


def _shingles_hashed(d: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc, hashed: (doc_id, n, shingle: long).

    Built on _shingle_arrays, then xxhash64 over the exploded shingle STRING.
    The hash keys are internal join/distinct keys only (never emitted, never
    oracled — the oracle recomputes from strings), so swapping the old
    token-seed-chained xxhash64(t1..tn) for xxhash64('t1 t2 t3') changes no
    observable result; distinctness over 64-bit hashes equals distinctness
    over strings up to birthday-bound collisions, the tradeoff the
    downstream join already accepted.

    explode_outer, NOT explode: plain explode lets Catalyst infer
    non-null/non-empty constraints on the array and push a Filter containing
    the shingle expression below the repartition — evaluating it twice, once
    on the unsplit input. _shingle_arrays' token-count pre-filter already
    guarantees non-empty arrays, so _outer is semantically identical here
    and keeps the expression evaluated exactly once.
    """
    arr = _shingle_arrays(d, n)
    return arr.select(
        "doc_id", F.size("shingles").alias("n"), F.explode_outer("shingles").alias("s")
    ).select("doc_id", "n", F.xxhash64("s").alias("shingle"))


_PACK = 1 << 20  # (doc_id, n) packed as doc_id*2^20 + n; valid while n < 2^20


def _jaccard_pairs(sh: DataFrame, max_df: int = _MAX_DF) -> DataFrame:
    """(doc_id, n, shingle) -> exact Jaccard>=threshold pairs via posting lists.

    Inverted-index plan with ONE wide shuffle: group by shingle into a
    posting list, drop singleton and over-frequent shingles (the
    document-frequency scale guard is a free size() filter here — no
    window, no second pass), emit ordered candidate pairs by a double
    explode, then count co-occurrences per pair. Compared to the
    window-guard + sort-merge self-join formulation this removes two
    per-partition sorts and the join; posting-list memory is bounded by
    _MAX_DF entries (~8 KB) per shingle, which is exactly the guard's job
    at 100 TB.

    Each (doc_id, n) rides as ONE packed int64 (doc_id*2^20 + n): the
    posting list is a primitive long array instead of an array of structs,
    and the pair aggregation groups on two longs instead of four columns —
    measured ~20% faster at sf0.1. Packing preserves pair order (doc_a <
    doc_b iff packed_a < packed_b, since a doc appears at most once per
    list) and holds for any document under 2^20 distinct shingles — a
    >4 MB single document; cap inputs above that upstream.
    """
    # Length prefilter (r15, guide §2.3 "shuffle fewer bytes"): a pair's
    # maximum achievable Jaccard is min(n_a,n_b)/max(n_a,n_b) (n_common <=
    # min, and c/(n_a+n_b-c) is increasing in c), so a pair with
    # 5*min < 3*max sits provably below the 3/5 threshold for EVERY
    # possible n_common — the final filter would drop it after counting.
    # Cutting it here, inside the explode, shrinks the pair-aggregation
    # shuffle. Exact in int64 (both sizes ride in the packed keys), and
    # all-or-nothing per (a, b) — the sizes are constants of the pair, so
    # surviving pairs keep their full n_common count. The integer gap to
    # 3/5 is >= 1/(5*2^20), orders of magnitude above double rounding, so
    # this can never drop a pair the float >= 0.6 filter would keep.
    n_a, n_b = F.col("a") % _PACK, F.col("b") % _PACK
    jac = F.col("n_common") / (n_a + n_b - F.col("n_common"))
    return _posting_pairs(
        sh,
        max_df,
        F.least(n_a, n_b) * _JT_DEN >= F.greatest(n_a, n_b) * _JT_NUM,
        jac >= _JACCARD_THRESHOLD,
        F.round(jac, 4).alias("jaccard"),
    )


def _posting_pairs(
    sh: DataFrame, max_df: int, bound: Column, keep: Column, *ratios: Column
) -> DataFrame:
    """(doc_a, doc_b, *ratios): the document pairs of a (doc_id, n,
    shingle) frame that share a shingle of document frequency 2..max_df,
    with their shared-shingle count n_common. ``bound`` drops candidate
    pairs inside the explode, ``keep`` drops counted pairs; both and
    ``ratios`` read the packed keys a < b (size = key % _PACK) and
    n_common. The posting-list plan is _jaccard_pairs'."""
    pk = F.col("doc_id") * _PACK + F.col("n")
    g = (
        sh.select(pk.alias("pk"), "shingle")
        .groupBy("shingle")
        .agg(F.collect_list("pk").alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_df))
    )
    pairs = (
        g.select(F.explode("ds").alias("a"), "ds")
        .select("a", F.explode("ds").alias("b"))
        .filter((F.col("a") < F.col("b")) & bound)
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(keep)
        .select(
            F.floor(F.col("a") / _PACK).cast("long").alias("doc_a"),
            F.floor(F.col("b") / _PACK).cast("long").alias("doc_b"),
            *ratios,
        )
    )


# Shared CTE chain for the shingle/pair derivation — used by the pair oracle
# and (wrapped in a recursive closure) by the cluster oracle. The ``eligible``
# CTE mirrors the Spark plan's _MAX_DF posting-list cap EXACTLY: pairs are
# generated only from shingles whose document frequency is in [2, _MAX_DF],
# so engine and oracle agree even when a hot (stop-phrase) shingle exceeds
# the cap — previously the oracle kept those pairs and the contract silently
# diverged above DF 1000. ``sizes`` stays UNcapped: per-doc shingle counts
# (the Jaccard denominator) are computed before the posting-list filter on
# both sides.
def _pairs_ctes(max_df: int) -> str:
    return rf"""
    t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      FROM t, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    eligible AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING COUNT(*) BETWEEN 2 AND {max_df}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a
      JOIN eligible el ON a.shingle = el.shingle
      JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),"""


_PAIRS_CTES = _pairs_ctes(_MAX_DF) + rf"""
    jac AS (
      SELECT doc_a, doc_b,
             ROUND(n_common * 1.0 / (s1.n + s2.n - n_common), 4) AS jaccard
      FROM pairs
      JOIN sizes s1 ON doc_a = s1.doc_id
      JOIN sizes s2 ON doc_b = s2.doc_id
      WHERE n_common * 1.0 / (s1.n + s2.n - n_common) >= {_JACCARD_THRESHOLD}
    )
"""


@query(
    "dedup_ngram_jaccard",
    oracle=f"WITH {_PAIRS_CTES} SELECT doc_a, doc_b, jaccard FROM jac",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan: a posting-list inverted index — ONE wide shuffle on the
    shingle, a double explode and a pair count; no sort-merge self-join."""
    d = table(spark, sf_dir, "documents")
    return _jaccard_pairs(_shingles_hashed(d, 3))


# MinHash permutation constants: h_k(x) = (a_k * x + b_k) mod P over a
# 31-bit universe (P Mersenne prime, so a*h+b < 2^61 stays exact in int64 on
# BOTH engines). The ORACLE formats the same Python list into its VALUES
# table, so engine and oracle share the permutations by construction.
_MINHASH_P = 2147483647  # 2^31 - 1
_MINHASH_PERMS = [(999999937 + 2 * k, (k * 1000000007) % _MINHASH_P) for k in range(16)]
_MINHASH_BANDS = 4  # 4 bands x 4 rows over the 16 minhashes
_MINHASH_EST_MIN = 0.25  # drop single-band coincidences


def _minhash_ctes() -> str:
    """The MinHash candidate/estimate CTE chain (reps -> est), shared by
    the pair oracle and the cluster-closure oracle."""
    perms_values = ", ".join(f"({k}, {a}, {b})" for k, (a, b) in enumerate(_MINHASH_PERMS))
    return rf"""
    reps AS (
      SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
    ),
    tk AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM reps
    ),
    sh AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      FROM tk, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
    ),
    hx AS (
      SELECT doc_id,
             CAST(('0x' || substring(sha256(shingle), 1, 15)) AS BIGINT)
               % {_MINHASH_P} AS h
      FROM sh
    ),
    perms(k, a, b) AS (VALUES {perms_values}),
    mh AS (
      SELECT doc_id, k, MIN((a * h + b) % {_MINHASH_P}) AS m
      FROM hx, perms GROUP BY 1, 2
    ),
    sig AS (SELECT doc_id, list(m ORDER BY k) AS ms FROM mh GROUP BY 1),
    bands AS (
      SELECT doc_id, j,
             ms[4*j+1]::VARCHAR || ',' || ms[4*j+2] || ',' || ms[4*j+3]
               || ',' || ms[4*j+4] AS bsig
      FROM sig, unnest(generate_series(0, {_MINHASH_BANDS - 1})) AS v(j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b USING (j, bsig)
      WHERE a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.doc_a, c.doc_b,
             len(list_filter(generate_series(1, 16), i -> sa.ms[i] = sb.ms[i]))
               / 16.0 AS e
      FROM cand c
      JOIN sig sa ON c.doc_a = sa.doc_id
      JOIN sig sb ON c.doc_b = sb.doc_id
    )
    """


def _minhash_oracle() -> str:
    return f"""
    WITH {_minhash_ctes()}
    SELECT doc_a, doc_b, ROUND(e, 4) AS jaccard_est
    FROM est WHERE e >= {_MINHASH_EST_MIN}
    """


def _minhash_base_h(shingle_col: str) -> Column:
    """The MinHash base hash: first 60 bits of sha256(shingle) mod P."""
    return gram_key(shingle_col) % _MINHASH_P


def _minhash_pairs_from_reps(reps: DataFrame) -> DataFrame:
    """Declared-permutation MinHash+LSH candidate pairs with their match-
    fraction estimate, from an exact-dup-collapsed (doc_id, text) frame:
    (doc_a, doc_b, e). The dedup_minhash_lsh body, factored so
    eval_dedup_pr can score the SAME candidate generator against exact
    Jaccard ground truth — the two ops can never drift on shingling,
    permutations, or banding. Unthresholded: callers apply
    ``e >= _MINHASH_EST_MIN`` (or their own operating point)."""
    sh = _shingle_arrays(reps, 3)
    ex = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    hx = ex.select("doc_id", _minhash_base_h("shingle").alias("h"))
    return _minhash_pairs_from_hx(hx)


def _minhash_pairs_from_hx(hx: DataFrame) -> DataFrame:
    """MinHash+LSH pairs from an already-hashed (doc_id, h) shingle frame —
    the signature/banding/estimate tail of :func:`_minhash_pairs_from_reps`,
    split out so eval_dedup_pr can feed BOTH generators from one shared
    shingle pass instead of re-running the regex construction per branch."""
    sig = hx.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % _MINHASH_P).alias(f"m{k}")
            for k, (a, b) in enumerate(_MINHASH_PERMS)
        ]
    )
    # Signature table feeds three plan branches (two band sides + two
    # estimate sides); it's |unique docs| rows — materialize once.
    sig = sig.localCheckpoint()

    band_exprs = [
        F.concat_ws(",", *[F.col(f"m{4 * j + r}").cast("string") for r in range(4)])
        for j in range(_MINHASH_BANDS)
    ]
    bands = sig.select("doc_id", F.posexplode(F.array(*band_exprs)).alias("j", "bsig"))
    cand = (
        bands.select(F.col("doc_id").alias("doc_a"), "j", "bsig")
        .join(bands.select(F.col("doc_id").alias("doc_b"), "j", "bsig"), ["j", "bsig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"m{k}").alias(f"a{k}") for k in range(16)]
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"m{k}").alias(f"b{k}") for k in range(16)]
    )
    matches = sum((F.col(f"a{k}") == F.col(f"b{k}")).cast("int") for k in range(16))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", (matches / F.lit(16.0)).alias("e"))
    )


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates, engine-native and ORACLE-EXACT.

    spark.ml's MinHashLSH seeds its permutations from a Scala RNG no other
    engine can replay, which forced a rows-only check (the round-3 state).
    This implementation derives the base hash from sha256 (first 60 bits,
    reduced mod 2^31-1) and applies declared (a_k x + b_k) mod P
    permutations — every step exact 64-bit integer arithmetic both engines
    compute bit-identically, so the probabilistic operator gets a FULL
    value-hash oracle: same candidates, same estimates, including banding
    false positives.

    Plan shape (the 100 TB story): exact-dup collapse -> one shingle
    explode + sha -> ONE partial-aggregated groupBy building all 16
    minhashes -> 4-row band explode of the |docs|-sized signature table ->
    band equi-join for candidates -> signature re-join for the estimate.
    Sub-quadratic: pair work is bounded by band collisions, never N^2.
    spark.ml variant retained as dedup_minhash_ml (rows-only).

    Oracle independence: the only VALUES block is the pinned permutation
    constant table (a_k, b_k) — module literals shared BY DESIGN;
    shingling, sha hashing, signatures, banding and estimates are all
    recomputed in SQL from the documents table.
    """
    d = table(spark, sf_dir, "documents")
    reps = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    est = _minhash_pairs_from_reps(reps)
    return est.filter(F.col("e") >= _MINHASH_EST_MIN).select(
        "doc_a", "doc_b", F.round("e", 4).alias("jaccard_est")
    )


@query("dedup_minhash_ml")  # rows-only: spark.ml's RNG-seeded banding, no SQL oracle
def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates via spark.ml (deterministic seed).

    Pipeline: shingle set -> HashingTF sparse vector -> MinHashLSH
    approxSimilarityJoin at Jaccard distance <= 0.4. The LSH banding makes
    this sub-quadratic — the scale path when the exact shingle join is too
    hot. Recall is probabilistic; the exact dedup_ngram_jaccard is the
    correctness anchor.

    Rows-only BY DESIGN, permanently: spark.ml's MinHashLSH draws its hash
    coefficients from the JVM's seeded RNG, which no SQL engine can replay,
    so a DuckDB value oracle is impossible in principle — not a gap to close.
    The correctness burden is carried by the driver-hash-proven exact twins
    (dedup_minhash_lsh with declared permutations, dedup_ngram_jaccard);
    this entry exists to keep the spark.ml integration surface exercised.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = table(spark, sf_dir, "documents")
    # Collapse exact duplicates first (pipeline order, see SCALE.md): exact
    # copies collide in EVERY hash table, so raw input makes LSH candidate
    # volume grow with copy-count squared while adding zero information —
    # those pairs are dedup_exact's job. Representatives = min doc_id.
    d = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    sh = _shingle_arrays(d, 3)  # already per-doc distinct arrays: no explode/collect round trip
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    # No size>0 filter needed: size(toks)>=3 upstream guarantees >=1 shingle,
    # and an explicit filter here would get its expression pushed below the
    # repartition, double-evaluating the shingle construction.
    # localCheckpoint: approxSimilarityJoin references feats as BOTH sides
    # and its internal explode/join re-executes the lineage several times —
    # materialize the (small: one sparse vector per unique doc) frame once.
    feats = tf.transform(sh).localCheckpoint()
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, 0.4, distCol="jaccard_dist")
    return (
        joined.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(1 - F.col("jaccard_dist"), 4).alias("jaccard_est"),
        )
    )


# The audited operating points: est thresholds at signature-match quartiles
# (4/16, 8/16, 12/16, 16/16 of the 16 minhashes) — every value k/16 is an
# exact double on both engines, so the e >= th comparisons are engine-
# identical. dedup_minhash_lsh ships the first (0.25).
_DEDUP_PR_THRESHOLDS = (0.25, 0.5, 0.75, 1.0)

_DEDUP_PR_COUNT_COLS = ",\n        ".join(
    f"CAST(SUM(CASE WHEN e >= {t} THEN 1 ELSE 0 END) AS BIGINT) AS np_{i},\n"
    f"        CAST(SUM(CASE WHEN has_t AND e >= {t} THEN 1 ELSE 0 END)"
    f" AS BIGINT) AS tp_{i}"
    for i, t in enumerate(_DEDUP_PR_THRESHOLDS)
)


def _DEDUP_PR_PICK(col: str) -> str:
    whens = " ".join(
        f"WHEN {t} THEN {col}_{i}" for i, t in enumerate(_DEDUP_PR_THRESHOLDS)
    )
    return f"(CASE th.th {whens} END)"


_DEDUP_PR_PICK_COLS = (
    f"{_DEDUP_PR_PICK('np')} AS n_pred, {_DEDUP_PR_PICK('tp')} AS n_tp"
)


def _dedup_pr_oracle() -> str:
    """Compose the MinHash CTE chain with an x-prefixed exact-Jaccard
    chain (both over the shared ``reps`` universe) into the one-row
    precision/recall audit. The exact chain mirrors _pairs_ctes exactly
    (DISTINCT string shingles, DF in [2, _MAX_DF] posting cap, uncapped
    sizes) but reads FROM reps — renamed to avoid the minhash chain's
    ``sh`` CTE."""
    return f"""
    WITH {_minhash_ctes()},
    xt AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
           FROM reps),
    xsh AS (
      SELECT DISTINCT doc_id,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
      FROM xt, unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS u(i)
    ),
    xsizes AS (SELECT doc_id, COUNT(*) AS n FROM xsh GROUP BY doc_id),
    xeligible AS (
      SELECT shingle FROM xsh GROUP BY shingle
      HAVING COUNT(*) BETWEEN 2 AND {_MAX_DF}
    ),
    xpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM xsh a
      JOIN xeligible el ON a.shingle = el.shingle
      JOIN xsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b FROM xpairs
      JOIN xsizes s1 ON doc_a = s1.doc_id
      JOIN xsizes s2 ON doc_b = s2.doc_id
      WHERE n_common * 1.0 / (s1.n + s2.n - n_common) >= {_JACCARD_THRESHOLD}
    ),
    j AS (
      SELECT t.doc_a IS NOT NULL AS has_t, p.e AS e
      FROM truth t FULL OUTER JOIN est p USING (doc_a, doc_b)
    ),
    counts AS (
      SELECT
        CAST(SUM(CASE WHEN has_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
        {_DEDUP_PR_COUNT_COLS}
      FROM j),
    th(th) AS (VALUES (0.25), (0.5), (0.75), (1.0))
    SELECT CAST(th.th AS DOUBLE) AS th, n_truth,
           {_DEDUP_PR_PICK_COLS},
           CASE WHEN {_DEDUP_PR_PICK('np')} = 0 THEN 0.0
                ELSE ROUND(CAST({_DEDUP_PR_PICK('tp')} AS DOUBLE)
                           / CAST({_DEDUP_PR_PICK('np')} AS DOUBLE), 6)
             END AS prec,
           CASE WHEN n_truth = 0 THEN 0.0
                ELSE ROUND(CAST({_DEDUP_PR_PICK('tp')} AS DOUBLE)
                           / CAST(n_truth AS DOUBLE), 6)
             END AS rec,
           CASE WHEN n_truth + {_DEDUP_PR_PICK('np')} = 0 THEN 0.0
                ELSE ROUND(CAST(2 * {_DEDUP_PR_PICK('tp')} AS DOUBLE)
                           / CAST(n_truth + {_DEDUP_PR_PICK('np')} AS DOUBLE), 6)
             END AS f1
    FROM counts, th
    ORDER BY th
    """


@query("eval_dedup_pr", oracle=_dedup_pr_oracle())
def eval_dedup_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-curve audit of the MinHash-LSH candidate generator —
    eval_ann_recall's analog for the dedup stack. MinHash banding is the
    100 TB near-dup path and it loses pairs BY DESIGN (at exact Jaccard
    s the 4x4 banding catches 1-(1-s^4)^4 — only ~43% at s = 0.6); this
    op measures exactly what each operating point loses and admits:
    predicted = the LSH candidate set at est >= th for each signature-
    match quartile th in {0.25, 0.5, 0.75, 1.0} (the first is
    dedup_minhash_lsh's shipped threshold; via the shared
    _minhash_pairs_from_reps so the ops cannot drift), truth = the exact
    posting-list Jaccard >= 0.6 pairs (the dedup_ngram_jaccard
    machinery), BOTH over the same exact-dup-collapsed rep universe.
    One row per threshold with exact TP/truth/pred counts and rounded
    precision/recall/F1 — the curve a pipeline owner reads when choosing
    bands x rows (a single point would be blind: on near-verbatim
    corpora like this one the 0.25 point sits at recall 1.0 and only
    the strict 16/16 point shows the loss — measured across SFs).

    Exactness: both pair sets are exact integer-keyed; per-threshold
    counts are conditional sums over ONE full-outer pair-level equi-join
    (e = matches/16 and every th are exact doubles, so e >= th is
    engine-identical); P/R/F1 are int64/int64 double divisions + ROUND-6
    with zero-guards (CASE on both engines). The truth side carries
    _pairs_ctes' DF-cap semantics (pairs only from shingles with
    document frequency in [2, _MAX_DF]) — the exact op's scale guard.

    Plan at 100 TB: the union of the two proven sub-quadratic shapes —
    the posting-list explode (bounded by the DF cap) and the band
    equi-join (bounded by band collisions) — then a pair-level
    full-outer hash join of two candidate-sized sets, a 1-row
    conditional-sum fold, and a bounded 4-row in-row struct explode for
    the curve (thresholds never join — no NLJ, no windows, nothing
    collects); total cost is the cost of the two generators compared.
    """
    d = table(spark, sf_dir, "documents")
    # Both generators consume reps (text included — they shingle it), so
    # without materialization each branch re-runs the exact-dup collapse
    # shuffle over the corpus. localCheckpoint trades that second full
    # shuffle for an executor-local write of |unique docs| rows (the same
    # call the sig table below already makes); measured 2.99 -> 2.57 s at
    # sf0.1 (warm interleaved medians).
    reps = d.groupBy("text").agg(F.min("doc_id").alias("doc_id")).localCheckpoint()
    # ONE shared shingle pass for both generators (r15 optimization): the
    # regex n-gram construction + explode runs once, emitting BOTH internal
    # keys — the posting-list xxhash64 and the MinHash sha-based base hash —
    # in the same scan-stage projection, materialized as a compact
    # (doc_id, n, 2 longs) frame. Before, each branch re-ran the regex pass
    # over reps (_shingles_hashed and _minhash_pairs_from_reps each call
    # _shingle_arrays). Key values are unchanged — identical pair output.
    arr = _shingle_arrays(reps, 3)
    sh_both = (
        arr.select(
            "doc_id",
            F.size("shingles").alias("n"),
            F.explode_outer("shingles").alias("s"),
        )
        .select(
            "doc_id",
            "n",
            F.xxhash64("s").alias("shingle"),
            _minhash_base_h("s").alias("h"),
        )
        .localCheckpoint()
    )
    truth = _jaccard_pairs(sh_both.select("doc_id", "n", "shingle")).select(
        "doc_a", "doc_b", F.lit(1).alias("t")
    )
    pred = _minhash_pairs_from_hx(sh_both.select("doc_id", "h")).select(
        "doc_a", "doc_b", "e"
    )
    j = truth.join(pred, ["doc_a", "doc_b"], "full_outer").select(
        F.col("t").isNotNull().alias("has_t"), "e"
    )
    counts = j.agg(
        F.count(F.when(F.col("has_t"), 1)).cast("long").alias("n_truth"),
        *[
            c
            for i, t in enumerate(_DEDUP_PR_THRESHOLDS)
            for c in (
                F.count(F.when(F.col("e") >= t, 1)).cast("long").alias(f"np_{i}"),
                F.count(F.when(F.col("has_t") & (F.col("e") >= t), 1))
                .cast("long")
                .alias(f"tp_{i}"),
            )
        ],
    )
    curve = counts.select(
        "n_truth",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(t)).alias("th"),
                        F.col(f"np_{i}").alias("n_pred"),
                        F.col(f"tp_{i}").alias("n_tp"),
                    )
                    for i, t in enumerate(_DEDUP_PR_THRESHOLDS)
                ]
            )
        ).alias("row"),
    ).select("row.th", "n_truth", "row.n_pred", "row.n_tp")

    def _ratio(num, den):
        return F.when(den == 0, F.lit(0.0)).otherwise(
            F.round(num.cast("double") / den.cast("double"), 6)
        )

    return curve.select(
        "th",
        "n_truth",
        "n_pred",
        "n_tp",
        _ratio(F.col("n_tp"), F.col("n_pred")).alias("prec"),
        _ratio(F.col("n_tp"), F.col("n_truth")).alias("rec"),
        _ratio(F.lit(2) * F.col("n_tp"), F.col("n_truth") + F.col("n_pred")).alias("f1"),
    ).orderBy("th")


_SIMHASH_BITS = 60  # 15 hex chars of sha256: exact int64 on both engines


@query(
    "dedup_simhash",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents
    ),
    hx AS (
      SELECT doc_id,
             CAST(('0x' || substring(sha256(tok), 1, 15)) AS BIGINT) AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hx, unnest(generate_series(0, {_SIMHASH_BITS - 1})) AS u(b)
      GROUP BY 1, 2
    ),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM votes GROUP BY 1
    )
    SELECT doc_id, simhash,
           (simhash >> 0) & 32767 AS band0,
           (simhash >> 15) & 32767 AS band1,
           (simhash >> 30) & 32767 AS band2,
           (simhash >> 45) & 32767 AS band3
    FROM sig
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document, pure DataFrame bit arithmetic — and
    ORACLE-EXACT since r4: the per-token hash is the sha256 60-bit slice
    (same cross-engine primitive as dedup_minhash_lsh) instead of
    engine-private xxhash64, so signatures, not just row counts, are
    verified. Each token occurrence votes +-1 per bit position; the sign
    vector reassembles into the signature. Near-dup candidates are docs
    agreeing on a 15-bit band (4-band blocking) — band0..band3 make the
    banded self-join a plain equi-join downstream.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(ws_tokens("text")).alias("tok"))
    h = gram_key("tok")
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(h.bitwiseAND(F.shiftleft(F.lit(1).cast("long"), b)) != 0, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    sig = None
    for b in range(_SIMHASH_BITS):
        term = F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig.bitwiseOR(term)
    out = bit_sums.select("doc_id", sig.alias("simhash"))
    bands = [
        (F.shiftrightunsigned(F.col("simhash"), 15 * i).bitwiseAND(F.lit(0x7FFF).cast("long"))).alias(
            f"band{i}"
        )
        for i in range(4)
    ]
    return out.select("doc_id", "simhash", *bands)


def cluster_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized, deduplicated near-dup edge list — the pair-generation
    half of dedup_clusters, exposed so bench.py can time it apart from the
    propagation rounds. Eagerly materialized (localCheckpoint) so timing the
    call + count covers exactly the pair-generation work.

    No distinct(): the jaccard pairs are unique with doc_a < doc_b (they
    come out of a groupBy), so the forward and reversed halves are disjoint
    and their union is already a set — a distinct here would be a pure-waste
    full shuffle of the edge list.

    The pair list is checkpointed BEFORE the symmetrizing union: the two
    union branches share the same shingle-join plan, and while AQE's
    ReusedExchange dedupes the scan+shuffle, the post-shuffle pair
    aggregation still executes once per branch — materializing the (tiny)
    pair list first halves that work (measured ~20% off pairgen at sf0.1)."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    return (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .localCheckpoint()
    )


def propagate_min_labels(edges: DataFrame, max_rounds: int = 50):
    """Min-label propagation with pointer jumping, to an exact fixpoint.

    Each round every node takes the min of its own label, its neighbors'
    labels (one graph hop), and its LABEL'S label (pointer jumping — the
    shortcut step of large/small-star style connectivity): the reachable
    horizon doubles per round, so convergence is O(log diameter) rounds,
    not O(diameter). Dup clusters are usually star-shaped (2-3 rounds
    either way), but chain-shaped clusters — templated documents drifting
    gradually — have real diameter, and a plain-propagation round cap
    would return non-converged labels SILENTLY there; with jumping the cap
    covers components of diameter ~2^max_rounds, and exhausting it raises
    rather than mislabeling. localCheckpoint per round truncates the
    growing lineage (the standard Spark idiom for iterative algorithms);
    convergence is an exact fixpoint test. Returns (labels, rounds_run);
    rounds_run includes the final no-change round that proves convergence.

    Loop structure was A/B-measured in r4: one propagation step per
    localCheckpoint with a separate fixpoint count beat both carrying the
    previous label through the aggregation and two hops per checkpoint —
    deeper per-materialization plans lost (~2.1s vs ~3.0s, sf0.1).
    """
    # Convergence via the label-sum invariant: every step takes mins of
    # existing labels, so per-node labels NEVER increase — sum(lbl) is
    # strictly decreasing until the fixpoint and constant exactly there.
    # One single-column aggregate over the just-checkpointed frame replaces
    # the old per-round join(old, new) + limit(1) + count job (a full extra
    # shuffle per round). decimal(38,0) keeps the sum exact for any node-id
    # range (int64 ids x trillions of nodes overflows BIGINT at 100 TB).
    def _lbl_sum(frame: DataFrame):
        return frame.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).collect()[0][0]

    # Round 1 folded into the edge list (r15, guide §2.4): r0 labels are the
    # node ids themselves, so round 1's edges-join + union + min collapses to
    # ONE groupBy straight off the symmetric edges — no separate node-universe
    # distinct, no init checkpoint, no init sum job, no round-1 join. (The
    # node universe is distinct(src), which groupBy(src) reproduces exactly;
    # an initial fixpoint check is unnecessary because any edge strictly
    # lowers its larger endpoint's label — for the empty edge list the
    # ``new_sum is None`` arm converges in round 1, matching the old code.)
    # Measured on the dedup_clusters_unique edge kind: 3.93 -> 3.40 s median
    # for edges+propagation end to end (warm interleaved, noop).
    labels = None
    prev_sum: object = object()  # sentinel: never equal to a real sum
    rounds = 0
    converged = False
    for _ in range(max_rounds):
        rounds += 1
        if labels is None:
            hop = (
                edges.select(
                    F.col("src").alias("node"), F.least("src", "dst").alias("lbl")
                )
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"))
            )
        else:
            msgs = edges.join(labels, edges.dst == labels.node).select(
                edges.src.alias("node"), "lbl"
            )
            hop = (
                msgs.unionByName(labels)
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"))
            )
        # Pointer jump: replace each node's label with its label's label
        # (always <= — labels only decrease and node lbl's own label is
        # <= lbl). The join's build side is the label table itself.
        new_labels = (
            hop.join(
                hop.select(
                    F.col("node").alias("jnode"), F.col("lbl").alias("jlbl")
                ),
                hop.lbl == F.col("jnode"),
                "left",
            )
            .select("node", F.coalesce("jlbl", "lbl").alias("lbl"))
            .localCheckpoint()
        )
        new_sum = _lbl_sum(new_labels)
        labels = new_labels
        if new_sum is None or new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"label propagation did not reach a fixpoint in {max_rounds} rounds"
            " — component diameter exceeds ~2^rounds; raise max_rounds"
        )
    return labels, rounds


def doc_clusters(edges: DataFrame) -> DataFrame:
    """``(doc_id, cluster_id, cluster_size)`` for every node of a symmetric
    near-dup edge list: the propagate_min_labels components, each node
    joined to its component's size (one broadcast row per cluster)."""
    labels, _rounds = propagate_min_labels(edges)
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(F.broadcast(sizes), "lbl").select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        "cluster_size",
    )


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM jac
      UNION
      SELECT doc_b, doc_a FROM jac
    ),
    nodes AS (SELECT DISTINCT a AS n FROM edges),
    reach(n, m) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
    )
    SELECT n AS doc_id, MIN(m) AS cluster_id, COUNT(*) AS cluster_size
    FROM reach GROUP BY n
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup graph — the cluster-resolution
    step that turns pairwise matches into keep-one-per-group decisions.

    Split into ``cluster_edges`` (pair generation) + ``propagate_min_labels``
    (iterative closure) so the bench harness can attribute time between the
    two halves; the round count propagate_min_labels returns is pinned
    against the fixture's diameter bound in tests/test_probabilistic.py. The oracle computes the same components via
    a recursive-CTE transitive closure (viable at oracle scale only —
    closure is quadratic per component, label propagation is linear).
    """
    edges = cluster_edges(spark, sf_dir)
    return doc_clusters(edges)


@query(
    "dedup_ngram_unique",
    oracle=f"""
    WITH documents_u AS (
      SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
    ),
    {_PAIRS_CTES.replace("FROM documents", "FROM documents_u")}
    SELECT doc_a, doc_b, jaccard FROM jac
    """,
)
def dedup_ngram_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs over UNIQUE texts — the scale-correct pipeline order.

    Measured at 10x duplicated data (SCALE.md): running the shingle join on
    raw docs is super-linear (every exact copy multiplies shingle document
    frequency, join pairs grow with copy-count squared, 1.3s -> 17.2s);
    collapsing exact duplicates first (one hash agg) holds the join input at
    |unique texts| regardless of duplication. Pairs are reported between
    cluster representatives (min doc_id per text).
    """
    d = table(spark, sf_dir, "documents")
    reps = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return _jaccard_pairs(_shingles_hashed(reps, 3))


@query(
    "dedup_clusters_unique",
    oracle=f"""
    WITH RECURSIVE documents_u AS (
      SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
    ),
    {_PAIRS_CTES.replace("FROM documents", "FROM documents_u")},
    grp AS (
      SELECT text, MIN(doc_id) AS rep, COUNT(*) AS n FROM documents GROUP BY text
    ),
    exact_e AS (
      SELECT d.doc_id AS a, g.rep AS b
      FROM documents d JOIN grp g USING (text)
      WHERE g.n >= 2 AND d.doc_id <> g.rep
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM jac
      UNION SELECT doc_b, doc_a FROM jac
      UNION SELECT a, b FROM exact_e
      UNION SELECT b, a FROM exact_e
    ),
    nodes AS (SELECT DISTINCT a AS n FROM edges),
    reach(n, m) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a
    )
    SELECT n AS doc_id, MIN(m) AS cluster_id, COUNT(*) AS cluster_size
    FROM reach GROUP BY n
    """,
)
def dedup_clusters_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components with pair generation in UNIQUE-text space — the
    scale-correct cluster pipeline (the dedup_ngram_unique lesson lifted to
    clusters).

    dedup_clusters feeds on raw-document pairs, whose count grows with
    copy-count squared under exact duplication (measured at sf0.1, 10x
    duplicated: 512 -> 501,200 edges, pairgen 1.8s -> 12.9s while
    propagation stayed ~2 rounds — SCALE.md). Here the near-dup join runs
    over exact-dup representatives only, and each duplicate group of n >= 2
    joins the graph as a star to its representative (one edge per copy);
    edge count is |rep pairs| + |copies|, linear in duplication. Cluster
    ids remain the member-min doc_id because every copy's id >= its
    representative's (rep = MIN per text). Declared as its own operator —
    not a drop-in rewrite of dedup_clusters — because the _MAX_DF posting
    cap binds on collapsed document frequencies here (the 100 TB semantics
    you actually want: duplication shouldn't push shingles over the cap).

    The exact-dup collapse is ONE digest groupBy: group on sha2(text)
    (identical partition of rows to GROUP BY text — a 32-byte key instead
    of the full document), carrying the text via first() so map-side
    combine collapses local copies before the exchange. The collapsed
    frame is checkpointed once and feeds BOTH the shingle join (reps) and
    the star edges — the earlier version paid a second full-text groupBy
    inside dedup_ngram_unique plus a third scan for the star join.
    """
    edges = cluster_edges_unique(spark, sf_dir)
    return doc_clusters(edges)


def cluster_edges_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized edge list for dedup_clusters_unique — rep-space near-dup
    pairs plus exact-group star edges, eagerly materialized so bench.py can
    time pair generation apart from the propagation rounds (the same
    attribution split cluster_edges provides for dedup_clusters)."""
    d = table(spark, sf_dir, "documents")
    withh = d.select("doc_id", "text", F.sha2("text", 256).alias("h"))
    grp = (
        withh.groupBy("h")
        .agg(
            F.min("doc_id").alias("rep"),
            F.first("text").alias("text"),  # same h => same text
            F.count(F.lit(1)).alias("n"),
        )
        .localCheckpoint()
    )
    reps = grp.select(F.col("rep").alias("doc_id"), "text")
    pairs_u = _jaccard_pairs(_shingles_hashed(reps, 3)).select("doc_a", "doc_b")
    exact = (
        withh.drop("text")
        .join(grp.filter(F.col("n") >= 2).select("h", "rep"), "h")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("doc_id").alias("doc_a"), F.col("rep").alias("doc_b"))
    )
    pairs = pairs_u.unionByName(exact).localCheckpoint()
    return (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .localCheckpoint()
    )


def _dedup_embedding_oracle() -> str:
    from wri_data_processing_spark.queries.llm_similarity import ivf_assign_ctes

    return f"""
    WITH {ivf_assign_ctes()},
    dups AS (
      SELECT DISTINCT b.vec_id AS dup_id
      FROM assigned a
      JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                   CAST(eb.embedding AS DOUBLE[])) >= 0.45)
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE NOT EXISTS (SELECT 1 FROM dups d WHERE d.dup_id = e.vec_id)
    """


@query("dedup_embedding", oracle=_dedup_embedding_oracle())
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup, bucketed (the scale-safe default):
    drop every vector with a lower-id SAME-BUCKET neighbor at cosine >= tau;
    keep-first semantics, fully deterministic.

    Candidates come from the deterministic IVF bucket equi-join (ivf_assign:
    int64 fixed-point assignment, so both engines agree on every bucket
    boundary), verified by exact cosine — the round-1 O(N^2) broadcast theta
    self-join never materializes. The oracle replicates the bucketing, so
    the declared contract IS the bucketed semantics; dedup_embedding_exact
    keeps the exhaustive all-pairs anchor for broadcastable inputs. The
    final anti-join broadcasts: duplicates are a small fraction of the
    corpus.
    """
    from wri_data_processing_spark.queries.llm_similarity import bucketed_pair_candidates

    e = table(spark, sf_dir, "embeddings")
    return _drop_near_dups(e, bucketed_pair_candidates(e.select("vec_id", "embedding")))


def _drop_near_dups(e: DataFrame, pairs: DataFrame) -> DataFrame:
    """(vec_id, label) of ``e`` without every vector that is the higher id
    vec_b of a candidate pair (vec_a, vec_b, ea, eb, na, nb) at cosine >=
    0.45: keep-first semantics. The anti-join broadcasts: duplicates are a
    small fraction of the corpus."""
    from wri_data_processing_spark.queries.llm_similarity import cosine_from_norms

    dups = (
        pairs.filter(
            cosine_from_norms(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")) >= 0.45
        )
        .select(F.col("vec_b").alias("dup_id"))
        .distinct()
    )
    return e.join(F.broadcast(dups), e.vec_id == F.col("dup_id"), "left_anti").select(
        "vec_id", "label"
    )


@query(
    "dedup_embedding_exact",
    oracle="""
    SELECT e1.vec_id, e1.label
    FROM embeddings e1
    WHERE NOT EXISTS (
      SELECT 1 FROM embeddings e2
      WHERE e2.vec_id < e1.vec_id
        AND list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
                                   CAST(e2.embedding AS DOUBLE[])) >= 0.45
    )
    """,
)
def dedup_embedding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive all-pairs variant of dedup_embedding — the correctness
    anchor. O(N^2) with a broadcast side: valid only for corpora that fit a
    broadcast; the registered scale path is dedup_embedding's bucketed
    candidates + exact verify."""
    from wri_data_processing_spark.queries.llm_similarity import pair_sides

    # r15: norms once per VECTOR (the sim_pairs_exact shape) instead of
    # inside the per-pair cosine — bit-identical (cosine_from_norms keeps
    # the same dot/(na*nb) association), O(N) instead of O(N^2) norm folds,
    # and the per-pair filter carries ONE unrolled dot instead of three
    # (the 3-fold inline blew janino's 64 KB method limit and dropped the
    # whole stage to interpreted fallback).
    e = table(spark, sf_dir, "embeddings")
    a, b = pair_sides(e)
    return _drop_near_dups(e, a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b")))


_SEMDEDUP_TAU = 0.35  # this table's random-ish vectors top out ~0.51; real
# near-dup corpora run 0.95+ — the threshold is the deployment's dial.


def _dedup_semantic_oracle() -> str:
    from wri_data_processing_spark.queries.llm_similarity import ivf_assign_ctes

    return f"""
    WITH {ivf_assign_ctes()},
    csim AS (
      SELECT a.vec_id, a.cid,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS csim
      FROM assigned a
      JOIN embeddings e ON e.vec_id = a.vec_id
      JOIN embeddings c ON c.vec_id = a.cid),
    sp AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                   CAST(eb.embedding AS DOUBLE[])) >= {_SEMDEDUP_TAU}),
    drops AS (
      SELECT DISTINCT CASE WHEN ka.csim < kb.csim
                             OR (ka.csim = kb.csim AND sp.vec_a < sp.vec_b)
                           THEN sp.vec_b ELSE sp.vec_a END AS drop_id
      FROM sp
      JOIN csim ka ON ka.vec_id = sp.vec_a
      JOIN csim kb ON kb.vec_id = sp.vec_b)
    SELECT c.vec_id, c.cid, ROUND(c.csim, 6) AS centroid_sim,
           NOT EXISTS (SELECT 1 FROM drops d WHERE d.drop_id = c.vec_id) AS kept
    FROM csim c
    """


@query("dedup_semantic", oracle=_dedup_semantic_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, call same-cluster pairs above cosine tau semantic
    duplicates, and KEEP THE MEMBER FARTHEST FROM ITS CLUSTER CENTROID —
    the paper's keep rule (the atypical example carries more training
    signal than the prototypical one). This is the semantic complement of
    dedup_embedding's keep-lowest-id: same candidate topology, opposite
    survivor policy, and the policy is the point of the op.

    Drop rule, fully deterministic: v is dropped iff some same-cluster u
    with cos(u, v) >= tau precedes it in the keep order
    (centroid_sim ASC, vec_id ASC) — every duplicate pair loses its
    more-central member, so each duplicate group's minimum survives.
    Clusters come from the deterministic fixed-point IVF assignment
    (ivf_assign — kmeans-shaped, exact across engines), and centroids are
    corpus vectors, so centroid_sim is one exact cosine.

    Scale: candidate pairs are the fan-out bucket equi-join
    (bucketed_pair_candidates, ~(N/nlist)^2 per bucket with nlist ~
    sqrt(N)); centroid sims are one broadcast join of the nlist-row
    centroid table; the drop set is a small broadcast anti-side. No
    all-pairs stage anywhere — SemDeDup's own scaling argument, kept.
    """
    from wri_data_processing_spark.queries.llm_similarity import (
        _IVF_NLIST,
        _dvec,
        bucketed_pair_candidates,
        cosine_from_norms,
        ivf_assign,
        vec_norm,
    )

    e = table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(e.select("vec_id", "embedding"))
    c = e.filter(F.col("vec_id") < _IVF_NLIST).select(
        F.col("vec_id").alias("cid"),
        _dvec("embedding").alias("cv"),
        vec_norm(_dvec("embedding")).alias("cn"),
    )
    csim = (
        e.join(assigned, "vec_id")
        .join(F.broadcast(c), "cid")
        .select(
            "vec_id",
            "cid",
            cosine_from_norms(
                _dvec("embedding"), F.col("cv"), vec_norm(_dvec("embedding")), F.col("cn")
            ).alias("csim"),
        )
    )
    pairs = bucketed_pair_candidates(e.select("vec_id", "embedding")).filter(
        cosine_from_norms(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"))
        >= _SEMDEDUP_TAU
    )
    ka = csim.select(F.col("vec_id").alias("vec_a"), F.col("csim").alias("csim_a"))
    kb = csim.select(F.col("vec_id").alias("vec_b"), F.col("csim").alias("csim_b"))
    drops = (
        pairs.select("vec_a", "vec_b")
        .join(ka, "vec_a")
        .join(kb, "vec_b")
        .select(
            F.when(
                (F.col("csim_a") < F.col("csim_b"))
                | ((F.col("csim_a") == F.col("csim_b")) & (F.col("vec_a") < F.col("vec_b"))),
                F.col("vec_b"),
            )
            .otherwise(F.col("vec_a"))
            .alias("drop_id")
        )
        .distinct()
    )
    return csim.join(
        F.broadcast(drops), csim.vec_id == F.col("drop_id"), "left"
    ).select(
        "vec_id",
        "cid",
        F.round("csim", 6).alias("centroid_sim"),
        F.col("drop_id").isNull().alias("kept"),
    )


@query(
    "dedup_incremental",
    oracle="""
    WITH existing AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 < 8
    ),
    incoming AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 >= 8
    ),
    novel AS (
      SELECT i.doc_id, i.h FROM incoming i
      WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.h = i.h)
    )
    SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM novel GROUP BY h
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (resume-style) exact dedup: an incoming batch is deduped
    against the ALREADY-INGESTED corpus by content hash, then within
    itself (keep lowest doc_id per hash) — the reference's anti-join
    resume pattern (`scripts/00b_extract_metadata_all.R:57-74`) applied to
    corpus ingestion.

    doc_id % 10 splits the table into a standing corpus (80%) and an
    incoming batch (20%) deterministically. Plan: the existing side is
    reduced to DISTINCT hashes before the LEFT ANTI join — at 100 TB that
    distinct-hash table is the ingest ledger you keep materialized
    (bucketed by hash), so each nightly batch joins against it without
    rescanning the corpus; the anti join + groupBy share one hash
    partitioning.
    """
    d = table(spark, sf_dir, "documents")
    existing = (
        d.filter(F.col("doc_id") % 10 < 8).select(F.md5("text").alias("h")).distinct()
    )
    incoming = d.filter(F.col("doc_id") % 10 >= 8).select("doc_id", F.md5("text").alias("h"))
    novel = incoming.join(existing, "h", "left_anti")
    return novel.groupBy("h").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
    ).drop("h")


@query(
    "dedup_report_by_source",
    oracle=f"""
    WITH {_PAIRS_CTES},
    flagged AS (
      SELECT doc_a AS doc_id FROM jac
      UNION
      SELECT doc_b FROM jac
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE f.doc_id IS NOT NULL) AS BIGINT)
             AS n_near_dup,
           COUNT(*) FILTER (WHERE f.doc_id IS NOT NULL) * 1.0 / COUNT(*)
             AS near_dup_rate
    FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id
    GROUP BY d.source
    """,
)
def dedup_report_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplication rate per source: which shards of the corpus are
    polluting it — the report that decides where dedup budget goes (and
    the aggregate view the reference's quarantine split produced for
    assumption failures, `00b_extract_metadata_all.R:163-177`).

    Reuses the exact Jaccard pair plan (dedup_ngram_jaccard), collapses
    pairs to a flagged-doc set, and left-joins it back as a boolean per
    document — conditional counts per source close it out. The flagged
    set is |near-dup docs| (small); it broadcasts. The rate is a ratio of
    exact counts in one double division.
    """
    d = table(spark, sf_dir, "documents")
    pairs = _jaccard_pairs(_shingles_hashed(d, 3))
    flagged = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select("doc_b"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        d.join(F.broadcast(flagged), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce("is_dup", F.lit(0))).cast("long").alias("n_near_dup"),
            (
                F.sum(F.coalesce("is_dup", F.lit(0))) * 1.0 / F.count(F.lit(1))
            ).alias("near_dup_rate"),
        )
    )


_CONTAINMENT_THRESHOLD = 0.9


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_PAIRS_CTES}
    SELECT doc_a, doc_b,
           ROUND(n_common * 1.0 / s1.n, 4) AS cont_a_in_b,
           ROUND(n_common * 1.0 / s2.n, 4) AS cont_b_in_a
    FROM pairs
    JOIN sizes s1 ON doc_a = s1.doc_id
    JOIN sizes s2 ON doc_b = s2.doc_id
    WHERE greatest(n_common * 1.0 / s1.n, n_common * 1.0 / s2.n)
            >= {_CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment near-dup: catches SUBSET duplication.

    Jaccard misses the case where a short document is wholly embedded in
    a much longer one (|A∩B|/|A∪B| stays small when |B| >> |A|);
    containment |A∩B|/|A| is the standard asymmetric fix for
    quote/excerpt/concatenation dedup in training-data pipelines. Same
    single-shuffle posting-list plan as dedup_ngram_jaccard (packed
    (doc_id, size) int64s, document-frequency cap as the scale guard);
    only the final ratio differs — both directions come from one pair
    row for free. Ratios are exact-int divisions, bit-stable.
    """
    d = table(spark, sf_dir, "documents")
    cab = F.col("n_common") / (F.col("a") % _PACK)
    cba = F.col("n_common") / (F.col("b") % _PACK)
    # No size bound: a short document can sit wholly inside a long one.
    return _posting_pairs(
        _shingles_hashed(d, 3),
        _MAX_DF,
        F.lit(True),
        F.greatest(cab, cba) >= _CONTAINMENT_THRESHOLD,
        F.round(cab, 4).alias("cont_a_in_b"),
        F.round(cba, 4).alias("cont_b_in_a"),
    )


@query(
    "dedup_ngram_crossdoc",
    oracle=r"""
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
               FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   range(1, len(toks) - 3),
                   i -> array_to_string(toks[i:i+4], ' ')))) AS sh
          FROM t WHERE len(toks) >= 5),
    df AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM g GROUP BY 1)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           CAST(SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS shared_frac,
           CAST(SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) > 0.5 AS flagged
    FROM g JOIN df ON g.sh = df.sh
    GROUP BY g.doc_id
    """,
)
def dedup_ngram_crossdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MassiveText-style duplicated-ngram fraction: per document, the share
    of its distinct 5-gram shingles that also appear in ANOTHER document
    (document frequency > 1); docs past 50% are near-dup/boilerplate flags.

    Corpus-level dedup signal without any pairwise join: shingles explode
    once, document frequency is one map-side-combined aggregation on the
    shingle key, and the join back to per-doc rows reuses the same hash
    partitioning on sh, so Catalyst plans agg + join over a single
    exchange. At 100 TB the string shingle becomes xxhash64 (the
    _shingles_hashed fast path) and a document-frequency cap drops
    stop-shingles before the join — same guards dedup_ngram_jaccard ships.
    The oracle keeps plain strings so DuckDB can replay it verbatim.
    """
    d = table(spark, sf_dir, "documents")
    g = _shingle_arrays(d, 5).select(
        "doc_id", F.explode_outer("shingles").alias("sh")
    )
    df_tbl = g.groupBy("sh").agg(F.count(F.lit(1)).cast("long").alias("df"))
    shared = F.sum((F.col("df") > 1).cast("int")).cast("long")
    total = F.count(F.lit(1)).cast("long")
    return (
        g.join(df_tbl, "sh")
        .groupBy("doc_id")
        .agg(
            total.alias("n_shingles"),
            shared.alias("n_shared"),
            (shared.cast("double") / total.cast("double")).alias("shared_frac"),
            (shared.cast("double") / total.cast("double") > 0.5).alias("flagged"),
        )
    )


_SUBSTR_K = 40  # window length (chars) for exact substring-span dedup


@query(
    "dedup_substring",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, text, unnest(generate_series(1, length(text) - {_SUBSTR_K - 1})) AS i
      FROM documents WHERE length(text) >= {_SUBSTR_K}
    ),
    wins AS (
      SELECT doc_id, substr(sha256(substr(text, CAST(i AS BIGINT), {_SUBSTR_K})), 1, 16) AS wh
      FROM pos
    ),
    dup AS (
      SELECT wh FROM wins GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COUNT(d.wh) AS BIGINT) AS n_dup_windows
    FROM wins w LEFT JOIN dup d USING (wh)
    GROUP BY w.doc_id
    """,
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup (the ExactSubstr method of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): every
    {k}-char window of every document is hashed; a window whose hash occurs
    in >= 2 DISTINCT documents marks a duplicated span. Output is the
    per-document span coverage — total windows and cross-document duplicated
    windows, both exact BIGINT counts (the downstream cut is a pure filter
    on n_dup_windows / n_windows).

    Engine-exact across Spark and DuckDB: windows are codepoint substrings,
    the window key is the first 16 hex chars of sha256 (identical on both),
    and all outputs are integer counts — no floats anywhere.

    Spark plan: window POSITIONS are exploded and the hash computed in the
    same WholeStageCodegen projection (r16 — the prior transform(sequence)
    lambda evaluated interpreted per window), so only (doc_id, 16-char key)
    pairs leave the scan stage — the document text itself never enters the
    exchange. Two shuffles total: the posting aggregation on wh (map-side
    combined; the >= 2-distinct-docs test is min(doc_id) != max(doc_id), a
    one-phase aggregate) and the per-doc coverage aggregation; the dup-key
    semi side is left to AQE to broadcast when small.

    100 TB notes: suffix-array ExactSubstr is a sequential algorithm; this
    windowed formulation is the shuffle-native equivalent and is exact for
    spans >= k at stride 1. The posting-table-shrinking scale lever is NOT
    positional striding — two documents sharing a span at different offsets
    sample different residues mod s, so stride-on-both-sides loses the
    collision guarantee — it is content-defined sampling: see
    dedup_substring_winnow (local-min winnowing, guarantee restored for
    spans >= k + w - 1). A document-frequency cap on window hashes (the
    _MAX_DF lesson) bounds boilerplate hot keys; it is a size() filter on
    the posting list and changes only which spans are REPORTED, never
    invents one.
    """
    d = table(spark, sf_dir, "documents")
    return substring_window_coverage(d, _SUBSTR_K)


def substring_window_coverage(d: DataFrame, k: int) -> DataFrame:
    """Per-doc (n_windows, n_dup_windows) over all k-char windows; a window
    is dup when its hash occurs in >= 2 distinct docs. Exact at stride 1.

    Branch note (ADVICE r5): ``wins`` feeds both the dup-key aggregation and
    the final coverage aggregation, so the sha2-over-every-window pass runs
    twice (no exchange reuse: one branch partial-aggregates before its
    shuffle). Measured A/B at sf0.1: localCheckpoint(eager=False) on wins is
    NOT a win locally (0.654 s vs 0.635 s — materializing ~1.3M (doc_id,
     16-char-key) rows costs what the saved hash pass earns). On a cluster
    where the hash pass dominates CPU and executors have local disk, that
    one-line checkpoint is the lever to flip; kept un-flipped here so the
    local bench keeps measuring the honest two-pass cost."""
    return _dup_coverage(_window_hashes(d, k), "wh", "n_windows", "n_dup_windows")


def _window_hashes(d: DataFrame, k: int, *passengers: Column) -> DataFrame:
    """(doc_id, *passengers, wh): the 16-hex-char sha256 prefix ``wh`` of
    every k-char window of each document's ``text`` at stride 1, with the
    window's 1-based start ``i`` in scope for ``passengers``.

    r16 (guide §4.1, the r15 lang-id lesson): the per-window hash used to
    be a transform(sequence(...)) lambda, which Spark evaluates INTERPRETED
    per element — every window paid non-codegen expression dispatch around
    its sha2. Exploding the POSITIONS first and hashing in the downstream
    projection keeps the whole pass inside one WholeStageCodegen span
    (Generate -> Project); the text column never leaves the stage, and the
    window stream — same positions, same sha2, same substring — is
    byte-identical."""
    return (
        spread_small_scan(d.filter(F.length("text") >= k))
        .select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(1), F.length("text") - (k - 1))).alias("i"),
        )
        .select(
            "doc_id",
            *passengers,
            F.substring(
                F.sha2(F.col("text").substr(F.col("i"), F.lit(k)), 256), 1, 16
            ).alias("wh"),
        )
    )


def _cross_doc_keys(rows: DataFrame, key: str, *extra: Column) -> DataFrame:
    """(key, *extra): the values of ``key`` in (doc_id, key) ``rows`` that
    occur in >= 2 distinct documents.

    r16 (guide §2.3 "aggregate before you shuffle"): ">= 2 distinct docs"
    is exactly min(doc_id) != max(doc_id) — two plain long buffers in ONE
    HashAggregate phase instead of count_distinct's two-level
    (key, doc_id)-keyed distinct aggregation, so the exchange carries one
    (key, min, max) partial per map task instead of every distinct
    (key, doc_id) pair."""
    return (
        rows.groupBy(key)
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select(key, *extra)
    )


def _dup_coverage(rows: DataFrame, key: str, total: str, dups: str) -> DataFrame:
    """Per doc_id of (doc_id, key) ``rows``: the row count as ``total`` and
    the count of rows whose key occurs in >= 2 distinct documents as
    ``dups``."""
    dup = _cross_doc_keys(rows, key, F.lit(1).alias("isdup"))
    return (
        rows.join(dup, key, "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias(total), F.count("isdup").alias(dups))
    )


_WINNOW_W = 8  # winnowing window: guarantee floor is spans >= k + w - 1


@query(
    "dedup_substring_winnow",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             list_transform(generate_series(1, length(text) - {_SUBSTR_K - 1}),
               i -> substr(sha256(substr(text, CAST(i AS BIGINT), {_SUBSTR_K})), 1, 16)) AS hs
      FROM documents WHERE length(text) >= {_SUBSTR_K + _WINNOW_W - 1}
    ),
    fps AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(hs) - {_WINNOW_W - 1}),
               j -> list_min(hs[j:j+{_WINNOW_W - 1}])))) AS fp
      FROM h
    ),
    dup AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(COUNT(d.fp) AS BIGINT) AS n_dup_fingerprints
    FROM fps f LEFT JOIN dup d USING (fp)
    GROUP BY f.doc_id
    """,
)
def dedup_substring_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed substring dedup — the SCALE path of dedup_substring
    (Schleimer, Wilkerson, Aiken: "Winnowing: Local Algorithms for Document
    Fingerprinting"). Instead of posting every k-char window hash, each doc
    posts only LOCAL MINIMA: the min hash of every w consecutive window
    hashes, deduplicated. Selection is content-defined, so two documents
    sharing a span >= k + w - 1 chars compute identical minima inside it —
    the collision guarantee positional striding can NOT give (different
    span offsets sample different residues). Expected posting volume drops
    ~w/2 x while detection stays provable, not probabilistic.

    Same exchange discipline as dedup_substring: hashing AND winnowing run
    JVM-side inside array expressions; only (doc_id, fingerprint) pairs
    reach a shuffle. All outputs are exact BIGINT counts; the min over
    fixed-length lowercase hex strings is the numeric min, identically
    ordered in both engines (bytewise ASCII compare).
    """
    d = table(spark, sf_dir, "documents")
    return winnow_fingerprint_coverage(d, _SUBSTR_K, _WINNOW_W)


def winnow_fingerprint_coverage(d: DataFrame, k: int, w: int) -> DataFrame:
    """Per-doc (n_fingerprints, n_dup_fingerprints) over winnowed local-min
    window hashes; a fingerprint is dup when shared by >= 2 distinct docs."""
    if w < 2:  # least() needs at least two arguments
        raise ValueError(f"winnow window w={w} must be >= 2")
    d = d.filter(F.length("text") >= k + w - 1)
    hs = F.transform(
        F.sequence(F.lit(1), F.length("text") - (k - 1)),
        lambda i: F.substring(F.sha2(F.col("text").substr(i, F.lit(k)), 256), 1, 16),
    )
    # r16 (guide §4.1, the r15 slice-HOF finding): array_min(slice(hs, j, w))
    # allocated a fresh w-element array per window position inside the
    # interpreted lambda — the exact expression shape the r15 A/B measured
    # at 0.43x when de-allocated. least() over w direct element_at reads
    # computes the same minimum (fixed-length lowercase hex strings, no
    # nulls, so least == array_min) with ZERO allocation per position. w is
    # a compile-time constant (8), so the unrolled least stays tiny — far
    # under the 64 KB/JIT limits the r15 unroll rejection hit at 64 wide,
    # and inside an interpreted lambda it is w child evals either way.
    fps = (
        spread_small_scan(d)
        .select("doc_id", hs.alias("hs"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("hs") - (w - 1)),
                        lambda j: F.least(
                            *[F.element_at("hs", j + off) for off in range(w)]
                        ),
                    )
                )
            ).alias("fp"),
        )
    )
    return _dup_coverage(fps, "fp", "n_fingerprints", "n_dup_fingerprints")


# The oracle of substring_dup_spans up to its islands: every duplicated
# window position (hash shared by >= 2 distinct docs) with the number of
# the merged span it falls in (gaps-and-islands, a gap being > k chars).
_SPAN_ISLANDS_CTES = f"""
    WITH pos AS (
      SELECT doc_id, text, unnest(generate_series(1, length(text) - {_SUBSTR_K - 1})) AS i
      FROM documents WHERE length(text) >= {_SUBSTR_K}
    ),
    wins AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i,
             substr(sha256(substr(text, CAST(i AS BIGINT), {_SUBSTR_K})), 1, 16) AS wh
      FROM pos
    ),
    dup AS (SELECT wh FROM wins GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2),
    hits AS (SELECT w.doc_id, w.i FROM wins w JOIN dup USING (wh)),
    marked AS (
      SELECT doc_id, i,
             CASE WHEN i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i)
                       > {_SUBSTR_K} THEN 1
                  WHEN LAG(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL THEN 1
                  ELSE 0 END AS brk
      FROM hits
    ),
    islands AS (
      SELECT doc_id, i,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    )"""


@query(
    "dedup_substring_spans",
    oracle=f"""{_SPAN_ISLANDS_CTES}
    SELECT doc_id, CAST(island AS BIGINT) AS island,
           MIN(i) AS span_start,
           MAX(i) + {_SUBSTR_K - 1} AS span_end,
           MAX(i) + {_SUBSTR_K} - MIN(i) AS span_len
    FROM islands GROUP BY doc_id, island
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTIONABLE form of exact substring dedup: per document, the
    merged character intervals covered by cross-document duplicated
    windows — what a Lee-et-al-style pipeline actually CUTS from the text
    (dedup_substring reports coverage counts; this emits the spans).

    Overlapping/adjacent duplicated windows merge via gaps-and-islands:
    per doc, a window starts a new island when its position is more than k
    past the previous duplicated position (same single-shuffle LAG +
    running-SUM pattern as events_gaps_islands); each island is one
    maximal duplicated span [min_pos, max_pos + k - 1]. Every output is a
    1-based character offset, all-integer — engine-exact by construction.

    Plan: the posting aggregation and dup-join are dedup_substring's
    (keys, never text); the island windows partition by doc_id, so the
    per-doc work is bounded by document length and the shuffle key is the
    natural one. A masking pass downstream is one substring splice per
    (doc, span) — a join back to the text by doc_id.
    """
    d = table(spark, sf_dir, "documents")
    return substring_dup_spans(d, _SUBSTR_K)


def substring_dup_spans(d: DataFrame, k: int) -> DataFrame:
    """Merged duplicated-span intervals per doc: (doc_id, island,
    span_start, span_end, span_len), 1-based inclusive character offsets."""
    wins = _window_hashes(d, k, F.col("i").cast("long").alias("i"))
    hits = wins.join(_cross_doc_keys(wins, "wh"), "wh").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    marked = hits.select(
        "doc_id",
        "i",
        F.when(F.lag("i").over(w).isNull(), 1)
        .when(F.col("i") - F.lag("i").over(w) > k, 1)
        .otherwise(0)
        .alias("brk"),
    )
    islands = marked.select(
        "doc_id",
        "i",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("island"),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("i").alias("span_start"),
        (F.max("i") + (k - 1)).alias("span_end"),
        (F.max("i") + k - F.min("i")).alias("span_len"),
    )


@query(
    "pipeline_mask_spans",
    oracle=f"""{_SPAN_ISLANDS_CTES},
    spans AS (
      SELECT doc_id, MAX(i) + {_SUBSTR_K} - MIN(i) AS span_len
      FROM islands GROUP BY doc_id, island
    ),
    per_doc AS (SELECT doc_id, SUM(span_len) AS n_masked FROM spans GROUP BY doc_id)
    SELECT d.doc_id, length(d.text) AS n_chars,
           CAST(COALESCE(p.n_masked, 0) AS BIGINT) AS n_masked,
           length(d.text) - CAST(COALESCE(p.n_masked, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(p.n_masked, 0) AS BIGINT) = length(d.text) AS fully_duplicated
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def pipeline_mask_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The masking decision the substring-dedup family feeds: per document,
    how many characters fall inside merged cross-document duplicated spans,
    how many survive the cut, and whether the document is fully duplicated
    (delete rather than splice). Integer-only accounting over EVERY corpus
    document — docs with no duplicated span report n_masked = 0 via the
    left join, and docs shorter than the window cannot be flagged.

    Composes substring_dup_spans with one per-doc aggregation and a join
    back to the corpus; at 100 TB the join key is doc_id on both sides
    (the spans table is a small fraction of the corpus) and the splice
    itself is a downstream substring pass over (doc, span) pairs.
    """
    d = table(spark, sf_dir, "documents")
    spans = substring_dup_spans(d, _SUBSTR_K)
    per_doc = spans.groupBy("doc_id").agg(F.sum("span_len").alias("n_masked"))
    masked = F.coalesce(F.col("n_masked"), F.lit(0).cast("long"))
    return d.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.length("text").alias("n_chars"),
        masked.alias("n_masked"),
        (F.length("text") - masked).alias("n_kept"),
        (masked == F.length("text")).alias("fully_duplicated"),
    )


@query(
    "dedup_minhash_clusters",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes()},
    pairsm AS (
      SELECT doc_a, doc_b FROM est WHERE e >= {_MINHASH_EST_MIN}),
    edgesm AS (
      SELECT doc_a AS a, doc_b AS b FROM pairsm
      UNION
      SELECT doc_b, doc_a FROM pairsm),
    nodesm AS (SELECT DISTINCT a AS n FROM edgesm),
    reachm(n, m) AS (
      SELECT n, n FROM nodesm
      UNION
      SELECT r.n, e.b FROM reachm r JOIN edgesm e ON r.m = e.a)
    SELECT n AS doc_id, MIN(m) AS cluster_id, COUNT(*) AS cluster_size
    FROM reachm GROUP BY n
    """,
)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MINHASH near-dup graph — the
    sub-quadratic sibling of dedup_clusters (whose edges come from the
    exact posting-list Jaccard join): at corpus scale the candidate pairs
    come from LSH banding, never an all-shingle self-join, so the edge
    generation cost is bucket collisions, not pairs-squared. Clusters are
    over exact-dup representatives (the minhash pipeline's rep space) and
    the closure machinery is the proven pointer-jumping fixpoint.

    Oracle: the shared MinHash CTE chain (exact sha-derived permutations,
    value-identical candidates including banding false positives) feeding
    the same recursive-CTE closure dedup_clusters verifies against — the
    closure is the spec, the jumping is the algorithm.

    Oracle independence: as in dedup_minhash_lsh, the VALUES block is only
    the pinned permutation-constant table; the candidate graph and its
    closure are recomputed in SQL.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    return doc_clusters(edges)


def _coverage_oracle() -> str:
    """Composed oracle: detector A is dedup_minhash_lsh's exact oracle as
    a nested CTE; detector B derives banded simhash near-pairs from
    dedup_simhash's oracle (15-bit bands, Hamming <= 3) — the
    stats_fdr_bh composition contract."""
    from wri_data_processing_spark.registry import ORACLE

    return f"""
    WITH a AS (
      SELECT doc_a, doc_b FROM ({ORACLE["dedup_minhash_lsh"].strip()})),
    h AS ({ORACLE["dedup_simhash"].strip()}),
    bands AS (
      SELECT doc_id, simhash, j,
             CAST((simhash >> (15 * j)) & 32767 AS BIGINT) AS band
      FROM h, unnest(generate_series(0, 3)) AS u(j)),
    b AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y ON x.j = y.j AND x.band = y.band
                  AND x.doc_id < y.doc_id
      WHERE bit_count(xor(x.simhash, y.simhash)) <= 3),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap
          FROM a JOIN b USING (doc_a, doc_b)),
    u AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_union
          FROM (SELECT doc_a, doc_b FROM a UNION SELECT doc_a, doc_b FROM b)),
    ca AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a FROM a),
    cb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b FROM b)
    SELECT ca.n_a, cb.n_b, m.n_overlap, u.n_union,
           ROUND(CAST(ca.n_a * cb.n_b AS DOUBLE)
                 / CAST(m.n_overlap AS DOUBLE), 6) AS lp_estimate
    FROM ca, cb, m, u
    """


@query("dedup_coverage_estimate", oracle=_coverage_oracle)
def dedup_coverage_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture estimate of the TRUE near-duplicate pair count —
    the answer to the question no single detector can ask of itself:
    "how many duplicates are we MISSING?". Two independent detectors
    mark the same population (detector A: the MinHash-LSH banded pairs;
    detector B: SimHash 15-bit-banded pairs at Hamming <= 3 — different
    sketch families, so their misses are plausibly independent), and
    Lincoln-Petersen says N_true ~= n_A * n_B / |A intersect B|. The
    gap between the estimate and the observed union is the audited blind
    spot — the number a curator reports next to any dedup recall claim.
    (Probed: A=28, B=26, overlap=21, estimate ~35 at sf0.001 — real
    disagreement, not mutual confirmation.)

    Composition contract (stats_fdr_bh): the engine CALLS the registered
    ops' machinery; the oracle embeds their exact oracle SQL as nested
    CTEs, built by registry.load_all after both register.

    Determinism: both pair sets are already driver-proven deterministic;
    counts are exact; the estimator is ONE division, ROUND-6. Plan: the
    two detector subplans, one equi-join on the pair key for the
    overlap, one union-distinct for coverage, three 1-row broadcasts
    (whitelisted) to stitch the scorecard row.
    """
    a = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    h = dedup_simhash(spark, sf_dir).select("doc_id", "simhash")
    bands = h.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    F.shiftrightunsigned(F.col("simhash"), 15 * j)
                    .bitwiseAND(F.lit(32767).cast("long"))
                    .alias("band"),
                )
                for j in range(4)
            ])
        ).alias("bv"),
    ).select("doc_id", "simhash", F.col("bv.j").alias("j"), F.col("bv.band").alias("band"))
    x = bands.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"), "j", "band")
    y = bands.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"), "j", "band")
    b = (
        x.join(y, ["j", "band"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 3)
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = a.localCheckpoint()  # feeds count, overlap join, and the union
    b = b.localCheckpoint()
    ca = a.agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    cb = b.agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    m = a.join(b, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap")
    )
    u = (
        a.unionAll(b)
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_union"))
    )
    return (
        ca.crossJoin(F.broadcast(cb))
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(u))
        .select(
            "n_a",
            "n_b",
            "n_overlap",
            "n_union",
            F.round(
                (F.col("n_a") * F.col("n_b")).cast("double")
                / F.col("n_overlap").cast("double"),
                6,
            ).alias("lp_estimate"),
        )
    )
