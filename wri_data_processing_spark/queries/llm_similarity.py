"""Similarity search over embeddings (SURVEY.md §2.12 L3).

- sim_topk            : exact brute-force cosine top-k vs a query vector —
                        the correctness baseline. JVM-side higher-order
                        functions (zip_with + aggregate), no Python.
- sim_pairs_threshold : all pairs with cosine >= tau (exact; the
                        embedding-cosine near-dup primitive).
- sim_ann_lsh         : multi-probe sign-LSH approximate neighbors — the
                        100 TB scale path. Since the r8 rewrite the
                        projections are pinned integer literals, so the op
                        is ORACLE-EXACT (driver-green r8) with measured
                        recall@10 = 1.0 at sf0.1 (experiments/ann_log.csv);
                        the original spark.ml RNG variant survives as
                        sim_ann_brp_ml (rows-only).

Scale notes: brute force is O(N*Q) dot products — fine for one query against
100 TB when the scan is columnar (embedding column pruned to 256 B/row), but
pairwise all-pairs is quadratic: real deployments bucket by LSH (sim_ann_lsh)
or IVF-style coarse centroids first. The cosine arithmetic casts fp32 ->
fp64 BEFORE multiply so both engines accumulate identically.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.registry import query

_PAIR_TAU = 0.45  # driver testdata max pairwise cosine is ~0.51


_EMB_DIM = 64  # embeddings.embedding dimensionality — fixed in TESTDATA's
# schema and assumed by every vector op below. The r15 optimization unrolls
# the per-pair folds to this width; under ANSI mode (Spark 4 default) a
# shorter array fails loudly at element_at rather than silently truncating.


def _dvec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    # Elementwise cast as ONE codegen'd Cast node — identical values to the
    # old F.transform(x -> cast) lambda (float->double is exact), without
    # the per-element interpreted-lambda evaluation.
    return c.cast("array<double>")


def _dot(a: Column, b: Column) -> Column:
    """Dot product as the zip_with/aggregate fold.

    MEASURED AND REJECTED (r15): unrolling this to 64 element_at terms
    (straight-line codegen, bit-identical association) was 3-6x SLOWER at
    sf0.1 — sim_pairs_threshold 1.18 -> 6.57 s, retrieval_pipeline 1.52 ->
    4.58 s. The unrolled expression inflates the whole-stage-codegen method
    past HotSpot's JIT limits (and in the 3-folds-per-pair case past
    janino's 64 KB hard cap), so the "faster" straight-line code runs as
    INTERPRETED JVM bytecode, while the higher-order fold compiles to a
    compact JIT-able loop. Keep the fold.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _fold_zip(a, b, term, zero, dim: int = _EMB_DIM) -> Column:
    """``F.aggregate(F.zip_with(a, b, term), zero, acc + x)`` — the shared
    element-fold every integer vector distance/score uses. ``dim`` is
    accepted (and ignored) so call sites document their array width; see
    _dot for why the unrolled element_at alternative was rejected."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(F.zip_with(a, b, term), zero, lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    """Exact cosine similarity between two array<double> columns."""
    return _dot(a, b) / (vec_norm(a) * vec_norm(b))


def vec_norm(a: Column) -> Column:
    """L2 norm of an array<double> column (zip-free single-array fold)."""
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with PRE-COMPUTED norms — bit-identical to :func:`cosine`
    (same sqrt-of-sum expression, same dot/(na*nb) association), but the
    norm work runs once per VECTOR instead of once per PAIR. On a bucketed
    pair join that's the difference between O(N) and O(candidate-pairs)
    higher-order-function evaluations — at 250 vectors/bucket, a ~125x cut
    of two-thirds of the per-pair array arithmetic."""
    return _dot(a, b) / (na * nb)


def pair_sides(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two sides of an all-pairs cosine join over an embeddings frame,
    (vec_a, ea, na) and (vec_b, eb, nb): each norm is computed once per
    vector, for :func:`cosine_from_norms` to read per pair."""
    a, b = (
        e.select(
            F.col("vec_id").alias(f"vec_{s}"),
            _dvec("embedding").alias(f"e{s}"),
            vec_norm(_dvec("embedding")).alias(f"n{s}"),
        )
        for s in "ab"
    )
    return a, b


_IVF_NLIST = 8  # testdata default for the scale-safe pair/dedup plans


def ivf_nlist(n_vectors: int | None = None) -> int:
    """Coarse-bucket count: ~sqrt(N), floored at the testdata default.

    The per-bucket candidate term is (N/nlist)^2 x nlist = N^2/nlist, so
    nlist must GROW with N to bound bucket volume; sqrt(N) keeps both the
    bucket size (~sqrt(N) rows) and the broadcast centroid table (nlist x
    dim ints) sub-linear. Registered testdata queries call ivf_assign with
    the default so the DuckDB oracles (which inline the same constant) stay
    bit-identical; a 100 TB deployment passes ivf_nlist(count) explicitly.
    """
    if n_vectors is None:
        return _IVF_NLIST
    import math

    return max(_IVF_NLIST, math.isqrt(n_vectors))


def _qvec(col: str | Column) -> Column:
    """fp32 components quantized to floor(x * 2^20) int64 — the fixed-point
    representation both engines compute bit-identically (no float summation
    anywhere in the assignment, so bucket membership can never diverge)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: F.floor(x.cast("double") * F.lit(1048576.0)).cast("long"))


def ivf_assign(e: DataFrame, nlist: int = _IVF_NLIST) -> DataFrame:
    """Deterministic coarse-quantizer assignment: (vec_id, cid).

    Centroids are the first ``nlist`` vectors (stand-in for k-means output —
    the plan is identical); every vector takes the argmin int64 L2 distance
    over the quantized components, ties to the lower cid via min(struct).
    Plan: broadcast the KB-sized centroid table, one nested-loop pass of
    nlist rows per vector, partial argmin map-side — one shuffle on vec_id
    for the final min. This is the candidate generator that replaces the
    O(N^2) theta self-join in sim_pairs_threshold / dedup_embedding: pairs
    are generated per bucket (~(N/nlist)^2 each), and at 100 TB nlist scales
    ~sqrt(N) so bucket volume stays bounded while the centroid table stays
    broadcastable.
    """
    q = e.select("vec_id", _qvec("embedding").alias("qv"))
    cents = q.filter(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    d2 = _fold_zip("qv", "cv", lambda a, b: (a - b) * (a - b), F.lit(0).cast("long"))
    return (
        q.crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"))
    )


def ivf_assign_ctes(nlist: int = _IVF_NLIST) -> str:
    """DuckDB CTE chain replicating ivf_assign exactly (ends at ``assigned``).

    Same 2^20 fixed-point quantization, same int64 distance accumulation,
    same (d2, cid) tiebreak — the bucketed operators' oracles replay the
    bucket boundary rather than assuming benign data (the _MAX_DF lesson).
    """
    return f"""
    qt AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
      FROM embeddings),
    cents AS (SELECT vec_id AS cid, qv AS cv FROM qt WHERE vec_id < {nlist}),
    cdist AS (
      SELECT q.vec_id, c.cid,
             CAST(SUM((q.qv[u.i] - c.cv[u.i]) * (q.qv[u.i] - c.cv[u.i])) AS BIGINT) AS d2
      FROM qt q, cents c, unnest(generate_series(1, len(q.qv))) u(i)
      GROUP BY 1, 2),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM cdist) WHERE rn = 1)"""


@query(
    "sim_topk",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cosine_sim
    FROM embeddings e, q
    WHERE vec_id != 0
    ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) DESC, vec_id
    LIMIT 10
    """,
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors of vec_id=0. Plan: the 1-row query
    vector broadcasts over the scan and a TakeOrderedAndProject cuts the
    top-k — no global sort."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    joined = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    sim = F.round(cosine(_dvec("embedding"), _dvec("qv")), 6)
    return (
        joined.select("vec_id", "label", sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(10)
    )


_PAIR_FANOUT = 8  # blocks per bucket: spreads each cid's pair work across tasks


def bucketed_pair_candidates(e: DataFrame, nlist: int = _IVF_NLIST) -> DataFrame:
    """Same-bucket candidate pairs (vec_a < vec_b) with pre-computed norms:
    columns (cid, vec_a, ea, na, vec_b, eb, nb).

    Two scale levers beyond the bucket equi-join itself:

    - **Norms once per vector** (cosine_from_norms): the O(pairs) stage does
      only the dot product.
    - **Block fan-out**: a bare join on cid has exactly ``nlist`` distinct
      keys, so at most nlist tasks carry the quadratic pair work no matter
      how many cores exist. Side B is split into ``_PAIR_FANOUT`` blocks by
      vec_id and side A replicated once per block (A is the small projected
      side: id + vector + norm), making the join key (cid, block) with
      nlist x fanout distinct values — the same trick as the salted skew
      join, applied to a low-cardinality bucket key. Output set is identical;
      only the task layout changes.
    """
    assigned = ivf_assign(e, nlist=nlist)
    side = e.join(assigned, "vec_id").select(
        "vec_id", "cid", _dvec("embedding").alias("v"), vec_norm(_dvec("embedding")).alias("nv")
    )
    a = side.select(
        F.col("vec_id").alias("vec_a"),
        "cid",
        F.col("v").alias("ea"),
        F.col("nv").alias("na"),
        F.explode(F.sequence(F.lit(0), F.lit(_PAIR_FANOUT - 1))).alias("blk"),
    )
    b = side.select(
        F.col("vec_id").alias("vec_b"),
        "cid",
        F.col("v").alias("eb"),
        F.col("nv").alias("nb"),
        (F.col("vec_id") % _PAIR_FANOUT).alias("blk"),
    )
    return a.join(b, ["cid", "blk"]).filter(F.col("vec_a") < F.col("vec_b")).drop("blk")


@query(
    "sim_pairs_threshold",
    oracle=f"""
    WITH {ivf_assign_ctes()}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 6) AS cosine_sim
    FROM assigned a
    JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
    JOIN embeddings ea ON ea.vec_id = a.vec_id
    JOIN embeddings eb ON eb.vec_id = b.vec_id
    WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                 CAST(eb.embedding AS DOUBLE[])) >= {_PAIR_TAU}
    """,
)
def sim_pairs_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed pairs with cosine >= tau — the scale-safe default.

    Candidates come from a deterministic IVF bucket equi-join (ivf_assign:
    same-cluster pairs only), verified by exact cosine; the declared
    contract is same-bucket near-dup, and the oracle replicates the bucket
    assignment bit-for-bit, so the boundary is tested rather than assumed.
    Replaces the round-1 O(N^2) broadcast theta self-join that could not
    survive real scale; sim_pairs_exact keeps the all-pairs semantics as
    the small-N correctness anchor.

    Plan: the bucket join keys on (cid, blk), fanning each bucket out into
    blocks, and every vector's norm is computed before the join.
    """
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pairs = bucketed_pair_candidates(e)
    sim = cosine_from_norms(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"))
    return pairs.filter(sim >= _PAIR_TAU).select(
        "vec_a", "vec_b", F.round(sim, 6).alias("cosine_sim")
    )


@query(
    "sim_pairs_exact",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= {_PAIR_TAU}
    """,
)
def sim_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine >= tau — the oracle-anchored exhaustive
    variant. O(N^2): valid only when one side is broadcastable; the
    registered scale path is sim_pairs_threshold's bucketed plan."""
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    a, b = pair_sides(e)
    pairs = a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
    sim = cosine_from_norms(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb"))
    return pairs.filter(sim >= _PAIR_TAU).select(
        "vec_a", "vec_b", F.round(sim, 6).alias("cosine_sim")
    )


# Sign-random-projection (SRP) LSH constants. The +-1 projection matrix is
# derived from sha256 ONCE at import (stdlib hashlib, no engine hash calls)
# and embedded as LITERALS in both the Spark plan and the oracle SQL — the
# randomness is fixed at authoring time, so the probabilistic sketch gets an
# exact cross-engine contract.
_SRP_BITS = 24
_SRP_BANDS = 6  # 6 bands x 4 bits
_SRP_BAND_WIDTH = _SRP_BITS // _SRP_BANDS
_SRP_BAND_MASK = (1 << _SRP_BAND_WIDTH) - 1
_SRP_DIM = 64  # embeddings table dimensionality (TESTDATA.md)
# Band geometry sets the recall/selectivity point: P(bit agrees) = 1 - θ/π.
# Bare banding alone measured recall@10 = 0.4 at sf0.1 on this table's weak
# top-cosines (~0.3-0.4 => p_bit ~0.61, clean-band odds per neighbor ~40%),
# so the op MULTI-PROBES (Lv et al. 2007, query-directed): each band's
# bucket probe set is {exact} ∪ {Hamming-1: each single bit flipped} ∪
# {Hamming-2 on the band's two lowest-|dot| query bits — the bits most
# likely to sit on the wrong side of the hyperplane}. 36 probe values
# total, still a bucket equi-join. Measured recall@10 = 1.0 at both SFs
# (experiments/ann_log.csv). On a true near-dup corpus (cos >= 0.9,
# p_bit ~0.86) the same probe set keeps per-band selectivity at 6/16
# worst-case while per-vector recall is ~1 - (1-0.72)^6 > 0.999.


def _srp_signs() -> list[list[int]]:
    import hashlib

    return [
        [
            1 if hashlib.sha256(f"srp:{j}:{d}".encode()).digest()[0] & 1 else -1
            for d in range(_SRP_DIM)
        ]
        for j in range(_SRP_BITS)
    ]


def _srp_oracle() -> str:
    signs = _srp_signs()
    sign_values = ", ".join(
        "(" + str(j) + ", [" + ", ".join(str(s) for s in sv) + "]::BIGINT[])"
        for j, sv in enumerate(signs)
    )
    w, m = _SRP_BAND_WIDTH, _SRP_BAND_MASK
    h1 = ", ".join(f"xor(qb, CAST({1 << i} AS BIGINT))" for i in range(_SRP_BAND_WIDTH))
    return f"""
    WITH qt AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
      FROM embeddings),
    signs(j, sv) AS (VALUES {sign_values}),
    dots AS (
      SELECT q.vec_id, s.j,
             CAST(SUM(q.qv[u.i] * s.sv[u.i]) AS BIGINT) AS dot
      FROM qt q, signs s, unnest(generate_series(1, {_SRP_DIM})) u(i)
      GROUP BY 1, 2),
    sigs AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << j)
                           ELSE 0 END) AS BIGINT) AS sig
      FROM dots GROUP BY 1),
    qbits AS (
      SELECT j // {w} AS b, j % {w} AS pos, dot,
             ROW_NUMBER() OVER (PARTITION BY j // {w}
                                ORDER BY abs(dot), j) AS rk
      FROM dots WHERE vec_id = 0),
    qbands AS (
      SELECT b,
             CAST(SUM(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << pos)
                           ELSE 0 END) AS BIGINT) AS qb,
             CAST(SUM(CASE WHEN rk <= 2 THEN (CAST(1 AS BIGINT) << pos)
                           ELSE 0 END) AS BIGINT) AS low2
      FROM qbits GROUP BY 1),
    probes AS (
      SELECT b, unnest([qb, {h1}, xor(qb, low2)]) AS val
      FROM qbands),
    ebands AS (
      SELECT s.vec_id, gb.b,
             CAST((s.sig >> ({w} * gb.b)) & {m} AS BIGINT) AS val
      FROM sigs s, (SELECT unnest(generate_series(0, {_SRP_BANDS - 1})) AS b) gb
      WHERE s.vec_id != 0),
    cand AS (
      SELECT DISTINCT e.vec_id
      FROM ebands e JOIN probes p ON e.b = p.b AND e.val = p.val
    )
    SELECT c.vec_id, emb.label,
           ROUND(list_cosine_similarity(CAST(emb.embedding AS DOUBLE[]), qq.qe), 6)
             AS cosine_sim
    FROM cand c
    JOIN embeddings emb ON emb.vec_id = c.vec_id
    JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
          WHERE vec_id = 0) qq ON TRUE
    ORDER BY cosine_sim DESC, c.vec_id
    LIMIT 10
    """  # noqa: S608 - literal-built oracle, no external input


@query("sim_ann_lsh", oracle=_srp_oracle())
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate neighbors of vec_id=0 via sign-random-projection LSH
    with query-directed MULTI-PROBE (Lv et al., VLDB 2007) — ORACLE-EXACT
    since r4 (was rows-only under spark.ml's RNG buckets); probing added
    in r8 after the bare-banding variant measured recall@10 = 0.4 at
    sf0.1 (the r7 verdict's one red number).

    Each of the 24 sketch bits is sign(<qv, r_j>) with r_j a fixed +-1
    matrix literal and qv the 2^20 fixed-point embedding: all-integer
    arithmetic, so bucket membership — including every probe value — is
    bit-identical cross-engine, false positives/negatives and all.

    Multi-probe: per 4-bit band the query probes its exact bucket, the 4
    Hamming-1 buckets, and ONE Hamming-2 bucket flipping the band's two
    lowest-|dot| query bits (the hyperplane margins most likely to have
    landed on the wrong side; ties broken by bit index so the probe set
    is deterministic). 36 probe values total. Measured recall@10 = 1.0 at
    both sf0.01 and sf0.1 (experiments/ann_log.csv). Honest selectivity
    note: THIS table is near-random (true top-10 cosines 0.28-0.41), so
    probing admits ~90% of the corpus as candidates — no sub-linear
    method separates neighbors this weak. The geometry note above
    _srp_signs gives the near-dup-corpus numbers (cos>=0.9: per-band
    worst-case 6/16 of buckets probed, recall >0.999) where LSH actually
    earns its keep; for corpora like this one, sq8/pq (recall 1.0, 4-32x
    bandwidth reduction) are the levers to pick — per-lever
    bytes-touched-per-query is tabulated in SCALE.md.

    Plan shape at 100 TB: the 24-row sign matrix broadcasts; signatures
    are one zip_with/aggregate pass + a 24-row partial-aggregated rollup
    per vector; the 36-row probe table broadcasts and candidates come
    from a (band, bucket) EQUI-join against the exploded 6-rows-per-
    vector band table — the classic LSH bucket join, no theta join
    anywhere. spark.ml's BucketedRandomProjectionLSH variant is retained
    as sim_ann_brp_ml (rows-only).

    Oracle independence: the only VALUES block is the pinned
    sign-projection table — module literals shared BY DESIGN (the pinned-
    randomness discipline); quantization, bucketing, multi-probe flips and
    cosines are all recomputed in SQL from the base tables.
    """
    e = table(spark, sf_dir, "embeddings")
    signs = spark.createDataFrame(
        [(j, sv) for j, sv in enumerate(_srp_signs())], "j int, sv array<bigint>"
    )
    q = e.select("vec_id", _qvec("embedding").alias("qv"))
    dot = _fold_zip("qv", "sv", lambda a, b: a * b, F.lit(0).cast("long"))
    # shiftleft's Python wrapper takes only a literal count; the SQL form
    # accepts a column expression for the per-row bit position.
    bits = q.crossJoin(F.broadcast(signs)).select("vec_id", "j", dot.alias("dot"))
    bit = F.when(F.col("dot") >= 0, F.expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(
        F.lit(0).cast("long")
    )
    sigs = bits.groupBy("vec_id").agg(F.sum(bit).alias("sig"))
    # Query probe table: per band, the exact bucket + Hamming-1 flips +
    # the Hamming-2 flip of the two lowest-margin bits. 24 rows in, 36
    # probe rows out — driver-free, broadcastable.
    w = _SRP_BAND_WIDTH
    qbits = bits.filter(F.col("vec_id") == 0).select(
        F.expr(f"j div {w}").alias("b"),
        F.col("dot"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), j % {w})").alias("bitval"),
        F.col("j"),
    )
    qbands = qbits.groupBy("b").agg(
        F.sum(F.when(F.col("dot") >= 0, F.col("bitval")).otherwise(F.lit(0).cast("long"))).alias("qb"),
        F.array_sort(
            F.collect_list(F.struct(F.abs("dot").alias("m"), F.col("j").alias("j"), F.col("bitval").alias("bitval")))
        ).alias("ranked"),
    )
    low2 = F.element_at("ranked", 1)["bitval"] + F.element_at("ranked", 2)["bitval"]
    probes = qbands.select(
        "b",
        F.explode(
            F.array(
                F.col("qb"),
                *[F.col("qb").bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(w)],
                F.col("qb").bitwiseXOR(low2),
            )
        ).alias("val"),
    )
    ebands = (
        sigs.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).cast("long").alias("b"),
                            F.shiftrightunsigned(F.col("sig"), w * b)
                            .bitwiseAND(F.lit(_SRP_BAND_MASK).cast("long"))
                            .alias("val"),
                        )
                        for b in range(_SRP_BANDS)
                    ]
                )
            ).alias("bv"),
        )
        .select("vec_id", F.col("bv.b").alias("b"), F.col("bv.val").alias("val"))
    )
    cand = ebands.join(F.broadcast(probes), ["b", "val"]).select("vec_id").distinct()
    qe = e.filter(F.col("vec_id") == 0).select(_dvec("embedding").alias("qe"))
    ranked = (
        e.join(cand, "vec_id")
        .crossJoin(F.broadcast(qe))
        .select(
            "vec_id",
            "label",
            F.round(cosine(_dvec("embedding"), F.col("qe")), 6).alias("cosine_sim"),
        )
    )
    return ranked.orderBy(F.col("cosine_sim").desc(), "vec_id").limit(10)


@query("sim_ann_brp_ml")  # rows-only: spark.ml RNG-seeded buckets, no SQL oracle
def sim_ann_brp_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate neighbors of vec_id=0 via BucketedRandomProjectionLSH.

    Deterministic seed; Euclidean-bucketed candidates re-ranked by exact
    cosine. This is the plan shape that survives 100 TB: candidates come from
    bucket equi-joins, not a cross product.

    Rows-only BY DESIGN, permanently: BucketedRandomProjectionLSH draws its
    projection vectors from the JVM's seeded RNG, which no SQL engine can
    replay, so a DuckDB value oracle is impossible in principle. The
    correctness burden is carried by the driver-hash-proven exact twins
    (sim_ann_lsh with declared projections, sim_ann_ivf, sim_topk); this
    entry keeps the spark.ml integration surface exercised.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = table(spark, sf_dir, "embeddings")
    feats = e.select("vec_id", "label", array_to_vector(_dvec("embedding")).alias("features"),
                     F.col("embedding"))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=42
    )
    model = lsh.fit(feats)
    q = feats.filter(F.col("vec_id") == 0)
    cands = model.approxSimilarityJoin(q, feats.filter(F.col("vec_id") != 0), 10.0, distCol="dist")
    sim = F.round(cosine(_dvec(F.col("datasetA.embedding")), _dvec(F.col("datasetB.embedding"))), 6)
    return (
        cands.select(F.col("datasetB.vec_id").alias("vec_id"), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "sim_knn_graph",
    oracle="""
    SELECT vec_a, vec_b, cosine_sim FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                     CAST(b.embedding AS DOUBLE[])), 6) DESC,
                        b.vec_id) AS rn
      FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
    ) WHERE rn <= 3
    """,
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN graph (k=3): every vector's three nearest neighbors by
    cosine — the adjacency list that seeds semantic-dedup clustering and
    graph-based diversity sampling.

    Brute-force all-pairs with the small side broadcast, then a per-node
    top-k window. Rankings compare ROUNDED similarity (6 dp) with vec_id
    tiebreak, so both engines pick identical neighbors even where raw
    doubles differ in the last ulp. All-pairs is O(N^2) and fine for a
    broadcastable side; at 100 TB the candidate generator swaps to
    sim_ann_lsh / sim_ann_ivf buckets while this window top-k stage stays
    IDENTICAL — candidate set in, adjacency out.
    """
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    a, b = pair_sides(e)
    pairs = a.join(F.broadcast(b), F.col("vec_a") != F.col("vec_b"))
    sim = F.round(cosine_from_norms(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")), 6)
    w = Window.partitionBy("vec_a").orderBy(F.col("cosine_sim").desc(), "vec_b")
    return (
        pairs.select("vec_a", "vec_b", sim.alias("cosine_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("vec_a", "vec_b", "cosine_sim")
    )


@query(
    "embed_kmeans_assign",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
      FROM embeddings),
    comp AS (
      SELECT label, i, CAST(SUM(qv[i]) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM q, unnest(generate_series(1, len(qv))) u(i)
      GROUP BY 1, 2),
    cvec AS (
      SELECT label AS clabel,
             list(CAST(FLOOR(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
                  ORDER BY i) AS cv
      FROM comp GROUP BY 1),
    dist AS (
      SELECT vec_id, label, clabel,
             CAST(SUM((qv[u.i] - cv[u.i]) * (qv[u.i] - cv[u.i])) AS BIGINT)
               AS d2
      FROM q, cvec, unnest(generate_series(1, len(qv))) u(i)
      GROUP BY 1, 2, 3),
    r AS (
      SELECT vec_id, label, clabel, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
      FROM dist)
    SELECT vec_id, label AS true_label, clabel AS assigned, d2 AS dist2,
           clabel = label AS matches
    FROM r WHERE rn = 1
    """,
)
def embed_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means assignment step: nearest label-centroid per vector, in
    exact fixed-point arithmetic (the iterative-clustering building block;
    embed_label_centroid is the matching update step).

    Components quantize to floor(x * 2^20) int64, centroids are the
    floor'd integer mean (one correctly-rounded double division per
    component — both engines agree bit-for-bit because |sum| << 2^53), and
    squared distance accumulates as int64 (dim 64 x (2^21)^2 ~ 2^48).
    Argmin ties break on the smaller label via min(struct(d2, label)).

    Scale shape: the centroid table is k x dim (tiny) -> built per
    component with one map-side-combined aggregation, collected into k
    array rows, and BROADCAST against the full vector table; distance is a
    single in-row zip_with/aggregate — no explode of the big side, no
    shuffle after the broadcast, plan is scan -> project -> broadcast
    nested loop (k rows) -> partial argmin. At 100 TB this is exactly the
    IVF coarse-assignment pass of sim_ann_ivf.
    """
    e = table(spark, sf_dir, "embeddings")
    qcol = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * F.lit(1048576.0)).cast("long")
    )
    q = e.select("vec_id", "label", qcol.alias("qv"))
    comp = (
        q.select("label", F.posexplode("qv").alias("i", "qc"))
        .groupBy("label", "i")
        .agg(F.sum("qc").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    cq = F.floor(F.col("s").cast("double") / F.col("n").cast("double")).cast("long")
    cvec = (
        comp.select(F.col("label").alias("clabel"), "i", cq.alias("cq"))
        .groupBy("clabel")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "cq"))), lambda s: s["cq"]
            ).alias("cv")
        )
    )
    d2 = _fold_zip("qv", "cv", lambda a, b: (a - b) * (a - b), F.lit(0).cast("long"))
    dist = q.crossJoin(F.broadcast(cvec)).select(
        "vec_id", "label", "clabel", d2.alias("d2")
    )
    best = (
        dist.groupBy("vec_id", "label")
        .agg(F.min(F.struct("d2", "clabel")).alias("m"))
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            F.col("m.clabel").alias("assigned"),
            F.col("m.d2").alias("dist2"),
            (F.col("m.clabel") == F.col("label")).alias("matches"),
        )
    )
    return best


_SQ8_CAND = 50  # candidate pool re-ranked exactly (5x oversampling of k=10)


@query(
    "sim_ann_sq8",
    oracle="""
    WITH dims AS (
      SELECT u.i AS i,
             MIN(CAST(embedding[u.i] AS DOUBLE)) AS mn,
             MAX(CAST(embedding[u.i] AS DOUBLE)) AS mx
      FROM embeddings, unnest(generate_series(1, len(embedding))) u(i)
      GROUP BY 1),
    dvecs AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dims),
    codes AS (
      SELECT vec_id, label, embedding,
             list_transform(generate_series(1, len(embedding)),
               i -> CASE WHEN d.mxs[i] = d.mns[i] THEN 0
                    ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - d.mns[i])
                                    / (d.mxs[i] - d.mns[i]) * 255.0 + 0.5) AS BIGINT)
                    END) AS q8
      FROM embeddings, dvecs d),
    q AS (SELECT q8 AS qq, CAST(embedding AS DOUBLE[]) AS qv FROM codes WHERE vec_id = 0),
    cand AS (
      SELECT c.vec_id, c.label, c.embedding,
             CAST(list_inner_product(
               list_transform(c.q8, x -> 2 * x - 255),
               list_transform(q.qq, x -> 2 * x - 255)) AS BIGINT) AS approx_score
      FROM codes c, q WHERE c.vec_id != 0
      ORDER BY approx_score DESC, c.vec_id LIMIT 50)
    SELECT cand.vec_id, cand.label, cand.approx_score,
           ROUND(list_cosine_similarity(CAST(cand.embedding AS DOUBLE[]), q.qv), 6) AS cosine_sim
    FROM cand, q
    ORDER BY cosine_sim DESC, cand.vec_id LIMIT 10
    """,
)
def sim_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) approximate top-k — the memory-compression
    scale path: per-dimension min/max linear quantization to 8-bit codes
    (floor(x*255+0.5) on the normalized value — floor, not round, so both
    engines agree at midpoints), integer inner-product scoring over
    CENTERED codes (2q - 255), then exact fp64 cosine re-rank of a
    5x-oversampled pool.

    The centering is load-bearing, not cosmetic (r6 recall measurement):
    raw affine codes carry a per-vector offset term — dot(qa, qq) expands
    to sum(a_i q_i) plus sum-of-components bias whose variance SWAMPS the
    aligned-dot signal on zero-centered embeddings, and the uncentered
    score ranked the true top-10 nowhere in the top-200 at sf0.1 (recall
    0.0). Centered codes cancel the bias exactly while staying integer:
    measured ranks of the exact top-10 under the centered score are all
    within 26 at both sf0.01 and sf0.1, so the 50-pool re-rank recovers
    recall 1.0 (experiments/ann_benchmark.py).

    Why it matters at 100 TB: fp32x64-dim vectors are 256 B/row; int8 codes
    are 64 B — a 4x cut of scan bytes and shuffle width for the scoring
    pass, with the exact math confined to _SQ8_CAND rows. The statistics
    pass (per-dim min/max) is one map-side-combined aggregation over
    posexploded components; the resulting two dim-length arrays broadcast
    to every task (~1 KB), never a shuffle key.

    Engine-exact: quantization arithmetic is mirrored double-precision IEEE
    with a single floor, scores are BIGINT dot products (exact — centered
    codes are within +-255 so a 64-dim dot is < 2^23), both orderings
    tie-break on vec_id,
    and the re-rank reuses the proven ROUND(cosine, 6) expression from
    sim_topk.
    """
    e = table(spark, sf_dir, "embeddings")
    xs = e.select("vec_id", F.posexplode("embedding").alias("i0", "x"))
    dims = xs.groupBy((F.col("i0") + 1).alias("i")).agg(
        F.min(F.col("x").cast("double")).alias("mn"),
        F.max(F.col("x").cast("double")).alias("mx"),
    )
    dvecs = dims.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mn"))), lambda s: s["mn"]
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mx"))), lambda s: s["mx"]
        ).alias("mxs"),
    )
    q8 = F.transform(
        F.sequence(F.lit(1), F.size("embedding")),
        lambda i: F.when(
            F.element_at("mxs", i) == F.element_at("mns", i), F.lit(0).cast("long")
        ).otherwise(
            F.floor(
                (F.element_at(F.col("embedding"), i).cast("double") - F.element_at("mns", i))
                / (F.element_at("mxs", i) - F.element_at("mns", i))
                * F.lit(255.0)
                + F.lit(0.5)
            ).cast("long")
        ),
    )
    codes = e.crossJoin(F.broadcast(dvecs)).select(
        "vec_id", "label", "embedding", q8.alias("q8")
    )
    qrow = codes.filter(F.col("vec_id") == 0).select(
        F.col("q8").alias("qq"), _dvec("embedding").alias("qv")
    )
    score = _fold_zip("q8", "qq", lambda a, b: (2 * a - 255) * (2 * b - 255), F.lit(0).cast("long"))
    cand = (
        codes.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qrow))
        .select("vec_id", "label", "embedding", "qv", score.alias("approx_score"))
        .orderBy(F.col("approx_score").desc(), "vec_id")
        .limit(_SQ8_CAND)
    )
    return (
        cand.select(
            "vec_id",
            "label",
            "approx_score",
            F.round(cosine(_dvec("embedding"), F.col("qv")), 6).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(10)
    )


_KM_K = 8  # clusters for the Lloyd iteration demo (matches _IVF_NLIST)


def _km_assign(qt: DataFrame, cents: DataFrame) -> DataFrame:
    """One Lloyd assignment step: (vec_id, cid, d2) — argmin int64 L2 over
    quantized components against a broadcast centroid table, ties to the
    lower cid. Same arithmetic as ivf_assign, but keeps the distance."""
    d2 = _fold_zip("qv", "cv", lambda a, b: (a - b) * (a - b), F.lit(0).cast("long"))
    return (
        qt.crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"), F.col("m.d2").alias("d2"))
    )


def _km_recompute(qt: DataFrame, assigned: DataFrame) -> DataFrame:
    """Lloyd centroid update in exact integer arithmetic: per (cid, dim),
    floor(SUM(component)/COUNT) over the cluster's quantized vectors,
    reassembled into a dim-ordered array. floor of a double division of
    int64 sums — both engines compute it bit-identically (sums stay far
    below 2^53). Empty clusters simply vanish (their cid stops existing),
    which is also what the oracle's GROUP BY yields."""
    comp = assigned.join(qt, "vec_id").select(
        "cid", F.posexplode("qv").alias("i", "x")
    )
    agg = comp.groupBy("cid", "i").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cq = F.floor(F.col("s").cast("double") / F.col("n").cast("double")).cast("long")
    return (
        agg.select("cid", "i", cq.alias("cq"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "cq"))), lambda s: s["cq"]
            ).alias("cv")
        )
    )


@query(
    "embed_kmeans_iterate",
    oracle=f"""
    WITH qt AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
      FROM embeddings),
    cents0 AS (SELECT vec_id AS cid, qv AS cv FROM qt WHERE vec_id < {_KM_K}),
    dist1 AS (
      SELECT q.vec_id, c.cid,
             CAST(SUM((q.qv[u.i] - c.cv[u.i]) * (q.qv[u.i] - c.cv[u.i])) AS BIGINT) AS d2
      FROM qt q, cents0 c, unnest(generate_series(1, len(q.qv))) u(i)
      GROUP BY 1, 2),
    asg1 AS (
      SELECT vec_id, cid, d2 FROM (
        SELECT vec_id, cid, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM dist1) WHERE rn = 1),
    comp1 AS (
      SELECT a.cid, u.i AS i, q.qv[u.i] AS x
      FROM asg1 a JOIN qt q USING (vec_id), unnest(generate_series(1, len(q.qv))) u(i)),
    cagg1 AS (
      SELECT cid, i,
             CAST(floor(CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cq
      FROM comp1 GROUP BY 1, 2),
    cents1 AS (SELECT cid, list(cq ORDER BY i) AS cv FROM cagg1 GROUP BY cid),
    dist2 AS (
      SELECT q.vec_id, c.cid,
             CAST(SUM((q.qv[u.i] - c.cv[u.i]) * (q.qv[u.i] - c.cv[u.i])) AS BIGINT) AS d2
      FROM qt q, cents1 c, unnest(generate_series(1, len(q.qv))) u(i)
      GROUP BY 1, 2),
    asg2 AS (
      SELECT vec_id, cid, d2 FROM (
        SELECT vec_id, cid, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM dist2) WHERE rn = 1)
    SELECT cid,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(d2) AS BIGINT) AS inertia,
           CAST(MIN(vec_id) AS BIGINT) AS min_member
    FROM asg2 GROUP BY cid
    """,
)
def embed_kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full Lloyd's iterations of k-means (assign -> recompute ->
    reassign), reported as per-cluster membership and integer inertia —
    the iterative-ML pattern on Spark, verified EXACTLY against an
    unrolled-CTE oracle.

    Determinism engineering: components quantize to floor(x * 2^20) int64
    (the ivf_assign fixed point), distances accumulate in BIGINT, centroid
    updates are floor(SUM/COUNT) — there is no float accumulation anywhere,
    so assignments can never diverge between engines and the oracle can
    replay both rounds as plain SQL. Initial centroids are the first k
    vectors (deterministic stand-in for k-means||; the plan is identical).

    Plan per round: centroid table broadcasts (k x dim longs, ~4 KB); the
    assignment is a map-side argmin fused into one aggregation keyed by
    vec_id; the update is one (cid, dim)-keyed aggregation. Nothing driver-
    side between rounds — at 100 TB each round is two shuffles of narrow
    keyed rows, and rounds chain as checkpointed stages exactly like
    propagate_min_labels. Production k-means on Spark runs this loop to
    movement-epsilon; two rounds keep the oracle unrollable while
    exercising the full assign/update/reassign machinery.
    """
    e = table(spark, sf_dir, "embeddings")
    qt = e.select("vec_id", _qvec("embedding").alias("qv")).localCheckpoint()
    cents = qt.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    asg = _km_assign(qt, cents)
    cents = _km_recompute(qt, asg).localCheckpoint()
    asg = _km_assign(qt, cents)
    return asg.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("d2").alias("inertia"),
        F.min("vec_id").alias("min_member"),
    )


_PQ_M = 8  # subspaces (64-dim -> 8 sub-vectors of 8 dims)
_PQ_DSUB = 8
_PQ_KSUB = 64  # centroids per subspace (measured: 16 left true neighbors at ADC rank >1200 at sf0.1)
_PQ_CAND = 512  # ADC pool re-ranked exactly (deepest true-top-10 ADC rank measured at sf0.1: 461)
_PQ_ROUNDS = 2  # unrolled exact Lloyd rounds training each subspace codebook
_PQ_TRAIN_MOD = 4  # train on the deterministic 1/4 sample vec_id % 4 == 0


def _pq_assign(sub: DataFrame, cents: DataFrame) -> DataFrame:
    """Per-(vector, subspace) argmin over a broadcast codebook: (vec_id, m,
    c, d2) with integer L2 and ties to the lower centroid id — the
    _km_assign arithmetic applied independently inside each subspace."""
    d2 = _fold_zip("sv", "cv", lambda a, b: (a - b) * (a - b), F.lit(0).cast("long"), dim=_PQ_DSUB)
    return (
        sub.join(F.broadcast(cents), "m")
        .select("vec_id", "m", "c", d2.alias("d2"))
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "c")).alias("best"))
        .select(
            "vec_id", "m", F.col("best.c").alias("c"), F.col("best.d2").alias("d2")
        )
    )


def _pq_update(sub: DataFrame, asg: DataFrame) -> DataFrame:
    """Lloyd codebook update per subspace, exact: per (m, c, i) the new
    component is floor(SUM/COUNT) over member sub-vectors (int64 sums, one
    bit-identical double division), reassembled dim-ordered. Empty
    sub-clusters vanish, same as the oracle's GROUP BY."""
    comp = asg.join(sub, ["vec_id", "m"]).select(
        "m", "c", F.posexplode("sv").alias("i", "x")
    )
    agg = comp.groupBy("m", "c", "i").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cq = F.floor(F.col("s").cast("double") / F.col("n").cast("double")).cast("long")
    return (
        agg.select("m", "c", "i", cq.alias("cq"))
        .groupBy("m", "c")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "cq"))), lambda s: s["cq"]
            ).alias("cv")
        )
    )


def pq_subvectors(qt: DataFrame, vec: str = "qv") -> DataFrame:
    """Split a quantized-vector frame (vec_id, ``vec``) into the per-subspace
    frame (vec_id, m, sv) — the input both PQ index-build stages share (on
    raw vectors for sim_ann_pq, on IVF residuals for ivfpq_index)."""
    return qt.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
                lambda m: F.slice(vec, m * _PQ_DSUB + 1, _PQ_DSUB),
            )
        ).alias("m", "sv"),
    ).select("vec_id", F.col("m").cast("long").alias("m"), "sv")


def pq_train_codebooks(sub: DataFrame) -> DataFrame:
    """INDEX-BUILD stage 1: train the per-subspace codebooks — _PQ_ROUNDS
    unrolled exact Lloyd rounds on the deterministic 1/_PQ_TRAIN_MOD
    sample, seeded from the first _PQ_KSUB sub-vectors (the
    embed_kmeans_iterate integer discipline; standard PQ practice trains
    on a learning subset, Jegou §V — at 100 TB the training pass must not
    scan the corpus). The trained codebook is tiny (8 x <=64 rows);
    localCheckpoint cuts the training lineage out of every downstream
    consumer (measured: the subtree is shared by the codes pass AND the
    query LUT and costs two shuffles/round if replayed)."""
    cents = sub.filter(F.col("vec_id") < _PQ_KSUB).select(
        "m", F.col("vec_id").alias("c"), F.col("sv").alias("cv")
    )
    tsub = sub.filter(F.col("vec_id") % _PQ_TRAIN_MOD == 0)
    for _ in range(_PQ_ROUNDS):
        cents = _pq_update(tsub, _pq_assign(tsub, cents))
    return cents.localCheckpoint()


def pq_encode(sub: DataFrame, cents: DataFrame) -> DataFrame:
    """INDEX-BUILD stage 2: code every (vector, subspace) as its nearest
    trained centroid — at production scale this runs ONCE at ingest and
    persists 8 B/vector; every query reads codes, never vectors."""
    return _pq_assign(sub, cents).select("vec_id", "m", F.col("c").alias("code"))


def ivfpq_index(qt: DataFrame) -> tuple:
    """IVFADC index build (sim_ann_ivfpq's ingest-time side): coarse-cell
    assignment, per-vector residuals from the cell centroid, residual
    codebook training (the pq_train_codebooks loop on residual
    sub-vectors), and corpus coding. Returns (ccents, asg, pcents, codes).
    At 100 TB this whole function runs once at ingest; queries read only
    the (vec_id, cid) assignment and the 8-byte codes."""
    ccents = qt.filter(F.col("vec_id") < _IVF_NLIST).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    cd2 = _fold_zip("qv", "cv", lambda a, b: (a - b) * (a - b), F.lit(0).cast("long"))
    asg = (
        qt.crossJoin(F.broadcast(ccents))
        .select("vec_id", "cid", cd2.alias("d2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("b"))
        .select("vec_id", F.col("b.cid").alias("cid"))
    )
    res = (
        asg.join(qt, "vec_id")
        .join(F.broadcast(ccents), "cid")
        .select(
            "vec_id", "cid", F.zip_with("qv", "cv", lambda a, b: a - b).alias("rv")
        )
    )
    rsub = pq_subvectors(res, "rv")
    pcents = pq_train_codebooks(rsub)
    return ccents, asg, pcents, pq_encode(rsub, pcents)


def _pq_train_sql(
    src: str = "sub", prefix: str = "", ksub: int = None, rounds: int = None
) -> str:
    """The unrolled-CTE DuckDB twin of the Lloyd codebook training: emits
    CTEs {prefix}c0..{prefix}c{R} where the last is the trained codebook
    (m, c, cv) over sub-vector frame ``src`` (vec_id, m, sv). Prefixed so
    two codebooks (e.g. raw-space PQ and IVFPQ residual-space) can coexist
    in one oracle."""
    ksub = _PQ_KSUB if ksub is None else ksub
    rounds = _PQ_ROUNDS if rounds is None else rounds
    p = prefix
    parts = [
        f"{p}tsub AS (SELECT * FROM {src} WHERE vec_id % {_PQ_TRAIN_MOD} = 0)",
        f"{p}c0 AS (SELECT m, vec_id AS c, sv AS cv FROM {src} WHERE vec_id < {ksub})",
    ]
    for r in range(rounds):
        parts.append(f"""
    {p}d{r} AS (
      SELECT s.vec_id, s.m, c.c,
             CAST(SUM((s.sv[u.i] - c.cv[u.i]) * (s.sv[u.i] - c.cv[u.i])) AS BIGINT) AS d2
      FROM {p}tsub s JOIN {p}c{r} c ON s.m = c.m,
           unnest(generate_series(1, {_PQ_DSUB})) u(i)
      GROUP BY 1, 2, 3),
    {p}a{r} AS (
      SELECT vec_id, m, c FROM (
        SELECT vec_id, m, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
        FROM {p}d{r}) WHERE rn = 1),
    {p}c{r + 1} AS (
      SELECT m, c, list(cq ORDER BY i) AS cv FROM (
        SELECT a.m, a.c, u.i,
               CAST(floor(CAST(SUM(s.sv[u.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
        FROM {p}a{r} a JOIN {p}tsub s ON s.vec_id = a.vec_id AND s.m = a.m,
             unnest(generate_series(1, {_PQ_DSUB})) u(i)
        GROUP BY 1, 2, 3)
      GROUP BY 1, 2)""")
    return ",\n    ".join(parts)


@query(
    "sim_ann_pq",
    oracle=f"""
    WITH qt AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
      FROM embeddings),
    sub AS (
      SELECT vec_id, CAST(m.i AS BIGINT) AS m,
             qv[(CAST(m.i AS BIGINT) * {_PQ_DSUB} + 1):
                (CAST(m.i AS BIGINT) * {_PQ_DSUB} + {_PQ_DSUB})] AS sv
      FROM qt, unnest(generate_series(0, {_PQ_M - 1})) m(i)),
    {_pq_train_sql()},
    cents AS (SELECT m, c, cv FROM c{_PQ_ROUNDS}),
    cd AS (
      SELECT s.vec_id, s.m, c.c,
             CAST(SUM((s.sv[u.i] - c.cv[u.i]) * (s.sv[u.i] - c.cv[u.i])) AS BIGINT) AS d2
      FROM sub s, cents c, unnest(generate_series(1, {_PQ_DSUB})) u(i)
      WHERE s.m = c.m
      GROUP BY 1, 2, 3),
    codes AS (
      SELECT vec_id, m, c AS code FROM (
        SELECT vec_id, m, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
        FROM cd) WHERE rn = 1),
    lut AS (SELECT m, c, d2 FROM cd WHERE vec_id = 0),
    adc AS (
      SELECT co.vec_id, CAST(SUM(l.d2) AS BIGINT) AS adc_d2
      FROM codes co JOIN lut l ON l.m = co.m AND l.c = co.code
      WHERE co.vec_id != 0 GROUP BY 1),
    cand AS (SELECT vec_id, adc_d2 FROM adc ORDER BY adc_d2, vec_id LIMIT {_PQ_CAND}),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0)
    SELECT c.vec_id, e.label, c.adc_d2,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.v), 6)
             AS cosine_sim
    FROM cand c JOIN embeddings e USING (vec_id), q
    ORDER BY cosine_sim DESC, c.vec_id LIMIT 10
    """,
)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al., "Product Quantization for
    Nearest Neighbor Search"): vectors are coded per SUBSPACE — the 64-dim
    space splits into 8 sub-vectors of 8 dims, each assigned to its nearest
    of 16 subspace centroids — and query distance is the asymmetric (ADC)
    sum of a precomputed per-subspace lookup table over the codes. The
    exact fp64 cosine re-ranks a 128-candidate pool.

    The third orthogonal ANN lever, completing the family: IVF prunes WHICH
    vectors are scored (bucket equi-join), SQ8 shrinks the scan/shuffle
    WIDTH 4x (int8 codes), PQ shrinks it a further 8x and replaces the
    per-pair arithmetic with 8 table lookups — a 64-dim fp32 vector (256 B)
    becomes 8 single-byte codes. Codebooks are TRAINED: per subspace,
    _PQ_ROUNDS unrolled Lloyd rounds (the embed_kmeans_iterate integer
    discipline — int64 sums, floor(SUM/COUNT) updates, ties to the lower
    id) seeded from the first _PQ_KSUB sub-vectors, so both engines replay
    the identical training deterministically with no RNG. Measured
    recall@10 (experiments/ann_log.csv): r6's declared 16-centroid
    codebooks + 128 pool gave 1.0 at sf0.01 but 0.7 at sf0.1 — measured
    ADC ranks of the true top-10 reached 1239. Trained 64-centroid
    codebooks pull 9/10 within rank 146 (deepest: 461), so the 512 pool
    recovers recall 1.0 at both SFs (VERDICT r6 item 3). The pool is a
    CONSTANT absolute size, not a fraction of N: at local SF it is a large
    slice of 2000 vectors, at production N it is noise — pool sizing
    tracks measured rank coverage plus margin, re-measured per corpus.

    Engine-exact end to end: components quantize to floor(x * 2^20) int64
    (the _qvec fixed point), every distance is an integer sum of squares,
    ADC scores are BIGINT sums of 8 BIGINTs, argmin ties break to the
    lower centroid id, and only the re-ranked pool touches floats (ROUNDed
    identically at 6 places; both orderings tie-break on vec_id).

    Plan shape at 100 TB: the codebook (8 x 16 rows) and the query LUT
    broadcast; coding is one map-side-combined argmin per
    (vector, subspace) and one per-vector sum — two narrow keyed shuffles
    whose rows are (ids + one BIGINT), never embeddings; the candidate cut
    is a TakeOrdered (no global sort); the exact re-rank touches
    _PQ_CAND rows. In production the codes are precomputed at ingest and
    the scoring pass reads 8 B/vector instead of 256 B — the ADC join and
    TakeOrdered here are exactly that read path.
    """
    e = table(spark, sf_dir, "embeddings")
    qt = e.select("vec_id", _qvec("embedding").alias("qv"))
    # INDEX BUILD (ingest-time at scale; timed separately from the query
    # path in experiments/pq_build_split.py): subspace split, codebook
    # training on the deterministic sample, corpus coding.
    sub = pq_subvectors(qt)
    cents = pq_train_codebooks(sub)
    codes = pq_encode(sub, cents)
    # QUERY PATH: per-subspace LUT of query-to-centroid distances, ADC sum
    # over the codes, exact re-rank of the constant pool.
    return pq_query(e, sub, cents, codes)


def pq_query(
    e: DataFrame, sub: DataFrame, cents: DataFrame, codes: DataFrame, qid: int = 0
) -> DataFrame:
    """PQ query path — what a serving query actually costs once the index
    exists: one 8x64 LUT of query-to-centroid distances (broadcast), an
    ADC sum of 8 lookups per candidate, TakeOrdered pool, exact re-rank."""
    d2 = _fold_zip("sv", "cv", lambda a, b: (a - b) * (a - b), F.lit(0).cast("long"), dim=_PQ_DSUB)
    # lut columns renamed so the join condition can never resolve both sides
    # to a shared lineage (Spark warns 'trivially true predicate' there).
    lut = (
        sub.filter(F.col("vec_id") == qid)
        .join(F.broadcast(cents), "m")
        .select(F.col("m").alias("lm"), F.col("c").alias("lc"), d2.alias("qd2"))
    )
    adc = (
        codes.filter(F.col("vec_id") != qid)
        .join(F.broadcast(lut), (F.col("m") == F.col("lm")) & (F.col("code") == F.col("lc")))
        .groupBy("vec_id")
        .agg(F.sum("qd2").cast("long").alias("adc_d2"))
    )
    cand = adc.orderBy("adc_d2", "vec_id").limit(_PQ_CAND)
    q = e.filter(F.col("vec_id") == qid).select(_dvec("embedding").alias("qv2"))
    return (
        cand.join(e, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "adc_d2",
            F.round(cosine(_dvec("embedding"), F.col("qv2")), 6).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(10)
    )


_IVFPQ_NPROBE = 2  # coarse cells probed (sim_ann_ivf's recall-1.0 setting)
_IVFPQ_CAND = 128  # ADC pool re-ranked exactly (candidates already cell-pruned)
_DIM = _PQ_M * _PQ_DSUB


@query(
    "sim_ann_ivfpq",
    oracle=f"""
    WITH {ivf_assign_ctes()},
    res AS (
      SELECT a.vec_id, a.cid,
             list_transform(generate_series(1, {_DIM}), i -> q.qv[i] - c.cv[i]) AS rv
      FROM assigned a JOIN qt q ON q.vec_id = a.vec_id JOIN cents c ON c.cid = a.cid),
    rsub AS (
      SELECT vec_id, cid, CAST(m.i AS BIGINT) AS m,
             rv[(CAST(m.i AS BIGINT) * {_PQ_DSUB} + 1):
                (CAST(m.i AS BIGINT) * {_PQ_DSUB} + {_PQ_DSUB})] AS sv
      FROM res, unnest(generate_series(0, {_PQ_M - 1})) m(i)),
    {_pq_train_sql(src="rsub", prefix="p")},
    pcd AS (
      SELECT s.vec_id, s.m, c.c,
             CAST(SUM((s.sv[u.i] - c.cv[u.i]) * (s.sv[u.i] - c.cv[u.i])) AS BIGINT) AS d2
      FROM rsub s JOIN pc{_PQ_ROUNDS} c ON s.m = c.m,
           unnest(generate_series(1, {_PQ_DSUB})) u(i)
      GROUP BY 1, 2, 3),
    codes AS (
      SELECT vec_id, m, c AS code FROM (
        SELECT vec_id, m, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
        FROM pcd) WHERE rn = 1),
    qprobe AS (
      SELECT c.cid,
             CAST(SUM((q.qv[u.i] - c.cv[u.i]) * (q.qv[u.i] - c.cv[u.i])) AS BIGINT) AS d2
      FROM cents c, qt q, unnest(generate_series(1, {_DIM})) u(i)
      WHERE q.vec_id = 0 GROUP BY 1),
    probes AS (
      SELECT cid FROM (
        SELECT cid, ROW_NUMBER() OVER (ORDER BY d2, cid) AS rn FROM qprobe)
      WHERE rn <= {_IVFPQ_NPROBE}),
    qres AS (
      SELECT p.cid AS pcid,
             list_transform(generate_series(1, {_DIM}), i -> q.qv[i] - c.cv[i]) AS rv
      FROM probes p JOIN cents c ON c.cid = p.cid, qt q WHERE q.vec_id = 0),
    qsub AS (
      SELECT pcid, CAST(m.i AS BIGINT) AS m,
             rv[(CAST(m.i AS BIGINT) * {_PQ_DSUB} + 1):
                (CAST(m.i AS BIGINT) * {_PQ_DSUB} + {_PQ_DSUB})] AS sv
      FROM qres, unnest(generate_series(0, {_PQ_M - 1})) m(i)),
    lut AS (
      SELECT s.pcid, s.m, c.c,
             CAST(SUM((s.sv[u.i] - c.cv[u.i]) * (s.sv[u.i] - c.cv[u.i])) AS BIGINT) AS qd2
      FROM qsub s JOIN pc{_PQ_ROUNDS} c ON s.m = c.m,
           unnest(generate_series(1, {_PQ_DSUB})) u(i)
      GROUP BY 1, 2, 3),
    adc AS (
      SELECT co.vec_id, CAST(SUM(l.qd2) AS BIGINT) AS adc_d2
      FROM codes co JOIN assigned a ON a.vec_id = co.vec_id
      JOIN lut l ON l.pcid = a.cid AND l.m = co.m AND l.c = co.code
      WHERE co.vec_id != 0 GROUP BY 1),
    cand AS (SELECT vec_id, adc_d2 FROM adc ORDER BY adc_d2, vec_id LIMIT {_IVFPQ_CAND}),
    qd AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0)
    SELECT c.vec_id, e.label, c.adc_d2,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qd.v), 6)
             AS cosine_sim
    FROM cand c JOIN embeddings e USING (vec_id), qd
    ORDER BY cosine_sim DESC, c.vec_id LIMIT 10
    """,
)
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ-on-residuals — the FAISS IVFADC architecture (Jegou et al.
    §VI) composed from this engine's two proven levers: the coarse
    quantizer prunes WHICH cells are scored (integer ivf_assign, nprobe
    nearest cells), and a product quantizer codes each vector's RESIDUAL
    from its cell centroid (residual energy is a fraction of vector energy,
    so the same 8-byte code spends its 16^8 capacity on a tighter
    distribution — the reason FAISS defaults to residual encoding). Query
    time builds one LUT PER PROBED CELL from the cell-specific query
    residual, sums 8 lookups per candidate, and exactly re-ranks the pool.

    Everything stays integer-exact: residuals are int64 differences of
    2^20 fixed-point components, codebooks train with the same unrolled
    Lloyd rounds as sim_ann_pq (deterministic 1/4 sample, seeds = first
    _PQ_KSUB residual sub-vectors), and the oracle replays assignment,
    training, coding, probing, LUTs, and ADC as one CTE chain.

    Plan shape at 100 TB: both codebooks broadcast (8-row coarse + 8x64
    PQ); coding is ingest-time work (the codes/asg frames here); a query
    touches nprobe/nlist of the corpus at 8 B/vector + a constant-size
    exact re-rank — the bytes-per-query ledger is 1/nlist x 1/32 of the
    brute-force scan, the product of the family's two independent
    reductions. The LUT join doubles as the probe filter: vectors in
    unprobed cells simply find no LUT row (inner equi-join, no NLJ).
    """
    e = table(spark, sf_dir, "embeddings")
    qt = e.select("vec_id", _qvec("embedding").alias("qv"))
    # INDEX BUILD (ingest-time at scale; timed separately in
    # experiments/pq_build_split.py): coarse cells, residuals, residual
    # codebooks, corpus codes.
    ccents, asg, pcents, codes = ivfpq_index(qt)
    # QUERY PATH: probe the nearest cells, one residual LUT per probed
    # cell, ADC over cell-pruned codes, exact re-rank.
    return ivfpq_query(e, qt, ccents, asg, pcents, codes)


def ivfpq_query(
    e: DataFrame,
    qt: DataFrame,
    ccents: DataFrame,
    asg: DataFrame,
    pcents: DataFrame,
    codes: DataFrame,
    qid: int = 0,
) -> DataFrame:
    """IVFADC query path: nprobe nearest coarse cells, a per-cell LUT from
    the CELL-SPECIFIC query residual, ADC restricted to probed cells via
    the LUT equi-join (unprobed vectors find no LUT row), exact re-rank."""
    q = qt.filter(F.col("vec_id") == qid).select(F.col("qv").alias("qq"))
    qd2 = _fold_zip("qq", "cv", lambda a, b: (a - b) * (a - b), F.lit(0).cast("long"))
    probes = (
        ccents.crossJoin(F.broadcast(q))
        .select("cid", "cv", "qq", qd2.alias("d2"))
        .orderBy("d2", "cid")
        .limit(_IVFPQ_NPROBE)
    )
    qres = probes.select(
        F.col("cid").alias("pcid"),
        F.zip_with("qq", "cv", lambda a, b: a - b).alias("rv"),
    )
    qsub = qres.select(
        "pcid",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
                lambda m: F.slice("rv", m * _PQ_DSUB + 1, _PQ_DSUB),
            )
        ).alias("m", "sv"),
    ).select("pcid", F.col("m").cast("long").alias("m"), "sv")
    ld2 = _fold_zip("sv", "cv", lambda a, b: (a - b) * (a - b), F.lit(0).cast("long"), dim=_PQ_DSUB)
    lut = qsub.join(F.broadcast(pcents), "m").select(
        "pcid", F.col("m").alias("lm"), F.col("c").alias("lc"), ld2.alias("qd2")
    )
    adc = (
        codes.filter(F.col("vec_id") != qid)
        .join(asg, "vec_id")
        .join(
            F.broadcast(lut),
            (F.col("cid") == F.col("pcid"))
            & (F.col("m") == F.col("lm"))
            & (F.col("code") == F.col("lc")),
        )
        .groupBy("vec_id")
        .agg(F.sum("qd2").cast("long").alias("adc_d2"))
    )
    cand = adc.orderBy("adc_d2", "vec_id").limit(_IVFPQ_CAND)
    qv2 = e.filter(F.col("vec_id") == qid).select(_dvec("embedding").alias("qv2"))
    return (
        cand.join(e, "vec_id")
        .crossJoin(F.broadcast(qv2))
        .select(
            "vec_id",
            "label",
            "adc_d2",
            F.round(cosine(_dvec("embedding"), F.col("qv2")), 6).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(10)
    )


_BATCH_NQ = 20  # query-set size for the batch top-k demo
_BATCH_K = 3


@query(
    "sim_topk_batch",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {_BATCH_NQ}),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
               AS cosine_sim
      FROM embeddings e, q WHERE e.vec_id >= {_BATCH_NQ})
    SELECT query_id, vec_id, cosine_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, vec_id) AS rn
      FROM scored) WHERE rn <= {_BATCH_K}
    """,
)
def sim_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN serving: exact top-{_BATCH_K} neighbors for a SET of query
    vectors in one plan — the shape an embedding-search service runs, as
    opposed to sim_topk's single query and sim_knn_graph's labeled O(N^2)
    self-join anchor.

    Plan: the query set broadcasts (20 x 256 B — a real serving batch is
    MBs, still broadcast-sized), every corpus row scores all queries in
    the broadcast nested loop, and the per-query top-k is a rank window
    that Spark 4 rewrites with WindowGroupLimit: each map task keeps only
    its local top-k per query BEFORE the exchange, so the shuffle carries
    at most k rows per (task, query) instead of the full 20x fan-out —
    the same pre-shuffle pruning the segment-rewrite rank gets, pinned in
    tests. The nq-partition window skew ceiling (20 distinct keys) is
    capped at k rows per task per key by that prune, so no salting needed.

    At 100 TB: cost is the scan x nq cosine arithmetic — embarrassingly
    parallel, zero data shuffled beyond k rows per task per query;
    composing with IVF/SQ8/PQ (score codes instead of fp vectors) drops
    the per-row arithmetic the same way it does for one query.
    """
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _BATCH_NQ).select(
        F.col("vec_id").alias("query_id"), _dvec("embedding").alias("qv")
    )
    scored = (
        e.filter(F.col("vec_id") >= _BATCH_NQ)
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(_dvec("embedding"), F.col("qv")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _BATCH_K)
        .drop("rn")
    )


_PCA_ROUNDS = 3
_PCA_Q = 1048576  # 2^20 fixed-point, the _qvec scale


def _pca_oracle() -> str:
    parts = [f"""
    q AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
          FROM embeddings),
    cm AS (
      SELECT ui.i AS i, uj.j AS j,
             CAST(SUM(qv[ui.i] * qv[uj.j]) AS BIGINT) AS c
      FROM q,
           unnest(generate_series(1, 64)) ui(i),
           unnest(generate_series(1, 64)) uj(j)
      GROUP BY 1, 2),
    x0 AS (SELECT i AS j, CAST({_PCA_Q} AS HUGEINT) AS xq
           FROM (SELECT unnest(generate_series(1, 64)) AS i))"""]
    for r in range(1, _PCA_ROUNDS + 1):
        parts.append(f"""
    y{r} AS (
      SELECT cm.i, SUM(CAST(c AS HUGEINT) * x.xq) AS y
      FROM cm JOIN x{r - 1} x ON cm.j = x.j GROUP BY 1),
    m{r} AS (SELECT MAX(ABS(y)) AS m FROM y{r}),
    x{r} AS (SELECT i AS j, (y * {_PCA_Q}) // m AS xq FROM y{r}, m{r})""")
    return (
        "WITH" + ",".join(parts)
        + f"""
    SELECT j - 1 AS component, CAST(xq AS BIGINT) AS loading_q
    FROM x{_PCA_ROUNDS} ORDER BY 1"""
    )


@query("embed_pca_power", oracle=_pca_oracle())
def embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud via {n} unrolled
    power-iteration rounds in PURE INTEGER arithmetic — the graph_pagerank
    fixed-point trick applied to eigenvectors, so the iteration is
    bit-identical across partitionings and engines (a float power method
    is NOT: its matvec sums reorder under shuffle).

    Pipeline: fp32 components quantize to the established 2^20 fixed
    point (_qvec); the 64x64 uncentered second-moment matrix accumulates
    as integer products (|C_ij| <= N*2^40 — int64-safe through N ~ 8M
    vectors, decimal beyond); each round is one integer matvec
    accumulated in decimal(38,0) (|y| <= 64*|C|*2^20 ~ 10^24) followed by
    renormalization to Q20 via integer division by max|y| — Spark's
    decimal `div` and DuckDB's HUGEINT `//` both truncate toward zero
    (probed, including negatives), and the quotient is <= 2^20 by
    construction so it can never overflow the long. Uncentered moments =
    the direction of maximal raw second moment; center upstream if the
    mean is far from zero (unit-norm embedding tables like this one are
    near-centered by construction).

    Scale: the covariance explode is N x 64^2 rows but ONE map-side-
    combined shuffle into 4096 groups; each round's matvec joins the
    4096-row C (broadcastable) to the 64-row x and the 1-row max
    broadcasts back — bounded rows everywhere after the first aggregate.

    Output: (component, loading_q) — the Q20 fixed-point loadings of the
    dominant eigenvector after round {n}.
    """.format(n=_PCA_ROUNDS)
    e = table(spark, sf_dir, "embeddings")
    qt = e.select(_qvec("embedding").alias("qv"))
    t1 = qt.select(F.posexplode("qv").alias("i", "qi"), F.col("qv"))
    t2 = t1.select("i", "qi", F.posexplode("qv").alias("j", "qj"))
    # cm feeds every round's matvec — AUDITED, no checkpoint: the rounds'
    # identical covariance subplans collapse into one ReusedExchange, so
    # lazy is already single-scan; measured A/B at sf0.1: lazy 1.50 s vs
    # cm-checkpointed 1.91 s vs cm+y-checkpointed 1.95 s (eager
    # materialization adds blocking jobs without saving work). Opposite
    # verdict to the shared LM frames, where the branches differ and
    # nothing is reusable.
    cm = t2.groupBy("i", "j").agg(
        F.sum(F.col("qi") * F.col("qj")).cast("long").alias("c")
    )
    x = spark.range(64).select(
        F.col("id").cast("int").alias("j"),
        F.lit(_PCA_Q).cast("long").alias("xq"),
    )
    for _ in range(_PCA_ROUNDS):
        y = (
            cm.join(F.broadcast(x), "j")
            .groupBy("i")
            .agg(
                F.sum(F.col("c").cast("decimal(38,0)") * F.col("xq")).alias("y")
            )
        )
        m = y.agg(F.max(F.abs(F.col("y"))).alias("m"))
        x = (
            y.crossJoin(F.broadcast(m))
            .select(
                F.col("i").alias("j"),
                F.expr(f"(y * {_PCA_Q}) div m").cast("long").alias("xq"),
            )
        )
    return x.select(
        F.col("j").cast("long").alias("component"),
        F.col("xq").alias("loading_q"),
    ).orderBy("component")


_KC_K = 5  # coreset size: seed + 4 greedy farthest-first rounds


def _kcenter_oracle() -> str:
    """Unrolled greedy k-center. Every CTE is AS MATERIALIZED — each
    round references the growing chosen set and the point table again,
    and DuckDB otherwise re-inlines the whole prefix chain per round
    (the graph_connected_components lesson)."""
    parts = [
        """
    pts AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
      FROM embeddings),
    s1 AS MATERIALIZED (
      SELECT 1 AS round, vec_id, qv, CAST(0 AS BIGINT) AS d2
      FROM pts WHERE vec_id = 0)"""
    ]
    for r in range(2, _KC_K + 1):
        parts.append(
            f"""
    n{r} AS MATERIALIZED (
      SELECT p.vec_id, ANY_VALUE(p.qv) AS qv,
             CAST(MIN(list_aggregate(list_transform(
               range(1, len(p.qv) + 1),
               i -> (p.qv[i] - c.qv[i]) * (p.qv[i] - c.qv[i])), 'sum'))
               AS BIGINT) AS dmin
      FROM pts p, s{r - 1} c GROUP BY p.vec_id),
    p{r} AS MATERIALIZED (
      SELECT {r} AS round, vec_id, qv, dmin AS d2
      FROM n{r} ORDER BY dmin DESC, vec_id LIMIT 1),
    s{r} AS MATERIALIZED (
      SELECT * FROM s{r - 1} UNION ALL SELECT * FROM p{r})"""
        )
    return ",".join(parts) + f"""
    SELECT round, vec_id, d2 AS d2_sel FROM s{_KC_K} ORDER BY round"""


@query("sample_coreset_kcenter", oracle=f"WITH {_kcenter_oracle()}")
def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (farthest-first traversal, Gonzalez 1985)
    over the embedding table: seed with vec_id 0, then 4 rounds of "add
    the point farthest from everything chosen so far". The classic
    diversity-sampling primitive for training-data selection — the
    2-approximation to optimal k-center cover, and the seeding inside
    k-means++ and active-learning batch pickers. Emits each center with
    its selection round and its distance-to-cover at selection time (the
    monotonically shrinking coverage radius).

    Determinism: the embed_kmeans_iterate fixed point verbatim —
    components quantize to floor(x * 2^20) int64, squared distances
    accumulate in BIGINT (order-insensitive integer sums, no float
    anywhere), and the per-round argmax breaks distance ties on vec_id.
    The oracle unrolls the identical greedy rounds as MATERIALIZED CTEs.

    Plan per round: the chosen set (<= 5 rows of 64 longs) broadcasts
    across the point table, per-point min-distance is a map-side
    zip_with/aggregate fold, and the pick is a 1-row TakeOrdered — so a
    round is one scan + one tiny reduction, K rounds total. The chosen
    frame localCheckpoints per round (it is referenced by both the next
    round's distances and the union, the subplans-differ case). At
    100 TB: identical shape — the only growing cost is the K broadcast
    scans, which is the textbook distributed k-center schedule.
    """
    e = table(spark, sf_dir, "embeddings")
    qt = e.select("vec_id", _qvec("embedding").alias("qv")).localCheckpoint()
    chosen = qt.filter(F.col("vec_id") == 0).select(
        F.lit(1).alias("round"),
        "vec_id",
        "qv",
        F.lit(0).cast("long").alias("d2"),
    )
    for r in range(2, _KC_K + 1):
        cc = chosen.select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"))
        dmin = (
            qt.crossJoin(F.broadcast(cc))
            .select(
                "vec_id",
                "qv",
                _fold_zip("qv", "cv", lambda a, b: (a - b) * (a - b), F.lit(0).cast("long")).alias("d2"),
            )
            .groupBy("vec_id")
            .agg(F.first("qv").alias("qv"), F.min("d2").alias("dmin"))
        )
        pick = (
            dmin.orderBy(F.col("dmin").desc(), "vec_id")
            .limit(1)
            .select(
                F.lit(r).alias("round"),
                "vec_id",
                "qv",
                F.col("dmin").alias("d2"),
            )
        )
        chosen = chosen.unionByName(pick).localCheckpoint()
    return chosen.select("round", "vec_id", F.col("d2").alias("d2_sel")).orderBy(
        "round"
    )


@query(
    "embed_knn_outliers",
    oracle="""
    SELECT vec_id, label, knn3_sim,
           ROUND(1.0 - knn3_sim, 6) AS outlier_score
    FROM (
      SELECT a.vec_id, ANY_VALUE(a.label) AS label,
             ROUND(1.0 - knn3_sim, 6) AS s0, knn3_sim
      FROM (SELECT vec_id, label FROM embeddings) a
      JOIN (
        SELECT vec_a AS vec_id, cosine_sim AS knn3_sim FROM (
          SELECT a.vec_id AS vec_a,
                 ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                              CAST(b.embedding AS DOUBLE[])),
                       6) AS cosine_sim,
                 ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY ROUND(list_cosine_similarity(
                              CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])), 6) DESC,
                            b.vec_id) AS rn
          FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        ) WHERE rn = 3
      ) k USING (vec_id)
      GROUP BY a.vec_id, knn3_sim
    ) ORDER BY outlier_score DESC, vec_id LIMIT 10
    """,
)
def embed_knn_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection: a vector's anomaly score is the
    distance to its 3rd nearest neighbor (1 - cosine), the standard
    kNN-distance detector — points whose third-closest companion is
    still far away sit in no cluster, and in a training corpus they are
    the mislabeled/garbage/exotic rows a curator reviews first. Emits
    the top-10 with labels so the review starts from the worst.

    Ranking compares ROUNDED similarity (6 dp) with vec_id tie-break —
    the sim_knn_graph contract, so neighbor choice can never diverge on
    a last-ulp double. The final cut orders by the same rounded score.

    Plan: the sim_knn_graph topology verbatim — brute-force pairs with
    the broadcast small side and a per-node WindowGroupLimit (rn <= 3
    pruned map-side), then a 10-row TakeOrdered. The labeled O(N^2)
    anchor; at 100 TB the candidate generator swaps to the sim_ann_*
    bucket joins while the kth-distance cut stays identical.
    """
    e = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    a, b = pair_sides(e)
    pairs = a.join(F.broadcast(b), F.col("vec_a") != F.col("vec_b"))
    sim = F.round(
        cosine_from_norms(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")), 6
    )
    w = Window.partitionBy("vec_a").orderBy(F.col("cosine_sim").desc(), "vec_b")
    k3 = (
        pairs.select("vec_a", "vec_b", sim.alias("cosine_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 3)
        .select(F.col("vec_a").alias("vec_id"), F.col("cosine_sim").alias("knn3_sim"))
    )
    return (
        k3.join(e.select("vec_id", "label"), "vec_id")
        .select(
            "vec_id",
            "label",
            "knn3_sim",
            F.round(F.lit(1.0) - F.col("knn3_sim"), 6).alias("outlier_score"),
        )
        .orderBy(F.col("outlier_score").desc(), "vec_id")
        .limit(10)
    )


_MMR_POOL = 20
_MMR_K = 5


def _idot(a, b):
    """Exact BIGINT dot product of two quantized component arrays."""
    return _fold_zip(a, b, lambda x, y: x * y, F.lit(0).cast("long"))


# (rel desc, vec_id asc) over pool structs — the pool-cut / first-pick order.
_MMR_CMP_REL = """(pa, pb) ->
    CASE WHEN pa.rel > pb.rel THEN -1 WHEN pa.rel < pb.rel THEN 1
         WHEN pa.vec_id < pb.vec_id THEN -1
         WHEN pa.vec_id > pb.vec_id THEN 1 ELSE 0 END"""

# ((rel - maxsim) desc, vec_id asc) over scored structs — the greedy argmax.
_MMR_CMP_MMR = """(sa, sb) ->
    CASE WHEN sa.rel - sa.maxsim > sb.rel - sb.maxsim THEN -1
         WHEN sa.rel - sa.maxsim < sb.rel - sb.maxsim THEN 1
         WHEN sa.vec_id < sb.vec_id THEN -1
         WHEN sa.vec_id > sb.vec_id THEN 1 ELSE 0 END"""

# Round r's candidate scoring: pool minus chosen, each with its max BIGINT
# dot against the chosen set (the same _idot fold, in SQL form).
_MMR_SCORED = """
  transform(
    filter(pool, p -> NOT exists(acc, c -> c.vec_id = p.vec_id)),
    p -> struct(
      p.vec_id AS vec_id, p.qv AS qv, p.rel AS rel,
      array_max(transform(acc, c ->
        aggregate(zip_with(p.qv, c.qv, (x, y) -> x * y),
                  CAST(0 AS BIGINT), (s, x) -> s + x))) AS maxsim))"""

_MMR_EXPR = f"""
transform(
  aggregate(
    sequence(2, {_MMR_K}),
    transform(
      slice(array_sort(pool, {_MMR_CMP_REL}), 1, 1),
      p1 -> struct(1 AS pick, p1.vec_id AS vec_id, p1.qv AS qv,
                   p1.rel AS rel, CAST(0 AS BIGINT) AS maxsim)),
    (acc, r) -> acc || transform(
      slice(array_sort({_MMR_SCORED}, {_MMR_CMP_MMR}), 1, 1),
      b -> struct(r AS pick, b.vec_id AS vec_id, b.qv AS qv,
                  b.rel AS rel, b.maxsim AS maxsim))),
  c -> struct(c.pick AS pick, c.vec_id AS vec_id, c.rel AS rel,
              c.maxsim AS maxsim))
"""


def _mmr_greedy(pool: DataFrame) -> DataFrame:
    """Greedy lambda=1/2 MMR over a small checkpointed pool frame with
    columns (vec_id, qv, rel) — the engine twin of _mmr_tail_sql().

    r15: evaluated as ONE nested higher-order expression over the pool
    collected to a single <= _MMR_POOL-element array — the greedy selection
    is a deterministic function of the pool SET, so no driver loop, no
    per-round anti-join/broadcast/TakeOrdered/localCheckpoint barriers:
    one tiny job instead of 4 rounds x 4 jobs. Tie-breaks replicate the
    loop exactly ((rel desc, vec_id) for pick 1, (rel - maxsim desc,
    vec_id) after); the dot is the same BIGINT zip_with/aggregate fold;
    ``slice(..., 1, 1)`` is the empty-safe argmax (a pool smaller than
    _MMR_K — or empty — yields fewer picks, exactly like the loop's empty
    TakeOrdered; element_at would raise under ANSI). The interpreted
    nested-HOF evaluation runs on ONE row of <= 20 structs — micro-scale,
    where the r15 janino/JIT findings do not apply. Measured (with the
    retrieval_pool build included): 1.92 -> 0.81 s median; the loop
    variants 'checkpoint every 2nd round' (neutral) and 'fully lazy
    unroll' (1.5x WORSE — 3^4 pool-leaf replays with nested broadcast
    builds) are recorded in OPTIMIZATION_r15.md, "retrieval_pipeline /
    sim_mmr_rerank". At 100 TB the pool is still <= _MMR_POOL rows after
    the rerank cut, so the single-row evaluation holds at any corpus size.
    """
    one = pool.agg(F.collect_list(F.struct("vec_id", "qv", "rel")).alias("pool"))
    return (
        one.select(F.explode(F.expr(_MMR_EXPR)).alias("c"))
        .select("c.pick", "c.vec_id", "c.rel", "c.maxsim")
        .orderBy("pick")
    )


def _mmr_tail_sql() -> str:
    """Unrolled greedy MMR rounds over an existing MATERIALIZED ``pool``
    CTE with columns (vec_id, qv, rel) — shared by sim_mmr_rerank (full
    exact pool) and retrieval_pipeline (IVF-probed pool). lambda = 1/2,
    so the argmax is rel - maxsim; every CTE AS MATERIALIZED (each round
    references the pool and the growing chosen set repeatedly)."""
    dot = (
        "CAST(list_aggregate(list_transform(range(1, len(p.qv) + 1), "
        "i -> p.qv[i] * c.qv[i]), 'sum') AS BIGINT)"
    )
    parts = [
        """
    s1 AS MATERIALIZED (
      SELECT 1 AS pick, vec_id, qv, rel, CAST(0 AS BIGINT) AS maxsim
      FROM pool ORDER BY rel DESC, vec_id LIMIT 1)"""
    ]
    for r in range(2, _MMR_K + 1):
        parts.append(
            f"""
    n{r} AS MATERIALIZED (
      SELECT p.vec_id, ANY_VALUE(p.qv) AS qv, ANY_VALUE(p.rel) AS rel,
             CAST(MAX({dot}) AS BIGINT) AS maxsim
      FROM pool p, s{r - 1} c
      WHERE p.vec_id NOT IN (SELECT vec_id FROM s{r - 1})
      GROUP BY p.vec_id),
    p{r} AS MATERIALIZED (
      SELECT {r} AS pick, vec_id, qv, rel, maxsim
      FROM n{r} ORDER BY rel - maxsim DESC, vec_id LIMIT 1),
    s{r} AS MATERIALIZED (
      SELECT * FROM s{r - 1} UNION ALL SELECT * FROM p{r})"""
        )
    return (
        ",".join(parts)
        + f"""
    SELECT pick, vec_id, rel, maxsim FROM s{_MMR_K} ORDER BY pick"""
    )


def _mmr_oracle() -> str:
    """sim_mmr_rerank's oracle: exact full-scan pool + the shared tail."""
    return f"""
    pts AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
      FROM embeddings),
    q AS MATERIALIZED (SELECT qv FROM pts WHERE vec_id = 0),
    rel AS MATERIALIZED (
      SELECT p.vec_id, p.qv,
             CAST(list_aggregate(list_transform(range(1, len(p.qv) + 1),
               i -> p.qv[i] * c.qv[i]), 'sum') AS BIGINT) AS rel
      FROM pts p, (SELECT qv FROM q) c
      WHERE p.vec_id <> 0),
    pool AS MATERIALIZED (
      SELECT * FROM rel ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL}),""" + _mmr_tail_sql()


@query("sim_mmr_rerank", oracle=f"WITH {_mmr_oracle()}")
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998) —
    the diversity pass every RAG retriever runs after similarity search:
    from the top-20 pool for query vec_id 0, greedily pick 5 results
    maximizing lambda*relevance - (1-lambda)*max-similarity-to-already-
    picked. At lambda = 1/2 the argmax reduces to rel - maxsim, which
    keeps the WHOLE objective in exact BIGINT fixed-point — near-
    duplicate pool entries (the thing plain top-k serves three of) get
    crushed by their similarity to an earlier pick.

    Determinism: the k-center discipline — floor(x*2^20) int64
    components, integer dot products (64 terms of ~1e12 top out ~6e13,
    inside int64), argmax ties on vec_id, the chosen set excluded by
    anti-join each round (self-similarity must not reach the argmax).

    Plan: ONE data-sized stage — the 1-row query broadcast + BIGINT
    dot + 20-row TakeOrdered pool cut (the sim_topk shape); the greedy
    rounds then run on a 20-row localCheckpointed frame with <=5-row
    broadcasts — free at any corpus size. The serving-path story of
    sim_ann_*: candidates from an index, rerank bounded by the pool.
    """
    e = table(spark, sf_dir, "embeddings")
    qt = e.select("vec_id", _qvec("embedding").alias("qv"))
    q0 = qt.filter(F.col("vec_id") == 0).select(F.col("qv").alias("q0"))
    pool = (
        qt.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q0))
        .select("vec_id", "qv", _idot(F.col("qv"), F.col("q0")).alias("rel"))
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_POOL)
        .localCheckpoint()
    )
    return _mmr_greedy(pool)

_RP_NPROBE = 3  # probed coarse cells (of _IVF_NLIST = 8)


@query(
    "retrieval_pipeline",
    oracle=f"""
    WITH {ivf_assign_ctes()},
    probes AS MATERIALIZED (
      SELECT cid FROM cdist WHERE vec_id = 0
      ORDER BY d2, cid LIMIT {_RP_NPROBE}),
    qv0 AS MATERIALIZED (SELECT qv FROM qt WHERE vec_id = 0),
    rel AS MATERIALIZED (
      SELECT p.vec_id, p.qv,
             CAST(list_aggregate(list_transform(range(1, len(p.qv) + 1),
               i -> p.qv[i] * c.qv[i]), 'sum') AS BIGINT) AS rel
      FROM qt p
      JOIN assigned a ON p.vec_id = a.vec_id
      JOIN probes pr ON a.cid = pr.cid, (SELECT qv FROM qv0) c
      WHERE p.vec_id <> 0),
    pool AS MATERIALIZED (
      SELECT * FROM rel ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL}),{_mmr_tail_sql()}
    """,
)
def retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth composed flagship — the RAG SERVING PATH end-to-end in
    ONE program: IVF coarse index (assignment + 3-of-8 cell probe) ->
    exact BIGINT dot-product re-rank of the probed candidates into a
    top-20 pool -> greedy lambda=1/2 MMR down to the 5 results actually
    returned. This is the query-time composition every vector store
    runs; the other flagships cover curation (corpus_prep,
    web_corpus_pipeline) and packing — this one covers serving.

    Each stage is the already-proven machinery composed, not re-stated:
    ivf_assign (the 2^20 fixed-point integer assignment + its exact CTE
    twin), the sim_topk pool-cut shape, and the _mmr_greedy /
    _mmr_tail_sql pair shared with sim_mmr_rerank — so the pipeline's
    oracle replays the exact same integer arithmetic stage by stage.

    Measured (experiments/ann_log.csv, *_pool20_r8 rows): the 3-of-8
    probe recovers 19/20 of the exact top-20 pool at BOTH sf0.01 and
    sf0.1 (pool recall 0.95), and the one missed member is never an MMR
    pick on this data — the served 5 equal the full-scan MMR's exactly.

    Scale story: the index prunes the scan to nprobe/nlist of the
    corpus BEFORE the only data-sized work (the dot re-rank); the MMR
    rounds run on a 20-row checkpointed frame. nlist grows ~sqrt(N) at
    real scale (ivf_nlist), keeping both the probe fraction and the
    centroid broadcast bounded — the sim_ann_ivf scale note, now as the
    front half of a full serving program.
    """
    return _mmr_greedy(retrieval_pool(spark, sf_dir))


def retrieval_pool(spark: SparkSession, sf_dir: str, checkpoint: bool = True) -> DataFrame:
    """retrieval_pipeline's IVF-probe + exact-rerank pool — the stage
    BEFORE the MMR tail, factored out (r14, ADVICE r13) so bench.py's
    probe/rerank attribution times THIS plan, not a hand-maintained
    inline copy that silently goes stale when the pool shape changes.
    checkpoint=False gives the un-materialized plan (what the bench
    counts); the pipeline itself takes the localCheckpoint barrier so
    the <=20-row MMR rounds never re-derive the data-sized subtree."""
    e = table(spark, sf_dir, "embeddings")
    qt = e.select("vec_id", _qvec("embedding").alias("qv"))
    cents = qt.filter(F.col("vec_id") < _IVF_NLIST).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    d2 = _fold_zip("qv", "cv", lambda a, b: (a - b) * (a - b), F.lit(0).cast("long"))
    probes = (
        qt.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(cents))
        .select("cid", d2.alias("d2"))
        .orderBy("d2", "cid")
        .limit(_RP_NPROBE)
        .select("cid")
    )
    assigned = ivf_assign(e)
    q0 = qt.filter(F.col("vec_id") == 0).select(F.col("qv").alias("q0"))
    pool = (
        qt.filter(F.col("vec_id") != 0)
        .join(assigned, "vec_id")
        .join(F.broadcast(probes), "cid")
        .crossJoin(F.broadcast(q0))
        .select("vec_id", "qv", _idot(F.col("qv"), F.col("q0")).alias("rel"))
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_POOL)
    )
    return pool.localCheckpoint() if checkpoint else pool


@query(
    "embed_dim_stats",
    oracle="""
    WITH q AS (
      SELECT list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
      FROM embeddings),
    d AS (
      SELECT i - 1 AS dim, qv[i] AS qc
      FROM q, unnest(generate_series(1, len(qv))) u(i)),
    g AS (
      SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(qc) AS BIGINT) AS s,
             CAST(SUM(qc * qc) AS BIGINT) AS sq
      FROM d GROUP BY 1)
    SELECT dim, n, s, sq,
           ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0, 6) AS mean,
           ROUND((CAST(sq AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 / CAST(n AS DOUBLE) / (1048576.0 * 1048576.0), 6) AS variance
    FROM g ORDER BY dim
    """,
)
def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension profile of the embedding column — mean and population
    variance for each of the 64 components, the diagnostic every vector
    pipeline runs before whitening/quantization (dead dimensions, scale
    imbalance, anisotropy all show up here; sim_ann_sq8's min/max scaling
    and embed_pca_power's variance direction both presuppose this table).

    Determinism: components quantize to the shared floor(x·2^20) int64
    grid (_qvec — float->double widening is exact), so n, Σq, Σq² are
    exact BIGINTs; mean and variance are mirrored fixed IEEE trees over
    those integers (BIGINT->DOUBLE rounds identically on both engines),
    de-scaled by the exact binary 2^20, ROUND-6.

    Plan: ONE posexplode (64 rows per vector — dimension explode, never
    a character/token-scale blowup) into a map-side-combined 64-group
    aggregate. At 100 TB this is the textbook partial-agg win: every
    executor folds its vectors locally into 64 cells before any
    exchange; Σq² tops out near 2^42·N so the int64 ceiling sits at
    ~2e6 vectors PER DIMENSION GROUP per overflow — past that the sums
    move to DECIMAL(38,0), noted for the capacity planner.
    """
    e = table(spark, sf_dir, "embeddings")
    q = e.select(_qvec("embedding").alias("qv"))
    d = q.select(F.posexplode("qv").alias("dim", "qc"))
    g = d.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qc").cast("long").alias("s"),
        F.sum(F.col("qc") * F.col("qc")).cast("long").alias("sq"),
    )
    mean = F.col("s").cast("double") / F.col("n").cast("double") / F.lit(1048576.0)
    var = (
        (
            F.col("sq").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double")
            / F.col("n").cast("double")
        )
        / F.col("n").cast("double")
        / F.lit(1048576.0 * 1048576.0)
    )
    return g.select(
        F.col("dim").cast("long").alias("dim"),
        "n",
        "s",
        "sq",
        F.round(mean, 6).alias("mean"),
        F.round(var, 6).alias("variance"),
    ).orderBy("dim")


@query(
    "embed_label_affinity",
    oracle="""
    WITH q AS (
      SELECT label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
      FROM embeddings),
    comp AS (
      SELECT label, i, CAST(SUM(qv[i]) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM q, unnest(generate_series(1, len(qv))) u(i)
      GROUP BY 1, 2),
    cvec AS (
      SELECT label,
             list(CAST(FLOOR(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
                  ORDER BY i) AS cv
      FROM comp GROUP BY 1),
    pairs AS (
      SELECT a.label AS la, b.label AS lb, a.cv AS ca, b.cv AS cb
      FROM cvec a JOIN cvec b ON a.label < b.label),
    dots AS (
      SELECT la, lb,
             CAST(SUM(ca[u.i] * cb[u.i]) AS BIGINT) AS dot,
             CAST(SUM(ca[u.i] * ca[u.i]) AS BIGINT) AS na,
             CAST(SUM(cb[u.i] * cb[u.i]) AS BIGINT) AS nb
      FROM pairs, unnest(generate_series(1, len(ca))) u(i)
      GROUP BY 1, 2)
    SELECT la, lb, dot, na, nb,
           ROUND(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)
             AS cosine
    FROM dots
    ORDER BY CAST(dot AS DOUBLE)
             / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC,
             la, lb
    """,
)
def embed_label_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-confusability matrix: cosine similarity between every pair of
    label centroids — the embedding-space answer to "which classes does
    this representation struggle to separate?", read before picking
    contrastive pairs or merging labels (high-affinity pairs are where
    embed_kmeans_assign's mistakes and embed_triplet_mining's hard
    negatives concentrate).

    Determinism: centroids are the embed_kmeans_assign integer centroids
    (floor'd per-component mean of _qvec components — one correctly-
    rounded double division each, exact while |Σq| << 2^53); dot and
    norms are exact int64 sums (64 dims x 2^42 per term ~ 2^48); cosine
    is the mirrored dot/(sqrt·sqrt) tree — sqrt is cross-engine-safe —
    and the ordering compares that exact quotient with (la, lb)
    tie-break.

    Plan: one dimension-exploded map-side-combined aggregate builds the
    |labels| centroids; the |labels|² pair join is a bounded broadcast
    cross (whitelisted — 45 pairs here, and still trivially broadcastable
    at any corpus size since |labels| is a dimension, not data). Nothing
    data-sized after the first aggregate.
    """
    e = table(spark, sf_dir, "embeddings")
    q = e.select("label", _qvec("embedding").alias("qv"))
    comp = q.select("label", F.posexplode("qv").alias("i", "qc")).groupBy(
        "label", "i"
    ).agg(F.sum("qc").cast("long").alias("s"), F.count(F.lit(1)).cast("long").alias("n"))
    cvec = (
        comp.select(
            "label",
            "i",
            F.floor(F.col("s").cast("double") / F.col("n").cast("double"))
            .cast("long")
            .alias("cc"),
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "cc"))).alias("parts"))
        .select("label", F.transform("parts", lambda p: p["cc"]).alias("cv"))
    )
    a = cvec.select(F.col("label").alias("la"), F.col("cv").alias("ca"))
    b = cvec.select(F.col("label").alias("lb"), F.col("cv").alias("cb"))
    pairs = a.join(F.broadcast(b), F.col("la") < F.col("lb"))
    dot = _fold_zip("ca", "cb", lambda x, y: x * y, F.lit(0).cast("long"))
    # na/nb: folding the same column against itself gives the identical
    # per-element x*x term and association as the old transform+aggregate.
    na = _fold_zip("ca", "ca", lambda x, y: x * y, F.lit(0).cast("long"))
    nb = _fold_zip("cb", "cb", lambda x, y: x * y, F.lit(0).cast("long"))
    d = pairs.select(
        "la", "lb", dot.alias("dot"), na.alias("na"), nb.alias("nb")
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return d.select(
        "la", "lb", "dot", "na", "nb", F.round(cos, 6).alias("cosine")
    ).orderBy(cos.desc(), "la", "lb")


def _mine_hard_triplets(q: DataFrame) -> DataFrame:
    """The hard-triplet miner over a (vec_id, label, qv) frame of integer
    vectors: per anchor of the 1-in-25 vec_id sample, the farthest
    same-label vector, the nearest different-label vector and the
    `separated` flag. embed_triplet_mining runs it on the _qvec grid and
    embed_separation_control on the boosted grid, so a miner regression
    turns the control red too."""
    anch = q.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("alabel"),
        F.col("qv").alias("aqv"),
    )
    d2 = _fold_zip("aqv", "qv", lambda x, y: (x - y) * (x - y), F.lit(0).cast("long"))
    d = (
        q.crossJoin(F.broadcast(anch))
        .filter(F.col("vec_id") != F.col("aid"))
        .select("aid", "alabel", "vec_id", "label", d2.alias("d2"))
    )
    wpos = Window.partitionBy("aid").orderBy(F.col("d2").desc(), "vec_id")
    wneg = Window.partitionBy("aid").orderBy("d2", "vec_id")
    pos = (
        d.filter(F.col("label") == F.col("alabel"))
        .withColumn("rn", F.row_number().over(wpos))
        .filter(F.col("rn") == 1)
        .select(
            F.col("aid").alias("anchor_id"),
            F.col("alabel").alias("anchor_label"),
            F.col("vec_id").alias("pos_id"),
            F.col("d2").alias("pos_d2"),
        )
    )
    neg = (
        d.filter(F.col("label") != F.col("alabel"))
        .withColumn("rn", F.row_number().over(wneg))
        .filter(F.col("rn") == 1)
        .select(
            F.col("aid").alias("anchor_id"),
            F.col("vec_id").alias("neg_id"),
            F.col("d2").alias("neg_d2"),
        )
    )
    return (
        pos.join(neg, "anchor_id")
        .select(
            "anchor_id",
            "anchor_label",
            "pos_id",
            "pos_d2",
            "neg_id",
            "neg_d2",
            (F.col("neg_d2") > F.col("pos_d2")).alias("separated"),
        )
        .orderBy("anchor_id")
    )


@query(
    "embed_triplet_mining",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
      FROM embeddings),
    anch AS (SELECT vec_id AS aid, label AS alabel, qv AS aqv
             FROM q WHERE vec_id % 25 = 0),
    d AS (
      SELECT anch.aid, anch.alabel, q.vec_id, q.label,
             CAST(SUM((anch.aqv[u.i] - q.qv[u.i])
                      * (anch.aqv[u.i] - q.qv[u.i])) AS BIGINT) AS d2
      FROM anch, q, unnest(generate_series(1, len(anch.aqv))) u(i)
      WHERE q.vec_id <> anch.aid
      GROUP BY 1, 2, 3, 4),
    pos AS (
      SELECT aid, alabel, vec_id AS pos_id, d2 AS pos_d2,
             ROW_NUMBER() OVER (PARTITION BY aid
                                ORDER BY d2 DESC, vec_id) AS rn
      FROM d WHERE label = alabel),
    neg AS (
      SELECT aid, vec_id AS neg_id, d2 AS neg_d2,
             ROW_NUMBER() OVER (PARTITION BY aid
                                ORDER BY d2, vec_id) AS rn
      FROM d WHERE label <> alabel)
    SELECT p.aid AS anchor_id, p.alabel AS anchor_label,
           p.pos_id, p.pos_d2, n.neg_id, n.neg_d2,
           n.neg_d2 > p.pos_d2 AS separated
    FROM pos p JOIN neg n ON p.aid = n.aid AND p.rn = 1 AND n.rn = 1
    ORDER BY anchor_id
    """,
)
def embed_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-triplet mining for contrastive training (the FaceNet recipe):
    for each anchor in a deterministic 1-in-25 sample, the hardest
    positive (FARTHEST same-label vector) and hardest negative (NEAREST
    different-label vector), plus the separated flag (neg_d2 > pos_d2 —
    anchors violating it are exactly where a triplet loss still has
    gradient). This is the batch-construction query a representation-
    learning pipeline runs per epoch; the output feeds the dataloader.

    Determinism: squared L2 over the shared _qvec integer grid — d2 is
    an exact int64 (the embed_kmeans_assign bound), so both argmax and
    argmin rank pure integers with vec_id tie-break. No floats anywhere.

    Plan: the anchor set is a constant-fraction deterministic sample
    broadcast over the scan (the sim_topk_batch shape, whitelisted);
    hardest-pos/neg are per-anchor partitioned window ranks (never
    global). At 100 TB the mining would pre-prune candidates with the
    IVF cell structure (sim_ann_ivf) before the exact pass — the exact
    pass here IS the correctness anchor for that refinement.
    """
    e = table(spark, sf_dir, "embeddings")
    return _mine_hard_triplets(
        e.select("vec_id", "label", _qvec("embedding").alias("qv"))
    )


@query(
    "embed_silhouette",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
      FROM embeddings),
    comp AS (
      SELECT label, i, CAST(SUM(qv[i]) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM q, unnest(generate_series(1, len(qv))) u(i)
      GROUP BY 1, 2),
    cvec AS (
      SELECT label AS clabel,
             list(CAST(FLOOR(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
                  ORDER BY i) AS cv
      FROM comp GROUP BY 1),
    dist AS (
      SELECT vec_id, label, clabel,
             CAST(SUM((qv[u.i] - cv[u.i]) * (qv[u.i] - cv[u.i])) AS BIGINT)
               AS d2
      FROM q, cvec, unnest(generate_series(1, len(qv))) u(i)
      GROUP BY 1, 2, 3),
    ab AS (
      SELECT vec_id, label,
             MIN(CASE WHEN clabel = label THEN d2 END) AS a2,
             MIN(CASE WHEN clabel != label THEN d2 END) AS b2
      FROM dist GROUP BY 1, 2),
    si AS (
      SELECT label,
             CAST(floor((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
                   / (CASE WHEN greatest(sqrt(CAST(a2 AS DOUBLE)),
                                         sqrt(CAST(b2 AS DOUBLE))) > 0.0
                           THEN greatest(sqrt(CAST(a2 AS DOUBLE)),
                                         sqrt(CAST(b2 AS DOUBLE)))
                           ELSE 1.0 END)
                   * 1000000000000.0) AS BIGINT) AS s_i
      FROM ab)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(CAST(SUM(CAST(s_i AS HUGEINT)) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0), 6)
             AS mean_silhouette
    FROM si GROUP BY 1 ORDER BY 1
    """,
)
def embed_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label CENTROID silhouette of the embedding space — the
    clustering-quality scorecard on top of embed_kmeans_assign's
    machinery: a_i = distance to the OWN label centroid, b_i = distance
    to the nearest OTHER centroid, s_i = (b_i - a_i)/max(a_i, b_i) in
    [-1, 1]. The simplified-silhouette variant (centroid distances, not
    all-pairs — the O(N k) form that is the ONLY silhouette computable
    at corpus scale; the classic O(N^2) all-pairs definition is stated
    and rejected here). Mean s per label answers "which classes are
    actually separable in this embedding" — the go/no-go before
    training a classifier on it.

    Exactness: the embed_kmeans_assign fixed-point discipline — floor'd
    2^20 components, floor'd integer centroids, exact int64 squared
    distances; sqrt is the safe transcendental; per-vector s_i
    floor-scales to pico units so the per-label mean folds
    order-independently in DECIMAL(38,0)/HUGEINT. Zero-distance guard
    keeps the denominator structurally nonzero (ANSI CSE hoists
    divisions out of CASE branches — the drift_report_windowed lesson).

    Plan: k x dim centroid table broadcast against the vector scan; one
    in-row zip_with distance per (vector, centroid); per-vector 2-way
    argmin fold; per-label mean. No all-pairs stage anywhere.
    """
    e = table(spark, sf_dir, "embeddings")
    qcol = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * F.lit(1048576.0)).cast("long")
    )
    q = e.select("vec_id", "label", qcol.alias("qv"))
    comp = (
        q.select("label", F.posexplode("qv").alias("i", "qc"))
        .groupBy("label", "i")
        .agg(F.sum("qc").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    cq = F.floor(F.col("s").cast("double") / F.col("n").cast("double")).cast("long")
    cvec = (
        comp.select(F.col("label").alias("clabel"), "i", cq.alias("cq"))
        .groupBy("clabel")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "cq"))), lambda s: s["cq"]
            ).alias("cv")
        )
    )
    d2 = _fold_zip("qv", "cv", lambda a, b: (a - b) * (a - b), F.lit(0).cast("long"))
    dist = q.crossJoin(F.broadcast(cvec)).select(
        "vec_id", "label", "clabel", d2.alias("d2")
    )
    ab = dist.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("d2"))).alias("a2"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2"))).alias("b2"),
    )
    sa = F.sqrt(F.col("a2").cast("double"))
    sb = F.sqrt(F.col("b2").cast("double"))
    g = F.greatest(sa, sb)
    denom = F.when(g > 0.0, g).otherwise(F.lit(1.0))
    s_i = F.floor((sb - sa) / denom * F.lit(1000000000000.0)).cast("long")
    si = ab.select("label", s_i.alias("s_i"))
    return (
        si.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(
                F.sum(F.col("s_i").cast("decimal(38,0)")).cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1000000000000.0)),
                6,
            ).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


@query(
    "eval_ann_recall",
    oracle="""
    WITH cents AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cemb
      FROM embeddings WHERE vec_id < 8),
    q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 64 = 0),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND(list_cosine_similarity(
                            CAST(e.embedding AS DOUBLE[]), c.cemb), 6) DESC,
                          c.cid) AS rn
        FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
    qprobes AS (
      SELECT qid, cid FROM (
        SELECT q.qid, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.qid
                 ORDER BY ROUND(list_cosine_similarity(q.qv, c.cemb), 6) DESC,
                          c.cid) AS rn
        FROM q CROSS JOIN cents c) WHERE rn <= 2),
    scored AS (
      SELECT q.qid, e.vec_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
               AS cos6
      FROM embeddings e, q WHERE e.vec_id != q.qid),
    ann10 AS (
      SELECT qid, vec_id FROM (
        SELECT s.qid, s.vec_id,
               ROW_NUMBER() OVER (PARTITION BY s.qid
                                  ORDER BY s.cos6 DESC, s.vec_id) AS rn
        FROM scored s
        JOIN assigned a ON s.vec_id = a.vec_id
        JOIN qprobes p ON s.qid = p.qid AND a.cid = p.cid)
      WHERE rn <= 10),
    exact10 AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos6 DESC, vec_id) AS rn
        FROM scored) WHERE rn <= 10)
    SELECT e.qid,
           CAST(COUNT(a.vec_id) AS BIGINT) AS hits_10,
           ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / 10.0, 6) AS ann_recall_10
    FROM exact10 e LEFT JOIN ann10 a USING (qid, vec_id)
    GROUP BY 1 ORDER BY 1
    """,
)
def eval_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate AS AN OPERATOR: recall@10 of the IVF route
    (8 coarse centroids, nprobe = 2 — sim_ann_ivf's structure) against
    the exact-cosine top-10, per probe query (vec_id % 64 == 0, the
    retrieval_eval probe set). The eval family scores MODELS
    (eval_retrieval_per_query scores a ranking given relevance); this op
    scores the INDEX — the number that decides nprobe and centroid
    count before an ANN deployment, previously proven only in
    experiments/ann_benchmark.py logs.

    Determinism: every ranking (cell assignment, probe selection,
    candidate rank, exact rank) orders by ROUND-6 cosine with id
    tiebreaks — total orders on both engines (the sim_topk contract);
    hits are exact set intersections; recall is one division, ROUND-6.

    Plan: the centroid table (8 rows) broadcasts twice (assignment +
    probe selection); candidate generation is an equi-join on cell id
    (never all-pairs; exact truth here IS all-pairs vs the 8-query
    broadcast — the eval's ground-truth cost, bounded by |probes|); two
    per-query partitioned ranks; one grouped fold to 8 rows.
    """
    e = table(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    q = e.filter(F.col("vec_id") % 64 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    cos_ec = F.round(cosine(_dvec("embedding"), _dvec("cemb")), 6)
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("ac").desc(), F.col("cid")
    )
    assigned = (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", "cid", cos_ec.alias("ac"))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    cos_qc = F.round(cosine(_dvec("qv"), _dvec("cemb")), 6)
    w_probe = Window.partitionBy("qid").orderBy(F.col("qc").desc(), F.col("cid"))
    qprobes = (
        q.crossJoin(F.broadcast(cents))
        .select("qid", "cid", cos_qc.alias("qc"))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= 2)
        .select("qid", "cid")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine(_dvec("embedding"), _dvec("qv")), 6).alias("cos6"),
        )
        .localCheckpoint()  # feeds both the ANN and the exact rankings
    )
    w_rank = Window.partitionBy("qid").orderBy(F.col("cos6").desc(), F.col("vec_id"))
    ann10 = (
        scored.join(assigned, "vec_id")
        .join(F.broadcast(qprobes), ["qid", "cid"])
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 10)
        .select("qid", "vec_id")
    )
    exact10 = (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 10)
        .select("qid", "vec_id")
    )
    hit = ann10.withColumn("hit", F.lit(1))
    return (
        exact10.join(hit, ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("hits_10"))
        .select(
            "qid",
            "hits_10",
            F.round(F.col("hits_10").cast("double") / F.lit(10.0), 6).alias(
                "ann_recall_10"
            ),
        )
        .orderBy("qid")
    )


# -- rank-biased overlap between the exact and IVF-probed rankings (r13) -----

_RBO_P = 0.9
_RBO_D = 10
# (1-p)*p^(d-1) weights authored as literals at import (the _DCG_W
# discipline) — repr() round-trips doubles exactly, so both engines parse
# the identical IEEE value; no runtime pow.
_RBO_W = [(1.0 - _RBO_P) * _RBO_P**d for d in range(_RBO_D)]


@query(
    "eval_rank_biased_overlap",
    oracle=f"""
    WITH {ivf_assign_ctes()},
    qv0 AS MATERIALIZED (SELECT qv FROM qt WHERE vec_id = 0),
    rel AS MATERIALIZED (
      SELECT p.vec_id,
             CAST(list_aggregate(list_transform(range(1, len(p.qv) + 1),
               i -> p.qv[i] * c.qv[i]), 'sum') AS BIGINT) AS rel
      FROM qt p, (SELECT qv FROM qv0) c
      WHERE p.vec_id <> 0),
    probes AS MATERIALIZED (
      SELECT cid FROM cdist WHERE vec_id = 0
      ORDER BY d2, cid LIMIT {_RP_NPROBE}),
    exact_l AS (
      -- COALESCE (r14, ADVICE r13): list() over zero rows is NULL in
      -- DuckDB while Spark's collect_list is an empty array; without it
      -- an empty candidate set sends o/rbo NULL here but 0.0 in the
      -- engine — a mirrored-expression gap in the degenerate case.
      SELECT COALESCE(list(vec_id ORDER BY rel DESC, vec_id),
                      CAST([] AS BIGINT[])) AS xs FROM (
        SELECT vec_id, rel FROM rel
        ORDER BY rel DESC, vec_id LIMIT {_RBO_D})),
    ivf_l AS (
      SELECT COALESCE(list(vec_id ORDER BY rel DESC, vec_id),
                      CAST([] AS BIGINT[])) AS ys FROM (
        SELECT r.vec_id, r.rel
        FROM rel r
        JOIN assigned a ON r.vec_id = a.vec_id
        JOIN probes pr ON a.cid = pr.cid
        ORDER BY r.rel DESC, r.vec_id LIMIT {_RBO_D})),
    ov AS (
      SELECT xs, ys,
             list_transform(generate_series(1, {_RBO_D}),
               d -> CAST(len(list_intersect(xs[1:d], ys[1:d])) AS BIGINT))
               AS o
      FROM exact_l, ivf_l)
    SELECT CAST({_RBO_D} AS BIGINT) AS depth,
           o[{_RBO_D}] AS overlap_at_depth,
           ROUND(list_aggregate(list_transform(generate_series(1, {_RBO_D}),
                   d -> CAST(o[d] AS DOUBLE) / CAST(d AS DOUBLE)), 'sum')
                 / {_RBO_D}.0, 6) AS average_overlap,
           ROUND(list_aggregate(list_transform(generate_series(1, {_RBO_D}),
                   d -> ([{", ".join(repr(w) for w in _RBO_W)}])[d]
                        * CAST(o[d] AS DOUBLE) / CAST(d AS DOUBLE)), 'sum'), 6)
             AS rbo
    FROM ov
    """,
)
def eval_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber 2010, truncated at depth 10, p = 0.9)
    between the EXACT integer-dot ranking and the IVF 3-of-8-probe
    ranking for query vec 0 — the top-weighted agreement scalar that
    complements eval_ann_recall's set-recall: recall@10 treats rank 1
    and rank 10 the same, RBO pays (1-p)p^(d-1) per depth, so an index
    that finds the right set in the wrong order is visibly worse.
    average_overlap (unweighted AO@10) and overlap_at_depth ride along.

    Exactness: both rankings order by the exact BIGINT dot product with
    vec_id tiebreak (the sim_topk discipline); per-depth overlap counts
    are exact integers from prefix-slice intersections; the weighted sum
    folds authored double literals x one exact division per depth in
    identical list order on both engines, ROUND-6.

    Plan at 100 TB: two TakeOrdered(10) pools over the rel frame (the
    IVF side pruned by the probe join BEFORE ranking), then all RBO
    algebra on two 10-element arrays in one row — broadcast-tiny. The
    comparison itself costs two index lookups, never a cross product.
    """
    e = table(spark, sf_dir, "embeddings")
    qt = e.select("vec_id", _qvec("embedding").alias("qv"))
    q0 = qt.filter(F.col("vec_id") == 0).select(F.col("qv").alias("q0"))
    rel = (
        qt.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q0))
        .select("vec_id", _idot(F.col("qv"), F.col("q0")).alias("rel"))
    )
    cents = qt.filter(F.col("vec_id") < _IVF_NLIST).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    d2 = _fold_zip("qv", "cv", lambda a, b: (a - b) * (a - b), F.lit(0).cast("long"))
    probes = (
        qt.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(cents))
        .select("cid", d2.alias("d2"))
        .orderBy("d2", "cid")
        .limit(_RP_NPROBE)
        .select("cid")
    )

    def ranked_list(df: DataFrame, name: str) -> DataFrame:
        top = df.orderBy(F.col("rel").desc(), "vec_id").limit(_RBO_D)
        return top.agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct((-F.col("rel")).alias("nr"), "vec_id"))
                ),
                lambda s: s["vec_id"],
            ).alias(name)
        )

    exact_l = ranked_list(rel, "xs")
    ivf_l = ranked_list(
        rel.join(ivf_assign(e), "vec_id").join(F.broadcast(probes), "cid"), "ys"
    )
    w_arr = F.array(*[F.lit(w) for w in _RBO_W])
    ov = exact_l.crossJoin(F.broadcast(ivf_l)).select(
        F.transform(
            F.sequence(F.lit(1), F.lit(_RBO_D)),
            lambda d: F.size(
                F.array_intersect(F.slice("xs", 1, d), F.slice("ys", 1, d))
            ).cast("long"),
        ).alias("o")
    )
    depth_seq = F.sequence(F.lit(1), F.lit(_RBO_D))
    return ov.select(
        F.lit(_RBO_D).cast("long").alias("depth"),
        F.element_at("o", _RBO_D).alias("overlap_at_depth"),
        F.round(
            F.aggregate(
                F.transform(
                    depth_seq,
                    lambda d: F.element_at("o", d).cast("double") / d.cast("double"),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / F.lit(float(_RBO_D)),
            6,
        ).alias("average_overlap"),
        F.round(
            F.aggregate(
                F.transform(
                    depth_seq,
                    lambda d: F.element_at(w_arr, d)
                    * F.element_at("o", d).cast("double")
                    / d.cast("double"),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        ).alias("rbo"),
    )


_SEP_BOOST = 1 << 30  # Q20-grid label-dimension boost for the separation control


@query(
    "embed_separation_control",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               (x, i) -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)
                         + CASE WHEN i - 1 = label % len(embedding)
                                THEN CAST({_SEP_BOOST} AS BIGINT)
                                ELSE 0 END) AS qv
      FROM embeddings),
    anch AS (SELECT vec_id AS aid, label AS alabel, qv AS aqv
             FROM q WHERE vec_id % 25 = 0),
    d AS (
      SELECT anch.aid, anch.alabel, q.vec_id, q.label,
             CAST(SUM((anch.aqv[u.i] - q.qv[u.i])
                      * (anch.aqv[u.i] - q.qv[u.i])) AS BIGINT) AS d2
      FROM anch, q, unnest(generate_series(1, len(anch.aqv))) u(i)
      WHERE q.vec_id <> anch.aid
      GROUP BY 1, 2, 3, 4),
    pos AS (
      SELECT aid, alabel, vec_id AS pos_id, d2 AS pos_d2,
             ROW_NUMBER() OVER (PARTITION BY aid
                                ORDER BY d2 DESC, vec_id) AS rn
      FROM d WHERE label = alabel),
    neg AS (
      SELECT aid, vec_id AS neg_id, d2 AS neg_d2,
             ROW_NUMBER() OVER (PARTITION BY aid
                                ORDER BY d2, vec_id) AS rn
      FROM d WHERE label <> alabel)
    SELECT p.aid AS anchor_id, p.alabel AS anchor_label,
           p.pos_id, p.pos_d2, n.neg_id, n.neg_d2,
           n.neg_d2 > p.pos_d2 AS separated
    FROM pos p JOIN neg n ON p.aid = n.aid AND p.rn = 1 AND n.rn = 1
    ORDER BY anchor_id
    """,
)
def embed_separation_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Separation positive control for the hard-triplet miner — the
    embedding-side twin of drift_positive_control, closing the last r13
    boolean-gate watchlist item: embed_triplet_mining's `separated` flag
    is genuinely never True on the random synthetic embeddings, so no
    fixture ever exercised the separated branch. Here the SAME mining
    runs on a KNOWN-separated variant: each vector's Q20 integer grid
    gets a 2^30 boost on dimension (label mod dim). Same-label pairs
    share the boosted dimension, so positive distances are UNCHANGED
    from the base space; different-label pairs differ by +-2^30 on two
    dimensions, so negative d2 gains ~2*2^60 — dwarfing any base
    distance (<= dim * (2*2^20)^2 ~ 5.6e14) while staying well inside
    int64 (~2.3e18). `separated` is therefore True for EVERY anchor by
    arithmetic — PRECONDITION: labels must be injective mod dim (two
    labels congruent mod 64 would share the boosted dimension and that
    negative pair would stay unboosted); holds with room to spare on
    this corpus (labels 0..9, dim 64) and the replay test asserts it on
    the live data so a fixture regeneration that widens the label
    vocabulary fails loudly instead of silently weakening the control.
    A miner regression (flipped window order, wrong label predicate,
    broken d2 fold) turns the fixture red.

    Determinism: identical to embed_triplet_mining — the boost is an
    exact integer add inside the same _qvec grid, d2 stays an exact
    int64, both window ranks order pure integers with vec_id tie-break.

    Plan: identical shape to embed_triplet_mining (broadcast anchor
    sample over the scan, per-anchor partitioned window ranks); the
    boost is one more scan-stage expression.
    """
    e = table(spark, sf_dir, "embeddings")
    boosted = F.transform(
        _qvec("embedding"),
        lambda x, i: x
        + F.when(
            i == F.col("label") % F.size("embedding"), F.lit(_SEP_BOOST).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )
    q = e.select("vec_id", "label", boosted.alias("qv"))
    return _mine_hard_triplets(q)
