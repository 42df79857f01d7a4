r"""Cross-corpus segment-level dedup (SURVEY.md §2.12 extension; C4-style).

The C4 pipeline (Raffel et al., "Exploring the Limits of Transfer Learning
with a Unified Text-to-Text Transformer") deduplicates at LINE granularity
across the whole corpus: every occurrence of a three-sentence span but the
first is removed from its document, and documents are reassembled from the
surviving lines. The testdata corpus carries no newline structure, so the
segment boundary here is the delimiter-free proxy: consecutive
``_SEG_TOKENS``-token chunks of the whitespace token stream (a real corpus
passes its newline/sentence splits through the same machinery — only the
segmentation expression changes, never the dedup or rewrite plan).

Two operators:

- ``dedup_segments``          per-doc coverage counts (n_segments, n_kept,
                              n_removed) under corpus-wide keep-first.
- ``dedup_segments_rewrite``  the rewritten corpus: each doc reassembled
                              from its surviving segments in original
                              order; docs whose every segment lost the
                              keep-first race disappear (C4 semantics).

Keep-first is GLOBAL and deterministic: the occurrence with the smallest
(doc_id, seg_idx) wins — exactly one winner per distinct segment, no RNG.

100 TB notes: segments are hashed (16-hex sha256 prefix) BEFORE the
shuffle, so the ranking exchange carries (16-char key, doc_id, seg_idx,
segment-text) — the segment text must travel once because the rewrite needs
it back; the COUNTING op projects the text away and its exchange carries
fixed-width keys only. One wide shuffle each (window rank over the segment
hash); the rewrite adds a per-doc aggregation. Hot boilerplate segments
skew the rank partition the same way they skew any posting list — the
_MAX_DF document-frequency cap pattern applies unchanged if a corpus needs
it (elided here so the oracle stays the plain keep-first definition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.functions.text import ws_tokens
from wri_data_processing_spark.registry import query

_SEG_TOKENS = 16  # tokens per segment: the delimiter-free "line" proxy

_SEG_CTES = rf"""
    t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents),
    seg AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS seg_idx,
             array_to_string(
               toks[(CAST(u.i AS BIGINT) * {_SEG_TOKENS} + 1):
                    (CAST(u.i AS BIGINT) * {_SEG_TOKENS} + {_SEG_TOKENS})], ' ') AS seg
      FROM t, unnest(generate_series(
                 0, CAST(ceil(len(toks) / {_SEG_TOKENS}.0) AS BIGINT) - 1)) u(i)
    ),
    ranked AS (
      SELECT doc_id, seg_idx, seg,
             ROW_NUMBER() OVER (PARTITION BY substr(sha256(seg), 1, 16)
                                ORDER BY doc_id, seg_idx) AS rn
      FROM seg
    )
"""


def _segments(d: DataFrame, n_tokens: int = _SEG_TOKENS) -> DataFrame:
    """(doc_id, seg_idx, seg): consecutive n-token chunks, built JVM-side.

    slice() start is a 1-based column expression; the trailing chunk is
    short and kept (it is a distinct string on both engines).
    """
    toks = ws_tokens("text")
    nseg = F.ceil(F.size(toks) / F.lit(float(n_tokens))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.array_join(F.slice(toks, i * n_tokens + 1, n_tokens), " "),
    )
    return d.select("doc_id", F.posexplode(segs).alias("seg_idx", "seg")).select(
        "doc_id", F.col("seg_idx").cast("long").alias("seg_idx"), "seg"
    )


def _ranked_segments(d: DataFrame) -> DataFrame:
    """Segments with the global keep-first rank: rn=1 is the sole winner of
    each distinct segment. The window partitions on the 16-hex sha256 key —
    the exchange hashes fixed-width keys, not segment text positions."""
    sh = F.substring(F.sha2(F.col("seg"), 256), 1, 16)
    w = Window.partitionBy(sh).orderBy("doc_id", "seg_idx")
    return _segments(d).withColumn("rn", F.row_number().over(w))


@query(
    "dedup_segments",
    oracle=f"""
    WITH {_SEG_CTES}
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
    FROM ranked GROUP BY doc_id
    """,
)
def dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc segment coverage under corpus-wide keep-first dedup.

    The downstream cut is a pure filter on n_removed / n_segments — this op
    is the measurement half; dedup_segments_rewrite is the surgery half.
    """
    d = table(spark, sf_dir, "documents")
    kept = (F.col("rn") == 1).cast("int")
    return (
        _ranked_segments(d)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.sum(1 - kept).cast("long").alias("n_removed"),
        )
    )


@query(
    "dedup_segments_rewrite",
    oracle=f"""
    WITH {_SEG_CTES}
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           string_agg(seg, ' ' ORDER BY seg_idx) AS new_text,
           CAST(length(string_agg(seg, ' ' ORDER BY seg_idx)) AS BIGINT)
             AS new_n_chars
    FROM ranked WHERE rn = 1 GROUP BY doc_id
    """,
)
def dedup_segments_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rewritten corpus: each document reassembled from its surviving
    segments in original seg_idx order (C4's remove-the-repeat-in-place).
    Documents with zero surviving segments emit no row — they are removed
    from the corpus entirely, the C4 behavior for fully-duplicated docs.

    Reassembly is array_sort over (seg_idx, seg) structs then one
    array_join — a single per-doc aggregation, order restored without a
    second window. Segments are hashed to 16-hex keys before the rank
    window, so its exchange partitions on the sha2 key, never on text.
    """
    d = table(spark, sf_dir, "documents")
    kept = _ranked_segments(d).filter(F.col("rn") == 1)
    parts = F.array_sort(F.collect_list(F.struct("seg_idx", "seg")))
    new_text = F.array_join(F.transform(parts, lambda s: s["seg"]), " ")
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        new_text.alias("new_text"),
        F.length(new_text).cast("long").alias("new_n_chars"),
    )
