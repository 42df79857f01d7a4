"""PII detection / redaction family (r12 — VERDICT r11 item 3).

The §2.12 staple the registry lacked: for a 100 TB training-data pipeline
PII handling is a day-one requirement alongside dedup/decontamination.
(The r2-era ``text_pii_scrub`` in llm_text.py is the two-pattern teaching
twin — email+phone on a 200-doc slice; this family is the
production-shaped surface: five types, a Luhn checksum that actually
decides, a per-document report and the per-source prevalence rollup a
privacy review reads.) Three operators:

- ``pii_detect_report``  — per-document counts by PII type (email, phone,
  IPv4, SSN-shaped, credit-card with Luhn check);
- ``pii_redact``         — masked rewrite via a regexp_replace chain;
- ``pii_prevalence_by_source`` — the corpus-level rollup a privacy review
  reads (per-source document prevalence per type).

Fixture note (the degenerate-fixture lesson, probed): the synthetic
document text contains ZERO digits, so every detector would return
all-zero counts — a vacuous oracle. Both engines therefore run over the
SAME deterministic augmentation of the text column (``_pii_text_col`` /
``_PII_TEXT_SQL``): residue classes of doc_id append an email, a phone,
an IPv4, an SSN-shaped triplet and a 16-digit number derived from doc_id
by mirrored integer/string expressions. The 16-digit numbers are NOT
constructed to pass Luhn — about 1 in 10 does — so the Luhn check is a
REAL decision the oracle would catch getting wrong (the
stats_fleiss_kappa sha-noised-rater pattern). doc_id 0 satisfies every
residue class, pinning the all-types-in-one-doc path.

Determinism: everything is JVM column expressions — regexp_extract_all
sizes, a digit-position fold for Luhn (exact integers), regexp_replace
chains (DuckDB side needs the explicit 'g' flag; Spark replaces all by
default). No floats anywhere in detect/redact; prevalence ratios are one
mirrored division, ROUND-6.

Plan at 100 TB: detect and redact are SCAN-STAGE ONLY — per-document
projections with zero exchanges (pinned in test_plan_shapes); the
prevalence rollup is one map-side-combined groupBy on source. Nothing
data-sized ever shuffles text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wri_data_processing_spark.catalog import table
from wri_data_processing_spark.functions.text import spread_small_scan
from wri_data_processing_spark.registry import query

# -- the mirrored PII fixture augmentation ---------------------------------

_PII_TEXT_SQL = """
  (text
   || CASE WHEN doc_id % 7 = 0
        THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
   || CASE WHEN doc_id % 5 = 0
        THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        ELSE '' END
   || CASE WHEN doc_id % 11 = 0
        THEN ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
             || CAST((doc_id * 3) % 256 AS VARCHAR) ELSE '' END
   || CASE WHEN doc_id % 13 = 0
        THEN ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
             || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
   || CASE WHEN doc_id % 3 = 0
        THEN ' card ' || lpad(CAST((doc_id * 7919) % 10000000000000000
                                   AS VARCHAR), 16, '0') ELSE '' END)
"""


def _pii_text_col() -> F.Column:
    """The augmented text column — mirrors _PII_TEXT_SQL expression by
    expression."""
    did = F.col("doc_id")
    s = did.cast("string")
    return F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0, F.concat(F.lit(" mail u"), s, F.lit("@example.com"))
        ).otherwise(""),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" call 415-555-"), F.lpad((did % 10000).cast("string"), 4, "0")
            ),
        ).otherwise(""),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" ip 10."),
                (did % 256).cast("string"),
                F.lit(".0."),
                ((did * 3) % 256).cast("string"),
            ),
        ).otherwise(""),
        F.when(
            did % 13 == 0,
            F.concat(
                F.lit(" ssn "),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((did % 100).cast("string"), 2, "0"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" card "),
                F.lpad(((did * 7919) % 10000000000000000).cast("string"), 16, "0"),
            ),
        ).otherwise(""),
    )


# -- detector regexes (identical strings: Java regex and RE2 agree on these)

_RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_RE_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
_RE_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_RE_SSN = r"\b\d{3}-\d{2}-\d{4}\b"
_RE_CARD = r"\b\d{16}\b"


def _luhn_ok_col(s: F.Column) -> F.Column:
    """Luhn checksum over a digit string as an exact integer fold: from
    the right, double every second digit (subtract 9 when > 9), total
    divisible by 10. Pure JVM — sequence + aggregate, no UDF."""
    n = F.length(s)

    def term(i: F.Column) -> F.Column:
        d = F.substr(s, i, F.lit(1)).cast("int")
        doubled = F.when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)
        return F.when((n - i) % 2 == 1, doubled).otherwise(d)

    total = F.aggregate(
        F.sequence(F.lit(1), n), F.lit(0), lambda acc, i: acc + term(i)
    )
    return total % 10 == 0


# DuckDB twin of _luhn_ok_col over a list element named by the caller.
def _luhn_ok_sql(s: str) -> str:
    return f"""
      list_aggregate(
        list_transform(generate_series(1, length({s})),
          i -> CASE WHEN (length({s}) - i) % 2 = 1
                 THEN CASE WHEN CAST(substring({s}, i, 1) AS INTEGER) * 2 > 9
                        THEN CAST(substring({s}, i, 1) AS INTEGER) * 2 - 9
                        ELSE CAST(substring({s}, i, 1) AS INTEGER) * 2 END
                 ELSE CAST(substring({s}, i, 1) AS INTEGER) END),
        'sum') % 10 = 0
    """


@query(
    "pii_detect_report",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, source, {_PII_TEXT_SQL} AS t FROM documents)
    SELECT doc_id, source,
           CAST(len(regexp_extract_all(t, '{_RE_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_RE_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(t, '{_RE_IPV4}')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(t, '{_RE_SSN}')) AS BIGINT) AS n_ssn,
           CAST(len(list_filter(regexp_extract_all(t, '{_RE_CARD}'),
                                c -> {_luhn_ok_sql('c')})) AS BIGINT)
             AS n_cards_luhn,
           (len(regexp_extract_all(t, '{_RE_EMAIL}'))
            + len(regexp_extract_all(t, '{_RE_PHONE}'))
            + len(regexp_extract_all(t, '{_RE_IPV4}'))
            + len(regexp_extract_all(t, '{_RE_SSN}'))
            + len(list_filter(regexp_extract_all(t, '{_RE_CARD}'),
                              c -> {_luhn_ok_sql('c')}))) > 0 AS has_pii
    FROM aug
    """,
)
def pii_detect_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII counts by type over the augmented corpus: emails,
    phone numbers (NNN-NNN-NNNN), IPv4 addresses, SSN-shaped triplets
    (NNN-NN-NNNN) and credit-card candidates (16-digit runs) that pass
    the Luhn checksum — the detector stage every curation pipeline runs
    before release (the report is what a privacy audit samples from).
    The Luhn check is a live decision: candidate numbers derive from
    doc_id arithmetic, ~1 in 10 validates.

    Exactness: regexp_extract_all sizes and the Luhn digit fold are
    exact integers; no floats at all.

    Plan: scan-stage only — one per-document projection, zero exchanges
    (pinned); at 100 TB this runs at reader throughput with no shuffle.
    """
    d = table(spark, sf_dir, "documents")
    t = _pii_text_col()
    aug = d.select("doc_id", "source", t.alias("t"))

    def n_matches(pat: str) -> F.Column:
        return F.size(F.regexp_extract_all("t", F.lit(pat), F.lit(0))).cast("long")

    cards = F.filter(
        F.regexp_extract_all("t", F.lit(_RE_CARD), F.lit(0)),
        lambda c: _luhn_ok_col(c),
    )
    out = aug.select(
        "doc_id",
        "source",
        n_matches(_RE_EMAIL).alias("n_emails"),
        n_matches(_RE_PHONE).alias("n_phones"),
        n_matches(_RE_IPV4).alias("n_ipv4"),
        n_matches(_RE_SSN).alias("n_ssn"),
        F.size(cards).cast("long").alias("n_cards_luhn"),
    )
    return out.withColumn(
        "has_pii",
        (
            F.col("n_emails")
            + F.col("n_phones")
            + F.col("n_ipv4")
            + F.col("n_ssn")
            + F.col("n_cards_luhn")
        )
        > 0,
    )


@query(
    "pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, {_PII_TEXT_SQL} AS t FROM documents),
    red AS (
      SELECT doc_id, t,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(t, '{_RE_EMAIL}', '[EMAIL]', 'g'),
                     '{_RE_CARD}', '[CARD]', 'g'),
                   '{_RE_SSN}', '[SSN]', 'g'),
                 '{_RE_PHONE}', '[PHONE]', 'g'),
               '{_RE_IPV4}', '[IP]', 'g') AS redacted_text
      FROM aug)
    SELECT doc_id, redacted_text,
           (redacted_text <> t) AS changed,
           CAST(length(t) - length(redacted_text) AS BIGINT) AS chars_removed
    FROM red
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Masked rewrite of every detected PII span — the redaction sink
    paired with pii_detect_report. Replacement is a fixed-token chain
    ([EMAIL], [CARD], [SSN], [PHONE], [IP]) applied in that order: the
    16-digit card pattern rewrites before the phone/SSN patterns so a
    long digit run can't be partially eaten, and email first because
    addresses may embed digits. Convention (stated): ALL 16-digit runs
    mask, Luhn-valid or not — redaction is conservative where the
    report is precise; DuckDB's regexp_replace needs the explicit 'g'
    flag to match Spark's replace-all default.

    Plan: scan-stage only — a per-document regexp_replace chain, zero
    exchanges (pinned); reader-throughput at 100 TB.
    """
    d = table(spark, sf_dir, "documents")
    t = _pii_text_col()
    red = t
    for pat, tok in [
        (_RE_EMAIL, "[EMAIL]"),
        (_RE_CARD, "[CARD]"),
        (_RE_SSN, "[SSN]"),
        (_RE_PHONE, "[PHONE]"),
        (_RE_IPV4, "[IP]"),
    ]:
        red = F.regexp_replace(red, pat, tok)
    return d.select(
        "doc_id",
        red.alias("redacted_text"),
        (red != t).alias("changed"),
        (F.length(t) - F.length(red)).cast("long").alias("chars_removed"),
    )


@query(
    "pii_prevalence_by_source",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, source, {_PII_TEXT_SQL} AS t FROM documents),
    per AS (
      SELECT source,
             CASE WHEN len(regexp_extract_all(t, '{_RE_EMAIL}')) > 0
                  THEN 1 ELSE 0 END AS he,
             CASE WHEN len(regexp_extract_all(t, '{_RE_PHONE}')) > 0
                  THEN 1 ELSE 0 END AS hp,
             CASE WHEN len(regexp_extract_all(t, '{_RE_IPV4}')) > 0
                  THEN 1 ELSE 0 END AS hi,
             CASE WHEN len(regexp_extract_all(t, '{_RE_SSN}')) > 0
                  THEN 1 ELSE 0 END AS hs,
             CASE WHEN len(list_filter(regexp_extract_all(t, '{_RE_CARD}'),
                                       c -> {_luhn_ok_sql('c')})) > 0
                  THEN 1 ELSE 0 END AS hc
      FROM aug)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(he) AS BIGINT) AS docs_with_email,
           CAST(SUM(hp) AS BIGINT) AS docs_with_phone,
           CAST(SUM(hi) AS BIGINT) AS docs_with_ipv4,
           CAST(SUM(hs) AS BIGINT) AS docs_with_ssn,
           CAST(SUM(hc) AS BIGINT) AS docs_with_card,
           ROUND(CAST(SUM(CASE WHEN he + hp + hi + hs + hc > 0
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS pii_doc_rate
    FROM per GROUP BY source ORDER BY source
    """,
)
def pii_prevalence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII prevalence — the rollup a privacy review reads
    (WHICH ingestion sources leak PII, and at what document rate) and
    the number that decides whether a source gets filtered, redacted or
    dropped. Composes the pii_detect_report detectors into has-type
    bits before one grouped fold.

    Exactness: has-type bits and counts are exact integers; the one
    rate is a single mirrored division, ROUND-6.

    Plan: detectors run scan-stage, then ONE map-side-combined groupBy
    on source (|sources| rows out) — the only exchange.
    """
    d = table(spark, sf_dir, "documents")
    t = _pii_text_col()

    def has(pat: str) -> F.Column:
        return F.when(
            F.size(F.regexp_extract_all("t", F.lit(pat), F.lit(0))) > 0, 1
        ).otherwise(0)

    hc = F.when(
        F.size(
            F.filter(
                F.regexp_extract_all("t", F.lit(_RE_CARD), F.lit(0)),
                lambda c: _luhn_ok_col(c),
            )
        )
        > 0,
        1,
    ).otherwise(0)
    per = d.select("source", t.alias("t")).select(
        "source",
        has(_RE_EMAIL).alias("he"),
        has(_RE_PHONE).alias("hp"),
        has(_RE_IPV4).alias("hi"),
        has(_RE_SSN).alias("hs"),
        hc.alias("hc"),
    )
    any_pii = (
        F.col("he") + F.col("hp") + F.col("hi") + F.col("hs") + F.col("hc") > 0
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("he").cast("long").alias("docs_with_email"),
            F.sum("hp").cast("long").alias("docs_with_phone"),
            F.sum("hi").cast("long").alias("docs_with_ipv4"),
            F.sum("hs").cast("long").alias("docs_with_ssn"),
            F.sum("hc").cast("long").alias("docs_with_card"),
            F.round(
                F.sum(F.when(any_pii, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("pii_doc_rate"),
        )
        .orderBy("source")
    )


def _detect_exprs_sql(t: str) -> str:
    """Total PII matches over a text expression ``t`` (DuckDB side)."""
    return (
        f"len(regexp_extract_all({t}, '{_RE_EMAIL}'))"
        f" + len(regexp_extract_all({t}, '{_RE_PHONE}'))"
        f" + len(regexp_extract_all({t}, '{_RE_IPV4}'))"
        f" + len(regexp_extract_all({t}, '{_RE_SSN}'))"
        f" + len(list_filter(regexp_extract_all({t}, '{_RE_CARD}'),"
        f"                   c -> {_luhn_ok_sql('c')}))"
    )


@query(
    "privacy_pipeline",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, source, {_PII_TEXT_SQL} AS t FROM documents),
    red AS (
      SELECT doc_id, source, t,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(t, '{_RE_EMAIL}', '[EMAIL]', 'g'),
                     '{_RE_CARD}', '[CARD]', 'g'),
                   '{_RE_SSN}', '[SSN]', 'g'),
                 '{_RE_PHONE}', '[PHONE]', 'g'),
               '{_RE_IPV4}', '[IP]', 'g') AS rt
      FROM aug),
    per AS (
      SELECT source,
             CASE WHEN {_detect_exprs_sql('t')} > 0 THEN 1 ELSE 0 END AS had,
             CASE WHEN rt <> t THEN 1 ELSE 0 END AS changed,
             CAST(length(t) - length(rt) AS BIGINT) AS removed,
             CASE WHEN {_detect_exprs_sql('rt')} > 0 THEN 1 ELSE 0 END AS residual
      FROM red)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(had) AS BIGINT) AS docs_with_pii,
           CAST(SUM(changed) AS BIGINT) AS docs_redacted,
           CAST(SUM(removed) AS BIGINT) AS chars_removed,
           CAST(SUM(residual) AS BIGINT) AS docs_residual_pii,
           ROUND(CAST(SUM(had) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS pii_doc_rate
    FROM per GROUP BY source ORDER BY source
    """,
)
def privacy_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EIGHTH composed flagship: the privacy pass a corpus release runs
    end to end — DETECT (the pii_detect_report detectors), REDACT (the
    pii_redact masking chain), VERIFY (re-run the detectors on the
    REDACTED text — the residual count is the release gate and must be
    zero), and the per-source rollup a privacy review signs off on.
    The verify stage is what makes it a pipeline rather than a join of
    the two ops: a masking chain that misses a span, or re-creates a
    match by concatenating fragments, shows up as docs_residual_pii > 0
    in BOTH engines — the oracle proves the closure property itself.

    Exactness: all stage outputs are exact integers off JVM regex/Luhn
    expressions; one mirrored division (the rate), ROUND-6.

    Plan at 100 TB: detect + redact + verify are ONE scan-stage
    projection (the three stages fuse — no intermediate materialization,
    text never shuffles); the rollup is the family's single map-side-
    combined groupBy on source. Composition overhead over
    pii_prevalence_by_source: one regexp_replace chain and one second
    detector pass, both per-row scan work.
    """
    # r16: spread before the ~15 regex passes per row (detect x2, redact
    # chain) — unspread they ran on ONE core (the 10x audit's flat ratio).
    d = spread_small_scan(table(spark, sf_dir, "documents"))
    t = _pii_text_col()

    # r16 (guide §4.1): both detector passes are consumed ONLY as
    # ``n_pii(col) > 0`` — existence, not counts — so each
    # regexp_extract_all (which walks the whole string and allocates every
    # match) becomes an rlike that stops at the FIRST match, OR-chained so
    # codegen short-circuits pattern k+1 whenever pattern k already hit.
    # ``size(regexp_extract_all(p)) >= 1  <=>  rlike(p)`` for the same
    # pattern string, and the Luhn arm keeps the extract_all it genuinely
    # needs (per-candidate digit fold) behind an exists() that also
    # short-circuits. Patterns ordered by augmentation hit rate (phone 1/5,
    # email 1/7, ipv4 1/11, ssn 1/13) so matching documents exit earliest;
    # the Luhn arm runs last because it is the expensive one.
    def any_pii(col: F.Column) -> F.Column:
        hit = col.rlike(_RE_PHONE)
        for p in (_RE_EMAIL, _RE_IPV4, _RE_SSN):
            hit = hit | col.rlike(p)
        return hit | F.exists(
            F.regexp_extract_all(col, F.lit(_RE_CARD), F.lit(0)),
            lambda c: _luhn_ok_col(c),
        )

    red = t
    for pat, tok in [
        (_RE_EMAIL, "[EMAIL]"),
        (_RE_CARD, "[CARD]"),
        (_RE_SSN, "[SSN]"),
        (_RE_PHONE, "[PHONE]"),
        (_RE_IPV4, "[IP]"),
    ]:
        red = F.regexp_replace(red, pat, tok)
    per = d.select(
        "source",
        F.when(any_pii(t), 1).otherwise(0).alias("had"),
        F.when(red != t, 1).otherwise(0).alias("changed"),
        (F.length(t) - F.length(red)).cast("long").alias("removed"),
        F.when(any_pii(red), 1).otherwise(0).alias("residual"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("had").cast("long").alias("docs_with_pii"),
            F.sum("changed").cast("long").alias("docs_redacted"),
            F.sum("removed").cast("long").alias("chars_removed"),
            F.sum("residual").cast("long").alias("docs_residual_pii"),
            F.round(
                F.sum("had").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("pii_doc_rate"),
        )
        .orderBy("source")
    )


# -- release-shape privacy audits (k-anonymity / l-diversity) ---------------
#
# The other half of a privacy review: AFTER PII strings are redacted, can a
# row still be re-identified by the combination of quasi-identifiers it
# carries? k-anonymity (Sweeney 2002) and l-diversity (Machanavelli et al.
# 2007) are the standard release gates. Both are pure grouped folds — the
# equivalence-class table is ONE map-side-combined groupBy bounded by QI
# cardinality, never by row count, so the audit costs a scan at 100 TB.

_K_THRESHOLDS = (2, 5, 10, 25)
_L_THRESHOLDS = (2, 5, 8, 12)


def _threshold_sweep(
    ec: DataFrame, size: str, t: str, thresholds: tuple, min_name: str, gate: str
) -> DataFrame:
    """The release report of an equivalence-class table ``ec`` (n rows per
    class, and the class measure ``size``) at each threshold ``t`` in
    ``thresholds``: classes, the smallest measure (``min_name``), classes
    and rows below t, the at-risk row rate, and the boolean ``gate`` that
    every class reaches t.

    The sweep is a literal-array explode (no join at all — the expansion
    happens inside the class frame's own stage; a crossJoin against a
    small threshold frame would plan a nested loop and trip the repo-wide
    join-shape sweep for no benefit)."""
    sweep = F.explode(F.array(*[F.lit(v) for v in thresholds])).alias(t)
    below = F.when(F.col(size) < F.col(t), F.col("n")).otherwise(F.lit(0))
    return (
        ec.select(*dict.fromkeys(["n", size]), sweep)  # n and size, once each
        .groupBy(t)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min(size).cast("long").alias(min_name),
            F.sum(F.when(F.col(size) < F.col(t), 1).otherwise(0))
            .cast("long")
            .alias(f"classes_below_{t}"),
            F.sum(below).cast("long").alias(f"rows_below_{t}"),
            F.round(
                F.sum(below).cast("double") / F.sum("n").cast("double"), 6
            ).alias("pct_rows_at_risk"),
            (F.min(size) >= F.col(t)).alias(gate),
        )
        .orderBy(t)
    )


@query(
    "privacy_k_anonymity",
    oracle=f"""
    WITH ec AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
             COUNT(*) AS n
      FROM customer GROUP BY 1, 2, 3),
    ks(k) AS (VALUES {", ".join(f"({k})" for k in _K_THRESHOLDS)})
    SELECT k,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(n) AS BIGINT) AS min_class_size,
           CAST(SUM(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_below_k,
           CAST(SUM(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT)
             AS rows_below_k,
           ROUND(CAST(SUM(CASE WHEN n < k THEN n ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(n) AS DOUBLE), 6) AS pct_rows_at_risk,
           (MIN(n) >= k) AS k_anonymous
    FROM ec CROSS JOIN ks
    GROUP BY k ORDER BY k
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the customer table: quasi-identifiers are
    (nation, market segment, account-balance band of 1000) — the classic
    "zip/gender/birthdate" shape. A release is k-anonymous iff every
    equivalence class holds >= k rows; the report sweeps k in
    ``_K_THRESHOLDS`` (=(2, 5, 10, 25)) and counts classes and rows below each threshold (the
    rows_below_k population is exactly who a linkage attack singles
    out). min_class_size and the boolean gate make it a one-glance
    release decision.

    Exactness: class sizes and threshold sums are exact integers; the
    one at-risk rate is a single mirrored division, ROUND-6.

    Plan at 100 TB: ONE map-side-combined groupBy to the equivalence-
    class table (bounded by |QI| combinations, NOT rows — here
    25x5x11), then a literal-array threshold explode inside that
    frame's own stage and a 4-row re-aggregate — no join of any kind. Customer rows never shuffle twice; text never
    shuffles at all.
    """
    c = table(spark, sf_dir, "customer")
    ec = (
        c.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "band")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return _threshold_sweep(
        ec, "n", "k", _K_THRESHOLDS, "min_class_size", "k_anonymous"
    )


@query(
    "privacy_l_diversity",
    oracle=f"""
    WITH ec AS (
      SELECT c_mktsegment,
             CAST(floor(c_acctbal / 500) AS BIGINT) AS band,
             COUNT(*) AS n,
             COUNT(DISTINCT c_nationkey) AS d
      FROM customer GROUP BY 1, 2),
    ls(l) AS (VALUES {", ".join(f"({lv})" for lv in _L_THRESHOLDS)})
    SELECT l,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(d) AS BIGINT) AS min_diversity,
           CAST(SUM(CASE WHEN d < l THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_below_l,
           CAST(SUM(CASE WHEN d < l THEN n ELSE 0 END) AS BIGINT)
             AS rows_below_l,
           ROUND(CAST(SUM(CASE WHEN d < l THEN n ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(n) AS DOUBLE), 6) AS pct_rows_at_risk,
           (MIN(d) >= l) AS l_diverse
    FROM ec CROSS JOIN ls
    GROUP BY l ORDER BY l
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit: k-anonymity's complement — a class of 100
    identical quasi-identifier rows is still unsafe if they all share
    ONE sensitive value (the homogeneity attack). Quasi-identifiers are
    (market segment, balance band of 500); the sensitive attribute is
    nationality; a class is l-diverse iff it contains >= l distinct
    sensitive values. Sweeps l in ``_L_THRESHOLDS`` (=(2, 5, 8, 12)) with
    privacy_k_anonymity's _threshold_sweep report.

    Exactness: per-class COUNT(DISTINCT sensitive) is exact (one extra
    dedup shuffle keyed by QI+sensitive); threshold sums are exact
    integers; one mirrored division, ROUND-6.

    Plan at 100 TB: groupBy(QI, sensitive) partial-dedup then
    groupBy(QI) — two bounded map-side-combined exchanges (the second
    over |QI| x |sensitive| rows at most), then the in-stage
    threshold explode. Equivalent shape to agg_multi_distinct; never row-bounded.
    """
    c = table(spark, sf_dir, "customer")
    ec = (
        c.select(
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 500).cast("long").alias("band"),
            "c_nationkey",
        )
        .groupBy("c_mktsegment", "band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("c_nationkey").alias("d"),
        )
    )
    return _threshold_sweep(ec, "d", "l", _L_THRESHOLDS, "min_diversity", "l_diverse")
