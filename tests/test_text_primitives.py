"""Differential tests: each builder in ``wri_data_processing_spark.functions.text``
against a pure-Python reference written from the convention's definition.

Each property builds ONE DataFrame of cases and runs ONE collect per
hypothesis example. Draws are derandomized (the same every run): the first
example is the all-minimal batch, the other two are random batches of 200,
and the fixed edge docs ride along in every batch at every n. Generated text
mixes a small vocabulary (repeated tokens), non-ASCII tokens, and
tab/newline/vertical-tab/multi-space runs. Characters stay inside the BMP:
the engine's regexes walk UTF-16 units, so outside it a char k-gram can
start inside a surrogate pair.
"""

from __future__ import annotations

import hashlib
import re

from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from wri_data_processing_spark.functions.text import (
    char_ngrams,
    gram_key,
    split_pair,
    tagged_char_grams,
    tagged_word_grams,
    word_ngrams,
    words,
    ws_tokens,
)

BATCH, N_MAX = 200, 5
_SETTINGS = settings(
    max_examples=3,
    derandomize=True,
    database=None,
    deadline=None,
    phases=[Phase.explicit, Phase.generate],  # no shrinking: the assert names the doc
    suppress_health_check=list(HealthCheck),
)
_WS = " \t\n\x0b\f\r"  # Java's \s (RE2's lacks \x0b)

_token = st.one_of(
    st.sampled_from(["a", "b", "the", "x1", "42", "é", "naïve", "Ωmega", "中文", "ß", "ZZ"]),
    st.text(alphabet="abXY09éüΩ中.,-", min_size=1, max_size=4),
)
_ws = st.text(alphabet=_WS, min_size=1, max_size=3)


def _join(pieces: list[tuple[str, str]], lead: bool, trail: str) -> str:
    s = "".join(w + t for w, t in pieces) + trail
    return s if lead else s.lstrip(_WS)


_doc = st.builds(
    _join, st.lists(st.tuples(_ws, _token), max_size=6), st.booleans(), st.sampled_from(["", "\t", " "])
)
_cases = st.lists(st.tuples(_doc, st.integers(1, N_MAX)), min_size=BATCH, max_size=BATCH)

EDGE_DOCS = [
    "", " ", "   ", "\t", " \n\t ",  # empty and whitespace-only: tokens ['']
    "solo", " solo ", "a a a a a",  # single token, repeated tokens
    "a\t\tb\n\nc   d\x0be", "\tlead and trail\n", "é ü 中文 naïve",
]


def _ref_ws_tokens(s: str) -> list[str]:
    return re.split(f"[{_WS}]+", s.strip(" "))


def _ref_word_ngrams(s: str, n: int) -> list[str]:
    toks = [t for t in _ref_ws_tokens(s) if t]
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _ref_char_ngrams(s: str, k: int) -> list[str]:
    return [s[j : j + k] for j in range(len(s) - k + 1)]


def _eval(spark, cases, build) -> list[tuple[str, int, object]]:
    """(s, n, build(n) on s) for the batch plus every edge doc at every n.
    n is structural (one expression per n), so each n is one coalesce arm."""
    cases = list(cases) + [(s, n) for n in range(1, N_MAX + 1) for s in EDGE_DOCS]
    rows = [(i, s, n) for i, (s, n) in enumerate(cases)]
    df = spark.createDataFrame(rows, "i int, s string, n int")
    col = F.coalesce(*[F.when(F.col("n") == n, build(n)) for n in range(1, N_MAX + 1)])
    got = dict(df.select("i", col).collect())
    return [(s, n, got[i]) for i, s, n in rows]


@_SETTINGS
@given(cases=_cases)
def test_ws_tokens_words_and_gram_key_match_reference(spark, cases):
    def build(n):
        return F.struct(ws_tokens("s"), words(F.col("s")), gram_key("s"))

    for s, _n, got in _eval(spark, cases, build):
        key = int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)
        assert tuple(got) == (_ref_ws_tokens(s), re.findall("[a-z0-9]+", s.lower()), key), s


@_SETTINGS
@given(cases=_cases)
def test_word_ngrams_is_the_sliding_window(spark, cases):
    """Both joined forms the operators feed in — the whitespace-normalized
    text and the space-rejoined ``ws_tokens`` array — give the sliding
    window over the non-empty tokens, in order, with multiplicity."""
    norm = F.regexp_replace(F.trim("s"), r"\s+", " ")
    rejoined = F.array_join(ws_tokens("s"), " ")

    def build(n):
        return F.struct(word_ngrams(norm, n), word_ngrams(rejoined, n))

    for s, n, got in _eval(spark, cases, build):
        assert tuple(got) == (_ref_word_ngrams(s, n),) * 2, (s, n)


@_SETTINGS
@given(pairs=st.lists(st.tuples(_token, _token), min_size=BATCH, max_size=BATCH))
def test_split_pair_round_trips(spark, pairs):
    df = spark.createDataFrame([(i, f"{a} {b}") for i, (a, b) in enumerate(pairs)], "i int, b string")
    for i, b, left, right in df.select("i", "b", *split_pair("b", "l", "r")).collect():
        assert (left, right) == pairs[i] and f"{left} {right}" == b, b


@_SETTINGS
@given(cases=_cases)
def test_char_ngrams_is_every_position(spark, cases):
    for s, k, got in _eval(spark, cases, lambda k: char_ngrams(F.col("s"), k)):
        assert got == _ref_char_ngrams(s, k), (s, k)


@_SETTINGS
@given(cases=_cases)
def test_tagged_grams_match_reference(spark, cases):
    """Unigrams are the token array itself (``['']`` for an empty or
    whitespace-only doc); every order is empty below n units."""

    def build(n):
        return F.struct(tagged_word_grams(ws_tokens("s"), n), tagged_char_grams(F.col("s"), n))

    for s, n, (got_w, got_c) in _eval(spark, cases, build):
        toks = _ref_ws_tokens(s)
        want_w = [] if len(toks) < n else toks if n == 1 else _ref_word_ngrams(s, n)
        assert [(g.n, g.g) for g in got_w] == [(n, g) for g in want_w], (s, n)
        assert [(g.n, g.g) for g in got_c] == [(n, g) for g in _ref_char_ngrams(s, n)], (s, n)
