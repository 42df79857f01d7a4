"""r16 optimization equivalence pins.

Each test replays an r16 rewrite against the shape it replaced (copied
inline, frozen) and asserts identical results — the same discipline as
tests/test_r15_optimizations.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wri_data_processing_spark.queries.llm_pipeline import _bpe_loop


def _sequential_bpe(syms, rounds: int, rewrite_last: bool):
    """The pre-r16 fully sequential loop, copied verbatim (1 pair count +
    TakeOrdered(1) + broadcast crossJoin + fold + checkpoint per round)."""
    merges = []
    for r in range(1, rounds + 1):
        bgarr = F.regexp_extract_all(
            F.array_join("syms", " "), F.lit(r"(?<=^|\s)(?=(\S+ \S+))"), 1
        )
        pc = (
            syms.filter(F.size("syms") >= 2)
            .select("cnt", F.explode_outer(bgarr).alias("b"))
            .select(
                "cnt",
                F.substring_index("b", " ", 1).alias("left_tok"),
                F.substring_index("b", " ", -1).alias("right_tok"),
            )
            .groupBy("left_tok", "right_tok")
            .agg(F.sum("cnt").cast("long").alias("n_pairs"))
        )
        best = (
            pc.orderBy(F.col("n_pairs").desc(), "left_tok", "right_tok")
            .limit(1)
            .select(
                F.lit(r).cast("long").alias("round"),
                "left_tok",
                "right_tok",
                F.concat(F.col("left_tok"), F.col("right_tok")).alias("merged"),
                "n_pairs",
            )
            .localCheckpoint()
        )
        merges.append(best)
        if r < rounds or rewrite_last:
            lt, rt = F.col("left_tok"), F.col("right_tok")
            fold = F.aggregate(
                F.slice(F.col("syms"), F.lit(2), F.size("syms") - 1),
                F.slice(F.col("syms"), F.lit(1), F.lit(1)),
                lambda acc, x: F.when(
                    (F.element_at(acc, -1) == lt) & (x == rt),
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1),
                        F.array(F.concat(lt, rt)),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            )
            syms = (
                syms.crossJoin(F.broadcast(best.select("left_tok", "right_tok")))
                .select("word", "cnt", fold.alias("syms"))
                .localCheckpoint()
            )
    return merges, syms


def _word_syms(spark, words_with_counts):
    rows = [(w, int(c), list(w)) for w, c in words_with_counts]
    return spark.createDataFrame(
        rows, "word string, cnt long, syms array<string>"
    ).localCheckpoint()


def _assert_same(spark, words, rounds=5, rewrite_last=True):
    syms = _word_syms(spark, words)
    m_new, s_new = _bpe_loop(syms, rounds, rewrite_last)
    m_old, s_old = _sequential_bpe(syms, rounds, rewrite_last)
    assert len(m_new) == len(m_old) == rounds, (len(m_new), len(m_old))
    for r, (a, b) in enumerate(zip(m_new, m_old), start=1):
        ra, rb = a.collect(), b.collect()
        assert ra == rb, f"round {r}: folded={ra} sequential={rb}"
    fin_new = {(r.word, r.cnt, tuple(r.syms)) for r in s_new.collect()}
    fin_old = {(r.word, r.cnt, tuple(r.syms)) for r in s_old.collect()}
    assert fin_new == fin_old


def test_bpe_fold_matches_sequential_on_real_corpus(spark, sf_dir):
    """Real testdata words (sf0.001 vocabulary): the fold certificate fires
    on this distribution (probed), so this replays the FOLDED path against
    the sequential loop end to end."""
    from wri_data_processing_spark.catalog import table
    from wri_data_processing_spark.queries.llm_pipeline import _bpe_word_syms

    d = table(spark, sf_dir, "documents")
    syms = _bpe_word_syms(d)
    m_new, s_new = _bpe_loop(syms, 5, rewrite_last=True)
    m_old, s_old = _sequential_bpe(syms, 5, rewrite_last=True)
    for r, (a, b) in enumerate(zip(m_new, m_old), start=1):
        assert a.collect() == b.collect(), f"round {r}"
    assert s_new.exceptAll(s_old).count() == 0
    assert s_old.exceptAll(s_new).count() == 0


def test_bpe_fold_certificate_rejects_destroyable_runnerup(spark):
    """Runner-up pair shares a boundary symbol with the winner (its left ==
    winner's right), so merging the winner can destroy its occurrences —
    the certificate must NOT fold and the trajectories must still agree.
    'xaby' gives (a,b) the win while (b,y)/(x,a) ride its flanks."""
    words = [("xaby", 100), ("ab", 90), ("by", 5), ("ycd", 40), ("cd", 30)]
    _assert_same(spark, words, rounds=3)


def test_bpe_fold_certificate_handles_self_pair(spark):
    """(x, x) winner: merging 'xx' destroys/creates pairs on both sides;
    the destroyable test (right == left of winner) catches it and the
    trajectories agree."""
    words = [("xxxx", 50), ("xxy", 20), ("ab", 60), ("cd", 41)]
    _assert_same(spark, words, rounds=3)


def test_bpe_fold_certificate_rejects_self_pair_winner(spark):
    """(a, a) winner: merging it creates (aa, aa), whose count (100 here)
    is bounded only by the winner's own and outranks the runner-up (x, y)
    at 60 — folding (x, y) into the same round would skip it. The
    certificate must refuse to fold after a self-pair."""
    _assert_same(spark, [("aaaa", 100), ("xy", 60)], rounds=3)


def test_bpe_fold_certificate_handles_merged_symbol_reuse(spark):
    """A later round's winner CONCATENATES to an earlier merge's string
    ('a'+'b' in round 1; a round-3 candidate could involve the symbol
    'ab'): pairs involving previous merged symbols gain counts, which the
    prev-merges novelty check must account for."""
    words = [("abab", 30), ("aab", 25), ("cdcd", 28), ("cd", 10), ("ef", 27)]
    _assert_same(spark, words, rounds=4)


def test_bpe_fold_ties_fall_back(spark):
    """Exact count ties between the runner-up and a destroyable row: the
    strict-inequality certificate must fall back to sequential."""
    words = [("ab", 50), ("cd", 50), ("bd", 50), ("ef", 50)]
    _assert_same(spark, words, rounds=3)


def test_bpe_fold_empty_and_tiny_vocab(spark):
    """Single-char words produce an empty pair table: the degenerate path
    (empty merge frame, emptied syms) must replicate the sequential loop."""
    words = [("a", 5), ("b", 3)]
    _assert_same(spark, words, rounds=2)
