"""Seeded recall/overlap pins for the two spark.ml rows-only variants.

`dedup_minhash_ml` and `sim_ann_brp_ml` are rows-only by design (spark.ml
draws hash coefficients / projection vectors from the JVM's seeded RNG,
which no SQL engine can replay) — but "rows-only" must not mean "it runs".
These pins bind each variant to its exact, driver-hash-proven twin at
sf0.01 (VERDICT r12, item 3):

- dedup_minhash_ml must recover >= 90% of the true near-dup pairs that the
  exact shingle-Jaccard op (dedup_ngram_jaccard) certifies, and agree with
  the declared-permutation dedup_minhash_lsh on >= 90% of its candidate set
  (measured at HEAD: both 100%, 25/25 pairs);
- sim_ann_brp_ml's top-10 for vec_id=0 must hit >= 70% of the exact
  brute-force top-10 (sim_topk; measured 9/10 — LSH at bucketLength=2.0
  legitimately drops one boundary neighbor);
- both are seeded, so a second run must return the identical result —
  the pin that turns "probabilistic" into "reproducible".

Thresholds sit below the measured values with margin so a Spark patch
release that perturbs RNG streams fails loudly only on a REAL recall
collapse, not on one boundary pair.
"""

from __future__ import annotations

import pytest

from wri_data_processing_spark import registry

registry.load_all()

# The verdict asks for the pin at sf0.01, the correctness SF (conftest
# ``gate_sf_dir``): sf0.001's 50-doc corpus has too few true near-dup pairs
# to make a recall bound meaningful.


def _pairs(rows):
    return {(r["doc_a"], r["doc_b"]) for r in rows}


@pytest.fixture(scope="module")
def minhash_ml_rows(spark, gate_sf_dir):
    return registry.REGISTRY["dedup_minhash_ml"](spark, gate_sf_dir).collect()


class TestMinhashMlPin:
    def test_recall_vs_exact_jaccard(self, spark, gate_sf_dir, minhash_ml_rows):
        truth = _pairs(
            registry.REGISTRY["dedup_ngram_jaccard"](spark, gate_sf_dir).collect()
        )
        assert truth, "exact twin produced no near-dup pairs — dead fixture"
        got = _pairs(minhash_ml_rows)
        recall = len(truth & got) / len(truth)
        assert recall >= 0.9, f"spark.ml MinHashLSH recall collapsed: {recall:.2f}"

    def test_overlap_vs_declared_permutation_lsh(self, spark, gate_sf_dir, minhash_ml_rows):
        lsh = _pairs(
            registry.REGISTRY["dedup_minhash_lsh"](spark, gate_sf_dir).collect()
        )
        assert lsh, "dedup_minhash_lsh produced no candidates — dead fixture"
        got = _pairs(minhash_ml_rows)
        overlap = len(lsh & got) / len(lsh)
        assert overlap >= 0.9, f"ml/declared-permutation divergence: {overlap:.2f}"

    def test_seeded_determinism(self, spark, gate_sf_dir, minhash_ml_rows):
        again = registry.REGISTRY["dedup_minhash_ml"](spark, gate_sf_dir).collect()
        assert sorted(map(tuple, again)) == sorted(map(tuple, minhash_ml_rows))


class TestBrpMlPin:
    def test_recall_at_10_vs_exact_topk(self, spark, gate_sf_dir):
        exact = [
            r["vec_id"] for r in registry.REGISTRY["sim_topk"](spark, gate_sf_dir).collect()
        ]
        approx = [
            r["vec_id"]
            for r in registry.REGISTRY["sim_ann_brp_ml"](spark, gate_sf_dir).collect()
        ]
        assert len(exact) == 10 and len(approx) == 10
        recall = len(set(exact) & set(approx)) / 10
        assert recall >= 0.7, f"BRP-LSH recall@10 collapsed: {recall:.2f}"

    def test_seeded_determinism(self, spark, gate_sf_dir):
        a = registry.REGISTRY["sim_ann_brp_ml"](spark, gate_sf_dir).collect()
        b = registry.REGISTRY["sim_ann_brp_ml"](spark, gate_sf_dir).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
