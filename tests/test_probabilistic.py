"""Semantic checks for the probabilistic (rows-only) operators.

These have no SQL oracle — the driver only checks they run. Here we assert
the properties that make them USEFUL: LSH candidates must recall the
high-similarity pairs the exact operator finds, simhash must collapse
identical text, and ANN results must overlap the exact top-k.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wri_data_processing_spark import registry

registry.load_all()


def test_minhash_lsh_recalls_exact_high_sim_pairs(spark, sf_dir):
    exact = registry.REGISTRY["dedup_ngram_jaccard"](spark, sf_dir)
    # dedup_minhash_lsh runs on exact-dup representatives (min doc_id per
    # text); map the exact pairs through the same representative mapping.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = docs.groupBy("text").agg(F.min("doc_id").alias("rep"))
    doc_rep = {
        r["doc_id"]: r["rep"]
        for r in docs.join(rep, "text").select("doc_id", "rep").collect()
    }
    want = {
        tuple(sorted((doc_rep[r["doc_a"]], doc_rep[r["doc_b"]])))
        for r in exact.filter(F.col("jaccard") >= 0.8).collect()
        if doc_rep[r["doc_a"]] != doc_rep[r["doc_b"]]
    }
    lsh = registry.REGISTRY["dedup_minhash_lsh"](spark, sf_dir)
    got = {
        tuple(sorted((r["doc_a"], r["doc_b"])))
        for r in lsh.collect()
    }
    missed = want - got
    # 8 hash tables at jaccard>=0.8 -> per-pair recall >> 0.99; on the tiny
    # test sets an empty `want` is fine (vacuously true).
    assert not missed, f"LSH missed high-sim pairs: {missed}"


def test_simhash_identical_text_same_signature(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = registry.REGISTRY["dedup_simhash"](spark, sf_dir)
    joined = docs.select("doc_id", "text").join(sh, "doc_id")
    per_text = joined.groupBy("text").agg(
        F.count_distinct("simhash").alias("n_sig"), F.count(F.lit(1)).alias("n")
    )
    bad = per_text.filter((F.col("n") > 1) & (F.col("n_sig") > 1)).count()
    assert bad == 0


def test_ann_lsh_overlaps_exact_topk(spark, sf_dir):
    exact = {r["vec_id"] for r in registry.REGISTRY["sim_topk"](spark, sf_dir).collect()}
    approx = {r["vec_id"] for r in registry.REGISTRY["sim_ann_lsh"](spark, sf_dir).collect()}
    # Euclidean-bucketed candidates re-ranked by cosine: expect most of the
    # exact top-10 to appear.
    assert len(exact & approx) >= len(exact) // 2, (exact, approx)


def test_freq_items_superset_guarantee(spark, sf_dir):
    """KPS freqItems must return EVERY value whose true frequency exceeds
    the support threshold (false negatives are a contract violation;
    false positives are allowed by the algorithm)."""
    from wri_data_processing_spark.catalog import table

    got = set(
        registry.REGISTRY["agg_freq_items"](spark, sf_dir)
        .first()["heavy_hitters"]
        .split(",")  # flattened to a sorted comma-joined string (driver safety)
    )
    e = table(spark, sf_dir, "events")
    total = e.count()
    exact = {
        r["event_type"]
        for r in e.groupBy("event_type").count().collect()
        if r["count"] / total > 0.1
    }
    assert exact and exact.issubset(got)


def test_hll_mergeable_accuracy(spark, sf_dir):
    """Merging daily HLL partials must estimate the all-time distinct
    within the sketch's error envelope (lgK=12 => ~1.6% std error; allow
    5 sigma-ish headroom at small cardinalities)."""
    rows = registry.REGISTRY["agg_hll_mergeable"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["exact_users"] > 0
        rel_err = abs(r["est_users"] - r["exact_users"]) / r["exact_users"]
        assert rel_err < 0.08, (r["event_type"], r["est_users"], r["exact_users"])


def test_cluster_propagation_rounds_bounded(spark, sf_dir):
    """Min-label propagation must converge within the fixture's diameter
    bound (measured: 1 propagation round + 1 fixpoint-proof round at both
    sf0.001 and sf0.01 — near-dup clusters are star-shaped around an exact
    or high-overlap hub). A round count creeping past 4 means either the
    fixture grew long chains or the propagation step regressed to moving
    labels fewer than one hop per round (VERDICT r4 item 5)."""
    from wri_data_processing_spark.queries import llm_dedup

    edges = llm_dedup.cluster_edges(spark, sf_dir)
    _labels, rounds = llm_dedup.propagate_min_labels(edges)
    assert 1 <= rounds <= 4, rounds
    out = registry.REGISTRY["dedup_clusters"](spark, sf_dir)
    rows = out.collect()
    assert rows
    # Cluster invariants: cluster_id is the member min, size matches the
    # actual member count, every member's cluster_id is shared.
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m["doc_id"] for m in members)
        assert all(m["cluster_size"] == len(members) for m in members)


def test_propagation_pointer_jumping_on_chains(spark):
    """A 120-node path graph converges in O(log n) rounds via pointer
    jumping — plain one-hop propagation would need 119 rounds, exceed the
    cap, and (before r5) return non-converged labels SILENTLY. Also pins
    the fail-loud contract: an artificially tiny cap raises rather than
    mislabeling."""
    import pytest as _pytest

    from wri_data_processing_spark.queries import llm_dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(119)], "doc_a long, doc_b long"
    )
    edges = (
        pairs.union(pairs.select("doc_b", "doc_a")).toDF("src", "dst").localCheckpoint()
    )
    labels, rounds = llm_dedup.propagate_min_labels(edges)
    assert rounds <= 10, rounds  # log2(119) ~ 7 measured
    assert all(r["lbl"] == 0 for r in labels.collect())
    with _pytest.raises(RuntimeError, match="fixpoint"):
        llm_dedup.propagate_min_labels(edges, max_rounds=2)
