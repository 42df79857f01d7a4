"""Physical-plan shape assertions for scale-critical operators.

Correctness is the oracle harness's job; these tests pin the PLAN — the
property that actually matters at 100 TB. If a refactor silently turns a
broadcast join into a sort-merge join or doubles the exchange count, these
fail even though results stay correct.
"""

from __future__ import annotations

import re

import pytest

from tests.test_python_boundary_sweep import PY_NODE
from wri_data_processing_spark import registry

registry.load_all()


def _plan(spark, sf_dir, name: str) -> str:
    df = registry.REGISTRY[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_no_python(plan: str, *context) -> None:
    """No Python node of any form (the boundary sweep's PY_NODE: row-at-a-time,
    pandas or Arrow) in ``plan``."""
    nodes = PY_NODE.findall(plan)
    assert not nodes, (*context, nodes)


def _n_exchanges(plan: str) -> int:
    # Count shuffle exchanges only (broadcast exchanges are cheap by design).
    return len(re.findall(r"\bExchange hashpartitioning", plan)) + len(
        re.findall(r"\bExchange rangepartitioning", plan)
    )


def test_contamination_is_broadcast_only(spark, sf_dir):
    """The corpus side must never shuffle: both joins broadcast."""
    plan = _plan(spark, sf_dir, "contamination_flag")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_funnel_broadcasts_stage_tables(spark, sf_dir):
    """Per-user stage timestamps are tiny — they broadcast into the scans."""
    plan = _plan(spark, sf_dir, "funnel_stages")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scd2_single_shuffle(spark, sf_dir):
    """lag + lead share one (user_id; ts, event_id) sort: exactly 1 shuffle."""
    plan = _plan(spark, sf_dir, "scd2_user_state")
    assert _n_exchanges(plan) == 1, plan


def test_pack_sequences_two_shuffles(spark, sf_dir):
    """One window shuffle on source + the final rollup exchange, nothing more."""
    plan = _plan(spark, sf_dir, "pack_sequences")
    assert _n_exchanges(plan) <= 2, plan


def test_q2_broadcasts_all_dims(spark, sf_dir):
    """part and the supplier->nation->region chain broadcast; the only
    shuffles are the cost aggregation and the per-part window."""
    plan = _plan(spark, sf_dir, "q2_min_cost_supplier")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_partial_aggregates(spark, sf_dir):
    """Token counts must partial-aggregate map-side before the shuffle."""
    plan = _plan(spark, sf_dir, "text_repetition")
    assert "partial_count" in plan, plan


def test_vocab_no_global_sort(spark, sf_dir):
    """Top-50 must plan TakeOrderedAndProject, not a full Sort+Exchange."""
    plan = _plan(spark, sf_dir, "vocab_top_terms")
    assert "TakeOrderedAndProject" in plan, plan


def test_json_extract_no_python(spark, sf_dir):
    """JSON extraction stays JVM-side: no Python/Arrow eval nodes."""
    plan = _plan(spark, sf_dir, "json_extract_kv")
    _assert_no_python(plan)


def test_q6_pushdown_reaches_scan(spark, sf_dir):
    """Filters land in PushedFilters and only needed columns are read."""
    scan = _plan(spark, sf_dir, "q6_forecast_revenue")
    assert "PushedFilters: [" in scan
    m = re.search(r"ReadSchema: struct<([^>]*)>", scan)
    assert m, scan
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert "l_comment" not in cols and len(cols) <= 5, cols


def test_fuzzy_match_is_hash_join(spark, sf_dir):
    """Blocking key must plan an equi HASH join; levenshtein must stay a
    post-join filter, never force a nested-loop cross product."""
    plan = _plan(spark, sf_dir, "fuzzy_match_levenshtein")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_basket_pairs_reuse_orderkey_exchange(spark, sf_dir):
    """The per-order part sets (one l_orderkey shuffle) explode into
    pairs in-row: no nested-loop join may appear, and the whole plan stays
    JVM-side."""
    plan = _plan(spark, sf_dir, "basket_pair_counts")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    _assert_no_python(plan)


def test_tfidf_broadcasts_vocabulary(spark, sf_dir):
    """The df (vocabulary) and N (1-row) sides broadcast back onto tf —
    no sort-merge join anywhere in the TF-IDF plan."""
    plan = _plan(spark, sf_dir, "text_tfidf")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_dq_expectations_single_scan_per_table(spark, sf_dir):
    """All lineitem rules fuse into ONE scan (conditional sums in a single
    aggregate), so the audit costs one pass per table, not per rule."""
    plan = _plan(spark, sf_dir, "dq_expectations")
    assert plan.count("Scan parquet") <= 3, plan


def test_sessionize_single_user_shuffle(spark, sf_dir):
    """Both window specs and the session rollup share the user_id
    partitioning: at most 2 exchanges (window + final group)."""
    plan = _plan(spark, sf_dir, "events_sessionize")
    assert _n_exchanges(plan) <= 2, plan


def test_pagerank_no_python_and_hash_joins(spark, sf_dir):
    """Five unrolled iterations stay entirely JVM-side with equi joins —
    the iterative loop must not leak into Python or nested loops."""
    plan = _plan(spark, sf_dir, "graph_pagerank")
    _assert_no_python(plan)
    assert "BroadcastNestedLoopJoin" not in plan, plan


@pytest.mark.parametrize(
    "name, rounds",
    [("graph_label_propagation", 4), ("graph_personalized_pagerank", 5)],
)
def test_graph_loop_rounds_never_broadcast_edges(spark, sf_dir, monkeypatch, name, rounds):
    """Each round of the label and rank loops joins the checkpointed
    symmetric edge list to a node-sized table on node: a shuffled hash
    join that builds the node side, never a join that builds (broadcasts)
    the edges. The edges keep the size estimate of the explode that built
    them, far below their real size, so unhinted these joins plan as
    broadcasts and, from round 2 on at sf0.1, broadcast the edges. The
    rounds live in the checkpointed frames, not in the returned one, so
    every localCheckpoint input is planned here."""
    plans = []
    frame_cls = type(spark.range(1))
    local_checkpoint = frame_cls.localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return local_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording_checkpoint)
    registry.REGISTRY[name](spark, sf_dir)
    for plan in plans[-rounds:]:  # each round ends in one checkpoint
        assert re.search(r"ShuffledHashJoin .*Inner, BuildRight", plan), plan
        assert "BuildLeft" not in plan, plan


def _assert_no_theta_self_join(plan: str):
    """The only nested-loop join allowed is the nlist-row centroid
    broadcast (a Cross join with no vec_id condition). A nested-loop whose
    condition references vec ids is the O(N^2) theta self-join the bucketed
    plan exists to eliminate."""
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line or "CartesianProduct" in line:
            assert "vec_" not in line, line


def test_sim_pairs_threshold_bucketed(spark, sf_dir):
    """Candidate pairs must come from the cid bucket equi-join, not an
    all-pairs theta join over the embeddings table — and the join must key
    on (cid, blk) so each bucket's quadratic work spreads across
    nlist x fanout tasks instead of nlist."""
    plan = _plan(spark, sf_dir, "sim_pairs_threshold")
    _assert_no_theta_self_join(plan)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)", plan)
    assert any("cid" in e and "blk" in e for e in exchanges), plan


def test_dedup_embedding_bucketed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_embedding")
    _assert_no_theta_self_join(plan)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_join_skew_salted_shuffles_on_salt(spark, sf_dir):
    """Salting is only meaningful on a shuffle join: the join must execute as
    a shuffle join keyed on (user_id/c_custkey, salt), never broadcast —
    a broadcast join has no reducer hot spot for the salt to split."""
    plan = _plan(spark, sf_dir, "join_skew_salted")
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)", plan)
    assert any("salt" in e for e in exchanges), plan


def test_minhash_banded_equijoin(spark, sf_dir):
    """Candidates must come from the (j, bsig) band equi-join over the
    signature table — no cross/theta product anywhere (the sub-quadratic
    property that makes LSH worth running)."""
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_layout_zorder_no_global_window(spark, sf_dir):
    """The 32-file split must use the parallel two-phase rank — a global
    ntile window would plan Exchange SinglePartition (one task sorts the
    whole table, in the query whose point is 100 TB layout)."""
    plan = _plan(spark, sf_dir, "layout_zorder")
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" in plan  # the per-bucket row_number survives


def test_user_rfm_no_global_window(spark, sf_dir):
    """All three quartile assignments run as bucket-partitioned windows —
    no single-partition exchange anywhere in the plan."""
    plan = _plan(spark, sf_dir, "user_rfm_segments")
    assert "Exchange SinglePartition" not in plan, plan


def test_materialized_reuse_hits_cache(spark, sf_dir):
    """The second consumer of the cached aggregate must read
    InMemoryTableScan, not recompute the customer scan."""
    plan = _plan(spark, sf_dir, "materialized_reuse")
    assert "InMemoryTableScan" in plan, plan


def test_compaction_reduces_files_and_preserves_rows(spark, sf_dir):
    from wri_data_processing_spark import registry

    row = registry.REGISTRY["maintenance_compaction"](spark, sf_dir).first()
    assert row["rows_preserved"]
    assert row["n_files_after"] < row["n_files_before"]
    assert row["n_files_before"] == 64


def test_spread_small_scan_skips_post_shuffle_inputs(spark):
    """ADVICE r4: probing d.rdd partitions on an AGGREGATED input makes AQE
    materialize the upstream stages as a real job (and the aggregation then
    runs twice). Post-shuffle inputs must pass through untouched — no probe,
    no exchange; pure scans keep the under-parallelism respread."""
    from pyspark.sql import functions as F

    from wri_data_processing_spark.functions.text import spread_small_scan

    scan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    agg = scan.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    # Aggregated input: returned as-is (identical plan object semantics)
    assert spread_small_scan(agg) is agg
    # Scan input on a single split: respread across cores
    spread = spread_small_scan(scan.select("doc_id", "text"))
    plan = spread._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in plan or spread is not scan


def test_logical_node_walk_sees_stable_class_names(spark):
    """Pin the node-class-name contract the spread_small_scan gate relies
    on (VERDICT r5 item 4): if a Spark upgrade renames the Aggregate / Join /
    Sort / Window / RepartitionByExpression case classes, THIS test fails
    loudly instead of the gate silently re-enabling the probe on post-shuffle
    inputs. Also pins the fail-safe direction: a walker error must return the
    input untouched (the no-execution arm), never probe."""
    from pyspark.sql import functions as F

    from wri_data_processing_spark.functions import text
    from wri_data_processing_spark.functions.text import (
        logical_node_names,
        spread_small_scan,
    )

    scan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cases = {
        "Aggregate": scan.groupBy("source").agg(F.count("*").alias("n")),
        "Join": scan.alias("a").join(scan.alias("b"), "doc_id"),
        "Sort": scan.orderBy("doc_id"),
        "RepartitionByExpression": scan.repartition(4, "doc_id"),
        "Window": scan.select(
            F.row_number().over(__import__("pyspark").sql.Window.partitionBy("source").orderBy("doc_id"))
        ),
        # Batch dropDuplicates is optimized into Aggregate
        # (ReplaceDeduplicateWithAggregate); the Deduplicate prefix in the
        # gate covers the streaming form, which never reaches this helper.
        "Aggregate ": scan.dropDuplicates(["doc_id"]),
    }
    for expected, df in cases.items():
        expected = expected.strip()
        names = logical_node_names(df)
        assert any(n.startswith(expected) for n in names), (expected, names)
        assert spread_small_scan(df) is df, expected
    # Pure scan: no shuffle-family node in the walk.
    names = logical_node_names(scan.select("doc_id", "text"))
    assert not any(
        n.startswith(p) for n in names for p in text.SHUFFLE_NODE_PREFIXES
    ), names
    # Fail-safe arm: a broken walker passes the frame through untouched.
    orig = text.logical_node_names
    text.logical_node_names = lambda d: (_ for _ in ()).throw(RuntimeError("py4j"))
    try:
        assert spread_small_scan(scan) is scan
    finally:
        text.logical_node_names = orig


def test_dedup_substring_exchanges_carry_keys_not_text(spark, sf_dir):
    """The substring-dedup shuffles must move (doc_id, 16-char window key)
    pairs — never the document text. Windows are hashed INSIDE the
    transform() before the explode, so text stays scan-side; if a refactor
    moved the sha2 after the explode (or exploded raw substrings), every
    exchange would suddenly carry document payloads and this pins it."""
    plan = _plan(spark, sf_dir, "dedup_substring")
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)
    # Posting agg + per-doc coverage agg (+ the small-scan spread when the
    # local fixture arrives as one split): shuffle count stays bounded.
    assert _n_exchanges(plan) <= 3, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_geo_focal_mean_scatter_single_exchange(spark, sf_dir):
    """The 3x3 focal mean must stay a scatter (explode + ONE aggregation
    exchange beyond the base cell-table agg) — a refactor to a 9-way
    self-join would plan SortMergeJoin/BroadcastHashJoin here."""
    plan = _plan(spark, sf_dir, "geo_focal_mean")
    assert "Join" not in plan, plan
    assert _n_exchanges(plan) <= 2, plan


def test_logical_node_walk_recurses_into_subqueries(spark):
    """ADVICE r6: an Aggregate living inside a scalar-subquery expression is
    invisible to a children()-only walk; the subqueries() recursion must
    surface it so spread_small_scan never runs its partition probe (which
    would EXECUTE the subquery stage) on such plans."""
    from pyspark.sql import functions as F

    from wri_data_processing_spark.functions.text import (
        logical_node_names,
        spread_small_scan,
    )

    scan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    scan.createOrReplaceTempView("docs_subq_probe")
    df = spark.sql(
        "SELECT doc_id, text FROM docs_subq_probe "
        "WHERE n_chars > (SELECT AVG(n_chars) FROM docs_subq_probe)"
    )
    names = logical_node_names(df)
    assert any(n.startswith("Aggregate") for n in names), names
    assert spread_small_scan(df) is df


def test_reservoir_sample_is_take_ordered(spark, sf_dir):
    """sample_reservoir_global must compile to TakeOrderedAndProject
    (per-partition heaps + one k-row gather) — a refactor to
    orderBy-without-limit-pushdown would plan a global range-partitioned
    sort."""
    plan = _plan(spark, sf_dir, "sample_reservoir_global")
    assert "TakeOrdered" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_url_canonical_single_shuffle(spark, sf_dir):
    """dedup_url_canonical's whole rule chain is scan-stage string
    expressions: exactly ONE shuffle (the canonical-key groupBy), no
    joins."""
    plan = _plan(spark, sf_dir, "dedup_url_canonical")
    assert "Join" not in plan, plan
    assert _n_exchanges(plan) == 1, plan


def test_interval_overlap_is_equi_join(spark, sf_dir):
    """join_interval_overlap's candidates must come from the (user, chunk)
    EQUI-join — a refactor that drops the chunk key degrades to a same-user
    theta join (quadratic in user density)."""
    plan = _plan(spark, sf_dir, "join_interval_overlap")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan
    # the chunk key must be part of the join key
    m = re.search(r"Join [^\n]*jb", plan)
    assert m, plan


def test_funnel_windowed_broadcasts_stages(spark, sf_dir):
    """events_funnel_windowed repeats funnel_stages' topology: per-stage
    user MINs broadcast onto the next stage's filtered scan — no
    sort-merge joins of raw events."""
    plan = _plan(spark, sf_dir, "events_funnel_windowed")
    assert "SortMergeJoin" not in plan, plan


def test_bigram_lm_no_self_join_for_pairs(spark, sf_dir):
    """text_bigram_lm's bigrams are zipped inside the token array — the
    pair derivation itself must not plan a join (the corpus-rollup
    equi-joins come later and are fine); pin: no nested-loop anywhere and
    no window (a posexplode+lag formulation would add one)."""
    plan = _plan(spark, sf_dir, "text_bigram_lm")
    assert "BroadcastNestedLoopJoin" not in plan.replace(
        "BroadcastNestedLoopJoin BuildRight, Cross", "WHITELISTED", 1
    ), plan  # the single 1-row totals broadcast is the whitelisted NLJ
    assert "Window" not in plan, plan


def test_recsys_topn_is_window_group_limit(spark, sf_dir):
    """recsys_item_similar's per-item top-3 must plan a WindowGroupLimit
    (rows pruned to 3 per item map-side BEFORE the final shuffle) — a
    refactor to filter-after-rank without the limit pushdown ships the
    whole pair space through the window exchange."""
    plan = _plan(spark, sf_dir, "recsys_item_similar")
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rake_cut_is_take_ordered(spark, sf_dir):
    """text_rake_keyphrases' top-10 must compile to TakeOrderedAndProject,
    and the only window allowed is the per-doc PARTITIONED prefix count —
    no single-partition exchange anywhere."""
    plan = _plan(spark, sf_dir, "text_rake_keyphrases")
    assert "TakeOrdered" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_theil_sen_pairs_are_equi_join(spark, sf_dir):
    """stats_theil_sen's O(span^2) pair generation must ride the
    event_type EQUI-join with x1 < x2 as a predicate — a refactor that
    loses the key degrades to an all-types cartesian."""
    plan = _plan(spark, sf_dir, "stats_theil_sen")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_survival_km_no_window_no_join(spark, sf_dir):
    """events_survival_km folds the life table inside ONE row: no window
    operator and no join may appear — the prefix sums are array slices,
    not a global cumsum exchange."""
    plan = _plan(spark, sf_dir, "events_survival_km")
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan


def test_char_entropy_zero_shuffles_before_topk(spark, sf_dir):
    """The whole entropy computation is scan-side expression work; the ONLY
    data movement is the top-20 TakeOrdered (r9: the explode-avoidance
    design — a character explode would put |text| rows through a shuffle)."""
    plan = _plan(spark, sf_dir, "text_char_entropy")
    assert _n_exchanges(plan) == 0
    assert "TakeOrderedAndProject" in plan


def test_collocations_pair_count_is_the_only_wide_stage(spark, sf_dir):
    """Marginals re-aggregate the (w1, w2) pair frame and join back
    broadcast; the exploded-bigram count must be the single data-sized
    hash shuffle (plus its own aggregate exchange)."""
    plan = _plan(spark, sf_dir, "text_collocations_pmi")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_class_balance_rank_is_partitioned(spark, sf_dir):
    """The per-class rank must run under a class-partitioned window —
    a global rank (Exchange SinglePartition feeding Window) would
    serialize the corpus through one task."""
    plan = _plan(spark, sf_dir, "sample_class_balance")
    assert re.search(r"Window \[row_number", plan)
    assert not re.search(
        r"Exchange SinglePartition[^\n]*\n[^\n]*Window", plan
    ), "global window detected"


def test_pass_at_k_single_data_shuffle(spark, sf_dir):
    """One user-partitioned rank + map-side-combined folds: exactly one
    hash exchange on user_id; the scalar fold's single-partition exchange
    carries 150 rows, not data."""
    plan = _plan(spark, sf_dir, "eval_pass_at_k")
    assert _n_exchanges(plan) <= 2
    assert "BroadcastNestedLoopJoin" not in plan


def test_hits_edges_feed_broadcast_joins(spark, sf_dir):
    """Score vectors must broadcast onto the edge list; a sort-merge join
    there would shuffle the edges once per half-step."""
    plan = _plan(spark, sf_dir, "graph_hits")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_datasheet_two_wide_stages(spark, sf_dir):
    """Prefix-window census + per-source rollup (the COUNT DISTINCT lang
    expands the rollup into its standard two-step (source, lang) ->
    (source) aggregate), plus the final order: four exchanges, never a
    global window."""
    plan = _plan(spark, sf_dir, "corpus_datasheet")
    assert not re.search(r"Exchange SinglePartition[^\n]*\n[^\n]*Window", plan)
    assert _n_exchanges(plan) <= 4


def test_retrieval_eval_pipeline_plan(spark, sf_dir):
    """VERDICT r10 item 2: pin the 6th flagship's shape — the 8-row probe
    query set enters as a BROADCAST (never a shuffled join side), the
    ranking is a per-query PARTITIONED window (partitionBy qid — a global
    unpartitioned window would single-thread the rank at scale), and the
    three metrics fold from ONE shared ranked pool (a single final 1-row
    aggregate; no second ranking subtree)."""
    plan = _plan(spark, sf_dir, "retrieval_eval_pipeline")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    # partitioned rank: the window's partition spec must name qid
    assert re.search(r"windowpartitionspec|partitionBy|\[qid", plan, re.I) or (
        "qid" in plan and "Window" in plan
    )
    # the window sort is (qid, ...), never a global Sort over the pool
    for m in re.finditer(r"Sort \[(.*?)\]", plan):
        cols = m.group(1)
        if "cos6" in cols:
            assert "qid" in cols, f"global sort over the pool: {cols}"
    # one ranked pool, one closing fold: a single row_number subtree
    assert plan.count("row_number") <= 2  # spec + function slot, one window


def test_lpa_round_shape(spark, sf_dir):
    """VERDICT r11 item 5: pin ONE label-propagation round of the
    dedup_clusters_unique core (the slowest previously-unpinned headline
    plan). The round is three equi-joins + one min-aggregate over
    checkpointed inputs: all JVM-side (no Python eval anywhere in the
    hot loop) and at most 7 shuffle exchanges (2 per data-sized join +
    the union-aggregate; AQE shrinks these at runtime but the compiled
    shape is the scale contract). A refactor that sneaks a cartesian,
    a Python boundary, or an extra exchange into the per-round loop
    fails here."""
    from pyspark.sql import functions as F

    from wri_data_processing_spark.queries.llm_dedup import cluster_edges_unique

    edges = cluster_edges_unique(spark, sf_dir).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    msgs = edges.join(labels, edges.dst == labels.node).select(
        edges.src.alias("node"), "lbl"
    )
    hop = msgs.unionByName(labels).groupBy("node").agg(F.min("lbl").alias("lbl"))
    new_labels = (
        hop.join(
            hop.select(F.col("node").alias("jnode"), F.col("lbl").alias("jlbl")),
            hop.lbl == F.col("jnode"),
            "left",
        )
        .select("node", F.coalesce("jlbl", "lbl").alias("lbl"))
    )
    plan = new_labels._jdf.queryExecution().executedPlan().toString()
    _assert_no_python(plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert _n_exchanges(plan) <= 7, plan


def test_bpe_round_shape(spark, sf_dir):
    """VERDICT r11 item 5: pin ONE BPE training round (the
    tokenizer_pipeline / bpe_train_rounds core). The pair-count is the
    round's ONLY shuffle (pairs zip inside the symbol array — no
    posexplode self-join), it partial-aggregates map-side, the argmax is
    TakeOrderedAndProject(1) (never a global sort), and nothing crosses
    into Python."""
    from pyspark.sql import functions as F

    from wri_data_processing_spark.catalog import table
    from wri_data_processing_spark.queries.llm_pipeline import _bpe_word_syms

    syms = _bpe_word_syms(table(spark, sf_dir, "documents"))
    idx = F.sequence(F.lit(0), F.size("syms") - 2)
    pair_structs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(F.col("syms"), (i + 1).cast("int")).alias("left_tok"),
            F.element_at(F.col("syms"), (i + 2).cast("int")).alias("right_tok"),
        ),
    )
    pc = (
        syms.filter(F.size("syms") >= 2)
        .select("cnt", F.explode(pair_structs).alias("p"))
        .groupBy("p.left_tok", "p.right_tok")
        .agg(F.sum("cnt").cast("long").alias("n_pairs"))
    )
    best = pc.orderBy(F.col("n_pairs").desc(), "left_tok", "right_tok").limit(1)
    plan = best._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_sum" in plan, plan
    assert _n_exchanges(plan) == 1, plan
    _assert_no_python(plan)


def test_pii_and_quality_ops_are_scan_stage_only(spark, sf_dir):
    """r12 family contract: pii_detect_report, pii_redact and
    quality_classifier_score are per-document projections — ZERO shuffle
    exchanges, zero Python nodes (regex, Luhn fold, trigram hash fold
    all JVM-side). At 100 TB these run at reader throughput."""
    for name in ("pii_detect_report", "pii_redact", "quality_classifier_score"):
        plan = _plan(spark, sf_dir, name)
        assert _n_exchanges(plan) == 0, (name, plan)
        _assert_no_python(plan, name)


def test_pii_prevalence_single_shuffle(spark, sf_dir):
    """The rollup's ONLY exchange is the map-side-combined source groupBy
    (plus its ORDER BY range partitioning for the |sources|-row output)."""
    plan = _plan(spark, sf_dir, "pii_prevalence_by_source")
    assert _n_exchanges(plan) <= 2, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_privacy_pipeline_single_shuffle(spark, sf_dir):
    """The 8th flagship's composition contract: detect + redact + verify
    fuse into the scan stage; the ONLY exchanges are the source rollup
    (+ its ORDER BY range partitioning) and, r16, the spread_small_scan
    repartition of the single-split LOCAL scan (doc-sized rows before the
    regex passes; skipped at real scale). No Python, no join."""
    plan = _plan(spark, sf_dir, "privacy_pipeline")
    assert _n_exchanges(plan) <= 3, plan
    assert "Join" not in plan
    _assert_no_python(plan)


def test_privacy_audits_bounded_exchanges(spark, sf_dir):
    """r12 release audits: the equivalence-class fold plus an in-stage
    literal-array threshold explode (NO join of any kind — the sweep
    itself pins that). k-anonymity: class groupBy + 4-row re-agg (+
    ORDER BY range). l-diversity adds the QI+sensitive partial-dedup
    exchange (COUNT DISTINCT expansion). Customer rows shuffle at most
    twice."""
    plan = _plan(spark, sf_dir, "privacy_k_anonymity")
    assert _n_exchanges(plan) <= 3, plan
    assert "Join" not in plan, plan
    _assert_no_python(plan)
    plan = _plan(spark, sf_dir, "privacy_l_diversity")
    assert _n_exchanges(plan) <= 4, plan
    _assert_no_python(plan)


def test_bradley_terry_iterations_stay_broadcast(spark, sf_dir):
    """The MM rounds run over |types|^2-bounded checkpointed frames: after
    the duel stage every join must be broadcast — a SortMergeJoin in an
    iteration means a 25-row frame got shuffle-joined. No Python."""
    plan = _plan(spark, sf_dir, "eval_bradley_terry")
    assert "SortMergeJoin" not in plan, plan
    _assert_no_python(plan)


def test_ngram_novelty_anti_join_carries_keys_not_text(spark, sf_dir):
    """r16 shape: the two distinct branches + LEFT ANTI join collapsed into
    ONE h-keyed aggregation (max train flag + collect_set of holdout
    sources) — so there must be NO join at all, the aggregation must be
    partial (map-side combined before the one data-sized exchange), and no
    exchange may carry the shingle STRING — text hashes scan-stage, only
    h/source shuffle."""
    plan = _plan(spark, sf_dir, "text_ngram_novelty")
    assert "Join" not in plan, plan
    assert "partial_" in plan, plan
    for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)", plan):
        assert "shingle" not in ex, ex
    _assert_no_python(plan)


def test_r13_scan_stage_ops_zero_exchanges(spark, sf_dir):
    """text_mattr is a per-document projection — zero shuffle exchanges,
    zero Python nodes (the token window sweep is a JVM-side
    transform/aggregate). At 100 TB it runs at reader throughput, the
    pii_detect_report class.

    r15: text_lang_id_multi LEFT this class deliberately — the
    interpreted transform + 5 aggregate() folds were replaced by a
    codegen'd trigram explode + ONE map-side-combined groupBy(doc_id)
    (OPTIMIZATION_r15.md; 3.88 -> 3.04 s). Its pin moved to
    test_r15_lang_id_single_doc_exchange below."""
    for name in ("text_mattr",):
        plan = _plan(spark, sf_dir, name)
        assert _n_exchanges(plan) == 0, (name, plan)
        _assert_no_python(plan, name)


def test_r15_lang_id_single_doc_exchange(spark, sf_dir):
    """text_lang_id_multi's r15 shape: trigram explode + hash/weight
    projection in WholeStageCodegen, collapsed map-side by a partial
    aggregate so the ONLY data-sized exchange carries one narrow row per
    doc — a regression either back to the zero-exchange interpreted-fold
    form or to a per-trigram shuffle (partial agg lost) shows up here. The
    aggregate must be a HashAggregate: lang rides as a grouping key, not
    first(lang), because a first() string buffer forces SortAggregate,
    which SORTS every exploded trigram row per partition (measured 22%
    slower). No joins, no Python nodes. r16: a second exchange is allowed
    — the spread_small_scan repartition of the single-split LOCAL scan
    (doc-sized rows, before the explode; skipped at real scale), which
    parallelizes the per-trigram sha projection."""
    plan = _plan(spark, sf_dir, "text_lang_id_multi")
    assert _n_exchanges(plan) <= 2, plan
    assert "partial_" in plan, plan  # map-side combine before the exchange
    assert "HashAggregate" in plan, plan
    assert "SortAggregate" not in plan, plan
    assert "Join" not in plan, plan
    _assert_no_python(plan)


def test_krippendorff_no_join(spark, sf_dir):
    """The three raters are a same-scan 3x projection: the whole alpha
    computation has NO shuffle join — only the (doc, cat) count exchange
    and category-bounded folds (broadcast joins close the scalar)."""
    plan = _plan(spark, sf_dir, "eval_krippendorff_alpha")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    _assert_no_python(plan)


def test_rbo_pools_are_take_ordered(spark, sf_dir):
    """Both ranking pools must compile to TakeOrderedAndProject (never a
    global sort), and the IVF side's probe restriction must broadcast."""
    plan = _plan(spark, sf_dir, "eval_rank_biased_overlap")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    _assert_no_python(plan)


def test_survival_family_single_user_shuffle(spark, sf_dir):
    """KM / Nelson-Aalen / log-rank share the plan shape: the per-user
    aggregate and the calendar-bounded duration aggregate are the only
    data-sized exchanges; everything after runs on a one-row array."""
    for name in (
        "events_hazard_nelson_aalen",
        "stats_logrank_test",
    ):
        plan = _plan(spark, sf_dir, name)
        assert _n_exchanges(plan) <= 4, (name, _n_exchanges(plan), plan)
        _assert_no_python(plan, name)


def test_breusch_pagan_single_data_shuffle(spark, sf_dir):
    """BP's only data-sized exchange is the (type, day) aggregate; both
    regressions are in-row folds over the day-sorted array — the raw
    event log never reaches a window or a join."""
    plan = _plan(spark, sf_dir, "stats_breusch_pagan")
    assert _n_exchanges(plan) <= 3, (_n_exchanges(plan), plan)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    _assert_no_python(plan)


def test_hybrid_rrf_no_data_shuffle(spark, sf_dir):
    """RRF fusion (r14): both source rankings end in TakeOrdered(20) — the
    plan has ZERO hash/range shuffle exchanges (BM25's tf counts are
    scan-stage array-filter sizes, the dense dot is a 1-row broadcast); the
    20x20 full outer fusion join and the rank windows run on single
    partitions of bounded frames. Data is never touched after the cuts."""
    plan = _plan(spark, sf_dir, "retrieval_hybrid_rrf")
    assert _n_exchanges(plan) == 0, (_n_exchanges(plan), plan)
    assert "TakeOrderedAndProject" in plan, plan
    _assert_no_python(plan)


def test_bleu_one_gram_shuffle(spark, sf_dir):
    """eval_bleu (r14): the ONLY data-sized exchanges are the deliberate
    spread_small_scan repartition and the one (pair, n, h) count shuffle —
    cand and ref counts are conditional sums in the SAME aggregate, so
    there is no cand-vs-ref join of any kind; the corpus fold is a
    single-partition 1-row aggregate."""
    plan = _plan(spark, sf_dir, "eval_bleu")
    assert _n_exchanges(plan) <= 2, (_n_exchanges(plan), plan)
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan
    assert "partial_" in plan, plan  # map-side combine before the gram shuffle
    _assert_no_python(plan)


def test_chrf_one_gram_shuffle(spark, sf_dir):
    """eval_chrf (r15): identical topology contract to eval_bleu at
    character grain — the only data-sized exchanges are the deliberate
    spread_small_scan repartition and the one (pair, n, h) count shuffle;
    both sides' counts are conditional sums in the SAME aggregate (no
    cand-vs-ref join); per-n and 1-row folds are bounded."""
    plan = _plan(spark, sf_dir, "eval_chrf")
    assert _n_exchanges(plan) <= 3, (_n_exchanges(plan), plan)
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan
    assert "partial_" in plan, plan  # map-side combine before the gram shuffle
    _assert_no_python(plan)


def test_token_f1_no_joins_two_folds(spark, sf_dir):
    """eval_token_f1 (r15): unigram slice of the bleu topology plus a
    per-pair fold — gram shuffle, pair fold, 1-row finish; the pico
    fixed-point terms are column arithmetic, never a join or a Python
    boundary."""
    plan = _plan(spark, sf_dir, "eval_token_f1")
    assert _n_exchanges(plan) <= 3, (_n_exchanges(plan), plan)
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan
    assert "partial_" in plan, plan
    _assert_no_python(plan)


def test_distinct_n_no_joins(spark, sf_dir):
    """eval_distinct_n (r15): one gram shuffle then the COUNT DISTINCT
    expand (2 n-values wide, constant) into a 1-row fold — no joins, no
    windows, no Python."""
    plan = _plan(spark, sf_dir, "eval_distinct_n")
    assert _n_exchanges(plan) <= 4, (_n_exchanges(plan), plan)
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan
    _assert_no_python(plan)


def test_cer_one_pair_shuffle_no_python(spark, sf_dir):
    """eval_cer (r15): the only data-sized exchanges are the deliberate
    spread_small_scan repartition and ONE (pair) groupBy carrying the
    paired texts (map-side partial MAX); the O(L^2) Levenshtein DP is the
    built-in JVM expression inside the post-shuffle project — no joins,
    no windows, no Python, 1-row finish."""
    plan = _plan(spark, sf_dir, "eval_cer")
    assert _n_exchanges(plan) <= 2, (_n_exchanges(plan), plan)
    assert "Join" not in plan, plan
    assert "partial_" in plan, plan  # map-side combine before the pair shuffle
    assert "levenshtein" in plan, plan  # the JVM built-in, not a UDF
    _assert_no_python(plan)


def test_dedup_pr_equi_joins_only(spark, sf_dir):
    """eval_dedup_pr (r15): the union of the two proven sub-quadratic
    generator shapes plus one pair-level full-outer hash join — every
    join an equi-join (band/signature/posting-list/pair), the threshold
    curve a bounded 4-row in-row explode, never a join; no NLJ, no
    cartesian, no Python anywhere."""
    plan = _plan(spark, sf_dir, "eval_dedup_pr")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "FullOuter" in plan, plan  # the pair-level TP/FP/FN join
    _assert_no_python(plan)
