"""Operator registry.

Each operator module registers named queries ``(spark, sf_dir) -> DataFrame``
and (where SQL-expressible) a DuckDB oracle SQL string under the same name.
``__spark_entry__`` exposes the merged registries to the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Explicit driver-pass order. The driver's correctness pass verifies the
# first 50 registry entries per round, so coverage rotates through this
# list; unlisted queries follow in registration order. Rebuilt at each
# round start: validate with ``tools/make_driver_order.py --check``
# (read-only), then record the manifest with ``tools/make_driver_order.py``
# (rules in its docstring, enforced by tests/test_registry.py). Slots go,
# in this order, to:
#   1. hard demands: stale queries (latest green driver row at least P
#      rounds old, P = max(3, ceil(registry / 50) + 1)), never-verified
#      queries, and changed queries whose one-round deferral has come due;
#   2. queries whose governed source changed since their verified hash,
#      those whose computation changed ahead of those where only shared
#      plumbing (such as the streaming drain) changed.
# Changed queries that do not fit are deferred one round with
# ``--defer-changed``, backed by a same-session full-registry parity run
# at sf0.01 and sf0.1; at the next round they are hard demands.
# Capacity: P = 6 holds up to 250 registered queries. Before registering
# past ~230, retire the labeled exact baselines (SCALE_PATHS) from the
# rotation, and only then raise P.
DRIVER_ORDER: list[str] = [
    # -- stale: latest driver row is P = 6 or more rounds old --------------
    "streaming_click_to_purchase",
    "streaming_sessionize_flushed",
    "session_window_batch",
    "stratified_sample",
    "shard_assignments",
    "corpus_clean",
    "dedup_incremental",
    "pseudonymize_users",
    "doc_chunks",
    "repetition_ratio",
    "bpe_merge_candidates",
    "integrity_orphans",
    "hot_keys_events",
    "order_price_histogram",
    "embedding_normalized",
    "shipping_priority",
    "local_supplier_volume",
    "rolling_revenue_7d",
    "customer_order_gaps",
    "big_quantity_orders",
    "disjunctive_part_revenue",
    "basket_part_pairs",
    "customer_order_distribution",
    "docs_length_outliers",
    "embedding_label_centroids",
    "bigram_lm_score",
    # -- changed, one-round deferral now due ---------------------------------
    "packing_efficiency",
    "domain_mixture_weights",
    "lang_source_mix",
    "token_entropy",
    "zipf_slope",
    "curriculum_stages",
    "contamination_by_benchmark",
    "source_token_kl",
    "source_quality_gate",
    "token_budget_plan_mixture",
    "token_budget_rebalance",
    "token_budget_materialize",
    "token_budget_fill_report",
    "training_shard_manifest",
    "training_shard_append",
    "embedding_quantize_int8",
    "embedding_pca_spectrum",
    # -- changed here: shared drain/staging and batch-twin helpers -----------
    "minhash_lsh_incremental",
    "ivf_pq_incremental",
    "semantic_dedup_incremental",
    "streaming_lsh_ingest",
    "streaming_pq_ingest",
    "streaming_semantic_dedup",
    "streaming_scd2_history",
]
# Baseline → production twin. Entries here are *labeled baselines*: exact
# but super-linear (quadratic self-joins, brute-force scans) — correct as
# ground truth, wrong as the operator a 100 TB pipeline schedules. The
# value names the registered sub-quadratic twin production should use.
SCALE_PATHS: dict[str, str] = {}


def query(
    name: str,
    oracle: str | None = None,
    scale_path: str | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Register a named operator query and optionally its DuckDB oracle SQL.

    ``scale_path`` marks this query as an exact-but-super-linear baseline
    and names the registered twin that holds its cost sub-quadratic at
    scale (exposed via :func:`all_scale_paths`).
    """

    def deco(fn: QueryFn) -> QueryFn:
        # A second registration under one name would silently shadow the
        # first operator while its oracle and tests kept passing.
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} is already "
                "registered; rename the new operator or delete the "
                "stale definition"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if scale_path is not None:
            SCALE_PATHS[name] = scale_path
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    # Import for side effect of registration. Iteration order =
    # DRIVER_ORDER (the driver's 50-row correctness window), then any
    # remaining queries in registration order.
    from lakehouse_workshop_spark.operators import (  # noqa: F401
        relational,
        insights,
        completions,
        cdc,
        clv_queries,
        streaming_queries,
        llm_text,
        llm_pipeline,
        llm_dedup,
        llm_similarity,
        llm_multimodal,
        olap_extras,
        olap_tpch,
        llm_quality,
        llm_mixture,
        event_analytics,
        llm_ann_pq,
        profiling,
    )

    pos = {n: i for i, n in enumerate(DRIVER_ORDER)}
    unknown = [n for n in DRIVER_ORDER if n not in QUERIES]
    assert not unknown, f"DRIVER_ORDER names not registered: {unknown}"
    order = sorted(QUERIES, key=lambda n: pos.get(n, len(DRIVER_ORDER)))
    return {n: QUERIES[n] for n in order}  # stable within the tail


def all_oracles() -> dict[str, str]:
    all_queries()
    return dict(ORACLES)


def all_scale_paths() -> dict[str, str]:
    """Baseline-query → production-twin mapping (see ``SCALE_PATHS``)."""
    all_queries()
    paths = dict(SCALE_PATHS)
    missing = [t for t in paths.values() if t not in QUERIES]
    assert not missing, f"scale_path targets not registered: {missing}"
    return paths
