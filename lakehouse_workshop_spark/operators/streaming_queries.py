"""Streaming operator queries.

``streaming_windowed_counts`` genuinely runs a Structured Streaming job to
completion (availableNow → memory sink) and still oracle-matches the batch
equivalent. ``session_window_batch`` exercises Spark's native
``session_window`` operator in batch with an exact SQL oracle.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_workshop_spark.catalog import load_table
from lakehouse_workshop_spark.operators import query
from lakehouse_workshop_spark.operators.completions import SESSION_GAP_SECONDS


def _in_workdir(job, spark: SparkSession, sf_dir: str, *order_by: str) -> DataFrame:
    """Run a staged streaming ``job(spark, sf_dir, workdir)`` in a
    throwaway workdir. Its result is ordered by ``order_by`` and
    materialized before the workdir is removed, which also happens when
    the job raises."""
    with tempfile.TemporaryDirectory() as workdir:
        return (
            job(spark, sf_dir, workdir).orderBy(*order_by).localCheckpoint(eager=True)
        )


@query(
    "streaming_windowed_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS window_end,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling-window counts per event type — computed by an
    actual streaming query (parquet source, availableNow, memory sink)."""
    from lakehouse_workshop_spark.streaming.jobs import run_streaming_windowed_counts

    return run_streaming_windowed_counts(spark, sf_dir)


@query(
    "streaming_windowed_counts_watermarked",
    oracle="""
    WITH agg AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
               time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS window_end,
               event_type,
               COUNT(*) AS n_events
        FROM events
        GROUP BY 1, 2, 3
    )
    SELECT * FROM agg
    WHERE window_end <= (SELECT MAX(ts) FROM events) - INTERVAL '10 minutes'
    """,
)
def streaming_windowed_counts_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data handling: watermarked windowed counts in append mode.

    Only windows the watermark has closed are emitted (open tails stay in
    state) — under availableNow that is exactly ``window_end <= max(ts) −
    delay``, which the oracle's HAVING-style predicate reproduces.
    """
    from lakehouse_workshop_spark.streaming.jobs import (
        run_streaming_windowed_counts_watermarked,
    )

    return run_streaming_windowed_counts_watermarked(spark, sf_dir)


@query(
    "streaming_enriched_counts",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_events
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1
    """,
)
def streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: event stream ⋈ customer ⋈ nation, counts per
    nation — the enrichment-join shape of a streaming ingest pipeline,
    driven to completion and value-checked against the batch join."""
    from lakehouse_workshop_spark.streaming.jobs import run_streaming_enriched_counts

    return run_streaming_enriched_counts(spark, sf_dir)


@query(
    "streaming_dedup",
    oracle="""
    SELECT event_id, user_id, ts, event_type
    FROM events
    """,
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dropDuplicates over a deliberately doubled
    stream — collapses back to exactly the source rows (the at-least-once
    ingest guard for a training corpus)."""
    from lakehouse_workshop_spark.streaming.jobs import run_streaming_dedup

    return run_streaming_dedup(spark, sf_dir)


@query(
    "streaming_click_to_purchase",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts
    FROM events c
    JOIN events p ON p.user_id = c.user_id
               AND p.event_type = 'purchase'
               AND p.ts > c.ts
               AND p.ts <= c.ts + INTERVAL '10 minutes'
    WHERE c.event_type = 'click'
    """,
)
def streaming_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-range join (click → purchase ≤ 10 min later, per
    user), watermarked on both sides so join state is bounded; value-checked
    against the batch self-join."""
    from lakehouse_workshop_spark.streaming.jobs import run_streaming_click_to_purchase

    return run_streaming_click_to_purchase(spark, sf_dir)


@query(
    "streaming_sessionize_flushed",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > {SESSION_GAP_SECONDS}
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM flagged
    ), sess AS (
        SELECT user_id, CAST(session_id AS INT) AS session_id,
               COUNT(*) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM numbered GROUP BY 1, 2
    )
    SELECT * FROM sess
    WHERE session_end + INTERVAL '{SESSION_GAP_SECONDS} seconds'
          < (SELECT MAX(ts) FROM events)
    """,
)
def streaming_sessionize_flushed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful sessionizer with event-time timeouts: emits both
    gap-closed sessions and watermark-expired open tails, making the
    custom-state operator fully value-checkable (= every session whose
    tail the stream's frontier has passed)."""
    from lakehouse_workshop_spark.streaming.jobs import sessionize_stateful_flushed

    return sessionize_stateful_flushed(spark, sf_dir)


@query(
    "session_window_batch",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > {SESSION_GAP_SECONDS}
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '{SESSION_GAP_SECONDS} seconds' AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native ``session_window`` (gap 30 min) in batch mode.

    session_window's end = last event + gap, which the lag+cumsum oracle
    reproduces; this pins the two sessionization implementations to each
    other as well as to DuckDB.
    """
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        F.session_window("ts", f"{SESSION_GAP_SECONDS} seconds").alias("sw"), "user_id"
    ).agg(F.count("*").alias("n_events")).select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
    )


@query(
    "streaming_event_transitions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY 1, 2 ORDER BY n DESC, from_type, to_type
    """,
)
def streaming_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-streaming twin of the batch ``event_transitions``: per-user
    state is one event (the last seen), so transition pairs bridge
    micro-batch boundaries with O(users) memory; aggregating the emitted
    pairs reproduces the batch window pass exactly."""
    from lakehouse_workshop_spark.streaming.jobs import (
        run_streaming_event_transitions,
    )

    pairs = run_streaming_event_transitions(spark, sf_dir)
    return (
        pairs.groupBy("from_type", "to_type")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "from_type", "to_type")
    )


@query(
    "streaming_scd2_history",
    oracle="""
    SELECT o_custkey AS custkey,
           o_orderkey AS version_key,
           o_totalprice AS attr_value,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER w AS valid_to,
           CAST(CASE WHEN LEAD(o_orderdate) OVER w IS NULL
                     THEN 1 ELSE 0 END AS INT) AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def streaming_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``scd2_customer_history``: the change stream is
    split into THREE date-sliced micro-batches (the last one replaying
    the earliest slice — the at-least-once case) and
    ``run_streaming_scd2`` maintains the Type-2 table incrementally;
    the oracle is the one-shot batch build, so the driver value-checks
    that per-key incremental rebuild + late replay converges to exactly
    the batch result.

    Scale: each micro-batch's cost is proportional to the keys it
    touches (prior-history join + re-window), never table size — the
    property this query exists to pin.
    """
    from lakehouse_workshop_spark.streaming.jobs import run_streaming_scd2

    events = (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            "o_custkey AS custkey",
            "o_orderkey AS version_key",
            "o_totalprice AS attr_value",
            "o_orderdate AS valid_from",
        )
        .localCheckpoint(eager=True)
    )
    batches = (
        events.filter("valid_from < '1996-06-01'"),
        events.filter(
            "valid_from >= '1996-06-01' AND valid_from < '1998-01-01'"
        ),
        events.filter("valid_from >= '1998-01-01'").union(
            events.filter("valid_from < '1995-06-01'")  # late replay
        ),
    )
    with tempfile.TemporaryDirectory() as workdir:
        # One file per batch, written in order: the file source takes them
        # one per trigger, oldest first.
        for i, b in enumerate(batches):
            b.coalesce(1).write.parquet(f"{workdir}/src/batch_{i}")
        result = run_streaming_scd2(
            spark, f"{workdir}/src/batch_*", f"{workdir}/target", events.schema
        )
        # materialize off the workdir before it is removed
        return result.select(
            "custkey", "version_key", "attr_value", "valid_from", "valid_to",
            "is_current",
        ).localCheckpoint(eager=True)


def _streaming_bloom_oracle() -> str:
    from lakehouse_workshop_spark.operators.llm_mixture import (
        BLOOM_K,
        _bloom_sql,
        _DUCK_BLOOM_H,
    )

    return _bloom_sql(_DUCK_BLOOM_H, f", generate_series(0, {BLOOM_K - 1}) AS t(i)")


@query(
    "streaming_bloom_dedup",
    oracle=_streaming_bloom_oracle(),
)
def streaming_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the batch ``bloom_dedup`` ingest gate: the
    incoming slice arrives as a 5-file stream (5 micro-batches under
    maxFilesPerTrigger=1) and every batch is gated inside foreachBatch
    against the once-built corpus bit-position set. The filter is the
    per-cycle snapshot — gating is arrival-order-independent — so the
    driver value-checks the streamed emission against the exact same
    SQL oracle as the batch gate.

    Scale: per micro-batch cost is the batch's own positions probed
    against the static (broadcastable, ≤2^20-entry) position set; state
    is zero — the gate is stateless BETWEEN batches by design (the
    filter snapshot rebuilds per ingest cycle, not per event).
    """
    from lakehouse_workshop_spark.streaming.jobs import run_streaming_bloom_gate

    return _in_workdir(run_streaming_bloom_gate, spark, sf_dir, "doc_id")


def _streaming_cms_oracle() -> str:
    from lakehouse_workshop_spark.operators.profiling import HOT_KEYS_TOP

    return f"""
    WITH k AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id),
    ranked AS (
        SELECT user_id, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS rnk
        FROM k
    )
    SELECT user_id, CAST(c AS BIGINT) AS n_events,
           TRUE AS est_ge_true, TRUE AS within_bound
    FROM ranked WHERE rnk <= {HOT_KEYS_TOP}
    """


@query(
    "streaming_cms_heavy_hitters",
    oracle=_streaming_cms_oracle(),
)
def streaming_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``cms_heavy_hitters``: events arrive as a 5-file
    stream and every micro-batch appends its own fixed d×w partial sketch
    inside foreachBatch; the merged (cell-wise summed) sketch answers the
    same heavy-hitter probes. Because CMS counters over disjoint row sets
    ADD, the merged sketch — hence every estimate and both contract
    booleans — is bit-identical to the batch build for any batch
    boundaries, so the driver value-checks the streamed path against the
    batch oracle (tests/test_streaming.py pins streamed == batch
    row-for-row).

    Scale: per-batch state contribution is one {CMS_DEPTH}×{CMS_WIDTH}
    counter partial regardless of batch size or key cardinality — the
    no-per-key-state frequency monitor a 100 TB event stream needs.
    """
    from lakehouse_workshop_spark.streaming.jobs import run_streaming_cms

    return _in_workdir(run_streaming_cms, spark, sf_dir, "user_id")


def _streaming_pq_oracle() -> str:
    from lakehouse_workshop_spark.operators.llm_ann_pq import _PQ_INCR_ORACLE

    return _PQ_INCR_ORACLE


@query(
    "streaming_pq_ingest",
    oracle=_streaming_pq_oracle(),
)
def streaming_pq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``ivf_pq_incremental``: the ingest partition
    arrives as a 5-file stream and every micro-batch is assigned +
    PQ-encoded inside foreachBatch against the once-built corpus index
    (broadcast centroids + codebooks, never retrained). Per-vector
    assignment is batch-independent and counts over disjoint row sets
    add, so the merged inverted-list counts are bit-identical to the
    batch ingest for any batch boundaries — the driver value-checks the
    whole streamed path against the same exact SQL oracle
    (tests/test_streaming.py pins streamed == batch row-for-row).

    Scale: per micro-batch cost is one Arrow assign-encode pass over
    that batch only; state is the append-only code parts table — the
    nightly vector-store ingest shape.
    """
    from lakehouse_workshop_spark.streaming.jobs import run_streaming_pq_ingest

    return _in_workdir(run_streaming_pq_ingest, spark, sf_dir, "cid")


def _streaming_lsh_oracle() -> str:
    from lakehouse_workshop_spark.operators.llm_dedup import (
        _DUCK_SHINGLE_INT,
        _DUCK_SHINGLES,
        _lsh_incremental_sql,
        _minhash_sig_sql,
    )

    return _lsh_incremental_sql(
        _minhash_sig_sql(_DUCK_SHINGLE_INT, _DUCK_SHINGLES)
    )


@query(
    "streaming_lsh_ingest",
    oracle=_streaming_lsh_oracle(),
)
def streaming_lsh_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``minhash_lsh_incremental``: the ingest slice
    arrives as a 5-file stream and every micro-batch is signed, banded,
    and band-joined against the once-built standing corpus signature
    table inside foreachBatch. The incremental contract never compares
    batch docs to each other, so each doc's candidate pairs depend only
    on its own text and the static corpus — the merged emission is
    row-identical to the batch query for any batch boundaries, and the
    driver value-checks the whole streamed path against the same SQL
    oracle (tests/test_streaming.py pins streamed == batch
    row-for-row). Completes the streaming-twin family: exact gate
    (bloom), sketch (CMS), vector ingest (PQ), and now near-dup.

    Scale: per micro-batch cost is one shingle→signature pass over the
    batch plus a broadcast band join; zero state between batches (the
    signature table is the per-cycle snapshot, like the bloom filter).
    """
    from lakehouse_workshop_spark.streaming.jobs import run_streaming_lsh_ingest

    return _in_workdir(
        run_streaming_lsh_ingest, spark, sf_dir, "corpus_doc", "batch_doc"
    )


def _streaming_semantic_oracle() -> str:
    from lakehouse_workshop_spark.operators.llm_similarity import (
        _DUCK_COS,
        _DUCK_PREP,
        _sem_incr_sql,
    )

    return _sem_incr_sql(_DUCK_PREP, _DUCK_COS, corpus_only=True)


@query(
    "streaming_semantic_dedup",
    oracle=_streaming_semantic_oracle(),
)
def streaming_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``semantic_dedup_incremental``: ingest vectors
    arrive as a 5-file stream and every micro-batch is centroid-assigned
    and Gram-gated against the once-built standing kept corpus inside
    foreachBatch. The gate verdict depends only on each vector's own
    embedding and the static kept set (within-batch dedup is the nightly
    batch compactor's job — same contract as ``streaming_lsh_ingest``
    never comparing batch docs to each other), so the merged emission is
    row-identical to the batch query's corpus-gate projection for any
    batch boundaries, and the driver value-checks the whole streamed
    path against the corpus-only SQL oracle (tests/test_streaming.py
    pins streamed == batch row-for-row). Completes the streaming-twin
    family for every dedup member: exact (bloom), near-dup (LSH), sketch
    (CMS), vector ingest (PQ), and now embedding-space semantic.

    Scale: per micro-batch cost is one broadcast-centroid matmul plus
    per-cluster Gram blocks against ~n/nlist standing kept members; zero
    state between batches — the kept table is the per-cycle snapshot.
    """
    from lakehouse_workshop_spark.streaming.jobs import (
        run_streaming_semantic_dedup,
    )

    return _in_workdir(run_streaming_semantic_dedup, spark, sf_dir, "vec_id")
