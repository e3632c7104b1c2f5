"""Structured Streaming jobs (engine extension; SURVEY.md §2.9 notes the
reference has no streaming — this is the Spark-native completion).

Every job runs its stream to completion through one of two shared
functions, so checkpointing, triggering and state-store width live in one
place:

- :func:`_drain` starts a ``DataStreamWriter`` over a throwaway
  checkpoint with the ``availableNow`` trigger, the state stores at
  ``_STREAM_SHUFFLE_PARTITIONS``, and waits for the stream to finish.
  Jobs with a memory sink then read the sink's table; ``foreachBatch``
  jobs read what their batch writer left on disk.
- :func:`_staged_stream` writes a batch DataFrame as
  ``_STAGED_FILES`` parquet files under ``<target_dir>/_incoming`` and
  returns a one-file-per-trigger stream over them, its schema taken from
  the DataFrame. The ingest-gate twins (bloom, CMS, PQ, LSH, semantic)
  stream through it, so each runs several micro-batches.

The event jobs read ``events.parquet`` itself as a file stream (one
micro-batch); the parquet file source stands in for Kafka — the plan
shape downstream of the source is the same. Watermarks bound state, and
per-key state is O(1).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.sql.window import Window as PsWindow

from lakehouse_workshop_spark.operators.completions import SESSION_GAP_SECONDS


def _events_raw_schema(spark: SparkSession, sf_dir: str) -> StructType:
    """Physical schema of ``events.parquet`` (one footer read, no data
    scan): older datagen wrote ``ts`` as int64 nanos, newer as native µs
    timestamps, and a stream source needs the schema declared up front."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/events.parquet").schema


# Stateful streaming creates one state store (RocksDB/HDFS dir + provider)
# per shuffle partition, every micro-batch. These harness runs hold a few
# thousand keys, so 32 partitions is pure fixed overhead — 8 cuts store
# setup 4× without changing results. A real deployment sizes this to
# state volume (state-store count scales with partitions, not data).
_STREAM_SHUFFLE_PARTITIONS = 8
# Files a staged source is split into: one micro-batch each.
_STAGED_FILES = 5


def _drain(spark: SparkSession, writer: DataStreamWriter) -> None:
    """Run ``writer``'s query to completion: availableNow over a throwaway
    checkpoint, with ``_STREAM_SHUFFLE_PARTITIONS`` state stores."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(_STREAM_SHUFFLE_PARTITIONS))
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            writer.option("checkpointLocation", ckpt).trigger(
                availableNow=True
            ).start().awaitTermination()
    finally:
        spark.conf.set(key, old)


def _drain_to_memory(
    spark: SparkSession, df: DataFrame, mode: str, name: str
) -> DataFrame:
    """:func:`_drain` ``df`` into the memory table ``name`` and return it."""
    _drain(spark, df.writeStream.outputMode(mode).format("memory").queryName(name))
    return spark.table(name)


def _staged_stream(df: DataFrame, target_dir: str) -> DataFrame:
    """Stage ``df`` as ``_STAGED_FILES`` parquet files under
    ``target_dir/_incoming`` and stream them back one file per trigger."""
    source_dir = os.path.join(target_dir, "_incoming")
    df.repartition(_STAGED_FILES).write.mode("overwrite").parquet(source_dir)
    return (
        df.sparkSession.readStream.format("parquet")
        .schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .load(source_dir)
    )


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_workshop_spark.catalog import decode_events_ts

    # The file stream source requires a directory; glob-filter to the events
    # file within the sf dir.
    raw = (
        spark.readStream.format("parquet")
        .schema(_events_raw_schema(spark, sf_dir))
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return decode_events_ts(raw)


def _windowed_counts(
    spark: SparkSession, events: DataFrame, mode: str, name: str
) -> DataFrame:
    """5-minute tumbling-window counts per event_type, drained into the
    memory table ``name`` in output ``mode``."""
    agg = events.groupBy(
        F.window("ts", "5 minutes").alias("win"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    return _drain_to_memory(spark, agg, mode, name).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "event_type",
        "n_events",
    )


def run_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts per event_type, driven to completion.

    Complete mode emits every window at the final trigger, so the result
    equals the batch aggregation (oracle-checkable).
    """
    return _windowed_counts(
        spark, _event_stream(spark, sf_dir), "complete", "stream_windowed_counts"
    )


def run_streaming_windowed_counts_watermarked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Windowed counts with a 10-minute watermark, append mode — the
    late-data path.

    Append mode only emits a window once the watermark (max observed event
    time − delay) passes its end, so the result is the *closed* windows;
    the final open windows stay in state. Under availableNow this is
    deterministic: watermark = max(ts) − delay after the single data
    batch, and the closing flush emits every window with
    ``window_end <= watermark`` — which is exactly the SQL oracle's
    HAVING predicate.
    """
    events = _event_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return _windowed_counts(spark, events, "append", "stream_windowed_counts_wm")


def run_streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer→nation dimension path, aggregated per nation.

    The static side is a plain DataFrame (broadcast by Catalyst per
    micro-batch); only the stream side holds state. Complete mode +
    availableNow drives it to a deterministic, oracle-checkable result.
    """
    from lakehouse_workshop_spark.catalog import load_table

    events = _event_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    enriched = events.join(customer, "user_id").join(
        nation, customer.c_nationkey == nation.n_nationkey
    )
    agg = enriched.groupBy("n_name").agg(F.count("*").alias("n_events"))
    return _drain_to_memory(spark, agg, "complete", "stream_enriched_counts")


def run_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the ingest-time guard that keeps replayed /
    at-least-once-delivered records out of a corpus.

    The harness doubles the stream (self-union — two scans of the source)
    and ``dropDuplicates`` on the key collapses it back to exactly the
    source rows, which is what makes the result oracle-checkable. The
    watermark bounds the dedup state: keys older than the delay are
    evicted, so state is O(keys per window), not O(all keys ever).

    The oracle (= all distinct source rows) requires that no row is ever
    dropped as late, which a tight delay only guarantees while the file
    source lands everything in one micro-batch. Rather than lean on that
    batching accident, the delay is set wider than the test corpus's
    whole event-time span (~30 days), so the equality holds however
    availableNow splits batches. Production ingest wants the tight delay
    ("10 minutes"-ish) — there, late replays *should* be dropped and
    state must stay small; the knob is the only difference.
    """
    events = _event_stream(spark, sf_dir)
    doubled = events.unionByName(_event_stream(spark, sf_dir))
    deduped = (
        doubled.withWatermark("ts", "90 days")
        .dropDuplicates(["event_id"])
        .select("event_id", "user_id", "ts", "event_type")
    )
    return _drain_to_memory(spark, deduped, "append", "stream_dedup")


def run_streaming_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each click matched to the same user's
    purchases within the next 10 minutes.

    Both sides are watermarked so the join state is bounded (clicks held
    ≤ watermark+range, purchases ≤ watermark); the time-range predicate is
    what lets Spark expire state. Under availableNow the single batch
    contains both sides, so the inner join emits every qualifying pair —
    deterministic and oracle-checkable.
    """
    events = _event_stream(spark, sf_dir)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 minutes")),
    ).select("click_id", "user_id", "click_ts", "purchase_id", "purchase_ts")
    return _drain_to_memory(spark, joined, "append", "stream_click_to_purchase")


def run_streaming_merge_latest(
    spark: SparkSession, sf_dir: str, target_dir: str
) -> DataFrame:
    """Streaming CDC into a lakehouse table: every micro-batch upserts its
    latest-event-per-user rows into a parquet target via ``foreachBatch``
    + :func:`operators.cdc.merge_upsert`.

    This is the standard streaming→table pattern: ``foreachBatch`` hands
    each micro-batch to arbitrary *batch* writers, so the same body runs
    Delta's ``MERGE INTO`` when the jar is present (exactly-once via the
    batch-id); the parquet degrade here is at-least-once with an
    idempotent merge, so replays converge to the same table. The
    ``localCheckpoint`` materializes the merged frame before the
    overwrite — otherwise the lazy plan would read the directory it is
    rewriting.
    """
    from lakehouse_workshop_spark.operators.cdc import merge_upsert

    events = _event_stream(spark, sf_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = PsWindow.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        latest = (
            batch_df.select("event_id", "user_id", "ts", "event_type")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if os.path.isdir(target_dir):
            target = batch_df.sparkSession.read.parquet(target_dir)
            merged = merge_upsert(target, latest, "user_id")
        else:
            merged = latest
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(target_dir)

    _drain(spark, events.writeStream.foreachBatch(merge_batch))
    return spark.read.parquet(target_dir)


_SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("session_id", IntegerType(), True),
        StructField("n_events", LongType(), True),
        StructField("session_start", TimestampType(), True),
        StructField("session_end", TimestampType(), True),
    ]
)

# state: (session_id, n_events, start_us, end_us)
_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_id", IntegerType(), True),
        StructField("n_events", LongType(), True),
        StructField("start_us", LongType(), True),
        StructField("end_us", LongType(), True),
    ]
)


def _session_rows(user_id: Any, sessions: list[tuple]) -> pd.DataFrame:
    """Output rows for ``sessions``, each a state tuple
    (session_id, n_events, start_us, end_us)."""
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(sessions),
            "session_id": [o[0] for o in sessions],
            "n_events": [o[1] for o in sessions],
            "session_start": [pd.Timestamp(o[2], unit="us") for o in sessions],
            "session_end": [pd.Timestamp(o[3], unit="us") for o in sessions],
        }
    )


def _session_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user gap sessionizer. Emits every session it closes; the open
    tail stays in state (flushed by later batches when the gap elapses).

    NoTimeout on purpose: under ``availableNow`` a ProcessingTimeTimeout
    keeps the query alive with empty timeout-check batches forever, so
    the drain never returns. Open-tail flushing is
    :func:`_session_fn_eventtime`'s job (EventTimeTimeout + watermark).
    """
    gap_us = SESSION_GAP_SECONDS * 1_000_000

    ts_us: list[int] = []
    for pdf in pdfs:
        ts_us.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
    ts_us.sort()

    sid, n, start_us, end_us = state.get if state.exists else (1, 0, None, None)
    out: list[tuple[int, int, int, int]] = []
    for t in ts_us:
        if start_us is None:
            start_us, end_us, n = t, t, 1
        elif t - end_us > gap_us:
            out.append((sid, n, start_us, end_us))
            sid, n, start_us, end_us = sid + 1, 1, t, t
        else:
            end_us, n = t, n + 1
    state.update((sid, n, start_us, end_us))

    if out:
        yield _session_rows(key[0], out)


def _session_fn_eventtime(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """:func:`_session_fn` plus event-time timeouts: the open tail is
    flushed once the watermark passes last-event + gap. EventTimeTimeout
    is watermark-driven, so the final timeout batch drains and the query
    stops (a ProcessingTimeTimeout would not)."""
    if state.hasTimedOut:
        tail = state.get
        state.remove()
        yield _session_rows(key[0], [tail])
        return
    yield from _session_fn(key, pdfs, state)
    # PySpark serializes the state only after the output is exhausted, so
    # the timeout set here (from the tail _session_fn stored) is kept.
    state.setTimeoutTimestamp(state.get[3] // 1000 + SESSION_GAP_SECONDS * 1000)


def _sessions(
    events: DataFrame,
    fn=_session_fn,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """Per-user stateful sessionization of an event stream with ``fn``."""
    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def sessionize_stateful_flushed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful sessionization with event-time timeouts: gap-closed
    sessions AND watermark-expired open tails are both emitted.

    Under availableNow the final watermark is max(ts) − delay (0s here),
    so the emitted set is exactly every session with
    ``last_event + gap < max(ts)`` — deterministic and oracle-checkable;
    only tails still inside the gap window of the stream's frontier stay
    in state, as they must (more events could still extend them).
    """
    sessions = _sessions(
        _event_stream(spark, sf_dir).withWatermark("ts", "0 seconds"),
        _session_fn_eventtime,
        GroupStateTimeout.EventTimeTimeout,
    )
    return _drain_to_memory(spark, sessions, "append", "stream_sessions_flushed")


def sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming sessionization via applyInPandasWithState.

    With availableNow the whole file arrives in one batch, so this emits the
    *closed* sessions (open tails stay in state) — the honest streaming
    semantics; the batch operator emits all sessions.
    """
    sessions = _sessions(_event_stream(spark, sf_dir))
    return _drain_to_memory(spark, sessions, "append", "stream_sessions")


def sessionize_stateful_to_files(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> DataFrame:
    """The production shape of :func:`sessionize_stateful`: identical
    stateful plan, but the sink is a parquet directory — results flow
    executor→files and never buffer on the driver (the memory sink above is
    harness-only). Returns a batch scan of the sink directory."""
    sessions = _sessions(_event_stream(spark, sf_dir))
    _drain(
        spark,
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir),
    )
    return spark.read.schema(_SESSION_OUT_SCHEMA).parquet(out_dir)


_TRANSITION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("from_type", StringType(), True),
        StructField("to_type", StringType(), True),
    ]
)
_TRANSITION_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType(), True),
        StructField("last_eid", LongType(), True),
        StructField("last_type", StringType(), True),
    ]
)


def _transition_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user transition emitter: state carries the last-seen event so
    consecutive pairs bridge micro-batch boundaries. Within a batch,
    events order by (ts, event_id) — the same deterministic order as the
    batch operator. Cross-batch equality with the batch answer assumes
    time-ordered arrival (the file-source harness's property; out-of-order
    production streams want the watermark + sort variant)."""
    (user_id,) = key
    evs: list[tuple[int, int, str]] = []
    for pdf in pdfs:
        ts_us = (pd.to_datetime(pdf["ts"]).astype("int64") // 1000).tolist()
        evs.extend(zip(ts_us, pdf["event_id"].tolist(), pdf["event_type"].tolist()))
    evs.sort()
    prev = state.get if state.exists else None
    out: list[tuple[str, str]] = []
    for ts_us, eid, etype in evs:
        if prev is not None:
            out.append((prev[2], etype))
        prev = (ts_us, eid, etype)
    if prev is not None:
        state.update(prev)
    if out:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out),
                "from_type": [o[0] for o in out],
                "to_type": [o[1] for o in out],
            }
        )


def _transitions(events: DataFrame) -> DataFrame:
    """Per-user (from_type, to_type) pairs of an event stream, bridged
    across micro-batches by :func:`_transition_fn`'s state."""
    return events.groupBy("user_id").applyInPandasWithState(
        _transition_fn,
        outputStructType=_TRANSITION_OUT_SCHEMA,
        stateStructType=_TRANSITION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-order transition extraction via
    ``applyInPandasWithState``: per-user state is ONE event (the last
    seen), so memory is O(users) however long the stream runs — the
    streaming twin of the batch ``event_transitions`` window pass.

    Returns the emitted transition pairs; the registered query aggregates
    them to the (from, to, n) matrix, which equals the batch answer
    because state bridges pairs across micro-batch boundaries.
    """
    events = _event_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    return _drain_to_memory(spark, _transitions(events), "append", "stream_transitions")


def run_streaming_scd2(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    schema: StructType,
    key: str = "custkey",
    version_key: str = "version_key",
    attr: str = "attr_value",
    ts: str = "valid_from",
) -> DataFrame:
    """Incremental SCD Type-2 maintenance from a change stream: every
    micro-batch rebuilds the validity intervals of ONLY the keys it
    touches (prior versions re-derived from the stored history, unioned
    with the batch's events, re-windowed) and passes every other key's
    rows through untouched via a broadcast anti-join.

    Correct by construction: after any prefix of batches, each key's
    rows equal the batch SCD2 build over all events seen so far — so
    late events (a version older than stored ones) slot into the
    re-sorted interval chain instead of corrupting it, and replays are
    idempotent (same rebuild input → same rows). With Delta/Iceberg
    present the overwrite becomes a keyed MERGE; the foreachBatch body
    is the seam, as in :func:`run_streaming_merge_latest`.

    Scale: per batch, cost is (batch keys' history + batch) re-windowed
    — proportional to CHANGED data, not table size; the untouched side
    is one anti-join against the broadcast key set. The per-key window
    is bounded by versions per key.
    """
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(source_dir)
    )

    def scd2_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(key, version_key, attr, ts).localCheckpoint(
            eager=True
        )
        events = batch
        untouched = None
        if os.path.isdir(target_dir):
            keys = batch.select(key).distinct()
            hist = batch_df.sparkSession.read.parquet(target_dir)
            prior = hist.join(F.broadcast(keys), key).select(
                key, version_key, attr, ts
            )
            untouched = hist.join(F.broadcast(keys), key, "left_anti")
            events = prior.unionByName(batch)
        # replay/at-least-once safety: a re-delivered event is the same
        # (key, version) — collapse it so the rebuilt chain holds each
        # version exactly once (this is what makes replays idempotent)
        events = events.dropDuplicates([key, version_key])
        w = PsWindow.partitionBy(key).orderBy(ts, version_key)
        rebuilt = events.withColumn("valid_to", F.lead(ts).over(w)).withColumn(
            "is_current",
            F.when(F.col("valid_to").isNull(), 1).otherwise(0).cast("int"),
        )
        out = rebuilt if untouched is None else untouched.unionByName(rebuilt)
        out.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            target_dir
        )

    _drain(spark, stream.writeStream.foreachBatch(scd2_batch))
    return spark.read.parquet(target_dir)


def run_streaming_bloom_gate(
    spark: SparkSession,
    sf_dir: str,
    target_dir: str,
) -> DataFrame:
    """Streaming twin of the batch ``bloom_dedup`` ingest gate: the
    corpus's set-bit position table and exact-hash set build ONCE (the
    static side, eagerly checkpointed — at 100 TB this is the broadcast
    bitmap), then incoming docs arrive as a file stream and every
    micro-batch is gated by a stream-static probe inside ``foreachBatch``.

    The filter is the per-ingest-cycle snapshot (it does not self-grow
    mid-stream), so the emission is batch-boundary-independent and equals
    the batch gate over the same docs — which is what lets the DRIVER
    value-check the whole streaming path against the same SQL oracle as
    ``bloom_dedup``. Within-stream growth would make admission depend on
    arrival order; production rebuilds the filter between cycles exactly
    to keep gating deterministic and replayable.
    """
    from lakehouse_workshop_spark.catalog import load_table
    from lakehouse_workshop_spark.operators.llm_mixture import (
        BLOOM_K,
        BLOOM_M,
    )
    from lakehouse_workshop_spark.operators.llm_pipeline import NEW_BATCH_PRED

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(~F.expr(NEW_BATCH_PRED)).select("text")
    # Kirsch–Mitzenmacher double hashing over ONE md5 digest per doc,
    # identical to the batch gate's _bloom_sql: h1/h2 from hex chars
    # 1-15 / 16-30 of the digest, position_i = (h1 + i·h2') mod m with
    # h2' forced odd.
    h1 = "CAST(conv(substring(dg, 1, 15), 16, 10) AS BIGINT)"
    h2 = "CAST(conv(substring(dg, 16, 15), 16, 10) AS BIGINT)"
    pos_expr = f"(h1 + i * (h2 - h2 % 2 + 1)) % {BLOOM_M}"
    lateral = f"LATERAL VIEW explode(sequence(0, {BLOOM_K - 1})) t AS i"
    corpus.createOrReplaceTempView("bloom_gate_corpus")
    cpos = spark.sql(
        f"""SELECT DISTINCT {pos_expr} AS pos
        FROM (SELECT {h1} AS h1, {h2} AS h2
              FROM (SELECT md5(text) AS dg FROM bloom_gate_corpus)) ch
        {lateral}"""
    ).localCheckpoint(eager=True)
    chash = (
        corpus.select(F.md5("text").alias("h")).distinct().localCheckpoint(eager=True)
    )

    stream = _staged_stream(
        docs.filter(F.expr(NEW_BATCH_PRED)).select("doc_id", "text"), target_dir
    )
    out_dir = os.path.join(target_dir, "gated")

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.createOrReplaceTempView("bloom_gate_batch")
        bpos = batch_df.sparkSession.sql(
            f"""SELECT doc_id, {pos_expr} AS pos
            FROM (SELECT doc_id, {h1} AS h1, {h2} AS h2
                  FROM (SELECT doc_id, md5(text) AS dg
                        FROM bloom_gate_batch)) bh
            {lateral}"""
        )
        hits = (
            bpos.join(cpos, "pos", "left_semi")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_set"))
        )
        gated = (
            batch_df.join(hits, "doc_id", "left")
            .join(
                chash.withColumnRenamed("h", "ch"),
                F.md5(F.col("text")) == F.col("ch"),
                "left",
            )
            .select(
                "doc_id",
                (F.coalesce(F.col("n_set"), F.lit(0)) == BLOOM_K).alias(
                    "bloom_maybe_dup"
                ),
                F.col("ch").isNotNull().alias("exact_dup"),
            )
        )
        gated.write.mode("append").parquet(out_dir)

    _drain(spark, stream.writeStream.foreachBatch(gate_batch))
    return spark.read.parquet(out_dir)


def run_streaming_cms(
    spark: SparkSession,
    sf_dir: str,
    target_dir: str,
) -> DataFrame:
    """Streaming twin of the batch ``cms_heavy_hitters``: events arrive as
    a file stream (one micro-batch per file) and every batch contributes
    its own partial d×w sketch to an append-only counter-parts table.

    CMS is MERGEABLE — counters over disjoint row sets add cell-wise —
    so the summed parts equal the batch-built sketch BIT-EXACTLY, for any
    batch boundaries and any arrival order. That algebraic identity is
    what lets the driver value-check the whole streaming path against the
    same SQL oracle as the batch query: the final emission (exact top-k
    contract arm + estimates probed from the merged sketch) is
    row-identical to ``cms_heavy_hitters``, pinned by
    tests/test_streaming.py.

    Scale: per-batch state contribution is one FIXED {d×w}-row partial
    regardless of batch size or key cardinality; the parts table grows by
    one sketch per micro-batch and compacts by re-summing (here: the
    read-side groupBy). This is the standard production shape for
    frequency monitoring over a stream — no per-key state anywhere.
    """
    import math

    from lakehouse_workshop_spark.catalog import load_table
    from lakehouse_workshop_spark.operators.profiling import (
        CMS_DEPTH,
        CMS_WIDTH,
        HOT_KEYS_TOP,
    )

    events = load_table(spark, sf_dir, "events")
    stream = _staged_stream(events.select("event_id", "user_id"), target_dir)
    parts_dir = os.path.join(target_dir, "sketch_parts")

    def sketch_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.createOrReplaceTempView("cms_stream_batch")
        batch_df.sparkSession.sql(
            f"""
            SELECT d, pmod(hash(user_id, d), {CMS_WIDTH}) AS bucket,
                   COUNT(*) AS cnt
            FROM cms_stream_batch
            LATERAL VIEW explode(sequence(0, {CMS_DEPTH - 1})) t AS d
            GROUP BY d, bucket
            """
        ).write.mode("append").parquet(parts_dir)

    _drain(spark, stream.writeStream.foreachBatch(sketch_batch))

    spark.read.parquet(parts_dir).groupBy("d", "bucket").agg(
        F.sum("cnt").alias("cnt")
    ).createOrReplaceTempView("cms_stream_sketch")
    events.createOrReplaceTempView("cms_stream_events")
    bound = math.ceil(math.e / CMS_WIDTH * events.count()) + 1
    return spark.sql(
        f"""
        WITH k AS (
            SELECT user_id, COUNT(*) AS c FROM cms_stream_events
            GROUP BY user_id
        ),
        top AS (
            SELECT user_id, c FROM (
                SELECT user_id, c,
                       ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS rnk
                FROM k
            ) WHERE rnk <= {HOT_KEYS_TOP}
        ),
        est AS (
            SELECT t.user_id, t.c, MIN(s.cnt) AS est
            FROM top t
            CROSS JOIN (SELECT explode(sequence(0, {CMS_DEPTH - 1})) AS d) x
            JOIN cms_stream_sketch s
              ON s.d = x.d AND s.bucket = pmod(hash(t.user_id, x.d), {CMS_WIDTH})
            GROUP BY t.user_id, t.c
        )
        SELECT user_id, CAST(c AS BIGINT) AS n_events,
               est >= c AS est_ge_true,
               est - c <= {bound} AS within_bound
        FROM est
        """
    )


def run_streaming_pq_ingest(
    spark: SparkSession,
    sf_dir: str,
    target_dir: str,
) -> DataFrame:
    """Streaming twin of the batch ``ivf_pq_incremental``: the ingest
    partition (vec_id % 10 = 9) arrives as a file stream (one micro-batch
    per file) and every batch is assigned + PQ-encoded inside foreachBatch
    against the ONCE-BUILT corpus index (broadcast centroids + codebooks —
    the frozen-index shape a production vector store ingests against),
    appending (vec_id, cid, codes) rows to a parts table.

    Per-vector assignment is deterministic and batch-independent, and
    inverted-list counts over disjoint row sets ADD — so the merged parts
    equal the batch ingest BIT-EXACTLY for any batch boundaries or
    arrival order, and the driver value-checks this streamed path against
    the same exact SQL oracle as ``ivf_pq_incremental``
    (tests/test_streaming.py pins streamed == batch row-for-row).

    Scale: per micro-batch cost is one Arrow assign-encode pass over that
    batch only (the index never retrains, the corpus never rereads);
    state is the append-only code parts table — exactly what a nightly
    100 TB embedding ingest job does, minus the object-store plumbing.
    """
    from lakehouse_workshop_spark.operators.llm_ann_pq import (
        _pq_incr_counts,
        _pq_incr_index,
    )

    corpus, batch, encode = _pq_incr_index(spark, sf_dir)
    stream = _staged_stream(batch, target_dir)
    parts_dir = os.path.join(target_dir, "code_parts")

    def encode_batch(batch_df: DataFrame, batch_id: int) -> None:
        encode(batch_df).write.mode("append").parquet(parts_dir)

    _drain(spark, stream.writeStream.foreachBatch(encode_batch))
    return _pq_incr_counts(spark, encode(corpus), spark.read.parquet(parts_dir))


def run_streaming_lsh_ingest(
    spark: SparkSession,
    sf_dir: str,
    target_dir: str,
) -> DataFrame:
    """Streaming twin of the batch ``minhash_lsh_incremental``: the
    standing corpus's MinHash signature/band table builds ONCE (the
    static side, eagerly checkpointed — at 100 TB this is the standing
    ~100 B/doc signature table written at prior ingests), then incoming
    docs arrive as a file stream and every micro-batch is signed, banded,
    and band-joined against it inside ``foreachBatch``.

    Each batch doc's candidate pairs depend ONLY on that doc's text and
    the static corpus — the incremental contract deliberately never
    compares batch docs to each other — so the merged emission is
    row-identical to the batch query for ANY batch boundaries and any
    arrival order. That independence is what lets the driver value-check
    the whole streaming path against the same SQL oracle as
    ``minhash_lsh_incremental`` (tests/test_streaming.py pins streamed
    == batch row-for-row).

    Scale: per micro-batch cost is one shingle→signature pass over the
    batch plus a broadcast band join (the batch band table is
    ingest-sized); state is zero between batches — the signature table
    is the per-cycle snapshot, exactly like the bloom gate's filter.
    """
    from lakehouse_workshop_spark.catalog import load_table
    from lakehouse_workshop_spark.operators.llm_dedup import (
        _lsh_band_join,
        _lsh_bands,
        _minhash_sigs_df,
        INCR_BATCH_PRED,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus_bands = _lsh_bands(
        _minhash_sigs_df(docs.filter(~F.expr(INCR_BATCH_PRED)))
    ).localCheckpoint(eager=True)
    stream = _staged_stream(
        docs.filter(F.expr(INCR_BATCH_PRED)).select("doc_id", "text"), target_dir
    )
    out_dir = os.path.join(target_dir, "pairs")

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        pairs = _lsh_band_join(corpus_bands, _lsh_bands(_minhash_sigs_df(batch_df)))
        pairs.write.mode("append").parquet(out_dir)

    _drain(spark, stream.writeStream.foreachBatch(gate_batch))
    return spark.read.parquet(out_dir)


def run_streaming_semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    target_dir: str,
) -> DataFrame:
    """Streaming twin of ``semantic_dedup_incremental``: the standing
    corpus's kept set builds ONCE (corpus-only centroid assignment + the
    within-cluster SemDeDup verdict, eagerly checkpointed — at 100 TB
    this is the standing deduped vector table written at prior ingests),
    then ingest vectors arrive as a file stream and every micro-batch is
    centroid-assigned and Gram-gated against the kept members of its
    cluster inside ``foreachBatch``.

    Each vector's gate verdict (``dup_vs_corpus``) depends ONLY on its
    own embedding and the static kept corpus — the within-batch
    component is deliberately absent (it is the nightly batch
    compactor's job, exactly as ``streaming_lsh_ingest`` never compares
    batch docs to each other) — so the merged emission is row-identical
    to the batch query's (vec_id, cid, dup_vs_corpus) projection for ANY
    batch boundaries and arrival order, and the driver value-checks the
    streamed path against the corpus-only SQL oracle
    (tests/test_streaming.py pins streamed == batch row-for-row).

    Scale: per micro-batch cost is one broadcast-centroid matmul over
    the batch plus per-cluster Gram blocks against the ~n/nlist standing
    kept members; zero state between batches. (The per-batch
    ``_sem_incr_gate`` re-runs the kept-side mask, a no-op by the kept
    set's mutual-farness invariant — a deployment indexes the kept
    matrix once per cycle instead.)

    At-least-once caveat (same as ``run_streaming_lsh_ingest``): the
    append-mode parquet write inside ``foreachBatch`` is NOT
    idempotent — a retried micro-batch would duplicate verdict rows.
    Harmless under availableNow in-test (no retries); a deployment
    partitions the output by ``batch_id`` and dynamically overwrites
    that partition (or MERGEs on vec_id) to get effectively-once.
    """
    from lakehouse_workshop_spark.kernels import unit
    from lakehouse_workshop_spark.operators.llm_similarity import (
        _centroid_assign_fn,
        _emb_view,
        _sem_incr_centroids,
        _sem_incr_gate,
        _sem_dropped_mask,
        _SEM_ASSIGN_SCHEMA,
        _SEM_GATE_SCHEMA,
        _SPARK_PREP,
        SEM_INCR_SPLIT,
    )

    _emb_view(spark, sf_dir)
    bc = _sem_incr_centroids(spark)

    def _kept_only(pdf):
        pdf = pdf.sort_values(["ccos", "vec_id"], ascending=[False, True])
        m = unit(pdf["emb"].to_numpy(), pdf["nrm"].to_numpy())
        return pdf[~_sem_dropped_mask(m)]

    corpus_kept = (
        spark.sql(_SPARK_PREP)
        .where(f"NOT ({SEM_INCR_SPLIT})")
        .mapInPandas(_centroid_assign_fn(bc, "sem_stream_c"), _SEM_ASSIGN_SCHEMA)
        .groupBy("cid")
        .applyInPandas(_kept_only, _SEM_ASSIGN_SCHEMA)
        .withColumn("is_batch", F.lit(False))
        .localCheckpoint(eager=True)
    )

    stream = _staged_stream(spark.sql(_SPARK_PREP).where(SEM_INCR_SPLIT), target_dir)
    out_dir = os.path.join(target_dir, "verdicts")

    def gate_batch(batch_df: DataFrame, batch_id: int) -> None:
        assigned_b = batch_df.mapInPandas(
            _centroid_assign_fn(bc, "sem_stream_b"), _SEM_ASSIGN_SCHEMA
        ).withColumn("is_batch", F.lit(True))
        verdicts = (
            corpus_kept.unionByName(assigned_b)
            .groupBy("cid")
            .applyInPandas(lambda pdf: _sem_incr_gate(pdf, False), _SEM_GATE_SCHEMA)
            # brn is micro-batch-local and dup_vs_batch is vacuously
            # False under the corpus-only gate: neither is
            # batch-boundary-invariant, so neither is emitted.
            .select("vec_id", "cid", "dup_vs_corpus", "kept")
        )
        verdicts.write.mode("append").parquet(out_dir)

    _drain(spark, stream.writeStream.foreachBatch(gate_batch))
    # Lazy reader, like run_streaming_lsh_ingest: the registered wrapper
    # orders + checkpoints ONCE and owns workdir cleanup — a checkpoint
    # here would materialize the whole verdict set a second time.
    return spark.read.parquet(out_dir)
