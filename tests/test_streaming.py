"""Structured Streaming tests: windowed aggregation and stateful sessionizer."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_workshop_spark.streaming.jobs import (
    run_streaming_windowed_counts,
    sessionize_stateful,
)


def test_streaming_counts_equal_batch(spark, sf_dir):
    from lakehouse_workshop_spark.catalog import load_table

    streamed = run_streaming_windowed_counts(spark, sf_dir)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "5 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0


def test_stateful_sessionizer_closed_sessions_match_batch(spark, sf_dir):
    """Closed sessions from the stateful operator must be a subset of the
    batch sessionization (open tails stay in state under availableNow)."""
    from lakehouse_workshop_spark.operators.completions import sessionize_events

    streamed = sessionize_stateful(spark, sf_dir)
    batch = sessionize_events(spark, sf_dir).select(
        "user_id", "n_events", "session_start", "session_end"
    )
    s = streamed.select("user_id", "n_events", "session_start", "session_end")
    # every closed session emitted by the stateful op exists in batch output
    assert s.exceptAll(batch).count() == 0
    assert streamed.count() > 0


def test_watermarked_append_emits_exactly_closed_windows(spark, sf_dir):
    from lakehouse_workshop_spark.catalog import load_table
    from lakehouse_workshop_spark.streaming.jobs import (
        run_streaming_windowed_counts_watermarked,
    )

    streamed = run_streaming_windowed_counts_watermarked(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    maxts = ev.agg(F.max("ts")).collect()[0][0]
    closed = (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
        .filter(F.col("window_end") <= F.lit(maxts) - F.expr("INTERVAL 10 minutes"))
    )
    assert streamed.count() == closed.count() > 0
    assert streamed.exceptAll(closed).count() == 0


def test_parquet_sink_exactly_once(spark, sf_dir, tmp_path):
    """Re-running an availableNow stream over the same checkpoint must be a
    no-op: the committed offsets make delivery exactly-once."""
    from lakehouse_workshop_spark.streaming.jobs import _event_stream

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            _event_stream(spark, sf_dir)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    from lakehouse_workshop_spark.catalog import load_table

    expected = load_table(spark, sf_dir, "events").count()
    assert spark.read.parquet(out).count() == expected

    run_once()  # same checkpoint: source already committed, nothing new
    assert spark.read.parquet(out).count() == expected


def test_sessionize_stateful_file_sink_matches_memory_sink(spark, sf_dir, tmp_path):
    """The stateful sessionizer through a parquet sink (executor→files, no
    driver buffering) emits exactly the sessions the memory-sink harness
    run emits."""
    from lakehouse_workshop_spark.streaming.jobs import (
        sessionize_stateful,
        sessionize_stateful_to_files,
    )

    via_files = sessionize_stateful_to_files(spark, sf_dir, str(tmp_path / "sessions"))
    via_memory = sessionize_stateful(spark, sf_dir)
    assert via_files.count() == via_memory.count() > 0
    assert via_files.exceptAll(via_memory).count() == 0
    assert via_memory.exceptAll(via_files).count() == 0


def test_streaming_merge_latest_converges_and_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch CDC merge: the target holds exactly each user's latest
    event, and replaying the stream over the existing target (fresh
    checkpoint, same data) leaves it unchanged — the idempotence that
    makes at-least-once delivery safe."""
    from pyspark.sql import Window, functions as F

    from lakehouse_workshop_spark.catalog import load_table
    from lakehouse_workshop_spark.streaming.jobs import run_streaming_merge_latest

    target = str(tmp_path / "latest_events")
    got = run_streaming_merge_latest(spark, sf_dir, target)

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    expect = (
        events.select("event_id", "user_id", "ts", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0

    again = run_streaming_merge_latest(spark, sf_dir, target)
    assert again.count() == expect.count()
    assert again.exceptAll(expect).count() == 0


def test_sessionizer_state_carries_across_micro_batches(spark, sf_dir, tmp_path):
    """The applyInPandasWithState sessionizer's cross-batch path: split the
    events into 3 time-ordered files and stream with maxFilesPerTrigger=1,
    so sessions spanning a batch boundary must be stitched from carried
    state. The closed sessions must equal the single-batch streaming run
    (sessions are a function of the data, not the batching)."""
    from lakehouse_workshop_spark.catalog import decode_events_ts
    from lakehouse_workshop_spark.streaming.jobs import (
        _drain_to_memory,
        _events_raw_schema,
        _sessions,
    )

    # Split raw events (pre-decode physical schema) into 3 ts-ordered
    # files so each micro-batch is a contiguous time slice.
    raw_schema = _events_raw_schema(spark, sf_dir)
    raw = spark.read.schema(raw_schema).parquet(f"{sf_dir}/events.parquet")
    src = tmp_path / "split_events"
    src.mkdir()
    parts = raw.orderBy("ts").coalesce(1)
    n = raw.count()
    pdf = parts.toPandas().sort_values("ts")
    for i, chunk in enumerate((pdf.iloc[: n // 3], pdf.iloc[n // 3 : 2 * n // 3], pdf.iloc[2 * n // 3 :])):
        spark.createDataFrame(chunk, schema=raw_schema).coalesce(1).write.parquet(
            str(src / f"slice={i}")
        )

    stream = decode_events_ts(
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .load(str(src) + "/slice=*")
    )
    multibatch = _drain_to_memory(
        spark, _sessions(stream), "append", "stream_sessions_multibatch"
    )

    singlebatch = sessionize_stateful(spark, sf_dir)
    assert multibatch.count() == singlebatch.count() > 0
    assert multibatch.exceptAll(singlebatch).count() == 0
    assert singlebatch.exceptAll(multibatch).count() == 0


def test_streaming_transitions_bridge_microbatches(spark, sf_dir, tmp_path):
    """Transition pairs must bridge micro-batch boundaries through state:
    splitting the stream into 3 time-ordered files and feeding them one
    per trigger must yield the identical transition matrix as the batch
    window pass (boundary-crossing pairs exist only if state carries the
    last event across batches)."""
    from lakehouse_workshop_spark.catalog import decode_events_ts
    from lakehouse_workshop_spark.operators.completions import event_transitions
    from lakehouse_workshop_spark.streaming.jobs import (
        _drain_to_memory,
        _events_raw_schema,
        _transitions,
    )

    raw_schema = _events_raw_schema(spark, sf_dir)
    raw = spark.read.schema(raw_schema).parquet(f"{sf_dir}/events.parquet")
    src = tmp_path / "split_events_tr"
    src.mkdir()
    n = raw.count()
    pdf = raw.toPandas().sort_values("ts")
    for i, chunk in enumerate(
        (pdf.iloc[: n // 3], pdf.iloc[n // 3 : 2 * n // 3], pdf.iloc[2 * n // 3 :])
    ):
        spark.createDataFrame(chunk, schema=raw_schema).coalesce(1).write.parquet(
            str(src / f"slice={i}")
        )

    stream = decode_events_ts(
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .load(str(src) + "/slice=*")
    ).select("user_id", "ts", "event_id", "event_type")
    pairs = _drain_to_memory(
        spark, _transitions(stream), "append", "stream_transitions_multibatch"
    )
    got = {
        (r.from_type, r.to_type): r.n
        for r in pairs.groupBy("from_type", "to_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    want = {
        (r.from_type, r.to_type): r.n
        for r in event_transitions(spark, sf_dir).collect()
    }
    assert got == want
    # the batches genuinely split the stream: total pairs = events - users
    assert sum(got.values()) == n - raw.select("user_id").distinct().count()


def test_streaming_scd2_equals_batch_build(spark, tmp_path):
    """Incremental streaming SCD2 over three change batches (one key's
    versions deliberately split across batches, plus a LATE event in the
    final batch) must equal the one-shot batch build over all events."""
    from lakehouse_workshop_spark.catalog import load_table
    from lakehouse_workshop_spark.operators.cdc import scd2_customer_history
    from lakehouse_workshop_spark.streaming.jobs import run_streaming_scd2

    sf_dir = "/root/testdata/sf0.001"
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
    src = str(tmp_path / "stream_src")
    # batch 1: early orders; batch 2: mid orders; batch 3: the tail PLUS
    # the earliest slice replayed late (idempotence + late-arrival path)
    b1 = events.filter("valid_from <  '1996-06-01'")
    b2 = events.filter(
        "valid_from >= '1996-06-01' AND valid_from < '1998-01-01'"
    )
    b3 = events.filter("valid_from >= '1998-01-01'").union(
        events.filter("valid_from < '1995-06-01'")
    )
    for i, b in enumerate((b1, b2, b3)):
        b.coalesce(1).write.parquet(f"{src}/f{i}.parquet")
        import os, glob, shutil

        part = glob.glob(f"{src}/f{i}.parquet/part-*.parquet")[0]
        shutil.move(part, f"{src}/batch_{i}.parquet")
        shutil.rmtree(f"{src}/f{i}.parquet")

    target = str(tmp_path / "scd2_target")
    got = run_streaming_scd2(spark, src, target, events.schema)

    cols = ["custkey", "version_key", "attr_value", "valid_from", "valid_to", "is_current"]
    want = {tuple(r) for r in scd2_customer_history(spark, sf_dir).select(cols).collect()}
    have = {tuple(r) for r in got.select(cols).collect()}
    # replayed duplicates must collapse: history holds each version once
    assert got.count() == got.select("custkey", "version_key").distinct().count()
    assert have == want


def test_streaming_bloom_gate_multibatch_equals_batch(spark, sf_dir):
    """The streamed gate (5 micro-batches) must equal the batch gate
    row-for-row — gating is arrival-order-independent because the filter
    is the per-cycle snapshot."""
    from lakehouse_workshop_spark.operators import all_queries

    q = all_queries()
    streamed = {
        (r.doc_id, r.bloom_maybe_dup, r.exact_dup)
        for r in q["streaming_bloom_dedup"](spark, sf_dir).collect()
    }
    batch = {
        (r.doc_id, r.bloom_maybe_dup, r.exact_dup)
        for r in q["bloom_dedup"](spark, sf_dir).collect()
    }
    assert streamed == batch
    assert streamed, "gate emitted nothing"


def test_streaming_cms_equals_batch(spark, sf_dir):
    """The merged per-micro-batch partial sketches must equal the batch
    CMS bit-exactly (counters over disjoint row sets add), so the
    streamed heavy-hitter emission is row-identical to the batch one."""
    from lakehouse_workshop_spark.operators import all_queries

    q = all_queries()
    streamed = {tuple(r) for r in q["streaming_cms_heavy_hitters"](spark, sf_dir).collect()}
    batch = {tuple(r) for r in q["cms_heavy_hitters"](spark, sf_dir).collect()}
    assert streamed == batch
    assert streamed, "streamed CMS emitted nothing"
    assert all(r[2] and r[3] for r in streamed), "contract booleans must hold"


def test_streaming_pq_ingest_equals_batch(spark, sf_dir):
    """Per-vector assignment against the frozen corpus index is
    batch-independent and inverted-list counts add, so the streamed
    ingest's emission must equal the batch ``ivf_pq_incremental``
    row-for-row, for any micro-batch boundaries."""
    from lakehouse_workshop_spark.operators import all_queries

    q = all_queries()
    streamed = {tuple(r) for r in q["streaming_pq_ingest"](spark, sf_dir).collect()}
    batch = {tuple(r) for r in q["ivf_pq_incremental"](spark, sf_dir).collect()}
    assert streamed == batch
    assert streamed, "streamed PQ ingest emitted nothing"
    assert sum(r[2] for r in streamed) > 0, "no batch vectors were ingested"


def test_streaming_lsh_ingest_equals_batch(spark, sf_dir):
    """The incremental near-dup contract never compares batch docs to
    each other, so each doc's candidate pairs depend only on its own
    text and the static corpus signature table — the streamed emission
    must equal the batch ``minhash_lsh_incremental`` row-for-row, for
    any micro-batch boundaries (r12; completes the streaming-twin
    family: bloom, CMS, PQ, near-dup)."""
    from lakehouse_workshop_spark.operators import all_queries

    q = all_queries()
    streamed = {tuple(r) for r in q["streaming_lsh_ingest"](spark, sf_dir).collect()}
    batch = {
        tuple(r) for r in q["minhash_lsh_incremental"](spark, sf_dir).collect()
    }
    assert streamed == batch
    assert streamed, "streamed LSH ingest emitted no candidate pairs"


def test_streaming_semantic_dedup_equals_batch(spark, sf_dir):
    """The streaming semantic gate's verdict depends only on each
    vector's own embedding and the static kept corpus (within-batch
    dedup is deliberately the batch compactor's job), so the streamed
    emission must equal the batch ``semantic_dedup_incremental``'s
    corpus-gate projection row-for-row, for any micro-batch boundaries
    (r13; completes the streaming-twin family for every dedup member:
    bloom, CMS, PQ, LSH, semantic)."""
    from lakehouse_workshop_spark.operators import all_queries

    q = all_queries()
    streamed = {
        (r["vec_id"], r["cid"], r["dup_vs_corpus"], r["kept"])
        for r in q["streaming_semantic_dedup"](spark, sf_dir).collect()
    }
    batch = {
        (r["vec_id"], r["cid"], r["dup_vs_corpus"], not r["dup_vs_corpus"])
        for r in q["semantic_dedup_incremental"](spark, sf_dir).collect()
    }
    assert streamed == batch
    assert streamed, "streamed semantic gate emitted no verdicts"
    assert any(r[2] for r in streamed) or len(streamed) < 20, (
        "no dup_vs_corpus hit in a non-trivial batch — gate may be inert"
    )


def test_semantic_incremental_dropped_corpus_not_a_target(spark):
    """The KEY incremental semantic: a batch vector near a corpus member
    that was itself DROPPED (it doesn't exist in the standing table)
    must be KEPT, while one near a KEPT corpus member is dropped, and a
    batch duplicate of an earlier batch member is dropped with
    dup_vs_batch. Hand-built 4-cluster-free corpus (all vectors near one
    centroid so cluster routing is trivial)."""
    import numpy as np
    import pandas as pd

    from lakehouse_workshop_spark.operators.llm_similarity import (
        _sem_incr_gate,
    )

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return v / np.linalg.norm(v)

    base = unit([1.0] + [0.0] * 63)
    near_base = unit([1.0, 0.05] + [0.0] * 62)  # cos ~0.999 to base
    ortho = unit([0.0, 0.0, 1.0] + [0.0] * 61)
    near_ortho = unit([0.0, 0.0, 1.0, 0.05] + [0.0] * 60)
    far = unit([0.0] * 5 + [1.0] + [0.0] * 58)
    near_far = unit([0.0] * 5 + [1.0, 0.05] + [0.0] * 57)

    # corpus (is_batch=False): base is most central (ccos high), so
    # near_base gets DROPPED in the standing re-derivation; ortho kept.
    # batch (is_batch=True): b1 ~ near_base (dup of a DROPPED corpus row
    # only -> must be kept... unless it's near base too: cos(b1, base)
    # is also ~0.999, so use a vector near near_base but NOT near base?
    # cos(near_base, base) ~ 0.9988 >= 0.4 threshold — everything near
    # near_base is near base at this threshold. Use threshold geometry:
    # T = 0.4 is loose, so pick b1 orthogonal-ish to base but at 0.45 to
    # a dropped row? Simpler: make the dropped corpus row near_ortho
    # (dropped because ortho is more central), and b1 = a vector at
    # cos ~0.5 to near_ortho but < 0.4 to ortho: rotate in the (2,3)
    # plane.
    pdf_rows = []

    def add(vec_id, v, ccos, is_batch):
        pdf_rows.append(
            {
                "vec_id": vec_id,
                "emb": list(v),
                "nrm": 1.0,
                "cid": 0,
                "ccos": ccos,
                "is_batch": is_batch,
            }
        )

    # geometry in coords (2,3): ortho = (1,0), near_ortho = (cos20°,
    # sin20°) ~ cos .94 to ortho -> dropped vs ortho. b1 = (cos60°,
    # sin60°): cos to ortho = .5 >= .4 -> would be dropped vs ortho...
    # push to 75°: cos(75°)=.26 < .4 to ortho; cos(55°)=.57 >= .4 to
    # near_ortho (dropped row) -> b1 must be KEPT (dropped corpus row is
    # not a target).
    def plane23(theta_deg):
        v = np.zeros(64)
        v[2] = np.cos(np.radians(theta_deg))
        v[3] = np.sin(np.radians(theta_deg))
        return v

    add(0, ortho := plane23(0), 0.99, False)      # corpus, kept (most central)
    add(1, plane23(20), 0.98, False)              # corpus, dropped vs ortho
    add(2, far, 0.50, False)                      # corpus, kept (far from all)
    add(100, plane23(75), 0.97, True)             # batch: near dropped row only -> KEPT
    add(101, plane23(5), 0.96, True)              # batch: near kept ortho -> dup_vs_corpus
    add(102, plane23(76), 0.95, True)             # batch: near batch 100 -> dup_vs_batch
    out = _sem_incr_gate(pd.DataFrame(pdf_rows), True)
    got = {int(r.vec_id): (bool(r.dup_vs_corpus), bool(r.dup_vs_batch), bool(r.kept))
           for r in out.itertuples()}
    assert got[100] == (False, False, True), got[100]
    assert got[101] == (True, False, False), got[101]
    assert got[102][1] and not got[102][2], got[102]


def test_staged_streaming_query_leaves_no_workdir_when_its_job_raises(
    monkeypatch, tmp_path
):
    """A registered staged streaming query owns a throwaway workdir; when
    its job raises mid-run, the workdir must still be removed."""
    import tempfile

    import pytest

    from lakehouse_workshop_spark.operators import all_queries
    from lakehouse_workshop_spark.streaming import jobs

    seen = []

    def failing_job(spark, sf_dir, target_dir):
        seen.append(target_dir)
        open(f"{target_dir}/partial.parquet", "w").close()
        raise RuntimeError("stream failed")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(jobs, "run_streaming_cms", failing_job)
    with pytest.raises(RuntimeError, match="stream failed"):
        all_queries()["streaming_cms_heavy_hitters"](None, "unused")
    assert seen and seen[0].startswith(str(tmp_path))
    assert list(tmp_path.iterdir()) == []
