"""The traced run: per-layer metrics measured from outside the engine.

Layers are the engine's modules. Operator modules are timed per call
(``build`` = the registry call, ``exec`` = the noop-sink force) with a job
group around each, and the Spark event log attributes jobs, stages, tasks,
executor time, scan, shuffle, spill and Python-worker time to those groups.
``catalog``, ``clv``, ``models`` and ``llm.bpe`` get direct timings of
their public calls. A layer absent from a workload's mix reports 0.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import Counter

from perfbench import trace

# Operator modules across all workloads (a test pins this against the mixes).
OPERATOR_MODULES = (
    "relational",
    "olap_tpch",
    "olap_extras",
    "completions",
    "insights",
    "event_analytics",
    "llm_dedup",
    "llm_similarity",
    "llm_quality",
    "llm_pipeline",
    "llm_ann_pq",
    "cdc",
    "streaming_queries",
)
_OPERATOR_METRICS = (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"))


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric ``(name, unit)`` a traced run prints."""
    names = [("session.start_s", "s"), ("session.warm_s", "s"), ("process.peak_rss_mb", "MB")]
    for m in OPERATOR_MODULES:
        names += [(f"operators.{m}.{k}", u) for k, u in _OPERATOR_METRICS]
    names += [
        ("driver.self_s", "s"),
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("spark.executor_run_s", "s"),
        ("spark.executor_cpu_s", "s"),
        ("spark.cpu_ratio", "ratio"),
        ("spark.gc_s", "s"),
        ("spark.scan_mb", "MB"),
        ("spark.shuffle_write_mb", "MB"),
        ("spark.shuffle_read_mb", "MB"),
        ("spark.spill_mb", "MB"),
        ("spark.pyworker_s", "s"),
        ("spark.pyworker_mb", "MB"),
        ("catalog.rowcount_s", "s"),
        ("catalog.table_stats_s", "s"),
        ("catalog.ingest_s", "s"),
        ("catalog.ingest_rows_per_s", "1/s"),
        ("catalog.ctas_s", "s"),
        ("catalog.write_amp", "ratio"),
        ("catalog.snapshot_write_s", "s"),
        ("catalog.snapshot_read_s", "s"),
        ("clv.fit_score_s", "s"),
        ("models.bgnbd_fit_s", "s"),
        ("models.gg_fit_s", "s"),
        ("llm.bpe.encode_words_per_s", "1/s"),
        ("trace.untraced_pass_s", "s"),
        ("trace.traced_pass_s", "s"),
        ("trace.overhead_s", "s"),
    ]
    return names


def _median_time(fn, reps: int) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _table_paths(data_dir: str) -> list[tuple[str, str]]:
    return sorted((n[: -len(".parquet")], os.path.join(data_dir, n)) for n in os.listdir(data_dir) if n.endswith(".parquet"))


def catalog_metrics(ctx, wl, csv_bytes: int) -> dict[str, float]:
    from lakehouse_workshop_spark import catalog

    tabs = _table_paths(ctx.data_dir)
    out = {
        "catalog.rowcount_s": _median_time(lambda: [catalog.table_rowcount(ctx.data_dir, n) for n, _ in tabs], 5),
        "catalog.table_stats_s": _median_time(lambda: [catalog.table_stats(p) for _, p in tabs], 5),
    }
    if wl.corpus_ingest:
        from lakehouse_workshop_spark.clv import workshop

        ctx.spark.sparkContext.setJobGroup("layer:catalog", "catalog")
        workshop.ingest_summary(ctx.spark, ctx.csv_path)
        rows = ctx.spark.table("customer_info.summary_2011").count()
        table_dir = os.path.join(ctx.work, "warehouse", "customer_info.db", "summary_2011")
        out["catalog.write_amp"] = _du(table_dir) / csv_bytes
        catalog.drop_table(ctx.spark, "customer_info.summary_2011")
        ingest = statistics.median(ctx.layers["catalog.ingest_s"])
        out["catalog.ingest_rows_per_s"] = rows / ingest
        for k in ("catalog.ingest_s", "catalog.ctas_s", "catalog.snapshot_write_s", "catalog.snapshot_read_s"):
            out[k] = statistics.median(ctx.layers[k])
    return out


def clv_metrics(ctx, wl) -> dict[str, float]:
    if not wl.corpus_ingest:
        return {}
    from lakehouse_workshop_spark.clv import pipeline
    from lakehouse_workshop_spark.models import BetaGeoModel, GammaGammaModel

    from perfbench.datagen import rfm_arrays
    from perfbench.workloads import N_GROUPS

    pipeline._SCORED_CACHE.clear()
    ctx.spark.sparkContext.setJobGroup("layer:clv", "clv")
    t0 = time.perf_counter()
    pipeline.distributed_clv(ctx.spark, ctx.data_dir, n_groups=N_GROUPS)
    fit_score = time.perf_counter() - t0
    pipeline._SCORED_CACHE.clear()
    r = rfm_arrays(ctx.seed)
    rep = r["x"] > 1
    return {
        "clv.fit_score_s": fit_score,
        "models.bgnbd_fit_s": _median_time(
            lambda: BetaGeoModel.fit(r["x"], r["t_x"], r["T"], penalizer_coef=pipeline.BGNBD_PENALIZER), 3
        ),
        "models.gg_fit_s": _median_time(
            lambda: GammaGammaModel.fit(r["x"][rep], r["m"][rep], penalizer_coef=pipeline.GG_PENALIZER), 3
        ),
    }


def bpe_metrics(ctx, wl) -> dict[str, float]:
    """Words per second through ``llm.bpe.encode_word`` (no memo) over the
    corpus token stream, with a 200-merge table learned on its vocabulary."""
    if not wl.corpus_ingest:
        return {}
    import pyarrow.parquet as pq

    from lakehouse_workshop_spark.llm import bpe

    texts = pq.read_table(os.path.join(ctx.data_dir, "documents.parquet"), columns=["text"]).column("text")
    words = [w for t in texts.to_pylist() for w in t.split(" ") if w]
    ranks = {p: i for i, p in enumerate(bpe.learn_merges(sorted(Counter(words).items()), 200))}
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        for w in words:
            bpe.encode_word(w, ranks)
        rates.append(len(words) / (time.perf_counter() - t0))
    return {"llm.bpe.encode_words_per_s": statistics.median(rates)}


def traced_metrics(ctx, wl, units, args, untraced_pass, session_start, session_warm, csv_bytes):
    from perfbench import run as runner

    from perfbench.stats import tree_peak_rss_mb

    # A new session on the same, already warm JVM, with the event log on.
    ctx.spark.stop()
    runner.start_session(ctx, event_log=True)
    runner.warm(ctx)
    baseline = runner.tables(ctx.spark)
    ctx.layers.clear()
    passes, execs = runner.timed_passes(ctx, units, 0, random.Random(args.seed + 1), True, baseline)
    n = len(passes)

    out = {name: 0.0 for name, _ in per_layer_names()}
    out["process.peak_rss_mb"] = tree_peak_rss_mb(runner.jvm_pid(ctx.spark))
    out.update(catalog_metrics(ctx, wl, csv_bytes))
    out.update(clv_metrics(ctx, wl))
    out.update(bpe_metrics(ctx, wl))
    runner.stop_session(ctx)

    jobs = trace.read_event_logs(os.path.join(ctx.work, "events"))
    for step, b, x, _raised in execs:
        if step.module.startswith("operators."):
            out[step.module + ".build_s"] += b / n
            out[step.module + ".exec_s"] += x / n
    module_of = {s.name: s.module for u in units for s in u}
    total, pass_groups = trace.Totals(), set()
    for g, t in trace.totals_by_group(jobs).items():
        step = g.rpartition(":")[0]
        if step not in module_of:  # the layer microbenchmarks' groups
            continue
        pass_groups.add(g)
        total.add(t)
        if module_of[step].startswith("operators."):
            for k in ("jobs", "stages", "tasks"):
                out[f"{module_of[step]}.{k}"] += getattr(t, k) / n
    intervals = trace.job_intervals_s({k: j for k, j in jobs.items() if j.group in pass_groups})
    out["driver.self_s"] = statistics.mean(w - trace.union_s(intervals, e0, e1) for w, e0, e1, _cpu in passes)
    for k in ("jobs", "stages", "tasks", "gc_s", "scan_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "pyworker_s", "pyworker_mb"):
        out[f"spark.{k}"] = getattr(total, k) / n
    out["spark.executor_run_s"] = total.run_s / n
    out["spark.executor_cpu_s"] = total.cpu_s / n
    out["spark.cpu_ratio"] = total.cpu_s / total.run_s if total.run_s else 0.0
    out["session.start_s"] = session_start
    out["session.warm_s"] = session_warm
    traced_pass = statistics.median(p[0] for p in passes)
    out["trace.untraced_pass_s"] = untraced_pass
    out["trace.traced_pass_s"] = traced_pass
    out["trace.overhead_s"] = traced_pass - untraced_pass
    units_of = dict(per_layer_names())
    return {k: (v, units_of[k]) for k, v in out.items()}
