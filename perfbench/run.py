#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload olap_sf0.01 --seed 1 --seconds 5 --trace 0

One client, one query at a time, on ``local[<cores>]``. The run generates
its seeded inputs, starts the engine's session (``setup_s`` ends when the
warm query's result and a Python-worker/BLAS warm are ready), checks one
untimed execution of every step against its expected rows, then times
whole passes over the workload's mix until ``--seconds`` have elapsed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` additionally
restarts the session with the Spark event log on, times traced passes with
a job group around every call, runs the Spark-free layer microbenchmarks,
and prints the per-layer metrics.

Every file the run writes lives under ``perfbench/.work/run-<pid>`` and is
removed at exit; oracle-side results are cached in ``perfbench/.cache``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WARM_QUERY = "monthly_sales"


def process_age_s() -> float:
    """Seconds since this process started, from /proc. The kernel counts in
    10 ms clock ticks; ``main`` adds a perf_counter delta to one reading."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def isolate(work: str) -> None:
    """Point every scratch location at the run directory and put the repo
    root on the Python workers' path (they are forked from the JVM and
    inherit this environment)."""
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tempfile.tempdir = None


class Ctx:
    """What a step needs: the session, inputs, oracles and layer timers."""

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.data_dir = os.path.join(work, "data")
        self.csv_path = os.path.join(work, "summary_2011.csv")
        self.snapshot_dir = os.path.join(work, "snapshots", "ltv_results")
        self.spark = None
        self.cache = None  # the OracleCache, once the inputs exist
        self.layers: dict[str, list[float]] = {}
        self._memo: dict = {}
        self._duck = None

    def memo(self, key: str, compute):
        if key not in self._memo:
            self._memo[key] = compute()
        return self._memo[key]

    @contextlib.contextmanager
    def layer(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.layers.setdefault(name, []).append(time.perf_counter() - t0)

    def oracle_rows(self, sql: str):
        from lakehouse_workshop_spark.oracle import duck_connect

        def compute():
            if self._duck is None:
                self._duck = duck_connect(self.data_dir)
            return self._duck.sql(sql).df()

        return self.cache.get(sql, compute)

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


# --- session ----------------------------------------------------------------
def start_session(ctx: Ctx, event_log: bool):
    from lakehouse_workshop_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # JVM scratch (native-library extraction, artifact dirs) stays in
        # the run directory too; no perf-data file in the system temp dir.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')} -XX:-UsePerfData",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(ctx.work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    ctx.spark = get_spark(app_name="perfbench", extra_conf=conf)
    ctx.spark.sparkContext.setLogLevel("ERROR")


def _blas_warm(batches):
    import numpy as np

    a = np.full((64, 64), 0.5)
    for pdf in batches:
        np.matmul(a, a, out=np.empty_like(a))
        yield pdf


def warm(ctx: Ctx) -> None:
    """The warm query's result plus one numpy matmul in every Python worker."""
    ctx.queries[WARM_QUERY](ctx.spark, ctx.data_dir).collect()
    cores = ctx.spark.sparkContext.defaultParallelism
    ctx.spark.range(cores * 2, numPartitions=cores).mapInPandas(_blas_warm, "id long").collect()


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def stop_session(ctx: Ctx) -> None:
    """Stop the session, close the JVM gateway and wait for the JVM and
    its Python workers to exit."""
    from pyspark import SparkContext

    from perfbench.stats import process_tree

    spark, ctx.spark = ctx.spark, None
    if spark is None:
        return
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    tree = process_tree(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree[1:]):
        time.sleep(0.05)


# --- passes -----------------------------------------------------------------
def reset(ctx: Ctx, baseline_tables: set[str]) -> None:
    """Undo what a pass leaves behind so the next one pays full cost: the
    CLV scored memo, checkpointed/cached RDDs, created tables, snapshots."""
    from lakehouse_workshop_spark import catalog
    from lakehouse_workshop_spark.clv import pipeline

    if not hasattr(pipeline, "_SCORED_CACHE"):
        raise RuntimeError(
            "clv.pipeline._SCORED_CACHE is gone: the benchmark can no longer "
            "clear the CLV memo between passes; update reset()"
        )
    pipeline._SCORED_CACHE.clear()
    spark = ctx.spark
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    spark.catalog.clearCache()
    for name in sorted(tables(spark) - baseline_tables):
        catalog.drop_table(spark, name)
    shutil.rmtree(os.path.dirname(ctx.snapshot_dir), ignore_errors=True)
    # Start every pass from a collected heap in the JVM and the driver, so
    # a pass does not pay for the previous one's garbage.
    spark._jvm.java.lang.System.gc()
    gc.collect()


def tables(spark) -> set[str]:
    out = set()
    for db in spark.catalog.listDatabases():
        for t in spark.catalog.listTables(db.name):
            if not t.isTemporary:
                out.add(f"{db.name}.{t.name}")
    return out


def run_step(ctx: Ctx, step, trace: bool) -> tuple[float, float]:
    """Build (the engine call) and execute (a noop-sink force) one step."""
    sc = ctx.spark.sparkContext
    if trace:
        sc.setJobGroup(f"{step.name}:build", step.module)
    t0 = time.perf_counter()
    df = step.build(ctx)
    t1 = time.perf_counter()
    if df is not None:
        if trace:
            sc.setJobGroup(f"{step.name}:exec", step.module)
        df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    if trace:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return t1 - t0, t2 - t1


def check_all(ctx: Ctx, units) -> dict[str, str]:
    """One untimed execution of every step, compared with its expected
    rows. Returns the failing steps with a reason."""
    failures = {}
    for unit in units:
        for step in unit:
            try:
                err = step.verify(ctx, step.build(ctx))
            except Exception as e:  # a raising step is a failed step
                err = f"raised {e!r}"[:300]
            if err:
                failures[step.name] = err
    return failures


def timed_passes(ctx: Ctx, units, seconds: float, rng: random.Random, trace: bool, baseline: set[str]):
    """Whole passes in seeded unit order: at least one, and more until
    ``seconds`` have elapsed.

    Returns (passes, executions): passes as (wall_s, epoch_start, epoch_end,
    cpu_s), executions as (step, build_s, exec_s, raised).
    """
    from perfbench.stats import process_tree, tree_cpu_s

    jvm = jvm_pid(ctx.spark)
    passes, execs = [], []
    t_window = time.perf_counter()
    while not passes or time.perf_counter() - t_window < seconds:
        with ctx.layer("phase.reset"):
            reset(ctx, baseline)
        order = list(units)
        rng.shuffle(order)
        tree = [os.getpid()] + process_tree(jvm)
        c0 = tree_cpu_s(tree)
        e0, p0 = time.time(), time.perf_counter()
        for unit in order:
            for step in unit:
                try:
                    b, x = run_step(ctx, step, trace)
                    execs.append((step, b, x, False))
                except Exception as e:
                    print(f"step {step.name} raised {e!r}"[:300], file=sys.stderr)
                    execs.append((step, 0.0, 0.0, True))
        wall = time.perf_counter() - p0
        tree = sorted(set(tree) | set(process_tree(jvm)))
        passes.append((wall, e0, time.time(), tree_cpu_s(tree) - c0))
    reset(ctx, baseline)
    return passes, execs


# --- the run ----------------------------------------------------------------
def run(args, work: str) -> tuple[dict, dict]:
    from lakehouse_workshop_spark.operators import all_oracles, all_queries

    from perfbench import compare, stats
    from perfbench.workloads import WORKLOADS, make_inputs

    wl = WORKLOADS[args.workload]
    ctx = Ctx(work, args.seed)
    with ctx.layer("phase.inputs"):
        csv_bytes = make_inputs(wl, ctx.data_dir, ctx.csv_path, args.seed)
        ctx.cache = compare.OracleCache(
            os.path.join(BENCH, ".cache"), compare.input_identity(ctx.data_dir), args.seed
        )

    t0 = time.perf_counter()
    start_session(ctx, event_log=False)
    session_start = time.perf_counter() - t0
    ctx.queries, ctx.oracles = all_queries(), all_oracles()
    warm(ctx)
    # Process start to first result ready, less the benchmark's own input
    # generation and hashing, so datagen changes cannot move it.
    setup_s = args.age0 + time.perf_counter() - args.t0 - sum(ctx.layers["phase.inputs"])
    session_warm = time.perf_counter() - t0 - session_start

    units = wl.units(ctx)
    baseline = tables(ctx.spark)
    try:
        rng = random.Random(args.seed)
        with ctx.layer("phase.check"):
            failures = check_all(ctx, units)
        with ctx.layer("phase.timed"):
            # The traced run times one untraced pass as its overhead baseline.
            passes, execs = timed_passes(ctx, units, 0 if args.trace else args.seconds, rng, False, baseline)
        peak_rss_mb = stats.tree_peak_rss_mb(jvm_pid(ctx.spark))
        phases = {k: round(sum(v), 3) for k, v in ctx.layers.items() if k.startswith("phase.")}

        walls = [b + x for _, b, x, raised in execs if not raised]
        failed = sum(1 for s, _, _, raised in execs if raised or s.name in failures)
        pct, tail, beyond = stats.tail_percentile(walls or [0.0])
        report = {
            "workload": wl.name,
            "seed": args.seed,
            "passes": len(passes),
            "executions": len(execs),
            "failed_frac": failed / len(execs),
            "query_s.p50": statistics.median(walls) if walls else 0.0,
            "peak_rss_mb": peak_rss_mb,
            "pass_s": [round(p[0], 4) for p in passes],
            "pass_cpu_s": [round(p[3], 3) for p in passes],
            "query_s.tail": tail,
            "query_s.tail_percentile": pct,
            "query_s.tail_beyond": beyond,
            "check_failures": failures,
            "step_s": {
                s.name: [round(b + x, 4) for t, b, x, r in execs if t is s and not r] for u in units for s in u
            },
            "oracle_cache": {"hits": ctx.cache.hits, "misses": ctx.cache.misses},
            "phase_s": phases,
        }
        result = {"correct": not failures and failed == 0, "attempted": len(execs), "failed": failed}
        # The fastest timed pass: the first one can still carry JIT work and
        # any pass can catch a burst of host load.
        pass_s = min(p[0] for p in passes)
        if not args.trace:
            result["metrics"] = {"setup_s": (setup_s, "s"), "pass_s": (pass_s, "s")}
            return result, report

        from perfbench.layers import traced_metrics

        result["metrics"] = traced_metrics(ctx, wl, units, args, pass_s, session_start, session_warm, csv_bytes)
        return result, report
    finally:
        ctx.close()
        stop_session(ctx)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, default=0)
    parser.add_argument("--seconds", type=float, default=5.0)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    args.t0, args.age0 = time.perf_counter(), process_age_s()

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import lakehouse_workshop_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # A terminated run still stops its JVM and removes its directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}")
    isolate(work)
    try:
        result, report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    for name, (value, unit) in result["metrics"].items():
        print(f"{name} = {value:.6g} {unit}")
    print(json.dumps(report, sort_keys=True))
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # Run as a script: import this file as ``perfbench.run`` so the layer
    # module and the runner share one copy of it.
    sys.path.insert(0, ROOT)
    from perfbench.run import main as _main

    sys.exit(_main())
