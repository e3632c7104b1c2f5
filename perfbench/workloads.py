"""The workloads: their inputs, query mixes and output checks.

A workload is a list of *units*; a unit is a list of steps that must run in
order (the workshop chain ingest -> score -> dashboard -> snapshot is one
unit). The seed shuffles units within each pass. Every step is a call into
the engine's public API, and every step has an expected result computed
outside Spark: the registered DuckDB oracle, or, for the CLV steps, the
engine's per-group fit run with pandas on the generated CSV.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd

from perfbench import datagen

DB = "customer_info"


@dataclass(frozen=True)
class Step:
    name: str
    module: str  # layer the call belongs to, e.g. "operators.relational"
    build: Callable  # (ctx) -> DataFrame to force, or None when the call is eager
    result: Callable | None = None  # (ctx, df) -> pandas rows; default df.toPandas()
    expected: Callable | None = None  # (ctx) -> pandas rows the result must equal
    check: Callable | None = None  # (ctx, rows) -> reason or None, instead of expected
    rel_tol: float = 0.0

    def verify(self, ctx, df) -> str | None:
        """Run this step's output check; ``None`` when it passes."""
        from perfbench.compare import compare_frames

        got = self.result(ctx, df) if self.result else df.toPandas()
        if self.check is not None:
            return self.check(ctx, got)
        return compare_frames(got, self.expected(ctx), self.rel_tol)


@dataclass(frozen=True)
class Workload:
    name: str
    units: Callable  # (ctx) -> list[list[Step]]
    # Generates the 10x corpus and the ingest CSV, and has the catalog
    # writes, CLV, models and BPE layers.
    corpus_ingest: bool = False


# --- registry queries -------------------------------------------------------
def registry_step(ctx, name: str) -> Step:
    fn = ctx.queries[name]
    module = "operators." + fn.__module__.rsplit(".", 1)[1]
    return Step(
        name=name,
        module=module,
        build=lambda c: c.queries[name](c.spark, c.data_dir),
        expected=lambda c: c.oracle_rows(c.oracles[name]),
    )


def registry_units(names: list[str]) -> Callable:
    return lambda ctx: [[registry_step(ctx, n)] for n in names]


# --- CLV expectations (pandas + the engine's per-group fit) -----------------
N_GROUPS = datagen.N_GROUPS
RFM_COLUMNS = ["GroupKey", "CustomerID", "FREQUENCY", "RECENCY", "AGE", "AVG_MONETARY_VALUE"]


def summary_rfm(csv_path: str) -> pd.DataFrame:
    """``workshop.score_customers``' input, built from the CSV in pandas:
    the literal ``null`` CustomerID becomes a null key in a null group."""
    raw = pd.read_csv(csv_path, dtype={"CustomerID": str}, keep_default_na=False)
    cid = pd.to_numeric(raw["CustomerID"], errors="coerce").astype("Int64")
    return pd.DataFrame(
        {
            "GroupKey": (cid % N_GROUPS + 1).astype("Int32"),
            "CustomerID": cid.astype("Int32"),
            "FREQUENCY": raw["FREQUENCY"].astype("int64"),
            "RECENCY": raw["recency1"].astype("float32"),
            "AGE": raw["T1"].astype("float32"),
            "AVG_MONETARY_VALUE": raw["profit"].astype("float32"),
        }
    )


def check_scores(ctx, got: pd.DataFrame) -> str | None:
    """Every scored row carries exactly the CSV's RFM inputs, and one
    seeded group's scores equal the engine's fit run in pandas on that
    group. (Refitting every group would cost more than the timed pass; the
    seed rotates which group is refit.)"""
    from lakehouse_workshop_spark.clv.pipeline import clv_score_group

    from perfbench.compare import compare_frames

    rfm = summary_rfm(ctx.csv_path)
    err = compare_frames(got[RFM_COLUMNS], rfm)
    if err:
        return f"inputs: {err}"
    keys = sorted(int(k) for k in rfm["GroupKey"].dropna().unique())
    key = keys[ctx.seed % len(keys)]
    want = ctx.memo("score_group", lambda: clv_score_group(rfm[rfm["GroupKey"] == key]))
    mine = got[got["GroupKey"] == key].astype({"GroupKey": "int64", "CustomerID": "int64"})
    return compare_frames(mine, want)


def expected_summary(ctx) -> pd.DataFrame:
    return pd.read_csv(ctx.csv_path, dtype={"CustomerID": str}, keep_default_na=False)


def expected_dashboard(ctx) -> pd.DataFrame:
    """The banded rollup over the scored table's PRED_CLV values."""
    s = ctx.spark.table(f"{DB}.ltv_results").toPandas()["PRED_CLV"].astype("float64")
    band = pd.Series("others", index=s.index)
    for lo, hi, label in [(0.0, 1_000.0, "low"), (1_000.0, 10_000.0, "mid"), (10_000.0, 1e18, "high")]:
        band[(s >= lo) & (s < hi)] = label
    g = s.groupby(band)
    return pd.DataFrame(
        {
            "clv_band": g.size().index,
            "n_customers": g.size().to_numpy(),
            "total_pred_clv": g.sum(min_count=1).to_numpy(),
        }
    )


# --- ingest_update steps ----------------------------------------------------
def _table_rows(table: str) -> Callable:
    return lambda c, _df: c.spark.table(table).toPandas()


def _ingest(ctx) -> None:
    from lakehouse_workshop_spark.clv import workshop

    with ctx.layer("catalog.ingest_s"):
        workshop.ingest_summary(ctx.spark, ctx.csv_path)


def _score(ctx) -> None:
    from lakehouse_workshop_spark.clv import workshop

    with ctx.layer("catalog.ctas_s"):
        workshop.score_customers(ctx.spark, n_groups=N_GROUPS)


def _dashboard(ctx):
    from lakehouse_workshop_spark.clv import workshop

    return workshop.clv_dashboard(ctx.spark)


def _snapshot(ctx):
    from lakehouse_workshop_spark import catalog

    with ctx.layer("catalog.snapshot_write_s"):
        catalog.snapshot_write(ctx.spark.table(f"{DB}.ltv_results"), ctx.snapshot_dir)
    with ctx.layer("catalog.snapshot_read_s"):
        return catalog.snapshot_read(ctx.spark, ctx.snapshot_dir)


def ingest_units(ctx) -> list[list[Step]]:
    """The workshop pipeline as one ordered unit: DE ingest, DS fit + CTAS,
    the SQL dashboard, and a snapshot write/read of the scored table."""
    return [[
        Step("ingest_summary", "clv", _ingest, result=_table_rows(f"{DB}.summary_2011"), expected=expected_summary),
        Step("score_customers", "clv", _score, result=_table_rows(f"{DB}.ltv_results"), check=check_scores),
        Step("clv_dashboard", "clv", _dashboard, expected=expected_dashboard, rel_tol=1e-9),
        Step("snapshot_roundtrip", "catalog", _snapshot, check=check_scores),
    ]]


# --- the mixes ----------------------------------------------------------------
OLAP_QUERIES = [
    "monthly_sales",
    "pricing_summary",
    "waiting_orders_blame",
    "rolling_revenue_7d",
    "sessionize_events",
    "latest_order_asof_event",
    "sales_cube",
    "hourly_seasonality",
]
CORPUS_QUERIES = [
    "ann_topk_lsh",
    "corpus_quality_funnel",
    "corpus_clean",
    "minhash_lsh_incremental",
    "ivf_pq_incremental",
    "merge_upsert_orders",
    "streaming_scd2_history",
]


def corpus_ingest_units(ctx) -> list[list[Step]]:
    return ingest_units(ctx) + registry_units(CORPUS_QUERIES)(ctx)


WORKLOADS = {
    w.name: w
    for w in [
        # Fixed per-job driver and scheduling cost dominates; no Python workers.
        Workload("olap_sf0.01", registry_units(OLAP_QUERIES)),
        # Writes, CLV fits and Python-worker kernels over a multi-file corpus.
        Workload("corpus_ingest_10x", corpus_ingest_units, corpus_ingest=True),
    ]
}


def make_inputs(workload: Workload, data_dir: str, csv_path: str, seed: int) -> int:
    """Write the workload's seeded inputs; returns the ingest CSV's bytes (0 if none)."""
    os.makedirs(data_dir, exist_ok=True)
    datagen.write_tpch(data_dir)
    if not workload.corpus_ingest:
        return 0
    datagen.write_corpus(data_dir, salt=seed)
    return datagen.write_ingest_csv(csv_path, seed)
