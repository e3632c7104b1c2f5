"""CLV operator queries (SURVEY.md §2.6–2.7, M1–M6 / U1–U2).

``clv_rfm_input`` is SQL-expressible and oracle-checked. The model-fitting
queries are iterative MLE — not SQL-*derivable* — but their output IS
value-checkable: the fit is deterministic (fixed penalizers, multi-start
Nelder-Mead, no RNG, within-group sort), so a golden parquet fixture
materialized once from the same code serves as the DuckDB oracle
(``read_parquet`` on the fixture). The fixture is regenerated by
``tools/make_clv_golden.py`` and pinned by
``tests/test_clv.py::test_clv_golden_fixture_reproduces``; drift fails
pytest before the driver ever sees it.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_workshop_spark.catalog import load_table
from lakehouse_workshop_spark.clv.pipeline import distributed_clv, rfm_from_orders
from lakehouse_workshop_spark.operators import query

# Golden fixture: the rounded clv_distributed output at sf0.001 AND sf0.01
# (union, each subset tagged with that sf's customer-table row count in
# ``sf_tag``), written by tools/make_clv_golden.py. The oracle SQL filters
# ``sf_tag = (SELECT COUNT(*) FROM customer)`` against the views the
# harness pre-registers, so one static SQL string adapts to whichever sf
# the comparison runs at (local parity pytest = sf0.001, driver = sf0.01).
# The absolute path is derived from the repo layout at import time (DuckDB
# reads it natively).
CLV_GOLDEN_PATH = (
    Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "clv_golden.parquet"
)

# Float scores are emitted as ROUND(CAST(f32 AS DOUBLE), 6): the cast is
# exact widening, and 6 dp absorbs any sub-1e-9 run-to-run residue while
# keeping the values bit-stable for the driver's exact float hash.
_CLV_FLOAT_COLS = (
    "RECENCY",
    "AGE",
    "AVG_MONETARY_VALUE",
    "PRED_VISITS",
    "PROB_ALIVE",
    "PROB_ALIVE_t",
    "PRED_CLV",
)


def clv_scored_rounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scored CLV output with float32 scores widened to double and
    rounded to 6 dp — the value-checkable form shared by ``clv_distributed``
    (hashes against the golden fixture) and ``clv_segment_rollup`` (bands
    and sums the identical values the fixture carries)."""
    scored = distributed_clv(spark, sf_dir)
    return scored.select(
        "GroupKey",
        "CustomerID",
        "FREQUENCY",
        *[F.round(F.col(c).cast("double"), 6).alias(c) for c in _CLV_FLOAT_COLS],
    )


@query(
    "clv_rfm_input",
    oracle="""
    SELECT CAST(o_custkey % 20 + 1 AS INT) AS group_key,
           CAST(o_custkey AS INT) AS customer_id,
           COUNT(*) - 1 AS frequency,
           CAST(MAX(weekofyear(o_orderdate)) - MIN(weekofyear(o_orderdate)) AS REAL)
               AS recency,
           CAST(51 - MIN(weekofyear(o_orderdate)) AS REAL) AS age,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
                / COUNT(o_totalprice) AS REAL) AS avg_monetary_value
    FROM orders
    GROUP BY 1, 2
    """,
)
def clv_rfm_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed pipeline's input aggregate (ref ``DS:428-435``).

    Lowercase aliases for the oracle gate; the pipeline itself keeps the
    reference's golden mixed-case schema (``DS:444-454``).
    """
    df = rfm_from_orders(spark, sf_dir)
    return df.select(
        df["GroupKey"].alias("group_key"),
        df["CustomerID"].alias("customer_id"),
        df["FREQUENCY"].alias("frequency"),
        df["RECENCY"].alias("recency"),
        df["AGE"].alias("age"),
        df["AVG_MONETARY_VALUE"].alias("avg_monetary_value"),
    )


@query(
    "clv_distributed",
    oracle=f"""
    SELECT GroupKey AS groupkey, CustomerID AS customerid,
           FREQUENCY AS frequency, RECENCY AS recency, AGE AS age,
           AVG_MONETARY_VALUE AS avg_monetary_value,
           PRED_VISITS AS pred_visits, PROB_ALIVE AS prob_alive,
           PROB_ALIVE_t AS prob_alive_t, PRED_CLV AS pred_clv
    FROM read_parquet('{CLV_GOLDEN_PATH}')
    WHERE sf_tag = (SELECT COUNT(*) FROM customer)
    """,
)
def clv_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full distributed CLV: per-group BG/NBD + Gamma-Gamma fit and score via
    ``applyInPandas`` (ref ``DS:462-494``).

    Value-checked against the golden parquet fixture (module docstring):
    the fit is deterministic, so recomputing here must reproduce the
    fixture bit-for-bit at 6 dp. Column names are lowercased to match
    the driver's case-insensitive column sort."""
    scored = clv_scored_rounded(spark, sf_dir)
    return scored.select([F.col(c).alias(c.lower()) for c in scored.columns])


@query(
    "clv_segment_rollup",
    oracle=f"""
    SELECT CASE WHEN PRED_CLV < 1000 THEN 'low'
                WHEN PRED_CLV < 10000 THEN 'mid'
                WHEN PRED_CLV < 100000 THEN 'high'
                ELSE 'whale' END AS clv_band,
           COUNT(*) AS n_customers,
           ROUND(CAST(SUM(CAST(PRED_CLV AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS total_pred_clv
    FROM read_parquet('{CLV_GOLDEN_PATH}')
    WHERE sf_tag = (SELECT COUNT(*) FROM customer)
    GROUP BY 1 ORDER BY 1
    """,
)
def clv_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmentation rollup over the scored output (ref ``DS:387-398``):
    band PRED_CLV, count + sum per band.

    Consumes the 6-dp-rounded scores (the same values the golden fixture
    stores), so the oracle can *re-derive* the rollup in SQL over the
    fixture — this one is a genuine cross-engine computation check, not a
    regression pin. Sums accumulate in DECIMAL(38,6) on both sides
    (partition-order independent) and the final double is rounded to 4 dp."""
    scored = clv_scored_rounded(spark, sf_dir)
    bucket = (
        F.when(F.col("PRED_CLV") < 1000, "low")
        .when(F.col("PRED_CLV") < 10000, "mid")
        .when(F.col("PRED_CLV") < 100000, "high")
        .otherwise("whale")
    )
    return (
        scored.groupBy(bucket.alias("clv_band"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(
                F.sum(F.col("PRED_CLV").cast("decimal(38,6)")).cast("double"), 4
            ).alias("total_pred_clv"),
        )
        .orderBy("clv_band")
    )


# --- temporal holdout validation -------------------------------------------
# The reference documents an offline 70/30 temporal train/validation split
# ("we did a 70-30 split ... weekly aggregation work better in terms of
# less error", DS_cust_lifetime_value.py:512-513) but ships no code for
# it. This operator materializes that split as a first-class query: RFM-T
# over the train window in reference semantics, joined with each
# customer's ACTUAL order count in the holdout window — the table a
# model-validation pass scores against. tests/test_clv.py fits BG/NBD on
# the train columns and asserts calibration against holdout_orders.
CLV_HOLDOUT_CUTOFF = "1999-09-01"  # ~70th percentile of o_orderdate


@query(
    "clv_temporal_holdout",
    oracle=f"""
    WITH train AS (
        SELECT CAST(o_custkey AS INT) AS customer_id,
               CAST(COUNT(*) - 1 AS BIGINT) AS frequency,
               CAST(MAX(weekofyear(o_orderdate))
                    - MIN(weekofyear(o_orderdate)) AS FLOAT) AS recency,
               CAST(51 - MIN(weekofyear(o_orderdate)) AS FLOAT) AS age,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
                    / COUNT(o_totalprice) AS FLOAT) AS avg_monetary_value
        FROM orders WHERE o_orderdate < '{CLV_HOLDOUT_CUTOFF}'
        GROUP BY 1
    ),
    holdout AS (
        SELECT CAST(o_custkey AS INT) AS customer_id,
               COUNT(*) AS n
        FROM orders WHERE o_orderdate >= '{CLV_HOLDOUT_CUTOFF}'
        GROUP BY 1
    )
    SELECT t.customer_id, t.frequency, t.recency, t.age, t.avg_monetary_value,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS holdout_orders
    FROM train t LEFT JOIN holdout h ON t.customer_id = h.customer_id
    """,
)
def clv_temporal_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """70/30 temporal split for CLV validation (ref ``DS:512-513``): RFM-T
    in reference semantics (``FREQUENCY = count-1``, ``AGE = 51 -
    min(week)``, ``DS:122-128``) computed ONLY on pre-cutoff orders, plus
    the customer's actual post-cutoff order count. Customers with no
    train orders are absent (nothing to fit on); customers with no
    holdout orders keep 0 (the model must predict their inactivity too —
    dropping them would bias validation upward).

    Scale: two date-pruned passes over orders could be one scan with
    conditional aggregation, but train and holdout disagree on grouping
    nullability — instead both aggregate map-side to customer grain
    before the left join; dates prune at the parquet scan.
    """
    from lakehouse_workshop_spark.functions.exprs import dec_avg

    orders = load_table(spark, sf_dir, "orders")
    week = F.weekofyear("o_orderdate")
    train = (
        orders.filter(F.col("o_orderdate") < CLV_HOLDOUT_CUTOFF)
        .groupBy(F.col("o_custkey").cast("int").alias("customer_id"))
        .agg(
            (F.count("*") - 1).alias("frequency"),
            (F.max(week) - F.min(week)).cast("float").alias("recency"),
            (F.lit(51) - F.min(week)).cast("float").alias("age"),
            dec_avg("o_totalprice").cast("float").alias("avg_monetary_value"),
        )
    )
    holdout = (
        orders.filter(F.col("o_orderdate") >= CLV_HOLDOUT_CUTOFF)
        .groupBy(F.col("o_custkey").cast("int").alias("h_cust"))
        .agg(F.count("*").alias("n"))
    )
    return (
        train.join(holdout, train.customer_id == holdout.h_cust, "left")
        .select(
            "customer_id",
            "frequency",
            "recency",
            "age",
            "avg_monetary_value",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("holdout_orders"),
        )
    )
