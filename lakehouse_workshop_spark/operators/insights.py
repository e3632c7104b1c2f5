"""Dashboard/segmentation rollups (SURVEY.md §2.2 P8, §2.3 A7).

Re-expressions of ``SQL_CLV_Insights.py``'s CASE-band + rollup queries. The
reference bands PRED_VISITS/PRED_CLV (model outputs — covered rows-only in
clv_queries); here the same band-then-rollup shape runs on SQL-derivable
columns so the oracle can check it exactly, including the reference's
band-edge semantics (integer edges with an ``others`` escape hatch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_workshop_spark.operators import query
from lakehouse_workshop_spark.operators.relational import rfm_summary, RFM_ORACLE

# The reference's visit-band CASE (``SQL_CLV_Insights.py:69-75``): integer
# edges 1-19 / 20-29 / 30-39 / 40+, ELSE 'others'. Faithful reproduction —
# including the property that non-integer values in (19,20) etc. fall to
# 'others' (SURVEY.md §5.4 documents the gap).
_VISIT_BAND_SQL = """
    CASE WHEN frequency >= 1 AND frequency <= 19 THEN '1-19'
         WHEN frequency >= 20 AND frequency <= 29 THEN '20-29'
         WHEN frequency >= 30 AND frequency <= 39 THEN '30-39'
         WHEN frequency >= 40 THEN '40+'
         ELSE 'others' END
"""


def _visit_band_col() -> F.Column:
    c = F.col("frequency")
    return (
        F.when((c >= 1) & (c <= 19), "1-19")
        .when((c >= 20) & (c <= 29), "20-29")
        .when((c >= 30) & (c <= 39), "30-39")
        .when(c >= 40, "40+")
        .otherwise("others")
    )


@query(
    "frequency_bands",
    oracle=f"""
    SELECT {_VISIT_BAND_SQL} AS visit_band,
           COUNT(*) AS n_customers
    FROM ({RFM_ORACLE})
    GROUP BY 1
    ORDER BY 1
    """,
)
def frequency_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band customers by repeat-purchase count, count per band
    (ref ``SQL_CLV_Insights.py:67-78`` on PRED_VISITS)."""
    rfm = rfm_summary(spark, sf_dir)
    return (
        rfm.groupBy(_visit_band_col().alias("visit_band"))
        .agg(F.count("*").alias("n_customers"))
        .orderBy("visit_band")
    )


@query(
    "customer_value_bands",
    oracle="""
    SELECT CASE WHEN total_spend < 1000000 THEN 'a_under_1m'
                WHEN total_spend >= 1000000 AND total_spend < 3000000 THEN 'b_1m_3m'
                WHEN total_spend >= 3000000 AND total_spend < 6000000 THEN 'c_3m_6m'
                ELSE 'd_over_6m' END AS value_band,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(total_spend AS DECIMAL(38,2))) AS DOUBLE) AS band_value
    FROM (
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total_spend
        FROM orders GROUP BY o_custkey
    )
    GROUP BY 1
    ORDER BY 1
    """,
)
def customer_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band customers by lifetime spend, COUNT + SUM per band — the
    PRED_CLV rollup shape (ref ``SQL_CLV_Insights.py:83-94``)."""
    from lakehouse_workshop_spark.catalog import load_table
    from lakehouse_workshop_spark.functions.exprs import dec_sum

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(dec_sum("o_totalprice").alias("total_spend"))
    c = F.col("total_spend")
    band = (
        F.when(c < 1_000_000, "a_under_1m")
        .when((c >= 1_000_000) & (c < 3_000_000), "b_1m_3m")
        .when((c >= 3_000_000) & (c < 6_000_000), "c_3m_6m")
        .otherwise("d_over_6m")
    )
    return (
        spend.groupBy(band.alias("value_band"))
        .agg(F.count("*").alias("n_customers"), dec_sum("total_spend").alias("band_value"))
        .orderBy("value_band")
    )


@query(
    "sales_cube",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY CUBE (1, 2)
    """,
)
def sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (year, status): every subtotal combination in one pass.

    Scale: Spark expands grouping sets inside a single partial-aggregated
    shuffle (one Expand node), not one job per subtotal — the dashboard
    query shape for 'all the rollups at once'.
    """
    from lakehouse_workshop_spark.catalog import load_table
    from lakehouse_workshop_spark.functions.exprs import dec_sum

    orders = load_table(spark, sf_dir, "orders")
    return orders.cube(
        F.year("o_orderdate").cast("int").alias("order_year"), "o_orderstatus"
    ).agg(F.count("*").alias("n_orders"), dec_sum("o_totalprice").alias("revenue"))


@query(
    "order_percentiles",
    scale_path="order_percentiles_approx",
    oracle="""
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.25), 6) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.50), 6) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 6) AS p75
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def order_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated quartiles of order value per status.

    Exact ``percentile`` is the correctness baseline; the 100 TB twin is
    ``approx_percentile`` (t-digest sketch, mergeable map-side — same call
    shape) when a bounded-error estimate is acceptable.
    """
    from lakehouse_workshop_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("p25"),
            F.round(F.expr("percentile(o_totalprice, 0.50)"), 6).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.75)"), 6).alias("p75"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "customer_spend_quartiles",
    oracle="""
    WITH spend AS (
        SELECT c.c_nationkey,
               o.o_custkey,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total_spend
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    )
    SELECT c_nationkey, o_custkey AS customer_id, total_spend,
           CAST(NTILE(4) OVER (PARTITION BY c_nationkey
                               ORDER BY total_spend DESC, o_custkey) AS INT) AS quartile
    FROM spend
    """,
)
def customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) spend quartiles within each nation.

    The window PARTITIONs by nation, so every partition ranks in parallel —
    the scale-safe form of quantile bucketing (contrast the global-rank
    two-pass in ``functions.exprs.global_row_number`` for the
    un-partitioned case).
    """
    from pyspark.sql.window import Window

    from lakehouse_workshop_spark.catalog import load_table
    from lakehouse_workshop_spark.functions.exprs import dec_sum

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    spend = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(dec_sum("o_totalprice").alias("total_spend"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("total_spend"), "o_custkey")
    return spend.select(
        "c_nationkey",
        F.col("o_custkey").alias("customer_id"),
        "total_spend",
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "order_percentiles_approx",
    oracle="""
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.25), 6) AS p25_exact,
           ROUND(quantile_cont(o_totalprice, 0.50), 6) AS p50_exact,
           ROUND(quantile_cont(o_totalprice, 0.75), 6) AS p75_exact,
           TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def order_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of ``order_percentiles``: ``approx_percentile``
    (KLL-style mergeable sketch) — map-side partial sketches merge in one
    partial-aggregated shuffle instead of sorting every value per group.

    The sketch's raw answers are engine-specific, so the value-checked
    emission is a *bounded-error contract*: exact and approx quartiles are
    computed in the same aggregation, the exact values are emitted (hash
    against DuckDB's ``quantile_cont``), and each approx value is emitted
    as the boolean ``|approx - exact| / exact <= 2%`` — the oracle expects
    literal TRUE, so an out-of-bound sketch hash-fails at the driver
    instead of hiding behind a rows-only check.
    """
    from lakehouse_workshop_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    aggs = []
    for q, name in ((0.25, "p25"), (0.50, "p50"), (0.75, "p75")):
        aggs.append(F.expr(f"percentile(o_totalprice, {q})").alias(f"{name}_x"))
        aggs.append(
            F.expr(f"approx_percentile(o_totalprice, {q}, 10000)").alias(f"{name}_a")
        )
    both = orders.groupBy("o_orderstatus").agg(*aggs)
    cols = [F.col("o_orderstatus")]
    cols += [F.round(f"{n}_x", 6).alias(f"{n}_exact") for n in ("p25", "p50", "p75")]
    cols += [
        (F.abs(F.col(f"{n}_a") - F.col(f"{n}_x")) / F.col(f"{n}_x") <= F.lit(0.02)).alias(
            f"{n}_ok"
        )
        for n in ("p25", "p50", "p75")
    ]
    return both.select(*cols).orderBy("o_orderstatus")
