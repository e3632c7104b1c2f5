"""Multi-join and time-window OLAP operators (engine extensions).

The reference's exercised surface is single-table heavy; these add the
canonical warehouse shapes its users run next — TPC-H-style multi-join
aggregates (Q3/Q5 adapted to the testdata schema) and event-time window
analytics (moving aggregates, inter-order gaps).

Scale posture: every dimension join is explicitly broadcast (region /
nation / supplier / customer stay far under the broadcast threshold at
any realistic sf — customer is the largest and still ~1/10 of orders);
the fact tables join by their natural keys with AQE handling skew; the
moving-window queries aggregate FIRST (to per-day / per-customer grain)
so the window runs over the reduced set, never the raw fact table.

Determinism: money sums accumulate in DECIMAL (partition-order
independent — `functions/exprs.py:dec_sum`), ranks break ties on the
group keys, and date filters are half-open ranges that push into the
parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_workshop_spark.catalog import load_table
from lakehouse_workshop_spark.functions.exprs import dec_sum
from lakehouse_workshop_spark.operators import query

Q3_SEGMENT = "BUILDING"
Q3_CUTOFF = "1996-03-15"
Q5_REGION = "ASIA"
Q5_YEAR_LO, Q5_YEAR_HI = "1996-01-01", "1997-01-01"


@query(
    "shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4)))
                AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = '{Q3_SEGMENT}'
      AND o_orderdate < '{Q3_CUTOFF}'
      AND l_shipdate  > '{Q3_CUTOFF}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 adapted to the testdata schema (``o_orderpriority`` stands
    in for ``o_shippriority``): top-10 undelivered high-revenue orders in
    one market segment.

    Plan shape: customer is filtered on the segment THEN broadcast into
    orders (small side), the orders⨝lineitem join shuffles on orderkey
    with both date filters pushed to the scans, and the top-10 runs as
    TakeOrderedAndProject (no global sort materialization).
    """
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == Q3_SEGMENT
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < Q3_CUTOFF
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > Q3_CUTOFF
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(
            orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey),
            lineitem.l_orderkey == orders.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dec_sum(revenue, scale=4).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4)))
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = '{Q5_REGION}'
      AND o_orderdate >= '{Q5_YEAR_LO}' AND o_orderdate < '{Q5_YEAR_HI}'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue by nation where customer and supplier share the
    nation, one region, one year — the canonical many-join aggregate.

    Plan shape: region⨝nation collapses to a broadcast filter on
    nationkey; supplier and customer broadcast into the fact joins (both
    dimension-sized); only the orders⨝lineitem join shuffles. The
    n_name grain is 25 rows — the final agg is map-side partial then one
    tiny exchange.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q5_REGION)
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supplier = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q5_YEAR_LO) & (F.col("o_orderdate") < Q5_YEAR_HI)
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .groupBy("n_name")
        .agg(dec_sum(revenue, scale=4).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "rolling_revenue_7d",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                   AS day_num,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
                   AS revenue
        FROM orders GROUP BY 1, 2
    )
    SELECT day, revenue,
           CAST(SUM(CAST(revenue AS DECIMAL(38,2))) OVER (
                ORDER BY day_num
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS revenue_7d
    FROM daily
    """,
)
def rolling_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue with a 7-day moving sum — RANGE frame over an integer
    day number, so calendar gaps are respected (a ROWS frame would span
    across missing days).

    Scale: the window input is the per-day aggregate (one row per
    calendar day — thousands of rows at ANY corpus size), so the
    unpartitioned window is a non-issue; the heavy lifting is the daily
    groupBy, which partial-aggregates map-side. The rolling sum
    re-accumulates in DECIMAL for partition-order independence.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")).alias(
            "day_num"
        ),
    ).agg(dec_sum("o_totalprice").alias("revenue"))
    w = Window.orderBy("day_num").rangeBetween(-6, Window.currentRow)
    rolling = (
        F.sum(F.col("revenue").cast("decimal(38,2)")).over(w).cast("double")
    )
    # DATE → TIMESTAMP for the comparator: Spark DATE lands in pandas as
    # object-dtype datetime.date, DuckDB DATE as datetime64 — kind
    # mismatch even with identical values.
    return daily.select(
        F.col("day").cast("timestamp").alias("day"),
        "revenue",
        rolling.alias("revenue_7d"),
    )


@query(
    "customer_order_gaps",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               date_diff('day',
                         lag(CAST(o_orderdate AS DATE)) OVER (
                             PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey),
                         CAST(o_orderdate AS DATE)) AS gap_days
        FROM orders
    )
    SELECT o_custkey,
           CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
           CAST(CAST(SUM(gap_days) AS DOUBLE) / COUNT(gap_days) AS DOUBLE)
               AS avg_gap_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
    FROM gaps
    WHERE gap_days IS NOT NULL
    GROUP BY o_custkey
    """,
)
def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap statistics per customer (lag over an event-time
    window) — the purchase-cadence feature behind churn/frequency models.

    Scale: the lag window is PARTITIONed by customer — one shuffle on the
    natural key, no global ordering anywhere; gap sums are integer-exact
    so no decimal accumulation is needed.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"), F.lag(F.to_date("o_orderdate")).over(w)
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return gaps.groupBy("o_custkey").agg(
        F.count("gap_days").cast("long").alias("n_gaps"),
        (F.sum("gap_days").cast("double") / F.count("gap_days")).alias("avg_gap_days"),
        F.max("gap_days").cast("long").alias("max_gap_days"),
    )


@query(
    "gapfill_daily_revenue",
    oracle="""
    WITH bounds AS (
        SELECT MIN(o_orderdate)::DATE AS lo, MAX(o_orderdate)::DATE AS hi
        FROM orders
    ),
    cal AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        FROM bounds
    ),
    daily AS (
        SELECT o_orderdate::DATE AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT strftime(cal.day, '%Y-%m-%d') AS day,
           COALESCE(daily.revenue, 0.0) AS revenue,
           CAST(COALESCE(daily.n_orders, 0) AS BIGINT) AS n_orders,
           daily.day IS NULL AS is_gap
    FROM cal LEFT JOIN daily ON cal.day = daily.day
    ORDER BY cal.day
    """,
)
def gapfill_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-gap-filled daily revenue: a generated day spine (min..max
    order date) left-joined onto the daily aggregate, zero-filled, with
    gap days flagged — the time-series shape every downstream
    forecasting/rolling computation needs (a ROWS frame over the raw
    daily aggregate silently skips missing days; ``rolling_revenue_7d``
    dodges that with a RANGE frame, this materializes the dense spine).

    Scale: the fact scan partial-aggregates to one row per calendar day
    before anything else; the spine is a generated relation of days
    (thousands of rows at any corpus size) and the join runs over those
    two calendar-bounded sides.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dec_sum("o_totalprice").alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    cal = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    ).select(
        F.explode(
            F.expr("sequence(lo, hi, interval 1 day)")
        ).alias("day")
    )
    return (
        cal.join(daily, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
            F.col("revenue").isNull().alias("is_gap"),
        )
        .orderBy("day")
    )


@query(
    "gapfill_locf_revenue",
    oracle="""
    WITH bounds AS (
        SELECT MIN(o_orderdate)::DATE AS lo, MAX(o_orderdate)::DATE AS hi
        FROM orders
    ),
    cal AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        FROM bounds
    ),
    daily AS (
        SELECT o_orderdate::DATE AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
                   AS revenue
        FROM orders GROUP BY 1
    ),
    spine AS (
        SELECT cal.day, daily.revenue, daily.day IS NULL AS is_gap
        FROM cal LEFT JOIN daily ON cal.day = daily.day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           LAST_VALUE(revenue IGNORE NULLS) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS revenue_locf,
           is_gap
    FROM spine
    ORDER BY day
    """,
)
def gapfill_locf_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily revenue with last-observation-carried-forward —
    the other canonical fill policy beside ``gapfill_daily_revenue``'s
    zero-fill (LOCF for level series like balances/prices, zero-fill for
    flow series like revenue counts; both exist so the consumer picks by
    semantics, not by what the engine happens to support). Exercises the
    IGNORE NULLS running last_value — a window primitive nothing else in
    the registry touches.

    Scale: identical posture to ``gapfill_daily_revenue`` — the window
    runs over the calendar-bounded day spine (thousands of rows at any
    corpus size), never the fact table.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dec_sum("o_totalprice").alias("revenue")
    )
    cal = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    ).select(F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"))
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cal.join(daily, "day", "left")
        .select(
            F.col("day"),
            F.last("revenue", ignorenulls=True).over(w).alias("revenue_locf"),
            F.col("revenue").isNull().alias("is_gap"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "revenue_locf",
            "is_gap",
        )
        .orderBy("day")
    )
