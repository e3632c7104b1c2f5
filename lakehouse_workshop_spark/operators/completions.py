"""Relational completions (SURVEY.md §2.9).

The reference exercises no joins/windows/set-ops (verified absent by grep —
SURVEY §2.9); a lakehouse engine needs them, and the north-star extensions
build on them. These are extensions, not ports — each is the idiomatic
Catalyst plan with its scale strategy noted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_workshop_spark.catalog import load_table
from lakehouse_workshop_spark.functions.exprs import dec_sum
from lakehouse_workshop_spark.operators import query


@query(
    "revenue_by_nation",
    oracle="""
    SELECT n.n_name AS nation,
           COUNT(DISTINCT c.c_custkey) AS n_customers,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    ORDER BY revenue DESC, nation
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim⋈dim rollup — the reference's by-country query
    (``DS:97-102``) done properly with joins.

    Scale: nation (25 rows) and customer (1.5M rows/SF) are broadcast —
    the orders fact table never shuffles for the join, only for the final
    aggregate. At 100 TB the customer side may exceed broadcast range;
    AQE then picks shuffle-hash with the same plan text.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            dec_sum("o_totalprice").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "nation")
    )


@query(
    "top_customer_per_nation",
    oracle="""
    SELECT nation, customer_id, spend FROM (
        SELECT n.n_name AS nation, c.c_custkey AS customer_id,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS spend,
               ROW_NUMBER() OVER (
                   PARTITION BY n.n_name
                   ORDER BY SUM(CAST(o.o_totalprice AS DECIMAL(38,2))) DESC, c.c_custkey
               ) AS rn
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    ) WHERE rn <= 3
    """,
)
def top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 spenders per nation — window top-k per group.

    Scale: the window partitions by nation (25 keys → skew risk at 100 TB);
    the aggregate before the window reduces rows to one per customer first,
    so the window input is customers, not orders.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    spend = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("c_custkey").alias("customer_id"))
        .agg(dec_sum("o_totalprice").alias("spend"))
    )
    w = Window.partitionBy("nation").orderBy(F.desc("spend"), "customer_id")
    return (
        spend.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@query(
    "active_or_rich_customers",
    oracle="""
    SELECT c_custkey AS customer_id FROM customer WHERE c_acctbal > 8000
    UNION
    SELECT o_custkey AS customer_id FROM orders
    GROUP BY o_custkey HAVING COUNT(*) >= 15
    """,
)
def active_or_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op (UNION = union+distinct) + HAVING — §2.9 completions."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rich = customer.filter(F.col("c_acctbal") > 8000).select(
        F.col("c_custkey").alias("customer_id")
    )
    active = (
        orders.groupBy(F.col("o_custkey").alias("customer_id"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 15)
        .select("customer_id")
    )
    return rich.union(active).distinct()


@query(
    "sales_rollup",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total_sales
    FROM orders
    GROUP BY ROLLUP(1, 2)
    """,
)
def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS rollup: per-month, per-year, grand total in one pass."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup(
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
    ).agg(F.count("*").alias("n_orders"), dec_sum("o_totalprice").alias("total_sales"))


@query(
    "orders_pivot_status",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
)
def orders_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot = conditional aggregation; explicit value list avoids the extra
    distinct-values job Spark's ``.pivot()`` needs without one."""
    orders = load_table(spark, sf_dir, "orders")
    agg = [
        F.count(F.when(F.col("o_orderstatus") == s, 1)).alias(f"status_{s.lower()}")
        for s in ("F", "O", "P")
    ]
    return (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(*agg)
        .orderBy("priority")
    )


SESSION_GAP_SECONDS = 1800

_SESSIONIZE_ORACLE = f"""
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
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS INT) AS session_id,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM numbered
    GROUP BY 1, 2
"""


@query("sessionize_events", oracle=_SESSIONIZE_ORACLE)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + cumulative-sum of gap>30min flags.

    Scale: one shuffle on user_id; both windows share the same partitioning
    so Catalyst plans a single exchange. Streaming variant lives in
    ``streaming/`` using ``session_window``.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > SESSION_GAP_SECONDS),
            1,
        ).otherwise(0),
    )
    wcum = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    numbered = flagged.withColumn("session_id", F.sum("new_session").over(wcum).cast("int"))
    return numbered.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@query(
    "churned_customers",
    oracle="""
    SELECT DISTINCT o_custkey AS customer_id FROM orders
    WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-02-01'
    EXCEPT
    SELECT DISTINCT o_custkey FROM orders
    WHERE o_orderdate >= DATE '1995-02-01' AND o_orderdate < DATE '1996-01-01'
    """,
)
def churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference: customers active in Jan 1995 with no later-1995
    order (EXCEPT — planned as a left-anti hash join on the distinct key
    sets; both inputs carry scan-pushable date ranges)."""
    orders = load_table(spark, sf_dir, "orders")

    def active(lo: str, hi: str) -> DataFrame:
        return (
            orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
            .select(F.col("o_custkey").alias("customer_id"))
            .distinct()
        )

    return active("1995-01-01", "1995-02-01").exceptAll(
        active("1995-02-01", "1996-01-01")
    )


@query(
    "cumulative_monthly_revenue",
    oracle="""
    WITH monthly AS (
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(month(o_orderdate) AS INT) AS order_month,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY 1, 2
    )
    SELECT order_year, order_month, revenue,
           SUM(revenue) OVER (
               PARTITION BY order_year ORDER BY order_month
               ROWS UNBOUNDED PRECEDING
           ) AS revenue_ytd
    FROM monthly
    """,
)
def cumulative_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running yearly total over monthly revenue — the cumulative-window
    completion (frame ROWS UNBOUNDED PRECEDING; partial-aggregated monthly
    rollup shuffles once, the window sorts within year partitions)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
    ).agg(dec_sum("o_totalprice").alias("revenue"))
    w = (
        Window.partitionBy("order_year")
        .orderBy("order_month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        "order_year",
        "order_month",
        "revenue",
        F.sum("revenue").over(w).alias("revenue_ytd"),
    )


@query(
    "event_props_agg",
    oracle="""
    SELECT event_type,
           -- outer CAST: DuckDB SUM(BIGINT) yields HUGEINT -> pandas float64,
           -- while Spark emits int64 (see llm_dedup.py dtype note)
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50
                      THEN 1 END) AS n_high
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def event_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: parse the JSON ``props`` column JVM-side
    (``get_json_object``) and aggregate the extracted field.

    Scale: JSON parsing happens inside the scan→agg pipeline (no shuffle of
    raw strings); for hot paths, parse once into a struct column
    (``from_json``) at ingest and let Parquet store it natively.
    """
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        events.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.count(F.when(k > 50, 1)).alias("n_high"),
        )
        .orderBy("event_type")
    )


@query(
    "latest_order_asof_event",
    oracle="""
    SELECT event_id, user_id, ts, o_orderkey AS last_orderkey,
           o_orderdate AS last_orderdate
    FROM (
        SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
               ) AS rn
        FROM events e
        JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    ) WHERE rn = 1
    """,
)
def latest_order_asof_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the user's most recent order at event time.

    Spark lacks a native as-of join; this is the union-merge form: tag and
    union both tables, one shuffle on the key, and a running
    ``max(struct(order_ts, order_id))`` window up to the current row. The
    input never inflates — unlike the join+argmax form, whose intermediate
    is |events per user| × |orders per user| rows (quadratic in key
    density); here the shuffle carries exactly |events| + |orders| rows.
    Orders sort before events at equal timestamps, giving the oracle's
    inclusive (``o_orderdate <= ts``) semantics; events with no prior
    order drop out (inner as-of).
    """
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    tagged_orders = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("timestamp_ntz").alias("ts"),
        F.struct("o_orderdate", "o_orderkey").alias("ord"),
    )
    tagged_events = events.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        "ts",
        F.lit(None)
        .cast("struct<o_orderdate:timestamp_ntz,o_orderkey:bigint>")
        .alias("ord"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = tagged_orders.unionByName(tagged_events).withColumn(
        "best", F.max("ord").over(w)  # lexicographic max == latest (date, key)
    )
    return merged.filter((F.col("is_event") == 1) & F.col("best").isNotNull()).select(
        "event_id",
        "user_id",
        "ts",
        F.col("best.o_orderkey").alias("last_orderkey"),
        F.col("best.o_orderdate").alias("last_orderdate"),
    )


FUNNEL_STAGES = ("view", "click", "purchase")


@query(
    "conversion_funnel",
    oracle="""
    WITH stage_ts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events
        GROUP BY user_id
    )
    SELECT COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
           COUNT(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                      THEN 1 END) AS n_click_after_view,
           COUNT(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                       AND t_purchase > t_click THEN 1 END) AS n_purchase_after_click
    FROM stage_ts
    """,
)
def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: users counted at a stage only
    if their first such event follows their first prior-stage event.

    Scale: one groupBy(user_id) with conditional-min partial aggregates —
    the whole funnel is a single shuffle regardless of stage count (the
    self-join-per-stage formulation would be K shuffles and K scans).
    """
    events = load_table(spark, sf_dir, "events")
    t = {
        s: F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t_{s}")
        for s in FUNNEL_STAGES
    }
    stage_ts = events.groupBy("user_id").agg(*t.values())
    at_view = F.col("t_view").isNotNull()
    at_click = at_view & (F.col("t_click") > F.col("t_view"))
    at_purchase = at_click & (F.col("t_purchase") > F.col("t_click"))
    return stage_ts.agg(
        F.count(F.when(at_view, 1)).alias("n_view"),
        F.count(F.when(at_click, 1)).alias("n_click_after_view"),
        F.count(F.when(at_purchase, 1)).alias("n_purchase_after_click"),
    )


@query(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey,
               MIN(date_trunc('month', o_orderdate)) AS cohort_month
        FROM orders GROUP BY o_custkey
    )
    SELECT CAST(year(f.cohort_month) * 100 + month(f.cohort_month) AS INT) AS cohort,
           CAST((year(o.o_orderdate) - year(f.cohort_month)) * 12
                + (month(o.o_orderdate) - month(f.cohort_month)) AS INT) AS months_since,
           COUNT(DISTINCT o.o_custkey) AS n_active
    FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly acquisition-cohort retention matrix (cohort × months-since →
    distinct active customers).

    Measured plan (local): ``firsts`` aggregates with one shuffle and
    BROADCASTs to the fact side, so the fact shuffles exactly once — for
    the distinct-count's (cohort, months_since, custkey) dedup exchange.
    At 100 TB ``firsts`` (one row per customer) exceeds broadcast range
    and AQE falls back to a sort-merge join (second fact shuffle on
    custkey); the mitigations are bucketing both by custkey, or swapping
    COUNT(DISTINCT) for ``approx_count_distinct`` so the dedup exchange
    disappears into a mergeable sketch.
    """
    orders = load_table(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    joined = orders.join(firsts, "o_custkey")
    cohort = (F.year("cohort_month") * 100 + F.month("cohort_month")).cast("int")
    months_since = (
        (F.year("o_orderdate") - F.year("cohort_month")) * 12
        + (F.month("o_orderdate") - F.month("cohort_month"))
    ).cast("int")
    return joined.groupBy(
        cohort.alias("cohort"), months_since.alias("months_since")
    ).agg(F.count_distinct("o_custkey").alias("n_active"))


ATTR_WINDOW_SECONDS = 3600


@query(
    "click_attribution",
    oracle=f"""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           COUNT(c.ts) AS n_clicks, MAX(c.ts) AS last_click_ts
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL {ATTR_WINDOW_SECONDS} SECOND
     AND c.ts < p.ts
    GROUP BY p.event_id, p.user_id, p.ts
    ORDER BY p.event_id
    """,
)
def click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: for every purchase, the clicks by the same
    user in the preceding {ATTR_WINDOW_SECONDS}s — the canonical
    event-time RANGE join.

    Scale shape: the naive inequality join plans as a per-user nested
    loop (quadratic in events-per-user, and a BroadcastNestedLoopJoin
    the moment the condition has no equi-part). This form buckets both
    sides into window-sized time bins and explodes each purchase into
    its own and the preceding bin — candidates come from a plain
    (user_id, bin) shuffle EQUI-join with a bounded fan-out of 2, then
    the exact range predicate filters. Skewed users shard across bins,
    and AQE can split a hot (user, bin). The DuckDB oracle runs the
    naive inequality join, pinning the bucketed rewrite's semantics.
    """
    events = load_table(spark, sf_dir, "events")
    win = ATTR_WINDOW_SECONDS
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.floor(F.unix_timestamp("ts") / win).alias("p_bin"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.floor(F.unix_timestamp("ts") / win).alias("c_bin"),
    )
    cand = purchases.withColumn(
        "bin", F.explode(F.array(F.col("p_bin"), F.col("p_bin") - 1))
    ).join(
        clicks,
        (F.col("c_user") == F.col("user_id")) & (F.col("c_bin") == F.col("bin")),
        "left",
    )
    # The range predicate lives in the AGGREGATION, not a post-join filter:
    # a filter would drop a purchase entirely when all its bin-candidates
    # miss the window, where the oracle's left join keeps it with 0 clicks.
    # Each click belongs to exactly one bin, so counting across the two
    # exploded purchase copies can't double-count.
    in_range = (
        F.col("click_ts").isNotNull()
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {win} SECOND"))
        & (F.col("click_ts") < F.col("purchase_ts"))
    )
    return (
        cand.groupBy("purchase_id", "user_id", "purchase_ts")
        .agg(
            F.count(F.when(in_range, F.col("click_ts"))).alias("n_clicks"),
            F.max(F.when(in_range, F.col("click_ts"))).alias("last_click_ts"),
        )
        .orderBy("purchase_id")
    )


@query(
    "event_transitions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts,
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
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's event
    stream — the path-analysis primitive behind funnel discovery and
    next-action models (the conversion funnel fixes the path; this
    measures ALL observed paths).

    Scale: one window pass partitioned by user (per-user state only),
    then a groupBy over at most |event_types|² keys — the aggregate is
    map-side-combined to a constant-size result. Tie-break on event_id
    inside the window order makes simultaneous events deterministic.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "from_type", "to_type")
    )
