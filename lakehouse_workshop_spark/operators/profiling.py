"""Data-quality and distribution-profiling operators (engine extensions).

The checks a pipeline runs before trusting a 100 TB corpus: referential
integrity (orphaned fact rows), hot-key detection (the skew diagnosis
that decides whether a join needs salting — `functions/joins.py`), and
value histograms (partition/bucket sizing inputs).

All three reduce to counts, so every oracle is exact; money totals
accumulate in DECIMAL as everywhere else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_workshop_spark.catalog import load_table
from lakehouse_workshop_spark.functions.exprs import dec_sum
from lakehouse_workshop_spark.operators import query

HOT_KEYS_TOP = 20
HIST_BIN_WIDTH = 10_000  # o_totalprice bin width


@query(
    "integrity_orphans",
    oracle="""
    SELECT 'orders_without_customer' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_orphans
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_without_order',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem_without_part',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
    """,
)
def integrity_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: fact rows whose foreign key resolves to
    no dimension row, per relationship.

    Scale: each check is a broadcast (customer/part) or shuffle (orders)
    LEFT ANTI join collapsed to a count — the anti-join build side is the
    key projection only, and counts partial-aggregate; three checks run
    as one union job sharing scans where possible.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")

    def check(
        name: str, fact: DataFrame, dim: DataFrame, fk: str, pk: str, *, broadcast: bool
    ) -> DataFrame:
        # Broadcast only genuinely small dimensions; a fact-sized build side
        # (orders under lineitem) must shuffle or it OOMs executors at scale.
        keys = dim.select(F.col(pk).alias(fk))
        orphans = fact.join(F.broadcast(keys) if broadcast else keys, fk, "left_anti")
        return orphans.agg(
            F.lit(name).alias("check_name"),
            F.count("*").cast("long").alias("n_orphans"),
        )

    return (
        check(
            "orders_without_customer",
            orders, customer, "o_custkey", "c_custkey", broadcast=True,
        )
        .unionByName(
            check(
                "lineitem_without_order",
                lineitem, orders, "l_orderkey", "o_orderkey", broadcast=False,
            )
        )
        .unionByName(
            check(
                "lineitem_without_part",
                lineitem, part, "l_partkey", "p_partkey", broadcast=True,
            )
        )
    )


@query(
    "hot_keys_events",
    oracle=f"""
    WITH k AS (
        SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
    ),
    t AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM k),
    ranked AS (
        SELECT user_id, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS rnk
        FROM k
    )
    SELECT user_id, CAST(c AS BIGINT) AS n_events,
           ROUND(CAST(c AS DOUBLE) / total, 6) AS share,
           CAST(rnk AS INT) AS rnk
    FROM ranked CROSS JOIN t
    WHERE rnk <= {HOT_KEYS_TOP}
    """,
)
def hot_keys_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis: the {HOT_KEYS_TOP} hottest join keys in the events
    table with their traffic share — the measurement that decides between
    AQE skew splitting and explicit salting (``functions/joins.py``).

    Scale: one partial-aggregated groupBy on the key; the top-k is a
    sort+limit (TakeOrderedAndProject: per-partition partial top-{HOT_KEYS_TOP},
    merged on the driver) — key cardinality can be billions, so no global
    window ever sees the full aggregate. The rank window runs AFTER the
    limit, over exactly {HOT_KEYS_TOP} rows; the total broadcasts as a
    1-row cross join.
    """
    events = load_table(spark, sf_dir, "events")
    k = events.groupBy("user_id").agg(F.count("*").alias("c"))
    k = k.localCheckpoint(eager=True)  # shared by top-k and the total
    total = k.agg(F.sum("c").cast("long").alias("total"))
    from pyspark.sql import Window

    top = k.orderBy(F.desc("c"), "user_id").limit(HOT_KEYS_TOP)
    w = Window.orderBy(F.desc("c"), "user_id")  # bounded: HOT_KEYS_TOP rows
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("int"))
        .crossJoin(F.broadcast(total))
        .select(
            "user_id",
            F.col("c").cast("long").alias("n_events"),
            F.round(F.col("c").cast("double") / F.col("total"), 6).alias("share"),
            "rnk",
        )
    )


@query(
    "order_price_histogram",
    oracle=f"""
    SELECT CAST(FLOOR(o_totalprice / {HIST_BIN_WIDTH}) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total_value
    FROM orders
    GROUP BY 1
    """,
)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram over order totals (bin = floor(v/w)) —
    the distribution profile that sizes range partitions and flags
    outlier mass.

    Scale: a groupBy on a derived int with ~hundreds of distinct bins —
    partial aggregation does nearly all the work map-side; the exchange
    carries one row per bin per task.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / HIST_BIN_WIDTH).cast("int").alias("bucket")
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            dec_sum("o_totalprice").alias("total_value"),
        )
    )


EXPECT_STATUSES = ("'O'", "'F'", "'P'")


@query(
    "table_expectations",
    oracle=f"""
    WITH scan AS (
        SELECT COUNT(*) AS total,
               SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS f_null_cust,
               SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS f_price,
               SUM(CASE WHEN o_orderstatus NOT IN ({", ".join(EXPECT_STATUSES)})
                        THEN 1 ELSE 0 END) AS f_status,
               SUM(CASE WHEN o_orderdate < '1990-01-01'
                          OR o_orderdate >= '2010-01-01'
                        THEN 1 ELSE 0 END) AS f_date
        FROM orders
    ),
    uniq AS (
        SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) AS f_dup FROM orders
    )
    SELECT v.check_name,
           CAST(CASE v.ord WHEN 1 THEN f_null_cust WHEN 2 THEN f_price
                           WHEN 3 THEN f_status   WHEN 4 THEN f_date
                           ELSE f_dup END AS BIGINT) AS failed_rows,
           (CASE v.ord WHEN 1 THEN f_null_cust WHEN 2 THEN f_price
                       WHEN 3 THEN f_status   WHEN 4 THEN f_date
                       ELSE f_dup END = 0) AS passed
    FROM scan, uniq,
         (VALUES (1, 'not_null_o_custkey'), (2, 'positive_o_totalprice'),
                 (3, 'accepted_values_o_orderstatus'), (4, 'o_orderdate_in_range'),
                 (5, 'unique_o_orderkey'))
         AS v(ord, check_name)
    ORDER BY v.ord
    """,
)
def table_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level expectation report over ``orders`` — the dbt-tests /
    Great-Expectations contract a pipeline gates a table promotion on:
    not-null, value range, accepted values, date sanity, key uniqueness,
    each with its failed-row count and a pass verdict.

    Scale: four of the five checks are conditional sums in ONE
    aggregation pass; uniqueness adds the one unavoidable distinct
    (exchange on the key — swap for approx_count_distinct if an exact
    dup count isn't required at 100 TB). The two 1-row aggregates
    cross-join with a VALUES table for the unpivot — no re-scan per
    check (the funnel's measured CTE-inlining lesson).
    """
    orders = load_table(spark, sf_dir, "orders")
    scan = orders.agg(
        F.count("*").alias("total"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "f_null_cust"
        ),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("f_price"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("f_status"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < "1990-01-01")
                | (F.col("o_orderdate") >= "2010-01-01"),
                1,
            ).otherwise(0)
        ).alias("f_date"),
    )
    uniq = orders.agg(
        (F.count("*") - F.count_distinct("o_orderkey")).alias("f_dup")
    )
    checks = spark.createDataFrame(
        [
            (1, "not_null_o_custkey"),
            (2, "positive_o_totalprice"),
            (3, "accepted_values_o_orderstatus"),
            (4, "o_orderdate_in_range"),
            (5, "unique_o_orderkey"),
        ],
        ["ord", "check_name"],
    )
    failed = (
        F.when(F.col("ord") == 1, F.col("f_null_cust"))
        .when(F.col("ord") == 2, F.col("f_price"))
        .when(F.col("ord") == 3, F.col("f_status"))
        .when(F.col("ord") == 4, F.col("f_date"))
        .otherwise(F.col("f_dup"))
    )
    return (
        scan.crossJoin(uniq)
        .crossJoin(F.broadcast(checks))
        .select(
            "check_name",
            failed.cast("bigint").alias("failed_rows"),
            (failed == 0).alias("passed"),
        )
        .orderBy("ord")
    )


# --- Count-Min Sketch heavy hitters -----------------------------------------
# The sketch family (HLL distinct, approx percentiles, Bloom membership,
# MinHash/SimHash similarity) was missing its frequency member. CMS
# (Cormode & Muthukrishnan 2005, "An improved data stream summary: the
# count-min sketch and its applications") summarizes a key-frequency
# distribution in d×w counters with one-sided error: est >= true always,
# and est <= true + (e/w)·N with probability 1 - e^-d per key.
CMS_DEPTH = 5
CMS_WIDTH = 8192


@query(
    "cms_heavy_hitters",
    oracle=f"""
    WITH k AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id),
    ranked AS (
        SELECT user_id, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS rnk
        FROM k
    )
    SELECT user_id, CAST(c AS BIGINT) AS n_events,
           TRUE AS est_ge_true, TRUE AS within_bound
    FROM ranked WHERE rnk <= {HOT_KEYS_TOP}
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch frequency estimates for the hottest event keys,
    contract-checked against the exact counts: per heavy hitter,
    ``est_ge_true`` pins the CMS one-sided guarantee (the key's own count
    is in every one of its d counters, so the min can never undercount)
    and ``within_bound`` pins the collision envelope est − true ≤
    ⌈(e/{CMS_WIDTH})·N⌉ + 1 — deterministic for fixed data and hash
    seeds, so the driver value-hashes both booleans; the exact top-k arm
    is the labeled contract baseline (same shape as ``hot_keys_events``).

    Scale: THE sketch for per-key frequency monitoring at 100 TB — the
    sketch build is one explode({CMS_DEPTH}) + one partial-aggregated
    groupBy landing in a FIXED {CMS_DEPTH}×{CMS_WIDTH} counter table
    regardless of key cardinality (mergeable across batches/streams by
    cell-wise addition, unlike the exact groupBy whose state is
    O(distinct keys)); estimates probe it by a broadcast join of
    candidates × depths. Spark's murmur3 ``hash(key, depth)`` gives the
    d independent hash rows in-plan — no UDF anywhere.
    """
    events = load_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("cms_events")
    # The sketch is referenced twice below (the est probe join and the n
    # bound CTE); an unmaterialized view would recompute the events
    # aggregation per reference (no ReusedExchange: 3 fact scans). The
    # sketch is a FIXED
    # {CMS_DEPTH}×{CMS_WIDTH} table, so materializing it pins the fact to
    # exactly two scans: one sketch build + the exact-count contract arm.
    spark.sql(
        f"""
        SELECT d, pmod(hash(user_id, d), {CMS_WIDTH}) AS bucket,
               COUNT(*) AS cnt
        FROM cms_events
        LATERAL VIEW explode(sequence(0, {CMS_DEPTH - 1})) t AS d
        GROUP BY d, bucket
        """
    ).localCheckpoint(eager=True).createOrReplaceTempView("cms_sketch")
    return spark.sql(
        f"""
        WITH k AS (
            SELECT user_id, COUNT(*) AS c FROM cms_events GROUP BY user_id
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
            JOIN cms_sketch s
              ON s.d = x.d AND s.bucket = pmod(hash(t.user_id, x.d), {CMS_WIDTH})
            GROUP BY t.user_id, t.c
        ),
        -- N derives from the MATERIALIZED sketch: every event lands in
        -- exactly one bucket per depth, so one depth's counter sum IS
        -- the stream length — read from the checkpointed d×w table, not
        -- a rescan of the fact. e/w error envelope; +1
        -- absorbs the ceil-vs-float edge exactly at the bound (the
        -- guarantee is probabilistic per key with failure e^-d ≈ 0.7%;
        -- at these widths the measured max overcount is far inside it —
        -- a real collision burst would fail the driver hash).
        n AS (
            SELECT CAST(CEIL(EXP(1) / {CMS_WIDTH} * SUM(cnt)) AS BIGINT) + 1
                       AS bound
            FROM cms_sketch WHERE d = 0
        )
        SELECT user_id, CAST(c AS BIGINT) AS n_events,
               est >= c AS est_ge_true,
               est - c <= n.bound AS within_bound
        FROM est CROSS JOIN n
        """
    )


@query(
    "salted_join_event_nations",
    oracle="""
    SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def salted_join_event_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew lever as a driver-value-checked query: the event fact
    (the side ``hot_keys_events`` diagnoses as skewed) joins the customer
    dimension through ``functions.joins.salted_join`` — hot user_ids are
    split across 8 salt sub-keys and the dimension replicates 8× to meet
    them — then rolls up per nation through a broadcast dim join.

    Salting must be a pure execution-strategy change: the oracle is the
    PLAIN three-way join aggregate, so any semantic leak (a salt column
    surviving, a dropped/duplicated row from the replication) fails the
    value hash. This is the explicit fallback for the one case AQE skew
    splitting can't fix — a single key so hot that a split partition is
    still one key's rows; ``tests/test_joins.py`` pins equivalence at the
    API level, this query pins it end-to-end against DuckDB.
    """
    from lakehouse_workshop_spark.functions.joins import salted_join

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = salted_join(events, customer, "user_id", salts=8)
    return (
        joined.join(
            F.broadcast(nation),
            joined["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy("n_name")
        .agg(F.count("*").alias("n_events"))
    )


HLL_REL_ERR = 0.05  # default lgConfigK=12 gives ~1.6% rel. std. error


@query(
    "hll_distinct_rollup",
    oracle="""
    SELECT event_type AS grp,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           TRUE AS est_ok
    FROM events GROUP BY 1
    UNION ALL
    SELECT 'TOTAL',
           CAST(COUNT(DISTINCT user_id) AS BIGINT),
           TRUE
    FROM events
    """,
)
def hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct rollup (the Datasketches pattern behind
    ``count_distinct_customers_approx``, made EXPLICIT): one pass builds
    a per-group HLL sketch (`hll_sketch_agg`), and the global distinct
    comes from `hll_union_agg` over the GROUP SKETCHES — never a second
    scan. That union step is the 100 TB story: per-partition/per-day
    sketches materialize once and any ad-hoc rollup (per source, per
    week, global) merges kilobyte sketches instead of re-scanning the
    fact; exact COUNT(DISTINCT) cannot merge this way (distinct sets
    don't add).

    The exact counts ride along as the contract arm; ``est_ok`` pins
    every estimate (group AND merged total) inside ±{HLL_REL_ERR:.0%} —
    ~3× the sketch's standard error at the default lgConfigK=12, so the
    boolean is deterministic-stable, and the driver value-hashes it.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        f"""
        WITH sk AS (
            SELECT event_type,
                   hll_sketch_agg(user_id) AS s,
                   COUNT(DISTINCT user_id) AS exact_distinct
            FROM events GROUP BY 1
        ),
        total AS (
            SELECT COUNT(DISTINCT user_id) AS exact_distinct FROM events
        )
        SELECT event_type AS grp, exact_distinct,
               abs(hll_sketch_estimate(s) - exact_distinct)
                   <= {HLL_REL_ERR} * exact_distinct AS est_ok
        FROM sk
        UNION ALL
        SELECT 'TOTAL', t.exact_distinct,
               abs(hll_sketch_estimate(hll_union_agg(sk.s)) - t.exact_distinct)
                   <= {HLL_REL_ERR} * t.exact_distinct AS est_ok
        FROM sk CROSS JOIN total t
        GROUP BY t.exact_distinct
        """
    )
