"""Event-stream analytics operators.

Sequence and seasonality shapes over the ``events`` table that the
existing funnel/sessionize/attribution family doesn't cover: path
mining (top event-type trigrams), time-of-day seasonality, and
statistical anomaly detection on daily volumes.

Determinism posture: every float sum is a DECIMAL accumulation, LN/
SQRT see per-row values both engines computed identically, ratios
round to 6 dp, and every ordering breaks ties on a unique key
(``event_id`` within a user stream, names elsewhere).

Scale posture: windows partition by user (uniform, unbounded
parallelism) or run over calendar-bounded aggregates (hours × types,
days × types — small no matter the event volume); the heavy exchanges
are partial-aggregated groupBys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lakehouse_workshop_spark.operators import query

PATH_TOP_K = 10
ANOMALY_Z = 2.0


def _path_sql() -> str:
    # LEAD twice over the per-user stream, then count trigram strings.
    return f"""
    WITH seq AS (
        SELECT event_type AS e1,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT {PATH_TOP_K}
    """


@query("user_path_trigrams", oracle=_path_sql())
def user_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PATH_TOP_K} three-step event-type paths across all user
    streams — the path-mining primitive behind "what do users do right
    before purchase/error".

    Scale: one window pass partitioned by user (each stream is
    independent; the exchange key is uniform), then a groupBy on the
    trigram string whose distinct cardinality is ≤ |event_types|³ = tiny
    — partial aggregation collapses it map-side; the final top-k is
    TakeOrderedAndProject.
    """
    from lakehouse_workshop_spark.catalog import load_table

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_path_sql())


def _seasonality_sql(hour_expr: str) -> str:
    return f"""
    SELECT CAST({hour_expr} AS INT) AS hour_of_day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE) /
                 SUM(COUNT(*)) OVER (PARTITION BY event_type), 6)
               AS share_of_type
    FROM events
    GROUP BY 1, 2
    ORDER BY hour_of_day, event_type
    """


@query(
    "hourly_seasonality",
    oracle=_seasonality_sql("EXTRACT(hour FROM ts)"),
)
def hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality per event type with each hour's share of
    its type's total — the load-shaping/staffing curve. Sessions pin UTC
    so the hour extract agrees across engines.

    Scale: partial-agg to ≤ 24 × |types| rows before the only exchange;
    the share window runs over that constant-size aggregate.
    """
    from lakehouse_workshop_spark.catalog import load_table

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_seasonality_sql("hour(ts)"))


def _anomaly_sql(day_expr: str) -> str:
    # Daily value totals per type, then a population z-score per day
    # against that type's own distribution. Moments accumulate in
    # DECIMAL over per-day values that are themselves DECIMAL sums, so
    # nothing depends on partition order.
    return f"""
    WITH daily AS (
        SELECT event_type, {day_expr} AS day,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               COUNT(*) AS n_days,
               CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS sv,
               CAST(SUM(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) AS svv
        FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.day,
           ROUND(d.v, 2) AS day_value,
           ROUND((d.v - sv / n_days)
                 / SQRT(svv / n_days - (sv / n_days) * (sv / n_days)),
                 6) AS zscore
    FROM daily d JOIN stats s ON d.event_type = s.event_type
    WHERE svv / n_days - (sv / n_days) * (sv / n_days) > 0
      AND ABS((d.v - sv / n_days)
              / SQRT(svv / n_days - (sv / n_days) * (sv / n_days)))
          > {ANOMALY_Z}
    ORDER BY d.event_type, d.day
    """


@query(
    "daily_value_anomalies",
    oracle=_anomaly_sql("strftime(ts, '%Y-%m-%d')"),
)
def daily_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose total event value sits more than {ANOMALY_Z}σ from that
    event type's own daily mean (population moments) — the monitoring
    query behind volume-anomaly alerts.

    Scale: the raw scan partial-aggregates to days × types rows; the
    moment pass and the z-score join both run over that calendar-bounded
    aggregate. Per-day sums and both moment sums accumulate in DECIMAL;
    SQRT sees a double both engines derived from identical DECIMAL casts.
    """
    from lakehouse_workshop_spark.catalog import load_table

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_anomaly_sql("date_format(ts, 'yyyy-MM-dd')"))


# --- bucketized range join ---------------------------------------------------
RANGE_JOIN_WINDOW_S = 300  # "purchases within 5 minutes after the error"
RANGE_JOIN_CELL_S = 5  # pre-aggregation grain; must divide the window


@query(
    "range_join_error_purchases",
    oracle=f"""
    SELECT e.event_id, CAST(COUNT(p.event_id) AS BIGINT) AS n_purchases_5m
    FROM events e
    LEFT JOIN events p
      ON p.event_type = 'purchase'
     AND p.ts > e.ts
     AND p.ts <= e.ts + INTERVAL {RANGE_JOIN_WINDOW_S} SECOND
    WHERE e.event_type = 'error'
    GROUP BY e.event_id
    """,
)
def range_join_error_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platform-wide temporal range join with NO equi-key: for every
    error event, count purchases across ALL users in the following
    {RANGE_JOIN_WINDOW_S}s. The naive inequality join (the oracle's
    form) has no equi-condition, so Spark would plan a
    BroadcastNestedLoopJoin scanning every (error, purchase) pair —
    quadratic, dead at 100 TB.

    Because the output is only a COUNT per error, the purchase side
    pre-aggregates to {RANGE_JOIN_CELL_S}s cells before any join: the
    window (t, t+W] spans exactly W/{RANGE_JOIN_CELL_S} cell boundaries;
    every cell strictly inside the span is counted from the aggregated
    (cell, cnt) table, and only the TWO boundary cells (the one
    containing t and the one containing t+W) join at row grain with the
    exact timestamp predicate — traffic in 2·{RANGE_JOIN_CELL_S}s per
    error, bounded even when platform-wide traffic-per-window is not.

    Interior form: the inclusive running sum ``cum(x)`` =
    purchases in cells ≤ x is materialized ONCE over the union of the
    (cell, cnt) table and two zero-weight probe points per error, via
    the two-pass range-partitioned :func:`global_cumsum` (no
    single-partition window); each error then reads
    ``cum(c0+{RANGE_JOIN_WINDOW_S // RANGE_JOIN_CELL_S - 1}) - cum(c0)``
    as a signed sum over its own two probe rows. Exploding the
    {RANGE_JOIN_WINDOW_S // RANGE_JOIN_CELL_S - 1} interior cells per
    error into an equi-join + re-aggregation is also linear, but with a
    W/C = {RANGE_JOIN_WINDOW_S // RANGE_JOIN_CELL_S}× row multiplier
    whose transient working set is ~20 GB at the 100× probe (118M
    exploded rows + per-error hash-agg state). The cumsum carries
    |cells| + 2·|errors| rows through one range exchange — the same
    count reduction a 1000-executor cluster wants, where the explode's
    W/C multiplier is shuffle volume.

    Exactness: timestamps compare at full microsecond precision
    (``unix_micros`` cell math, ``INTERVAL`` predicate — the floored
    whole-second ``unix_timestamp`` form over-counted purchases up to
    ~1s past the window). A purchase in cell k has micros in
    [k·C, (k+1)·C); for lo = unix_micros(t) every purchase in cells
    lo DIV C + 1 .. lo DIV C + {RANGE_JOIN_WINDOW_S // RANGE_JOIN_CELL_S - 1}
    satisfies lo < micros < lo + W exactly, so interior cells need no
    row filter (cum(c0+{RANGE_JOIN_WINDOW_S // RANGE_JOIN_CELL_S - 1})
    - cum(c0) subtracts cell c0 itself; the boundary arm owns it); the
    two boundary cells cover the remaining candidates. Probe rows sort
    AFTER the real count row of the same cell (order (cell, is_pt)), so
    the inclusive running sum at a probe includes that cell's count.
    DIV truncates toward zero, which equals floor only for non-negative
    micros — so the cell expression asserts post-epoch in-plan
    (``assert_true``): a pre-1970 fixture fails LOUDLY instead of
    silently mis-bucketing.
    """
    from pyspark.sql import functions as F

    from lakehouse_workshop_spark.catalog import load_table
    from lakehouse_workshop_spark.functions.exprs import global_cumsum

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    w = RANGE_JOIN_WINDOW_S
    cell_us = RANGE_JOIN_CELL_S * 1_000_000
    ncells = w // RANGE_JOIN_CELL_S
    assert w % RANGE_JOIN_CELL_S == 0, "cell grain must divide the window"
    cell_of = (
        "(unix_micros({c}) + IFNULL(assert_true(unix_micros({c}) >= 0, "
        "'range_join_error_purchases: pre-epoch timestamp — DIV "
        f"truncation would mis-bucket'), 0)) DIV {cell_us}"
    )
    errors = spark.sql(
        f"""SELECT event_id, ts, {cell_of.format(c="ts")} AS c0
            FROM events WHERE event_type = 'error'"""
    )
    purchases = spark.sql(
        f"""SELECT event_id AS p_id, ts AS p_ts, {cell_of.format(c="ts")} AS cell
            FROM events WHERE event_type = 'purchase'"""
    )
    cell_counts = purchases.groupBy("cell").agg(F.count("*").alias("cnt"))
    # Probe points: interior(e) = cum(c0 + ncells-1) - cum(c0), emitted as
    # sign * cum summed per error. Zero-weight rows leave cum unchanged.
    points = errors.select(
        "event_id",
        F.explode(
            F.array(
                F.struct(F.col("c0").alias("cell"), F.lit(-1).alias("sign")),
                F.struct(
                    (F.col("c0") + F.lit(ncells - 1)).alias("cell"),
                    F.lit(1).alias("sign"),
                ),
            )
        ).alias("pt"),
    ).select("event_id", "pt.cell", "pt.sign")
    union = cell_counts.select(
        "cell",
        "cnt",
        F.lit(0).alias("is_pt"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("sign"),
    ).unionByName(
        points.select(
            "cell",
            F.lit(0).cast("long").alias("cnt"),
            F.lit(1).alias("is_pt"),
            "event_id",
            "sign",
        )
    )
    interior = (
        global_cumsum(union, "cnt", "cell", "is_pt", name="cum")
        .where(F.col("is_pt") == 1)
        .groupBy("event_id")
        .agg(F.sum(F.col("sign") * F.col("cum")).alias("n"))
    )
    errors.createOrReplaceTempView("rj_errors")
    purchases.createOrReplaceTempView("rj_purchases")
    boundary = spark.sql(
        f"""
        SELECT e.event_id, COUNT(p.p_id) AS n
        FROM (SELECT event_id, ts, explode(array(c0, c0 + {ncells})) AS cell
              FROM rj_errors) e
        LEFT JOIN rj_purchases p
          ON e.cell = p.cell
         AND p.p_ts > e.ts
         AND p.p_ts <= e.ts + INTERVAL {w} SECOND
        GROUP BY e.event_id
        """
    )
    return boundary.alias("b").join(interior.alias("i"), "event_id", "left").select(
        "event_id",
        (F.col("b.n") + F.coalesce(F.col("i.n"), F.lit(0)))
        .cast("bigint")
        .alias("n_purchases_5m"),
    )
