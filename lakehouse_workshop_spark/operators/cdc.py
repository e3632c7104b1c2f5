"""CDC upsert (MERGE INTO) — the core lakehouse write pattern.

The reference's platform runs MERGE natively on Delta
(``DE_data_preparation.py`` writes Delta tables; Delta MERGE rewrites only
the files containing matched keys). Without the Delta jar this engine
expresses the same semantics as the classic join-rewrite:

    merged = apply(updates) ∪ (target ⟕̸ updates)   -- anti-join keeps
                                                    -- untouched rows

Scale posture: the CDC batch is orders of magnitude smaller than the
target, so the anti-join broadcasts the update keys — the target is read
once, never shuffled. On a partitioned table the rewrite additionally
prunes to partitions containing matched keys (dynamic partition
overwrite); with Delta/Iceberg present, swap this operator for native
MERGE and keep the call site.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_workshop_spark.catalog import load_table
from lakehouse_workshop_spark.operators import query

# Deterministic synthetic CDC batch derived from the orders table itself:
# every 50th key is an update (+10.00 price, status 'U'); every 1000th key
# spawns an insert shifted above the live key space. The shift is derived
# from the data (MAX(o_orderkey), as an uncorrelated scalar subquery both
# engines evaluate identically) rather than a constant — a fixed
# 10_000_000 shift collides with real orderkeys once sf ≳ 1.7 (TPC-H max
# orderkey is 6M·sf), silently breaking MERGE key-uniqueness. Additive
# price change — no float rounding ambiguity across engines.
UPDATE_EVERY = 50
INSERT_EVERY = 1000
# +1 because orderkey 0 exists in the synthetic data: with a bare MAX
# shift, key 0 would map exactly onto the live max key.
_INSERT_KEY_SHIFT_SQL = "(SELECT MAX(o_orderkey) + 1 FROM orders)"

_CDC_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice"

# Portable SQL (identical text runs on Spark and DuckDB).
_CDC_BATCH_SQL = f"""
    SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
           o_totalprice + 10.0 AS o_totalprice
    FROM orders WHERE o_orderkey % {UPDATE_EVERY} = 0
    UNION ALL
    SELECT o_orderkey + {_INSERT_KEY_SHIFT_SQL} AS o_orderkey, o_custkey,
           'N' AS o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % {INSERT_EVERY} = 0
"""

_DUCK_MERGE = f"""
WITH updates AS ({_CDC_BATCH_SQL})
SELECT {_CDC_COLS} FROM updates
UNION ALL
SELECT {_CDC_COLS} FROM orders t
WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = t.o_orderkey)
"""


def cdc_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic updates+inserts batch (see module docstring)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_CDC_BATCH_SQL)


def merge_upsert(target: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Join-rewrite MERGE: updates win on key match, unmatched target rows
    pass through, unmatched updates append. ``updates`` is broadcast — the
    target side never shuffles."""
    untouched = target.join(F.broadcast(updates.select(key)), key, "left_anti")
    return updates.unionByName(untouched.select(*updates.columns))


@query("merge_upsert_orders", oracle=_DUCK_MERGE)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE the deterministic CDC batch into orders (updates + inserts +
    pass-through), via broadcast anti-join — target read once, no shuffle."""
    target = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    return merge_upsert(target, cdc_batch(spark, sf_dir), "o_orderkey")


# --- SCD Type-2 history build ----------------------------------------------
# The other half of the lakehouse CDC story: MERGE applies changes to the
# CURRENT table; SCD2 preserves every version with validity intervals so
# "what was this customer's value on date D" is a range lookup. Treating
# each order as a change event, the build is one per-key LEAD window —
# identical SQL text runs on both engines.

_SCD2_SQL = """
    SELECT o_custkey AS custkey,
           o_orderkey AS version_key,
           o_totalprice AS attr_value,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER w AS valid_to,
           CAST(CASE WHEN LEAD(o_orderdate) OVER w IS NULL
                     THEN 1 ELSE 0 END AS INT) AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@query("scd2_customer_history", oracle=_SCD2_SQL)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 build: every order becomes a
    versioned dimension row with [valid_from, valid_to) validity and an
    is_current flag — the standard warehouse answer to "what was this
    customer's state at time T", built from the change stream in ONE
    pass.

    Determinism: the version order is (valid_from, version_key), so
    same-day changes tie-break identically in both engines; intervals
    are half-open and zero-length intervals for same-timestamp versions
    are kept (the consumer's AS OF lookup uses from <= T < to, which
    skips them naturally).

    Scale: one LEAD window partitioned BY KEY — bounded by versions per
    customer, never corpus-wide; at 100 TB this is one shuffle of the
    change stream on the dimension key, the minimum any SCD2 build
    pays. Append-only downstream (each run emits the full history;
    an incremental variant MERGEs only keys present in the new batch,
    exactly the `merge_upsert` seam above).
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SCD2_SQL)


SCD2_ASOF_T = "1997-06-15"

_SCD2_ASOF_SQL = f"""
    WITH hist AS ({_SCD2_SQL})
    SELECT custkey, version_key, attr_value
    FROM hist
    WHERE valid_from <= '{SCD2_ASOF_T}'
      AND (valid_to IS NULL OR valid_to > '{SCD2_ASOF_T}')
    ORDER BY custkey
"""


@query("scd2_asof_lookup", oracle=_SCD2_ASOF_SQL)
def scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 consumer: each customer's version valid AS OF
    {SCD2_ASOF_T} — the half-open interval predicate
    ``valid_from <= T < valid_to`` that the Type-2 layout exists to make
    a plain range filter. Zero-length intervals (same-timestamp
    versions) are skipped by the predicate itself, so at most one
    version survives per key; customers whose history starts after T
    are absent — the correct "did not exist yet" answer.

    Scale: on a STORED SCD2 table this is a scan-pushed range filter
    (and a partition prune if the table partitions on valid_from);
    rebuilt inline here, it adds one filter atop the single-window
    build. No join — the point of the layout.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SCD2_ASOF_SQL)


# --- snapshot diff ----------------------------------------------------------
# The audit half of time travel (`catalog.snapshot_write/read` hold the
# versions): what changed between table versions, by class. Runs current
# vs the CDC-merged next version; identical SQL text on both engines.

_SNAPSHOT_DIFF_SQL = f"""
    WITH updates AS ({_CDC_BATCH_SQL}),
    next_t AS (
        SELECT {_CDC_COLS} FROM updates
        UNION ALL
        SELECT {_CDC_COLS} FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM updates u
                          WHERE u.o_orderkey = t.o_orderkey)
    ),
    diff AS (
        SELECT CASE WHEN c.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN n.o_orderstatus <> c.o_orderstatus
                      OR n.o_totalprice <> c.o_totalprice THEN 'changed'
                    ELSE 'unchanged' END AS change_class
        FROM orders c
        FULL JOIN next_t n ON c.o_orderkey = n.o_orderkey
    )
    SELECT change_class, CAST(COUNT(*) AS BIGINT) AS n
    FROM diff GROUP BY change_class ORDER BY change_class
"""


@query("snapshot_diff_orders", oracle=_SNAPSHOT_DIFF_SQL)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version DIFF: row counts per change class (added / changed /
    unchanged — this batch has no deletes) between the current orders
    snapshot and the CDC-merged next version. The audit query every
    time-travel layer owes its operators: "what did that write actually
    do" without replaying it.

    Scale: one FULL join keyed on the table key — both sides shuffle
    once (or the smaller snapshot broadcasts); the class rollup is
    4 rows. On a Delta/Iceberg table the same query runs over
    ``VERSION AS OF`` pairs; here the next version derives in-plan from
    the deterministic CDC batch, which also makes the oracle exact.
    Doubles compare for equality safely: both versions' values are
    either bit-identical parquet reads or the same IEEE add of +10.0.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SNAPSHOT_DIFF_SQL)
