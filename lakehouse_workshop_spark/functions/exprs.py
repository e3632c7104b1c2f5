"""Scalar/aggregate expression helpers (SURVEY.md §2.5, F1–F5; §2.2 P7–P8).

Everything here is a thin composition of built-in ``pyspark.sql.functions`` —
JVM-side, whole-stage-codegen-eligible, never a Python UDF.

Determinism note: floating-point SUM/AVG over doubles is order-dependent, and
at 1000-executor scale partial-aggregate combine order is nondeterministic.
``dec_sum``/``dec_avg`` accumulate in fixed-point DECIMAL (exact, associative,
commutative) and cast the final value to double — the result is bit-identical
regardless of partitioning, which is also what makes the DuckDB-oracle
hash-match stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dec_sum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent SUM of a double column via DECIMAL(38, scale)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(38,{scale})")).cast("double")


def dec_avg(col: Column | str, scale: int = 2) -> Column:
    """Order-independent AVG: exact decimal sum / count, divided in double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(38,{scale})")).cast("double") / F.count(c)


def case_bucket(col: Column | str, edges: list[tuple[float, float, str]], other: str = "others") -> Column:
    """Multi-branch CASE WHEN banding (ref ``DS_cust_lifetime_value.py:373-379``).

    ``edges`` is a list of (lo_inclusive, hi_exclusive, label). The reference's
    bands have literal gaps (e.g. 19–20); this helper takes explicit edges so
    callers can reproduce or fix that, and rows matching nothing get ``other``.
    """
    c = F.col(col) if isinstance(col, str) else col
    expr = None
    for lo, hi, label in edges:
        cond = (c >= F.lit(lo)) & (c < F.lit(hi))
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    assert expr is not None
    return expr.otherwise(F.lit(other))


def global_row_number(df: DataFrame, *order: Column, name: str = "rank") -> DataFrame:
    """Scale-safe global ``ROW_NUMBER() OVER (ORDER BY ...)``.

    A bare ``Window.orderBy`` moves the whole table into ONE partition — the
    textbook full-table-rank scale killer (Spark itself warns). This is the
    classic two-pass alternative:

    1. ``repartitionByRange`` on the sort keys: a balanced shuffle whose
       partitions are globally ordered (the shuffle a global sort needs
       anyway), sorted within each partition.
    2. Stamp ``spark_partition_id`` and lazily ``localCheckpoint`` — one
       materialization so the offset pass below re-reads instead of
       re-shuffling, and partition ids stay consistent across the two jobs.
    3. Per-partition ``row_number`` (window PARTITIONed by the stamp — every
       partition ranks in parallel).
    4. Per-partition counts (tiny: one row per partition) → cumulative
       offsets on the driver-sized side, broadcast-joined back.

    No stage ever sees more than one partition's rows; the only global
    object is the #partitions-row offset table. ``order`` must be a total
    order (include a tiebreaker) for the result to be deterministic.
    """
    stamped = (
        df.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn("_rank_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    local = stamped.withColumn(
        "_rank_local",
        F.row_number().over(Window.partitionBy("_rank_pid").orderBy(*order)),
    )
    counts = stamped.groupBy("_rank_pid").agg(F.count("*").alias("_rank_n"))
    offsets = counts.withColumn(
        "_rank_offset",
        F.sum("_rank_n")
        .over(Window.orderBy("_rank_pid").rowsBetween(Window.unboundedPreceding, -1))
        .cast("long"),
    ).select("_rank_pid", F.coalesce("_rank_offset", F.lit(0)).alias("_rank_offset"))
    return (
        local.join(F.broadcast(offsets), "_rank_pid")
        # long, not int: a global rank is exactly the column that crosses
        # 2^31 first at scale (~2.5e10 documents at 100 TB) — an int cast
        # here would wrap silently, like a BIGINT pair-count product in
        # cross_source_dup_matrix. Parity is unaffected:
        # DuckDB's ROW_NUMBER is BIGINT already and the oracle compare
        # canonicalizes integer widths.
        .withColumn(name, (F.col("_rank_offset") + F.col("_rank_local")).cast("long"))
        .drop("_rank_pid", "_rank_local", "_rank_offset")
    )


def global_cumsum(df: DataFrame, value: str, *order: Column | str, name: str = "cum") -> DataFrame:
    """Scale-safe global running ``SUM(value) OVER (ORDER BY ...)``.

    Same two-pass construction as :func:`global_row_number` (a bare
    ``Window.orderBy`` collapses the table into one partition): range
    partition on the sort keys, partition-local running sums in parallel,
    then per-partition totals (one row per partition) become broadcast
    offsets. ``order`` must be a total order. The result column is the
    INCLUSIVE running sum as ``long``.
    """
    stamped = (
        df.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn("_cs_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    local = stamped.withColumn(
        "_cs_local",
        F.sum(value).over(Window.partitionBy("_cs_pid").orderBy(*order)),
    )
    totals = stamped.groupBy("_cs_pid").agg(F.sum(value).alias("_cs_n"))
    offsets = totals.withColumn(
        "_cs_offset",
        F.sum("_cs_n")
        .over(Window.orderBy("_cs_pid").rowsBetween(Window.unboundedPreceding, -1))
        .cast("long"),
    ).select("_cs_pid", F.coalesce("_cs_offset", F.lit(0)).alias("_cs_offset"))
    return (
        local.join(F.broadcast(offsets), "_cs_pid")
        .withColumn(name, (F.col("_cs_offset") + F.col("_cs_local")).cast("long"))
        .drop("_cs_pid", "_cs_local", "_cs_offset")
    )


def row_id() -> Column:
    """Synthetic unique id (ref ``DS_cust_lifetime_value.py:166``).

    ``monotonically_increasing_id`` is partition-dependent; fine for a synthetic
    key, not for oracle-checked output. Oracle-checked queries use a
    ``row_number`` window over an explicit ordering instead.
    """
    return F.monotonically_increasing_id() + 1
