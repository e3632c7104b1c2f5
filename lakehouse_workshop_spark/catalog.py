"""Catalog + ingestion layer (SURVEY.md §2.1, ops S1–S13).

The reference's lakehouse surface: CSV ingest with header/delimiter/inference
(``DE_data_preparation.py:3-16``), managed-table writes
(``DE_data_preparation.py:28-29,75-77``), path scans
(``DS_cust_lifetime_value.py:152``), catalog reads + cache
(``DS_cust_lifetime_value.py:66``), temp views (``:67,338``), CREATE VIEW AS
(``:122-128``), CTAS (``:352-354``), database DDL (``DE_data_preparation.py:23``).

Storage format: the reference writes Delta. ``delta-spark`` jars are not in
this image, so writes degrade to Parquet ``saveAsTable`` behind a capability
probe — semantics for every §2 query are preserved (Delta's tx-log/ACID layer
adds no query semantics here). When the jar is present the same API emits Delta.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def delta_available(spark: SparkSession) -> bool:
    """Probe for the Delta Lake datasource (OSS delta-spark jars)."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.spark.sql.delta.sources.DeltaDataSource"
        )
        return True
    except Exception:
        return False


def table_format(spark: SparkSession) -> str:
    return "delta" if delta_available(spark) else "parquet"


# --- S1: CSV scan ---------------------------------------------------------
def csv_scan(
    spark: SparkSession,
    path: str,
    *,
    header: bool = True,
    delimiter: str = ",",
    infer_schema: bool = True,
    schema: StructType | None = None,
) -> DataFrame:
    """CSV ingest (ref ``DE_data_preparation.py:3-16``).

    ``schema`` overrides inference for deterministic prod ingest — inference
    costs an extra full scan at 100 TB and is nondeterministic across files.
    """
    reader = (
        spark.read.format("csv")
        .option("header", str(header).lower())
        .option("sep", delimiter)
    )
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", "true")
    return reader.load(path)


# --- S2/S7: managed-table writes -----------------------------------------
def write_table(
    df: DataFrame, name: str, *, mode: str = "overwrite", fmt: str | None = None
) -> None:
    """Persist a DataFrame as a managed table (ref ``DE_data_preparation.py:29``)."""
    fmt = fmt or table_format(df.sparkSession)
    df.write.format(fmt).mode(mode).saveAsTable(name)


def ctas(spark: SparkSession, name: str, query: str) -> DataFrame:
    """CREATE TABLE AS SELECT (ref ``DS_cust_lifetime_value.py:352-354``)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(f"CREATE TABLE {name} USING {table_format(spark)} AS {query}")
    return spark.table(name)


# --- S3/S4: scans ---------------------------------------------------------
def path_scan(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a table by storage path (ref ``DS_cust_lifetime_value.py:152``)."""
    return spark.read.format(fmt).load(path)


def write_path(
    df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite"
) -> None:
    """Write a DataFrame by storage path in any Spark-native format.

    Format breadth note: parquet/ORC are the columnar production formats
    (predicate pushdown + column pruning reach the scan); JSON-lines and
    CSV round-trip for interchange but scan as full-row reads — at 100 TB
    they are ingest formats, not table formats, and the engine's tables
    stay columnar.
    """
    df.write.format(fmt).mode(mode).save(path)


def catalog_scan(spark: SparkSession, name: str, *, cache: bool = False) -> DataFrame:
    """Read a managed table by name, optionally cached (ref ``:66``)."""
    df = spark.read.table(name)
    return df.cache() if cache else df


# --- S5/S6: views ---------------------------------------------------------
def temp_view(df: DataFrame, name: str) -> DataFrame:
    df.createOrReplaceTempView(name)
    return df


def create_view_as(spark: SparkSession, name: str, query: str) -> DataFrame:
    spark.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS {query}")
    return spark.table(name)


# --- S8/S9/S10: DDL + introspection --------------------------------------
def create_database(spark: SparkSession, name: str) -> None:
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def drop_table(spark: SparkSession, name: str) -> None:
    # Crash-recovery only: a run that died between DROP and the
    # managed-table commit leaves the location behind with no catalog
    # entry, and Spark then refuses to recreate the table
    # (LOCATION_ALREADY_EXISTS). Sweep the warehouse dir ONLY in that
    # orphaned state — i.e. when the catalog did not know the table
    # before the DROP. When the table exists, DROP itself decides the
    # data's fate (managed: deleted; external: intentionally preserved —
    # an unconditional rmtree here would destroy external data parked
    # under the warehouse root).
    was_cataloged = spark.catalog.tableExists(name)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    if was_cataloged:
        return
    import shutil
    from urllib.parse import urlparse

    try:
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    except Exception:
        return
    if warehouse:
        parts = name.lower().split(".")
        rel = (
            f"{parts[0]}.db/{parts[1]}" if len(parts) == 2 else parts[0]
        )
        leftover = os.path.join(warehouse, rel)
        if os.path.isdir(leftover):
            shutil.rmtree(leftover, ignore_errors=True)


def describe(spark: SparkSession, name: str) -> DataFrame:
    return spark.sql(f"DESCRIBE {name}")


# --- partitioned tables (directory pruning) --------------------------------
def write_partitioned(
    df: DataFrame,
    name: str,
    *,
    partition_by: str | list[str],
    mode: str = "overwrite",
) -> None:
    """Persist a managed table hive-partitioned on ``partition_by``.

    The other write-time scale lever (beside bucketing): equality/range
    filters on the partition columns prune whole directories at plan time
    (PartitionFilters in the scan), so a day-partitioned 100 TB table
    serves a one-day query by reading one directory. Keep partition
    cardinality bounded (≈10³–10⁵ dirs) — derive a date/bucket column
    rather than partitioning on a high-cardinality key.
    """
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    df.write.format("parquet").mode(mode).partitionBy(*cols).saveAsTable(name)


# --- Z-order clustering (multi-column data skipping) -----------------------
ZORDER_BITS = 16


def zorder_key(df: DataFrame, cols: list[str], bits: int = ZORDER_BITS):
    """Morton (Z-order) key column over ``cols``: each column is
    rank-normalized to a ``bits``-bit integer via its global min/max, and
    the bit planes are interleaved so files sorted by the key are
    clustered in EVERY listed dimension at once.

    This is the standard lakehouse data-skipping lever (Delta OPTIMIZE
    ZORDER BY, Iceberg sort orders): a single-column sort gives perfect
    min/max pruning on one column and none on the others; the Z-key
    trades a little per-column locality for usable pruning on all of
    them. Linear scaling per column keeps the key rank-correlated with
    each source column, which is all parquet min/max skipping needs.

    Scale: min/max come from one tiny aggregate (at 100 TB: file-footer
    metadata); the key itself is a narrow per-row expression — no
    shuffle beyond the final range partition of the write.

    ``bits`` auto-shrinks so the interleaved key never reaches bit 63:
    the long sign bit would sort high-key rows negative-first (breaking
    the clustering), and a shift >= 64 wraps mod 64 in the JVM,
    silently corrupting the key (latent with the default 16 bits at 4+
    columns before the guard).
    """
    from pyspark.sql import functions as F

    bits = min(bits, 63 // len(cols))
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"_mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"_mx_{c}") for c in cols],
    ).collect()[0]
    top = (1 << bits) - 1
    key = F.lit(0).cast("long")
    # Interleave: output bit (b * n_cols + i) carries column i's bit b.
    for i, c in enumerate(cols):
        mn, mx = stats[f"_mn_{c}"], stats[f"_mx_{c}"]
        span = (mx - mn) or 1.0
        scaled = F.least(
            F.lit(top),
            F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * top).cast(
                "long"
            ),
        )
        for b in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(scaled, b).bitwiseAND(F.lit(1)),
                    b * len(cols) + i,
                )
            )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    n_files: int = 8,
    bits: int = ZORDER_BITS,
    mode: str = "overwrite",
) -> None:
    """Rewrite ``df`` to ``path`` clustered by the Z-order key of ``cols``:
    range-partition on the key (files own disjoint key ranges) and sort
    within each file, so every listed column's parquet min/max stats are
    tight enough to skip most files on a selective filter."""
    from pyspark.sql import functions as F

    (
        df.withColumn("_zkey", zorder_key(df, cols, bits))
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )


def table_stats(path: str, columns: list[str] | None = None) -> list[dict]:
    """Read parquet FOOTER statistics (no data scan): one dict per
    (file, row-group) with per-column min/max/null-count/size.

    This is the metadata a 100 TB engine prunes with — `write_zordered`
    exists precisely to tighten these min/max envelopes, and this reader
    makes the effect inspectable/testable without scanning data: the
    footer read is O(files), not O(bytes).
    """
    import pyarrow.parquet as pq

    out: list[dict] = []
    for f in data_files(path):
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            row: dict = {"file": f, "row_group": rg, "num_rows": group.num_rows}
            cols = {}
            for ci in range(group.num_columns):
                col = group.column(ci)
                name = col.path_in_schema
                if columns is not None and name not in columns:
                    continue
                st = col.statistics
                cols[name] = {
                    "min": st.min if st is not None and st.has_min_max else None,
                    "max": st.max if st is not None and st.has_min_max else None,
                    "nulls": st.null_count if st is not None else None,
                    "compressed_bytes": col.total_compressed_size,
                }
            row["columns"] = cols
            out.append(row)
    return out


def data_files(path: str) -> list[str]:
    """The files Spark's parquet reader scans for ``path`` (a file or a
    directory), sorted: every file under it, recursively, except names
    the reader treats as hidden — a ``.`` prefix, a ``_`` prefix without
    an ``=`` (``_SUCCESS``, ``_temporary/``, but not ``_k=1/``), or a
    ``._COPYING_`` suffix (Hadoop's ``shouldFilterOutPathName``). Row
    counts, file statistics, compaction and the DuckDB oracle all read
    this list, so they see exactly the rows ``spark.read.parquet`` does.
    """

    def hidden(name: str) -> bool:
        return (
            name.startswith(".")
            or (name.startswith("_") and "=" not in name)
            or name.endswith("._COPYING_")
        )

    if os.path.isfile(path):
        return [path]
    files = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not hidden(d)]
        files += [os.path.join(dirpath, f) for f in filenames if not hidden(f)]
    return sorted(files)


# --- compaction (small-file maintenance) -----------------------------------
def compact_files(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    preserve_order_by: str | None = None,
) -> tuple[int, int]:
    """Rewrite a parquet directory into ~``target_file_bytes`` files and
    return (files_before, files_after).

    The lakehouse maintenance pass every streaming/incremental sink needs:
    micro-batch writes accumulate kB-sized files whose per-file open/
    footer cost eventually dominates scans. Sizing from the directory's
    actual byte size (not file count) keeps the rewrite correct whether
    the small files are many-and-tiny or few-and-large. The rewrite is
    one narrow coalesce job — no shuffle — unless ``preserve_order_by``
    asks for a range-partitioned re-sort (then it's one exchange, and the
    compacted files also get tight min/max stats on that column).
    """
    import math
    import shutil

    files = data_files(path)
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compact_tmp"
    if preserve_order_by:
        out = df.repartitionByRange(n_out, preserve_order_by).sortWithinPartitions(
            preserve_order_by
        )
    else:
        out = df.coalesce(n_out)
    out.write.mode("overwrite").parquet(tmp)
    # Swap via rename-aside: the live directory is never deleted before
    # its replacement is in place, so a crash at any single point leaves
    # either the old table (possibly with a stale tmp/old dir to sweep)
    # or the new one — never no table. Renames are same-filesystem moves.
    old = path.rstrip("/") + "._compact_old"
    if os.path.exists(old):
        shutil.rmtree(old)  # leftover from an earlier crashed run
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after = len(data_files(path))
    return len(files), after


# --- testdata loading -----------------------------------------------------
def decode_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a session-tz TIMESTAMP regardless of how
    the datagen encoded it. Observed encodings: TIMESTAMP(NANOS) read as
    int64 nanos under the legacy conf, and native ``timestamp[us]`` read
    as TIMESTAMP_NTZ. Both map onto microsecond TIMESTAMP — the ns branch
    truncates exactly like DuckDB's own ns→µs cast, and the NTZ branch is
    a value-preserving cast under the UTC session timezone — so oracle
    comparisons stay exact either way.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table_rowcount(sf_dir: str, name: str) -> int:
    """Exact row count of a testdata table from the parquet FOOTER
    metadata, with no Spark job. Footers carry the exact ``num_rows`` per
    file, so the sum over :func:`data_files` equals ``COUNT(*)``; it is
    re-read on every call (nothing is memoized across runs). At 100 TB
    the same number comes from the table format's manifest (Iceberg/
    Delta snapshot row counts); on bare parquet it is one footer read
    per file instead of a full scan job with a cluster-wide barrier."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(f).num_rows
        for f in data_files(f"{sf_dir}/{name}.parquet")
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic testdata table (TESTDATA.md)."""
    if name == "events":
        # Harmless when the file carries µs timestamps; required when it
        # carries TIMESTAMP(NANOS), which Spark 4 otherwise refuses.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return decode_events_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_testdata(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (mirrors the oracle's views)."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# --- snapshot versioning (time travel without the Delta jar) ---------------
# The reference stores tables as Delta, whose tx-log gives versioned reads
# (`spark.read.format('delta').option('versionAsOf', n)`). The Delta jar
# cannot be installed in this environment (no network route — COVERAGE.md),
# so the catalog provides the same read contract over plain parquet: each
# write lands in an immutable `v=N` directory and a reader resolves either
# the latest or an explicit version. Swapping in Delta keeps the API and
# removes the directory convention.


def snapshot_versions(path: str) -> list[int]:
    """Committed snapshot versions at ``path`` (ascending)."""
    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        if d.startswith("v=") and os.path.exists(
            os.path.join(path, d, "_SUCCESS")
        ):
            out.append(int(d[2:]))
    return sorted(out)


def snapshot_write(df: DataFrame, path: str) -> int:
    """Commit ``df`` as the next snapshot version of ``path``; returns the
    version number. Writes are immutable — readers of older versions are
    never disturbed (the property Delta's log provides; here the `v=N`
    directory plus Spark's `_SUCCESS` marker is the commit point)."""
    versions = snapshot_versions(path)
    v = (versions[-1] + 1) if versions else 0
    df.write.mode("errorifexists").parquet(os.path.join(path, f"v={v}"))
    return v


def snapshot_read(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot table: latest committed version, or ``version`` —
    the `versionAsOf` time-travel contract."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed snapshots under {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions} at {path}")
    return spark.read.parquet(os.path.join(path, f"v={v}"))


def evolve_append(df: DataFrame, path: str) -> None:
    """Append a batch whose schema may add columns (schema evolution).

    Parquet is self-describing per file, so additive evolution needs no
    rewrite: old files simply lack the new column. Readers must ask for
    the union schema — ``evolved_read`` — and get NULLs for pre-evolution
    rows, the same additive contract as Delta's ``mergeSchema``.
    """
    df.write.mode("append").parquet(path)


def evolved_read(spark: SparkSession, path: str) -> DataFrame:
    """Read with the union-of-file-schemas (``mergeSchema``) so batches
    written before a column existed surface it as NULL."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 16,
    sort_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a managed table hash-bucketed (and optionally sorted)
    on ``key`` — the co-location contract that makes every later
    equi-join or aggregation on that key SHUFFLE-FREE: Spark records
    the bucketing in the catalog, and a join of two tables bucketed the
    same way on the same key plans with no Exchange on either side.

    This is THE lever for a 100 TB fact table that joins on the same
    key query after query (orders ⨝ lineitem on orderkey): the shuffle
    is paid once at write time instead of per query. Bucket count is a
    layout decision (aim for 100–200 MB per bucket-file at target
    scale); both join sides must share key AND bucket count.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(buckets, key)
    if sort_by is not None:
        w = w.sortBy(sort_by)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Equi-join two identically-bucketed managed tables on their bucket
    key. With both sides bucketed the physical plan contains ZERO
    Exchange operators (pinned by tests/test_catalog.py) — the join
    reads co-located buckets directly."""
    return spark.table(left_table).join(spark.table(right_table), key)
