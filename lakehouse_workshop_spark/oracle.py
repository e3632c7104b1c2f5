"""Local replica of the driver's DuckDB-oracle correctness gate.

The driver runs each ``queries()[name]`` on Spark and ``oracle_sql()[name]``
on DuckDB over the same parquet, then compares row-count + schema +
order-insensitive value-hash. This module reproduces that comparison locally
(stricter: bit-exact doubles) so every operator is verified before the driver
ever sees it.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import duckdb
import pandas as pd

from lakehouse_workshop_spark.catalog import TESTDATA_TABLES, data_files
from lakehouse_workshop_spark.session import _default_driver_mem


def _duck_memory_limit() -> str:
    """Half the RAM the Spark heap leaves free. DuckDB's own default (80%
    of RAM) plus the ~60% heap of ``session._default_driver_mem``
    over-commit the host, and the kernel then kills the Spark JVM. The
    other half covers the JVM's memory outside its heap, this process and
    its Python workers."""
    total_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    heap_gib = int(_default_driver_mem().rstrip("g"))
    return f"{max(1.0, (total_gib - heap_gib) / 2):.1f}GiB"


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    # No spill directory: an oracle that does not fit in memory fails with
    # OutOfMemoryException, instead of filling the disk under the working
    # directory with spill files first.
    con = duckdb.connect(
        config={"memory_limit": _duck_memory_limit(), "temp_directory": ""}
    )
    # The same file list Spark reads: probe corpora are multi-file
    # directories holding only the corpus tables, so absent tables skip.
    for name in TESTDATA_TABLES:
        files = data_files(f"{sf_dir}/{name}.parquet")
        if files:
            con.sql(
                f"CREATE OR REPLACE VIEW {name} AS "
                f"SELECT * FROM read_parquet({files!r})"
            )
    return con


def _canon_cell(v: object) -> object:
    """Canonicalize a cell for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v  # exact float comparison — the goal is hash-match
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()  # Spark yields bytearray, DuckDB bytes
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_canon_cell(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _canon_cell(v.item())
    return v


def canon_rows(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = [tuple(_canon_cell(v) for v in row) for row in pdf.itertuples(index=False)]
    return sorted(rows, key=repr)


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    columns_match: bool
    mismatches: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK " if self.ok else "FAIL"
        msg = f"[{status}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows}"
        for m in self.mismatches[:5]:
            msg += f"\n    {m}"
        return msg


def compare_query(name: str, spark_df, oracle_sql: str, sf_dir: str) -> CompareResult:
    spark_pdf = spark_df.toPandas()
    con = duck_connect(sf_dir)
    try:
        duck_pdf = con.sql(oracle_sql).df()
    finally:
        con.close()

    s_cols, d_cols = sorted(spark_pdf.columns), sorted(c.lower() for c in duck_pdf.columns)
    duck_pdf.columns = [c.lower() for c in duck_pdf.columns]
    mismatches: list[str] = []
    cols_match = s_cols == d_cols
    if not cols_match:
        mismatches.append(f"columns: spark={s_cols} oracle={d_cols}")

    # The driver's value-hash is dtype-sensitive (int64 255 != float64 255.0)
    # and its canonicalizer sort_values-crashes on list cells — reproduce both
    # strictnesses locally so a slip can't pass 100 parity tests and then fail
    # the driver (as DuckDB SUM(BIGINT) -> HUGEINT -> float64 would).
    if cols_match:
        # Kind-level check (int vs float vs object...), not exact width:
        # the driver accepts int32-vs-int64 (customer_recast) but
        # rejects int64-vs-float64 (255 != 255.0 after canonicalization).
        def _kind(dtype) -> str:
            k = dtype.kind
            return "i" if k == "u" else k

        for c in s_cols:
            sk, dk = _kind(spark_pdf[c].dtype), _kind(duck_pdf[c].dtype)
            if sk != dk:
                mismatches.append(
                    f"dtype-kind[{c}]: spark={spark_pdf[c].dtype} "
                    f"oracle={duck_pdf[c].dtype}"
                )
        for c in s_cols:
            col = spark_pdf[c]
            if col.dtype == object and col.map(
                lambda v: isinstance(v, (list, dict)) or type(v).__name__ == "ndarray"
            ).any():
                mismatches.append(
                    f"driver-unsafe[{c}]: contains list/array cells "
                    "(driver comparator crashes on unhashable types)"
                )

    ok = cols_match and len(spark_pdf) == len(duck_pdf)
    if ok:
        s_rows, d_rows = canon_rows(spark_pdf), canon_rows(duck_pdf)
        for i, (a, b) in enumerate(zip(s_rows, d_rows)):
            if a != b:
                mismatches.append(f"row {i}: spark={a!r} oracle={b!r}")
                if len(mismatches) >= 5:
                    break
        ok = not mismatches
    return CompareResult(name, ok, len(spark_pdf), len(duck_pdf), cols_match, mismatches)


def run_all(spark, sf_dir: str, only: list[str] | None = None) -> list[CompareResult]:
    from lakehouse_workshop_spark.operators import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    results = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            results.append(compare_query(name, fn(spark, sf_dir), oracles[name], sf_dir))
        except Exception as e:  # surface, keep going
            results.append(CompareResult(name, False, -1, -1, False, [f"error: {e!r}"]))
    return results
