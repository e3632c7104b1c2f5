"""Output checks: the canonical-row compare and the oracle-result cache."""

from __future__ import annotations

import hashlib
import math
import os
import pickle

import pandas as pd

from lakehouse_workshop_spark.oracle import canon_rows


def _lower(pdf: pd.DataFrame) -> pd.DataFrame:
    """Lowercased column names; nullable integer columns become what Spark
    and DuckDB hand back for them (int64, or float64 with NaN for nulls)."""
    pdf = pdf.copy()
    pdf.columns = [c.lower() for c in pdf.columns]
    for c in pdf.columns:
        if isinstance(pdf[c].dtype, pd.api.extensions.ExtensionDtype) and pdf[c].dtype.kind in "iu":
            pdf[c] = pdf[c].astype("float64" if pdf[c].isna().any() else "int64")
    return pdf


def _cells_equal(a: object, b: object, rel_tol: float) -> bool:
    if a is b:  # as in tuple equality: pd.NaT and NA singletons match themselves
        return True
    if isinstance(a, float) and isinstance(b, float) and rel_tol:
        return math.isclose(a, b, rel_tol=rel_tol, abs_tol=rel_tol)
    return a == b


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, rel_tol: float = 0.0) -> str | None:
    """``None`` when ``got`` holds exactly ``want``'s rows (any order), else
    a one-line reason. Cells compare exactly unless ``rel_tol`` is set, in
    which case float cells may differ by that relative amount."""
    got, want = _lower(got), _lower(want)
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, (a, b) in enumerate(zip(canon_rows(got), canon_rows(want))):
        if len(a) != len(b) or not all(_cells_equal(x, y, rel_tol) for x, y in zip(a, b)):
            return f"row {i}: {a!r} != {b!r}"[:300]
    return None


def input_identity(data_dir: str) -> str:
    """Digest of every input file's relative path and bytes."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(data_dir):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, data_dir).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class OracleCache:
    """Oracle-side results on disk, keyed by the oracle text, the input
    identity and the seed, so a slow DuckDB oracle runs once per input."""

    def __init__(self, root: str, identity: str, seed: int) -> None:
        self.root, self.identity, self.seed = root, identity, seed
        os.makedirs(root, exist_ok=True)
        self.hits = self.misses = 0

    def _path(self, text: str) -> str:
        key = hashlib.sha256(f"{text}\0{self.identity}\0{self.seed}".encode()).hexdigest()
        return os.path.join(self.root, key[:32] + ".pkl")

    def get(self, text: str, compute) -> pd.DataFrame:
        path = self._path(text)
        if os.path.exists(path):
            self.hits += 1
            with open(path, "rb") as f:
                return pickle.load(f)
        self.misses += 1
        pdf = compute()
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(pdf, f)
        os.replace(tmp, path)
        return pdf

