"""Numpy kernels shared by the vector operators.

Every Arrow-batch function and driver-side index build in the vector
family calls these instead of repeating them. numpy only: the Spark
side (schemas, broadcasts, ``mapInPandas``) stays with each operator.
"""

from __future__ import annotations

import numpy as np

# Per-worker-process reusable scratch buffers, keyed by (tag, shape,
# dtype). Fresh 20-100 MB intermediates per Arrow batch (score matrices,
# partition copies, residual diffs) are mmapped and munmapped by numpy,
# so every batch re-faults and re-zeroes its pages; on a VM that
# first-faults guest memory slowly this dominated the 100× probe (a
# 2000×6250 dgemm took 10-16 s against a 0.13 s steady state). One live
# buffer per worker faults its pages once per worker lifetime. Shapes
# recur (uniform Arrow batches + one partial tail), so the cache stays
# in the single digits per worker.
_WORKER_BUFS: dict = {}


def worker_buf(tag: str, shape: tuple, dtype=None) -> np.ndarray:
    dt = np.dtype(dtype or np.float64)
    key = (tag, shape, dt.str)
    buf = _WORKER_BUFS.get(key)
    if buf is None:
        buf = _WORKER_BUFS[key] = np.empty(shape, dtype=dt)
    return buf


def unit(emb, nrm) -> np.ndarray:
    """Stack the vectors ``emb`` into a matrix and divide each row by its
    norm ``nrm`` in place."""
    m = np.stack(emb)
    m /= np.asarray(nrm)[:, None]
    return m


def nearest(s: np.ndarray) -> np.ndarray:
    """Row-wise ``np.round(s, 6).argmax(axis=1)`` (first maximum on ties)
    without rounding the whole score block: the raw argmax, re-picked
    among the scores within 2e-6 of the row maximum only where such a
    near-tie exists. Any index whose rounded score equals the rounded
    maximum has a raw score within 1e-6 of the raw maximum."""
    best = s.argmax(axis=1)
    mx = s[np.arange(len(s)), best]
    close = (s >= (mx - 2e-6)[:, None]).sum(axis=1) > 1
    for i in np.nonzero(close)[0]:
        cand = np.nonzero(s[i] >= mx[i] - 2e-6)[0]
        best[i] = cand[np.round(s[i][cand], 6).argmax()]
    return best
