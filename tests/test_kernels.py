"""Spark-free tests of the shared numpy kernels (``kernels.py``)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from lakehouse_workshop_spark import kernels
from lakehouse_workshop_spark.kernels import nearest, unit, worker_buf


def _rounded_argmax(s: np.ndarray) -> np.ndarray:
    return np.round(s, 6).argmax(axis=1)


@pytest.mark.parametrize(
    "s",
    [
        # exact duplicate columns: the first one wins
        np.array([[0.5, 0.9, 0.9, 0.1], [0.3, 0.3, 0.3, 0.3]]),
        # near-ties on both sides of a 6-dp rounding boundary
        np.array(
            [
                [0.1234565, 0.1234564, 0.1234566],
                [0.1234566, 0.12345649, 0.1234565],
                [0.7000004, 0.7000005, 0.7000006],
            ]
        ),
        # within 2e-6 but rounding apart: the raw maximum stays
        np.array([[0.2000014, 0.2000004], [0.2000004, 0.2000019]]),
        # within 2e-6, rounding together: the first column wins
        np.array([[0.4000001, 0.4000003], [0.3999996, 0.4000004]]),
        np.array([[0.3, 0.1, 0.3000002]]),  # one row
        np.array([[0.3], [-0.2], [0.0]]),  # one column
        -np.array([[0.5, 0.2000001, 0.2, 0.9], [0.7, 0.7000004, 0.9, 0.1]]),
    ],
)
def test_nearest_is_the_rounded_first_max(s):
    assert nearest(s).tolist() == _rounded_argmax(s).tolist()


def test_nearest_matches_on_a_random_block():
    rng = np.random.default_rng(11)
    m = rng.standard_normal((2000, 64))
    m /= np.linalg.norm(m, axis=1)[:, None]
    c = m[:48].copy()
    c[40] = c[3]  # duplicate centroid: exact ties on 1/48 of the block
    s = m @ c.T
    assert (nearest(s) == _rounded_argmax(s)).all()


def test_unit_is_bit_equal_to_the_inline_form():
    rng = np.random.default_rng(5)
    emb = pd.Series(list(rng.standard_normal((300, 64))))
    nrm = pd.Series(rng.uniform(0.1, 9.0, 300))
    expected = np.stack(emb.to_numpy()) / nrm.to_numpy()[:, None]
    got = unit(emb.to_numpy(), nrm.to_numpy())
    assert got.dtype == np.float64
    assert got.tobytes() == expected.tobytes()
    # driver-side row lists (python floats) give the same bits
    rows = unit([e.tolist() for e in emb], nrm.tolist())
    assert rows.tobytes() == expected.tobytes()


def test_worker_buf_reuses_one_array_per_key():
    a = worker_buf("__test__", (3, 4))
    assert worker_buf("__test__", (3, 4)) is a
    assert a.dtype == np.float64
    assert worker_buf("__test__", (3, 4), np.bool_) is not a
    assert worker_buf("__test__", (4, 3)) is not a
    for key in [k for k in kernels._WORKER_BUFS if k[0] == "__test__"]:
        del kernels._WORKER_BUFS[key]


def test_kernels_import_only_numpy():
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(kernels))
    mods = {
        alias.name.split(".")[0]
        for node in ast.walk(tree)
        if isinstance(node, ast.Import)
        for alias in node.names
    } | {
        (node.module or "").split(".")[0]
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
    }
    assert mods <= {"numpy", "__future__"}, mods
