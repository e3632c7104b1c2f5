import pandas as pd
import pytest

from perfbench.compare import OracleCache, compare_frames


@pytest.fixture
def rows():
    return pd.DataFrame(
        {
            "k": [1, 2, 3, 4],
            "name": ["a", "b", "c", None],
            "v": [0.5, 1.25, float("nan"), 3.0],
        }
    )


def test_same_rows_in_any_order_match(rows):
    shuffled = rows.sample(frac=1.0, random_state=3).reset_index(drop=True)
    assert compare_frames(shuffled, rows) is None


def test_one_cell_change_is_caught(rows):
    changed = rows.copy()
    changed.loc[2, "name"] = "z"
    assert compare_frames(changed, rows).startswith("row ")


def test_one_float_ulp_is_caught_unless_tolerated(rows):
    changed = rows.copy()
    changed.loc[1, "v"] = 1.25 + 2.0**-40
    assert compare_frames(changed, rows) is not None
    assert compare_frames(changed, rows, rel_tol=1e-9) is None


def test_dropped_row_is_caught(rows):
    assert compare_frames(rows.iloc[:3], rows) == "3 rows, expected 4"


def test_null_timestamps_match_but_a_filled_one_does_not():
    ts = pd.DataFrame({"k": [1, 2], "valid_to": pd.to_datetime(["2001-05-01", None])})
    assert compare_frames(ts.copy(), ts) is None
    filled = ts.copy()
    filled.loc[1, "valid_to"] = pd.Timestamp("2002-01-01")
    assert compare_frames(filled, ts).startswith("row ")


def test_column_names_compare_case_insensitively(rows):
    upper = rows.rename(columns=str.upper)
    assert compare_frames(upper, rows) is None
    assert compare_frames(rows.drop(columns="v"), rows).startswith("columns")


def test_nullable_ints_match_spark_null_encoding():
    want = pd.DataFrame({"k": pd.array([1, None], dtype="Int32")})
    got = pd.DataFrame({"k": [1.0, float("nan")]})
    assert compare_frames(got, want) is None


def test_oracle_cache_computes_once_per_key(tmp_path):
    calls = []

    def compute():
        calls.append(1)
        return pd.DataFrame({"x": [len(calls)]})

    cache = OracleCache(str(tmp_path), identity="inputs-a", seed=1)
    first = cache.get("SELECT 1", compute)
    again = OracleCache(str(tmp_path), identity="inputs-a", seed=1).get("SELECT 1", compute)
    assert calls == [1] and first.equals(again)
    OracleCache(str(tmp_path), identity="inputs-b", seed=1).get("SELECT 1", compute)
    OracleCache(str(tmp_path), identity="inputs-a", seed=2).get("SELECT 1", compute)
    assert len(calls) == 3

