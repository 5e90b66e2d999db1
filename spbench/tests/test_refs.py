"""Digest sensitivity and the references' own semantics."""

import numpy as np
import pandas as pd
import pytest

from spbench import refs


def _frame():
    return pd.DataFrame({
        "url": ["a", "b", "c", "c"],
        "lat": [1.5, -2.25, 3.0, 3.0],
        "n": np.array([1, 2, 3, 3], dtype=np.int64),
        "ok": [True, False, True, True],
        "ids": [[1, 2], [3], [], [4]],
    })


def test_digest_ignores_row_and_column_order():
    f = _frame()
    g = f.iloc[::-1][["n", "ids", "url", "ok", "lat"]]
    assert refs.digest(f) == refs.digest(g)


def test_digest_counts_duplicates():
    f = _frame()
    assert refs.digest(f) != refs.digest(f.iloc[:3])
    assert refs.digest(f) != refs.digest(pd.concat([f, f.iloc[:1]]))


@pytest.mark.parametrize("col,value", [
    ("url", "z"), ("lat", 1.5000001), ("n", 9), ("ok", False), ("ids", [1, 3])])
def test_one_changed_value_fails(col, value):
    f = _frame()
    g = f.copy()
    g.at[0, col] = value
    assert refs.digest(f) != refs.digest(g)
    assert refs.matches(g, f, refs.digest(f)) == (False, False)


def test_last_ulp_float_difference_still_matches():
    f = _frame()
    g = f.copy()
    g["lat"] = np.nextafter(g["lat"].to_numpy(), np.inf)
    ok, _ = refs.matches(g, f, refs.digest(f))
    assert ok


def test_int_width_does_not_matter():
    f = _frame()
    g = f.assign(n=f["n"].astype(np.int32))
    assert refs.digest(f) == refs.digest(g)


def test_points_in_rings_with_hole():
    shell = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)
    hole = np.array([[1, 1], [1, 3], [3, 3], [3, 1], [1, 1]], float)
    px = np.array([0.5, 2.0, 3.5, 5.0])
    py = np.array([0.5, 2.0, 3.5, 2.0])
    assert refs.points_in_rings(px, py, [shell, hole]).tolist() == \
        [True, False, True, False]


def test_cell_ids_match_the_documented_layout():
    c = refs.cell_ids(np.array([0.0]), np.array([0.0]), 1)
    # lon 0 -> x = 1, lat 0 -> y = 1 at res 1
    assert int(c[0]) == (1 << 58) | (1 << 29) | 1
    assert int(refs.parent_ids(c, 1, 0)[0]) == 0


def test_knn_breaks_distance_ties_by_url():
    pts = pd.DataFrame({"url": ["b", "a", "c"], "lat": [1.0, 1.0, 2.0],
                        "lon": [1.0, 1.0, 2.0]})
    q = pd.DataFrame({"qid": ["q"], "qlat": [0.0], "qlon": [0.0]})
    out = refs.knn(pts, q, 2)
    assert out["url"].tolist() == ["a", "b"]
    assert out["rnk"].tolist() == [1, 2]
