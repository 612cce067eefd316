"""The correctness gate's digest: order-insensitive, and it can fail."""

from __future__ import annotations

import numpy as np
import pandas as pd

from oracle import digest, mismatch


def _df(**cols):
    return pd.DataFrame(cols)


def test_row_and_column_order_do_not_matter():
    a = _df(k=[1, 2, 3], v=[0.5, 1.5, 2.5])
    b = pd.DataFrame({"v": [2.5, 0.5, 1.5], "k": [3, 1, 2]})
    assert mismatch(digest(a), digest(b)) is None


def test_int_width_does_not_matter_but_int_vs_float_does():
    a = _df(k=np.array([1, 2], dtype=np.int64))
    assert mismatch(digest(a), digest(_df(k=np.array([1, 2], dtype=np.int32)))) is None
    assert "columns" in mismatch(digest(a), digest(_df(k=[1.0, 2.0])))


def test_doubles_compare_bitwise():
    assert mismatch(digest(_df(x=[0.0])), digest(_df(x=[-0.0]))) == "values differ from the oracle"
    assert mismatch(digest(_df(x=[0.1 + 0.2])), digest(_df(x=[0.3]))) is not None


def test_null_and_nan_are_equal():
    assert mismatch(digest(_df(x=[np.nan, 1.0])), digest(_df(x=[None, 1.0]))) is None


def test_multiset_rows_count_duplicates():
    a = _df(k=[1, 1, 2])
    assert mismatch(digest(a), digest(_df(k=[1, 2, 2]))) is not None
    assert "rows" in mismatch(digest(a), digest(_df(k=[1, 2])))


def test_nested_values_and_timestamps():
    ts = pd.to_datetime(["2024-01-01 00:00:01"])
    a = _df(t=ts, l=[[1.0, -0.0]])
    assert mismatch(digest(a), digest(_df(t=ts.tz_localize("UTC"), l=[[1.0, -0.0]]))) is None
    assert mismatch(digest(a), digest(_df(t=ts, l=[[1.0, 0.0]]))) is not None
