"""The oracle comparison's canonical row form."""

import pandas as pd

from emiproc_spark.parity import _canon


def test_canon_sorts_null_and_string_in_one_column():
    df = pd.DataFrame({"a": ["x", "x", "x"], "b": ["y", None, "a"]})
    assert _canon(df) == [("x", None), ("x", "a"), ("x", "y")]


def test_canon_is_a_multiset_key():
    df = pd.DataFrame({"a": ["x", "x", None], "b": [None, "y", "y"]})
    assert _canon(df) == _canon(df.iloc[::-1].reset_index(drop=True))
    assert _canon(df) != _canon(df.iloc[[0, 0, 1]])
