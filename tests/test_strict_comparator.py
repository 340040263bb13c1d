"""The local gate's comparator must be at least as strict as the driver's
value hash (VERDICT r4 items 1–2): dtype drift between an int Spark column
and a float oracle column is a FAIL even when values are numerically equal
(that exact case shipped the two r4 driver reds while the old tolerant
comparator stayed green), and float columns compare bit-exact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from tools.check_correctness import compare


def test_int_float_drift_fails_even_with_equal_values():
    got = pd.DataFrame({"k": [1, 2], "v": pd.array([3, 4], dtype="int64")})
    want = pd.DataFrame({"k": [1, 2], "v": pd.array([3.0, 4.0], dtype="float64")})
    problems = compare("t", got, want)
    assert problems and "dtype drift" in problems[0]


def test_prefix_decayed_oracle_replay_fails():
    """Replay the r4 bug: the pre-fix tile_rollup oracle materialized its
    HUGEINT sum as float64 against Spark's int64 — the hardened gate must
    flag it (the old 1e-12-tolerance comparator passed it)."""
    import duckdb

    con = duckdb.connect()
    spark_side = pd.DataFrame(
        {"res": pd.array([0], dtype="int64"), "val": pd.array([6], dtype="int64")}
    )
    old = con.sql(
        "SELECT 0 AS res, sum(CAST(r AS BIGINT)) AS val FROM range(4) t(r)"
    ).df()
    fixed = con.sql(
        "SELECT 0 AS res, CAST(sum(CAST(r AS BIGINT)) AS BIGINT) AS val "
        "FROM range(4) t(r)"
    ).df()
    assert compare("old", spark_side, old) != []
    assert compare("fixed", spark_side, fixed) == []


def test_floats_compare_bit_exact_not_tolerant():
    a = pd.DataFrame({"x": np.array([0.1 + 0.2], dtype="float64")})
    b = pd.DataFrame({"x": np.array([0.3], dtype="float64")})
    problems = compare("t", a, b)  # 0.1+0.2 != 0.3 in IEEE — must FAIL
    assert problems and "bit-mismatched" in problems[0]
    assert compare("t", a, a.copy()) == []


def test_nan_equals_nan_and_rowcount_guard():
    a = pd.DataFrame({"x": np.array([np.nan, 1.0])})
    assert compare("t", a, a.copy()) == []
    b = pd.DataFrame({"x": np.array([np.nan])})
    assert compare("t", a, b) == ["rowcount 2 != 1"]


def test_order_insensitive():
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    b = a.iloc[[2, 0, 1]].reset_index(drop=True)
    assert compare("t", a, b) == []


def test_null_in_object_column_matches_across_representations():
    """A null materialises as None on one side (Spark) and NaN on the other
    (DuckDB's .df()): the same null must compare equal, and stay distinct
    from the literal strings 'None' and 'nan'."""
    got = pd.DataFrame({"k": [1, 2], "s": pd.Series(["a", None], dtype=object)})
    want = pd.DataFrame({"k": [1, 2], "s": pd.Series(["a", np.nan], dtype=object)})
    assert compare("t", got, want) == []
    for literal in ("None", "nan"):
        text = pd.DataFrame({"k": [1, 2], "s": pd.Series(["a", literal], dtype=object)})
        assert compare("t", got, text) != []
        assert compare("t", want, text) != []
