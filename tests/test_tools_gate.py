"""Regression tests for the local correctness-gate tooling.

Rounds 2 AND 3 shipped driver-red rows that the then-current
``tools/check_oracle.py`` called green: its ``fetchall()`` path
converted DuckDB HUGEINT to Python int, erasing the exact failure mode
the driver sees (HUGEINT → pandas float64 vs Spark int64 under a
float-exact value hash).  These tests pin the pandas-faithful behavior
so the tool can never regress to dtype-blind comparison, and pin the
DESCRIBE sweep that keeps HUGEINT out of oracles entirely.
"""

import duckdb
import numpy as np
import pandas as pd

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from tools.check_oracle import UnhashableOutput, dtype_drift, frame_rowset  # noqa: E402


def test_int64_and_float64_values_differ():
    """1822 (int64) must NOT equal 1822.0 (float64) — the driver's
    failure mode for HUGEINT oracles."""
    spark_like = pd.DataFrame({"n": pd.array([1822], dtype="int64")})
    oracle_like = pd.DataFrame({"n": pd.array([1822.0], dtype="float64")})
    assert frame_rowset(spark_like) != frame_rowset(oracle_like)
    assert dtype_drift(spark_like, oracle_like) != []


def test_hugeint_oracle_column_reproduces_drift():
    """A real count_if through DuckDB's .df() shows the float64 face;
    the CAST AS BIGINT form matches int64."""
    con = duckdb.connect()
    bad = con.sql(
        "SELECT count_if(x > 1) AS n FROM (VALUES (1), (2), (3)) t(x)"
    ).df()
    good = con.sql(
        "SELECT CAST(count_if(x > 1) AS BIGINT) AS n"
        " FROM (VALUES (1), (2), (3)) t(x)"
    ).df()
    spark_like = pd.DataFrame({"n": pd.array([2], dtype="int64")})
    assert bad["n"].dtype.kind == "f"
    assert frame_rowset(bad) != frame_rowset(spark_like)
    assert good["n"].dtype.kind == "i"
    assert frame_rowset(good) == frame_rowset(spark_like)


def test_matching_frames_compare_equal_across_row_and_col_order():
    a = pd.DataFrame({"x": [1, 2], "y": ["b", "a"]})
    b = pd.DataFrame({"y": ["a", "b"], "x": [2, 1]})
    assert frame_rowset(a) == frame_rowset(b)


def test_midnight_timestamp_pairs_with_date():
    """DuckDB .df() maps DATE to datetime64 midnight; Spark toPandas
    keeps datetime.date — the driver demonstrably accepts the pairing."""
    import datetime

    s = pd.DataFrame({"d": [datetime.date(2024, 3, 1)]})
    o = pd.DataFrame({"d": pd.to_datetime(["2024-03-01"])})
    assert frame_rowset(s) == frame_rowset(o)


def test_nonscalar_output_raises_driver_unhashable():
    import pytest

    bad = pd.DataFrame({"a": [[1, 2]]})
    with pytest.raises(UnhashableOutput):
        frame_rowset(bad)


def test_nan_distinct_from_null_and_exact_floats():
    s = pd.DataFrame({"v": pd.array([float("nan")], dtype="float64")})
    o = pd.DataFrame({"v": pd.array([None], dtype="object")})
    assert frame_rowset(s) != frame_rowset(o)
    a = pd.DataFrame({"v": [0.1 + 0.2]})
    b = pd.DataFrame({"v": [0.3]})
    assert frame_rowset(a) != frame_rowset(b)  # float-exact, no tolerance


def test_nullable_int_on_both_sides_is_not_drift():
    """A genuinely nullable int column becomes float64 with NaN on
    BOTH engines — that pairing must not be flagged."""
    s = pd.DataFrame({"n": pd.array([1.0, np.nan], dtype="float64")})
    o = pd.DataFrame({"n": pd.array([1.0, np.nan], dtype="float64")})
    assert dtype_drift(s, o) == []


def test_oracle_types_sweep_is_clean():
    """No registered oracle may type any column HUGEINT/UHUGEINT."""
    import subprocess

    r = subprocess.run(
        [sys.executable, os.path.join(REPO_ROOT, "tools", "oracle_types.py")],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stdout + r.stderr
