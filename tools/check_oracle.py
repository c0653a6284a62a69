"""Local replica of the driver's t2 correctness gate — pandas-faithful.

Runs every ``queries()`` entry at sf0.01 and compares against its
``oracle_sql()`` via DuckDB: row count, column names, and an
order-insensitive value comparison (columns sorted by name, rows sorted).

Driver fidelity (VERDICT r03): the driver hashes *pandas* frames —
Spark via ``toPandas()``, the oracle via ``con.sql(sql).df()`` — so a
DuckDB HUGEINT column (``sum(CASE …)``/``count_if``) surfaces as
float64 (``1822.0``) while Spark returns int64 (``1822``) and the hash
diverges on numerically-equal answers.  The previous version of this
tool fetched oracle values with ``fetchall()`` (HUGEINT → Python int),
which erased exactly that difference and let 10 red rows ship as
"locally green" in rounds 2 and 3.  This version:

- pulls BOTH sides through pandas (``toPandas()`` / ``.df()``),
- canonicalizes values dtype-sensitively (int64 ``1822`` != float64
  ``1822.0``; float repr is exact, no rounding tolerance),
- flags integer-vs-float column *dtype* drift even when every value in
  the sf0.01 sample happens to agree,
- treats tz-naive midnight timestamps as dates (DuckDB ``.df()`` maps
  DATE → datetime64; Spark ``toPandas`` keeps ``datetime.date`` — the
  driver demonstrably accepts this pairing: all date-valued gates are
  driver-green).

Usage: python tools/check_oracle.py [query ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import duckdb
import numpy as np
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


class UnhashableOutput(Exception):
    """Raised when a gate query outputs a column the driver's pandas
    hasher cannot hash (list/dict/set → TypeError: unhashable type)."""


def canon(v):
    # Nulls first: pandas uses None / NaT / NaN interchangeably per
    # dtype; NaN stays distinct ("NaN") because a float NaN value is a
    # real output, while None/NaT mark SQL NULL in object/datetime cols.
    if v is None or v is pd.NaT:
        return "None"
    if isinstance(v, (np.bool_, bool)):
        return repr(bool(v))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        # Driver-strict: float-exact (no rounding tolerance), and a
        # float64 1822.0 must NOT equal an int64 1822.
        return repr(f)
    if isinstance(v, (np.integer, int)):
        return repr(int(v))
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is None and v == v.normalize():
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None and v.time() == datetime.time(0):
            return v.date().isoformat()
        return v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, dict, set, np.ndarray)):
        # The driver's pandas-based hasher crashes on non-scalar output
        # columns (CORRECTNESS_r02: "TypeError: unhashable type: 'list'").
        # Replicate that failure locally so it never reaches the driver.
        raise UnhashableOutput(
            f"non-scalar output value {type(v).__name__}: project arrays/"
            "maps to to_json/concat_ws in the gate output"
        )
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return repr(v)


def frame_rowset(pdf: pd.DataFrame) -> list[str]:
    cols = sorted(pdf.columns)
    # itertuples preserves per-column numpy dtypes (int64 vs float64),
    # unlike fetchall()'s Python-native conversion.
    return sorted(
        "|".join(canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )


def dtype_drift(spdf: pd.DataFrame, opdf: pd.DataFrame) -> list[str]:
    """Integer-vs-float dtype drift between the two pandas frames.

    Only the numeric-kind conflict is flagged: object-vs-datetime64 for
    dates is a pairing the driver demonstrably accepts, but int64 on one
    side and float64 on the other is the exact HUGEINT failure mode —
    red even when every sampled value agrees after float conversion.
    """
    drift = []
    for c in sorted(spdf.columns):
        sk = spdf[c].dtype.kind
        ok = opdf[c].dtype.kind
        if {sk, ok} <= {"i", "u", "f"} and ("f" in (sk, ok)) and sk != ok:
            # A genuinely nullable int column becomes float64 with NaN
            # on BOTH sides; one-sided float is the hazard.
            drift.append(f"{c}: spark={spdf[c].dtype} oracle={opdf[c].dtype}")
    return drift


def main() -> int:
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[1:])
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.materialize import (  # noqa: E501
                release_checkpoints,
            )

            release_checkpoints(spark)
            sdf = fn(spark, SF_DIR)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"OK?  {name}: rows-only ({len(spdf)} rows, {dt:.1f}s) "
                  f"cols={list(spdf.columns)}")
            continue
        try:
            opdf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures += 1
            continue
        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rowcount spark={len(spdf)} oracle={len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(
                f"cols spark={sorted(spdf.columns)} "
                f"oracle={sorted(opdf.columns)}"
            )
        if not problems:
            drift = dtype_drift(spdf, opdf)
            if drift:
                problems.append(f"numeric dtype drift: {drift}")
            try:
                sset = frame_rowset(spdf)
                oset = frame_rowset(opdf)
            except UnhashableOutput as e:
                problems.append(f"driver-unhashable output: {e}")
                sset = oset = None
            if sset is not None and sset != oset:
                diff = [
                    (a, b) for a, b in zip(sset, oset) if a != b
                ][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"PASS {name} ({len(spdf)} rows, {dt:.1f}s)")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
