"""DESCRIBE every oracle in DuckDB and flag driver-hazard column types.

DuckDB types ``sum(CASE ...)``/``count_if`` over integers as HUGEINT;
pandas converts HUGEINT to float64, while the matching Spark column is
int64 — the driver's value hash then diverges on numerically-equal
answers (VERDICT r03).  Every flagged column needs ``CAST(... AS
BIGINT)`` in the oracle SQL.

Usage: python tools/oracle_types.py  → prints offenders, exit 1 if any.
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import duckdb

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
HAZARD = {"HUGEINT", "UHUGEINT"}


def main() -> int:
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    bad = 0
    for name, sql in entrymod.oracle_sql().items():
        try:
            desc = con.sql(f"DESCRIBE ({sql})").fetchall()
        except Exception as e:  # pragma: no cover - oracle must at least parse
            print(f"ERR  {name}: {e}")
            bad += 1
            continue
        hits = [(c, t) for c, t, *_ in desc if t.upper() in HAZARD]
        if hits:
            print(f"HAZARD {name}: {hits}")
            bad += 1
    if not bad:
        print("clean: no HUGEINT/UHUGEINT oracle columns")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
