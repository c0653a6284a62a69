"""Seeded input generators: the same seed always yields the same bytes.

- :func:`sales_batches` — raw sales files in the reference's 14-column
  schema, alternating CSV and NDJSON, with reused uuids (upserts) and
  planted defects (quarantine).
- :func:`star_tables` — the star-schema parquet tables the query mix
  reads (TPC-H-shaped lineitem/orders/customer/supplier/nation/region
  plus the events table).
- :func:`dedup_docs` — a text corpus plus ingest batches with planted
  near-duplicates.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Sales batches
# --------------------------------------------------------------------------

COUNTRIES = [
    ("Germany", "Europe"), ("France", "Europe"), ("Norway", "Europe"),
    ("Portugal", "Europe"), ("Japan", "Asia"), ("India", "Asia"),
    ("Mongolia", "Asia"), ("Kenya", "Sub-Saharan Africa"),
    ("Ghana", "Sub-Saharan Africa"), ("Chad", "Sub-Saharan Africa"),
    ("Mexico", "Central America and the Caribbean"),
    ("Cuba", "Central America and the Caribbean"),
    ("Canada", "North America"), ("Egypt", "Middle East and North Africa"),
    ("Oman", "Middle East and North Africa"),
    ("Australia", "Australia and Oceania"), ("Fiji", "Australia and Oceania"),
]
# (item type, unit price, unit cost) — the reference data's price list
ITEMS = [
    ("Baby Food", 255.28, 159.42), ("Beverages", 47.45, 31.79),
    ("Cereal", 205.70, 117.11), ("Clothes", 109.28, 35.84),
    ("Cosmetics", 437.20, 263.33), ("Fruits", 9.33, 6.92),
    ("Household", 668.27, 502.54), ("Meat", 421.89, 364.69),
    ("Office Supplies", 651.21, 524.96), ("Personal Care", 81.73, 56.67),
    ("Snacks", 152.58, 97.44), ("Vegetables", 154.06, 90.93),
]
BAD_DATE = "13/45/2016"  # month 13: fails the M/d/yyyy parse


@dataclass
class SalesBatch:
    path: str
    rows: pd.DataFrame
    defect: str | None  # None, "duplicate_uuid" or "bad_date"

    @property
    def expected_error(self) -> str | None:
        return {
            None: None,
            "duplicate_uuid": "Duplicate uuid values found",
            "bad_date": "Invalid date format in column OrderDate",
        }[self.defect]


def _mdy(days: np.ndarray) -> list[str]:
    base = dt.date(2010, 1, 1)
    out = []
    for d in days.tolist():
        x = base + dt.timedelta(days=d)
        out.append(f"{x.month}/{x.day}/{x.year}")
    return out


def _sales_rows(rng: np.random.Generator, uuids: np.ndarray) -> pd.DataFrame:
    n = len(uuids)
    c = rng.integers(0, len(COUNTRIES), n)
    it = rng.integers(0, len(ITEMS), n)
    units = rng.integers(1, 10_000, n)
    price = np.array([ITEMS[i][1] for i in it])
    cost = np.array([ITEMS[i][2] for i in it])
    order_day = rng.integers(0, 8 * 365, n)
    revenue = np.round(units * price, 2)
    total_cost = np.round(units * cost, 2)
    return pd.DataFrame({
        "uuid": uuids.astype(np.int64),
        "Country": [COUNTRIES[i][0] for i in c],
        "ItemType": [ITEMS[i][0] for i in it],
        "SalesChannel": np.where(rng.random(n) < 0.5, "Online", "Offline"),
        "OrderPriority": rng.choice(["H", "M", "L", "C"], n),
        "OrderDate": _mdy(order_day),
        "Region": [COUNTRIES[i][1] for i in c],
        "ShipDate": _mdy(order_day + rng.integers(0, 50, n)),
        "UnitsSold": units.astype(np.int64),
        "UnitPrice": price,
        "UnitCost": cost,
        "TotalRevenue": revenue,
        "TotalCost": total_cost,
        "TotalProfit": np.round(revenue - total_cost, 2),
    })


def sales_batches(
    seed: int,
    out_dir: str,
    n_warm: int,
    n_timed: int,
    rows: int,
    reuse: float = 0.2,
    defect_every: int = 10,
) -> tuple[list[SalesBatch], list[SalesBatch]]:
    """Write ``n_warm + n_timed`` raw batches of ``rows`` rows each.

    Even batches are CSV, odd ones NDJSON.  About ``reuse`` of each
    batch's uuids repeat uuids of earlier valid batches, so the
    keep-last upsert updates rows.  The warm-up batches put one defect
    at index 1 so the quarantine path is warm before the clock starts;
    ``round(n_timed / defect_every)`` timed batches (at least one), at
    seed-chosen positions, carry a defect of alternating kinds — a fixed
    count, so every seed does the same amount of work."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_bad = max(1, round(n_timed / defect_every))
    bad_at = set(rng.choice(n_timed, n_bad, replace=False).tolist())
    kinds = ["duplicate_uuid", "bad_date"]
    kind_start = int(rng.integers(0, 2))
    pool: list[np.ndarray] = []
    next_uuid = 1
    out: list[SalesBatch] = []
    n_defects = 0
    for b in range(n_warm + n_timed):
        if b < n_warm:
            defect = "duplicate_uuid" if b == 1 else None
        elif b - n_warm in bad_at:
            defect = kinds[(kind_start + n_defects) % 2]
            n_defects += 1
        else:
            defect = None
        n_old = int(rows * reuse) if pool else 0
        old = np.unique(np.concatenate(pool)) if pool else np.array([], np.int64)
        reused = rng.choice(old, n_old, replace=False) if n_old else old
        fresh = np.arange(next_uuid, next_uuid + rows - n_old)
        next_uuid += rows - n_old
        ids = np.concatenate([reused, fresh])
        rng.shuffle(ids)
        df = _sales_rows(rng, ids)
        if defect == "duplicate_uuid":
            df.loc[1, "uuid"] = df.loc[0, "uuid"]
        elif defect == "bad_date":
            df.loc[int(rng.integers(0, rows)), "OrderDate"] = BAD_DATE
        else:
            pool.append(ids)
        if b % 2 == 0:
            path = os.path.join(out_dir, f"sales_{b:04d}.csv")
            df.to_csv(path, index=False)
        else:
            path = os.path.join(out_dir, f"sales_{b:04d}.json")
            df.to_json(path, orient="records", lines=True)
        out.append(SalesBatch(path, df, defect))
    return out[:n_warm], out[n_warm:]


# --------------------------------------------------------------------------
# Star-schema tables
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "logout"]


def _ts(base: dt.datetime, us: np.ndarray) -> pa.Array:
    epoch_us = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6
    return pa.array(us.astype(np.int64) + epoch_us, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(out_dir, f"{name}.parquet")
    )


def star_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write the tables the query mix reads at scale factor ``sf``
    (row counts follow TPC-H: 1.5M orders per unit of sf).  Returns
    the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_users, n_events = max(int(15_000 * sf), 10), int(1_000_000 * sf)
    day = 86_400 * 10**6
    base = dt.datetime(1995, 1, 1)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    order_day = rng.integers(0, 1_310, n_ord)  # 1995-01-01 .. 1998-08-02
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_ord), 2),
        "o_orderdate": _ts(base, order_day * day),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    li_order = np.repeat(np.arange(n_ord), lines)
    li_num = np.concatenate([np.arange(1, k + 1) for k in lines.tolist()])
    part_price = np.round(rng.uniform(900, 2_000, n_part), 2)
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_day = order_day[li_order] + rng.integers(1, 122, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": li_order.astype(np.int64),
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(li_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * part_price[partkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(base, ship_day * day),
    })
    month_us = 31 * day
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(dt.datetime(2024, 1, 1),
                  rng.integers(0, month_us, n_events)),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.uniform(0, 100, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in
                  rng.integers(0, 100, n_events).tolist()],
    })
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "orders": n_ord, "lineitem": n_li, "events": n_events,
    }


# --------------------------------------------------------------------------
# Dedup corpus and batches
# --------------------------------------------------------------------------

@dataclass
class DocBatch:
    rows: list[tuple[int, str]]
    planted: set[int]  # ids the dedup must drop


def dedup_docs(
    seed: int, n_corpus: int, n_batches: int, batch_docs: int,
    dup_every: int = 20, words: int = 40,
) -> tuple[list[tuple[int, str]], list[DocBatch]]:
    """A corpus of random-word documents plus ingest batches.  Every
    ``dup_every``-th batch doc is a planted near-duplicate — one word
    changed out of ``words`` — in turn of a corpus doc, of any doc
    admitted so far (corpus or earlier batch), or of an earlier novel
    doc in the same batch.  Novel docs share almost no 5-character shingles, so the
    planted docs are exactly the ones the dedup drops."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = [
        "".join(rng.choice(letters, int(k)))
        for k in rng.integers(4, 10, 20_000)
    ]

    def doc() -> list[str]:
        return [vocab[i] for i in rng.integers(0, len(vocab), words)]

    def near(text: str) -> str:
        w = text.split(" ")
        w[int(rng.integers(0, words))] = "zqzqzq"
        return " ".join(w)

    corpus = [(i, " ".join(doc())) for i in range(n_corpus)]
    admitted = list(corpus)
    next_id = n_corpus
    batches = []
    for b in range(n_batches):
        rows: list[tuple[int, str]] = []
        planted: set[int] = set()
        for j in range(batch_docs):
            kind = (j // dup_every) % 3
            if j % dup_every == dup_every - 1:
                if kind == 2:
                    novel = [r for r in rows if r[0] not in planted]
                    src = novel[int(rng.integers(0, len(novel)))][1]
                else:
                    src = admitted[int(rng.integers(
                        0, n_corpus if kind == 0 else len(admitted)))][1]
                rows.append((next_id, near(src)))
                planted.add(next_id)
            else:
                rows.append((next_id, " ".join(doc())))
            next_id += 1
        # every planted doc copies a doc the dedup admits
        admitted.extend(r for r in rows if r[0] not in planted)
        batches.append(DocBatch(rows, planted))
    return corpus, batches
