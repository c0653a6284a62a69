import csv
import datetime as dt
import json
import os
import random
import sys
from types import SimpleNamespace

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from enterprise_sales_data_pipeline_using_aws_lambda_spark.session import (  # noqa: E402
    get_spark,
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture()
def sales_rows():
    """Five valid sales rows matching the reference's 14-column contract."""
    def row(uuid, country, units, price, cost, od="1/4/2014", sd="1/12/2014"):
        revenue = units * price
        total_cost = units * cost
        return {
            "uuid": uuid,
            "Country": country,
            "ItemType": "Cereal",
            "SalesChannel": "Online",
            "OrderPriority": "H",
            "OrderDate": od,
            "Region": "Europe",
            "ShipDate": sd,
            "UnitsSold": units,
            "UnitPrice": price,
            "UnitCost": cost,
            "TotalRevenue": revenue,
            "TotalCost": total_cost,
            "TotalProfit": revenue - total_cost,
        }

    return [
        row(1, "Germany", 100, 10.0, 6.0),
        row(2, "Germany", 200, 10.0, 6.0),
        row(3, "France", 50, 20.0, 15.0, od="12/31/2016", sd="1/23/2017"),
        row(4, "France", 75, 20.0, 15.0),
        row(5, "Japan", 10, 5.0, 4.0),
    ]


@pytest.fixture()
def sales_df(spark, sales_rows):
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.schema import (
        sales_ingest_schema,
    )

    return spark.createDataFrame(sales_rows, schema=sales_ingest_schema())


#: The reference repository's own sample files, used when it is checked
#: out as ``reference/`` beside this repository.
REFERENCE_SAMPLE_DIR = os.path.join(
    os.path.dirname(REPO_ROOT), "reference", "sample_data"
)

# Value domains of the reference's 500-row sample (FIXTURES.md §1).
SAMPLE_COUNTRIES = [
    "Brazil", "Canada", "Germany", "India", "Japan",
    "Kenya", "Mexico", "Norway", "Qatar", "Thailand",
]
SAMPLE_ITEM_TYPES = [
    "Beverages", "Cereal", "Clothes", "Cosmetics", "Electronics",
    "Fruits", "Meat", "Office Supplies", "Snacks", "Vegetables",
]
SAMPLE_REGIONS = [
    "Asia", "Australia and Oceania", "Central America and the Caribbean",
    "Europe", "Middle East and North Africa", "North America",
    "Sub-Saharan Africa",
]


def sample_sales_rows(uuids, rng):
    """One reference-shaped sales row per uuid, in the 14-column order.
    Dates stay ``datetime.date`` and totals the raw float64 products;
    the writers below format them per serialization."""
    first, last = dt.date(2014, 1, 4), dt.date(2016, 12, 31)
    rows = []
    for i, uuid in enumerate(uuids):
        order = first + dt.timedelta(days=rng.randint(0, (last - first).days))
        units = rng.randint(102, 9993)
        price = round(rng.uniform(5.43, 499.70), 2)
        cost = round(max(4.56, price * rng.uniform(0.55, 0.835)), 2)
        revenue, total_cost = units * price, units * cost
        rows.append({
            "uuid": uuid,
            "Country": SAMPLE_COUNTRIES[i % len(SAMPLE_COUNTRIES)],
            "ItemType": rng.choice(SAMPLE_ITEM_TYPES),
            "SalesChannel": rng.choice(["Online", "Offline"]),
            "OrderPriority": rng.choice("CHLM"),
            "OrderDate": order,
            "Region": rng.choice(SAMPLE_REGIONS),
            "ShipDate": order + dt.timedelta(days=rng.randint(0, 60)),
            "UnitsSold": units,
            "UnitPrice": price,
            "UnitCost": cost,
            "TotalRevenue": revenue,
            "TotalCost": total_cost,
            "TotalProfit": revenue - total_cost,
        })
    return rows


def write_sales_sample(out_dir, n=500):
    """Deterministic stand-in for the reference sample: ``n`` valid rows
    as a CSV (``M/d/yyyy`` dates, cent-rounded totals) and an NDJSON
    twin (zero-padded escaped-slash dates ``"03\\/08\\/2016"``, raw
    float64 totals) over a disjoint uuid set, as in the reference's
    ``sales_data_500.csv`` / ``sales_data.json``."""
    rng = random.Random(500)
    uuids = rng.sample(range(100_000_000, 1_000_000_000), 2 * n)
    os.makedirs(out_dir, exist_ok=True)
    csv_path = os.path.join(out_dir, "sales_data_500.csv")
    with open(csv_path, "w", newline="") as fh:
        rows = sample_sales_rows(uuids[:n], rng)
        w = csv.DictWriter(fh, fieldnames=list(rows[0]))
        w.writeheader()
        for r in rows:
            for c in ("OrderDate", "ShipDate"):
                r[c] = f"{r[c].month}/{r[c].day}/{r[c].year}"
            for c in ("TotalRevenue", "TotalCost", "TotalProfit"):
                r[c] = round(r[c], 2)
            w.writerow(r)
    json_path = os.path.join(out_dir, "sales_data.json")
    with open(json_path, "w") as fh:
        for r in sample_sales_rows(uuids[n:], rng):
            for c in ("OrderDate", "ShipDate"):
                r[c] = r[c].strftime("%m/%d/%Y")
            # no other field holds a slash
            fh.write(json.dumps(r).replace("/", "\\/") + "\n")
    return SimpleNamespace(csv=csv_path, json=json_path)


@pytest.fixture()
def sales_sample(tmp_path):
    """``.csv`` / ``.json`` paths of the reference's sample files when
    they are checked out, else of their generated stand-ins."""
    real = SimpleNamespace(
        csv=os.path.join(REFERENCE_SAMPLE_DIR, "sales_data_500.csv"),
        json=os.path.join(REFERENCE_SAMPLE_DIR, "sales_data.json"),
    )
    if os.path.exists(real.csv) and os.path.exists(real.json):
        return real
    return write_sales_sample(tmp_path / "sample_data")
