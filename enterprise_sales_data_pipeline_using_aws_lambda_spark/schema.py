"""Explicit schemas.

The reference infers schema at read time and validates post-hoc
(reference ``lambda.py:65-71`` read, ``lambda.py:81-121`` validate).  At
100 TB, schema inference means an extra full scan and nondeterministic
types, so the engine's primary mode is an explicit ``StructType``; the
inference mode is kept for reference parity (see ``sources.readers``).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: The 14 required sales columns — reference ``lambda.py:83-87``.
SALES_REQUIRED_COLUMNS = [
    "uuid",
    "Country",
    "ItemType",
    "SalesChannel",
    "OrderPriority",
    "OrderDate",
    "Region",
    "ShipDate",
    "UnitsSold",
    "UnitPrice",
    "UnitCost",
    "TotalRevenue",
    "TotalCost",
    "TotalProfit",
]

#: Columns that must be numeric — reference ``lambda.py:96``.
SALES_NUMERIC_COLUMNS = [
    "UnitsSold",
    "UnitPrice",
    "UnitCost",
    "TotalRevenue",
    "TotalCost",
    "TotalProfit",
]

#: Columns that must parse as %m/%d/%Y dates — reference ``lambda.py:103``.
SALES_DATE_COLUMNS = ["OrderDate", "ShipDate"]

#: Spark date pattern equivalent to the reference's ``%m/%d/%Y``
#: (reference ``lambda.py:107``).  ``M/d`` accepts both zero-padded and
#: single-digit month/day, matching pandas' parser.
SALES_DATE_FORMAT = "M/d/yyyy"

#: Unique-key column — reference ``lambda.py:112-114``.
SALES_KEY_COLUMN = "uuid"


def sales_ingest_schema() -> T.StructType:
    """Schema for raw CSV/JSON sales input.

    Dates stay ``StringType`` at ingest — the date *check-and-cast* is part
    of validation, mirroring the reference where a successful date check
    converts the column in place (``lambda.py:103-109``).
    """
    return T.StructType(
        [
            T.StructField("uuid", T.LongType()),
            T.StructField("Country", T.StringType()),
            T.StructField("ItemType", T.StringType()),
            T.StructField("SalesChannel", T.StringType()),
            T.StructField("OrderPriority", T.StringType()),
            T.StructField("OrderDate", T.StringType()),
            T.StructField("Region", T.StringType()),
            T.StructField("ShipDate", T.StringType()),
            T.StructField("UnitsSold", T.LongType()),
            T.StructField("UnitPrice", T.DoubleType()),
            T.StructField("UnitCost", T.DoubleType()),
            T.StructField("TotalRevenue", T.DoubleType()),
            T.StructField("TotalCost", T.DoubleType()),
            T.StructField("TotalProfit", T.DoubleType()),
        ]
    )
