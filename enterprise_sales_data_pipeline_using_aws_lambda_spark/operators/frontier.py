"""Pareto-frontier (skyline) extraction.

A point dominates another when it is >= in every dimension and
strictly greater in at least one; the skyline is the set of
non-dominated points — the "best tradeoffs" query (price vs quantity,
quality vs cost) OLAP engines expose as SKYLINE / Pareto operators
(Borzsony, Kossmann & Stocker, ICDE '01, public).

The 2-D case has a sort-based linear scan: after sorting by
(x desc, y desc), a point is on the skyline iff its y exceeds the
running maximum y of everything before it.  Distribution follows the
classic two-phase scheme: per-partition local skylines in parallel
(pruning is CONSERVATIVE — a locally-dominated point is globally
dominated, and domination is transitive, so no global skyline point is
ever pruned), then one pass over the survivors.  The survivor set is
the union of local skylines — for real-valued data that is a tiny
fraction of the input, and the final pass touches only it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .materialize import materialize


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Maximal (non-dominated) distinct (x, y) points, both dimensions
    maximized.

    Phase 1 range-partitions on (x desc, y desc) — local sorts are
    parallel and spillable — and keeps each partition's local skyline
    via the running-max-y scan.  Phase 2 repeats the scan once over the
    union of local skylines; that frame IS the final single-task sort,
    and it is bounded by the sum of per-partition skyline sizes, not by
    the input.  Ties: exact duplicate points are collapsed first
    (neither copy dominates the other); an equal-x, lower-y point is
    dominated and dropped by the same running-max rule."""
    spark = df.sparkSession
    num_partitions = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    x, y = F.col(x_col), F.col(y_col)
    pts = (
        df.select(x.alias(x_col), y.alias(y_col))
        .filter(x.isNotNull() & y.isNotNull())
        .distinct()
        .repartitionByRange(num_partitions, x.desc(), y.desc())
        .withColumn("_pid", F.spark_partition_id())
    )
    # _pid feeds a self-consistent window; the range exchange samples
    # its boundaries at run time, so with exchange reuse off every
    # branch must read one eagerly pinned _pid assignment
    if spark.conf.get("spark.sql.exchange.reuse", "true") == "false":
        pts = materialize(pts)

    local = (
        pts.withColumn(
            "_mx",
            F.max(y).over(
                Window.partitionBy("_pid")
                .orderBy(x.desc(), y.desc())
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .filter(F.col("_mx").isNull() | (F.col("_mx") < y))
        .drop("_mx", "_pid")
    )
    return (
        local.withColumn(
            "_mx",
            F.max(y).over(
                Window.orderBy(x.desc(), y.desc())
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .filter(F.col("_mx").isNull() | (F.col("_mx") < y))
        .drop("_mx")
    )
