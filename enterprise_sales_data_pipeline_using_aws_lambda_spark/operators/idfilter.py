"""Guarded pushed-filter anti-join for id-level exactly-once checks.

Every incremental-state operator in this package pre-filters a batch
against its persisted store ("ids already present are a replayed
delivery") and appends with the same anti-join.  A plain anti-join
scans the store's full id column per batch — only ~8 B/doc, but still
corpus-linear, and at a 100 TB corpus that's the last per-batch read
whose cost grows with the corpus instead of the batch.

The batch side of these joins is bounded by construction (the store
paths enforce batch-sized contracts), so the ids can be collected and
PUSHED into the store scan as a literal In filter, and the anti-join
itself becomes a broadcast against the batch-bounded hit set.  The
parquet-side benefit is two-tier: up to the session's
``spark.sql.parquet.pushdown.inFilterThreshold`` (see session.py —
deliberately far below MAX_ID_PUSHDOWN, because parquet's exact-In
form recurses per value and overflows an executor stack near 1000)
the filter reaches row-group stats as exact per-value checks and
prunes even scattered ids on an id-clustered store; past it the
pushed form degrades to a [min,max] range (prunes only clustered
ids) while the broadcast-hit-set anti-join still replaces the full
id-column scan.  Past the guard, the plain anti-join takes over
unchanged — the fallback is always exact, the fast path is exact too
(an In probe returns exactly the present ids), so this is a
scan-bound optimization, never a semantics change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Ceiling on batch ids collected for the pushed-filter fast path — THE
#: one definition (text_dedup.MAX_VERIFY_ID_PUSHDOWN aliases it): a
#: 10k-long collect is trivial driver work, and typical ingest batches
#: sit well under.
MAX_ID_PUSHDOWN = 10_000


def in_ids(id_col: str, ids: list) -> Column:
    """``id_col IN ids`` as a pushable literal filter; an empty list
    selects nothing.  Integral ids go in as ONE SQL expression:
    ``Column.isin`` builds a literal per value, each a driver round
    trip (~0.5 ms, so ~5 s at ``MAX_ID_PUSHDOWN`` ids).  Both forms
    plan to the same ``In``/``InSet`` predicate."""
    if not ids:
        return F.lit(False)
    if all(type(i) is int for i in ids):
        name = id_col.replace("`", "``")
        return F.expr(f"`{name}` IN ({', '.join(map(str, ids))})")
    return F.col(id_col).isin(ids)


def collect_ids_bounded(
    df: DataFrame,
    id_col: str,
    max_ids: int = MAX_ID_PUSHDOWN,
    rows: int | None = None,
) -> list | None:
    """``df``'s distinct ``id_col`` values as a driver-side list, or
    ``None`` if there are more than ``max_ids`` of them — the ONE
    guarded collect every pushed-literal-filter fast path in this
    package goes through (``limit(max+1)`` probe, so an over-bound
    frame costs one bounded job, never an unbounded collect).  A
    ``None`` return means: take the join fallback; an empty list
    means: the id set is genuinely empty.

    ``rows`` is an upper bound on ``df``'s row count the caller already
    holds (an observed count of the pin ``df`` reads).  At or under
    ``max_ids`` the ids are collected as they are, in one job: the
    distinct's shuffle and the limit's partition-by-partition take
    cost a job each."""
    if rows is not None and rows <= max_ids:
        return list(dict.fromkeys(r[0] for r in df.select(id_col).collect()))
    ids = [
        r[0]
        for r in df.select(id_col).distinct()
        .limit(max_ids + 1).collect()
    ]
    return None if len(ids) > max_ids else ids


def anti_join_ids(
    batch: DataFrame,
    store: DataFrame,
    id_col: str,
    max_pushdown: int = MAX_ID_PUSHDOWN,
    rows: int | None = None,
) -> DataFrame:
    """``batch`` rows whose ``id_col`` is absent from ``store`` —
    exactly ``batch.join(store.select(id), id, "left_anti")``, with a
    guarded fast path: for batches of ≤ ``max_pushdown`` distinct ids,
    the id list is pushed into the store scan as a literal In filter
    (row-group-pruned on an id-clustered store) and the anti-join runs
    against the broadcast, batch-bounded hit set instead of the full
    id column.

    PRECONDITION: ``batch`` must be deterministic across re-evaluation
    (materialized, or derived from immutable input).  The fast path
    collects the batch's ids in one job and returns a LAZY plan over
    the same frame; a batch whose contents can shift between the
    collect and execution (e.g. an unpinned read of a live arrival
    directory) could surface an id at execution time that missed the
    collected In list — that id would bypass the store probe and pass
    the anti-join even when present in the store.  Every in-package
    caller materializes the batch first (the ingest entrances pin it
    for their hygiene probes); external callers must do the same or
    use the plain anti-join.  ``rows``: see :func:`collect_ids_bounded`."""
    ids = collect_ids_bounded(batch, id_col, max_pushdown, rows)
    if ids is None:  # over the bound: plain anti-join fallback
        return batch.join(store.select(id_col), id_col, "left_anti")
    if not ids:  # empty batch: nothing to probe, no store read at all
        return batch
    present = store.filter(in_ids(id_col, ids)).select(id_col)
    return batch.join(F.broadcast(present), id_col, "left_anti")


def semi_join_ids(
    left: DataFrame,
    ids: DataFrame,
    id_col: str,
    max_pushdown: int = MAX_ID_PUSHDOWN,
) -> DataFrame:
    """``left`` rows whose ``id_col`` appears in ``ids`` — exactly
    ``left.join(ids, id_col, "left_semi")``, with the same guarded
    fast path as :func:`anti_join_ids`: when ``ids`` holds ≤
    ``max_pushdown`` distinct values they are collected and pushed
    into ``left``'s scan as a literal In filter (two-tier parquet
    pushdown, row-group-pruned on an id-clustered table) instead of
    shuffling + sorting ``left`` for a sort-merge semi-join.  Past the
    bound the plain semi-join takes over unchanged.  An In probe
    selects exactly the rows the semi-join would (NULL ids match
    neither), so this is scan-bound optimization, never a semantics
    change.

    PRECONDITION (same as :func:`anti_join_ids`): ``ids`` must be
    deterministic across re-evaluation — materialized, or derived
    from immutable input — because the fast path collects it in one
    job and filters lazily."""
    vals = collect_ids_bounded(ids, id_col, max_pushdown)
    if vals is None:  # over the bound: plain semi-join fallback
        return left.join(ids.select(id_col), id_col, "left_semi")
    return left.filter(in_ids(id_col, vals))  # [] selects nothing
