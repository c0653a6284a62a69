"""Keyed upsert (merge) — the reference's idempotent reprocessing core.

Reference semantics (``lambda.py:176-181``, ``README.md:141-145``): read
the whole target table, concatenate the incoming batch after it, and
``drop_duplicates(subset=['uuid'], keep='last')`` — i.e. incoming rows
beat existing rows, and re-running the same batch is a no-op.

That is a MERGE: ``target LEFT ANTI JOIN batch ON key ∪ batch``.  The
anti-join formulation only shuffles on the key and, when the batch is
small relative to the target (the normal case), Spark broadcasts the
batch's key set — the target is **never rewritten through a sort** and,
with a partitioned/bucketed target or Delta ``MERGE``, only affected
files are touched at 100 TB (SURVEY §7.5.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .materialize import materialize

from .dedup import dedup_keep_last


def upsert_keep_last(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: list[str],
    order_by: list[Column] | None = None,
    broadcast_keys: bool = False,
) -> DataFrame:
    """Merge ``incoming`` into ``existing``; incoming wins per key.

    If ``incoming`` may carry several rows per key, ``order_by`` picks the
    survivor *within* the batch (e.g. latest timestamp) — the positional
    tie-break the reference gets implicitly from concat order
    (``lambda.py:179-180``) made explicit and deterministic.

    ``broadcast_keys=True`` force-broadcasts the incoming key set for the
    anti-join — set it when the batch is known-small (the per-file ingest
    case); otherwise AQE picks broadcast vs shuffled join from runtime
    stats, which is the safe default for arbitrary batch sizes.  The
    broadcast build side keeps repeated keys (an anti-join only asks
    whether a key is present), which saves the ``distinct`` shuffle job.
    """
    if order_by is not None:
        incoming = dedup_keep_last(incoming, keys, order_by)
    if existing is None:
        return incoming
    key_set = incoming.select(*keys)
    key_set = F.broadcast(key_set) if broadcast_keys else key_set.distinct()
    keep_old = existing.join(key_set, on=keys, how="left_anti")
    return keep_old.unionByName(incoming)


def partitioned_upsert(
    spark,
    table_path: str,
    incoming: DataFrame,
    keys: list[str],
    partition_col: str,
    order_by: list[Column] | None = None,
) -> list:
    """Partition-pruned keyed upsert into a parquet table partitioned on
    ``partition_col`` — the 100 TB form of the merge (SURVEY §7.5.2).

    The reference re-reads and rewrites its WHOLE target per batch
    (``lambda.py:176-181``), O(table) per ingest.  Here the batch's
    distinct partition values drive everything:

    1. collect the batch's partition values (a batch touches few);
    2. read ONLY those partitions back (partition pruning at the scan);
    3. anti-join + union within that slice;
    4. dynamic-partition-overwrite exactly that slice.

    Cost: O(affected partitions), not O(table).  Rows outside the
    touched partitions are never read, shuffled, or rewritten — the
    same pruning argument a Delta/Iceberg MERGE makes, built from plain
    parquet + ``partitionOverwriteMode=dynamic``.

    Constraint (document, don't guess): a key must not MOVE between
    partitions (partition_col must be stable per key — e.g. a hash
    bucket of the key, never an update-able attribute); a moved key
    would leave its old row in the untouched partition.  Hash-derived
    partition columns satisfy this by construction.

    Returns the list of partition values rewritten.
    """
    from pyspark.errors import AnalysisException

    if order_by is not None:
        incoming = dedup_keep_last(incoming, keys, order_by)

    parts = [r[0] for r in incoming.select(partition_col).distinct().collect()]
    try:
        existing = spark.read.parquet(table_path)
        has_table = True
    except AnalysisException as e:
        # ONLY the genuinely-first-write cases may fall through to
        # "merged = incoming": any other failure (corrupt footers,
        # permissions, a schema error later in the merge plan) must
        # propagate — swallowing it would dynamic-overwrite the
        # affected partitions with the batch alone, silently deleting
        # every existing row in them.  One shared, error-class-based
        # narrowing (errors.is_missing_or_empty_table).
        from ..errors import is_missing_or_empty_table

        if not is_missing_or_empty_table(e):
            raise
        has_table = False
    if has_table:
        # isin() is null-blind (NULL partition value evaluates NULL →
        # filtered out), so match the null partition explicitly: a
        # batch carrying NULL partition values must merge with — not
        # replace — the existing __HIVE_DEFAULT_PARTITION__ rows.
        non_null = [p for p in parts if p is not None]
        cond_col = F.col(partition_col).isin(non_null)
        if None in parts:
            cond_col = cond_col | F.col(partition_col).isNull()
        existing_slice = existing.filter(cond_col)
        merged = upsert_keep_last(existing_slice, incoming, keys)
    else:
        merged = incoming

    # Materialize before the overwrite: the merged plan reads the very
    # files the dynamic overwrite replaces (same trap as the serving
    # upsert — a table format with snapshot isolation avoids this copy).
    merged = materialize(merged)

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            merged.write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(table_path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return parts
