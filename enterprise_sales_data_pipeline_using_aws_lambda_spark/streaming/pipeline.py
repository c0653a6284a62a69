"""Streaming ingest — the reference's event-driven model, Spark-native.

The reference's "streaming" is one S3 ``ObjectCreated`` event per file
under ``raw/`` triggering one Lambda invocation (reference
``lambda.py:207-209``, ``README.md:79-89``).  Spark equivalent: a file
source watching ``raw/`` + ``foreachBatch``.  Each micro-batch is
validated row by row here (invalid rows go to the quarantine with their
reason); the valid rows land through ``pipeline.land_valid_batch``, the
one landing path the batch face uses too (lake → ``sales`` →
``sales_tgt`` → ``sales_summary``).

Replay safety fixes the reference's at-least-once double-append risk
(SURVEY §2.8): foreachBatch can re-run a batch after its writes land
but before the checkpoint commits, so every append sink (lake, parquet
``sales`` log, quarantine) is keyed on the micro-batch id through
``writers.append_log_idempotent`` and a replay skips committed
partitions; the ``sales_tgt`` upsert and the summary are keyed
overwrites.  The JDBC ``sales`` append stays plain and is documented
at-least-once.

``PipelineConfig.notifier`` and ``delete_raw`` act on the batch face
only: the stream neither notifies nor deletes its source files.

Divergence (documented, SURVEY §7.5.4): a micro-batch may contain many
files; the reference silently drops all but the first event record.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.validate import cast_dates, row_rules_sales, validate_rows
from ..pipeline import (
    PROVENANCE_COLUMNS,
    PipelineConfig,
    land_valid_batch,
)
from ..sources.writers import append_log_idempotent


def stream_sales_ingest(
    spark: SparkSession,
    raw_dir: str,
    cfg: PipelineConfig,
    checkpoint_dir: str,
    available_now: bool = True,
    fmt: str = "csv",
):
    """Start the streaming ingest of ``raw_dir``.

    Row-level mode: invalid rows go to the quarantine path with
    ``_error_reason`` while valid rows proceed — finer-grained than the
    reference's whole-file quarantine, which ``pipeline.run_batch``
    preserves for batch parity.

    Returns the started ``StreamingQuery``; with ``available_now`` the
    caller should ``awaitTermination()`` — the query drains all pending
    files then stops (the batch-replay-safe analog of the reference's
    one-event-one-run loop)."""
    from ..schema import sales_ingest_schema

    reader = (
        spark.readStream.format(fmt)
        .schema(sales_ingest_schema())
        .option("maxFilesPerTrigger", 16)
    )
    if fmt == "csv":
        reader = reader.option("header", True)
    # _source_mtime rides along for the intra-batch keep-last: "the
    # later file's row wins" must mean ARRIVAL order (the reference's
    # sequential one-event-one-run loop), and the file's modification
    # time is the arrival record — path strings only sort that way
    # when feed filenames happen to be time-ordered (ADVICE r7).
    stream = (
        reader.load(raw_dir)
        .withColumn("_source_file", F.input_file_name())
        .withColumn(
            "_source_mtime", F.col("_metadata.file_modification_time")
        )
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # One scan of the micro-batch's files feeds five sinks: persist
        # the batch so validation + casts are not recomputed per action
        # (the same rework rollup.py's materialize avoids).
        batch_df.persist()
        try:
            valid, quarantined = validate_rows(
                batch_df, row_rules_sales()
            )
            # batch-id-keyed idempotent appends (module docstring):
            # replays of a committed micro-batch skip the sink entirely.
            # Clean batches skip the quarantine write altogether — an
            # empty partition per batch would pollute the store with
            # footerless directories.
            # _ingest_batch matches the batch face's quarantine schema
            # so reprocess_quarantine's batch-id filter and meta-column
            # strip work on rows from either face; both faces land rows
            # under the same ingest_batch= directory layout, so one
            # quarantine dir serves batch, streaming, and re-drives.
            if not quarantined.isEmpty():
                append_log_idempotent(
                    spark,
                    quarantined.drop("_source_mtime").withColumn(
                        "_ingest_batch", F.lit(str(batch_id))
                    ),
                    cfg.quarantine_dir,
                    str(batch_id),
                )

            # Intra-batch keyed keep-last: a micro-batch drains up to
            # 16 files, and a key arriving in two of them must resolve
            # as the reference's sequential one-event-one-run loop
            # would: the later-ARRIVING file's row wins (mtime, then
            # path for same-mtime files, then a content hash for
            # same-file ties).  The batch face gets this from
            # validate_batch's whole-file V4 uniqueness check; the
            # row-level rules here have none.
            data_cols = [
                c for c in valid.columns if c not in PROVENANCE_COLUMNS
            ]
            land_valid_batch(
                spark, cast_dates(valid), cfg, str(batch_id),
                order_by=[
                    F.col("_source_mtime").desc(),
                    F.col("_source_file").desc(),
                    F.xxhash64(
                        *[F.col(c).cast("string") for c in data_cols]
                    ).desc(),
                ],
            )
        finally:
            batch_df.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
