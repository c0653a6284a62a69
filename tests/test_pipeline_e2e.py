"""Golden end-to-end pipeline tests (SURVEY §5.2) on the reference's own
sample fixtures, plus quarantine and idempotency paths."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline import (
    PipelineConfig,
    run_batch,
)

@pytest.fixture()
def notices():
    """(status, payload) pairs the ``cfg`` fixture's notifier saw."""
    return []


@pytest.fixture()
def cfg(tmp_path, notices):
    return PipelineConfig(
        lake_dir=str(tmp_path / "lake"),
        warehouse_dir=str(tmp_path / "wh"),
        quarantine_dir=str(tmp_path / "quarantine"),
        notifier=lambda s, p: notices.append((s, p)),
    )


def test_csv_happy_path(spark, cfg, sales_sample):
    r = run_batch(spark, sales_sample.csv, cfg)
    assert r["status"] == "success"
    tgt = spark.read.parquet(f"{cfg.warehouse_dir}/sales_tgt")
    assert tgt.count() == 500
    summary = spark.read.parquet(f"{cfg.warehouse_dir}/sales_summary")
    assert summary.count() == 10  # one row per country in the sample
    assert set(summary.columns) == {
        "Country",
        "max_units_sold",
        "average_total_revenue",
        "average_total_cost",
        "average_total_profit",
    }
    # serving dates restringified yyyy-MM-dd (lambda.py:168-169)
    d = tgt.select("OrderDate").first()[0]
    assert isinstance(d, str) and len(d.split("-")) == 3
    # lake keeps DateType and the batch partition column
    lake = spark.read.parquet(cfg.lake_dir)
    assert dict(lake.dtypes)["OrderDate"] == "date"
    assert "ingest_batch" in lake.columns


def test_replay_is_idempotent_for_target(spark, cfg, sales_sample):
    run_batch(spark, sales_sample.csv, cfg)
    run_batch(spark, sales_sample.csv, cfg)
    tgt = spark.read.parquet(f"{cfg.warehouse_dir}/sales_tgt")
    assert tgt.count() == 500
    assert tgt.select("uuid").distinct().count() == 500
    # append log intentionally grows (reference S6 semantics)
    log = spark.read.parquet(f"{cfg.warehouse_dir}/sales")
    assert log.count() == 1000


def test_json_format_equivalence(spark, cfg, tmp_path, sales_sample):
    """CSV and NDJSON readers produce identical engine output for
    identical content (the reference fixtures themselves have disjoint
    uuids, so build a JSON twin from the CSV)."""
    df = pd.read_csv(sales_sample.csv)
    twin = str(tmp_path / "twin.json")
    df.to_json(twin, orient="records", lines=True)
    r = run_batch(spark, twin, cfg)
    assert r["status"] == "success"
    tgt = spark.read.parquet(f"{cfg.warehouse_dir}/sales_tgt")
    assert tgt.count() == 500

    r2 = run_batch(spark, sales_sample.csv, cfg)
    assert r2["status"] == "success"
    tgt2 = spark.read.parquet(f"{cfg.warehouse_dir}/sales_tgt")
    # same keys, same values → upsert leaves the table at 500
    assert tgt2.count() == 500


def test_validation_failure_quarantines_with_reason(
    spark, cfg, notices, tmp_path, sales_sample
):
    df = pd.read_csv(sales_sample.csv)
    df.loc[1, "uuid"] = df.loc[0, "uuid"]
    bad = str(tmp_path / "bad.csv")
    df.to_csv(bad, index=False)
    r = run_batch(spark, bad, cfg)
    assert r["status"] == "failed"
    assert "Duplicate uuid" in r["error"]
    q = spark.read.parquet(cfg.quarantine_dir)
    assert q.count() == 500
    assert q.select("_error_reason").first()[0] == "Duplicate uuid values found"
    # validation failure notifies too (divergence from the reference,
    # which skips SNS on this path — SURVEY §3.3)
    assert ("failed", {"file": bad, "error": "Duplicate uuid values found"}) in [
        (s, p) for s, p in notices
    ]


def test_unsupported_extension_fails_cleanly(spark, cfg):
    r = run_batch(
        spark, os.path.join(os.path.dirname(__file__), "..", "README.md"), cfg
    )
    assert r["status"] == "failed"
    assert "Unsupported file format" in r["error"]


def test_batch_scope_summary_matches_reference_quirk(
    spark, tmp_path, sales_sample
):
    """summary_scope='batch' reproduces lambda.py:184's current-batch-only
    aggregate; cumulative is the default (SURVEY §1.4)."""
    cfg = PipelineConfig(
        lake_dir=str(tmp_path / "lake"),
        warehouse_dir=str(tmp_path / "wh"),
        quarantine_dir=str(tmp_path / "q"),
        summary_scope="batch",
    )
    run_batch(spark, sales_sample.csv, cfg)
    s1 = spark.read.parquet(f"{cfg.warehouse_dir}/sales_summary")
    assert s1.count() == 10


def test_json_record_array_form(spark, tmp_path, sales_sample):
    """Reference S3 quirk (lambda.py:66-71): a single top-level JSON
    array of records must parse like its NDJSON twin — the reader probes
    the first byte and flips to multiLine mode."""
    import json as _json

    import pandas as pd

    rows = pd.read_csv(sales_sample.csv).head(25).to_dict(orient="records")
    arr = tmp_path / "batch_array.json"
    arr.write_text(_json.dumps(rows))
    cfg = PipelineConfig(
        lake_dir=str(tmp_path / "lake"),
        warehouse_dir=str(tmp_path / "wh"),
        quarantine_dir=str(tmp_path / "q"),
    )
    r = run_batch(spark, str(arr), cfg)
    assert r["status"] == "success"
    tgt = spark.read.parquet(f"{cfg.warehouse_dir}/sales_tgt")
    assert tgt.count() == 25
    # Serving tables restringify dates (reference parity, lambda.py:168-169)
    # while the lake keeps native DateType (SURVEY §3.2).
    assert tgt.schema["OrderDate"].dataType.typeName() == "string"
    lake = spark.read.parquet(cfg.lake_dir)
    assert lake.schema["OrderDate"].dataType.typeName() == "date"


def test_observed_ingest_metrics(spark, tmp_path, sales_sample):
    """run_batch returns observe()-collected metrics (row count, revenue,
    distinct keys) observed on the validation pass itself — no extra pass."""
    cfg = PipelineConfig(
        lake_dir=str(tmp_path / "lake"),
        warehouse_dir=str(tmp_path / "wh"),
        quarantine_dir=str(tmp_path / "q"),
    )
    r = run_batch(spark, sales_sample.csv, cfg)
    assert r["status"] == "success"
    m = r["metrics"]
    assert m["rows"] == 500
    assert 490 <= m["approx_distinct_keys"] <= 510
    assert m["revenue"] > 0


def test_header_only_csv(spark, cfg, tmp_path, sales_sample):
    """Empty batch (header, zero rows): validation passes vacuously
    (no dup keys, no bad dates) and the pipeline completes without
    corrupting serving tables — zero-row batches happen constantly in
    real file streams and must be no-ops, not failures."""
    import pandas as pd

    pd.read_csv(sales_sample.csv).head(0).to_csv(
        tmp_path / "empty.csv", index=False
    )
    r = run_batch(spark, str(tmp_path / "empty.csv"), cfg)
    assert r["status"] == "success"
    assert r["metrics"]["rows"] == 0
    # A real batch afterwards works and sees only its own rows.
    r2 = run_batch(spark, sales_sample.csv, cfg)
    assert r2["status"] == "success"
    assert spark.read.parquet(f"{cfg.warehouse_dir}/sales_tgt").count() == 500


def test_valid_batch_is_ten_jobs_in_the_callers_group(
    spark, cfg, sales_sample, monkeypatch
):
    """One valid run_batch onto an existing sales_tgt launches 10 Spark
    jobs: the validation shuffle and pin (2), the lake and sales
    appends (1 + 1), sales_tgt schema inference (1), the broadcast key
    set (1), the merged pin (1), the sales_tgt write (1), the summary
    shuffle and write (1 + 1).  The appends run on a worker thread; the
    jobs it launches carry the caller's job group, and no job of the
    call escapes it."""
    import threading

    import enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline as pl

    sc = spark.sparkContext
    assert run_batch(spark, sales_sample.csv, cfg)["status"] == "success"

    seen = []
    real_append = pl.append_log_idempotent

    def recording_append(*a, **kw):
        seen.append(
            (threading.get_ident(), sc.getLocalProperty("spark.jobGroup.id"))
        )
        return real_append(*a, **kw)

    monkeypatch.setattr(pl, "append_log_idempotent", recording_append)
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("one_valid_batch", "valid run_batch job count")
    try:
        r = run_batch(spark, sales_sample.json, cfg)
    finally:
        sc.setJobGroup(None, None)
    assert r["status"] == "success"
    assert len(sc.statusTracker().getJobIdsForGroup("one_valid_batch")) == 10
    assert set(sc.statusTracker().getJobIdsForGroup(None)) <= ungrouped
    # lake and sales appends, each off the calling thread, in its group
    assert len(seen) == 2
    assert all(t != threading.get_ident() for t, _ in seen)
    assert [g for _, g in seen] == ["one_valid_batch"] * 2


def test_torn_sales_tgt_fails_instead_of_rebuilding(spark, cfg, sales_sample):
    """A sales_tgt overwrite that crashed mid-commit leaves a directory
    holding only ``_temporary/``.  The next batch must fail on it, not
    read it as an empty table and rewrite sales_tgt as that batch alone
    (which a read with a declared schema would do: it returns 0 rows)."""
    assert run_batch(spark, sales_sample.csv, cfg)["status"] == "success"
    tgt = f"{cfg.warehouse_dir}/sales_tgt"
    shutil.rmtree(tgt)
    os.makedirs(f"{tgt}/_temporary/0")

    r = run_batch(spark, sales_sample.json, cfg)
    assert r["status"] == "failed"
    assert "UNABLE_TO_INFER_SCHEMA" in r["error"]
    assert os.listdir(tgt) == ["_temporary"]


def test_string_revenue_quarantines_with_the_v2_message(
    spark, cfg, sales_sample
):
    """A non-numeric TotalRevenue fails V2 with its own message; the run
    metrics (a sum over TotalRevenue) must not turn it into a cast
    error, and the frame lands in quarantine only."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline import (
        run_batch_frame,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.readers import (  # noqa: E501
        read_sales,
    )

    df = read_sales(spark, sales_sample.csv).withColumn(
        "TotalRevenue", F.concat(F.lit("$"), F.col("TotalRevenue"))
    )
    r = run_batch_frame(spark, df, "string_revenue.csv", cfg, "b_str")
    assert r["status"] == "failed"
    assert r["error"] == "Column TotalRevenue must be numeric"
    q = spark.read.parquet(cfg.quarantine_dir)
    assert q.count() == df.count()
    assert {x[0] for x in q.select("_error_reason").distinct().collect()} == {
        "Column TotalRevenue must be numeric"
    }
    assert not os.path.exists(cfg.lake_dir)


def test_reprocess_quarantine_redrive(spark, cfg, tmp_path, sales_sample):
    """The recovery path: a quarantined batch, fixed upstream, re-drives
    through the SAME gate into the serving tables; still-bad batches
    re-quarantine under a new reason; empty re-drives are no-ops."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline import (
        reprocess_quarantine,
    )

    # noop on an empty store
    (tmp_path / "quarantine").mkdir(exist_ok=True)
    # quarantine a batch via a duplicate-uuid failure
    df = pd.read_csv(sales_sample.csv)
    df.loc[1, "uuid"] = df.loc[0, "uuid"]
    bad = str(tmp_path / "bad.csv")
    df.to_csv(bad, index=False)
    r = run_batch(spark, bad, cfg)
    assert r["status"] == "failed"
    q = spark.read.parquet(cfg.quarantine_dir)
    assert q.count() == 500

    # still-broken re-drive: fails again, rows re-quarantined with the
    # same reason under a NEW batch id, original rows kept for audit
    r2 = reprocess_quarantine(spark, cfg)
    assert r2["status"] == "failed" and r2["n_requeued"] == 500
    q2 = spark.read.parquet(cfg.quarantine_dir)
    assert q2.count() == 1000
    assert q2.select("_ingest_batch").distinct().count() == 2

    # "upstream fix": clear the quarantine, write back a FIXED copy of
    # the original rows (dedupe uuid), then re-drive that
    import shutil

    shutil.rmtree(cfg.quarantine_dir)
    fixed = pd.read_csv(sales_sample.csv)  # original, no dup
    good_csv = str(tmp_path / "fixed.csv")
    fixed.to_csv(good_csv, index=False)
    rq = run_batch(
        spark, good_csv,
        type(cfg)(
            lake_dir=cfg.lake_dir,
            warehouse_dir=cfg.warehouse_dir,
            quarantine_dir=cfg.quarantine_dir + "_stage",
        ),
    )
    assert rq["status"] == "success"
    # simulate the fixed rows sitting in quarantine: re-write them with
    # quarantine metadata, then reprocess into serving
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        write_quarantine,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.readers import (
        read_sales,
    )

    write_quarantine(
        read_sales(spark, good_csv), cfg.quarantine_dir,
        "historic failure", good_csv, "b_fix",
    )
    r3 = reprocess_quarantine(spark, cfg, "b_fix")
    assert r3["status"] == "success"
    assert r3["n_requeued"] == 500
    tgt = spark.read.parquet(f"{cfg.warehouse_dir}/sales_tgt")
    assert tgt.count() == 500
    # exactly-once: the successfully re-driven partition is ARCHIVED
    # (audit-preserving, invisible to reads), so a second recovery run
    # is a complete no-op — not just absorbed by the keyed upsert but
    # never re-appended to the lake or the sales log either
    import os

    assert os.path.isdir(
        f"{cfg.quarantine_dir}/_requeued/ingest_batch=b_fix"
    )
    lake_rows = spark.read.parquet(cfg.lake_dir).count()
    sales_rows = spark.read.parquet(f"{cfg.warehouse_dir}/sales").count()
    r4 = reprocess_quarantine(spark, cfg, "b_fix")
    assert r4["status"] == "noop" and r4["n_requeued"] == 0
    assert spark.read.parquet(f"{cfg.warehouse_dir}/sales_tgt").count() == 500
    assert spark.read.parquet(cfg.lake_dir).count() == lake_rows
    assert (
        spark.read.parquet(f"{cfg.warehouse_dir}/sales").count()
        == sales_rows
    )


def test_reprocess_quarantine_empty_store_is_noop(spark, cfg, tmp_path):
    """The recovery job must be safe on a healthy pipeline: missing or
    empty quarantine store -> clean noop, not an exception."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline import (
        reprocess_quarantine,
    )

    # missing dir
    r = reprocess_quarantine(spark, cfg)
    assert r == {"status": "noop", "file": "requeue-all", "n_requeued": 0}
    # empty dir (exists, no parquet footers)
    import os

    os.makedirs(cfg.quarantine_dir, exist_ok=True)
    r2 = reprocess_quarantine(spark, cfg, "b1")
    assert r2["status"] == "noop" and r2["n_requeued"] == 0


def test_reprocess_all_collapses_redrive_copies(
    spark, cfg, tmp_path, sales_sample
):
    """A failed re-drive re-quarantines byte-identical copies; the next
    re-drive-all must collapse them so a later fix can still pass
    duplicate-key validation (no permanent poisoning)."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline import (
        reprocess_quarantine,
    )

    df = pd.read_csv(sales_sample.csv)
    df.loc[1, "uuid"] = df.loc[0, "uuid"]
    bad = str(tmp_path / "bad.csv")
    df.to_csv(bad, index=False)
    assert run_batch(spark, bad, cfg)["status"] == "failed"
    # two failed re-drives: the re-driven frame stays 500 rows each
    # time (copies collapse), not 1000/2000
    r1 = reprocess_quarantine(spark, cfg)
    assert r1["status"] == "failed" and r1["n_requeued"] == 500
    r2 = reprocess_quarantine(spark, cfg)
    assert r2["status"] == "failed" and r2["n_requeued"] == 500


def test_reprocess_quarantine_crash_mid_redrive_converges(
    spark, cfg, tmp_path, monkeypatch, sales_sample
):
    """Replay safety of the recovery job ITSELF: a re-drive that dies
    between sink writes (here: after the lake write and the append log,
    before the sales_tgt upsert lands) must converge when simply
    re-run.  The content-keyed batch id makes even the append-only
    log exactly-once across the retry (the re-run's idempotent append
    sees its own committed partition and no-ops), and success archives
    the source partition so a third run is a complete no-op."""
    import enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline as pl
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.readers import (
        read_sales,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        write_quarantine,
    )

    # fixed rows sitting in quarantine after an upstream fix
    write_quarantine(
        read_sales(spark, sales_sample.csv), cfg.quarantine_dir,
        "historic failure", sales_sample.csv, "b_fix",
    )

    # crash injection: the 1st serving write of the re-drive is the
    # sales_tgt overwrite (the sales append goes through the idempotent
    # log, not write_serving_table) — kill there (lake + append log
    # already on disk, serving upsert is not)
    real_write = pl.write_serving_table
    calls = {"n": 0}

    def dying_write(df, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash mid-re-drive")
        return real_write(df, *a, **kw)

    monkeypatch.setattr(pl, "write_serving_table", dying_write)
    r1 = pl.reprocess_quarantine(spark, cfg, "b_fix")
    assert r1["status"] == "failed" and "simulated crash" in r1["error"]
    # partial state: append log written, serving target absent
    assert spark.read.parquet(f"{cfg.warehouse_dir}/sales").count() == 500
    assert not os.path.exists(f"{cfg.warehouse_dir}/sales_tgt")
    monkeypatch.setattr(pl, "write_serving_table", real_write)

    # plain re-run converges: full serving state, no duplicate keys
    r2 = pl.reprocess_quarantine(spark, cfg, "b_fix")
    assert r2["status"] == "success" and r2["n_requeued"] == 500
    tgt = spark.read.parquet(f"{cfg.warehouse_dir}/sales_tgt")
    assert tgt.count() == 500
    assert tgt.select("uuid").distinct().count() == 500
    assert spark.read.parquet(f"{cfg.warehouse_dir}/sales_summary").count() > 0
    # even the append-only log is exactly-once across the retry: the
    # re-run's content-keyed batch id matches the crashed attempt's
    # committed partition, so the idempotent append no-ops
    assert spark.read.parquet(f"{cfg.warehouse_dir}/sales").count() == 500
    # success archived the source partition (audit preserved under
    # _requeued/), so a third run is a complete no-op
    assert os.path.isdir(
        f"{cfg.quarantine_dir}/_requeued/ingest_batch=b_fix"
    )
    r3 = pl.reprocess_quarantine(spark, cfg, "b_fix")
    assert r3["status"] == "noop"
    assert spark.read.parquet(f"{cfg.warehouse_dir}/sales_tgt").count() == 500


def test_reprocess_quarantine_broken_store_raises(spark, cfg):
    """A BROKEN quarantine store must fail the recovery job, not report
    a clean noop: only path-missing / no-footers map to noop."""
    import os

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline import (
        reprocess_quarantine,
    )

    part = os.path.join(cfg.quarantine_dir, "ingest_batch=b1")
    os.makedirs(part, exist_ok=True)
    with open(os.path.join(part, "part-0.parquet"), "wb") as fh:
        fh.write(b"not a parquet file at all")
    with pytest.raises(Exception):
        reprocess_quarantine(spark, cfg)


def test_reprocess_recovery_crash_matrix_converges(spark, cfg, tmp_path):
    """Crash-matrix pin for the per-content-group recovery contract
    (reprocess_quarantine docstring): from EVERY window — crash inside
    a group's run, crash after the sinks but before the archive, crash
    mid-archive of a multi-directory group, and new failures arriving
    between runs — a plain re-run converges to exactly-once lake and
    sales state, with duplicate re-drive generations collapsing into
    one group."""
    import shutil
    import unittest.mock as mock

    import enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline as pl
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        write_quarantine,
    )

    def rows(uuids):
        return spark.createDataFrame(
            [
                (
                    u, "Kenya", "Beverages", "Offline", "L",
                    "03/24/2016", "Asia", "04/05/2016",
                    2, 3.0, 1.0, 6.0, 2.0, 4.0,
                )
                for u in uuids
            ],
            "uuid long, Country string, ItemType string, "
            "SalesChannel string, OrderPriority string, OrderDate string, "
            "Region string, ShipDate string, UnitsSold long, "
            "UnitPrice double, UnitCost double, TotalRevenue double, "
            "TotalCost double, TotalProfit double",
        )

    qdir = cfg.quarantine_dir
    write_quarantine(rows([1, 2, 3]), qdir, "old failure", "a", "bA")
    write_quarantine(rows([11, 12, 13]), qdir, "old failure", "b", "bB")
    # a byte-identical re-drive generation of bA: must fold into bA's
    # content group and archive with it, never re-drive separately
    write_quarantine(rows([1, 2, 3]), qdir, "old failure", "a", "bA2")

    def state():
        lake = sorted(
            r["uuid"] for r in spark.read.parquet(cfg.lake_dir).collect()
        )
        sales = sorted(
            r["uuid"]
            for r in spark.read.parquet(
                f"{cfg.warehouse_dir}/sales"
            ).collect()
        )
        tgt = sorted(
            r["uuid"]
            for r in spark.read.parquet(
                f"{cfg.warehouse_dir}/sales_tgt"
            ).collect()
        )
        return lake, sales, tgt

    expect = sorted([1, 2, 3, 11, 12, 13])

    # window 1: crash inside the FIRST group's run (the sales_tgt
    # overwrite dies); the plain re-run must converge
    real_write = pl.write_serving_table
    calls = {"n": 0}

    def dying(df, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash in group run")
        return real_write(df, *a, **kw)

    with mock.patch.object(pl, "write_serving_table", dying):
        r1 = pl.reprocess_quarantine(spark, cfg)
    # the crash hit the FIRST group only; the second group of the same
    # run succeeded independently and was archived
    assert r1["status"] == "failed"
    assert r1["groups"] == 2 and r1["failed_groups"] == 1
    r2 = pl.reprocess_quarantine(spark, cfg)
    assert r2["status"] == "success" and r2["groups"] == 1
    assert state() == (expect, expect, expect)
    arch = f"{qdir}/_requeued"
    archived = sorted(os.listdir(arch))
    assert "ingest_batch=bA" in archived and "ingest_batch=bB" in archived
    assert "ingest_batch=bA2" in archived  # the generation went too

    # window 2: crash after the sinks, before the archive — simulated
    # by restoring a whole archived group; the re-run must no-op at
    # every sink and just finish the archive
    shutil.move(f"{arch}/ingest_batch=bB", f"{qdir}/ingest_batch=bB")
    r3 = pl.reprocess_quarantine(spark, cfg)
    assert r3["status"] == "success"
    assert state() == (expect, expect, expect)  # nothing re-appended
    assert os.path.isdir(f"{arch}/ingest_batch=bB")

    # window 3: crash MID-archive of the two-directory group —
    # one generation restored, the other still archived
    shutil.move(f"{arch}/ingest_batch=bA2", f"{qdir}/ingest_batch=bA2")
    r4 = pl.reprocess_quarantine(spark, cfg)
    assert r4["status"] == "success"
    assert state() == (expect, expect, expect)
    assert os.path.isdir(f"{arch}/ingest_batch=bA2")

    # window 4: new failures between runs are their own group and never
    # disturb already-landed rows
    write_quarantine(rows([21, 22, 23]), qdir, "new failure", "c", "bC")
    r5 = pl.reprocess_quarantine(spark, cfg)
    assert r5["status"] == "success" and r5["n_requeued"] == 3
    expect2 = sorted(expect + [21, 22, 23])
    assert state() == (expect2, expect2, expect2)
    # and a final run on the clean store is a complete no-op
    r6 = pl.reprocess_quarantine(spark, cfg)
    assert r6["status"] == "noop"


def _mini_rows(spark, uuids):
    return spark.createDataFrame(
        [
            (
                u, "Kenya", "Beverages", "Offline", "L",
                "03/24/2016", "Asia", "04/05/2016",
                2, 3.0, 1.0, 6.0, 2.0, 4.0,
            )
            for u in uuids
        ],
        "uuid long, Country string, ItemType string, "
        "SalesChannel string, OrderPriority string, OrderDate string, "
        "Region string, ShipDate string, UnitsSold long, "
        "UnitPrice double, UnitCost double, TotalRevenue double, "
        "TotalCost double, TotalProfit double",
    )


def test_reprocess_archive_uniquifies_repeat_generations(spark, cfg):
    """THREE byte-identical generations of one failure arriving under
    the SAME reused batch id (the streaming face reuses small-int ids)
    must all leave the store: fs.rename reports an existing
    destination as False, not an exception, so unchecked renames would
    silently re-drive that directory forever and the store would never
    reach 'noop' (ADVICE r7).  Each archive collision appends a
    generation counter instead."""
    import enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline as pl
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        write_quarantine,
    )

    qdir = cfg.quarantine_dir
    for _ in range(3):
        # same content, same id -> each run re-drives (sinks no-op
        # after the first) and must ARCHIVE despite the name collision
        write_quarantine(_mini_rows(spark, [1, 2, 3]), qdir, "f", "a", "b7")
        r = pl.reprocess_quarantine(spark, cfg)
        assert r["status"] == "success"
    archived = sorted(os.listdir(f"{qdir}/_requeued"))
    assert archived == [
        "ingest_batch=b7", "ingest_batch=b7__rq1", "ingest_batch=b7__rq2",
    ]
    # exactly-once held across all three: one copy per sink
    assert spark.read.parquet(cfg.lake_dir).count() == 3
    assert spark.read.parquet(f"{cfg.warehouse_dir}/sales").count() == 3
    # and the drained store is a clean noop
    assert pl.reprocess_quarantine(spark, cfg)["status"] == "noop"


def test_reprocess_flat_layout_store_raises(spark, cfg):
    """Pre-ingest_batch= (flat) quarantine data at the store root must
    fail the recovery job LOUDLY with migration guidance — the
    partition walk would otherwise skip those rows forever while
    reporting 'noop' (ADVICE r7)."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline import (
        reprocess_quarantine,
    )

    # a legacy flat-layout store: data files directly at the root
    _mini_rows(spark, [1, 2]).write.mode("overwrite").parquet(
        cfg.quarantine_dir
    )
    with pytest.raises(ValueError, match="Migrate"):
        reprocess_quarantine(spark, cfg)


def test_reprocess_group_cap_rotates_past_persistent_failures(spark, cfg):
    """Anti-starvation contract of the capped recovery: groups that
    FAIL every re-drive are never archived and stay oldest forever, so
    without the rotation cursor they would occupy the capped slots on
    every run and a younger FIXABLE group would never be attempted."""
    import time

    import enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline as pl
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        write_quarantine,
    )

    qdir = cfg.quarantine_dir

    def poisoned(uuids):
        # same uuid with DIFFERENT values -> fails V4 on every
        # re-drive (an EXACT duplicate row would collapse in the
        # group's dropDuplicates and pass)
        dup = _mini_rows(spark, [uuids[0]]).withColumn(
            "Country", F.lit("Oman")
        )
        return _mini_rows(spark, uuids).union(dup)

    write_quarantine(poisoned([1, 2]), qdir, "f", "a", "b1")
    time.sleep(0.05)  # distinct directory mtimes on coarse filesystems
    write_quarantine(poisoned([11, 12]), qdir, "f", "b", "b2")
    time.sleep(0.05)
    write_quarantine(_mini_rows(spark, [21, 22]), qdir, "f", "c", "b3")

    # run 1: attempts the oldest (poisoned) group only — fails
    r1 = pl.reprocess_quarantine(spark, cfg, max_groups_per_run=1)
    assert r1["status"] == "failed" and r1["groups"] == 1
    # run 2: the cursor rotates past b1 — attempts b2 (also poisoned)
    r2 = pl.reprocess_quarantine(spark, cfg, max_groups_per_run=1)
    assert r2["status"] == "failed" and r2["groups"] == 1
    # run 3: rotation reaches the FIXABLE group; it lands and archives
    r3 = pl.reprocess_quarantine(spark, cfg, max_groups_per_run=1)
    assert r3["status"] == "success" and r3["n_requeued"] == 2
    lake = sorted(
        r["uuid"] for r in spark.read.parquet(cfg.lake_dir).collect()
    )
    assert lake == [21, 22]
    assert os.path.isdir(f"{qdir}/_requeued/ingest_batch=b3")


def test_reprocess_group_cap_bounds_fanout_and_converges(spark, cfg):
    """max_groups_per_run bounds the per-run run_batch_frame fan-out
    (oldest groups first); deferred groups are reported and picked up
    by subsequent runs, converging to the same exactly-once state as
    one uncapped run."""
    import enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline as pl
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        write_quarantine,
    )

    qdir = cfg.quarantine_dir
    # three DISTINCT-content groups, arrival order b1 < b2 < b3
    write_quarantine(_mini_rows(spark, [1, 2]), qdir, "f", "a", "b1")
    write_quarantine(_mini_rows(spark, [11, 12]), qdir, "f", "b", "b2")
    write_quarantine(_mini_rows(spark, [21, 22]), qdir, "f", "c", "b3")

    r1 = pl.reprocess_quarantine(spark, cfg, max_groups_per_run=2)
    assert r1["status"] == "success"
    assert r1["groups"] == 2 and r1["groups_deferred"] == 1
    assert r1["n_requeued"] == 4
    # oldest-first: b1 and b2 archived, b3 still pending
    archived = sorted(os.listdir(f"{qdir}/_requeued"))
    assert archived == ["ingest_batch=b1", "ingest_batch=b2"]
    assert os.path.isdir(f"{qdir}/ingest_batch=b3")

    # backlog contract: call again until groups_deferred == 0
    r2 = pl.reprocess_quarantine(spark, cfg, max_groups_per_run=2)
    assert r2["status"] == "success"
    assert r2["groups"] == 1 and r2["groups_deferred"] == 0
    lake = sorted(
        r["uuid"] for r in spark.read.parquet(cfg.lake_dir).collect()
    )
    assert lake == [1, 2, 11, 12, 21, 22]
    assert pl.reprocess_quarantine(spark, cfg)["status"] == "noop"


def test_reprocess_discovery_is_constant_jobs(spark, cfg):
    """Discovery is O(#distinct schemas) Spark jobs, never O(#dirs)
    (round-8 VERDICT item 2): quadrupling the number of quarantined
    directories must not grow the job count of a discovery-only call
    (max_groups_per_run=0 defers every group, so the measured jobs are
    discovery's alone).  The old per-directory probe loop made 12 dirs
    cost 12 driver-sequential agg jobs before the cap even applied."""
    import enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline as pl
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (  # noqa: E501
        write_quarantine,
    )

    sc = spark.sparkContext
    qdir = cfg.quarantine_dir

    def discovery_jobs(tag):
        sc.setJobGroup(tag, "quarantine discovery job count")
        try:
            r = pl.reprocess_quarantine(spark, cfg, max_groups_per_run=0)
        finally:
            sc.setJobGroup(None, None)
        assert r["groups"] == 0 and r["groups_deferred"] > 0
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    for i in range(3):
        write_quarantine(
            _mini_rows(spark, [10 * i + 1, 10 * i + 2]), qdir, "f", "a",
            f"b{i}",
        )
    j3 = discovery_jobs("qdisc3")
    for i in range(3, 12):
        write_quarantine(
            _mini_rows(spark, [10 * i + 1, 10 * i + 2]), qdir, "f", "a",
            f"b{i}",
        )
    j12 = discovery_jobs("qdisc12")
    assert j12 <= j3 <= 5, (j3, j12)

    # the deferred backlog then drains normally, exactly-once
    while True:
        r = pl.reprocess_quarantine(spark, cfg, max_groups_per_run=6)
        assert r["status"] == "success"
        if r["groups_deferred"] == 0:
            break
    assert spark.read.parquet(cfg.lake_dir).count() == 24
    assert pl.reprocess_quarantine(spark, cfg)["status"] == "noop"


def test_reprocess_heterogeneous_schema_store(spark, cfg):
    """A store whose directories carry DIFFERENT parquet schemas (here:
    the same columns in a different physical order — the schema-hotfix
    population the recovery path exists for) is discovered per schema
    bucket and every group still re-drives exactly-once.  Column order
    is part of a directory's hash identity (as it always was: the
    per-dir hash runs over the dir's own column order), so the two
    dirs form two groups even where a merged-schema read would have
    collapsed or shifted them."""
    import enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline as pl
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (  # noqa: E501
        write_quarantine,
    )

    qdir = cfg.quarantine_dir
    a = _mini_rows(spark, [1, 2])
    b = _mini_rows(spark, [11, 12]).select(
        *reversed(_mini_rows(spark, [0]).columns)
    )
    write_quarantine(a, qdir, "f", "a", "b1")
    write_quarantine(b, qdir, "f", "b", "b2")

    r = pl.reprocess_quarantine(spark, cfg)
    assert r["status"] == "success" and r["groups"] == 2
    assert r["n_requeued"] == 4
    lake = sorted(
        row["uuid"] for row in spark.read.parquet(cfg.lake_dir).collect()
    )
    assert lake == [1, 2, 11, 12]
    archived = sorted(os.listdir(f"{qdir}/_requeued"))
    assert archived == ["ingest_batch=b1", "ingest_batch=b2"]
    assert pl.reprocess_quarantine(spark, cfg)["status"] == "noop"


@pytest.mark.parametrize("scope", ["cumulative", "batch"])
def test_batch_and_streaming_faces_land_the_same_rows(
    spark, tmp_path, sales_sample, scope
):
    """Both faces land a valid batch through one path: the same CSV fed
    to run_batch and to stream_sales_ingest (separate directories)
    yields the same lake, sales, sales_tgt and sales_summary rows.
    Only the ingest_batch partition value differs (a timestamp id vs
    the micro-batch id)."""
    import shutil

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.streaming.pipeline import (  # noqa: E501
        stream_sales_ingest,
    )

    def face_cfg(face):
        return PipelineConfig(
            lake_dir=str(tmp_path / face / "lake"),
            warehouse_dir=str(tmp_path / face / "wh"),
            quarantine_dir=str(tmp_path / face / "quarantine"),
            summary_scope=scope,
        )

    batch, stream = face_cfg("batch"), face_cfg("stream")
    assert run_batch(spark, sales_sample.csv, batch)["status"] == "success"
    raw = tmp_path / "raw"
    raw.mkdir()
    shutil.copy(sales_sample.csv, raw / "batch1.csv")
    stream_sales_ingest(
        spark, str(raw), stream, str(tmp_path / "ckpt"), available_now=True
    ).awaitTermination(120)

    def rows(path):
        df = spark.read.parquet(path).drop("ingest_batch")
        return df.columns, sorted(map(tuple, df.collect()), key=repr)

    for table in ("lake", "wh/sales", "wh/sales_tgt"):
        b, s = rows(f"{tmp_path}/batch/{table}"), rows(
            f"{tmp_path}/stream/{table}"
        )
        assert b[0] == s[0], table
        assert len(b[1]) == 500 and b[1] == s[1], table
    b_cols, b_sum = rows(f"{tmp_path}/batch/wh/sales_summary")
    s_cols, s_sum = rows(f"{tmp_path}/stream/wh/sales_summary")
    assert b_cols == s_cols and len(b_sum) == 10
    # the averages may differ in the last bits with the summation order
    assert [r[0] for r in b_sum] == [r[0] for r in s_sum]
    for br, sr in zip(b_sum, s_sum):
        assert br == pytest.approx(sr, rel=1e-12)
