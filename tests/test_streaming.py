"""Structured Streaming tests: file-source ingest with foreachBatch,
availableNow draining, checkpoint-based replay safety, and windowed
aggregates running in both batch and streaming mode."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline import (
    PipelineConfig,
)
from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.readers import (
    read_events,
)
from enterprise_sales_data_pipeline_using_aws_lambda_spark.streaming.pipeline import (
    stream_sales_ingest,
)
from enterprise_sales_data_pipeline_using_aws_lambda_spark.streaming.windows import (
    session_windows,
    stream_dedup,
    tumbling_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def test_stream_ingest_available_now(spark, tmp_path, sales_sample):
    raw = tmp_path / "raw"
    raw.mkdir()
    shutil.copy(sales_sample.csv, raw / "batch1.csv")
    cfg = PipelineConfig(
        lake_dir=str(tmp_path / "lake"),
        warehouse_dir=str(tmp_path / "wh"),
        quarantine_dir=str(tmp_path / "quarantine"),
    )
    q = stream_sales_ingest(
        spark, str(raw), cfg, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    tgt = spark.read.parquet(f"{cfg.warehouse_dir}/sales_tgt")
    assert tgt.count() == 500
    lake = spark.read.parquet(cfg.lake_dir)
    assert lake.count() == 500

    # Restart over the same checkpoint with no new files: nothing reruns,
    # warehouse unchanged (replay safety the reference lacks).
    q2 = stream_sales_ingest(
        spark, str(raw), cfg, str(tmp_path / "ckpt"), available_now=True
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{cfg.warehouse_dir}/sales_tgt").count() == 500
    log = spark.read.parquet(f"{cfg.warehouse_dir}/sales")
    assert log.count() == 500  # no double-append on replay

    # New file with overlapping keys: upsert keeps the table keyed.
    df = pd.read_csv(sales_sample.csv).head(50)
    df["UnitsSold"] = df["UnitsSold"] + 1
    df.to_csv(raw / "batch2.csv", index=False)
    q3 = stream_sales_ingest(
        spark, str(raw), cfg, str(tmp_path / "ckpt"), available_now=True
    )
    q3.awaitTermination(120)
    tgt3 = spark.read.parquet(f"{cfg.warehouse_dir}/sales_tgt")
    assert tgt3.count() == 500
    assert tgt3.select("uuid").distinct().count() == 500


def test_stream_ingest_row_level_quarantine(spark, tmp_path, sales_sample):
    raw = tmp_path / "raw"
    raw.mkdir()
    df = pd.read_csv(sales_sample.csv).head(20)
    df.loc[3, "OrderDate"] = "2016-13-45"  # unparseable date
    df.to_csv(raw / "dirty.csv", index=False)
    cfg = PipelineConfig(
        lake_dir=str(tmp_path / "lake"),
        warehouse_dir=str(tmp_path / "wh"),
        quarantine_dir=str(tmp_path / "quarantine"),
    )
    q = stream_sales_ingest(
        spark, str(raw), cfg, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    assert spark.read.parquet(f"{cfg.warehouse_dir}/sales_tgt").count() == 19
    bad = spark.read.parquet(cfg.quarantine_dir).collect()
    assert len(bad) == 1
    assert "bad_date_OrderDate" in bad[0]["_error_reason"]
    assert bad[0]["_source_file"].endswith("dirty.csv")


def test_tumbling_counts_batch_equals_streaming(spark, tmp_path):
    """The same logical plan produces identical results in batch mode and
    via a streaming query over the same parquet input."""
    ev = read_events(spark, SF_DIR)
    batch_out = tumbling_counts(ev).collect()

    ev.write.parquet(f"{tmp_path}/events_in", mode="overwrite")
    stream_ev = (
        spark.readStream.schema(ev.schema)
        .parquet(f"{tmp_path}/events_in")
    )
    out_dir = f"{tmp_path}/out"
    q = (
        tumbling_counts(stream_ev)
        .writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_out = spark.sql("select * from tumbling_test").collect()

    key = lambda r: (r["window_start"], r["event_type"])
    assert sorted(
        [(key(r), r["n_events"], r["total_value"]) for r in batch_out]
    ) == sorted([(key(r), r["n_events"], r["total_value"]) for r in stream_out])


def test_session_windows_close_on_gap(spark):
    import datetime

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, 7, "click", 1.0),
        (2, base + datetime.timedelta(minutes=10), 7, "click", 1.0),
        # 40-minute gap > 30-minute session gap → new session
        (3, base + datetime.timedelta(minutes=50), 7, "click", 1.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = session_windows(ev, gap="30 minutes").collect()
    assert len(out) == 2
    assert sorted(r["n_events"] for r in out) == [1, 2]


def test_stream_dedup_drops_in_batch_dupes(spark, tmp_path):
    ev = read_events(spark, SF_DIR)
    doubled = ev.unionByName(ev)
    doubled.write.parquet(f"{tmp_path}/dup_in", mode="overwrite")
    stream = spark.readStream.schema(ev.schema).parquet(f"{tmp_path}/dup_in")
    q = (
        stream_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("select count(distinct event_id) c, count(*) n from dedup_test").first()
    assert n["c"] == n["n"] == ev.count()


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: state carries across micro-batches — the
    final per-user totals after two forced batches equal a plain batch
    groupBy over all the data."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.streaming.stateful import (
        running_user_totals,
    )

    ev_full = read_events(spark, SF_DIR)
    ev_full.filter(F.col("event_id") % 2 == 0).write.parquet(
        f"{tmp_path}/state_in/f1", mode="overwrite"
    )
    ev_full.filter(F.col("event_id") % 2 == 1).write.parquet(
        f"{tmp_path}/state_in/f2", mode="overwrite"
    )
    stream = (
        spark.readStream.schema(ev_full.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/state_in/*")
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("state_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # update mode re-emits per batch: keep the LAST emission per user
    # (max n_events is monotone).
    final = spark.sql(
        """
        SELECT user_id, max_by(total_value, n_events) AS total_value,
               max(n_events) AS n_events, max_by(max_value, n_events) AS max_value
        FROM state_test GROUP BY user_id
        """
    ).collect()
    expected = {
        r["user_id"]: (r["n"], round(r["s"], 2), r["m"])
        for r in ev_full.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"), F.max("value").alias("m"))
        .collect()
    }
    assert len(final) == len(expected)
    for r in final:
        n, s, m = expected[r["user_id"]]
        assert r["n_events"] == n
        assert abs(r["total_value"] - s) < 0.02
        assert r["max_value"] == m


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream join produces exactly the pairs the
    equivalent batch time-range join produces."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.streaming.windows import (
        stream_stream_click_purchase,
    )

    ev = read_events(spark, SF_DIR)
    ev.write.parquet(f"{tmp_path}/ss_in", mode="overwrite")
    stream = spark.readStream.schema(ev.schema).parquet(f"{tmp_path}/ss_in")

    out = stream_stream_click_purchase(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["click_id"], r["purchase_ts"])
        for r in spark.sql("select * from ss_join").collect()
    }

    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts")
    )
    batch = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    want = {
        (r["user_id"], r["click_id"], r["purchase_ts"]) for r in batch.collect()
    }
    assert got == want
    assert len(got) > 0


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    """Watermark semantics across micro-batches: once the watermark has
    advanced past an old window, a later batch's event from that window
    is DROPPED by the windowed aggregation (append mode) while fresh
    events still aggregate.  Note the late-event filter uses the
    PREVIOUS batch's watermark (SPARK-40925 two-watermark split), so the
    late event arrives two batches after the data that advanced it."""
    import datetime as dt
    import time as _time

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    sch = "event_id long, ts timestamp, user_id long, event_type string, value double"

    def write(rows, name):
        spark.createDataFrame(rows, sch).coalesce(1).write.parquet(
            f"{tmp_path}/wm_in/{name}"
        )

    # Batch 1: 10:00-10:35 → watermark 10:25 after it completes.
    write(
        [(i, base + dt.timedelta(minutes=5 * i), 1, "click", 1.0) for i in range(8)],
        "f1",
    )
    _time.sleep(1.1)  # file source orders batches by modification time
    # Batch 2: fresh 10:40 (watermark for late-filtering now 10:25).
    write([(50, base + dt.timedelta(minutes=40), 1, "click", 1.0)], "f2")
    _time.sleep(1.1)
    # Batch 3: late 09:00 (far below watermark) + fresh 10:45.
    write(
        [
            (100, base - dt.timedelta(hours=1), 1, "click", 99.0),
            (101, base + dt.timedelta(minutes=45), 1, "click", 1.0),
        ],
        "f3",
    )

    stream = (
        spark.readStream.schema(
            spark.read.parquet(f"{tmp_path}/wm_in/f1").schema
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmp_path}/wm_in/*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .select(F.col("win.start").alias("ws"), "n", "v")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = {str(r["ws"]): (r["n"], r["v"]) for r in spark.sql("select * from wm_test").collect()}
    # The 09:00 late event must not appear anywhere: no 09:00 window,
    # and no value 99 leaked into any window.
    assert not any(ws.startswith("2024-01-01 09:") for ws in out)
    assert all(v != 99.0 for _, v in out.values())
    # On-time windows that closed under the final watermark did emit.
    assert out.get("2024-01-01 10:00:00") == (2, 2.0)


def test_sliding_counts_batch_equals_streaming(spark, tmp_path):
    """sliding_counts (60/30-minute overlapping panes) produces the same
    windows in batch and streaming execution."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.streaming.windows import (
        sliding_counts,
    )

    ev = read_events(spark, SF_DIR)
    batch_out = {
        (r["window_start"], r["n_events"], r["total_value"])
        for r in sliding_counts(ev).collect()
    }
    ev.write.parquet(f"{tmp_path}/slide_in", mode="overwrite")
    stream = spark.readStream.schema(ev.schema).parquet(f"{tmp_path}/slide_in")
    q = (
        sliding_counts(stream)
        .writeStream.format("memory")
        .queryName("slide_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_out = {
        (r["window_start"], r["n_events"], r["total_value"])
        for r in spark.sql("select * from slide_test").collect()
    }
    assert batch_out == stream_out
    assert len(batch_out) > 0


def test_dedup_within_watermark_collapses_jittered_dupes(spark, tmp_path):
    """Retransmitted events with slightly different timestamps (the
    at-least-once-producer case) must collapse to one row — the property
    plain dropDuplicates on (event_id, ts) cannot give."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.streaming.windows import (
        stream_dedup_within_watermark,
    )

    ev = read_events(spark, SF_DIR).limit(200)
    jittered = ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 SECONDS"))
    ev.unionByName(jittered).write.parquet(f"{tmp_path}/jit_in", mode="overwrite")
    stream = spark.readStream.schema(ev.schema).parquet(f"{tmp_path}/jit_in")
    q = (
        stream_dedup_within_watermark(stream, delay="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_wm_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql(
        "select count(distinct event_id) c, count(*) n from dedup_wm_test"
    ).first()
    assert n["c"] == n["n"] == 200


def test_incremental_rollup_matches_batch_aggregate(spark, tmp_path):
    """Streaming maintenance of the daily rollup (merge-affected-
    partitions-only) must converge to exactly the batch GROUP BY over
    all data, including across a checkpointed restart with new files."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.streaming.rollup import (
        ROLLUP_TABLE,
        stream_events_rollup,
    )

    ev = read_events(spark, SF_DIR)
    in_dir = f"{tmp_path}/ev_in"
    # Two waves of files: drain wave 1, then add wave 2 and drain again
    # over the same checkpoint (restart path).
    w1 = ev.filter(F.col("event_id") % 2 == 0)
    w2 = ev.filter(F.col("event_id") % 2 == 1)
    w1.coalesce(2).write.parquet(in_dir, mode="overwrite")
    serving = f"{tmp_path}/serving"
    ckpt = f"{tmp_path}/ckpt"
    q = stream_events_rollup(spark, in_dir, serving, ckpt)
    q.awaitTermination(120)
    w2.coalesce(2).write.parquet(in_dir, mode="append")
    q2 = stream_events_rollup(spark, in_dir, serving, ckpt)
    q2.awaitTermination(120)

    got = (
        spark.read.parquet(f"{serving}/{ROLLUP_TABLE}")
        .select(
            F.col("day").cast("date").alias("day"),
            "event_type",
            "n_events",
            F.round("total_value", 2).alias("total_value"),
        )
    )
    want = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    assert got.count() == want.count()
    assert (
        got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    )


def test_rollup_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a batch can re-run after its
    partition write committed but before the streaming checkpoint did.
    Re-applying the SAME batch_id must not double-count (per-partition
    last_batch_id marker), while the next batch_id must still merge."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.streaming.rollup import (
        ROLLUP_TABLE,
        merge_rollup_batch,
    )

    ev = read_events(spark, SF_DIR)
    serving = f"{tmp_path}/serving"
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)

    merge_rollup_batch(spark, b0, serving, batch_id=0)
    once = spark.read.parquet(f"{tmp_path}/serving/{ROLLUP_TABLE}")
    want = [
        (r["day"], r["event_type"], r["n_events"], round(r["total_value"], 2))
        for r in once.collect()
    ]
    # replay of the committed batch: all affected days carry marker 0
    merge_rollup_batch(spark, b0, serving, batch_id=0)
    again = spark.read.parquet(f"{tmp_path}/serving/{ROLLUP_TABLE}")
    got = [
        (r["day"], r["event_type"], r["n_events"], round(r["total_value"], 2))
        for r in again.collect()
    ]
    assert sorted(got) == sorted(want)

    # the NEXT batch still merges on top
    merge_rollup_batch(spark, b1, serving, batch_id=1)
    final = spark.read.parquet(f"{tmp_path}/serving/{ROLLUP_TABLE}")
    total = final.agg(F.sum("n_events").alias("n")).first()["n"]
    assert total == ev.count()


def test_sales_feed_streaming_source(spark, tmp_path):
    """Streaming face of the custom Python Data Source: files arriving
    between micro-batches are ingested exactly once (file-list
    offsets), mirroring the reference's object-arrives->batch-runs
    trigger model."""
    import json as _json
    import time as _time

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.pysource import (
        SalesFeedDataSource,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    cols = ("uuid,Country,ItemType,SalesChannel,OrderPriority,OrderDate,"
            "Region,ShipDate,UnitsSold,UnitPrice,UnitCost,TotalRevenue,"
            "TotalCost,TotalProfit")

    def csv_file(name, uid, country):
        (feed / name).write_text(
            cols + f"\n{uid},{country},Fruit,Online,H,1/2/2024,Europe,"
            "1/5/2024,10,2.5,1.5,25.0,15.0,10.0\n"
        )

    csv_file("a.csv", 1, "DE")
    spark.dataSource.register(SalesFeedDataSource)
    q = (
        spark.readStream.format("sales_feed")
        .option("path", str(feed))
        .load()
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        # second file arrives AFTER the first micro-batch
        rec = {
            "uuid": 2, "Country": "FR", "ItemType": "Meat",
            "SalesChannel": "Offline", "OrderPriority": "L",
            "OrderDate": "2/3/2024", "Region": "Europe",
            "ShipDate": "2/9/2024", "UnitsSold": 4, "UnitPrice": 10.0,
            "UnitCost": 6.0, "TotalRevenue": 40.0, "TotalCost": 24.0,
            "TotalProfit": 16.0,
        }
        (feed / "b.json").write_text(_json.dumps([rec]))
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(str(out))
    rows = {r["uuid"]: r["Country"] for r in got.collect()}
    assert rows == {1: "DE", 2: "FR"}
    # exactly-once: a restarted query from the same checkpoint adds nothing
    q2 = (
        spark.readStream.format("sales_feed")
        .option("path", str(feed))
        .load()
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert spark.read.parquet(str(out)).count() == 2


def test_sales_feed_streaming_skips_foreign_files_and_hwm_offsets(
    spark, tmp_path
):
    """The streaming face never wedges on a stray unsupported file
    (strict is forced off in latestOffset), and monotonic mode keeps
    offsets O(1) while still ingesting in-order arrivals."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.pysource import (
        SalesFeedDataSource,
        SalesFeedStreamReader,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.schema import (
        sales_ingest_schema,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    cols = ("uuid,Country,ItemType,SalesChannel,OrderPriority,OrderDate,"
            "Region,ShipDate,UnitsSold,UnitPrice,UnitCost,TotalRevenue,"
            "TotalCost,TotalProfit")

    def csv_file(name, uid):
        (feed / name).write_text(
            cols + f"\n{uid},DE,Fruit,Online,H,1/2/2024,Europe,"
            "1/5/2024,10,2.5,1.5,25.0,15.0,10.0\n"
        )

    csv_file("f001.csv", 1)
    (feed / "stray.parquet").write_text("junk")  # must not wedge

    rdr = SalesFeedStreamReader(
        {"path": str(feed), "monotonic": "true"}, sales_ingest_schema()
    )
    o0 = rdr.initialOffset()
    o1 = rdr.latestOffset()
    assert o1["hwm"].endswith("f001.csv")  # O(1) offset, stray skipped
    parts = rdr.partitions(o0, o1)
    assert [p.value for p in parts] == [str(feed / "f001.csv")]

    csv_file("f002.csv", 2)
    o2 = rdr.latestOffset()
    assert o2["hwm"].endswith("f002.csv")
    parts2 = rdr.partitions(o1, o2)
    assert [p.value for p in parts2] == [str(feed / "f002.csv")]
    # replay of a committed range is frozen (exactly-once)
    assert [p.value for p in rdr.partitions(o0, o1)] == [
        str(feed / "f001.csv")
    ]
    # end-to-end through the engine with the stray file present
    spark.dataSource.register(SalesFeedDataSource)
    q = (
        spark.readStream.format("sales_feed")
        .option("path", str(feed))
        .option("monotonic", "true")
        .load()
        .writeStream.format("memory")
        .queryName("feed_hwm")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["uuid"] for r in spark.sql("SELECT * FROM feed_hwm").collect()}
    assert got == {1, 2}


def test_sales_feed_hwm_survives_restart_with_regressed_listing(
    spark, tmp_path
):
    """The ADVICE restart hole, end to end: Spark restores a committed
    watermark but never hands it to a fresh reader before the first
    latestOffset call, so a restart onto a momentarily-empty directory
    emits a regressed offset.  The reader must contain the damage —
    after the file set is restored, nothing already ingested may be
    re-ingested, and genuinely new files still flow."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.pysource import (
        SalesFeedStreamReader,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.schema import (
        sales_ingest_schema,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    cols = ("uuid,Country,ItemType,SalesChannel,OrderPriority,OrderDate,"
            "Region,ShipDate,UnitsSold,UnitPrice,UnitCost,TotalRevenue,"
            "TotalCost,TotalProfit")

    def csv_file(name, uid):
        (feed / name).write_text(
            cols + f"\n{uid},DE,Fruit,Online,H,1/2/2024,Europe,"
            "1/5/2024,10,2.5,1.5,25.0,15.0,10.0\n"
        )

    opts = {"path": str(feed), "monotonic": "true"}
    schema = sales_ingest_schema()

    # ---- life 1: ingest f001, f002; the committed offset is f002
    csv_file("f001.csv", 1)
    csv_file("f002.csv", 2)
    r1 = SalesFeedStreamReader(opts, schema)
    o0 = r1.initialOffset()
    o1 = r1.latestOffset()
    assert [p.value for p in r1.partitions(o0, o1)] == [
        str(feed / "f001.csv"), str(feed / "f002.csv"),
    ]

    # ---- restart: fresh instance; directory momentarily empty
    (feed / "f001.csv").unlink()
    (feed / "f002.csv").unlink()
    r2 = SalesFeedStreamReader(opts, schema)
    regressed = r2.latestOffset()
    assert regressed == {"hwm": ""}  # the unavoidable regressed emission
    # Spark plans (committed, regressed) — must be an empty batch, and
    # the reader learns the committed floor from the start offset
    assert r2.partitions(o1, regressed) == []

    # files restored; a brand-new file also lands
    csv_file("f001.csv", 1)
    csv_file("f002.csv", 2)
    csv_file("f003.csv", 3)
    o2 = r2.latestOffset()
    assert o2["hwm"].endswith("f003.csv")
    # next batch starts from the COMMITTED regressed offset ("") —
    # without the poisoned-start clamp this would re-ingest f001/f002
    new = [p.value for p in r2.partitions(regressed, o2)]
    assert new == [str(feed / "f003.csv")]
    # and once seen, latestOffset never goes below the floor again,
    # even if the directory empties once more
    (feed / "f001.csv").unlink()
    (feed / "f002.csv").unlink()
    (feed / "f003.csv").unlink()
    assert r2.latestOffset()["hwm"].endswith("f003.csv")


def test_sales_feed_fulllist_offsets_are_cumulative(spark, tmp_path):
    """Full-list offsets accumulate every file ever seen: deleting a
    processed file cannot shrink the offset, and a re-created file with
    a recycled name is never re-ingested."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.pysource import (
        SalesFeedStreamReader,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.schema import (
        sales_ingest_schema,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    cols = ("uuid,Country,ItemType,SalesChannel,OrderPriority,OrderDate,"
            "Region,ShipDate,UnitsSold,UnitPrice,UnitCost,TotalRevenue,"
            "TotalCost,TotalProfit")

    def csv_file(name, uid):
        (feed / name).write_text(
            cols + f"\n{uid},DE,Fruit,Online,H,1/2/2024,Europe,"
            "1/5/2024,10,2.5,1.5,25.0,15.0,10.0\n"
        )

    rdr = SalesFeedStreamReader({"path": str(feed)}, sales_ingest_schema())
    csv_file("a.csv", 1)
    o0 = rdr.initialOffset()
    o1 = rdr.latestOffset()
    assert [p.value for p in rdr.partitions(o0, o1)] == [str(feed / "a.csv")]

    # processed file deleted: the offset keeps it (no shrink)
    (feed / "a.csv").unlink()
    o2 = rdr.latestOffset()
    assert o2 == o1
    assert rdr.partitions(o1, o2) == []

    # recycled name: still in the offset, not re-ingested; new names flow
    csv_file("a.csv", 99)
    csv_file("b.csv", 2)
    o3 = rdr.latestOffset()
    new = [p.value for p in rdr.partitions(o2, o3)]
    assert new == [str(feed / "b.csv")]


def test_sales_feed_rejects_remote_schemes(spark):
    """The connector's POSIX contract fails fast at construction for
    object-store/HDFS URIs instead of erroring inside executors."""
    import pytest as _pytest

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.pysource import (
        SalesFeedReader,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.schema import (
        sales_ingest_schema,
    )

    for bad in ("s3a://bucket/feed", "hdfs://nn/feed", "s3://b/x"):
        with _pytest.raises(ValueError, match="local filesystem"):
            SalesFeedReader({"path": bad}, sales_ingest_schema())


def test_sales_feed_monotonic_engine_restart_exactly_once(spark, tmp_path):
    """Engine-level counterpart of the regressed-listing unit test: a
    monotonic-mode stream restarted from its checkpoint onto a
    momentarily-EMPTY feed directory (files cleaned up after
    processing) must not re-ingest restored old files once they come
    back, while genuinely new files still flow — exactly-once across
    the restart despite the regressed-offset API hole."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.pysource import (
        SalesFeedDataSource,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    cols = ("uuid,Country,ItemType,SalesChannel,OrderPriority,OrderDate,"
            "Region,ShipDate,UnitsSold,UnitPrice,UnitCost,TotalRevenue,"
            "TotalCost,TotalProfit")

    def csv_file(name, uid):
        (feed / name).write_text(
            cols + f"\n{uid},DE,Fruit,Online,H,1/2/2024,Europe,"
            "1/5/2024,10,2.5,1.5,25.0,15.0,10.0\n"
        )

    spark.dataSource.register(SalesFeedDataSource)

    def start():
        return (
            spark.readStream.format("sales_feed")
            .option("path", str(feed))
            .option("monotonic", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(processingTime="1 second")
            .start()
        )

    # life 1: ingest f001/f002, then the feed is cleaned up
    csv_file("f001.csv", 1)
    csv_file("f002.csv", 2)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert {r["uuid"] for r in spark.read.parquet(str(out)).collect()} == {
        1, 2,
    }
    (feed / "f001.csv").unlink()
    (feed / "f002.csv").unlink()

    # life 2: restart onto the empty directory (the regressed-emission
    # window), then the old files reappear plus one new file
    q2 = start()
    try:
        q2.processAllAvailable()
        csv_file("f001.csv", 1)
        csv_file("f002.csv", 2)
        csv_file("f003.csv", 3)
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = [r["uuid"] for r in spark.read.parquet(str(out)).collect()]
    # f003 ingested once; restored f001/f002 NOT re-ingested
    assert sorted(got) == [1, 2, 3]


def test_sales_feed_fulllist_restart_shrunk_offset_no_reingest(
    spark, tmp_path
):
    """Full-list counterpart of the monotonic restart hole: a fresh
    reader listing an empty directory emits a SHRUNK offset; once it
    is committed, restored files already named in committed starts
    must not be re-ingested, while new files flow — and a task-retry
    of any planned range must reproduce its original plan exactly."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.pysource import (
        SalesFeedStreamReader,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.schema import (
        sales_ingest_schema,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    cols = ("uuid,Country,ItemType,SalesChannel,OrderPriority,OrderDate,"
            "Region,ShipDate,UnitsSold,UnitPrice,UnitCost,TotalRevenue,"
            "TotalCost,TotalProfit")

    def csv_file(name, uid):
        (feed / name).write_text(
            cols + f"\n{uid},DE,Fruit,Online,H,1/2/2024,Europe,"
            "1/5/2024,10,2.5,1.5,25.0,15.0,10.0\n"
        )

    schema = sales_ingest_schema()
    opts = {"path": str(feed)}

    # life 1 commits offset [a, b]; files are then cleaned up
    csv_file("a.csv", 1)
    csv_file("b.csv", 2)
    r1 = SalesFeedStreamReader(opts, schema)
    o1 = r1.latestOffset()
    assert [p.value for p in r1.partitions(r1.initialOffset(), o1)] == [
        str(feed / "a.csv"), str(feed / "b.csv"),
    ]
    (feed / "a.csv").unlink()
    (feed / "b.csv").unlink()

    # restart: fresh reader, empty dir -> shrunk emission
    r2 = SalesFeedStreamReader(opts, schema)
    shrunk = r2.latestOffset()
    assert shrunk == {"files": []}
    # Spark plans (committed, shrunk): empty batch, reader learns the
    # committed files from the start offset
    assert r2.partitions(o1, shrunk) == []

    # files restored + one new file; the shrunk offset was committed,
    # so the next batch starts from [] — a,b must NOT re-ingest
    csv_file("a.csv", 1)
    csv_file("b.csv", 2)
    csv_file("c.csv", 3)
    o2 = r2.latestOffset()
    plan = [p.value for p in r2.partitions(shrunk, o2)]
    assert plan == [str(feed / "c.csv")]
    # a task-retry of the corrected batch reproduces the same plan
    assert [p.value for p in r2.partitions(shrunk, o2)] == plan
    # and the emitted offset now covers everything seen — no shrink
    assert set(r2.latestOffset()["files"]) >= {
        str(feed / "a.csv"), str(feed / "b.csv"), str(feed / "c.csv"),
    }


def test_stream_ingest_checkpoint_reset_no_double_append(spark, tmp_path, sales_sample):
    """foreachBatch is at-least-once: with the checkpoint DELETED, the
    whole stream re-runs from scratch with the same restarting batch
    ids — the batch-id-keyed sinks must skip the already-committed
    partitions instead of double-appending to the lake and the sales
    log."""
    import shutil as _sh

    raw = tmp_path / "raw"
    raw.mkdir()
    _sh.copy(sales_sample.csv, raw / "batch1.csv")
    cfg = PipelineConfig(
        lake_dir=str(tmp_path / "lake"),
        warehouse_dir=str(tmp_path / "wh"),
        quarantine_dir=str(tmp_path / "quarantine"),
    )
    q = stream_sales_ingest(
        spark, str(raw), cfg, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    assert spark.read.parquet(cfg.lake_dir).count() == 500
    # checkpoint lost: the full replay must be absorbed by the sinks
    _sh.rmtree(str(tmp_path / "ckpt"))
    q2 = stream_sales_ingest(
        spark, str(raw), cfg, str(tmp_path / "ckpt"), available_now=True
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(cfg.lake_dir).count() == 500
    assert spark.read.parquet(f"{cfg.warehouse_dir}/sales").count() == 500
    assert spark.read.parquet(f"{cfg.warehouse_dir}/sales_tgt").count() == 500


def test_rollup_preserves_null_day_totals(spark, tmp_path):
    """Events with a NULL timestamp aggregate under day=NULL; a second
    batch touching that partition must COMBINE with the existing
    null-day totals, not replace them (null-safe merge joins)."""
    from pyspark.sql import Row

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.streaming.rollup import (
        ROLLUP_TABLE,
        merge_rollup_batch,
    )

    serving = str(tmp_path / "serving")
    b1 = spark.createDataFrame(
        [Row(ts=None, event_type="click", value=1.0)] * 5,
        "ts timestamp, event_type string, value double",
    )
    merge_rollup_batch(spark, b1, serving, batch_id=0)
    b2 = spark.createDataFrame(
        [Row(ts=None, event_type="click", value=2.0)] * 3,
        "ts timestamp, event_type string, value double",
    )
    merge_rollup_batch(spark, b2, serving, batch_id=1)
    out = spark.read.parquet(f"{serving}/{ROLLUP_TABLE}").collect()
    assert len(out) == 1
    assert out[0]["n_events"] == 8  # 5 + 3, not batch-2-only
    assert out[0]["total_value"] == 11.0
    # replay of batch 1 is still skipped on the null-day partition
    merge_rollup_batch(spark, b2, serving, batch_id=1)
    out2 = spark.read.parquet(f"{serving}/{ROLLUP_TABLE}").collect()
    assert out2[0]["n_events"] == 8


def test_stream_docs_dedup_ingest_exactly_once(spark, tmp_path):
    """The streaming face of the deduplicating corpus ingest: file
    source → foreachBatch(ingest_dedup_batch → idempotent doc append →
    idempotent signature append).  State between micro-batches lives in
    the signature store, not the stream — a dup of a doc admitted in an
    EARLIER drain is dropped after a restart — and a full from-scratch
    reprocessing (fresh checkpoint over the same files) admits nothing
    twice at either sink."""
    import pandas as pd

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
        read_lsh_signature_store,
        write_lsh_signature_store,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.streaming.dedup_ingest import (  # noqa: E501
        stream_docs_dedup_ingest,
    )

    x = "the quick brown fox jumps over the lazy dog again and again"
    y = "pack my box with five dozen liquor jugs every single day"
    w = "a fresh document on columnar storage formats and encodings"
    raw = tmp_path / "raw"
    raw.mkdir()
    lake = str(tmp_path / "lake")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    # bootstrap: an EMPTY seed frame is a valid store (pins the sketch
    # parameters); the lake needs no bootstrap at all
    write_lsh_signature_store(
        spark.createDataFrame([], "doc_id long, text string"),
        store, num_hashes=16, bands=4,
    )

    def lake_state():
        df = spark.read.parquet(lake).groupBy("doc_id").count().collect()
        return {r["doc_id"]: r["count"] for r in df}

    def store_ids():
        return {
            r["doc_id"]
            for r in read_lsh_signature_store(spark, store)["signatures"]
            .select("doc_id").distinct().collect()
        }

    def run_stream(checkpoint):
        q = stream_docs_dedup_ingest(
            spark, str(raw), lake, store, checkpoint,
            threshold=0.7, available_now=True,
        )
        q.awaitTermination(180)

    # drain 1: 1/2 duplicate each other in-batch (keep 1), 3 is unique
    pd.DataFrame({"doc_id": [1, 2, 3], "text": [x, x, y]}).astype(
        {"doc_id": "int64"}
    ).to_parquet(raw / "b1.parquet", index=False)
    run_stream(ckpt)
    assert lake_state() == {1: 1, 3: 1}
    assert store_ids() == {1, 3}

    # drain 2 (same checkpoint): 10 duplicates doc 1 ADMITTED in the
    # previous drain — the store, not the stream, carries that state
    pd.DataFrame({"doc_id": [10, 11], "text": [x, w]}).astype(
        {"doc_id": "int64"}
    ).to_parquet(raw / "b2.parquet", index=False)
    run_stream(ckpt)
    assert lake_state() == {1: 1, 3: 1, 11: 1}
    assert store_ids() == {1, 3, 11}

    # drain 3: an ALL-duplicate file admits nothing — no empty lake
    # partition lands (footerless directories would pollute reads) and
    # the store is untouched
    pd.DataFrame({"doc_id": [20], "text": [x]}).astype(
        {"doc_id": "int64"}
    ).to_parquet(raw / "b3.parquet", index=False)
    run_stream(ckpt)
    assert lake_state() == {1: 1, 3: 1, 11: 1}
    assert store_ids() == {1, 3, 11}
    assert not [
        p for p in os.listdir(lake)
        if p.startswith("ingest_batch=") and not os.listdir(f"{lake}/{p}")
    ]

    # a lake holding only footerless debris reads as empty (the
    # UNABLE_TO_INFER_SCHEMA branch), not as a crash
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.streaming.dedup_ingest import (  # noqa: E501
        _lake_docs,
    )

    debris = tmp_path / "debris_lake" / "ingest_batch=0"
    debris.mkdir(parents=True)
    (debris / "_SUCCESS").touch()
    assert _lake_docs(
        spark, str(tmp_path / "debris_lake"),
        "doc_id long, text string", "text", "doc_id",
    ).count() == 0

    # restart with the same checkpoint and no new files: a no-op
    run_stream(ckpt)
    assert lake_state() == {1: 1, 3: 1, 11: 1}

    # full reprocessing from scratch (fresh checkpoint, all files):
    # every admitted id pre-filters against the store, the dups re-drop,
    # and nothing lands twice anywhere
    run_stream(str(tmp_path / "ckpt2"))
    assert lake_state() == {1: 1, 3: 1, 11: 1}
    assert store_ids() == {1, 3, 11}

    # checkpoint/lake divergence is a LOUD error, not silent loss: a
    # fresh checkpoint re-assigns batch id 0, whose committed partition
    # (docs 1/3) lacks the NEW doc 30 this batch admits — the skip
    # would mark 30 ingested without landing it, so the guard refuses
    # BEFORE any signature lands
    v2 = "yet another brand new document about shuffle partitioning"
    pd.DataFrame({"doc_id": [30], "text": [v2]}).astype(
        {"doc_id": "int64"}
    ).to_parquet(raw / "b4.parquet", index=False)
    with pytest.raises(Exception, match="checkpoint"):
        run_stream(str(tmp_path / "ckpt3"))
    assert lake_state() == {1: 1, 3: 1, 11: 1}  # nothing half-landed
    assert store_ids() == {1, 3, 11}            # 30 NOT marked ingested


def test_stream_vectors_semantic_ingest_exactly_once(spark, tmp_path):
    """The vector face of the deduplicating ingest: file source →
    foreachBatch(ingest_semantic_batch → guarded lake append →
    append_to_ivf_index).  Near-dup state lives in the IVF index, so a
    duplicate of a vector admitted in an earlier drain drops after
    restart, and a from-scratch reprocessing admits nothing twice."""
    import glob
    import shutil

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.similarity import (  # noqa: E501
        read_ivf_index,
        write_ivf_index,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.streaming.semantic_ingest import (  # noqa: E501
        stream_vectors_semantic_ingest,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") >= 20)
    raw = tmp_path / "raw"
    raw.mkdir()
    lake = str(tmp_path / "lake")
    index = str(tmp_path / "ivf")
    ckpt = str(tmp_path / "ckpt")
    write_ivf_index(corpus, index, n_lists=8)

    def write_batch(rows, name):
        # through Spark so the file's schema (array<float>) matches the
        # index's assignments exactly
        staging = str(tmp_path / f"_stage_{name}")
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).coalesce(1).write.mode("overwrite").parquet(staging)
        shutil.copy(glob.glob(f"{staging}/part-*.parquet")[0],
                    raw / f"{name}.parquet")

    def lake_ids():
        return {r["vec_id"]
                for r in spark.read.parquet(lake).select("vec_id").collect()}

    def index_extra_ids():
        ids = {r["vec_id"]
               for r in read_ivf_index(spark, index)["assignments"]
               .select("vec_id").distinct().collect()}
        return {i for i in ids if i >= 900000}

    def run_stream(checkpoint):
        q = stream_vectors_semantic_ingest(
            spark, str(raw), lake, index, checkpoint,
            threshold=0.99, available_now=True,
        )
        q.awaitTermination(180)

    cvec = corpus.filter(F.col("vec_id") == 100).first()["embedding"]
    novel = [1.0] + [0.0] * (len(cvec) - 1)
    # drain 1: a copy of corpus vec 100 drops; the novel one-hot lands
    write_batch([(900001, cvec), (900002, novel)], "b1")
    run_stream(ckpt)
    assert lake_ids() == {900002}
    assert index_extra_ids() == {900002}

    # drain 2: a copy of the PREVIOUS drain's admitted vector drops
    # (the index carries that state); an anti-parallel novel lands
    write_batch([(900003, novel), (900004, [-x for x in cvec])], "b2")
    run_stream(ckpt)
    assert lake_ids() == {900002, 900004}
    assert index_extra_ids() == {900002, 900004}

    # from-scratch reprocessing (fresh checkpoint, both files): every
    # admitted id pre-filters, the dups re-drop, nothing lands twice
    run_stream(str(tmp_path / "ckpt2"))
    assert lake_ids() == {900002, 900004}
    assert index_extra_ids() == {900002, 900004}
