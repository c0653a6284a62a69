"""Lake-layout tests: partition pruning on the partitioned parquet sink
and exchange elision on bucketed joins — the two write-time choices that
decide whether 100 TB reads touch terabytes or gigabytes."""

import pytest
from pyspark.sql import functions as F

from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.bucketing import (
    bucketed,
    write_bucketed_table,
)
from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
    write_partitioned_parquet,
)


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    df1 = spark.range(0, 100).withColumn("v", F.col("id") * 2)
    df2 = spark.range(100, 250).withColumn("v", F.col("id") * 2)
    lake = str(tmp_path / "lake")
    write_partitioned_parquet(df1, lake, batch_id="b1")
    write_partitioned_parquet(df2, lake, batch_id="b2")

    back = spark.read.parquet(lake)
    assert back.count() == 250

    pruned = back.filter(F.col("ingest_batch") == "b2")
    assert pruned.count() == 150
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # The batch predicate is a partition filter (directory-level prune),
    # not a data filter evaluated on every row.
    assert "PartitionFilters" in plan
    assert "ingest_batch" in plan.split("PartitionFilters")[1].splitlines()[0]


def test_partitioned_write_extra_partition_cols(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "DE"), (2, "FR"), (3, "DE")], "id long, country string"
    )
    lake = str(tmp_path / "lake2")
    write_partitioned_parquet(df, lake, batch_id="b1", partition_cols=["country"])
    only_de = spark.read.parquet(lake).filter(F.col("country") == "DE")
    assert only_de.count() == 2
    plan = only_de._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_bucketed_join_elides_exchange(spark):
    fact = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("m")
    )
    dim = spark.range(0, 20000, 2).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    )
    write_bucketed_table(fact, "t_fact_b", ["k"], 8)
    write_bucketed_table(dim, "t_dim_b", ["k"], 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Force a sort-merge join so the exchange (not broadcast) path
        # is what's being tested.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed(spark, "t_fact_b").join(
            bucketed(spark, "t_dim_b"), "k"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: zero shuffle
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_fact_b")
        spark.sql("DROP TABLE IF EXISTS t_dim_b")


def test_bucketed_agg_elides_exchange(spark):
    df = spark.range(0, 10000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("v")
    )
    write_bucketed_table(df, "t_agg_b", ["k"], 8)
    try:
        agg = bucketed(spark, "t_agg_b").groupBy("k").agg(F.sum("v").alias("s"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # group key == bucket key: no shuffle
        assert agg.count() == 500
    finally:
        spark.sql("DROP TABLE IF EXISTS t_agg_b")


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling: one key holding ~90% of the fact side is
    split across multiple tasks at runtime (skew=true in the final
    adaptive plan) — the no-code-change answer to moderate skew that
    operators.joins.salted_join complements for pathological cases."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 400_000).select(
            F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 1000).alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("pad"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        # No aggregation on top: AQE declines to split skewed partitions
        # when a downstream operator requires the join's hash
        # partitioning (the split would break co-partitioning) — which
        # is itself why salted_join exists for agg-after-join pipelines.
        joined = fact.join(dim, "k").select("k", "w")
        rows = joined.collect()
        assert len(rows) == 400_000
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution on the lake: a later batch adds a column; a
    mergeSchema read surfaces the union schema with nulls for old rows —
    the contract that lets ingest schemas grow without rewriting
    history."""
    lake = str(tmp_path / "evolving")
    spark.range(0, 10).select(F.col("id"), F.lit("a").alias("v1")).write.parquet(
        f"{lake}/batch=1"
    )
    spark.range(10, 20).select(
        F.col("id"), F.lit("b").alias("v1"), F.lit(3.5).alias("v2_new")
    ).write.parquet(f"{lake}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(lake)
    assert set(merged.columns) == {"id", "v1", "v2_new", "batch"}
    assert merged.count() == 20
    old = merged.filter("batch = 1")
    assert old.filter(F.col("v2_new").isNull()).count() == 10


def test_export_round_trip_formats(spark, tmp_path):
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        export_table,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -3.25), (3, None, 0.0)],
        "id long, name string, score double",
    )
    want = sorted(map(tuple, df.collect()))
    for fmt in ("parquet", "csv", "json"):
        path = str(tmp_path / f"out_{fmt}")
        export_table(df, path, fmt, coalesce=1)
        if fmt == "csv":
            back = spark.read.option("header", True).schema(df.schema).csv(path)
        else:
            back = spark.read.format(fmt).schema(df.schema).load(path)
        assert sorted(map(tuple, back.collect())) == want

    import pytest as _pytest

    with _pytest.raises(ValueError):
        export_table(df, str(tmp_path / "x"), "xlsx")


def test_read_any_extended_formats(spark, tmp_path):
    """read_any dispatches every Spark-native suffix — ORC, TSV, and
    raw text beyond the reference's csv/json — and keeps the strict
    unsupported-suffix guard (reference ``lambda.py:73-74``)."""
    import pytest as _pytest

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.readers import (
        UnsupportedFormatError,
        read_any,
    )

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -3.25), (3, "c", 0.0)],
        "id long, name string, score double",
    )
    want = sorted(map(tuple, df.collect()))

    orc_dir = str(tmp_path / "t.orc")
    df.write.orc(orc_dir)
    assert sorted(map(tuple, read_any(spark, orc_dir).collect())) == want

    tsv = tmp_path / "t.tsv"
    tsv.write_text(
        "id\tname\tscore\n1\ta\t1.5\n2\tb\t-3.25\n3\tc\t0.0\n"
    )
    back = read_any(spark, str(tsv), schema=df.schema)
    assert sorted(map(tuple, back.collect())) == want
    # inference path: header parsed, numerics inferred
    inf = read_any(spark, str(tsv), infer=True)
    assert set(inf.columns) == {"id", "name", "score"}
    assert dict(inf.dtypes)["score"] == "double"

    txt = tmp_path / "t.txt"
    txt.write_text("alpha\nbeta\n")
    lines = read_any(spark, str(txt))
    assert lines.columns == ["value"]
    assert sorted(r["value"] for r in lines.collect()) == ["alpha", "beta"]
    # a caller-provided schema cannot apply to the fixed single-value
    # text shape — loud rejection, not a silently different frame
    with _pytest.raises(UnsupportedFormatError):
        read_any(spark, str(txt), schema=df.schema)

    with _pytest.raises(UnsupportedFormatError):
        read_any(spark, str(tmp_path / "t.xlsx"))


def test_compact_lake_partition(spark, tmp_path):
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        compact_lake_partition,
    )

    path = str(tmp_path / "smallfiles")
    # 20 separate appends → ≥20 small files
    for i in range(20):
        spark.range(i * 10, (i + 1) * 10).withColumn(
            "v", F.col("id") * 3
        ).write.mode("append").parquet(path)
    before = compact_lake_partition(spark, path, target_files=2)
    assert before >= 20

    back = spark.read.parquet(path)
    assert back.count() == 200
    assert sorted(r["id"] for r in back.collect()) == list(range(200))
    import glob
    files = [f for f in glob.glob(f"{path}/*.parquet")]
    assert len(files) == 2


def test_sorted_lake_rowgroup_stats_are_narrow(spark, tmp_path):
    """write_sorted_lake must produce files with disjoint value ranges
    and row-group min/max stats that cover narrow slices — the physical
    property scan pruning depends on (verified via parquet footers)."""
    import glob

    import pyarrow.parquet as pq

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        write_sorted_lake,
    )

    n = 100_000
    df = spark.range(0, n).select(
        F.col("id"),
        (F.xxhash64("id") % 1000).alias("noise"),
    )
    # Shuffle input order first so the sort actually has work to do.
    path = str(tmp_path / "sorted_lake")
    write_sorted_lake(df.orderBy("noise"), path, "id", n_files=4)

    spans = []
    file_ranges = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        fmin, fmax = None, None
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "id"
            )
            lo, hi = col.statistics.min, col.statistics.max
            spans.append(hi - lo)
            fmin = lo if fmin is None else min(fmin, lo)
            fmax = hi if fmax is None else max(fmax, hi)
        file_ranges.append((fmin, fmax))

    # Files own disjoint ranges (range partitioning).
    file_ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(file_ranges, file_ranges[1:]):
        assert hi1 < lo2

    # Every row group spans a narrow slice of the 100k domain.
    assert max(spans) < n / 2

    # And the data is still complete & correct.
    back = spark.read.parquet(path)
    assert back.count() == n
    assert back.filter(F.col("id").between(500, 600)).count() == 101


def test_append_log_idempotent_on_replay(spark, tmp_path):
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        append_log_idempotent,
    )

    path = str(tmp_path / "log")
    df = spark.range(0, 100).withColumn("v", F.col("id") * 2)
    assert append_log_idempotent(spark, df, path, "b1") is True
    assert append_log_idempotent(spark, df, path, "b1") is False  # replay: skipped
    assert spark.read.parquet(path).count() == 100  # no double-append
    assert append_log_idempotent(spark, df, path, "b2") is True
    assert spark.read.parquet(path).count() == 200


def test_zorder_lake_clusters_both_dimensions(spark, tmp_path):
    """write_zorder_lake row groups must be narrow in BOTH clustered
    columns (each spanning a small fraction of its domain), so selective
    predicates on either dimension prune row groups — the property
    one-dimensional sorting cannot give the second column."""
    import glob

    import pyarrow.parquet as pq

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        write_zorder_lake,
    )

    n = 100_000
    # Two independent uniform dimensions (decorrelated via hashing).
    df = spark.range(0, n).select(
        F.col("id"),
        F.pmod(F.xxhash64("id"), F.lit(n)).alias("x"),
        F.pmod(F.xxhash64((F.col("id") + 7).cast("string")), F.lit(n)).alias("y"),
    )
    path = str(tmp_path / "zorder_lake")
    write_zorder_lake(df, path, ["x", "y"], n_files=16, bits=16)

    spans = {"x": [], "y": []}
    boxes = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            st = {}
            for i in range(md.num_columns):
                col = md.row_group(rg).column(i)
                name = col.path_in_schema
                if name in spans:
                    st[name] = (col.statistics.min, col.statistics.max)
                    spans[name].append(
                        col.statistics.max - col.statistics.min
                    )
            boxes.append(st)
    assert spans["x"] and spans["y"]
    # Z-range files that straddle a quadrant boundary legitimately span
    # one dimension widely (boundaries come from range-partition
    # sampling), so assert on the MEAN: measured ~0.3-0.4n per dim for
    # 16 files; an unclustered column would sit near the full domain n.
    assert sum(spans["x"]) / len(spans["x"]) < 0.6 * n
    assert sum(spans["y"]) / len(spans["y"]) < 0.6 * n
    # The property that pays at scan time: a small 2-D predicate box
    # overlaps only a handful of row groups (measured 2-3 of 16).
    qx, qy, w = 30_000, 70_000, 2_000
    hits = sum(
        1
        for b in boxes
        if b["x"][0] <= qx + w and b["x"][1] >= qx
        and b["y"][0] <= qy + w and b["y"][1] >= qy
    )
    assert hits <= 6

    back = spark.read.parquet(path)
    assert back.count() == n
    assert set(back.columns) == {"id", "x", "y"}
    assert back.agg(F.sum("id")).first()[0] == n * (n - 1) // 2


def test_sales_feed_python_datasource(spark, tmp_path):
    """Custom Python Data Source (Spark 4 connector API): per-file
    partitions, suffix dispatch (csv / json-array / ndjson), explicit
    ingest schema, and the unsupported-suffix policy — the reference's
    ingestion surface as a first-class connector."""
    import json as _json

    import pytest as _pytest

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.pysource import (
        SalesFeedDataSource,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.readers import (
        UnsupportedFormatError,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    cols = ("uuid,Country,ItemType,SalesChannel,OrderPriority,OrderDate,"
            "Region,ShipDate,UnitsSold,UnitPrice,UnitCost,TotalRevenue,"
            "TotalCost,TotalProfit")
    (feed / "a.csv").write_text(
        cols + "\n1,DE,Fruit,Online,H,1/2/2024,Europe,1/5/2024,"
        "10,2.5,1.5,25.0,15.0,10.0\n"
    )
    rec = {
        "uuid": 2, "Country": "FR", "ItemType": "Meat",
        "SalesChannel": "Offline", "OrderPriority": "L",
        "OrderDate": "2/3/2024", "Region": "Europe",
        "ShipDate": "2/9/2024", "UnitsSold": 4, "UnitPrice": 10.0,
        "UnitCost": 6.0, "TotalRevenue": 40.0, "TotalCost": 24.0,
        "TotalProfit": 16.0,
    }
    (feed / "b.json").write_text(_json.dumps([rec]))           # array
    rec3 = dict(rec, uuid=3, Country="ES")
    (feed / "c.json").write_text(_json.dumps(rec3) + "\n")     # ndjson

    spark.dataSource.register(SalesFeedDataSource)
    df = (
        spark.read.format("sales_feed")
        .option("path", str(feed))
        .load()
    )
    rows = {r["uuid"]: r for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["UnitsSold"] == 10 and rows[1]["TotalProfit"] == 10.0
    assert rows[2]["Country"] == "FR" and rows[2]["UnitPrice"] == 10.0
    assert rows[3]["Country"] == "ES"
    assert df.schema["uuid"].dataType.typeName() == "long"
    # parallel ingestion: one partition per feed file
    assert df.rdd.getNumPartitions() == 3

    # unsupported suffix: strict -> UnsupportedFormatError at planning
    (feed / "d.parquet").write_text("not really parquet")
    with _pytest.raises(Exception) as exc:
        spark.read.format("sales_feed").option("path", str(feed)).load().count()
    assert "unsupported feed file" in str(exc.value)
    # non-strict skips the file instead
    n = (
        spark.read.format("sales_feed")
        .option("path", str(feed))
        .option("strict", "false")
        .load()
        .count()
    )
    assert n == 3


def test_sales_feed_malformed_cells_null_out(spark, tmp_path):
    """Permissive-mode parity: a malformed numeric cell nulls the
    value; it never fails the file or the job."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.pysource import (
        SalesFeedDataSource,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    cols = ("uuid,Country,ItemType,SalesChannel,OrderPriority,OrderDate,"
            "Region,ShipDate,UnitsSold,UnitPrice,UnitCost,TotalRevenue,"
            "TotalCost,TotalProfit")
    (feed / "a.csv").write_text(
        cols
        + "\n1,DE,Fruit,Online,H,1/2/2024,Europe,1/5/2024,"
        "N/A,2.5,bogus,25.0,15.0,10.0\n"
        + "2,FR,Meat,Online,H,1/2/2024,Europe,1/5/2024,"
        "4,1.0,0.5,4.0,2.0,2.0\n"
    )
    spark.dataSource.register(SalesFeedDataSource)
    rows = {
        r["uuid"]: r
        for r in spark.read.format("sales_feed")
        .option("path", str(feed))
        .load()
        .collect()
    }
    assert rows[1]["UnitsSold"] is None and rows[1]["UnitCost"] is None
    assert rows[1]["UnitPrice"] == 2.5
    assert rows[2]["UnitsSold"] == 4


def test_lake_compaction_atomic_swap(spark, tmp_path):
    """Compaction rewrites a partition to N files, row-identical, and
    leaves no tmp debris; other partitions untouched."""
    from pyspark.sql import functions as F

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.maintenance import (
        compact_partition,
        list_partitions,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        write_partitioned_parquet,
    )

    lake = str(tmp_path / "lake")
    df = spark.range(1000).select("id", (F.col("id") % 7).alias("v"))
    # many small files inside one batch partition
    write_partitioned_parquet(df.repartition(16), lake, batch_id="b1")
    write_partitioned_parquet(df.repartition(4), lake, batch_id="b2")
    assert list_partitions(spark, lake) == [
        "ingest_batch=b1", "ingest_batch=b2",
    ]
    before_count = spark.read.parquet(lake).count()
    b1_files_before = len(
        list((tmp_path / "lake" / "ingest_batch=b1").glob("*.parquet"))
    )
    assert b1_files_before >= 16

    n = compact_partition(spark, lake, "ingest_batch=b1", target_files=2)
    assert n == 2
    # a frame planned BEFORE the swap holds the old file list — readers
    # must re-plan after maintenance (same contract as any non-ACID
    # parquet lake); a fresh read sees the compacted layout
    spark.catalog.refreshByPath(lake)
    after = spark.read.parquet(lake)
    assert after.count() == before_count == 2000
    # row-identical within the compacted partition
    a = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{lake}/ingest_batch=b1").collect()
    )
    b = sorted(tuple(r) for r in df.collect())
    assert a == b
    # no tmp debris, b2 untouched
    assert list_partitions(spark, lake) == [
        "ingest_batch=b1", "ingest_batch=b2",
    ]
    assert not list((tmp_path / "lake").glob("_compact_tmp*"))
    assert len(
        list((tmp_path / "lake" / "ingest_batch=b2").glob("*.parquet"))
    ) >= 4


def test_lake_retention_by_batch_folder(spark, tmp_path):
    """expire_batches drops partitions older than the cutoff by folder
    name only — no data scan — and keeps the rest byte-identical."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.maintenance import (
        expire_batches,
        list_partitions,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        write_partitioned_parquet,
    )

    lake = str(tmp_path / "lake")
    df = spark.range(10)
    for bid in ("20240101_000000", "20240201_000000", "20240301_000000"):
        write_partitioned_parquet(df, lake, batch_id=bid)
    dropped = expire_batches(spark, lake, "20240201_000000")
    assert dropped == ["ingest_batch=20240101_000000"]
    assert list_partitions(spark, lake) == [
        "ingest_batch=20240201_000000",
        "ingest_batch=20240301_000000",
    ]
    assert spark.read.parquet(lake).count() == 20


def test_lake_schema_evolution_mergeschema(spark, tmp_path):
    """Additive evolution: a column added by a later batch reads as
    NULL in earlier partitions via mergeSchema."""
    from pyspark.sql import functions as F

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.maintenance import (
        read_lake,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        write_partitioned_parquet,
    )

    lake = str(tmp_path / "lake")
    v1 = spark.range(5).select("id")
    v2 = spark.range(5, 10).select(
        "id", (F.col("id") * 2).alias("new_col")
    )
    write_partitioned_parquet(v1, lake, batch_id="b1")
    write_partitioned_parquet(v2, lake, batch_id="b2")
    merged = read_lake(spark, lake)
    assert set(merged.columns) == {"id", "new_col", "ingest_batch"}
    rows = {r["id"]: r["new_col"] for r in merged.collect()}
    assert rows[0] is None and rows[7] == 14
    assert merged.count() == 10


def test_maintenance_handles_compaction_crash_debris(spark, tmp_path):
    """Table-level maintenance must stay coherent around a crashed
    partition compaction (review r8): list_partitions excludes the
    debris names, read_lake fails LOUDLY instead of double-counting
    the backup's rows as a second partition, and compact_partition
    delegates (and recovers) when the partition survives only as its
    __old backup instead of raising partition-not-found."""
    import shutil

    import pytest as _pytest

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.maintenance import (
        compact_partition,
        list_partitions,
        read_lake,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        write_partitioned_parquet,
    )

    lake = str(tmp_path / "lake")
    df = spark.range(100).select("id")
    write_partitioned_parquet(df.repartition(4), lake, batch_id="b1")
    write_partitioned_parquet(df, lake, batch_id="b2")

    # crash between swap-out and swap-in: data lives ONLY in __old
    shutil.move(
        f"{lake}/ingest_batch=b1", f"{lake}/ingest_batch=b1__old"
    )
    assert list_partitions(spark, lake) == ["ingest_batch=b2"]
    with _pytest.raises(IOError, match="double-count"):
        read_lake(spark, lake)
    # the table-level entry point performs the documented recovery
    n = compact_partition(spark, lake, "ingest_batch=b1", target_files=1)
    assert n == 1
    assert list_partitions(spark, lake) == [
        "ingest_batch=b1", "ingest_batch=b2",
    ]
    assert read_lake(spark, lake).count() == 200
    # a partition with NO trace at all is still an error
    with _pytest.raises(FileNotFoundError):
        compact_partition(spark, lake, "ingest_batch=nope")


def test_append_log_idempotent_recovers_partial_commit(spark, tmp_path):
    """A crash mid-write leaves only staging debris (never a partial
    partition): the retry clears it and commits the full batch."""
    import os

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        append_log_idempotent,
    )

    path = str(tmp_path / "log")
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    # simulate a crashed attempt: staging dir exists, partition absent
    staging = f"{path}/_staging_ingest_batch_b1"
    os.makedirs(staging)
    with open(f"{staging}/part-junk.parquet", "wb") as fh:
        fh.write(b"partial garbage from the crashed attempt")
    assert append_log_idempotent(spark, df, path, "b1") is True
    got = spark.read.parquet(path)
    assert got.filter("ingest_batch = 'b1'").count() == 10
    # and the staging debris is gone
    assert not os.path.exists(staging)


def test_expire_batches_skips_foreign_id_schemes(spark, tmp_path):
    """Retention only reasons about wall-clock batch ids: integer
    micro-batch partitions (streaming lakes) must never be deleted by
    a lexicographic comparison against a timestamp."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.maintenance import (
        expire_batches,
    )

    path = str(tmp_path / "lake")
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    for bid in ("0", "3", "20250101_000000", "20270101_000000"):
        df.withColumn("ingest_batch", F.lit(bid)).write.mode(
            "append"
        ).partitionBy("ingest_batch").parquet(path)
    dropped = expire_batches(spark, path, "20260101_000000")
    assert dropped == ["ingest_batch=20250101_000000"]
    kept = {
        r["ingest_batch"]
        for r in spark.read.parquet(path).select("ingest_batch").distinct().collect()
    }
    assert kept == {"0", "3", "20270101_000000"}


def test_zorder_key_rejects_overflowing_interleave(spark):
    """n_cols*bits > 63 would wrap JVM shift distances mod 64 and
    silently corrupt the clustering key — must raise instead."""
    import pytest

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        zorder_key,
    )

    with pytest.raises(ValueError, match="<= 63"):
        zorder_key(["a", "b", "c", "d", "e"], bits=16)
    zorder_key(["a", "b", "c"], bits=21)  # 63: fine


def test_compact_recovers_from_crash_between_renames(spark, tmp_path):
    """A crash between swap-out and swap-in leaves the data stranded in
    <path>__old with the live path absent; the next compaction run must
    restore and complete instead of failing at listStatus."""
    import os
    import shutil

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        compact_lake_partition,
    )

    path = str(tmp_path / "part")
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    df.repartition(8).write.parquet(path)
    # simulate the mid-swap crash: live dir renamed away, nothing swapped in
    shutil.move(path, path + "__old")
    os.makedirs(path + "__compacting")  # stale staging debris too
    assert not os.path.exists(path)
    before = compact_lake_partition(spark, path, target_files=2)
    assert before == 8  # recovered file set was compacted
    got = spark.read.parquet(path)
    assert got.count() == 100
    assert not os.path.exists(path + "__old")
    assert not os.path.exists(path + "__compacting")


def test_compact_swap_contract_under_concurrent_reader(spark, tmp_path):
    """Pin the documented single-writer contract of the compaction swap
    (README "Concurrency & atomicity"):

    1. a reader frame PLANNED before compaction holds the pre-swap
       file listing — collecting it after the swap fails with missing
       files (it must re-plan; ignoreMissingFiles would silently
       return partial data instead, which is worse);
    2. a scan planned INSIDE the swap window (live dir renamed away,
       staging not yet swapped in) fails with path-not-found and a
       plain retry after the window succeeds — no torn state is ever
       readable, the failure mode is loud and transient.
    """
    import shutil

    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        compact_lake_partition,
    )

    path = str(tmp_path / "part")
    spark.range(100).selectExpr("id", "id * 2 AS v").repartition(
        8
    ).write.parquet(path)

    pre = spark.read.parquet(path)  # file listing resolved NOW
    assert compact_lake_partition(spark, path, target_files=2) == 8
    with _pytest.raises((Py4JJavaError, Exception)) as exc:
        pre.count()  # pre-swap listing -> files are gone
    assert "FileNotFound" in str(exc.value) or "does not exist" in str(
        exc.value
    )

    # mid-swap window: live dir absent, data parked in __old
    shutil.move(path, path + "__old")
    with _pytest.raises(AnalysisException):
        spark.read.parquet(path).count()  # loud path-not-found
    # the next maintenance run (or crash recovery) restores the state;
    # the reader's plain retry then sees every row
    compact_lake_partition(spark, path, target_files=2)
    assert spark.read.parquet(path).count() == 100


def test_batch_id_now_distinct_within_a_second():
    """Back-to-back batches must never share an id: the id keys the
    idempotent lake append, so a same-second collision makes the
    second DISTINCT batch look like a replay and silently drops it
    (the reference's second-granularity folder ts has exactly this
    merge behavior; ours carries microseconds)."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        batch_id_now,
    )

    ids = [batch_id_now() for _ in range(200)]
    assert len(set(ids)) == len(ids)
    assert ids == sorted(ids)  # still chronologically sortable
