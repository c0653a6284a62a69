"""Real JDBC serving path (reference S6/S7/S9, ``lambda.py:172-190``)
against Spark's bundled embedded Derby — no external database needed.

The reference's MySQL wiring is exactly this code path with a MySQL
url/driver; everything Spark-side (df.write.jdbc modes, read-back,
missing-table fallback, pipeline wiring) is identical.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
    read_serving_table,
    write_serving_table,
)

DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


@pytest.fixture()
def derby_url():
    # unique in-memory db per test so state never leaks between tests
    return f"jdbc:derby:memory:db{uuid.uuid4().hex};create=true"


def test_jdbc_append_and_read_back(spark, derby_url):
    df = spark.range(5).select(
        F.col("id").alias("uuid"),
        (F.col("id") * 10.0).alias("amount"),
        F.lit("DE").alias("country"),
    )
    write_serving_table(df, "", "sales", "append", derby_url, DERBY_PROPS)
    write_serving_table(df, "", "sales", "append", derby_url, DERBY_PROPS)
    back = read_serving_table(spark, "", "sales", derby_url, DERBY_PROPS)
    assert back.count() == 10
    assert set(back.columns) == {"uuid", "amount", "country"}
    assert back.agg(F.sum("amount")).first()[0] == 2 * sum(i * 10.0 for i in range(5))


def test_jdbc_overwrite_replaces(spark, derby_url):
    a = spark.range(3).select(F.col("id").alias("uuid"))
    b = spark.range(7).select(F.col("id").alias("uuid"))
    write_serving_table(a, "", "sales_tgt", "overwrite", derby_url, DERBY_PROPS)
    write_serving_table(b, "", "sales_tgt", "overwrite", derby_url, DERBY_PROPS)
    back = read_serving_table(spark, "", "sales_tgt", derby_url, DERBY_PROPS)
    assert back.count() == 7


def test_jdbc_missing_table_fallback(spark, derby_url):
    # reference S8 (lambda.py:177-178): missing table -> None -> caller
    # substitutes the empty relation
    assert (
        read_serving_table(spark, "", "never_written", derby_url, DERBY_PROPS)
        is None
    )


def test_pipeline_e2e_on_jdbc_serving(spark, tmp_path, sales_sample):
    """Full reference pipeline with the serving tables on a real JDBC
    database: ingest CSV -> validate -> lake -> sales/sales_tgt/
    sales_summary via df.write.jdbc; replay is idempotent on the keyed
    upsert exactly like the parquet branch (README.md:141-145)."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline import (
        PipelineConfig,
        run_batch,
    )

    url = f"jdbc:derby:memory:e2e{uuid.uuid4().hex};create=true"
    cfg = PipelineConfig(
        lake_dir=str(tmp_path / "lake"),
        warehouse_dir=str(tmp_path / "wh-unused"),
        quarantine_dir=str(tmp_path / "quarantine"),
        jdbc_url=url,
        jdbc_properties=DERBY_PROPS,
    )
    sample = sales_sample.csv
    r1 = run_batch(spark, sample, cfg)
    assert r1["status"] == "success"
    tgt = read_serving_table(spark, "", "sales_tgt", url, DERBY_PROPS)
    log = read_serving_table(spark, "", "sales", url, DERBY_PROPS)
    summary = read_serving_table(spark, "", "sales_summary", url, DERBY_PROPS)
    assert tgt.count() == 500
    assert log.count() == 500
    assert summary.count() == tgt.select("Country").distinct().count()

    # replay: append log grows (at-least-once), upsert stays deduped
    r2 = run_batch(spark, sample, cfg)
    assert r2["status"] == "success"
    assert read_serving_table(spark, "", "sales_tgt", url, DERBY_PROPS).count() == 500
    assert read_serving_table(spark, "", "sales", url, DERBY_PROPS).count() == 1000


def test_streaming_ingest_to_jdbc_serving(spark, tmp_path, sales_sample):
    """The reference's actual architecture — file-event stream feeding
    relational serving tables — end to end: streaming ingest with
    foreachBatch writing sales/sales_tgt/sales_summary over JDBC."""
    import shutil

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.pipeline import (
        PipelineConfig,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.streaming.pipeline import (
        stream_sales_ingest,
    )

    raw = tmp_path / "raw"
    raw.mkdir()
    shutil.copy(sales_sample.csv, raw / "batch1.csv")
    url = f"jdbc:derby:memory:stream{uuid.uuid4().hex};create=true"
    cfg = PipelineConfig(
        lake_dir=str(tmp_path / "lake"),
        warehouse_dir=str(tmp_path / "wh-unused"),
        quarantine_dir=str(tmp_path / "quarantine"),
        jdbc_url=url,
        jdbc_properties=DERBY_PROPS,
    )
    q = stream_sales_ingest(
        spark, str(raw), cfg, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    tgt = read_serving_table(spark, "", "sales_tgt", url, DERBY_PROPS)
    assert tgt.count() == 500
    assert (
        read_serving_table(spark, "", "sales_summary", url, DERBY_PROPS).count()
        == tgt.select("Country").distinct().count()
    )


def test_read_serving_table_reraises_non_missing_errors(spark):
    """Only a genuinely missing table maps to None; infrastructure
    failures must propagate (otherwise the upsert-overwrite cycle would
    destroy the serving table on a transient DB error)."""
    with pytest.raises(Exception):
        read_serving_table(
            spark,
            "",
            "sales_tgt",
            "jdbc:derby:memory:nope",  # no ;create=true -> db doesn't exist
            DERBY_PROPS,
        )


def test_mysql_dialect_type_mapping_for_serving_tables(spark):
    """Dialect-level fidelity to the reference's MySQL serving tables
    (reference ``lambda.py:172-190``: ``sales``, ``sales_tgt``,
    ``sales_summary``) WITHOUT needing a MySQL server: Spark ships
    ``MySQLDialect``, and ``df.write.jdbc`` builds its CREATE TABLE
    DDL from ``dialect.getJDBCType(...)`` with the common-JDBC
    fallback.  Pinning that mapping pins the exact column DDL a MySQL
    target would receive for every serving-table column type:

    - string cols (uuid, Country, ...)         -> LONGTEXT
    - numeric cols (UnitsSold ... TotalProfit) -> DOUBLE PRECISION
    - parsed date cols (OrderDate, ShipDate)   -> DATE
    - the summary's avg/max outputs            -> DOUBLE PRECISION
    """
    jvm = spark.sparkContext._jvm
    dialect = jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(
        "jdbc:mysql://db.example:3306/sales"
    )
    assert dialect.getClass().getName() == (
        "org.apache.spark.sql.jdbc.MySQLDialect"
    )
    dt = jvm.org.apache.spark.sql.types.DataTypes

    def ddl(catalyst_type):
        opt = dialect.getJDBCType(catalyst_type)
        if not opt.isDefined():
            opt = (
                jvm.org.apache.spark.sql.execution.datasources.jdbc
                .JdbcUtils.getCommonJDBCType(catalyst_type)
            )
        assert opt.isDefined()
        return opt.get().databaseTypeDefinition()

    # The validated sales frame: strings + double numerics + real dates
    # (validate.py casts date strings in place) — so the three MySQL
    # tables get exactly these column DDL types.
    assert ddl(dt.StringType) == "LONGTEXT"
    assert ddl(dt.DoubleType) == "DOUBLE PRECISION"
    assert ddl(dt.DateType) == "DATE"
    # Sanity for adjacent types the pipeline may serve (counts, flags).
    assert ddl(dt.LongType) == "BIGINT"
    assert ddl(dt.IntegerType) == "INTEGER"
    assert ddl(dt.TimestampType) == "TIMESTAMP"
