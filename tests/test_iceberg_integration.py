"""Iceberg integration (VERDICT r4 stretch): the same test body drives
the checkpoint protocol's atomic-commit branch and the table-io layer
against a REAL Iceberg catalog the day a runtime jar is on the
classpath, and skips cleanly until then. The parquet-fallback branch of
the identical API surface runs unconditionally, so both sides of
sources/io.py's format isolation stay executable."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.plans import checkpoint as cp
from log_collector_spark.sources import io as tio


def test_table_io_parquet_fallback_roundtrip(spark, tmp_path):
    """Path targets take the parquet branch: overwrite, append, read —
    the exact call shapes the pipeline uses."""
    df = spark.range(5).withColumnRenamed("id", "v")
    p = str(tmp_path / "t")
    tio.write_table(df, p, mode="overwrite")
    assert sorted(r["v"] for r in tio.read_table(spark, p).collect()) \
        == [0, 1, 2, 3, 4]
    tio.write_table(df, p)  # default append
    assert tio.read_table(spark, p).count() == 10
    # partitioned write keeps the same API
    p2 = str(tmp_path / "t2")
    tio.write_table(df.withColumn("k", df.v % 2), p2, mode="overwrite",
                    partition_by=["k"])
    assert tio.read_table(spark, p2).count() == 5


def test_iceberg_checkpoint_atomic_commit_branch(spark, tmp_path):
    """Runs only with iceberg-spark-runtime on the classpath: hadoop
    catalog in tmp, checkpoint DDL, the idempotent MERGE commit (twice —
    no double-insert), the tombstone UPDATE, and a table-name
    read_table/write_table roundtrip."""
    if not tio.iceberg_available(spark):
        pytest.skip("no iceberg-spark-runtime jar on the classpath "
                    "(add org.apache.iceberg:iceberg-spark-runtime to "
                    "spark.jars.packages to enable)")
    spark.conf.set("spark.sql.catalog.lake",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.lake.type", "hadoop")
    spark.conf.set("spark.sql.catalog.lake.warehouse",
                   str(tmp_path / "warehouse"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lake.ckptdb")
    table = "lake.ckptdb.checkpoint"

    spark.sql(cp.iceberg_create_checkpoint_sql(table))
    rows = spark.createDataFrame(
        [("r1", "b1", "route", "/in/a.log", 0, 10, 10, 0),
         ("r1", "b1", "route", "/in/b.log", 0, 7, 6, 1)],
        "run_id string, batch_id string, stage string, src_file string, "
        "partition_id int, lines long, success long, error long").selectExpr(
        "*", "current_timestamp() as committed_at")
    rows.createOrReplaceTempView("batch_rows")
    # a retried driver commit must not double-insert
    spark.sql(cp.iceberg_commit_batch_sql(table))
    spark.sql(cp.iceberg_commit_batch_sql(table))
    assert spark.table(table).count() == 2

    spark.sql(cp.iceberg_recover_truncated_sql(["/in/b.log"], table))
    marked = spark.table(table).filter(
        f"src_file LIKE '{cp.TRUNCATED_TOMBSTONE}%'").count()
    assert marked == 1

    data = "lake.ckptdb.data"
    df = spark.range(4).withColumnRenamed("id", "v")
    tio.write_table(df, data, mode="overwrite")
    tio.write_table(df, data)
    assert tio.read_table(spark, data).count() == 8
