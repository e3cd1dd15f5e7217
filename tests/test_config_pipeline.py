"""Config-driven pipeline builder (O2/O4 analog) tests."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.plans import config as cfg
from log_collector_spark.plans import pipeline as pl
from log_collector_spark.sources import transcripts as tx

SF_DIR = "/root/testdata/sf0.001"


def test_grok_config_matches_hardwired_pipeline(spark):
    conf = {
        cfg.PARSER_CLASS: "io.sugo.collect.parser.GrokParser",
        cfg.GROK_EXPR: tx.GROK_EXPR,
        cfg.MAX_SIZE: tx.DEFAULT_MAX_SIZE,
        cfg.SOURCE_NAME: "transcripts",
        cfg.WRITER_CLASS: "console",
    }
    p = cfg.ConfiguredPipeline(conf)
    df = pl.load_transcripts(spark, SF_DIR)
    routed = p.transform(spark, df)
    got = {r["sink"]: r["n"] for r in
           routed.filter(F.col("sink").isNotNull())
                 .groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()}
    ref = pl.full_pipeline(spark, SF_DIR)
    want = {r["sink"]: r["n"] for r in
            ref.filter(F.col("sink").isNotNull())
               .groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_csv_config_pipeline(spark):
    conf = {
        cfg.PARSER_CLASS: "csv",
        "csv.dimensions": [
            {"name": "a", "type": "int"},
            {"name": "b", "type": "string", "default": "dflt"},
        ],
        cfg.WRITER_CLASS: "console",
    }
    p = cfg.ConfiguredPipeline(conf)
    df = spark.createDataFrame(
        [("1,x",), ("2,",), ("junk",), ("",)], "text string")
    out = p.transform(spark, df).collect()
    rows = {r["text"]: r for r in out}
    assert rows["1,x"]["a"] == 1 and rows["1,x"]["b"] == "x"
    assert rows["2,"]["b"] == "dflt"
    assert rows["junk"]["a"] is None and rows["junk"]["b"] == "dflt"
    assert rows["junk"]["sink"] == "source_etl"  # b default → non-empty map
    assert rows[""]["sink"] is None  # blank skipped


def test_unknown_plugin_rejected():
    with pytest.raises(ValueError, match="unknown parser"):
        cfg.ConfiguredPipeline({cfg.PARSER_CLASS: "nope",
                                cfg.GROK_EXPR: "x"})
    with pytest.raises(ValueError, match="unknown writer"):
        cfg.ConfiguredPipeline({cfg.PARSER_CLASS: "grok",
                                cfg.GROK_EXPR: "%{NUMBER:n}",
                                cfg.WRITER_CLASS: "nope"})


def test_multiline_config_stage(spark):
    conf = {
        cfg.PARSER_CLASS: "grok",
        cfg.GROK_EXPR: r"\[%{NOTSPACE:logtype}\] %{GREEDYDATA:msg}",
        cfg.MULTILINE_PATTERN: r"\[.*",
        cfg.WRITER_CLASS: "console",
    }
    p = cfg.ConfiguredPipeline(conf)
    lines = spark.createDataFrame(
        [("f1", 1, "[err] boom"), ("f1", 2, "  at deep"), ("f1", 3, "[ok] fine")],
        "filename string, line_no int, text string")
    out = p.transform(spark, lines)
    recs = {r["record_id"]: r for r in out.collect()}
    assert recs[1]["msg"] == "boom  at deep"
    assert recs[2]["msg"] == "fine"


def test_parquet_writer_skips_blank_lines(spark, tmp_path):
    """writer.class=parquet fans out through route.fanout_write: blank lines
    (NULL sink, F1) are skipped — no __HIVE_DEFAULT_PARTITION__ directory —
    and the rows per sink directory equal sink_tallies."""
    from log_collector_spark.operators import route as route_ops

    out = str(tmp_path / "sinks")
    conf = {
        cfg.PARSER_CLASS: "grok",
        cfg.GROK_EXPR: r"%{WORD:w} %{INT:n;int}",
        cfg.MAX_SIZE: 16,
        cfg.WRITER_CLASS: "parquet",
        "writer.parquet.path": out,
    }
    p = cfg.ConfiguredPipeline(conf)
    df = spark.createDataFrame(
        [("a 1",), ("",), ("   ",), (None,), ("nope",), ("b 2",),
         ("c " + "9" * 20,)], "text string")
    p.run(spark, df)
    assert sorted(d for d in os.listdir(out) if d.startswith("sink=")) == [
        "sink=errors", "sink=failures", "sink=source_etl"]
    got = {r["sink"]: r["n"] for r in spark.read.parquet(out)
           .groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()}
    want = {r["sink"]: r["n"] for r in
            route_ops.sink_tallies(p.transform(spark, df)).collect()}
    assert got == want == {"source_etl": 2, "failures": 1, "errors": 1}
