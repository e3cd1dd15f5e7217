"""Config-driven pipeline builder — the Spark-native echo of the reference's
reflection wiring (reader/ReaderFactory.java:18-23, writer/WriterFactory.java:
17-22, parser reflection AbstractReader.java:44-53) and its ``collect.
properties`` config system (Configure.java:35-90, src/main/resources/
collect.properties).

The reference instantiates plugins by class name from Java properties; here
the same property keys select entries in plain registry dicts of stage
factories, and the numeric properties map onto the Spark knobs that play the
same role:

| reference property | role here |
|---|---|
| ``parser.class`` | ``grok`` / ``csv`` parse-stage factory |
| ``writer.class`` | ``parquet`` / ``console`` / ``gateway`` sink factory |
| ``file.reader.grok.expr`` / ``grok.patterns.path`` | grok compile inputs |
| ``file.reader.batch.size`` | Arrow ``maxRecordsPerBatch`` |
| ``file.reader.threadpool.size`` | ``spark.sql.shuffle.partitions`` hint |
| ``reader.message.max_size.bytes`` | oversize routing threshold |
| ``multiline.pattern`` | optional S6 assembly stage |
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from log_collector_spark.grok.compiler import GrokCompiler
from log_collector_spark.grok.oracle import DEFAULT_MAX_SIZE_BYTES


# property keys (verbatim from the reference's Configure/collect.properties)
PARSER_CLASS = "parser.class"
WRITER_CLASS = "writer.class"
GROK_EXPR = "file.reader.grok.expr"
GROK_PATTERNS_PATH = "file.reader.grok.patterns.path"
MAX_SIZE = "reader.message.max_size.bytes"
MULTILINE_PATTERN = "multiline.pattern"
CSV_SEPARATOR = "file.parser.csv.separator"
SOURCE_NAME = "file.reader.log.dir"
# S3 filename pruning (DefaultFileReader.java:36 + SugoFileFilter.java:25-39)
FILE_READER_LOG_REGEX = "file.reader.log.regex"


def _grok_parse_stage(conf: dict) -> Callable[[DataFrame], DataFrame]:
    from log_collector_spark.operators import parse as p_ops

    expr = conf[GROK_EXPR]
    patterns_path = conf.get(GROK_PATTERNS_PATH)
    compiled = GrokCompiler(patterns_path) .compile(expr) \
        if patterns_path else GrokCompiler().compile(expr)
    max_size = int(conf.get(MAX_SIZE, DEFAULT_MAX_SIZE_BYTES))

    def stage(df: DataFrame) -> DataFrame:
        return p_ops.grok_parse(df, compiled, max_size=max_size)

    return stage


def _csv_parse_stage(conf: dict) -> Callable[[DataFrame], DataFrame]:
    from log_collector_spark.operators.csv import CsvDimension, csv_parse

    dims = [CsvDimension(**d) for d in conf["csv.dimensions"]]
    sep = conf.get(CSV_SEPARATOR, ",")

    def stage(df: DataFrame) -> DataFrame:
        return csv_parse(df, dims, separator=sep)

    return stage


PARSERS: dict[str, Callable[[dict], Callable[[DataFrame], DataFrame]]] = {
    # reference class names accepted verbatim, plus short aliases
    "io.sugo.collect.parser.GrokParser": _grok_parse_stage,
    "grok": _grok_parse_stage,
    "io.sugo.collect.parser.CSVParser": _csv_parse_stage,
    "csv": _csv_parse_stage,
}


def _parquet_writer(conf: dict):
    from log_collector_spark.operators.route import fanout_write
    return lambda df: fanout_write(df, conf["writer.parquet.path"])


def _console_writer(conf: dict):
    from log_collector_spark.operators.sinks import console_sink
    return lambda df: console_sink(df)


def _gateway_writer(conf: dict):
    from log_collector_spark.operators.sinks import gateway_sink
    return lambda df: gateway_sink(df, conf["writer.gateway.api"])


def _kafka_writer(conf: dict):
    """writer.class=KafkaWriter: real connector path (KafkaWriter.java:96-147
    semantics; raises with the --packages fix where the jar is absent)."""
    from log_collector_spark.operators.sinks import kafka_sink
    from log_collector_spark.sources import kafka as khelp

    opts = khelp.writer_kafka_options(conf)
    brokers = opts.pop("kafka.bootstrap.servers", "")
    return lambda df: kafka_sink(df, brokers, options=opts)


WRITERS: dict[str, Callable[[dict], Callable[[DataFrame], None]]] = {
    "io.sugo.collect.writer.kafka.KafkaWriter": _kafka_writer,
    "kafka": _kafka_writer,
    "parquet": _parquet_writer,
    "io.sugo.collect.writer.console.ConsoleWriter": _console_writer,
    "console": _console_writer,
    "io.sugo.collect.writer.gateway.GatewayWriter": _gateway_writer,
    "gateway": _gateway_writer,
}


class ConfiguredPipeline:
    """parse (+ optional multiline pre-stage) → enrich → route → write."""

    def __init__(self, conf: dict):
        self.conf = dict(conf)
        try:
            self.parse = PARSERS[self.conf.get(PARSER_CLASS, "grok")](self.conf)
        except KeyError as e:
            raise ValueError(f"unknown parser {e} — one of {sorted(PARSERS)}")
        writer_key = self.conf.get(WRITER_CLASS, "parquet")
        if writer_key not in WRITERS:
            raise ValueError(f"unknown writer {writer_key!r} — "
                             f"one of {sorted(WRITERS)}")
        self.write = WRITERS[writer_key](self.conf)
        self.multiline = self.conf.get(MULTILINE_PATTERN) or None

    def transform(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        from log_collector_spark.operators import multiline as ml
        from log_collector_spark.operators import parse as p_ops
        from log_collector_spark.operators import route as route_ops
        from log_collector_spark.plans import pipeline as pl

        if self.multiline:
            df = ml.assemble(df, self.multiline) \
                   .withColumnRenamed("record", "text") \
                   .withColumnRenamed("file", "filename")
        out = self.parse(df)
        # routing predicates: the grok stage emits them; the CSV stage maps
        # its empty-map failure (csv_ok) onto the same decision-table inputs
        if "parse_ok" not in out.columns:
            out = out.withColumn("parse_ok", F.col("csv_ok"))
        if "is_blank" not in out.columns:
            out = out.withColumn("is_blank", p_ops.is_blank())
        if "is_oversize" not in out.columns:
            max_size = int(self.conf.get(MAX_SIZE, DEFAULT_MAX_SIZE_BYTES))
            out = out.withColumn("is_oversize", p_ops.is_oversize(max_size))
        if "role" in out.columns and "tool" in out.columns:
            out = pl.enrich_stage(out, spark)
        source = self.conf.get(SOURCE_NAME, "source")
        return route_ops.route(out, constant_source=source)

    def run(self, spark: SparkSession, df: DataFrame) -> None:
        self.write(self.transform(spark, df))
