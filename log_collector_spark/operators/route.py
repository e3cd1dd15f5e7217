"""Rule-based sink selection + fan-out writes (operator W5/W4/F2/F3).

The reference's sink-selection decision table, replicated exactly
(north_rule: routed-row equality):

| condition                        | sink              | reference |
|----------------------------------|-------------------|-----------|
| record bytes >= max_size         | ``errors``        | DefaultFileReader.java:252-265 |
| blank line                       | (skipped, NULL)   | DefaultFileReader.java:267 |
| parse → non-empty map            | ``<source>_etl``  | KafkaReader.java:86-89 topic rewrite |
| parse → empty map                | ``failures``      | DefaultFileReader.java:284-288 |

Expressed as ONE native ``when`` chain (JVM codegen, no shuffle); the fan-out
write is a single partitioned write — per-sink directories are the Spark-native
analog of per-topic producers (writer/kafka/KafkaWriter.java:96-147).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from log_collector_spark.grok.oracle import (
    SINK_ERRORS, SINK_FAILURES, SINK_OK_SUFFIX,
)


def sink_column(source: Column | str = "source") -> Column:
    """Decision-table column. Requires is_oversize / is_blank / parse_ok
    columns (produced by the parse stage). Evaluation order matches the
    reference loop: oversize first, then blank skip, then parse outcome."""
    src = F.col(source) if isinstance(source, str) else source
    return (
        F.when(F.col("is_oversize"), F.lit(SINK_ERRORS))
        .when(F.col("is_blank"), F.lit(None).cast("string"))
        .when(F.col("parse_ok"), F.concat(src, F.lit(SINK_OK_SUFFIX)))
        .otherwise(F.lit(SINK_FAILURES))
    )


def route(df: DataFrame, source: Column | str | None = None,
          constant_source: str | None = None) -> DataFrame:
    """Append the ``sink`` routing column."""
    if constant_source is not None:
        src: Column | str = F.lit(constant_source)
    else:
        src = source if source is not None else "source"
    return df.withColumn("sink", sink_column(src))


def sink_tallies(df: DataFrame) -> DataFrame:
    """Per-sink routed-row counts (operator A6) — blank rows carry a NULL sink
    and are excluded, mirroring 'skipped' lines."""
    return (df.filter(F.col("sink").isNotNull())
            .groupBy("sink").agg(F.count(F.lit(1)).alias("n")))


def fanout_write(df: DataFrame, base_path: str, *,
                 mode: str = "append") -> None:
    """One partitioned parquet write = full fan-out (single job, no per-sink
    scan). Blank rows (NULL sink) are skipped, never written.

    The only fan-out writer: the checkpoint commit core (batch resume and
    the streaming pipeline) and the configured ``parquet`` writer call it.
    At cluster scale this is the right shape: dynamic partition insert
    writes every sink's files in one pass over the data; per-sink separate
    writes would re-scan (or re-shuffle) once per sink.
    """
    (df.filter(F.col("sink").isNotNull())
       .write.mode(mode).partitionBy("sink").parquet(base_path))


def fanout_spool(df: DataFrame, base_path: str,
                 text_col: str = "text") -> dict[str, int]:
    """Fan-out through the ``spoolsink`` Python DataSource — the
    reference-shaped LINE-file output (one text line per routed row,
    write-then-rename commit + manifest per sink directory), where
    :func:`fanout_write` is the Spark-native columnar shape.

    One pass per sink over a sink-pruned slice (the routed frame is tiny
    per sink relative to the scan; at cluster scale prefer fanout_write's
    single partitioned job unless a downstream consumer requires the
    reference's line-file + manifest contract). Returns {sink: rows} read
    back from the committed manifests — the caller can assert it against
    :func:`sink_tallies` (the effectively-once check).
    """
    import json as _json
    import os as _os

    from log_collector_spark.sources import pydatasource as PD

    spark = df.sparkSession
    PD.register_sink(spark)
    sinks = [r["sink"] for r in
             df.select("sink").filter(F.col("sink").isNotNull())
               .distinct().collect()]
    out: dict[str, int] = {}
    for s in sorted(sinks):
        path = _os.path.join(base_path, s)
        (df.filter(F.col("sink") == s)
           .select(F.col(text_col).alias("line"))
           .write.format("spoolsink").option("path", path)
           .mode("overwrite").save())
        with open(_os.path.join(path, PD.SPOOL_MANIFEST)) as f:
            out[s] = sum(_json.load(f).values())
    return out
