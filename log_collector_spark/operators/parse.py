"""Spark parse stage: vectorized grok over Arrow batches.

The analog of the reference's per-line parse loop
(reader/file/DefaultFileReader.java:267-299 + parser/GrokParser.java:82-122),
expressed as ONE struct-returning pandas UDF (scalar, Arrow-batched) so the
whole stage is a single narrow projection — no shuffle, no per-row Python:

    df → withColumn(_p, parse_udf(text)) → select(*, _p.*)

The compiled grok artifact is built ONCE on the driver (plan time, like the
reference's constructor-time ``grok.compile``) and shipped in the UDF closure;
executors lazily ``re.compile`` the final regex string once per worker process
(module-level cache below — workers are reused across tasks).

Blank / oversize predicates stay JVM-side (native ``ltrim``/``octet_length``),
so Catalyst can push and codegen them; only the regex work crosses into
Python.
"""

from __future__ import annotations

import sys

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from log_collector_spark.grok.compiler import CompiledGrok
from log_collector_spark.grok.oracle import DEFAULT_MAX_SIZE_BYTES
from log_collector_spark.grok.vectorized import VectorizedGrokParser

_SPARK_TYPES = {
    None: T.StringType(),
    "string": T.StringType(),
    "byte": T.LongType(),
    "short": T.LongType(),
    "int": T.LongType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "date": T.LongType(),  # epoch millis (Converter.java:219-233)
    "datetime": T.LongType(),
}

def parse_result_schema(parser: VectorizedGrokParser) -> T.StructType:
    fields = [T.StructField("parse_ok", T.BooleanType()),
              T.StructField("parsed_json", T.StringType())]
    for key, typ in parser.typed_keys:
        fields.append(T.StructField(key, _SPARK_TYPES.get(typ, T.StringType())))
    return T.StructType(fields)


def make_parse_udf(parser: VectorizedGrokParser):
    schema = parse_result_schema(parser)
    cols = ["parse_ok", "parsed_json"] + [k for k, _ in parser.typed_keys]

    @pandas_udf(schema)
    def grok_parse_udf(text: pd.Series) -> pd.DataFrame:
        # regex re-compilation across reused workers hits re's module cache
        out = parser.parse_batch(text)
        return out[cols]

    # The parser IS deterministic; this flag only stops Catalyst from
    # DUPLICATING the call when a downstream filter on parse outputs is
    # pushed through the projection (observed: two ArrowEvalPython nodes →
    # the whole corpus parsed twice). Input-side predicates (is_blank /
    # is_oversize) are native columns computed before the UDF, so scan-level
    # pushdown is unaffected.
    return grok_parse_udf.asNondeterministic()


# What str.strip() strips, as the grok kernel tests blank lines; and the
# same set as a DuckDB expression, with is_blank()'s DuckDB twin.
WHITESPACE = "".join(chr(c) for c in range(sys.maxunicode + 1)
                     if chr(c).isspace())
SQL_WHITESPACE = "||".join(f"chr({ord(c)})" for c in WHITESPACE)
SQL_BLANK = f"(trim(coalesce(text, ''), {SQL_WHITESPACE}) = '')"


def is_blank() -> Column:
    """F1 input: the line is empty after ``str.strip()`` (skipped, no sink).
    Trimming the left side alone empties exactly the all-whitespace lines,
    and costs less than trimming both."""
    return F.ltrim(F.coalesce(F.col("text"), F.lit("")),
                   F.lit(WHITESPACE)) == ""


def is_oversize(max_size: int) -> Column:
    """F2 input: the line's UTF-8 size reaches ``max_size`` (errors sink)."""
    return F.octet_length(F.coalesce(F.col("text"), F.lit(""))) >= max_size


def grok_parse(df: DataFrame, compiled: CompiledGrok, *,
               provenance: dict[str, str] | None = None,
               max_size: int = DEFAULT_MAX_SIZE_BYTES) -> DataFrame:
    """Append parse columns over ``text``: parse_ok, parsed_json, typed
    captures, plus the native predicates is_blank / is_oversize (reader
    decision-table inputs).

    A capture column that would collide with an input column is named
    ``<key>_parsed``.
    """
    parser = VectorizedGrokParser(compiled, provenance=provenance)
    udf = make_parse_udf(parser)
    existing = set(df.columns)
    out = (
        df
        .withColumn("is_blank", is_blank())
        .withColumn("is_oversize", is_oversize(max_size))
        .withColumn("_parsed", udf(F.col("text")))
    )
    sel: list[Column] = [F.col(c) for c in df.columns] + [
        F.col("is_blank"), F.col("is_oversize"),
        F.col("_parsed.parse_ok").alias("parse_ok"),
        F.col("_parsed.parsed_json").alias("parsed_json"),
    ]
    for key, _ in parser.typed_keys:
        name = key + "_parsed" if key in existing else key
        sel.append(F.col(f"_parsed.`{key}`").alias(name))
    return out.select(*sel)
