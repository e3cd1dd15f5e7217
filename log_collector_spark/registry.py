"""Query registry: each driver query is declared once, beside its operator.

A declaration is one ``register(name, doc, build, oracle)`` call in the
module that owns the operator. ``build(spark, sf_dir)`` returns the Spark
plan; ``oracle()`` returns the DuckDB SQL that must produce the same rows
under the same column names. Both live in the one record, so a plan without
an oracle cannot be declared. ``__spark_entry__.queries()`` and
``oracle_sql()`` are views over these records.

The operators on the production path (``plans.pipeline``/``checkpoint`` and
``operators.parse``/``enrich``/``route``/``aggregate``) stay free of
declarations so importing them does no registry work; their queries are
declared in ``operators.core_queries``.

This module also holds the inputs the builders share: table scans, the
synthesized-events grok parse and the persisted slim routed-transcripts
frame.
"""

from __future__ import annotations

import importlib
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from log_collector_spark.operators import parse as parse_ops
from log_collector_spark.plans import pipeline as pl

MAX_SIZE = 8192

# every module that declares queries; importing them fills _QUERIES
MODULES = (
    "log_collector_spark.operators.analytics",
    "log_collector_spark.operators.analytics_ps",
    "log_collector_spark.operators.asof",
    "log_collector_spark.operators.asof_nearest",
    "log_collector_spark.operators.behavior",
    "log_collector_spark.operators.changepoint",
    "log_collector_spark.operators.core_queries",
    "log_collector_spark.operators.csv",
    "log_collector_spark.operators.interval",
    "log_collector_spark.operators.multiline",
    "log_collector_spark.operators.order",
    "log_collector_spark.operators.reshape",
    "log_collector_spark.operators.seasonal",
    "log_collector_spark.operators.tx_stats",
    "log_collector_spark.streaming.conversation_state",
    "log_collector_spark.textops.analysis",
    "log_collector_spark.textops.chunking",
    "log_collector_spark.textops.containment",
    "log_collector_spark.textops.dedup",
    "log_collector_spark.textops.editdist",
    "log_collector_spark.textops.evalops",
    "log_collector_spark.textops.indexing",
    "log_collector_spark.textops.lm_proxy",
    "log_collector_spark.textops.mining",
    "log_collector_spark.textops.multimodal",
    "log_collector_spark.textops.similarity",
)


@dataclass(frozen=True)
class Query:
    name: str
    doc: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: Callable[[], str]


_QUERIES: dict[str, Query] = {}


def register(name: str, doc: str,
             build: Callable[[SparkSession, str], DataFrame],
             oracle: Callable[[], str]) -> None:
    if name in _QUERIES:
        raise ValueError(f"query {name!r} is declared twice")
    _QUERIES[name] = Query(name, doc, build, oracle)


def records() -> dict[str, Query]:
    """Every declared query, by name."""
    for m in MODULES:
        importlib.import_module(m)
    return dict(sorted(_QUERIES.items()))


# ---------------------------------------------------------------------------
# shared inputs
# ---------------------------------------------------------------------------

def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tbl(spark, sf_dir, "events")


def spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition ONLY when the scan yields fewer partitions than cores.

    The sandbox tables are single parquet files (one split → every textops
    query runs as one task, wasting 31 cores). A real 100 TB corpus arrives
    as thousands of files, the guard is false, and no shuffle happens — this
    is a small-input fix, not a pipeline stage.
    """
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(spark, tbl(spark, sf_dir, "documents"))


def embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(spark, tbl(spark, sf_dir, "embeddings"))


# events-table lines in the DEMO-1 shape, so the grok path is checkable
# against an independent DuckDB implementation

def _event_line_col(ev: DataFrame) -> Column:
    return F.concat(
        F.lit("["), ev["event_type"], F.lit("] ["),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
        F.lit('] {"u":'), ev["user_id"].cast("string"), F.lit("}"))


def _event_line_with_faults(ev: DataFrame) -> Column:
    """Deterministic malformation rules, mirrored in the oracle SQL:
    %211 → oversize, %97 → blank, %50 → malformed, else parseable."""
    return (
        F.when(ev["event_id"] % 211 == 0,
               F.concat(F.lit('[big] [2023-11-15 00:00:00] {"pad":"'),
                        F.repeat(F.lit("x"), 9000), F.lit('"}')))
        .when(ev["event_id"] % 97 == 0, F.lit(""))
        .when(ev["event_id"] % 50 == 0,
              F.concat(F.lit("corrupt#"), ev["event_id"].cast("string")))
        .otherwise(_event_line_col(ev))
    )


def parse_events(spark: SparkSession, sf_dir: str, faults: bool) -> DataFrame:
    ev = events(spark, sf_dir)
    line = _event_line_with_faults(ev) if faults else _event_line_col(ev)
    df = ev.select("event_id", "event_type", "user_id", "ts",
                   line.alias("text"))
    return parse_ops.grok_parse(df, pl.compiled_transcript_grok(),
                                max_size=MAX_SIZE)


def props_with_drift(ev: DataFrame) -> Column:
    """Deterministic payload drift, mirrored in the oracle SQL: %7 → a new
    schema with extra keys, %13 → invalid JSON, else the original props."""
    return (F.when(ev["event_id"] % 7 == 0,
                   F.concat(F.lit('{"k":'),
                            (ev["event_id"] % 100).cast("string"),
                            F.lit(',"extra":"x","u":'),
                            ev["user_id"].cast("string"), F.lit("}")))
             .when(ev["event_id"] % 13 == 0, F.lit("not json"))
             .otherwise(ev["props"]))


ROUTED_SLIM_CACHE: dict = {}


def routed_slim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse-once / aggregate-many for the tx_* suite: the routed
    transcripts frame MINUS the two wide string columns (`text`,
    `parsed_json`), persisted per (session, sf_dir). This is the
    100-TB architecture (the parse lands once in a table; every
    aggregate reads it) made safe in-session: the slim frame caches at
    ~130 MB/1.2M turns and every downstream agg is sub-second, where
    persisting the FULL frame (wide strings included) cost more than
    each query's own column-pruned fresh parse (measured; see working
    notes). The two queries that need `text`/`parsed_json`
    (tx_redundancy, tx_per_turn_json) keep the fresh full plan, as do
    the flagship `entry()` and the bench throughput job.

    Keyed by (applicationId, sf_dir) — NOT id(spark): CPython reuses
    object ids, and keying by id also pinned dead sessions alive.
    Entries whose SparkContext has stopped are evicted on every access;
    `clear_routed_slim()` unpersists everything (call between scale
    factors or at session teardown)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    for k in [k for k, (s, _) in ROUTED_SLIM_CACHE.items()
              if s.sparkContext._jsc is None or s.sparkContext._jsc.sc().isStopped()]:
        del ROUTED_SLIM_CACHE[k]
    hit = ROUTED_SLIM_CACHE.get(key)
    if hit is None:
        df = (pl.full_pipeline(spark, sf_dir)
              .drop("text", "parsed_json").persist())
        ROUTED_SLIM_CACHE[key] = (spark, df)
        return df
    return hit[1]


def clear_routed_slim() -> None:
    """Unpersist and drop every cached slim frame (live sessions only);
    mirrors dedup.unpersist_shingles / evalops.unpersist_eval."""
    for spark, df in ROUTED_SLIM_CACHE.values():
        try:
            if spark.sparkContext._jsc is not None and \
                    not spark.sparkContext._jsc.sc().isStopped():
                df.unpersist()
        except Exception:
            pass  # a dead JVM during teardown must not mask the clear
    ROUTED_SLIM_CACHE.clear()


def tx_glob() -> str:
    """Parquet glob of the transcripts table the tx_* oracles read.

    The table is engine-generated but fully deterministic
    (sources/transcripts.py, fixed seed); this generates it on first use
    (pure pandas/pyarrow, no JVM; idempotent cache) at ``$SF_DIR``
    (default sf0.01, the driver's compare scale). The malformation
    markers are plain text predicates: octet_length >= 8192 → oversize,
    trim = '' → blank, 'corrupt#' prefix → parse failure."""
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    return os.path.join(pl.transcripts_path(sf_dir), "*.parquet")


def tx_view() -> str:
    return f"read_parquet('{tx_glob()}')"
