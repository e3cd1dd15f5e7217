"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship parse→enrich→route→aggregate pipeline on
sf0.001 transcripts. ``queries()`` exposes one plan builder per declared
query and ``oracle_sql()`` its DuckDB oracle under the same name (same
column names — the driver hashes values under sorted column names). Each
query is declared once, by ``register(...)`` beside its operator; see
``log_collector_spark/registry.py``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from log_collector_spark import registry
from log_collector_spark.operators import aggregate as agg_ops
from log_collector_spark.plans import pipeline as pl
from log_collector_spark.registry import clear_routed_slim

__all__ = ["entry", "queries", "oracle_sql", "clear_routed_slim"]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full transcripts pipeline at sf0.001 → per-sink tallies
    joined with success/error counters (north_rule metric surface)."""
    routed = pl.full_pipeline(spark, "/root/testdata/sf0.001")
    return agg_ops.pipeline_metrics(routed, "directory")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.build for name, q in registry.records().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle() for name, q in registry.records().items()}
