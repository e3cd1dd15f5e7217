"""Wide↔long reshaping: unpivot (melt) and its pivot round-trip audit.

The reference emits fixed-shape metric maps (ConvertHandler's per-sink
tallies, AbstractReader's KairosDB datapoint lists — one (name, value)
row per metric); a Spark user gets there with the first-class
``DataFrame.unpivot`` (SQL ``UNPIVOT``), the one relational reshape the
registry's ``pivot_event_types`` (wide) did not yet cover in the long
direction. Both engines run their NATIVE reshape operator — Spark
``unpivot`` vs DuckDB ``UNPIVOT`` — so the oracle equality pins the API
semantics (column→(name,value) mapping, ordering, types), not just the
arithmetic.

100-TB shape: the unpivot runs on the ALREADY-AGGREGATED wide frame
(|event_types| rows — metadata scale), so the reshape itself is free;
the only corpus-size cost is the one map-side-combined hash agg that
builds the wide frame. Unpivot is a narrow 1→M row expansion (no
shuffle, no UDF) — safe at any scale when applied pre-aggregation too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from log_collector_spark.registry import events, register

METRICS = ["n_rows", "n_users", "value_floor_sum"]


def _wide_event_metrics(events: DataFrame) -> DataFrame:
    """One hash agg → (event_type, n_rows, n_users, value_floor_sum)."""
    return (events.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.countDistinct("user_id").cast("long").alias("n_users"),
                 F.sum(F.floor("value").cast("long")).cast("long")
                  .alias("value_floor_sum")))


def unpivot_event_metrics(events: DataFrame) -> DataFrame:
    """Long-form per-event-type metric table via the native
    ``DataFrame.unpivot``: (event_type, metric, metric_value)
    ORDER BY event_type, metric."""
    wide = _wide_event_metrics(events)
    return (wide.unpivot("event_type", METRICS, "metric", "metric_value")
                .orderBy("event_type", "metric"))


def sql_unpivot_event_metrics(table: str = "events") -> str:
    cols = ", ".join(METRICS)
    return f"""
        WITH wide AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT)
                       AS value_floor_sum
            FROM {table} GROUP BY event_type
        )
        SELECT event_type, metric, metric_value
        FROM wide
        UNPIVOT (metric_value FOR metric IN ({cols}))
        ORDER BY event_type, metric
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "unpivot_event_metrics",
    """Native DataFrame.unpivot (melt) of the per-event-type metric frame
    — the long-form twin of pivot_event_types.""",
    lambda spark, sf_dir: unpivot_event_metrics(events(spark, sf_dir)),
    sql_unpivot_event_metrics)
