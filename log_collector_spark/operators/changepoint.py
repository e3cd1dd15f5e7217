"""Mean-shift changepoint scoring over hourly event volumes.

The ops-side anomaly question behavior.anomaly_hours does NOT answer:
not "is this hour extreme vs its trailing window" but "did the LEVEL
shift here" — a deploy/incident boundary. The classic two-window CUSUM
statistic, in exact integers:

    shift(h) = | sum(counts in [h, h+w-1]) - sum(counts in [h-w, h-1]) |

computed per event_type with RANGE window frames over the epoch-hour
index (range, not rows: missing hours count as zero volume, so a gap
doesn't silently shrink the window). Both engines agree on RANGE frames
over integer keys, so the whole statistic is hash-stable.

Scale shape: one hash agg events→(type, hour) — the only shuffle that
sees raw data — then two window sums over the tiny hourly frame,
partitioned on event_type. At 100 TB the hourly frame is ~10^5 rows per
type-year: driver-scale after the first agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from log_collector_spark.registry import events, register

SHIFT_WINDOW_H = 6  # hours each side of the candidate boundary


def mean_shift_hours(events: DataFrame, ts_col: str = "ts",
                     type_col: str = "event_type",
                     w: int = SHIFT_WINDOW_H) -> DataFrame:
    """Per-(event_type, hour) two-window volume-shift score; both windows
    must be fully populated-by-range (n_left/n_right report how many
    OBSERVED hours fed each side, so a caller can mask boundary hours)."""
    hour_idx = F.expr(f"unix_micros(cast({ts_col} as timestamp)) "
                      f"div 1000 div 3600000")
    hourly = (events
              .select(F.col(type_col).alias("event_type"),
                      hour_idx.cast("long").alias("hour_idx"))
              .groupBy("event_type", "hour_idx")
              .agg(F.count(F.lit(1)).cast("long").alias("n")))
    left = (Window.partitionBy("event_type").orderBy("hour_idx")
            .rangeBetween(-w, -1))
    right = (Window.partitionBy("event_type").orderBy("hour_idx")
             .rangeBetween(0, w - 1))
    return (hourly
            .withColumn("sum_left",
                        F.coalesce(F.sum("n").over(left), F.lit(0))
                         .cast("long"))
            .withColumn("sum_right", F.sum("n").over(right).cast("long"))
            .withColumn("n_left",
                        F.coalesce(F.count("n").over(left), F.lit(0))
                         .cast("long"))
            .withColumn("n_right", F.count("n").over(right).cast("long"))
            .withColumn("shift_score",
                        F.abs(F.col("sum_right") - F.col("sum_left"))
                         .cast("long")))


def sql_mean_shift_hours(table: str = "events", ts_col: str = "ts",
                         type_col: str = "event_type",
                         w: int = SHIFT_WINDOW_H) -> str:
    return f"""
        WITH hourly AS (
            SELECT {type_col} AS event_type,
                   CAST(epoch_ms({ts_col}) // 3600000 AS BIGINT) AS hour_idx,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM {table}
            GROUP BY 1, 2
        )
        SELECT event_type, hour_idx, n,
               CAST(COALESCE(SUM(n) OVER (PARTITION BY event_type
                    ORDER BY hour_idx
                    RANGE BETWEEN {w} PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS sum_left,
               CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY hour_idx
                    RANGE BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
                    AS BIGINT) AS sum_right,
               CAST(COALESCE(COUNT(n) OVER (PARTITION BY event_type
                    ORDER BY hour_idx
                    RANGE BETWEEN {w} PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_left,
               CAST(COUNT(n) OVER (PARTITION BY event_type ORDER BY hour_idx
                    RANGE BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
                    AS BIGINT) AS n_right,
               CAST(abs(SUM(n) OVER (PARTITION BY event_type
                        ORDER BY hour_idx
                        RANGE BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
                    - COALESCE(SUM(n) OVER (PARTITION BY event_type
                          ORDER BY hour_idx
                          RANGE BETWEEN {w} PRECEDING AND 1 PRECEDING), 0))
                    AS BIGINT) AS shift_score
        FROM hourly
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "mean_shift_hours_events",
    """Two-window CUSUM volume-shift score per (event_type, hour) — RANGE
    frames over the epoch-hour index, gaps count as zero volume.""",
    lambda spark, sf_dir: mean_shift_hours(events(spark, sf_dir)),
    sql_mean_shift_hours)
