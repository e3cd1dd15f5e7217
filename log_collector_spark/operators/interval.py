"""Time-interval join as a bucketized equi-join.

A naive events×windows range join (``t >= start AND t < end``) has no
equality predicate, so Catalyst plans BroadcastNestedLoopJoin — O(|W|·|E|)
and a non-starter when the window table itself is large (10^12 events ×
10^7 maintenance/incident windows). The scale-correct shape quantizes time
into fixed buckets of the maximum window length: each window explodes into
the <= 2 buckets it overlaps, each event computes its single bucket, and the
join becomes a shuffle hash/sort-merge EQUI-join on ``bucket`` followed by
the exact containment filter.

Losslessness: a window of length <= bucket_us overlaps at most 2 buckets and
every event inside it lands in one of them; an event's bucket is unique, so
each (window, event) pair can meet at most once — no post-join dedup.
Duplication factor of the window side is bounded by 2 (vs exploding windows
into per-unit rows). Event-time skew (a hot bucket) is an AQE skew-join
split; with longer windows raise ``bucket_us`` (duplication stays
ceil(len/bucket)+1).

Reference parity: the reference has no join engine at all (SURVEY §2.11);
this is a §2.12 engine extension. The DuckDB oracle runs the plain
inequality join (its IEJoin), proving the bucketization is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_collector_spark.registry import events, register

BUCKET_US = 600_000_000  # 10 minutes — equals the demo window length


def interval_join(events: DataFrame, windows: DataFrame, *,
                  event_ts: str = "t_us", win_start: str = "start_us",
                  win_end: str = "end_us",
                  bucket_us: int = BUCKET_US) -> DataFrame:
    """Join each event to every window with start <= t < end (half-open).

    ``events`` carries an exact integer event-time column ``event_ts`` (epoch
    µs) plus payload columns; ``windows`` carries ``win_start``/``win_end``
    (epoch µs) plus payload. Windows of ANY length are joined losslessly:
    the explode below emits every bucket from bucket(start) to
    bucket(end-1), so a long window simply covers more buckets. ``bucket_us``
    is purely a fan-out/skew knob — it should stay >= the typical window
    length so most windows land in 1-2 buckets (a window of length L
    replicates into ceil(L/bucket_us)+1 rows at most).

    Returns the inner-join of the two payloads (all columns of both inputs).
    """
    def bucket_of(c):
        # subtract-mod then divide: the quotient is an exact integer, so the
        # double division is exact (no floor-at-boundary hazard)
        return ((c - c % bucket_us) / bucket_us).cast("long")

    ev = events.withColumn("_bucket", bucket_of(F.col(event_ts)))
    # covered buckets: bucket(start) .. bucket(end - 1)  (end exclusive)
    wn = windows.withColumn(
        "_bucket",
        F.explode(F.sequence(bucket_of(F.col(win_start)),
                             bucket_of(F.col(win_end) - 1))))
    joined = ev.join(wn, "_bucket").filter(
        (F.col(event_ts) >= F.col(win_start)) &
        (F.col(event_ts) < F.col(win_end)))
    return joined.drop("_bucket")


# ---------------------------------------------------------------------------
# Interval-union coverage (round-4 continuation): merge overlapping
# per-key intervals into maximal islands — the other half of interval
# algebra (interval_join answers "who overlaps whom"; this answers "how
# much time is covered at all").
# ---------------------------------------------------------------------------

COVER_LEN_MS = 600_000  # each event opens a 10-minute activity interval


def interval_coverage(df: DataFrame, key: str, start_ms,
                      length_ms: int = COVER_LEN_MS) -> DataFrame:
    """Per-key union of overlapping intervals (gaps-and-islands): each row
    opens [start, start+length); intervals whose ranges touch merge into
    one island. Output per key: island count, total covered ms, interval
    count — e.g. "how much wall-clock was this conversation actually
    active", the time-coverage metric a transcript pipeline reports
    per-conversation.

    One shuffle on the key + a per-key ordered window: a new island starts
    where ``start > max(previous ends)`` (running MAX over the preceding
    frame — NOT lag(end), which misreads contained intervals that end
    early); covered time sums (island_end - island_start) via a per-island
    aggregate. Both window frames are cumulative (no full materialization
    of per-key arrays), so a hot key costs one sorted pass, not memory.
    Fixed length keeps the sandbox oracle simple; any end column works —
    the algebra never uses the constant."""
    s = start_ms.cast("long")
    rows = df.select(F.col(key), s.alias("s"),
                     (s + length_ms).cast("long").alias("e"))
    from pyspark.sql.window import Window
    w_prev = (Window.partitionBy(key).orderBy("s", "e")
                    .rowsBetween(Window.unboundedPreceding, -1))
    flagged = rows.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(F.max("e").over(w_prev),
                                       F.lit(-1)), 1).otherwise(0))
    w_cum = (Window.partitionBy(key).orderBy("s", "e")
                   .rowsBetween(Window.unboundedPreceding, 0))
    islands = flagged.withColumn("island",
                                 F.sum("new_island").over(w_cum))
    per_island = (islands.groupBy(key, "island")
                         .agg(F.min("s").alias("is_s"),
                              F.max("e").alias("is_e"),
                              F.count(F.lit(1)).alias("n_iv")))
    return (per_island.groupBy(key)
            .agg(F.count(F.lit(1)).cast("long").alias("n_islands"),
                 F.sum(F.col("is_e") - F.col("is_s")).cast("long")
                  .alias("covered_ms"),
                 F.sum("n_iv").cast("long").alias("n_intervals"))
            .orderBy(key))


def sql_interval_coverage(table: str, key: str, start_ms_sql: str,
                          length_ms: int = COVER_LEN_MS) -> str:
    return f"""
        WITH rows_ AS (
            SELECT {key} AS k, CAST({start_ms_sql} AS BIGINT) AS s,
                   CAST({start_ms_sql} AS BIGINT) + {length_ms} AS e
            FROM {table}
        ), flagged AS (
            SELECT k, s, e,
                   CASE WHEN s > COALESCE(MAX(e) OVER (
                            PARTITION BY k ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), -1)
                        THEN 1 ELSE 0 END AS new_island
            FROM rows_
        ), islands AS (
            SELECT k, s, e,
                   SUM(new_island) OVER (
                       PARTITION BY k ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS island
            FROM flagged
        ), per_island AS (
            SELECT k, island, MIN(s) AS is_s, MAX(e) AS is_e,
                   COUNT(*) AS n_iv
            FROM islands GROUP BY k, island
        )
        SELECT k AS {key},
               CAST(COUNT(*) AS BIGINT) AS n_islands,
               CAST(SUM(is_e - is_s) AS BIGINT) AS covered_ms,
               CAST(SUM(n_iv) AS BIGINT) AS n_intervals
        FROM per_island
        GROUP BY k
        ORDER BY k
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

def _coverage_intervals_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    ts_ms = F.expr(
        "unix_micros(date_trunc('second', cast(ts as timestamp))) div 1000")
    return interval_coverage(ev, "user_id", ts_ms)


register(
    "coverage_intervals_events",
    """Per-user union of 10-min activity intervals (gaps-and-islands via
    running-MAX(end), robust to contained intervals): islands + covered ms.""",
    _coverage_intervals_events,
    lambda: sql_interval_coverage(
        "events", "user_id",
        "epoch_ms(date_trunc('second', ts))"))


def _interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    t_us = F.unix_micros(F.col("ts").cast("timestamp")).cast("long")
    evs = ev.select(F.col("event_id"), t_us.alias("t_us"))
    wins = (ev.filter(F.col("event_id") % 97 == 0)
              .select(F.col("event_id").alias("window_id"),
                      t_us.alias("start_us"),
                      (t_us + 600_000_000).alias("end_us")))
    out = interval_join(evs, wins)
    return out.select("window_id", "event_id")


register(
    "interval_join_events",
    """Time-interval join as a bucketized equi-join: every 97th event opens
    a 10-minute window; events inside any window pair with it via a shuffle
    equi-join on the time bucket (<= 2 buckets per window, lossless) instead
    of the O(|W|*|E|) BroadcastNestedLoop a raw range predicate plans. The
    DuckDB oracle runs the plain inequality join (IEJoin) to prove the pair
    set is exact.""",
    _interval_join_events,
    lambda: """
            WITH wins AS (
                SELECT event_id AS window_id,
                       epoch_us(ts) AS start_us,
                       epoch_us(ts) + 600000000 AS end_us
                FROM events WHERE event_id % 97 = 0
            )
            SELECT w.window_id, e.event_id
            FROM wins w JOIN events e
              ON epoch_us(e.ts) >= w.start_us
             AND epoch_us(e.ts) < w.end_us
        """)
