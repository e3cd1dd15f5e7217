"""User-behavior analytics over the event log: ordered funnels, retention
cohorts, and integer-exact trailing anomaly flags.

The reference's analytic surface is counters and minute buckets
(reference/src/main/java/io/sugo/collect/metrics/ReaderMetrics.java:14-35);
these are the next-layer queries every log/telemetry product computes from
the routed event stream (SURVEY §2.12 extensions). All outputs are
BIGINT/VARCHAR/BOOLEAN and all arithmetic is integer-exact so the DuckDB
oracles hash identically (textops/common.py convention).

Scale notes (10^12-event design point):
- the funnel is a chain of per-user min-aggregates joined on ``user_id`` —
  every join is key-co-partitioned (one shuffle key throughout) and each
  step's frame shrinks monotonically; no window over the raw stream,
- retention joins the raw stream to a per-user first-seen frame on
  ``user_id`` (co-partitioned sort-merge at scale, AQE handles hot users),
  then one hash agg on (cohort_day, day_offset),
- anomaly flags aggregate first (events → per-(type,hour) counts, map-side
  partial combine), so the window runs over ~#hours rows per type — never
  over raw events.
"""

from __future__ import annotations

import math as _m

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from log_collector_spark.textops import common as C
from log_collector_spark.plans import pipeline as pl
from log_collector_spark.registry import (events, props_with_drift, register,
                                          tbl, tx_view)

FUNNEL_STEPS = ["signup", "view", "click", "purchase"]
ANOMALY_LOOKBACK = 24   # trailing buckets in the baseline window
ANOMALY_MIN_OBS = 8     # flag only with at least this many baseline buckets
ANOMALY_Z2 = 9          # flag when (x - mean)^2 > Z2 * variance  (|z| > 3)


def _us(ts: Column) -> Column:
    """Event-time in exact epoch microseconds (Spark TimestampType and the
    parquet physical value are both µs — no truncation on either engine).
    The parquet column arrives as TIMESTAMP_NTZ; the cast is exact because
    session.py pins the session timezone to UTC."""
    return F.unix_micros(ts.cast("timestamp")).cast("long")


def funnel_counts(events: DataFrame, steps: list[str] | None = None,
                  user_col: str = "user_id", type_col: str = "event_type",
                  ts_col: str = "ts") -> DataFrame:
    """Ordered-funnel user counts: a user reaches step k if an event of
    step k's type occurs at-or-after the user's earliest qualifying time for
    step k-1 (classic first-touch funnel; ties at equal timestamps count —
    ``>=`` — matching the SQL oracle exactly).

    Output: one row per step ``(step_idx, step, users, permille)`` where
    permille is vs step-1 reach. The step frames are per-user scalars, so
    the chain's cost is one user-keyed shuffle per step over a monotonically
    shrinking frame.
    """
    steps = steps or FUNNEL_STEPS
    t = _us(F.col(ts_col))
    reached: list[DataFrame] = []
    cur = (events.filter(F.col(type_col) == steps[0])
                 .groupBy(user_col).agg(F.min(t).alias("t")))
    reached.append(cur)
    for step in steps[1:]:
        nxt = (events.filter(F.col(type_col) == step)
                     .select(F.col(user_col), t.alias("et"))
                     .join(cur, user_col)
                     .filter(F.col("et") >= F.col("t"))
                     .groupBy(user_col).agg(F.min("et").alias("t")))
        reached.append(nxt)
        cur = nxt
    counts = None
    for i, (step, frame) in enumerate(zip(steps, reached), start=1):
        one = (frame.agg(F.count(F.lit(1)).alias("users"))
                    .select(F.lit(i).cast("long").alias("step_idx"),
                            F.lit(step).alias("step"), "users"))
        counts = one if counts is None else counts.unionByName(one)
    base = counts.filter(F.col("step_idx") == 1) \
                 .select(F.col("users").alias("base_users"))
    return (counts.join(F.broadcast(base))
                  .select("step_idx", "step", "users",
                          C.permille(F.col("users"), F.col("base_users"))
                           .alias("permille")))


def sql_funnel_counts(table: str = "events",
                      steps: list[str] | None = None) -> str:
    steps = steps or FUNNEL_STEPS
    t = "epoch_us(ts)"
    ctes = [f"s1 AS (SELECT user_id, MIN({t}) AS t FROM {table} "
            f"WHERE event_type = '{steps[0]}' GROUP BY user_id)"]
    for i, step in enumerate(steps[1:], start=2):
        ctes.append(
            f"s{i} AS (SELECT e.user_id, MIN({t.replace('ts', 'e.ts')}) AS t "
            f"FROM {table} e JOIN s{i - 1} p ON e.user_id = p.user_id "
            f"WHERE e.event_type = '{step}' "
            f"AND {t.replace('ts', 'e.ts')} >= p.t GROUP BY e.user_id)")
    selects = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step_idx, '{s}' AS step, "
        f"CAST(COUNT(*) AS BIGINT) AS users FROM s{i}"
        for i, s in enumerate(steps, start=1))
    return f"""
        WITH {', '.join(ctes)},
        counts AS ({selects}),
        base AS (SELECT users AS base_users FROM counts WHERE step_idx = 1)
        SELECT step_idx, step, users,
               {C.sql_permille('users', 'base_users')} AS permille
        FROM counts, base
    """


def retention_cohorts(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts") -> DataFrame:
    """Cohort retention triangle: users bucketed by first-seen epoch-day,
    counted distinct per (cohort_day, day_offset) of later activity.

    Day arithmetic is integer floor over epoch-µs (UTC — session.py pins the
    timezone), identical in both engines. The distinct-user count partially
    aggregates the (cohort, offset, user) triple map-side before the final
    count, so the shuffle carries near-distinct triples, not raw events.
    """
    # subtract-mod before the divide: the quotient is then an exact integer
    # (< 2^53) in the double division, so both engines floor identically
    us = _us(F.col(ts_col))
    day = ((us - us % 86_400_000_000) / 86_400_000_000).cast("long")
    first = (events.groupBy(user_col)
                   .agg(F.min(day).alias("cohort_day")))
    act = events.select(F.col(user_col), day.alias("day"))
    return (act.join(first, user_col)
               .groupBy("cohort_day",
                        (F.col("day") - F.col("cohort_day"))
                        .cast("long").alias("day_offset"))
               .agg(F.countDistinct(user_col).cast("long").alias("users")))


def sql_retention_cohorts(table: str = "events") -> str:
    day = ("CAST((epoch_us(ts) - epoch_us(ts) % 86400000000) "
           "/ 86400000000 AS BIGINT)")
    return f"""
        WITH first AS (
            SELECT user_id, MIN({day}) AS cohort_day
            FROM {table} GROUP BY user_id
        )
        SELECT f.cohort_day,
               {day.replace('ts', 'e.ts')} - f.cohort_day AS day_offset,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS users
        FROM {table} e JOIN first f ON e.user_id = f.user_id
        GROUP BY 1, 2
    """


def hour_anomaly_flags(events: DataFrame, type_col: str = "event_type",
                       ts_col: str = "ts",
                       lookback: int = ANOMALY_LOOKBACK,
                       min_obs: int = ANOMALY_MIN_OBS,
                       z2: int = ANOMALY_Z2) -> DataFrame:
    """Trailing z-score volume-anomaly flags per (event_type, hour bucket),
    in EXACT integer arithmetic (no float mean/stddev — engines would
    disagree in the last ulp and flip borderline flags).

    An hour with count x is flagged against the previous ``lookback``
    observed buckets (m buckets, sum S, sum-of-squares Q) when

        m >= min_obs  AND  (m*x - S)^2 > z2 * (m*Q - S^2)

    which is |x - mean| > sqrt(z2) * sigma cleared of denominators: both
    sides are products of BIGINTs derived from counts (m <= 24, x bounded by
    the per-hour event volume), exact in Spark longs and DuckDB BIGINTs.
    Zero-variance baselines (m*Q == S^2) flag any deviation — desired: a
    metronome-steady signal that jumps IS the anomaly.

    Scale shape: raw events collapse to per-(type, hour) counts first
    (map-side partial combine), so the window scans ~#hours rows per type;
    the single window shuffle is on ``type_col``.
    """
    hour = (_us(F.col(ts_col)) - _us(F.col(ts_col)) % 3_600_000_000)
    hour_ms = (hour / 1000).cast("long")
    counts = (events.groupBy(F.col(type_col),
                             hour_ms.alias("hour_ms"))
                    .agg(F.count(F.lit(1)).alias("n")))
    w = (Window.partitionBy(type_col).orderBy("hour_ms")
               .rowsBetween(-lookback, -1))
    m = F.count(F.lit(1)).over(w)
    s = F.sum("n").over(w)
    q = F.sum(F.col("n") * F.col("n")).over(w)
    lhs = (m * F.col("n") - s)
    flagged = (m >= min_obs) & (lhs * lhs > F.lit(z2) * (m * q - s * s))
    return counts.select(
        type_col, "hour_ms", F.col("n").cast("long").alias("n"),
        F.coalesce(m, F.lit(0)).cast("long").alias("m"),
        F.coalesce(flagged, F.lit(False)).alias("flagged"))


def sql_hour_anomaly_flags(table: str = "events",
                           lookback: int = ANOMALY_LOOKBACK,
                           min_obs: int = ANOMALY_MIN_OBS,
                           z2: int = ANOMALY_Z2) -> str:
    return f"""
        WITH counts AS (
            SELECT event_type,
                   CAST((epoch_us(ts) - epoch_us(ts) % 3600000000) / 1000
                        AS BIGINT) AS hour_ms,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM {table} GROUP BY 1, 2
        ), win AS (
            SELECT event_type, hour_ms, n,
                   COUNT(*) OVER w AS m,
                   SUM(n) OVER w AS s,
                   SUM(n * n) OVER w AS q
            FROM counts
            WINDOW w AS (PARTITION BY event_type ORDER BY hour_ms
                         ROWS BETWEEN {lookback} PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, hour_ms, n,
               CAST(COALESCE(m, 0) AS BIGINT) AS m,
               COALESCE(m >= {min_obs}
                        AND (m*n - s)*(m*n - s) > {z2} * (m*q - s*s),
                        FALSE) AS flagged
        FROM win
    """


def ohlc_hours(events: DataFrame, type_col: str = "event_type",
               ts_col: str = "ts", value_col: str = "value",
               id_col: str = "event_id") -> DataFrame:
    """OHLC downsampling per (type, hour): open/close are the value at the
    first/last event of the bucket under the total order (event-time,
    ``id_col``), high/low are min/max — the classic telemetry rollup
    (candlesticks for metrics), one aggregate pass with map-side partials
    (min_by/max_by partials merge associatively; Catalyst plans
    SortAggregate because the composite (us, id) ordering key isn't
    hash-buffer-able — still partial+final, no window over raw events).

    The double ``value`` is quantized to 0.001 (round-half-up BIGINT, the
    ``common.quantized_embedding`` convention) so the DuckDB oracle — which
    uses ordered aggregates ``first(v ORDER BY ...)`` as the independent
    formulation — hashes identically."""
    us = _us(F.col(ts_col))
    v = F.round(F.col(value_col).cast("double") * 1000, 0).cast("long")
    hour_ms = ((us - us % 3_600_000_000) / 1000).cast("long")
    key = F.struct(us.alias("us"), F.col(id_col).alias("eid"))
    return (events.select(F.col(type_col), hour_ms.alias("hour_ms"),
                          v.alias("v"), key.alias("k"))
                  .groupBy(type_col, "hour_ms")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.min_by("v", "k").alias("open"),
                       F.max_by("v", "k").alias("close"),
                       F.max("v").alias("high"),
                       F.min("v").alias("low")))


def sql_ohlc_hours(table: str = "events") -> str:
    return f"""
        WITH src AS (
            SELECT event_type,
                   CAST((epoch_us(ts) - epoch_us(ts) % 3600000000) / 1000
                        AS BIGINT) AS hour_ms,
                   CAST(ROUND(value * 1000) AS BIGINT) AS v,
                   epoch_us(ts) AS us, event_id
            FROM {table}
        )
        SELECT event_type, hour_ms,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(FIRST(v ORDER BY us, event_id) AS BIGINT) AS open,
               CAST(LAST(v ORDER BY us, event_id) AS BIGINT) AS close,
               CAST(MAX(v) AS BIGINT) AS high,
               CAST(MIN(v) AS BIGINT) AS low
        FROM src GROUP BY 1, 2
    """


def transition_counts(events: DataFrame, user_col: str = "user_id",
                      type_col: str = "event_type", ts_col: str = "ts",
                      id_col: str = "event_id") -> DataFrame:
    """First-order Markov transition matrix of event types per user stream:
    count of (prev_type -> type) adjacencies under the per-user
    (event-time, id) total order — the "what do users do next" aggregate.
    One shuffle on ``user_col`` for the lag window, then a tiny
    (prev, curr) hash agg; a user's first event has no predecessor and
    emits no row."""
    w = Window.partitionBy(user_col).orderBy(_us(F.col(ts_col)),
                                             F.col(id_col))
    lagged = events.select(
        F.lag(type_col).over(w).alias("prev_type"),
        F.col(type_col).alias("event_type"))
    return (lagged.filter(F.col("prev_type").isNotNull())
                  .groupBy("prev_type", "event_type")
                  .agg(F.count(F.lit(1)).alias("n")))


def sql_transition_counts(table: str = "events") -> str:
    return f"""
        WITH lagged AS (
            SELECT LAG(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS prev_type,
                   event_type
            FROM {table}
        )
        SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM lagged WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    """


def winsorized_stats(events: DataFrame, group_col: str, value: Column,
                     lo_q: float = 0.05, hi_q: float = 0.95) -> DataFrame:
    """Robust per-group stats: clamp each value into the group's exact
    [lo_q, hi_q] rank-selection percentile bounds (winsorization — outliers
    saturate instead of distorting the sum), then aggregate. Integer in/out.

    Two passes over the values: the exact-percentile frame (a
    (group, value)-histogram agg + cumulative window, see
    ``aggregate.histogram_exact_percentiles``) is a tiny per-group scalar
    table broadcast back onto the stream, so the clamped aggregate adds
    only a map-side join + one hash agg."""
    from log_collector_spark.operators.aggregate import (
        histogram_exact_percentiles)

    bounds = histogram_exact_percentiles(events, group_col, value,
                                         {"lo": lo_q, "hi": hi_q}) \
        .select(group_col, "lo", "hi")
    v = value.cast("long").alias("v")
    base = events.select(F.col(group_col), v)
    clamped = (base.join(F.broadcast(bounds), group_col)
                   .select(F.col(group_col),
                           F.greatest(F.col("lo"),
                                      F.least(F.col("hi"), F.col("v")))
                            .alias("w")))
    return (clamped.groupBy(group_col)
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum("w").cast("long").alias("sum_w"),
                        F.min("w").cast("long").alias("min_w"),
                        F.max("w").cast("long").alias("max_w")))


ROLLING_DAYS = 7


def rolling_active_users(events: DataFrame, user_col: str = "user_id",
                         ts_col: str = "ts",
                         days: int = ROLLING_DAYS) -> DataFrame:
    """Rolling ``days``-day distinct active users per day (the WAU metric
    for days=7): for each active day d, count users active in
    [d-days+1, d].

    Exact, no sketch, and no window over raw events: the stream collapses
    to DISTINCT (day, user) first (hash agg with map-side combine), each
    pair then explodes into the <= ``days`` report-days it contributes to —
    a narrow, bounded ×days duplication — and one final distinct-count per
    report day. Only days that had at least one event are reported (the
    report-day set is semi-joined against observed days, so a silent day
    emits no row rather than a phantom window)."""
    us = _us(F.col(ts_col))
    day = ((us - us % 86_400_000_000) / 86_400_000_000).cast("long")
    pairs = events.select(day.alias("day"), F.col(user_col).alias("u")) \
                  .distinct()
    contrib = pairs.select(
        F.explode(F.sequence(F.col("day"),
                             F.col("day") + days - 1)).alias("report_day"),
        "u")
    observed = pairs.select(F.col("day").alias("report_day")).distinct()
    return (contrib.join(observed, "report_day")
                   .groupBy("report_day")
                   .agg(F.countDistinct("u").cast("long").alias("users")))


def sql_rolling_active_users(table: str = "events",
                             days: int = ROLLING_DAYS) -> str:
    day = ("CAST((epoch_us(ts) - epoch_us(ts) % 86400000000) "
           "/ 86400000000 AS BIGINT)")
    return f"""
        WITH pairs AS (
            SELECT DISTINCT {day} AS day, user_id AS u FROM {table}
        ), contrib AS (
            SELECT unnest(range(day, day + {days})) AS report_day, u
            FROM pairs
        ), observed AS (SELECT DISTINCT day AS report_day FROM pairs)
        SELECT c.report_day, CAST(COUNT(DISTINCT c.u) AS BIGINT) AS users
        FROM contrib c JOIN observed o USING (report_day)
        GROUP BY 1
    """


def snapshot_diff(old: DataFrame, new: DataFrame, key_col: str,
                  row_hash) -> DataFrame:
    """Table-snapshot reconciliation: full-outer join on the key, classify
    each key as added / removed / changed / unchanged by comparing a
    cross-engine-stable row hash (caller supplies the hash expression —
    h60 over a canonical column serialization, never engine-native hashing).

    One co-partitioned shuffle join on the key; the hash is computed in the
    narrow stage so only (key, hash) pairs move — the row payload never
    shuffles, which is what makes reconciling two 100-TB snapshots
    tractable."""
    o = old.select(F.col(key_col).alias("k"), row_hash.alias("h_old"))
    n = new.select(F.col(key_col).alias("k"), row_hash.alias("h_new"))
    j = o.join(n, "k", "full_outer")
    status = (F.when(F.col("h_old").isNull(), F.lit("added"))
               .when(F.col("h_new").isNull(), F.lit("removed"))
               .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
               .otherwise(F.lit("unchanged")))
    return j.select(F.col("k").alias(key_col), status.alias("status"))


TRIGRAM_TOPK = 20


def trigram_paths(events: DataFrame, user_col: str = "user_id",
                  type_col: str = "event_type", ts_col: str = "ts",
                  id_col: str = "event_id",
                  topk: int = TRIGRAM_TOPK) -> DataFrame:
    """Top-k 3-step behavioral paths: (a -> b -> c) event-type trigrams
    over each user's (event-time, id)-ordered stream, ranked by count with
    lexicographic tie-break — :func:`transition_counts` extended one step,
    the path-mining primitive behind "users who did X then Y then Z".

    One shuffle on ``user_col`` evaluates both lags in a single WindowExec
    pass; the trigram hash agg combines map-side, and the top-k is
    TakeOrderedAndProject (per-partition heads, never a global sort of the
    full trigram vocabulary)."""
    w = Window.partitionBy(user_col).orderBy(_us(F.col(ts_col)),
                                             F.col(id_col))
    lagged = events.select(
        F.lag(type_col, 2).over(w).alias("t1"),
        F.lag(type_col, 1).over(w).alias("t2"),
        F.col(type_col).alias("t3"))
    counts = (lagged.filter(F.col("t1").isNotNull())
                    .groupBy("t1", "t2", "t3")
                    .agg(F.count(F.lit(1)).alias("n")))
    top = counts.orderBy(F.desc("n"), F.asc("t1"), F.asc("t2"),
                         F.asc("t3")).limit(topk)
    rk = Window.partitionBy(F.pmod(F.xxhash64("t1"), F.lit(1))).orderBy(
        F.desc("n"), F.asc("t1"), F.asc("t2"), F.asc("t3"))
    return top.withColumn("rank", F.row_number().over(rk).cast("long"))


def sql_trigram_paths(table: str = "events",
                      topk: int = TRIGRAM_TOPK) -> str:
    return f"""
        WITH lagged AS (
            SELECT LAG(event_type, 2) OVER w AS t1,
                   LAG(event_type, 1) OVER w AS t2,
                   event_type AS t3
            FROM {table}
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY epoch_us(ts), event_id)
        ), counts AS (
            SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
            FROM lagged WHERE t1 IS NOT NULL GROUP BY 1, 2, 3
        )
        SELECT t1, t2, t3, n, CAST(rank AS BIGINT) AS rank FROM (
            SELECT *, ROW_NUMBER() OVER (
                       ORDER BY n DESC, t1, t2, t3) AS rank
            FROM counts
        ) WHERE rank <= {topk}
    """


def dq_profile(events: DataFrame) -> DataFrame:
    """Data-quality validity profile of the event stream in ONE aggregate
    pass: per event_type, null/blank counts, invalid-JSON payloads,
    non-positive values, and out-of-range timestamps — the dbt-style test
    summary a pipeline runs before promoting a batch. Every check is a
    conditional sum inside a single map-side-combined hash agg, so the
    cost is one scan + one tiny shuffle regardless of how many checks are
    added (never one job per check).

    ``json_object_keys`` returning NULL marks unparseable payloads — the
    F3 stance (never throw per-row) applied to validation. The ts range
    check brackets [2000-01-01, 2035-01-01) in epoch-µs."""
    props_bad = F.json_object_keys(F.col("props")).isNull()
    us = _us(F.col("ts"))
    lo, hi = 946_684_800_000_000, 2_051_222_400_000_000
    checks = {
        "n": F.lit(True),
        "null_user": F.col("user_id").isNull(),
        "null_ts": F.col("ts").isNull(),
        "bad_props": props_bad,
        "nonpos_value": F.col("value") <= 0,
        "ts_out_of_range": F.col("ts").isNotNull() & ((us < lo) | (us >= hi)),
    }
    aggs = [F.sum(F.coalesce(c.cast("long"), F.lit(0))).alias(name)
            for name, c in checks.items()]
    return events.groupBy("event_type").agg(*aggs)


def sql_dq_profile(table: str = "events") -> str:
    return f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS null_user,
               CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS null_ts,
               CAST(SUM(CASE WHEN json_valid(props)
                             THEN (CASE WHEN json_type(props) = 'OBJECT'
                                        THEN 0 ELSE 1 END)
                             ELSE 1 END) AS BIGINT) AS bad_props,
               CAST(SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS nonpos_value,
               CAST(SUM(CASE WHEN ts IS NOT NULL
                             AND (epoch_us(ts) < 946684800000000
                                  OR epoch_us(ts) >= 2051222400000000)
                             THEN 1 ELSE 0 END) AS BIGINT) AS ts_out_of_range
        FROM {table} GROUP BY event_type
    """


MAD_K = 5  # outlier iff |v - median| > MAD_K * MAD (≈ 3.4σ for normal data)


def mad_outliers(events: DataFrame, group_col: str = "event_type",
                 value: Column | None = None, k: int = MAD_K) -> DataFrame:
    """Robust per-group outlier detection via median absolute deviation:
    a value is anomalous iff |v - median| > k * MAD — the
    breakdown-point-0.5 alternative to z-scores, immune to the outliers
    it hunts (mean/stddev are dragged by the very tail they're meant to
    flag; the Hampel-filter rule every metrics pipeline runs on latency
    streams). Integer in/out: both medians use the exact rank-selection
    spec of ``aggregate.histogram_exact_percentiles``.

    Returns (group, n, median_v, mad_v, n_outliers).

    Plan: two exact-median passes (each a (group, value)-histogram agg +
    cumulative window — no row-level sort), each emitting a #groups-row
    scalar frame broadcast back onto the stream, then a single
    map-side-combined count."""
    from log_collector_spark.operators.aggregate import (
        histogram_exact_percentiles)

    if value is None:
        value = F.round(F.col("value").cast("double") * 1000, 0)
    base = events.select(F.col(group_col),
                         value.cast("long").alias("v"))
    med = histogram_exact_percentiles(base, group_col, F.col("v"),
                                      {"med": 0.5}).select(group_col, "med")
    dev = (base.join(F.broadcast(med), group_col)
               .select(F.col(group_col), F.col("med"),
                       F.abs(F.col("v") - F.col("med")).alias("d")))
    mad = histogram_exact_percentiles(dev, group_col, F.col("d"),
                                      {"mad": 0.5}).select(group_col, "mad")
    return (dev.join(F.broadcast(mad), group_col)
               .groupBy(group_col)
               .agg(F.count(F.lit(1)).cast("long").alias("n"),
                    F.max("med").cast("long").alias("median_v"),
                    F.max("mad").cast("long").alias("mad_v"),
                    F.sum(F.when(F.col("d") > k * F.col("mad"), 1)
                           .otherwise(0)).cast("long").alias("n_outliers")))


def sql_mad_outliers(table: str = "events", group_col: str = "event_type",
                     k: int = MAD_K) -> str:
    vq = "CAST(round(CAST(value AS DOUBLE) * 1000, 0) AS BIGINT)"
    return f"""
        WITH base AS (
            SELECT {group_col} AS g, {vq} AS v FROM {table}
        ), r1 AS (
            SELECT g, v,
                   ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS cnt
            FROM base
        ), med AS (
            SELECT g, MAX(CASE WHEN rn = CAST(floor(0.5 * (cnt - 1))
                                              AS BIGINT) + 1
                               THEN v END) AS med
            FROM r1 GROUP BY g
        ), dev AS (
            SELECT b.g, m.med, abs(b.v - m.med) AS d
            FROM base b JOIN med m ON b.g = m.g
        ), r2 AS (
            SELECT g, d,
                   ROW_NUMBER() OVER (PARTITION BY g ORDER BY d) AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS cnt
            FROM dev
        ), mad AS (
            SELECT g, MAX(CASE WHEN rn = CAST(floor(0.5 * (cnt - 1))
                                              AS BIGINT) + 1
                               THEN d END) AS mad
            FROM r2 GROUP BY g
        )
        SELECT dev.g AS {group_col},
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(dev.med) AS BIGINT) AS median_v,
               CAST(MAX(mad.mad) AS BIGINT) AS mad_v,
               CAST(SUM(CASE WHEN dev.d > {k} * mad.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM dev JOIN mad ON dev.g = mad.g
        GROUP BY dev.g
    """


_US_PER_DAY = 86_400_000_000


def new_vs_returning(events: DataFrame, user_col: str = "user_id",
                     ts_col: str = "ts") -> DataFrame:
    """Daily growth accounting: per UTC day, total events, distinct active
    users, and the new/returning split (new = the user's first-ever active
    day is this day) — the acquisition-vs-retention decomposition behind
    every DAU dashboard.

    Returns (day_num, n_events, n_active, n_new, n_returning) with
    ``day_num`` = epoch days (integer — cross-engine exact).

    Plan: distinct (user, day) pairs in one hash agg that ALSO carries the
    per-pair event count (so totals need no second scan); the per-user
    first day is a map-side-combined min over those pairs (user-key
    shuffle), re-joined on user — at 100 TB both aggs shuffle only
    (user, day, count) triples, and the user-level frame is the smaller
    side AQE can broadcast. No window functions, so no per-user sort."""
    day = (_us(F.col(ts_col)) / _US_PER_DAY).cast("long")
    pairs = (events.select(F.col(user_col).alias("u"), day.alias("day_num"))
             .groupBy("u", "day_num")
             .agg(F.count(F.lit(1)).cast("long").alias("n_ev")))
    first = pairs.groupBy("u").agg(F.min("day_num").alias("first_day"))
    return (pairs.join(first, "u")
            .groupBy("day_num")
            .agg(F.sum("n_ev").cast("long").alias("n_events"),
                 F.count(F.lit(1)).cast("long").alias("n_active"),
                 F.sum(F.when(F.col("day_num") == F.col("first_day"), 1)
                        .otherwise(0)).cast("long").alias("n_new"))
            .withColumn("n_returning",
                        (F.col("n_active") - F.col("n_new")).cast("long")))


def sql_new_vs_returning(table: str = "events") -> str:
    return f"""
        WITH pairs AS (
            SELECT user_id AS u, epoch_us(ts) // {_US_PER_DAY} AS day_num,
                   CAST(COUNT(*) AS BIGINT) AS n_ev
            FROM {table} GROUP BY 1, 2
        ), first AS (
            SELECT u, MIN(day_num) AS first_day FROM pairs GROUP BY u
        )
        SELECT p.day_num,
               CAST(SUM(p.n_ev) AS BIGINT) AS n_events,
               CAST(COUNT(*) AS BIGINT) AS n_active,
               CAST(SUM(CASE WHEN p.day_num = f.first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(COUNT(*) - SUM(CASE WHEN p.day_num = f.first_day
                                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_returning
        FROM pairs p JOIN first f ON p.u = f.u
        GROUP BY p.day_num
    """


DEBOUNCE_US = 1_000_000  # suppress same-key events within 1 s of the previous


def debounce_events(events: DataFrame, key_cols: list[str] | None = None,
                    ts_col: str = "ts",
                    gap_us: int = DEBOUNCE_US) -> DataFrame:
    """Duplicate-event suppression: an event is dropped when the previous
    RAW event with the same (user, type) key is less than ``gap_us`` ago —
    the idempotency debounce every ingest pipeline applies to
    double-click/retry storms (the batch twin of streaming
    ``dropDuplicatesWithinWatermark``).

    Returns (event_id, user_id, event_type, gap_us, keep) — gap NULL on
    each key's first event. Lag semantics (gap to the previous raw event,
    not to the last KEPT one): deterministic in one window pass; the
    last-kept variant is a running recurrence — that's the stateful
    streaming operator's job (streaming/dedup.py), not a batch window.

    Plan: ONE window over (user, type) ordered by (ts, event_id) — a
    single shuffle on a high-cardinality compound key; no joins. At
    100 TB this is the cheapest possible shape for any per-key
    previous-row rule."""
    keys = key_cols or ["user_id", "event_type"]
    us = _us(F.col(ts_col))
    w = Window.partitionBy(*keys).orderBy(us, "event_id")
    gap = (us - F.lag(us).over(w)).cast("long")
    return (events
            .select("event_id", *keys, gap.alias("gap_us"))
            .withColumn("keep",
                        F.col("gap_us").isNull() |
                        (F.col("gap_us") >= gap_us)))


def sql_debounce_events(table: str = "events",
                        gap_us: int = DEBOUNCE_US) -> str:
    return f"""
        SELECT event_id, user_id, event_type, gap_us,
               (gap_us IS NULL OR gap_us >= {gap_us}) AS keep
        FROM (
            SELECT event_id, user_id, event_type,
                   CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY epoch_us(ts), event_id) AS BIGINT) AS gap_us
            FROM {table}
        )
    """


def scd2_intervals(events: DataFrame, key_col: str = "user_id",
                   state_col: str = "event_type",
                   ts_col: str = "ts") -> DataFrame:
    """Slowly-changing-dimension (type 2) history build: collapse each
    key's event stream into state-validity intervals — a row per state
    CHANGE carrying [valid_from, valid_to) in epoch-µs, open (NULL) on the
    current state. The warehouse operation that turns an event log into a
    point-in-time-joinable dimension table (the reference's as-of join
    consumes exactly this shape).

    Plan: both the change detection (lag) and the interval close (lead
    over the surviving change rows) partition by the SAME key and
    ordering, so Catalyst plans ONE shuffle + sort and the second window
    reuses the first's partitioning (no re-shuffle — the sort order is
    inherited). Output is change-rows only: at 100 TB it shrinks by the
    run-length of stable states."""
    us = _us(F.col(ts_col))
    w = Window.partitionBy(key_col).orderBy(us, "event_id")
    marked = events.select(
        F.col(key_col), F.col(state_col).alias("state"),
        us.alias("valid_from_us"), "event_id",
        (F.lag(state_col).over(w).isNull() |
         (F.lag(state_col).over(w) != F.col(state_col))).alias("chg"))
    changes = marked.filter(F.col("chg"))
    w2 = Window.partitionBy(key_col).orderBy("valid_from_us", "event_id")
    return (changes
            .select(F.col(key_col), "state", "valid_from_us",
                    F.lead("valid_from_us").over(w2).alias("valid_to_us"))
            .select(F.col(key_col), "state",
                    F.col("valid_from_us").cast("long").alias("valid_from_us"),
                    F.col("valid_to_us").cast("long").alias("valid_to_us")))


def sql_scd2_intervals(table: str = "events") -> str:
    return f"""
        WITH marked AS (
            SELECT user_id, event_type AS state,
                   CAST(epoch_us(ts) AS BIGINT) AS valid_from_us, event_id,
                   (LAG(event_type) OVER w IS NULL
                    OR LAG(event_type) OVER w <> event_type) AS chg
            FROM {table}
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        )
        SELECT user_id, state, valid_from_us,
               CAST(LEAD(valid_from_us) OVER (
                   PARTITION BY user_id
                   ORDER BY valid_from_us, event_id) AS BIGINT) AS valid_to_us
        FROM marked WHERE chg
    """


def pct_rank_events(events: DataFrame, group_col: str = "event_type",
                    value: Column | None = None) -> DataFrame:
    """Per-group percentile-rank normalization: each value mapped to its
    integer permille rank ``(rank - 1) * 1000 // (n - 1)`` within the
    group — the distribution-free feature scaling (uniformizing transform)
    a training pipeline applies before mixing heterogeneous metrics; ties
    share a rank (``rank()``), so equal inputs get equal outputs
    regardless of engine sort order.

    Returns (event_id, group, vq, pct_permille).

    Plan: ONE window (shuffle on ``group_col`` + per-group sort) — the
    exact-rank floor, same cost class as any exact quantile. Grouping is
    low-cardinality here, so at 100 TB the production form is the
    two-pass equivalent: broadcast per-group histogram-sketch CDF
    (``aggregate.histogram_percentiles``) + a narrow map-side lookup;
    this operator is its correctness baseline."""
    if value is None:
        value = F.round(F.col("value").cast("double") * 1000, 0)
    base = events.select("event_id", F.col(group_col),
                         value.cast("long").alias("vq"))
    w = Window.partitionBy(group_col).orderBy("vq")
    cnt = Window.partitionBy(group_col)
    return (base
            .withColumn("rk", F.rank().over(w))
            .withColumn("n", F.count(F.lit(1)).over(cnt))
            .select("event_id", group_col, "vq",
                    F.when(F.col("n") > 1,
                           F.expr("((rk - 1) * 1000) DIV (n - 1)"))
                     .otherwise(0).cast("long").alias("pct_permille")))


def sql_pct_rank_events(table: str = "events",
                        group_col: str = "event_type") -> str:
    vq = "CAST(round(CAST(value AS DOUBLE) * 1000, 0) AS BIGINT)"
    return f"""
        SELECT event_id, {group_col}, vq,
               CAST(CASE WHEN n > 1 THEN ((rk - 1) * 1000) // (n - 1)
                         ELSE 0 END AS BIGINT) AS pct_permille
        FROM (
            SELECT event_id, {group_col}, {vq} AS vq,
                   RANK() OVER (PARTITION BY {group_col}
                                ORDER BY {vq}) AS rk,
                   COUNT(*) OVER (PARTITION BY {group_col}) AS n
            FROM {table}
        )
    """


_US_PER_HOUR = 3_600_000_000


def activity_grid(events: DataFrame, group_col: str = "event_type",
                  ts_col: str = "ts") -> DataFrame:
    """Day-of-week x hour-of-day activity grid per group — the traffic
    heatmap behind capacity planning and anomaly baselining (the trailing
    z-score operator's natural seasonal refinement). Pure integer epoch
    arithmetic: dow = (epoch_days + 4) % 7 (1970-01-01 was a Thursday;
    0 = Sunday), hour = epoch_hours % 24 — both UTC-exact in both engines,
    no calendar functions whose week conventions could diverge.

    Returns (group, dow, hour, n, n_users).

    Plan: one narrow projection + one map-side-combined hash agg on
    (group, dow, hour) — at most #groups x 168 output cells at any corpus
    size. count_distinct(user) adds the standard partial-distinct
    expansion; drop it (or sketch it) if the cell cardinality ever
    matters at 100 TB."""
    us = _us(F.col(ts_col))
    dow = ((us / _US_PER_DAY).cast("long") + 4) % 7
    hour = (us / _US_PER_HOUR).cast("long") % 24
    return (events.select(F.col(group_col), dow.alias("dow"),
                          hour.alias("hour"), "user_id")
            .groupBy(group_col, "dow", "hour")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.count_distinct("user_id").cast("long").alias("n_users")))


def sql_activity_grid(table: str = "events",
                      group_col: str = "event_type") -> str:
    return f"""
        SELECT {group_col},
               CAST((epoch_us(ts) // {_US_PER_DAY} + 4) % 7 AS BIGINT)
                   AS dow,
               CAST(epoch_us(ts) // {_US_PER_HOUR} % 24 AS BIGINT) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM {table}
        GROUP BY 1, 2, 3
    """


def basket_pairs(events: DataFrame, user_col: str = "user_id",
                 type_col: str = "event_type",
                 ts_col: str = "ts") -> DataFrame:
    """Market-basket co-occurrence: which event types appear together in
    the same (user, UTC day) session-basket, with support counts — the
    association signal behind "users who X also Y" features and
    cross-feature adoption dashboards.

    Returns (type_a, type_b, n_baskets, support_permille) with
    type_a < type_b, support = baskets containing both / total baskets.

    Plan: distinct (user, day, type) in one hash agg; each basket then
    emits its within-basket pairs via a self-equi-join on the basket key
    — fan-out per basket is (k choose 2) with k bounded by the type
    vocabulary (single digits), NOT by basket event count, because the
    distinct collapses first. One more tiny agg on the pair. At 100 TB
    the join key (user, day) is high-cardinality and unskewed by
    construction."""
    day = (_us(F.col(ts_col)) / _US_PER_DAY).cast("long")
    basket = (events.select(F.col(user_col).alias("u"),
                            day.alias("day_num"),
                            F.col(type_col).alias("t"))
              .distinct())
    totals = (basket.select("u", "day_num").distinct()
              .agg(F.count(F.lit(1)).cast("long").alias("n_total")))
    a, b = basket.alias("a"), basket.alias("b")
    pairs = (a.join(b, (F.col("a.u") == F.col("b.u")) &
                       (F.col("a.day_num") == F.col("b.day_num")) &
                       (F.col("a.t") < F.col("b.t")))
             .groupBy(F.col("a.t").alias("type_a"),
                      F.col("b.t").alias("type_b"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_baskets")))
    return (pairs.crossJoin(F.broadcast(totals))
            .select("type_a", "type_b", "n_baskets",
                    F.expr("(n_baskets * 1000) DIV n_total").cast("long")
                     .alias("support_permille")))


def sql_basket_pairs(table: str = "events") -> str:
    return f"""
        WITH basket AS (
            SELECT DISTINCT user_id AS u,
                   epoch_us(ts) // {_US_PER_DAY} AS day_num,
                   event_type AS t
            FROM {table}
        ), tot AS (
            SELECT COUNT(*) AS n FROM (
                SELECT DISTINCT u, day_num FROM basket)
        )
        SELECT a.t AS type_a, b.t AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_baskets,
               CAST((COUNT(*) * 1000) // MAX(tot.n) AS BIGINT)
                   AS support_permille
        FROM basket a
        JOIN basket b ON a.u = b.u AND a.day_num = b.day_num AND a.t < b.t
        CROSS JOIN tot
        GROUP BY a.t, b.t
    """


# ---------------------------------------------------------------------------
# Time-weighted average (irregular-sample TWA, the billing/SLO statistic)
# ---------------------------------------------------------------------------


def twa_value(events: DataFrame, group_col: str = "event_type",
              ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """Per-group time-weighted average of an irregularly-sampled value:
    each observation holds until the next one (step interpolation), so

        twa = SUM(value_i * dt_i) / SUM(dt_i),  dt_i = ts_{i+1} - ts_i

    in exact integers (value → cents via the repo's money convention,
    dt in ms; the final epoch-less observation carries no weight). The
    mean-of-samples lies when sampling is bursty; TWA is what uptime/
    billing actually integrates.

    Scale shape: a window on the bare group would globally sort each
    group in one task (5 event types × 10^12 rows = dead). Instead the
    lead() runs per (group, DAY) — bounded partitions — and the
    cross-day step intervals are stitched from the per-day boundary
    frame (one row per (group, day): tiny) with a second lead over THAT.
    The in-day + boundary intervals partition the global consecutive-pair
    set exactly, so the result is identical to the naive global window
    (the oracle computes the naive form)."""
    from pyspark.sql.window import Window

    ms = F.expr(f"unix_micros(cast({ts_col} as timestamp)) div 1000")
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("long")
    base = events.select(
        F.col(group_col), F.col("event_id"),
        ms.alias("t_ms"), cents.alias("v_c")
    ).withColumn("day", F.expr("t_ms div 86400000"))
    wd = Window.partitionBy(group_col, "day").orderBy("t_ms", "event_id")
    in_day = (base
              .withColumn("dt_ms", F.lead("t_ms").over(wd) - F.col("t_ms"))
              .filter(F.col("dt_ms").isNotNull())
              .select(group_col, "v_c", "dt_ms"))
    # per-(group, day) boundary rows: last event's (t, v) and first t —
    # struct max/min on (t_ms, event_id, ...) is deterministic (unique key)
    per_day = (base.groupBy(group_col, "day")
               .agg(F.max(F.struct("t_ms", "event_id", "v_c"))
                     .alias("last"),
                    F.min(F.struct("t_ms", "event_id")).alias("first")))
    wg = Window.partitionBy(group_col).orderBy("day")
    bridge = (per_day
              .withColumn("next_first_t", F.lead("first.t_ms").over(wg))
              .filter(F.col("next_first_t").isNotNull())
              .select(F.col(group_col),
                      F.col("last.v_c").alias("v_c"),
                      (F.col("next_first_t") - F.col("last.t_ms"))
                       .alias("dt_ms")))
    return (in_day.unionAll(bridge)
            .groupBy(group_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_intervals"),
                 F.sum("dt_ms").cast("long").alias("dt_total_ms"),
                 F.expr("CAST(sum(v_c * dt_ms) DIV sum(dt_ms) AS BIGINT)")
                  .alias("twa_cents")))


def sql_twa_value(table: str = "events", group_col: str = "event_type",
                  ts_col: str = "ts", value_col: str = "value") -> str:
    return f"""
        WITH stepped AS (
            SELECT {group_col},
                   CAST(epoch_ms({ts_col}) AS BIGINT) AS t_ms,
                   CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS v_c,
                   lead(CAST(epoch_ms({ts_col}) AS BIGINT)) OVER (
                       PARTITION BY {group_col}
                       ORDER BY CAST(epoch_ms({ts_col}) AS BIGINT), event_id)
                   - CAST(epoch_ms({ts_col}) AS BIGINT) AS dt_ms
            FROM {table}
        )
        SELECT {group_col},
               CAST(COUNT(*) AS BIGINT) AS n_intervals,
               CAST(SUM(dt_ms) AS BIGINT) AS dt_total_ms,
               CAST(SUM(v_c * dt_ms) // SUM(dt_ms) AS BIGINT) AS twa_cents
        FROM stepped
        WHERE dt_ms IS NOT NULL
        GROUP BY {group_col}
    """


# ---------------------------------------------------------------------------
# Concentration report: exact integer Gini over per-user activity
# ---------------------------------------------------------------------------


def activity_gini(events: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Exact Gini coefficient (permille) of events-per-user — the
    concentration number that says whether a corpus/traffic is a few whales
    or a broad base.

    Scale shape: Gini needs ranks, but ranking 10^9 users is a global
    sort. Per-user counts are small integers, so the HISTOGRAM form is
    exact and distributed-safe: group counts by value v (m_v users each);
    users at value v occupy ranks (c_prev, c_prev + m_v], so

        Σ rank_i·x_i = Σ_v v·(m_v·c_prev_v + m_v(m_v+1)/2)
        gini = (2·Σ rank_i·x_i − (n+1)·Σx) · 1000 / (n·Σx)

    Two hash aggs (user, then value) + one window over the tiny distinct-
    value frame. Tie order is irrelevant (equal x ⇒ block sum independent
    of permutation), so the statistic is engine-order-free."""
    from pyspark.sql.window import Window

    per_user = (events.groupBy(user_col)
                .agg(F.count(F.lit(1)).cast("long").alias("x")))
    hist = per_user.groupBy("x").agg(F.count(F.lit(1)).cast("long")
                                     .alias("m"))
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    hist = hist.withColumn("c_prev",
                           F.coalesce(F.sum("m").over(w), F.lit(0))
                            .cast("long"))
    term = (F.col("x") * (F.col("m") * F.col("c_prev")
                          + F.expr("m * (m + 1) DIV 2"))).alias("ix")
    tot = hist.select(
        F.sum("m").cast("long").alias("n"),
        F.sum(F.col("x") * F.col("m")).cast("long").alias("sx"),
        F.sum(term).cast("long").alias("six"))
    return tot.select(
        F.col("n").alias("n_users"),
        F.col("sx").alias("total_events"),
        F.expr("CAST((2 * six - (n + 1) * sx) * 1000 DIV (n * sx) "
               "AS BIGINT)").alias("gini_permille"))


def sql_activity_gini(table: str = "events",
                      user_col: str = "user_id") -> str:
    return f"""
        WITH per_user AS (
            SELECT {user_col}, CAST(COUNT(*) AS BIGINT) AS x
            FROM {table} GROUP BY {user_col}
        ), hist AS (
            SELECT x, CAST(COUNT(*) AS BIGINT) AS m
            FROM per_user GROUP BY x
        ), cum AS (
            SELECT x, m,
                   CAST(COALESCE(SUM(m) OVER (ORDER BY x
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS c_prev
            FROM hist
        ), tot AS (
            SELECT CAST(SUM(m) AS BIGINT) AS n,
                   CAST(SUM(x * m) AS BIGINT) AS sx,
                   CAST(SUM(x * (m * c_prev + m * (m + 1) // 2))
                        AS BIGINT) AS six
            FROM cum
        )
        SELECT n AS n_users, sx AS total_events,
               CAST((2 * six - (n + 1) * sx) * 1000 // (n * sx) AS BIGINT)
                   AS gini_permille
        FROM tot
    """


# ---------------------------------------------------------------------------
# Last-touch conversion attribution (round-4 continuation)
# ---------------------------------------------------------------------------

ATTR_CONVERSION = "purchase"
ATTR_TOUCHES = ("click", "view")
ATTR_WINDOW_MS = 7 * 86_400_000  # 7-day lookback


def last_touch_attribution(events: DataFrame,
                           user_col: str = "user_id",
                           ts_col: str = "ts",
                           type_col: str = "event_type",
                           id_col: str = "event_id",
                           conversion: str = ATTR_CONVERSION,
                           touches: tuple[str, ...] = ATTR_TOUCHES,
                           window_ms: int = ATTR_WINDOW_MS) -> DataFrame:
    """Last-touch attribution: each conversion credits the most recent
    preceding touch event (click/view) by the same user within the lookback
    window; conversions with no touch in range credit ``'none'``.

    One shuffle on the user key, one ordered pass: ``last(touch, ignore
    nulls)`` over the strictly-preceding frame carries the latest touch's
    type and time forward — the carried pair always comes from the SAME row
    because both columns are null on exactly the same rows.  Running-state
    windows (not a self-join): the classic events×events "latest touch
    before t" formulation is a range self-join that explodes on active
    users; this form is linear in the partition. Ordering ties break on the
    event id, so simultaneous rows attribute identically on both engines."""
    ts_ms = (_us(F.date_trunc("second", F.col(ts_col).cast("timestamp")))
             / 1000).cast("long")
    is_touch = F.col(type_col).isin(*touches)
    base = events.select(
        F.col(user_col).alias("u"), F.col(id_col).alias("i"),
        F.col(type_col).alias("t"), ts_ms.alias("ms"),
        F.when(is_touch, F.col(type_col)).alias("touch_t"),
        F.when(is_touch, ts_ms).alias("touch_ms"))
    w = (Window.partitionBy("u").orderBy("ms", "i")
               .rowsBetween(Window.unboundedPreceding, -1))
    carried = base.select(
        "u", "t", "ms",
        F.last("touch_t", ignorenulls=True).over(w).alias("lt_t"),
        F.last("touch_ms", ignorenulls=True).over(w).alias("lt_ms"))
    conv = carried.filter(F.col("t") == conversion)
    credit = (F.when(F.col("lt_ms").isNotNull()
                     & (F.col("ms") - F.col("lt_ms") <= window_ms),
                     F.col("lt_t"))
               .otherwise(F.lit("none")))
    return (conv.select(credit.alias("touch_type"))
                .groupBy("touch_type")
                .agg(F.count(F.lit(1)).alias("n_conversions"))
                .orderBy("touch_type"))


def sql_last_touch_attribution(table: str = "events",
                               conversion: str = ATTR_CONVERSION,
                               touches: tuple[str, ...] = ATTR_TOUCHES,
                               window_ms: int = ATTR_WINDOW_MS) -> str:
    tl = ", ".join(f"'{t}'" for t in touches)
    return f"""
        WITH base AS (
            SELECT user_id AS u, event_id AS i, event_type AS t,
                   CAST(epoch_ms(date_trunc('second', ts)) AS BIGINT) AS ms,
                   CASE WHEN event_type IN ({tl}) THEN event_type END
                       AS touch_t,
                   CASE WHEN event_type IN ({tl}) THEN
                       CAST(epoch_ms(date_trunc('second', ts)) AS BIGINT)
                   END AS touch_ms
            FROM {table}
        ), carried AS (
            SELECT u, t, ms,
                   LAST_VALUE(touch_t IGNORE NULLS) OVER (
                       PARTITION BY u ORDER BY ms, i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS lt_t,
                   LAST_VALUE(touch_ms IGNORE NULLS) OVER (
                       PARTITION BY u ORDER BY ms, i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS lt_ms
            FROM base
        )
        SELECT CASE WHEN lt_ms IS NOT NULL AND ms - lt_ms <= {window_ms}
                    THEN lt_t ELSE 'none' END AS touch_type,
               COUNT(*) AS n_conversions
        FROM carried
        WHERE t = '{conversion}'
        GROUP BY 1
        ORDER BY 1
    """


def gap_histogram(events: DataFrame, user_col: str = "user_id",
                  ts_col: str = "ts") -> DataFrame:
    """Inter-event gap histogram per user stream, power-of-two µs buckets
    (bucket = bitlen(gap_us)) — the report that JUSTIFIES a sessionization
    gap threshold or a streaming watermark: pick the valley between the
    within-session and between-session modes instead of guessing.

    One window + one ~60-row histogram agg, both keyed on the user — a
    single exchange (the same shuffle sessionize itself pays). Tie-broken
    ordering is unnecessary: the gap multiset of a ts-sorted stream is
    invariant under permutation of equal timestamps, so both engines agree
    without a tiebreak column. The permille share rides a broadcast 1-row
    cross join."""
    from log_collector_spark.textops import common as C

    w = Window.partitionBy("u").orderBy("t")
    g = (events.select(F.col(user_col).alias("u"),
                       _us(F.col(ts_col)).alias("t"))
         .withColumn("gap", F.col("t") - F.lag("t").over(w))
         .filter(F.col("gap").isNotNull()))
    bucket = F.length(F.bin(F.col("gap"))).cast("long")
    hist = (g.groupBy(bucket.alias("gap_bucket"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_gaps"),
                  F.min("gap").cast("long").alias("min_gap_us"),
                  F.max("gap").cast("long").alias("max_gap_us")))
    total = g.agg(F.count(F.lit(1)).cast("long").alias("_tot"))
    return (hist.crossJoin(F.broadcast(total))
                .withColumn("gaps_permille",
                            C.permille(F.col("n_gaps"), F.col("_tot")))
                .drop("_tot")
                .orderBy("gap_bucket"))


def sql_gap_histogram(table: str = "events", user_col: str = "user_id",
                      ts_col: str = "ts") -> str:
    from log_collector_spark.textops import common as C
    return f"""
        WITH g AS (
            SELECT epoch_us({ts_col})
                   - lag(epoch_us({ts_col})) OVER (PARTITION BY {user_col}
                                                   ORDER BY {ts_col}) AS gap
            FROM {table}
        ), gaps AS (
            SELECT gap FROM g WHERE gap IS NOT NULL
        ), hist AS (
            SELECT CAST(length(bin(gap)) AS BIGINT) AS gap_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_gaps,
                   CAST(MIN(gap) AS BIGINT) AS min_gap_us,
                   CAST(MAX(gap) AS BIGINT) AS max_gap_us
            FROM gaps GROUP BY 1
        )
        SELECT gap_bucket, n_gaps, min_gap_us, max_gap_us,
               {C.sql_permille('n_gaps', '(SELECT COUNT(*) FROM gaps)')}
                   AS gaps_permille
        FROM hist
        ORDER BY gap_bucket
    """


def ri_audit(edges) -> DataFrame:
    """Referential-integrity audit across foreign-key edges: for each
    (edge_name, child_keys, parent_keys) — both single-column frames —
    report child rows whose non-null key has NO parent (orphans). The
    cross-table completeness check a multi-table pipeline runs before
    every join-heavy release; per-column validity lives in dq_profile,
    this closes the BETWEEN-table direction.

    Per edge: one LEFT join of the child key column against the
    DISTINCT parent keys (dimension-sized — Catalyst broadcasts it under
    the threshold; at 10^12 child rows the orphan probe stays one
    broadcast-joined scan, never a fact shuffle) feeding a single 1-row
    agg; edges union into the final ~|edges|-row report."""
    from log_collector_spark.textops import common as C

    outs = []
    for name, child, parent in edges:
        ck, pk = child.columns[0], parent.columns[0]
        # keys keep their native type (edges may be string- or int-keyed);
        # they never reach the output, so cross-engine type rules don't care
        c = child.filter(F.col(ck).isNotNull()).select(F.col(ck).alias("_ck"))
        p = (parent.filter(F.col(pk).isNotNull())
                   .select(F.col(pk).alias("_pk")).distinct())
        j = c.join(p, F.col("_ck") == F.col("_pk"), "left")
        outs.append(j.agg(
            F.count(F.lit(1)).cast("long").alias("n_child"),
            F.sum(F.col("_pk").isNull().cast("long")).cast("long")
             .alias("n_orphans")).withColumn("edge", F.lit(name)))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return (out.withColumn("orphan_permille",
                           C.permille(F.col("n_orphans"), F.col("n_child")))
               .select("edge", "n_child", "n_orphans", "orphan_permille")
               .orderBy("edge"))


def sql_ri_audit(edges) -> str:
    """DuckDB mirror: edges as (name, child_sql_key_expr, child_table,
    parent_sql_key_expr, parent_table)."""
    from log_collector_spark.textops import common as C

    parts = []
    for name, ck, ct, pk, pt in edges:
        parts.append(f"""
            SELECT '{name}' AS edge,
                   CAST(COUNT(*) AS BIGINT) AS n_child,
                   CAST(SUM(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_orphans
            FROM (SELECT {ck} AS _ck FROM {ct}
                  WHERE {ck} IS NOT NULL) c
            LEFT JOIN (SELECT DISTINCT {pk} AS _pk
                       FROM {pt} WHERE {pk} IS NOT NULL) p
              ON p._pk = c._ck""")

    union = " UNION ALL ".join(parts)
    return f"""
        SELECT edge, n_child, n_orphans,
               {C.sql_permille('n_orphans', 'n_child')} AS orphan_permille
        FROM ({union})
        ORDER BY edge
    """


_FP_MOD = 1_000_000_007  # keeps SUM(fp % mod) exact in int64 at 10^9 rows/part


def table_fingerprint(df: DataFrame, part: Column,
                      row_repr: Column) -> DataFrame:
    """Per-partition row-multiset fingerprint: count, XOR and modular sum
    of 60-bit row hashes, plus min/max — the replica/backfill drift
    detector (two runs of the same table agree on every row iff the
    fingerprints agree, up to hash collisions). Order-free by
    construction (XOR/SUM/MIN/MAX are commutative), so shuffle
    nondeterminism can't move it; snapshot_diff then pinpoints the rows
    for only the partitions whose fingerprints diverge.

    One map-side-combining hash agg keyed on the partition — at 100 TB
    this is a full scan but a ~|partitions|-row shuffle."""
    from log_collector_spark.textops import common as C

    fp = C.h60(row_repr)
    return (df.select(part.cast("long").alias("part"), fp.alias("fp"))
            .groupBy("part")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.bit_xor("fp").cast("long").alias("fp_xor"),
                 F.sum(F.col("fp") % _FP_MOD).cast("long").alias("fp_sum"),
                 F.min("fp").cast("long").alias("fp_min"),
                 F.max("fp").cast("long").alias("fp_max"))
            .orderBy("part"))


def sql_table_fingerprint(table: str, part_expr: str,
                          row_repr_expr: str) -> str:
    from log_collector_spark.textops import common as C
    fp = C.sql_h60(row_repr_expr)
    return f"""
        WITH rows_fp AS (
            SELECT CAST({part_expr} AS BIGINT) AS part, {fp} AS fp
            FROM {table}
        )
        SELECT part,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(bit_xor(fp) AS BIGINT) AS fp_xor,
               CAST(SUM(fp % {_FP_MOD}) AS BIGINT) AS fp_sum,
               CAST(MIN(fp) AS BIGINT) AS fp_min,
               CAST(MAX(fp) AS BIGINT) AS fp_max
        FROM rows_fp
        GROUP BY part
        ORDER BY part
    """


def churn_matrix(events: DataFrame, user_col: str = "user_id",
                 ts_col: str = "ts") -> DataFrame:
    """Day-over-day churn algebra: for every day after the first, how many
    users were retained (active yesterday AND today), churned (yesterday
    only) and (re)acquired (today only, relative to yesterday — lifetime
    first-touch lives in new_vs_returning). The INTERSECT/EXCEPT triple a
    growth dashboard runs, expressed as ONE full-outer self-join of the
    distinct (user, day) frame against itself shifted by one day — set
    algebra as a join, so all three counts come from a single shuffle
    instead of three separate set operations.

    The first day in the data is dropped (its yesterday is unobserved —
    a retention number there would be a lie), and so is the phantom day
    AFTER the data ends (where the shift would report everyone churned);
    both bounds ride one broadcast 1-row min/max."""
    day = (F.expr(f"unix_micros(cast({ts_col} as timestamp))")
           / 86_400_000_000).cast("long")
    ud = (events.select(F.col(user_col).alias("u"), day.alias("d"))
          .distinct())
    today = ud.select("u", "d")
    yesterday = ud.select(F.col("u").alias("u2"),
                          (F.col("d") + 1).alias("d2"))
    j = today.join(yesterday, (F.col("u") == F.col("u2"))
                   & (F.col("d") == F.col("d2")), "full")
    dcol = F.coalesce(F.col("d"), F.col("d2"))
    per_day = (j.groupBy(dcol.alias("day_idx"))
               .agg(F.sum((F.col("u").isNotNull()
                           & F.col("u2").isNotNull()).cast("long"))
                     .cast("long").alias("retained"),
                    F.sum((F.col("u").isNull()).cast("long")).cast("long")
                     .alias("churned"),
                    F.sum((F.col("u2").isNull()).cast("long")).cast("long")
                     .alias("acquired")))
    bounds = ud.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    return (per_day.crossJoin(F.broadcast(bounds))
            .filter((F.col("day_idx") > F.col("d0"))
                    & (F.col("day_idx") <= F.col("d1")))
            .drop("d0", "d1")
            .orderBy("day_idx"))


def sql_churn_matrix(table: str = "events", user_col: str = "user_id",
                     ts_col: str = "ts") -> str:
    return f"""
        WITH ud AS (
            SELECT DISTINCT {user_col} AS u,
                   CAST(epoch_us({ts_col}) // 86400000000 AS BIGINT) AS d
            FROM {table}
        ), j AS (
            SELECT t.u AS u, y.u AS u2, COALESCE(t.d, y.d + 1) AS day_idx
            FROM ud t
            FULL JOIN ud y ON y.u = t.u AND y.d + 1 = t.d
        )
        SELECT day_idx,
               CAST(SUM(CASE WHEN u IS NOT NULL AND u2 IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS retained,
               CAST(SUM(CASE WHEN u IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS churned,
               CAST(SUM(CASE WHEN u2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS acquired
        FROM j
        WHERE day_idx > (SELECT MIN(d) FROM ud)
          AND day_idx <= (SELECT MAX(d) FROM ud)
        GROUP BY day_idx
        ORDER BY day_idx
    """


LIFT_DECILES = 10
LIFT_CONVERSION = "purchase"


def decile_lift(events: DataFrame, user_col: str = "user_id",
                type_col: str = "event_type",
                conversion: str = LIFT_CONVERSION,
                n_tiles: int = LIFT_DECILES) -> DataFrame:
    """Decile lift table — the model-evaluation classic: rank users by
    activity (event count), cut into ``n_tiles`` equal NTILE buckets, and
    report each bucket's conversion rate as a permille LIFT over the
    overall rate (decile 1 of a useful score should show lift well above
    1000; a flat table means the score is noise).

    NTILE assigns equal-size buckets BY ROW ORDER, so the ordering must
    be total — (n_events DESC, user_id) — or bucket membership would be
    shuffle-dependent; that tiebreak is the whole determinism story here.
    Lift cross-multiplies: (conv_d · total_users · 1000) DIV
    (users_d · total_conv) — no rate division ever rounds. Two stacked
    aggs + one |users|-row NTILE window (single-partition over the
    per-user frame — at 10^12 raw rows the per-user frame is ~10^9 and
    you would range-partition the rank instead; the raw-data exchange is
    the user groupBy either way)."""
    from log_collector_spark.textops import common as C

    per_user = (events.groupBy(F.col(user_col).alias("u"))
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.max((F.col(type_col) == conversion).cast("long"))
                      .alias("converted")))
    w = Window.orderBy(F.col("n_events").desc(), F.col("u"))
    tiled = per_user.withColumn("decile",
                                F.ntile(n_tiles).over(w).cast("long"))
    per_decile = (tiled.groupBy("decile")
                  .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
                       F.sum("converted").cast("long").alias("n_converted"),
                       F.sum("n_events").cast("long").alias("n_events")))
    totals = per_decile.agg(
        F.sum("n_users").cast("long").alias("t_users"),
        F.sum("n_converted").cast("long").alias("t_conv"))
    return (per_decile.crossJoin(F.broadcast(totals))
            .withColumn("conv_permille",
                        C.permille(F.col("n_converted"), F.col("n_users")))
            .withColumn(
                "lift_permille",
                F.when(F.col("t_conv") * F.col("n_users") > 0,
                       F.expr("(n_converted * t_users * 1000) div "
                              "(n_users * t_conv)"))
                 .otherwise(F.lit(0)).cast("long"))
            .select("decile", "n_users", "n_events", "n_converted",
                    "conv_permille", "lift_permille")
            .orderBy("decile"))


def sql_decile_lift(table: str = "events", user_col: str = "user_id",
                    type_col: str = "event_type",
                    conversion: str = LIFT_CONVERSION,
                    n_tiles: int = LIFT_DECILES) -> str:
    from log_collector_spark.textops import common as C
    return f"""
        WITH per_user AS (
            SELECT {user_col} AS u, COUNT(*) AS n_events,
                   MAX(CASE WHEN {type_col} = '{conversion}'
                            THEN 1 ELSE 0 END) AS converted
            FROM {table} GROUP BY 1
        ), tiled AS (
            SELECT *, CAST(ntile({n_tiles}) OVER (
                          ORDER BY n_events DESC, u) AS BIGINT) AS decile
            FROM per_user
        ), per_decile AS (
            SELECT decile,
                   CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(converted) AS BIGINT) AS n_converted,
                   CAST(SUM(n_events) AS BIGINT) AS n_events
            FROM tiled GROUP BY decile
        ), tot AS (
            SELECT CAST(SUM(n_users) AS BIGINT) AS t_users,
                   CAST(SUM(n_converted) AS BIGINT) AS t_conv
            FROM per_decile
        )
        SELECT decile, n_users, n_events, n_converted,
               {C.sql_permille('n_converted', 'n_users')} AS conv_permille,
               CAST(CASE WHEN t_conv * n_users > 0
                         THEN (n_converted * t_users * 1000)
                              // (n_users * t_conv)
                         ELSE 0 END AS BIGINT) AS lift_permille
        FROM per_decile CROSS JOIN tot
        ORDER BY decile
    """


BOUNCE_GAP_S = 1800  # same 30-minute inactivity gap as sessionize_events


def bounce_rate(events: DataFrame, user_col: str = "user_id",
                ts_col: str = "ts",
                gap_s: int = BOUNCE_GAP_S) -> DataFrame:
    """Per-day session bounce rate: sessions (30-min inactivity gap, the
    sessionize_events rule) that contain EXACTLY ONE event, as a permille
    of the day's sessions — the engagement-quality gauge. A session
    belongs to the day its FIRST event lands on (boundary sessions count
    once, on their entry day).

    Same single user-keyed exchange as sessionize: lag → session-start
    flags → running-sum session ids → per-session agg → per-day agg (the
    last two both partial-combine)."""
    ts_s = (F.unix_micros(F.date_trunc(
        "second", F.col(ts_col).cast("timestamp"))) / 1_000_000).cast("long")
    w = Window.partitionBy("u").orderBy("t", "e")
    base = (events.select(F.col(user_col).alias("u"),
                          ts_s.alias("t"), F.col("event_id").alias("e"))
            .withColumn("new_s",
                        (F.coalesce(F.col("t") - F.lag("t").over(w),
                                    F.lit(gap_s + 1)) > gap_s).cast("long"))
            .withColumn("sid", F.sum("new_s").over(
                Window.partitionBy("u").orderBy("t", "e")
                .rowsBetween(Window.unboundedPreceding,
                             Window.currentRow))))
    per_session = (base.groupBy("u", "sid")
                   .agg(F.count(F.lit(1)).alias("n_ev"),
                        F.min("t").alias("t0")))
    from log_collector_spark.textops import common as C
    day = F.expr("t0 div 86400").cast("long")
    return (per_session.groupBy(day.alias("day_idx"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"),
                 F.sum((F.col("n_ev") == 1).cast("long")).cast("long")
                  .alias("n_bounces"))
            .withColumn("bounce_permille",
                        C.permille(F.col("n_bounces"),
                                   F.col("n_sessions")))
            .orderBy("day_idx"))


def sql_bounce_rate(table: str = "events", user_col: str = "user_id",
                    ts_col: str = "ts", gap_s: int = BOUNCE_GAP_S) -> str:
    from log_collector_spark.textops import common as C
    t = f"CAST(epoch_ms(date_trunc('second', {ts_col})) // 1000 AS BIGINT)"
    return f"""
        WITH base AS (
            SELECT {user_col} AS u, {t} AS t, event_id AS e
            FROM {table}
        ), marked AS (
            SELECT u, t, e,
                   CASE WHEN COALESCE(t - lag(t) OVER w, {gap_s} + 1)
                             > {gap_s}
                        THEN 1 ELSE 0 END AS new_s
            FROM base
            WINDOW w AS (PARTITION BY u ORDER BY t, e)
        ), sess AS (
            -- the (t, e) tiebreak must match the Spark window exactly:
            -- a same-second tie at a session boundary would otherwise
            -- split sessions differently between engines
            SELECT u, t,
                   SUM(new_s) OVER (PARTITION BY u ORDER BY t, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS sid
            FROM marked
        ), per_session AS (
            SELECT u, sid, COUNT(*) AS n_ev, MIN(t) AS t0
            FROM sess GROUP BY 1, 2
        ), per_day AS (
            SELECT CAST(t0 // 86400 AS BIGINT) AS day_idx,
                   CAST(COUNT(*) AS BIGINT) AS n_sessions,
                   CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_bounces
            FROM per_session GROUP BY 1
        )
        SELECT day_idx, n_sessions, n_bounces,
               {C.sql_permille('n_bounces', 'n_sessions')}
                   AS bounce_permille
        FROM per_day
        ORDER BY day_idx
    """


TOP_RANKS = 3


def top_users_with_ties(events: DataFrame, user_col: str = "user_id",
                        n_ranks: int = TOP_RANKS) -> DataFrame:
    """Top users BY DENSE RANK — every user whose event count ties one of
    the top ``n_ranks`` distinct counts is returned (LIMIT-k silently
    drops tied peers; a leaderboard that hides ties is wrong, and the cut
    cardinality is data-dependent — the semantics variant the plain top-k
    queries here deliberately avoid). One user agg + a rank window over
    the per-user frame."""
    per_user = (events.groupBy(F.col(user_col).alias("u"))
                .agg(F.count(F.lit(1)).cast("long").alias("n_events")))
    w = Window.orderBy(F.col("n_events").desc())
    return (per_user
            .withColumn("rnk", F.dense_rank().over(w).cast("long"))
            .filter(F.col("rnk") <= n_ranks)
            .select(F.col("u").cast("long").alias("user_id"),
                    "n_events", "rnk")
            .orderBy("rnk", "user_id"))


def sql_top_users_with_ties(table: str = "events",
                            user_col: str = "user_id",
                            n_ranks: int = TOP_RANKS) -> str:
    return f"""
        WITH per_user AS (
            SELECT {user_col} AS u,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM {table} GROUP BY 1
        )
        SELECT CAST(u AS BIGINT) AS user_id, n_events,
               CAST(dense_rank() OVER (ORDER BY n_events DESC) AS BIGINT)
                   AS rnk
        FROM per_user
        QUALIFY rnk <= {n_ranks}
        ORDER BY rnk, user_id
    """


def gini_mean_difference(events: DataFrame, group_col: str = "event_type",
                         value: "F.Column" = None) -> DataFrame:
    """Exact Gini mean difference per group — the robust dispersion
    E|X−Y| over all value pairs, computed in O(n log n) via the sorted
    form Σᵢ (2i−n−1)·x₍ᵢ₎ (i 1-based rank) instead of the O(n²) pair
    join; the oracle uses the SAME closed form, so this also documents
    the identity. Ties need no break: the weight sum over any run of
    equal values is invariant under their internal order. Output keeps
    exact integer numerator plus GMD ×1000 (2000·num DIV n(n−1)).

    One rank window + one agg per group — a single exchange on the group
    key."""
    # default: the events.value double quantized to milli-units — the
    # proven mad_outliers/winsorize convention (oracle-green since r3)
    v = value if value is not None else \
        F.round(F.col("value").cast("double") * 1000, 0).cast("long")
    base = events.select(F.col(group_col).alias("g"), v.alias("x")) \
                 .filter(F.col("x").isNotNull())
    w = Window.partitionBy("g").orderBy("x")
    ranked = (base.withColumn("i", F.row_number().over(w))
              .withColumn("n", F.count(F.lit(1)).over(
                  Window.partitionBy("g"))))
    term = (2 * F.col("i") - F.col("n") - 1) * F.col("x")
    return (ranked.groupBy("g")
            .agg(F.max("n").cast("long").alias("n"),
                 F.sum(term).cast("long").alias("gmd_num"))
            .withColumn("gmd_x1000",
                        F.when(F.col("n") > 1,
                               F.expr("(2000 * gmd_num) div (n * (n - 1))"))
                         .otherwise(F.lit(0)).cast("long"))
            .withColumnRenamed("g", "event_type")
            .orderBy("event_type"))


def sql_gini_mean_difference(
        table: str = "events", group_col: str = "event_type",
        value_expr: str = "CAST(round(value * 1000, 0) AS BIGINT)") -> str:
    return f"""
        WITH ranked AS (
            SELECT {group_col} AS g, {value_expr} AS x,
                   row_number() OVER (PARTITION BY {group_col}
                                      ORDER BY {value_expr}) AS i,
                   COUNT(*) OVER (PARTITION BY {group_col}) AS n
            FROM {table}
            WHERE {value_expr} IS NOT NULL
        )
        SELECT g AS event_type,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM((2 * i - n - 1) * x) AS BIGINT) AS gmd_num,
               CAST(CASE WHEN MAX(n) > 1
                         THEN (2000 * SUM((2 * i - n - 1) * x))
                              // (MAX(n) * (MAX(n) - 1))
                         ELSE 0 END AS BIGINT) AS gmd_x1000
        FROM ranked
        GROUP BY g
        ORDER BY g
    """


# ---------------------------------------------------------------------------
# One-vs-rest Kolmogorov-Smirnov drift screen
# ---------------------------------------------------------------------------

KS_BUCKET_MILLI = 100   # 0.1-unit value buckets: |support| is range/0.1,
                        # metadata scale at ANY corpus size


def ks_drift(events: DataFrame, group_col: str = "event_type",
             value_col: str = "value",
             bucket_milli: int = KS_BUCKET_MILLI) -> DataFrame:
    """Per-group distribution drift: the exact Kolmogorov-Smirnov distance
    between each group's value distribution and the REST of the corpus —
    the one-vs-rest screen that answers "which segment's metric
    distribution deviates, and at what value".

    Integer formulation: with per-bucket cumulative counts c_g and
    c_r = c_all − c_g, KS = max |c_g·n_r − c_r·n_g| / (n_g·n_r); the
    scaled numerator is exact BIGINT, the permille divides once at the
    end. The max is taken over the BUCKETED support (``bucket_milli``
    thousandths per bucket) — the standard binned-KS tradeoff; both
    engines bin identically so equality is exact.

    Plan: one (group, bucket) count agg → dense group×support grid
    (|groups|·|buckets| rows — metadata scale) → two cumulative windows
    (per group; support ordered) → one rollup. The raw stream is touched
    exactly once.

    Returns (group, n_group, n_rest, ks_permille, ks_at_v_milli) — the
    bucket lower bound (in value-milli) where the max gap first occurs;
    ORDER BY group."""
    from pyspark.sql.window import Window

    vb = (F.round(F.col(value_col).cast("double") * 1000, 0).cast("long")
          / bucket_milli).cast("long")
    counts = (events.select(F.col(group_col).alias("g"), vb.alias("vb"))
              .groupBy("g", "vb").agg(F.count(F.lit(1)).alias("n")))
    grid = (counts.select("g").distinct()
            .crossJoin(counts.select("vb").distinct()))
    dense = (grid.join(counts, ["g", "vb"], "left")
             .select("g", "vb", F.coalesce("n", F.lit(0)).cast("long")
                     .alias("n")))
    wg = (Window.partitionBy("g").orderBy("vb")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wa = (Window.orderBy("vb")
          .rangeBetween(Window.unboundedPreceding, 0))
    per_v = (dense.groupBy("vb").agg(F.sum("n").alias("nv")))
    cum = (dense
           .withColumn("c_g", F.sum("n").over(wg))
           .join(per_v.withColumn("c_all", F.sum("nv").over(wa))
                      .select("vb", "c_all"), "vb"))
    tot = (dense.groupBy("g").agg(F.sum("n").alias("n_group")))
    n_all = counts.agg(F.sum("n").alias("n_total"))
    scored = (cum.join(tot, "g").crossJoin(F.broadcast(n_all))
              .withColumn("n_rest", F.col("n_total") - F.col("n_group"))
              .withColumn("c_r", F.col("c_all") - F.col("c_g"))
              .withColumn("gap", F.abs(F.col("c_g") * F.col("n_rest")
                                       - F.col("c_r") * F.col("n_group"))))
    marked = (scored.filter((F.col("n_group") > 0) & (F.col("n_rest") > 0))
              .withColumn("max_gap",
                          F.max("gap").over(Window.partitionBy("g"))))
    agg = (marked
           .groupBy(F.col("g").alias(group_col))
           .agg(F.first("n_group").cast("long").alias("n_group"),
                F.first("n_rest").cast("long").alias("n_rest"),
                F.first("max_gap").alias("max_gap"),
                F.min(F.when(F.col("gap") == F.col("max_gap"),
                             F.col("vb"))).alias("arg_vb")))
    return (agg
            .withColumn("ks_permille",
                        F.expr("(max_gap * 1000) div (n_group * n_rest)")
                        .cast("long"))
            .withColumn("ks_at_v_milli",
                        (F.col("arg_vb") * bucket_milli).cast("long"))
            .select(group_col, "n_group", "n_rest", "ks_permille",
                    "ks_at_v_milli")
            .orderBy(group_col))


def sql_ks_drift(table: str = "events", group_col: str = "event_type",
                 bucket_milli: int = KS_BUCKET_MILLI) -> str:
    return f"""
        WITH counts AS (
            SELECT {group_col} AS g,
                   CAST(CAST(round(CAST(value AS DOUBLE) * 1000, 0)
                        AS BIGINT) // {bucket_milli} AS BIGINT) AS vb,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM {table} GROUP BY 1, 2
        ),
        grid AS (
            SELECT g, vb
            FROM (SELECT DISTINCT g FROM counts),
                 (SELECT DISTINCT vb FROM counts)
        ),
        dense AS (
            SELECT grid.g, grid.vb, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
            FROM grid LEFT JOIN counts c
              ON grid.g = c.g AND grid.vb = c.vb
        ),
        cum AS (
            SELECT g, vb, n,
                   CAST(SUM(n) OVER (PARTITION BY g ORDER BY vb
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS c_g
            FROM dense
        ),
        allcum AS (
            SELECT vb,
                   CAST(SUM(nv) OVER (ORDER BY vb
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS c_all
            FROM (SELECT vb, SUM(n) AS nv FROM dense GROUP BY vb)
        ),
        tot AS (SELECT g, CAST(SUM(n) AS BIGINT) AS n_group
                FROM dense GROUP BY g),
        n_all AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM counts),
        scored AS (
            SELECT c.g, c.vb, t.n_group,
                   a.n_total - t.n_group AS n_rest,
                   abs(c.c_g * (a.n_total - t.n_group)
                       - (ac.c_all - c.c_g) * t.n_group) AS gap
            FROM cum c
            JOIN allcum ac ON c.vb = ac.vb
            JOIN tot t ON c.g = t.g
            CROSS JOIN n_all a
            WHERE t.n_group > 0 AND a.n_total - t.n_group > 0
        ),
        marked AS (
            SELECT *, MAX(gap) OVER (PARTITION BY g) AS max_gap
            FROM scored
        )
        SELECT g AS {group_col},
               CAST(MAX(n_group) AS BIGINT) AS n_group,
               CAST(MAX(n_rest) AS BIGINT) AS n_rest,
               CAST(MAX(max_gap) * 1000 // (MAX(n_group) * MAX(n_rest))
                    AS BIGINT) AS ks_permille,
               CAST(MIN(CASE WHEN gap = max_gap THEN vb END)
                    * {bucket_milli} AS BIGINT) AS ks_at_v_milli
        FROM marked
        GROUP BY g
        ORDER BY g
    """


# ---------------------------------------------------------------------------
# Funnel time-to-convert (exact per-transition latency percentiles)
# ---------------------------------------------------------------------------

FUNNEL_PCTS = (50, 90)


def funnel_latency(events: DataFrame, steps: list[str] | None = None,
                   user_col: str = "user_id", type_col: str = "event_type",
                   ts_col: str = "ts",
                   pcts: tuple = FUNNEL_PCTS) -> DataFrame:
    """Time-to-convert per funnel transition: for each consecutive step
    pair, EXACT p50/p90 of (first-touch step-k time − first-touch
    step-(k−1) time) over converting users — `funnel_counts` says how
    many convert, this says how long conversion takes (the number an
    activation team actually tunes).

    Same first-touch chain as `funnel_counts` (per-user min-aggregates,
    one user-keyed shuffle per step over a shrinking frame); the deltas
    then rank-select exactly like the tool SLA table (value-deterministic
    under ties, ceil(p·n/100) rank).

    Returns (step_idx, step, n_converted, p50_ms, p90_ms) for transitions
    with at least one converter; step_idx k labels the (k−1)→k
    transition. ORDER BY step_idx."""
    from pyspark.sql.window import Window

    steps = steps or FUNNEL_STEPS
    t = _us(F.col(ts_col))
    cur = (events.filter(F.col(type_col) == steps[0])
                 .groupBy(user_col).agg(F.min(t).alias("t")))
    deltas = None
    for i, step in enumerate(steps[1:], start=2):
        nxt = (events.filter(F.col(type_col) == step)
                     .select(F.col(user_col), t.alias("et"))
                     .join(cur.withColumnRenamed("t", "pt"), user_col)
                     .filter(F.col("et") >= F.col("pt"))
                     .groupBy(user_col).agg(F.min("et").alias("t"),
                                            F.first("pt").alias("pt")))
        d = nxt.select(F.lit(i).cast("long").alias("step_idx"),
                       F.lit(step).alias("step"),
                       F.expr("(t - pt) div 1000").cast("long")
                       .alias("d_ms"))
        deltas = d if deltas is None else deltas.unionByName(d)
        cur = nxt.select(user_col, "t")
    w = Window.partitionBy("step_idx").orderBy("d_ms")
    wn = Window.partitionBy("step_idx")
    ranked = (deltas
              .withColumn("rn", F.row_number().over(w).cast("long"))
              .withColumn("n", F.count(F.lit(1)).over(wn).cast("long")))
    aggs = [F.first("step").alias("step"),
            F.count(F.lit(1)).cast("long").alias("n_converted")]
    for p in pcts:
        aggs.append(F.max(F.when(
            F.col("rn") == F.expr(f"(n * {p} + 99) div 100"),
            F.col("d_ms"))).cast("long").alias(f"p{p}_ms"))
    return ranked.groupBy("step_idx").agg(*aggs).orderBy("step_idx")


def sql_funnel_latency(table: str = "events",
                       steps: list[str] | None = None,
                       pcts: tuple = FUNNEL_PCTS) -> str:
    steps = steps or FUNNEL_STEPS
    t = "epoch_us(ts)"
    ctes = [f"s1 AS (SELECT user_id, MIN({t}) AS t FROM {table} "
            f"WHERE event_type = '{steps[0]}' GROUP BY user_id)"]
    dsel = []
    for i, step in enumerate(steps[1:], start=2):
        ctes.append(
            f"s{i} AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t, "
            f"MIN(p.t) AS pt "
            f"FROM {table} e JOIN s{i - 1} p ON e.user_id = p.user_id "
            f"WHERE e.event_type = '{step}' "
            f"AND epoch_us(e.ts) >= p.t GROUP BY e.user_id)")
        dsel.append(
            f"SELECT CAST({i} AS BIGINT) AS step_idx, '{step}' AS step, "
            f"CAST((t - pt) // 1000 AS BIGINT) AS d_ms FROM s{i}")
    cols = ",\n               ".join(
        f"CAST(MAX(CASE WHEN rn = (n * {p} + 99) // 100 THEN d_ms END) "
        f"AS BIGINT) AS p{p}_ms" for p in pcts)
    return f"""
        WITH {', '.join(ctes)},
        deltas AS ({' UNION ALL '.join(dsel)}),
        ranked AS (
            SELECT step_idx, step, d_ms,
                   CAST(ROW_NUMBER() OVER (PARTITION BY step_idx
                        ORDER BY d_ms) AS BIGINT) AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY step_idx) AS BIGINT)
                       AS n
            FROM deltas
        )
        SELECT step_idx, MAX(step) AS step,
               CAST(COUNT(*) AS BIGINT) AS n_converted,
               {cols}
        FROM ranked
        GROUP BY step_idx
        ORDER BY step_idx
    """


# ---------------------------------------------------------------------------
# Jackknife leave-one-bucket-out mean table (deterministic resampling CI)
# ---------------------------------------------------------------------------

JACKKNIFE_BUCKETS = 10


def value_jackknife(events: DataFrame, value_col: str = "value",
                    id_col: str = "event_id",
                    n_buckets: int = JACKKNIFE_BUCKETS) -> DataFrame:
    """Delete-one-group jackknife table for the corpus mean: rows are
    hash-assigned to ``n_buckets`` deterministic buckets (h60 of the id —
    RNG-free, append-stable, the repo's standard resampling trick) and
    each row reports the mean with that bucket REMOVED. The spread of
    the leave-one-out means is the jackknife variance estimate — the
    driver-side CI algebra reads directly off this table, and unlike a
    bootstrap it is exactly reproducible on any engine.

    Values quantized to milli (round-half-up BIGINT); loo_mean_milli
    divides the exact integer sums once per bucket. One hash agg over
    the stream + a 10-row broadcast of totals.

    Returns (bucket, n, sum_milli, loo_mean_milli), ORDER BY bucket."""
    v = F.round(F.col(value_col).cast("double") * 1000, 0).cast("long")
    b = (C.h60(F.col(id_col).cast("string")) % n_buckets).cast("long")
    per = (events.select(b.alias("bucket"), v.alias("v"))
           .groupBy("bucket")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("v").cast("long").alias("sum_milli")))
    tot = per.agg(F.sum("n").alias("n_tot"),
                  F.sum("sum_milli").alias("s_tot"))
    return (per.crossJoin(F.broadcast(tot))
            .withColumn("loo_mean_milli",
                        F.when(F.col("n_tot") > F.col("n"), F.expr(
                            "(s_tot - sum_milli) div (n_tot - n)"))
                        .otherwise(F.lit(0)).cast("long"))
            .select("bucket", "n", "sum_milli", "loo_mean_milli")
            .orderBy("bucket"))


def sql_value_jackknife(table: str = "events",
                        n_buckets: int = JACKKNIFE_BUCKETS) -> str:
    h = C.sql_h60("CAST(event_id AS VARCHAR)")
    return f"""
        WITH per AS (
            SELECT CAST({h} % {n_buckets} AS BIGINT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(round(CAST(value AS DOUBLE) * 1000, 0)
                        AS BIGINT)) AS BIGINT) AS sum_milli
            FROM {table} GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
                       CAST(SUM(sum_milli) AS BIGINT) AS s_tot FROM per)
        SELECT bucket, n, sum_milli,
               CAST(CASE WHEN n_tot > n
                    THEN (s_tot - sum_milli) // (n_tot - n)
                    ELSE 0 END AS BIGINT) AS loo_mean_milli
        FROM per CROSS JOIN tot
        ORDER BY bucket
    """


# ---------------------------------------------------------------------------
# Exact Gini-Simpson diversity per user (integer, no entropy logs)
# ---------------------------------------------------------------------------


def simpson_diversity(events: DataFrame, key_col: str = "user_id",
                      type_col: str = "event_type") -> DataFrame:
    """Per-user behavioral diversity as the Gini-Simpson index
    1 − Σp_i² — the probability two random events differ in type. Unlike
    Shannon entropy it is EXACTLY integer-expressible:
    simpson_permille = (n² − Σc_i²)·1000 div n², so the score
    hash-checks across engines where an entropy would drift in the last
    float digit.

    Two stacked partial-combining hash aggs ((user, type) → user), the
    same two-exchange shape as the tool-diversity report.

    Returns (user_id, n_events, n_types, simpson_permille), ORDER BY
    user_id."""
    per_type = (events.groupBy(key_col, type_col)
                .agg(F.count(F.lit(1)).alias("c")))
    return (per_type.groupBy(key_col)
            .agg(F.sum("c").cast("long").alias("n_events"),
                 F.count(F.lit(1)).cast("long").alias("n_types"),
                 F.sum(F.col("c") * F.col("c")).alias("sq"))
            .withColumn("simpson_permille",
                        F.when(F.col("n_events") > 0, F.expr(
                            "(n_events * n_events - sq) * 1000 "
                            "div (n_events * n_events)"))
                        .otherwise(F.lit(0)).cast("long"))
            .select(key_col, "n_events", "n_types", "simpson_permille")
            .orderBy(key_col))


def sql_simpson_diversity(table: str = "events") -> str:
    return f"""
        WITH per_type AS (
            SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
            FROM {table} GROUP BY 1, 2
        ),
        per_user AS (
            SELECT user_id,
                   CAST(SUM(c) AS BIGINT) AS n_events,
                   CAST(COUNT(*) AS BIGINT) AS n_types,
                   CAST(SUM(c * c) AS BIGINT) AS sq
            FROM per_type GROUP BY user_id
        )
        SELECT user_id, n_events, n_types,
               CAST(CASE WHEN n_events > 0
                    THEN (n_events * n_events - sq) * 1000
                         // (n_events * n_events)
                    ELSE 0 END AS BIGINT) AS simpson_permille
        FROM per_user
        ORDER BY user_id
    """


# ---------------------------------------------------------------------------
# Fano-factor burstiness per event type (variance-to-mean of hourly counts)
# ---------------------------------------------------------------------------


def fano_factor(events: DataFrame, type_col: str = "event_type",
                ts_col: str = "ts") -> DataFrame:
    """Burstiness per event type: the Fano factor (variance / mean of the
    ZERO-FILLED hourly count series) in exact integer permille —
    1000 ≈ Poisson arrivals, far above 1000 = bursty, far below =
    metronomic. The dispersion diagnostic that decides whether rate
    alerts need burst-tolerant thresholds.

    Integer form: F·1000 = (n·Σx² − S²)·1000 div (n·S) (population
    variance over mean, n = hours in the global span). The dense grid is
    |types|·|hours| rows — metadata scale; the raw stream collapses to
    (type, hour) counts in one map-side-combined agg.

    Returns (event_type, n_hours, n_events, fano_permille), ORDER BY
    event_type."""
    hour = F.expr(f"unix_micros(cast({ts_col} as timestamp)) "
                  f"div 1000 div 3600000").cast("long")
    counts = (events.select(F.col(type_col).alias("g"),
                            hour.alias("h"))
              .groupBy("g", "h").agg(F.count(F.lit(1)).alias("x")))
    hours = (counts.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
             .select(F.explode(F.sequence("lo", "hi")).alias("h")))
    grid = counts.select("g").distinct().crossJoin(hours)
    dense = (grid.join(counts, ["g", "h"], "left")
             .select("g", "h",
                     F.coalesce("x", F.lit(0)).cast("long").alias("x")))
    agg = (dense.groupBy("g")
           .agg(F.count(F.lit(1)).cast("long").alias("n_hours"),
                F.sum("x").cast("long").alias("n_events"),
                F.sum(F.col("x") * F.col("x")).alias("sq")))
    return (agg.withColumn(
                "fano_permille",
                F.when(F.col("n_events") > 0, F.expr(
                    "(n_hours * sq - n_events * n_events) * 1000 "
                    "div (n_hours * n_events)"))
                .otherwise(F.lit(0)).cast("long"))
            .select(F.col("g").alias(type_col), "n_hours", "n_events",
                    "fano_permille")
            .orderBy(type_col))


def sql_fano_factor(table: str = "events") -> str:
    return f"""
        WITH counts AS (
            SELECT event_type AS g,
                   CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS h,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM {table} GROUP BY 1, 2
        ),
        b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM counts),
        hours AS (SELECT unnest(generate_series(lo, hi)) AS h FROM b),
        grid AS (SELECT g, h
                 FROM (SELECT DISTINCT g FROM counts), hours),
        dense AS (
            SELECT grid.g, grid.h, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
            FROM grid LEFT JOIN counts c
              ON grid.g = c.g AND grid.h = c.h
        ),
        agg AS (
            SELECT g, CAST(COUNT(*) AS BIGINT) AS n_hours,
                   CAST(SUM(x) AS BIGINT) AS n_events,
                   CAST(SUM(x * x) AS BIGINT) AS sq
            FROM dense GROUP BY g
        )
        SELECT g AS event_type, n_hours, n_events,
               CAST(CASE WHEN n_events > 0
                    THEN (n_hours * sq - n_events * n_events) * 1000
                         // (n_hours * n_events)
                    ELSE 0 END AS BIGINT) AS fano_permille
        FROM agg
        ORDER BY event_type
    """


# ---------------------------------------------------------------------------
# k-anonymity release audit
# ---------------------------------------------------------------------------

K_ANON_THRESHOLDS = [2, 5, 10, 25]


def k_anonymity(events: DataFrame, ts_col: str = "ts",
                thresholds: list[int] | None = None) -> DataFrame:
    """k-anonymity risk table for a data release keyed on the
    quasi-identifier (event_type, hour-of-day, value decade): for each
    threshold k, how many equivalence classes have fewer than k rows and
    what share of ROWS (permille) sits in them — the re-identification
    exposure a privacy review asks for before sharing an event extract.

    Plan: ONE map-side-combined hash agg to the equivalence-class frame
    (bounded by |types|·24·|decades| — metadata scale regardless of corpus
    size); the threshold sweep and totals run on that tiny frame. Returns
    (k, n_classes_below, n_rows_below, rows_permille) ORDER BY k."""
    ks = thresholds or K_ANON_THRESHOLDS
    hod = F.expr(f"(unix_micros(cast({ts_col} as timestamp))"
                 f" div 1000 div 3600000) % 24").cast("long")
    decade = F.expr("CAST(floor(value) AS BIGINT) div 10")
    cls = (events
           .select(F.col("event_type").alias("et"), hod.alias("hod"),
                   decade.alias("dec"))
           .groupBy("et", "hod", "dec")
           .agg(F.count(F.lit(1)).alias("sz")))
    tot = cls.agg(F.sum("sz").cast("long").alias("n_tot"))
    kdf = events.sparkSession.createDataFrame([(int(k),) for k in ks],
                                              "k long")
    below = (cls.crossJoin(F.broadcast(kdf))
                .filter(F.col("sz") < F.col("k"))
                .groupBy("k")
                .agg(F.count(F.lit(1)).cast("long").alias("n_classes_below"),
                     F.sum("sz").cast("long").alias("n_rows_below")))
    return (kdf.join(below, "k", "left")
               .crossJoin(F.broadcast(tot))
               .select(
                   "k",
                   F.coalesce("n_classes_below", F.lit(0)).cast("long")
                    .alias("n_classes_below"),
                   F.coalesce("n_rows_below", F.lit(0)).cast("long")
                    .alias("n_rows_below"),
                   C.permille(F.coalesce("n_rows_below", F.lit(0)),
                              F.col("n_tot")).alias("rows_permille"))
               .orderBy("k"))


def sql_k_anonymity(table: str = "events",
                    thresholds: list[int] | None = None) -> str:
    ks = thresholds or K_ANON_THRESHOLDS
    kvals = ", ".join(f"({k})" for k in ks)
    return f"""
        WITH cls AS (
            SELECT event_type AS et,
                   CAST((epoch_ms(ts) // 3600000) % 24 AS BIGINT) AS hod,
                   CAST(floor(value) AS BIGINT) // 10 AS dec,
                   CAST(COUNT(*) AS BIGINT) AS sz
            FROM {table} GROUP BY 1, 2, 3
        ),
        tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS n_tot FROM cls),
        ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES {kvals}) v(k)),
        below AS (
            SELECT ks.k,
                   CAST(COUNT(*) AS BIGINT) AS n_classes_below,
                   CAST(SUM(cls.sz) AS BIGINT) AS n_rows_below
            FROM ks JOIN cls ON cls.sz < ks.k
            GROUP BY ks.k
        )
        SELECT ks.k,
               CAST(COALESCE(b.n_classes_below, 0) AS BIGINT)
                   AS n_classes_below,
               CAST(COALESCE(b.n_rows_below, 0) AS BIGINT) AS n_rows_below,
               CAST(CASE WHEN t.n_tot > 0
                         THEN COALESCE(b.n_rows_below, 0) * 1000 // t.n_tot
                         ELSE 0 END AS BIGINT) AS rows_permille
        FROM ks LEFT JOIN below b ON b.k = ks.k CROSS JOIN tot t
        ORDER BY ks.k
    """


L_DIV_THRESHOLDS = [2, 3, 5, 10]


def l_diversity(events: DataFrame, ts_col: str = "ts",
                thresholds: list[int] | None = None) -> DataFrame:
    """l-diversity companion to :func:`k_anonymity`: k-anonymity bounds
    group SIZE, but a class of 50 rows all belonging to ONE user is still
    fully re-identifying — l-diversity requires each quasi-identifier
    class to contain at least l distinct values of the SENSITIVE
    attribute (user_id here; Machanavajjhala et al., ICDE 2006). For each
    threshold l: classes whose distinct-user count < l, the rows exposed
    in them, and the row share (permille).

    Plan: one (QI, user) distinct-style agg → per-class (size, distinct
    users) frame (bounded by |types|·24·|decades| — metadata scale), then
    the tiny broadcast threshold sweep, exactly like k_anonymity. Returns
    (l, n_classes_below, n_rows_below, rows_permille) ORDER BY l."""
    ls = thresholds or L_DIV_THRESHOLDS
    hod = F.expr(f"(unix_micros(cast({ts_col} as timestamp))"
                 f" div 1000 div 3600000) % 24").cast("long")
    decade = F.expr("CAST(floor(value) AS BIGINT) div 10")
    cls = (events
           .select(F.col("event_type").alias("et"), hod.alias("hod"),
                   decade.alias("dec"), F.col("user_id"))
           .groupBy("et", "hod", "dec")
           .agg(F.count(F.lit(1)).alias("sz"),
                F.countDistinct("user_id").alias("n_sens")))
    tot = cls.agg(F.sum("sz").cast("long").alias("n_tot"))
    ldf = events.sparkSession.createDataFrame([(int(v),) for v in ls],
                                              "l long")
    below = (cls.crossJoin(F.broadcast(ldf))
                .filter(F.col("n_sens") < F.col("l"))
                .groupBy("l")
                .agg(F.count(F.lit(1)).cast("long").alias("n_classes_below"),
                     F.sum("sz").cast("long").alias("n_rows_below")))
    return (ldf.join(below, "l", "left")
               .crossJoin(F.broadcast(tot))
               .select(
                   "l",
                   F.coalesce("n_classes_below", F.lit(0)).cast("long")
                    .alias("n_classes_below"),
                   F.coalesce("n_rows_below", F.lit(0)).cast("long")
                    .alias("n_rows_below"),
                   C.permille(F.coalesce("n_rows_below", F.lit(0)),
                              F.col("n_tot")).alias("rows_permille"))
               .orderBy("l"))


def sql_l_diversity(table: str = "events",
                    thresholds: list[int] | None = None) -> str:
    ls = thresholds or L_DIV_THRESHOLDS
    lvals = ", ".join(f"({v})" for v in ls)
    return f"""
        WITH cls AS (
            SELECT event_type AS et,
                   CAST((epoch_ms(ts) // 3600000) % 24 AS BIGINT) AS hod,
                   CAST(floor(value) AS BIGINT) // 10 AS dec,
                   CAST(COUNT(*) AS BIGINT) AS sz,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_sens
            FROM {table} GROUP BY 1, 2, 3
        ),
        tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS n_tot FROM cls),
        ls AS (SELECT CAST(l AS BIGINT) AS l FROM (VALUES {lvals}) v(l)),
        below AS (
            SELECT ls.l,
                   CAST(COUNT(*) AS BIGINT) AS n_classes_below,
                   CAST(SUM(cls.sz) AS BIGINT) AS n_rows_below
            FROM ls JOIN cls ON cls.n_sens < ls.l
            GROUP BY ls.l
        )
        SELECT ls.l,
               CAST(COALESCE(b.n_classes_below, 0) AS BIGINT)
                   AS n_classes_below,
               CAST(COALESCE(b.n_rows_below, 0) AS BIGINT) AS n_rows_below,
               CAST(CASE WHEN t.n_tot > 0
                         THEN COALESCE(b.n_rows_below, 0) * 1000 // t.n_tot
                         ELSE 0 END AS BIGINT) AS rows_permille
        FROM ls LEFT JOIN below b ON b.l = ls.l CROSS JOIN tot t
        ORDER BY ls.l
    """


# permille-EMD sweep; sized to the observed class-EMD spread (9-36
# at sf0.01) so the registered oracle rows are non-vacuous
T_CLOSE_THRESHOLDS = [10, 15, 20, 30]


def t_closeness(events: DataFrame, ts_col: str = "ts",
                thresholds: list[int] | None = None) -> DataFrame:
    """t-closeness companion to :func:`k_anonymity`/:func:`l_diversity`
    (Li, Li & Venkatasubramanian, ICDE 2007): l-diversity counts distinct
    sensitive values, but a class whose value DISTRIBUTION is skewed far
    from the corpus-wide one still leaks (the attacker's posterior moves
    a lot). For each quasi-identifier class (event_type, hour-of-day) the
    sensitive attribute is the ORDERED value decade; closeness is the
    Earth Mover's Distance with unit ground distance between adjacent
    decades — for ordered categories the closed form is
    ``EMD = (1/(m−1)) · Σ_i |cumsum_i(P − Q)|`` over the m global decades.

    Integer contract: P and Q are quantized to permille FIRST
    (``c·1000 DIV class_sz`` / ``g·1000 DIV n_tot``), so every later term
    is bounded by 1000·m — no n·N product that would overflow BIGINT at
    10^12 rows — and both engines run identical floor arithmetic on
    non-negative operands. ``emd_permille`` is therefore
    permille-resolution EMD.

    For each threshold t (permille): classes with emd > t, rows exposed
    in them, and the row share. Returns
    (t, n_classes_above, n_rows_above, rows_permille) ORDER BY t.

    Plan: one hash agg to the (QI, decade) frame (metadata scale:
    |types|·24·|decades|), a dense QI×decade grid built from two tiny
    broadcast frames, one ordered-window cumsum inside each QI class,
    then the broadcast threshold sweep — nothing after the first agg
    depends on corpus size."""
    ts_list = thresholds or T_CLOSE_THRESHOLDS
    hod = F.expr(f"(unix_micros(cast({ts_col} as timestamp))"
                 f" div 1000 div 3600000) % 24").cast("long")
    decade = F.expr("CAST(floor(value) AS BIGINT) div 10")
    base = events.select(F.col("event_type").alias("et"), hod.alias("hod"),
                         decade.alias("dec"))
    cd = base.groupBy("et", "hod", "dec").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    cls = cd.groupBy("et", "hod").agg(F.sum("c").cast("long").alias("sz"))
    gd = cd.groupBy("dec").agg(F.sum("c").cast("long").alias("g"))
    tot = gd.agg(F.sum("g").cast("long").alias("n_tot"),
                 F.count(F.lit(1)).cast("long").alias("m"))
    grid = (cls.crossJoin(F.broadcast(gd))
               .join(cd, ["et", "hod", "dec"], "left")
               .crossJoin(F.broadcast(tot))
               .select("et", "hod", "dec", "sz", "n_tot", "m",
                       F.floor(F.coalesce("c", F.lit(0)) * 1000
                               / F.col("sz")).cast("long").alias("p"),
                       F.floor(F.col("g") * 1000 / F.col("n_tot"))
                       .cast("long").alias("q")))
    w = (Window.partitionBy("et", "hod").orderBy("dec")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = grid.withColumn("cum", F.sum(F.col("p") - F.col("q")).over(w))
    per_cls = (cum.groupBy("et", "hod", "sz", "m")
                  .agg(F.sum(F.abs(F.col("cum"))).cast("long")
                        .alias("emd_num"))
                  .select("et", "hod", "sz",
                          F.when(F.col("m") > 1,
                                 F.floor(F.col("emd_num")
                                         / (F.col("m") - 1)))
                           .otherwise(0).cast("long").alias("emd_permille")))
    tdf = events.sparkSession.createDataFrame(
        [(int(t),) for t in ts_list], "t long")
    above = (per_cls.crossJoin(F.broadcast(tdf))
             .filter(F.col("emd_permille") > F.col("t"))
             .groupBy("t")
             .agg(F.count(F.lit(1)).cast("long").alias("n_classes_above"),
                  F.sum("sz").cast("long").alias("n_rows_above")))
    return (tdf.join(above, "t", "left")
               .crossJoin(F.broadcast(tot.select("n_tot")))
               .select(
                   "t",
                   F.coalesce("n_classes_above", F.lit(0)).cast("long")
                    .alias("n_classes_above"),
                   F.coalesce("n_rows_above", F.lit(0)).cast("long")
                    .alias("n_rows_above"),
                   C.permille(F.coalesce("n_rows_above", F.lit(0)),
                              F.col("n_tot")).alias("rows_permille"))
               .orderBy("t"))


def sql_t_closeness(table: str = "events",
                    thresholds: list[int] | None = None) -> str:
    ts_list = thresholds or T_CLOSE_THRESHOLDS
    tvals = ", ".join(f"({t})" for t in ts_list)
    return f"""
        WITH cd AS (
            SELECT event_type AS et,
                   CAST((epoch_ms(ts) // 3600000) % 24 AS BIGINT) AS hod,
                   CAST(floor(value) AS BIGINT) // 10 AS dec,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM {table} GROUP BY 1, 2, 3
        ),
        cls AS (SELECT et, hod, CAST(SUM(c) AS BIGINT) AS sz
                FROM cd GROUP BY et, hod),
        gd AS (SELECT dec, CAST(SUM(c) AS BIGINT) AS g FROM cd GROUP BY dec),
        tot AS (SELECT CAST(SUM(g) AS BIGINT) AS n_tot,
                       CAST(COUNT(*) AS BIGINT) AS m FROM gd),
        grid AS (
            SELECT cls.et, cls.hod, gd.dec, cls.sz, t.n_tot, t.m,
                   CAST(COALESCE(cd.c, 0) * 1000 // cls.sz AS BIGINT) AS p,
                   CAST(gd.g * 1000 // t.n_tot AS BIGINT) AS q
            FROM cls CROSS JOIN gd
            LEFT JOIN cd ON cd.et = cls.et AND cd.hod = cls.hod
                        AND cd.dec = gd.dec
            CROSS JOIN tot t
        ),
        cum AS (
            SELECT *, SUM(p - q) OVER (PARTITION BY et, hod ORDER BY dec
                                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM grid
        ),
        per_cls AS (
            SELECT et, hod, sz,
                   CAST(CASE WHEN m > 1
                             THEN SUM(abs(cum)) // (m - 1)
                             ELSE 0 END AS BIGINT) AS emd_permille
            FROM cum GROUP BY et, hod, sz, m
        ),
        ts_ AS (SELECT CAST(t AS BIGINT) AS t FROM (VALUES {tvals}) v(t)),
        above AS (
            SELECT ts_.t,
                   CAST(COUNT(*) AS BIGINT) AS n_classes_above,
                   CAST(SUM(per_cls.sz) AS BIGINT) AS n_rows_above
            FROM ts_ JOIN per_cls ON per_cls.emd_permille > ts_.t
            GROUP BY ts_.t
        )
        SELECT ts_.t,
               CAST(COALESCE(a.n_classes_above, 0) AS BIGINT)
                   AS n_classes_above,
               CAST(COALESCE(a.n_rows_above, 0) AS BIGINT) AS n_rows_above,
               CAST(CASE WHEN t.n_tot > 0
                         THEN COALESCE(a.n_rows_above, 0) * 1000 // t.n_tot
                         ELSE 0 END AS BIGINT) AS rows_permille
        FROM ts_ LEFT JOIN above a ON a.t = ts_.t
        CROSS JOIN tot t ORDER BY ts_.t
    """


REPLAY_MIN_GROUP = 2


def replayed_sequences(events: DataFrame, ts_col: str = "ts",
                       min_group: int = REPLAY_MIN_GROUP) -> DataFrame:
    """Bot / replay detection: user-days whose ORDERED event-type sequence
    is byte-identical to another user-day's. Organic sessions differ in
    ordering and length; scripted traffic replays the exact same path, so
    a sequence fingerprint shared by many (user, day) pairs is the classic
    automation signal (and a dedup key before training on behavior logs).

    Per (user_id, day): the event_type sequence ordered by (epoch-ms,
    event_id) — the same total order both engines can express — is
    concatenated and fingerprinted with h60. Groups with >= ``min_group``
    user-days are reported.

    Returns (fp, n_userdays, seq_len, min_user) ORDER BY
    n_userdays DESC, fp.

    Plan: one shuffle to (user, day) [the sequence build], one hash agg
    on the 8-byte fingerprint — event-type strings travel only inside
    their own user-day group, the cross-group join key is the h60. Hot
    fingerprints (millions of identical bot days) aggregate by partial
    combine, not row collection; seq_len via MIN guards the (negligible)
    h60-collision case deterministically."""
    ms = F.expr(f"unix_micros(cast({ts_col} as timestamp)) div 1000")
    day = (ms / F.lit(86400000)).cast("long")
    per_day = (events
               .select(F.col("user_id"), day.alias("day"), ms.alias("ms"),
                       F.col("event_id"), F.col("event_type"))
               .groupBy("user_id", "day")
               .agg(F.count(F.lit(1)).cast("long").alias("seq_len"),
                    F.concat_ws(",", F.transform(
                        F.sort_array(F.collect_list(
                            F.struct("ms", "event_id", "event_type"))),
                        lambda s: s["event_type"])).alias("seq")))
    groups = (per_day
              .select("user_id", "seq_len", C.h60(F.col("seq")).alias("fp"))
              .groupBy("fp")
              .agg(F.count(F.lit(1)).cast("long").alias("n_userdays"),
                   F.min("seq_len").cast("long").alias("seq_len"),
                   F.min("user_id").cast("long").alias("min_user"))
              .filter(F.col("n_userdays") >= min_group))
    return (groups.select("fp", "n_userdays", "seq_len", "min_user")
                  .orderBy(F.desc("n_userdays"), "fp"))


def sql_replayed_sequences(table: str = "events",
                           min_group: int = REPLAY_MIN_GROUP) -> str:
    fp = C.sql_h60("seq")
    return f"""
        WITH per_day AS (
            SELECT user_id,
                   CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day,
                   CAST(COUNT(*) AS BIGINT) AS seq_len,
                   string_agg(event_type, ','
                              ORDER BY epoch_ms(ts), event_id) AS seq
            FROM {table} GROUP BY user_id,
                 CAST(epoch_ms(ts) // 86400000 AS BIGINT)
        ),
        groups AS (
            SELECT {fp} AS fp,
                   CAST(COUNT(*) AS BIGINT) AS n_userdays,
                   CAST(MIN(seq_len) AS BIGINT) AS seq_len,
                   CAST(MIN(user_id) AS BIGINT) AS min_user
            FROM per_day GROUP BY 1
        )
        SELECT fp, n_userdays, seq_len, min_user
        FROM groups WHERE n_userdays >= {min_group}
        ORDER BY n_userdays DESC, fp
    """


SLO_BUDGET_PERMILLE = 250   # error budget: 25% (the corpus runs ~20% hot)
SLO_BURN_ALERT = 1000       # alert when burn rate > 1.0x budget


def slo_burn_alerts(events: DataFrame,
                    budget_permille: int = SLO_BUDGET_PERMILLE,
                    alert_milli: int = SLO_BURN_ALERT) -> DataFrame:
    """Multiwindow SLO burn-rate alerting (the SRE-workbook policy): an
    alert fires for a 5-minute bucket only when BOTH its own burn rate
    AND its enclosing hour's burn rate exceed the threshold — the short
    window gives fast detection, the long window suppresses blips, and
    the conjunction is what makes the page actionable. Burn =
    error_share / budget, in integer milli (1000 = burning exactly the
    budget).

    Returns (bucket_min, err_short, n_short, burn_short_milli,
    burn_long_milli) for alerting buckets, ORDER BY bucket_min.

    Plan: one 5-min hash agg over events; the hour roll-up re-aggregates
    the 5-min PARTIALS (12 rows per hour, metadata scale), so the raw
    table is scanned exactly once; one broadcast join hour→bucket."""
    m5 = (F.unix_micros(F.col("ts").cast("timestamp"))
          / F.lit(300_000_000)).cast("long")
    base = events.select(m5.alias("bucket_min"),
                         (F.col("event_type") == "error")
                         .cast("long").alias("err"))
    short = (base.groupBy("bucket_min")
             .agg(F.count(F.lit(1)).cast("long").alias("n_short"),
                  F.sum("err").cast("long").alias("err_short")))
    hour = (short.withColumn("bucket_hr",
                             F.expr("bucket_min DIV 12").cast("long"))
            .groupBy("bucket_hr")
            .agg(F.sum("n_short").cast("long").alias("n_long"),
                 F.sum("err_short").cast("long").alias("err_long")))
    burn_s = F.expr(f"err_short * 1000000 DIV (n_short * {budget_permille})")
    burn_l = F.expr(f"err_long * 1000000 DIV (n_long * {budget_permille})")
    j = (short.withColumn("bucket_hr",
                          F.expr("bucket_min DIV 12").cast("long"))
         .join(F.broadcast(hour), "bucket_hr")
         .withColumn("burn_short_milli", burn_s.cast("long"))
         .withColumn("burn_long_milli", burn_l.cast("long")))
    return (j.filter((F.col("burn_short_milli") > alert_milli) &
                     (F.col("burn_long_milli") > alert_milli))
             .select("bucket_min", "err_short", "n_short",
                     "burn_short_milli", "burn_long_milli")
             .orderBy("bucket_min"))


def sql_slo_burn_alerts(table: str = "events",
                        budget_permille: int = SLO_BUDGET_PERMILLE,
                        alert_milli: int = SLO_BURN_ALERT) -> str:
    return f"""
        WITH base AS (
            SELECT CAST(epoch_us(ts) // 300000000 AS BIGINT) AS bucket_min,
                   CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
            FROM {table}
        ), short AS (
            SELECT bucket_min,
                   CAST(COUNT(*) AS BIGINT) AS n_short,
                   CAST(SUM(err) AS BIGINT) AS err_short
            FROM base GROUP BY 1
        ), hour AS (
            SELECT CAST(bucket_min // 12 AS BIGINT) AS bucket_hr,
                   CAST(SUM(n_short) AS BIGINT) AS n_long,
                   CAST(SUM(err_short) AS BIGINT) AS err_long
            FROM short GROUP BY 1
        ), j AS (
            SELECT s.bucket_min, s.err_short, s.n_short,
                   CAST(s.err_short * 1000000
                        // (s.n_short * {budget_permille}) AS BIGINT)
                       AS burn_short_milli,
                   CAST(h.err_long * 1000000
                        // (h.n_long * {budget_permille}) AS BIGINT)
                       AS burn_long_milli
            FROM short s
            JOIN hour h ON h.bucket_hr = s.bucket_min // 12
        )
        SELECT * FROM j
        WHERE burn_short_milli > {alert_milli}
          AND burn_long_milli > {alert_milli}
        ORDER BY bucket_min
    """


# ---------------------------------------------------------------------------
# Per-user contribution capping (DP-style preprocessing audit)
# ---------------------------------------------------------------------------

CONTRIB_CAP = 5


def contribution_cap(events: DataFrame, ts_col: str = "ts",
                     cap: int = CONTRIB_CAP) -> DataFrame:
    """Per-user contribution-bounding audit: cap every user at ``cap``
    events per UTC day and report, per day, how much data the cap removes
    and how many users it touches — the preprocessing step every
    differential-privacy / user-level-deduplication release runs first
    (bounding each user's contribution bounds the sensitivity of any
    downstream count), and the report a privacy review reads to pick the
    cap.

    kept-per-user = ``least(cnt, cap)`` — no row_number window needed:
    the audit only requires COUNTS, so the plan is one map-side-combined
    hash agg to the (user, day) grain followed by a day-grain re-agg.
    At 10^12 events only (user, day, cnt) triples ever shuffle, and the
    second agg is metadata-scale (#users x #days). Returns
    (day, n_events, n_kept, clipped_permille, n_users, n_clipped_users)
    ORDER BY day, with day as epoch days (BIGINT)."""
    day = F.expr(f"unix_micros(cast({ts_col} as timestamp)) "
                 f"div 86400000000").cast("long")
    per_user = (events
                .select(day.alias("day"), F.col("user_id").alias("uid"))
                .groupBy("day", "uid")
                .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    return (per_user.groupBy("day")
            .agg(F.sum("cnt").cast("long").alias("n_events"),
                 F.sum(F.least(F.col("cnt"), F.lit(cap).cast("long")))
                  .cast("long").alias("n_kept"),
                 F.count(F.lit(1)).cast("long").alias("n_users"),
                 F.sum(F.when(F.col("cnt") > cap, 1).otherwise(0))
                  .cast("long").alias("n_clipped_users"))
            .select("day", "n_events", "n_kept",
                    C.permille(F.col("n_events") - F.col("n_kept"),
                               F.col("n_events")).alias("clipped_permille"),
                    "n_users", "n_clipped_users")
            .orderBy("day"))


def sql_contribution_cap(table: str = "events",
                         cap: int = CONTRIB_CAP) -> str:
    return f"""
        WITH per_user AS (
            SELECT CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day,
                   user_id AS uid,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM {table} GROUP BY 1, 2
        ), agg AS (
            SELECT day,
                   CAST(SUM(cnt) AS BIGINT) AS n_events,
                   CAST(SUM(LEAST(cnt, {cap})) AS BIGINT) AS n_kept,
                   CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(COALESCE(SUM(CASE WHEN cnt > {cap} THEN 1 END), 0)
                        AS BIGINT) AS n_clipped_users
            FROM per_user GROUP BY 1
        )
        SELECT day, n_events, n_kept,
               {C.sql_permille('n_events - n_kept', 'n_events')}
                   AS clipped_permille,
               n_users, n_clipped_users
        FROM agg ORDER BY day
    """


# ---------------------------------------------------------------------------
# A/B assignment + sample-ratio-mismatch (SRM) audit
# ---------------------------------------------------------------------------

# chi-square(1 df) critical value at p=0.05, in milli units.
SRM_CHI2_CRIT_MILLI = 3841
# |users_c - users_t| bound keeping diff^2 * 1000 under 2^63.
SRM_MAX_DIFF = 95_000_000


def ab_srm(events: DataFrame) -> DataFrame:
    """A/B experiment health check: assign every user to control /
    treatment by the deterministic salted hash (h60(user_id) % 2 — the
    assignment an experimentation platform would persist) and test each
    event_type's EXPOSED-USER split for sample-ratio mismatch, the
    standard guardrail that catches broken bucketing, bot traffic, or
    logging loss before anyone reads the metric movement. For a 50/50
    design the 1-df chi-square statistic reduces to
    (u_c - u_t)^2 / (u_c + u_t); reported in milli units with the 0.05
    critical value (3.841) as a BOOLEAN flag.

    Integer-exact both engines: diff^2 * 1000 needs |diff| <= 9.5e7,
    guarded with a raise (an SRM audit on a larger imbalance is already
    a five-alarm fire). Plan: one hash agg to (event_type, arm) with a
    distinct-user count (Catalyst two-phase distinct at (type, arm,
    user) grain), then a constant-width conditional re-agg per type."""
    arm = (C.h60(F.col("user_id").cast("string")) % 2).alias("arm")
    per_arm = (events
               .select("event_type", arm, "user_id")
               .groupBy("event_type", "arm")
               .agg(F.countDistinct("user_id").cast("long").alias("users"),
                    F.count(F.lit(1)).cast("long").alias("n_events")))
    per_type = (per_arm.groupBy("event_type")
                .agg(*[F.coalesce(F.sum(F.when(F.col("arm") == a, c)),
                                  F.lit(0)).cast("long").alias(f"{n}_{s}")
                       for n, c in (("users", F.col("users")),
                                    ("events", F.col("n_events")))
                       for a, s in ((0, "control"), (1, "treatment"))]))
    diff = F.col("users_control") - F.col("users_treatment")
    tot = F.col("users_control") + F.col("users_treatment")
    guarded = F.when(F.abs(diff) <= SRM_MAX_DIFF, F.abs(diff)).otherwise(
        F.raise_error(F.lit(
            "ab_srm: arm imbalance exceeds int64 chi-square headroom")))
    chi2 = (F.when(tot > 0, F.floor(guarded * guarded * 1000 / tot))
            .otherwise(0).cast("long"))
    return (per_type
            .select("event_type", "users_control", "users_treatment",
                    "events_control", "events_treatment",
                    chi2.alias("srm_chi2_milli"))
            .withColumn("srm_flag",
                        F.col("srm_chi2_milli") > SRM_CHI2_CRIT_MILLI)
            .orderBy("event_type"))


def sql_ab_srm(table: str = "events") -> str:
    h = C.sql_h60("CAST(user_id AS VARCHAR)")
    return f"""
        WITH per_arm AS (
            SELECT event_type, {h} % 2 AS arm,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM {table} GROUP BY 1, 2
        ), per_type AS (
            SELECT event_type,
                   CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN users END), 0)
                        AS BIGINT) AS users_control,
                   CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN users END), 0)
                        AS BIGINT) AS users_treatment,
                   CAST(COALESCE(SUM(CASE WHEN arm = 0
                                          THEN n_events END), 0)
                        AS BIGINT) AS events_control,
                   CAST(COALESCE(SUM(CASE WHEN arm = 1
                                          THEN n_events END), 0)
                        AS BIGINT) AS events_treatment
            FROM per_arm GROUP BY 1
        )
        SELECT event_type, users_control, users_treatment,
               events_control, events_treatment,
               CAST(CASE WHEN users_control + users_treatment > 0
                    THEN abs(users_control - users_treatment)
                         * abs(users_control - users_treatment) * 1000
                         // (users_control + users_treatment)
                    ELSE 0 END AS BIGINT) AS srm_chi2_milli,
               CASE WHEN users_control + users_treatment > 0
                    THEN abs(users_control - users_treatment)
                         * abs(users_control - users_treatment) * 1000
                         // (users_control + users_treatment)
                    ELSE 0 END > {SRM_CHI2_CRIT_MILLI} AS srm_flag
        FROM per_type ORDER BY event_type
    """


# Candidate privacy budgets, in milli-epsilon (0.1, 0.5, 1.0, 2.0).
DP_EPS_MILLI = [100, 500, 1000, 2000]


def dp_noise_advisor(events: DataFrame, ts_col: str = "ts",
                     cap: int = CONTRIB_CAP,
                     eps_milli: list[int] | None = None) -> DataFrame:
    """Differential-privacy noise calibration advisor — the companion to
    :func:`contribution_cap`: once per-user contributions are bounded at
    ``cap``, a Laplace mechanism on daily counts needs scale
    b = sensitivity/eps = cap/eps, and whether that noise DROWNS the
    statistic depends on the data. For each candidate epsilon this
    reports b (milli units) and the expected RELATIVE error against the
    observed mean daily capped count (Laplace mean |noise| = b), so the
    privacy review picks the largest epsilon whose error column is still
    acceptable — a rule table grounded in one data scan.

    Integer math: b_milli = cap * 1e6 DIV eps_milli;
    rel_error_permille = b_milli DIV mean_daily_kept (both engines,
    non-negative operands). Plan: the contribution-cap aggregation
    (two count-only hash aggs) folded to ONE row, crossed with the
    constant epsilon list."""
    eps = eps_milli or DP_EPS_MILLI
    day = F.expr(f"unix_micros(cast({ts_col} as timestamp)) "
                 f"div 86400000000").cast("long")
    per_user = (events
                .select(day.alias("day"), F.col("user_id").alias("uid"))
                .groupBy("day", "uid")
                .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    per_day = (per_user.groupBy("day")
               .agg(F.sum(F.least(F.col("cnt"), F.lit(cap).cast("long")))
                    .cast("long").alias("kept")))
    stats = per_day.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.coalesce(F.sum("kept"), F.lit(0)).cast("long").alias("kept_sum"))
    epsdf = events.sparkSession.createDataFrame(
        [(int(e),) for e in eps], "eps_milli long")
    return (epsdf.crossJoin(F.broadcast(stats))
            .withColumn("mean_daily_kept",
                        F.expr("CASE WHEN n_days > 0 THEN "
                               "kept_sum DIV n_days ELSE 0 END")
                        .cast("long"))
            .withColumn("noise_b_milli",
                        F.expr(f"{cap} * 1000000 DIV eps_milli")
                        .cast("long"))
            .select("eps_milli",
                    F.lit(cap).cast("long").alias("sensitivity"),
                    "noise_b_milli", "n_days", "mean_daily_kept",
                    F.expr("CASE WHEN mean_daily_kept > 0 THEN "
                           "noise_b_milli DIV mean_daily_kept "
                           "ELSE 0 END").cast("long")
                    .alias("rel_error_permille"))
            .orderBy("eps_milli"))


def sql_dp_noise_advisor(table: str = "events",
                         cap: int = CONTRIB_CAP,
                         eps_milli: list[int] | None = None) -> str:
    eps = eps_milli or DP_EPS_MILLI
    vals = ", ".join(f"({e})" for e in eps)
    return f"""
        WITH per_user AS (
            SELECT CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day,
                   user_id AS uid,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM {table} GROUP BY 1, 2
        ), per_day AS (
            SELECT day, CAST(SUM(LEAST(cnt, {cap})) AS BIGINT) AS kept
            FROM per_user GROUP BY 1
        ), stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(COALESCE(SUM(kept), 0) AS BIGINT) AS kept_sum
            FROM per_day
        ), eps AS (
            SELECT CAST(eps_milli AS BIGINT) AS eps_milli
            FROM (VALUES {vals}) v(eps_milli)
        ), j AS (
            SELECT eps_milli, n_days,
                   CASE WHEN n_days > 0 THEN kept_sum // n_days
                        ELSE 0 END AS mean_daily_kept,
                   {cap} * 1000000 // eps_milli AS noise_b_milli
            FROM eps CROSS JOIN stats
        )
        SELECT eps_milli,
               CAST({cap} AS BIGINT) AS sensitivity,
               CAST(noise_b_milli AS BIGINT) AS noise_b_milli,
               n_days,
               CAST(mean_daily_kept AS BIGINT) AS mean_daily_kept,
               CAST(CASE WHEN mean_daily_kept > 0
                    THEN noise_b_milli // mean_daily_kept
                    ELSE 0 END AS BIGINT) AS rel_error_permille
        FROM j ORDER BY eps_milli
    """


# ---------------------------------------------------------------------------
# Benford first-digit audit (fabricated/synthetic-value detector)
# ---------------------------------------------------------------------------

# Benford expected first-digit shares in permille: round(1000*log10(1+1/d)).
# Computed once in Python and embedded verbatim in both engines (the
# IVF_CENTROIDS constant pattern).
BENFORD_PERMILLE = [round(1000 * _m.log10(1 + 1 / d)) for d in range(1, 10)]


def benford_audit(events: DataFrame, value_col: str = "value") -> DataFrame:
    """First-significant-digit distribution of the value column against
    Benford's law — the classic fabricated-data / unit-mixup screen a
    data-quality pass runs on any money-like measure (a source whose
    values were synthesized uniformly, capped, or double-counted jumps
    off this table). Values are fixed-pointed to integer cents first
    (ROUND(v*100) — the repo's money convention), zeros dropped (no
    first digit), and the first digit read from the BIGINT's decimal
    string, which both engines format identically.

    Returns per digit 1-9: (digit, n_obs, share_permille,
    benford_permille, dev_permille = |share − benford|) ORDER BY digit.

    Plan/scale: one narrow projection + 9-key map-side-combined hash
    agg; the total attaches by a broadcast one-row re-aggregate of the
    9-row frame. Nothing corpus-sized shuffles."""
    cents = F.expr(f"CAST(ROUND({value_col} * 100) AS BIGINT)")
    digit = F.substring(F.abs(F.col("c")).cast("string"), 1, 1).cast("long")
    per = (events.select(cents.alias("c"))
           .filter(F.col("c") != 0)
           .select(digit.alias("digit"))
           .groupBy("digit")
           .agg(F.count(F.lit(1)).cast("long").alias("n_obs")))
    base = events.sparkSession.createDataFrame(
        [(d, BENFORD_PERMILLE[d - 1]) for d in range(1, 10)],
        "digit long, benford_permille long")
    tot = per.agg(F.coalesce(F.sum("n_obs"), F.lit(0)).cast("long")
                  .alias("n_total"))
    j = (base.join(per, "digit", "left")
         .crossJoin(F.broadcast(tot))
         .select("digit",
                 F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
                 "benford_permille", "n_total"))
    share = C.permille(F.col("n_obs"), F.col("n_total"))
    return (j.select("digit", "n_obs",
                     share.alias("share_permille"),
                     "benford_permille",
                     F.abs(share - F.col("benford_permille")).cast("long")
                      .alias("dev_permille"))
            .orderBy("digit"))


def sql_benford_audit(table: str = "events",
                      value_col: str = "value") -> str:
    vals = ", ".join(f"({d}, {BENFORD_PERMILLE[d - 1]})"
                     for d in range(1, 10))
    share = C.sql_permille("COALESCE(p.n_obs, 0)", "t.n_total")
    return f"""
        WITH per AS (
            SELECT CAST(substr(CAST(abs(c) AS VARCHAR), 1, 1) AS BIGINT)
                       AS digit,
                   CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM (SELECT CAST(ROUND({value_col} * 100) AS BIGINT) AS c
                  FROM {table}) v
            WHERE c <> 0
            GROUP BY 1
        ),
        base AS (SELECT CAST(d AS BIGINT) AS digit,
                        CAST(b AS BIGINT) AS benford_permille
                 FROM (VALUES {vals}) x(d, b)),
        t AS (SELECT CAST(COALESCE(SUM(n_obs), 0) AS BIGINT) AS n_total
              FROM per)
        SELECT base.digit,
               CAST(COALESCE(p.n_obs, 0) AS BIGINT) AS n_obs,
               {share} AS share_permille,
               base.benford_permille,
               CAST(abs({share} - base.benford_permille) AS BIGINT)
                   AS dev_permille
        FROM base LEFT JOIN per p ON p.digit = base.digit
        CROSS JOIN t
        ORDER BY base.digit
    """


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) two-sample test between event types
# ---------------------------------------------------------------------------

MWU_TYPE_A, MWU_TYPE_B = "view", "click"


def mann_whitney_u(events: DataFrame, type_col: str = "event_type",
                   value_col: str = "value",
                   type_a: str = MWU_TYPE_A,
                   type_b: str = MWU_TYPE_B) -> DataFrame:
    """Exact Mann-Whitney U between two event types' value samples — the
    nonparametric A/B test that needs no normality assumption, reported
    with its common-language effect size (AUC = P[a > b] + P[tie]/2):
    the rank-based companion of :func:`ks_drift` (which tests shape;
    this tests stochastic dominance).

    Tie-exact integers: values fixed-point to cents, midranks carried
    DOUBLED (``r2 = 2·midrank`` is always an integer: for a tie run
    [lo, hi] the doubled midrank is lo+hi), so R2 = Σr2, U2 = 2·U =
    R2_a − n_a(n_a+1), and ``auc_permille = U2·500 DIV (n_a·n_b)`` are
    all exact in both engines.

    Returns ONE row (n_a, n_b, r2_sum_a, u2, auc_permille).

    Plan/scale: one filter projection, a global rank over the pooled
    sample (the documented sort — at 100 TB rank the (cents, count)
    HISTOGRAM instead, tool_latency_percentiles-style, same math), two
    window functions, one agg."""
    from pyspark.sql.window import Window

    cents = F.expr(f"CAST(ROUND({value_col} * 100) AS BIGINT)")
    pool = (events.filter(F.col(type_col).isin([type_a, type_b]))
            .select(F.col(type_col).alias("t"), cents.alias("v")))
    w = Window.orderBy("v")
    wv = Window.partitionBy("v")
    ranked = (pool.withColumn("rk", F.rank().over(w))
              .withColumn("nties", F.count(F.lit(1)).over(wv))
              .withColumn("r2", (2 * F.col("rk") + F.col("nties") - 1)
                          .cast("long")))
    return (ranked.agg(
                F.sum(F.when(F.col("t") == type_a, 1).otherwise(0))
                 .cast("long").alias("n_a"),
                F.sum(F.when(F.col("t") == type_b, 1).otherwise(0))
                 .cast("long").alias("n_b"),
                F.sum(F.when(F.col("t") == type_a, F.col("r2"))
                      .otherwise(0)).cast("long").alias("r2_sum_a"))
            .withColumn("u2", (F.col("r2_sum_a")
                               - F.col("n_a") * (F.col("n_a") + 1))
                        .cast("long"))
            .withColumn("auc_permille",
                        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0),
                               F.expr("u2 * 500 DIV (n_a * n_b)"))
                        .otherwise(0).cast("long")))


def sql_mann_whitney_u(table: str = "events",
                       type_a: str = MWU_TYPE_A,
                       type_b: str = MWU_TYPE_B) -> str:
    return f"""
        WITH pool AS (
            SELECT event_type AS t,
                   CAST(ROUND(value * 100) AS BIGINT) AS v
            FROM {table} WHERE event_type IN ('{type_a}', '{type_b}')
        ),
        ranked AS (
            SELECT t,
                   2 * RANK() OVER (ORDER BY v)
                     + COUNT(*) OVER (PARTITION BY v) - 1 AS r2
            FROM pool
        ),
        agg AS (
            SELECT CAST(SUM(CASE WHEN t = '{type_a}' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(SUM(CASE WHEN t = '{type_b}' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b,
                   CAST(SUM(CASE WHEN t = '{type_a}' THEN r2 ELSE 0 END)
                        AS BIGINT) AS r2_sum_a
            FROM ranked
        )
        SELECT n_a, n_b, r2_sum_a,
               CAST(r2_sum_a - n_a * (n_a + 1) AS BIGINT) AS u2,
               CAST(CASE WHEN n_a > 0 AND n_b > 0
                         THEN (r2_sum_a - n_a * (n_a + 1)) * 500
                              // (n_a * n_b)
                         ELSE 0 END AS BIGINT) AS auc_permille
        FROM agg
    """


# ---------------------------------------------------------------------------
# Token-bucket rate-limiter replay (sequential kernel, applyInPandas)
# ---------------------------------------------------------------------------

TB_CAP = 5                  # bucket capacity, tokens
TB_REFILL_US = 60_000_000   # one token per minute, in microseconds


def token_bucket(events: DataFrame, ts_col: str = "ts",
                 cap: int = TB_CAP,
                 refill_us: int = TB_REFILL_US) -> DataFrame:
    """Replay a per-user token-bucket rate limiter over the event stream
    — the capacity-planning question "how many requests WOULD this
    limiter have rejected" answered from history before the limiter
    ships. The recurrence (clamp at cap, spend on allow) is genuinely
    sequential — no window/cumsum reformulation exists because the
    clamp couples every step to the last — so this is the
    applyInPandas case SURVEY §2.10 reserves for operators Catalyst
    cannot express; the DuckDB oracle replays the identical recurrence
    with WITH RECURSIVE.

    Semantics (integer, engine-identical): state is token-millis,
    start full (cap·1000); on each event (per user, ordered by
    (ts, event_id)) first refill ``dt_us·1000 DIV refill_us`` clamped
    to cap·1000, then allow iff tokens >= 1000 (spend 1000) else
    reject (no spend).

    Returns per user: (user_id, n_events, n_allowed, n_rejected,
    tokens_milli_final) ORDER BY user_id.

    Plan/scale: ONE shuffle on user_id, then a linear in-memory pass
    per user inside an Arrow batch. Per-user history must fit an
    executor (the Zipf-head bound every sessionizer shares); beyond
    that, split time into micro-batches whose boundary state is carried
    by the streaming variant
    (``streaming/rate_limit.TokenBucketLimiter`` — pytest pins its
    per-user tallies equal to this op across arbitrary batch splits)."""
    import pandas as pd

    us_col = F.expr(f"unix_micros(cast({ts_col} as timestamp))")
    src = events.select(F.col("user_id").cast("long").alias("user_id"),
                        us_col.cast("long").alias("us"),
                        F.col("event_id").cast("long").alias("event_id"))
    cap_milli = cap * 1000

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["us", "event_id"])
        uid = int(pdf["user_id"].iloc[0])
        t = cap_milli
        allowed = 0
        prev = None
        for us in pdf["us"]:
            us = int(us)
            if prev is not None:
                t = min(cap_milli, t + (us - prev) * 1000 // refill_us)
            if t >= 1000:
                t -= 1000
                allowed += 1
            prev = us
        n = len(pdf)
        return pd.DataFrame({"user_id": [uid], "n_events": [n],
                             "n_allowed": [allowed],
                             "n_rejected": [n - allowed],
                             "tokens_milli_final": [t]})

    out_schema = ("user_id long, n_events long, n_allowed long, "
                  "n_rejected long, tokens_milli_final long")
    return (src.groupBy("user_id").applyInPandas(kernel, out_schema)
            .orderBy("user_id"))


def sql_token_bucket(table: str = "events", cap: int = TB_CAP,
                     refill_us: int = TB_REFILL_US) -> str:
    cm = cap * 1000
    return f"""
        WITH RECURSIVE ev AS (
            SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM {table}
        ),
        st AS (
            SELECT user_id, rn, us,
                   CASE WHEN {cm} >= 1000 THEN 1 ELSE 0 END AS allowed,
                   {cm} - CASE WHEN {cm} >= 1000 THEN 1000 ELSE 0 END
                       AS t_after
            FROM ev WHERE rn = 1
            UNION ALL
            SELECT e.user_id, e.rn, e.us,
                   CASE WHEN LEAST({cm}, s.t_after
                             + (e.us - s.us) * 1000 // {refill_us})
                             >= 1000 THEN 1 ELSE 0 END,
                   LEAST({cm}, s.t_after
                         + (e.us - s.us) * 1000 // {refill_us})
                   - CASE WHEN LEAST({cm}, s.t_after
                               + (e.us - s.us) * 1000 // {refill_us})
                               >= 1000 THEN 1000 ELSE 0 END
            FROM st s JOIN ev e
              ON e.user_id = s.user_id AND e.rn = s.rn + 1
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(allowed) AS BIGINT) AS n_allowed,
               CAST(COUNT(*) - SUM(allowed) AS BIGINT) AS n_rejected,
               CAST(MAX(CASE WHEN rn = mx THEN t_after END) AS BIGINT)
                   AS tokens_milli_final
        FROM (SELECT *, MAX(rn) OVER (PARTITION BY user_id) AS mx FROM st)
        GROUP BY user_id
        ORDER BY user_id
    """


# ---------------------------------------------------------------------------
# Wilson lower-bound rates per event type
# ---------------------------------------------------------------------------

WILSON_CENTS_MIN = 10_000   # "high-value" success: value >= 100.00


def wilson_rates(events: DataFrame, type_col: str = "event_type",
                 value_col: str = "value",
                 cents_min: int = WILSON_CENTS_MIN) -> DataFrame:
    """High-value rate per event type with its Wilson-score LOWER bound
    (z = 2, ~95%) — the ranking statistic that stops a 2-of-3 source
    from outranking a 480-of-1000 source the way the raw rate does
    (the sorting-by-average fallacy). With z² = 4 the bound reduces to
    ``(x + 2 − 2·√(x(n−x)/n + 1)) / (n + 4)``, computed in exact milli
    fixed-point via ``common.isqrt`` — the inner radicand is scaled to
    micros BEFORE the floor-sqrt (``(x·10⁶ DIV n)·(n−x) + 10⁶``, that
    multiplication order keeps the intermediate under int64 headroom up
    to n ≈ 10¹²; the floor placements are part of the definition and
    identical in both engines).

    Returns (event_type, n, x, p_milli, wilson_lb_milli) ORDER BY
    event_type.

    Plan: one narrow projection + #types-row map-side-combined agg."""
    cents = F.expr(f"CAST(ROUND({value_col} * 100) AS BIGINT)")
    agg = (events
           .select(F.col(type_col).alias("event_type"),
                   (cents >= cents_min).cast("long").alias("hit"))
           .groupBy("event_type")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("hit").cast("long").alias("x")))
    inner = (F.expr("(x * 1000000 DIV n) * (n - x)") + 1_000_000) \
        .cast("long")
    s = C.isqrt(inner)
    return (agg.withColumn("s_milli", s)
            .select("event_type", "n", "x",
                    C.permille(F.col("x"), F.col("n")).alias("p_milli"),
                    F.expr("CAST(((x + 2) * 1000 - 2 * s_milli)"
                           " DIV (n + 4) AS BIGINT)")
                    .alias("wilson_lb_milli"))
            .orderBy("event_type"))


def sql_wilson_rates(table: str = "events",
                     cents_min: int = WILSON_CENTS_MIN) -> str:
    inner = "(x * 1000000 // n) * (n - x) + 1000000"
    s = C.sql_isqrt(inner)
    return f"""
        WITH agg AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN CAST(ROUND(value * 100) AS BIGINT)
                                      >= {cents_min}
                                 THEN 1 ELSE 0 END) AS BIGINT) AS x
            FROM {table} GROUP BY 1
        )
        SELECT event_type, n, x,
               {C.sql_permille('x', 'n')} AS p_milli,
               CAST(((x + 2) * 1000 - 2 * {s}) // (n + 4) AS BIGINT)
                   AS wilson_lb_milli
        FROM agg ORDER BY event_type
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "benford_audit_events",
    """First-significant-digit distribution of value-cents vs Benford's
    law — the fabricated/synthetic-value data-quality screen.""",
    lambda spark, sf_dir: benford_audit(events(spark, sf_dir)),
    sql_benford_audit)

register(
    "mann_whitney_events",
    """Exact tie-corrected Mann-Whitney U ('view' vs 'click' values)
    with integer AUC effect size — the nonparametric A/B test.""",
    lambda spark, sf_dir: mann_whitney_u(events(spark, sf_dir)),
    sql_mann_whitney_u)

register(
    "token_bucket_events",
    """Per-user token-bucket limiter replay (sequential applyInPandas
    kernel; DuckDB replays the recurrence via WITH RECURSIVE).""",
    lambda spark, sf_dir: token_bucket(events(spark, sf_dir)),
    sql_token_bucket)

register(
    "wilson_rates_events",
    """High-value rate per event type with exact-integer Wilson lower
    bound (z=2) — ranking that resists small-n flukes.""",
    lambda spark, sf_dir: wilson_rates(events(spark, sf_dir)),
    sql_wilson_rates)

register(
    "slo_burn_alerts",
    """Multiwindow SLO burn-rate alerts (5-min AND 1-hour conjunction,
    integer milli burn); hour rolls up the 5-min partials, one scan.""",
    lambda spark, sf_dir: slo_burn_alerts(events(spark, sf_dir)),
    sql_slo_burn_alerts)

register(
    "k_anonymity_events",
    """k-anonymity risk table on the (type, hour-of-day, value-decade)
    quasi-identifier — the release audit.""",
    lambda spark, sf_dir: k_anonymity(events(spark, sf_dir)),
    sql_k_anonymity)

register(
    "l_diversity_events",
    """l-diversity release audit (distinct sensitive users per QI class)
    — the companion gate to k_anonymity_events.""",
    lambda spark, sf_dir: l_diversity(events(spark, sf_dir)),
    sql_l_diversity)

register(
    "t_closeness_events",
    """t-closeness release audit: permille-EMD between each QI class's
    ordered value-decade distribution and the global one — completes the
    k-anonymity / l-diversity / t-closeness trio.""",
    lambda spark, sf_dir: t_closeness(events(spark, sf_dir)),
    sql_t_closeness)

register(
    "replayed_sequences_events",
    """Bot/replay detection: user-days sharing a byte-identical ordered
    event-type sequence, grouped by 60-bit sequence fingerprint.""",
    lambda spark, sf_dir: replayed_sequences(events(spark, sf_dir)),
    sql_replayed_sequences)

register(
    "fano_factor_events",
    """Per-type burstiness: exact integer Fano factor (variance/mean of
    zero-filled hourly counts) — 1000 ≈ Poisson, higher = bursty.""",
    lambda spark, sf_dir: fano_factor(events(spark, sf_dir)),
    sql_fano_factor)

register(
    "simpson_diversity_events",
    """Per-user Gini-Simpson behavioral diversity — exact integer where
    entropy would float-drift; two stacked hash aggs.""",
    lambda spark, sf_dir: simpson_diversity(events(spark, sf_dir)),
    sql_simpson_diversity)

register(
    "funnel_latency_events",
    """Time-to-convert per funnel transition: exact p50/p90 of the
    first-touch step deltas over converting users.""",
    lambda spark, sf_dir: funnel_latency(events(spark, sf_dir)),
    sql_funnel_latency)

register(
    "value_jackknife_events",
    """Delete-one-bucket jackknife table for the corpus mean —
    deterministic hash buckets, exact integer leave-one-out means.""",
    lambda spark, sf_dir: value_jackknife(events(spark, sf_dir)),
    sql_value_jackknife)

register(
    "ks_drift_events",
    """One-vs-rest exact binned Kolmogorov-Smirnov distance per event
    type — the distribution-drift screen, integer cross-multiplied CDFs.""",
    lambda spark, sf_dir: ks_drift(events(spark, sf_dir)),
    sql_ks_drift)

register(
    "churn_matrix_events",
    """Day-over-day retained/churned/acquired counts (set algebra as one
    shifted full-outer self-join of the distinct user-day frame).""",
    lambda spark, sf_dir: churn_matrix(events(spark, sf_dir)),
    sql_churn_matrix)

register(
    "decile_lift_events",
    """NTILE decile lift table: per-activity-decile conversion lift in
    permille (cross-multiplied — no rate division).""",
    lambda spark, sf_dir: decile_lift(events(spark, sf_dir)),
    sql_decile_lift)

register(
    "bounce_rate_events",
    """Per-day session bounce rate (1-event sessions permille, 30-min
    gap sessionization rule).""",
    lambda spark, sf_dir: bounce_rate(events(spark, sf_dir)),
    sql_bounce_rate)

register(
    "top_users_ties_events",
    """Dense-rank top users WITH ties — the leaderboard cut LIMIT-k gets
    wrong (tied peers must all surface).""",
    lambda spark, sf_dir: top_users_with_ties(events(spark, sf_dir)),
    sql_top_users_with_ties)

register(
    "gmd_value_events",
    """Exact Gini mean difference per event type via the sorted-weight
    closed form (O(n log n), never the pair join).""",
    lambda spark, sf_dir: gini_mean_difference(events(spark, sf_dir)),
    sql_gini_mean_difference)

register(
    "contribution_cap_events",
    """DP-style per-user contribution capping audit: events removed and
    users clipped per day at cap=5 — two count-only hash aggs, no
    window.""",
    lambda spark, sf_dir: contribution_cap(events(spark, sf_dir)),
    sql_contribution_cap)

register(
    "ab_srm_events",
    """A/B sample-ratio-mismatch guardrail per event_type: exposed-user
    chi-square (milli) on the deterministic 50/50 hash assignment.""",
    lambda spark, sf_dir: ab_srm(events(spark, sf_dir)),
    sql_ab_srm)

register(
    "dp_noise_advisor_events",
    """Laplace noise calibration table per candidate epsilon against the
    capped mean daily count — contribution_cap's companion.""",
    lambda spark, sf_dir: dp_noise_advisor(events(spark, sf_dir)),
    sql_dp_noise_advisor)

register(
    "gap_histogram_events",
    """Inter-event gap histogram per user stream (power-of-2 µs buckets) —
    the evidence behind the sessionize/watermark threshold choice.""",
    lambda spark, sf_dir: gap_histogram(events(spark, sf_dir)),
    lambda: sql_gap_histogram("events"))


def _ri_audit_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    od = tbl(spark, sf_dir, "orders")
    cu = tbl(spark, sf_dir, "customer")
    pt = tbl(spark, sf_dir, "part")
    role_lut, _ = pl.lookups(spark)
    edges = [
        ("events_user_customer",
         events(spark, sf_dir).select("user_id"),
         cu.select("c_custkey")),
        ("lineitem_orders", li.select("l_orderkey"),
         od.select("o_orderkey")),
        ("lineitem_part", li.select("l_partkey"), pt.select("p_partkey")),
        ("orders_customer", od.select("o_custkey"), cu.select("c_custkey")),
        ("tx_role_lookup",
         pl.load_transcripts(spark, sf_dir).select("role"),
         role_lut.select("role")),
    ]
    return ri_audit(edges)


register(
    "ri_audit_tables",
    """Referential-integrity audit over five FK edges (star schema +
    events→customer + transcript role→lookup, the last with real ~1%
    orphans from unknown roles).""",
    _ri_audit_tables,
    lambda: sql_ri_audit([
        ("events_user_customer", "user_id", "events",
         "c_custkey", "customer"),
        ("lineitem_orders", "l_orderkey", "lineitem",
         "o_orderkey", "orders"),
        ("lineitem_part", "l_partkey", "lineitem",
         "p_partkey", "part"),
        ("orders_customer", "o_custkey", "orders",
         "c_custkey", "customer"),
        ("tx_role_lookup", "role", tx_view(), "role",
         "(VALUES ('user'), ('assistant'), ('system'), ('tool'))"
         " AS rl(role)"),
    ]))


def _fingerprint_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    us = F.expr("unix_micros(cast(ts as timestamp))")
    day = (us - us % 86_400_000_000) / 86_400_000_000
    row = F.concat_ws("|", "event_id", "user_id", "event_type",
                      us.cast("string"))
    return table_fingerprint(ev, day, row)


register(
    "fingerprint_events_daily",
    """Per-day row-multiset fingerprint of the events table (count + XOR +
    modular sum of 60-bit row hashes) — the replica-drift detector.""",
    _fingerprint_events_daily,
    lambda: sql_table_fingerprint(
        "events",
        "(epoch_us(ts) - epoch_us(ts) % 86400000000) / 86400000000",
        "concat_ws('|', event_id, user_id, event_type, "
        "CAST(epoch_us(ts) AS VARCHAR))"))

register(
    "activity_gini_events",
    """Exact integer Gini of events-per-user via the histogram form (no
    global sort — ranks from the tiny distinct-count-value frame).""",
    lambda spark, sf_dir: activity_gini(events(spark, sf_dir)),
    sql_activity_gini)

register(
    "twa_value_events",
    """Time-weighted average value per event_type (step interpolation,
    integer cents x ms weights — the billing/SLO statistic).""",
    lambda spark, sf_dir: twa_value(events(spark, sf_dir)),
    sql_twa_value)

register(
    "attribution_events",
    """Last-touch conversion attribution: linear carry-forward window, not
    the events×events range self-join.""",
    lambda spark, sf_dir: last_touch_attribution(events(spark, sf_dir)),
    sql_last_touch_attribution)

register(
    "funnel_events",
    """Ordered first-touch funnel signup→view→click→purchase: per-step user
    reach + permille vs step 1 — a chain of per-user min-aggregates, every
    join co-partitioned on user_id (operators/behavior.py).""",
    lambda spark, sf_dir: funnel_counts(events(spark, sf_dir)),
    sql_funnel_counts)

register(
    "retention_cohorts",
    """Cohort retention triangle: distinct active users per (first-seen
    epoch-day cohort, day offset) — one user-keyed join + one hash agg.""",
    lambda spark, sf_dir: retention_cohorts(events(spark, sf_dir)),
    sql_retention_cohorts)

register(
    "anomaly_hours_events",
    """Integer-exact trailing z-score volume anomalies per (event_type,
    hour): flag when (m*x-S)^2 > 9*(m*Q-S^2) over the prior 24 observed
    buckets — no float mean/stddev, so the flags hash identically across
    engines.""",
    lambda spark, sf_dir: hour_anomaly_flags(events(spark, sf_dir)),
    sql_hour_anomaly_flags)

register(
    "ohlc_hours_events",
    """OHLC candlestick rollup per (event_type, hour): open/close by
    (event-time, event_id) order via min_by/max_by partials — one hash agg,
    no window over raw events; value quantized to 0.001 for the hash-stable
    oracle (which uses DuckDB's ordered FIRST/LAST as the independent
    formulation).""",
    lambda spark, sf_dir: ohlc_hours(events(spark, sf_dir)),
    sql_ohlc_hours)

register(
    "transition_counts_events",
    """First-order Markov transition matrix of event types per user stream
    (lag window on user_id, then a tiny (prev, curr) hash agg).""",
    lambda spark, sf_dir: transition_counts(events(spark, sf_dir)),
    sql_transition_counts)


def _winsorized_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    lat = C.h60(F.col("event_id").cast("string")) % 5000
    return winsorized_stats(ev, "event_type", lat)


register(
    "winsorized_latency",
    """Winsorized robust stats: clamp the synthetic latency into the exact
    per-type [p05, p95] rank-selection bounds, then aggregate — outliers
    saturate instead of distorting the sum; the bounds frame is a tiny
    broadcast.""",
    _winsorized_latency,
    lambda: f"""
            WITH lat AS (
                SELECT event_type,
                       {C.sql_h60("CAST(event_id AS VARCHAR)")} % 5000 AS v
                FROM events
            ), ranked AS (
                SELECT event_type, v,
                       ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v)
                           AS rn,
                       COUNT(*) OVER (PARTITION BY event_type) AS cnt
                FROM lat
            ), bounds AS (
                SELECT event_type,
                       MAX(CASE WHEN rn = CAST(FLOOR(0.05 * (cnt - 1)) AS BIGINT) + 1
                                THEN v END) AS lo,
                       MAX(CASE WHEN rn = CAST(FLOOR(0.95 * (cnt - 1)) AS BIGINT) + 1
                                THEN v END) AS hi
                FROM ranked GROUP BY event_type
            )
            SELECT l.event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(GREATEST(b.lo, LEAST(b.hi, l.v))) AS BIGINT)
                       AS sum_w,
                   CAST(MIN(GREATEST(b.lo, LEAST(b.hi, l.v))) AS BIGINT)
                       AS min_w,
                   CAST(MAX(GREATEST(b.lo, LEAST(b.hi, l.v))) AS BIGINT)
                       AS max_w
            FROM lat l JOIN bounds b USING (event_type)
            GROUP BY 1
        """)

register(
    "rolling_wau_events",
    """Rolling 7-day distinct active users per observed day: distinct
    (day, user) pairs explode into <= 7 report days (bounded narrow
    duplication) — exact WAU with no sketch and no window over raw
    events.""",
    lambda spark, sf_dir: rolling_active_users(events(spark, sf_dir)),
    sql_rolling_active_users)


def _snapshot_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    vq = F.round(F.col("value").cast("double") * 1000, 0).cast("long")
    base = ev.select("event_id", "event_type", "user_id", vq.alias("vq"))
    changed_vq = (F.col("vq") +
                  F.when(F.col("event_id") % 7 == 0, 1).otherwise(0))
    new = (base.filter(F.col("event_id") % 13 != 0)
               .select("event_id", "event_type", "user_id",
                       changed_vq.alias("vq")))
    added = (base.filter(F.col("event_id") % 101 == 0)
                 .select((F.col("event_id") + 10_000_000).alias("event_id"),
                         "event_type", "user_id", "vq"))
    row_hash = C.h60(F.concat_ws(
        "|", F.col("event_id").cast("string"), F.col("event_type"),
        F.col("user_id").cast("string"), F.col("vq").cast("string")))
    return snapshot_diff(base, new.unionByName(added), "event_id",
                         row_hash)


register(
    "snapshot_diff_events",
    """Snapshot reconciliation: events vs a deterministically drifted copy
    (%13 removed, %7 value-changed, %101 re-keyed as added) classified by a
    full-outer join on (key, h60-row-hash) — only (key, hash) pairs
    shuffle, never the payload.""",
    _snapshot_diff_events,
    lambda: f"""
            WITH base AS (
                SELECT event_id, event_type, user_id,
                       CAST(ROUND(value * 1000) AS BIGINT) AS vq
                FROM events
            ), newsnap AS (
                SELECT event_id, event_type, user_id,
                       vq + CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END AS vq
                FROM base WHERE event_id % 13 <> 0
                UNION ALL
                SELECT event_id + 10000000, event_type, user_id, vq
                FROM base WHERE event_id % 101 = 0
            ), o AS (
                SELECT event_id AS k,
                       {C.sql_h60("CAST(event_id AS VARCHAR) || '|' || event_type || '|' || CAST(user_id AS VARCHAR) || '|' || CAST(vq AS VARCHAR)")} AS h_old
                FROM base
            ), n AS (
                SELECT event_id AS k,
                       {C.sql_h60("CAST(event_id AS VARCHAR) || '|' || event_type || '|' || CAST(user_id AS VARCHAR) || '|' || CAST(vq AS VARCHAR)")} AS h_new
                FROM newsnap
            )
            SELECT COALESCE(o.k, n.k) AS event_id,
                   CASE WHEN o.h_old IS NULL THEN 'added'
                        WHEN n.h_new IS NULL THEN 'removed'
                        WHEN o.h_old <> n.h_new THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM o FULL OUTER JOIN n ON o.k = n.k
        """)

register(
    "trigram_paths_events",
    """Top-20 3-step behavioral paths per user stream: both lags in one
    WindowExec pass, trigram hash agg, TakeOrderedAndProject top-k.""",
    lambda spark, sf_dir: trigram_paths(events(spark, sf_dir)),
    sql_trigram_paths)


def _dq_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    src = ev.select("event_id", "ts", "user_id", "event_type", "value",
                    props_with_drift(ev).alias("props"))
    return dq_profile(src)


register(
    "dq_profile_events",
    """Data-quality validity profile in one aggregate pass (nulls, invalid
    JSON, non-positive values, out-of-range timestamps per event_type);
    runs over the same deterministically drifted payload as
    schema_profile_events so the invalid-JSON counter is non-trivial.""",
    _dq_profile_events,
    lambda: f"""
            WITH src AS (
                SELECT event_id, ts, user_id, event_type, value,
                       CASE WHEN event_id % 7 = 0 THEN
                                '{{"k":' || CAST(event_id % 100 AS VARCHAR)
                                || ',"extra":"x","u":'
                                || CAST(user_id AS VARCHAR) || '}}'
                            WHEN event_id % 13 = 0 THEN 'not json'
                            ELSE props END AS props
                FROM events
            )
            {sql_dq_profile("src")}
        """)

register(
    "mad_outliers_events",
    """Hampel-style robust outliers: |v - median| > 5 * MAD per event
    type, exact rank-selection medians (two shuffles) + broadcast clamp.""",
    lambda spark, sf_dir: mad_outliers(events(spark, sf_dir)),
    sql_mad_outliers)

register(
    "new_vs_returning_events",
    """Daily growth accounting: active users split into new (first-ever
    day) vs returning, plus event totals — two hash aggs, no windows.""",
    lambda spark, sf_dir: new_vs_returning(events(spark, sf_dir)),
    sql_new_vs_returning)

register(
    "debounce_events",
    """Idempotency debounce: drop events < 1s after the previous event of
    the same (user, type) key — one window pass, one shuffle.""",
    lambda spark, sf_dir: debounce_events(events(spark, sf_dir)),
    sql_debounce_events)

register(
    "scd2_intervals_events",
    """SCD2 history build: per-user state-change rows with [valid_from,
    valid_to) epoch-us intervals; lag+lead share one shuffle+sort.""",
    lambda spark, sf_dir: scd2_intervals(events(spark, sf_dir)),
    sql_scd2_intervals)

register(
    "pct_rank_events",
    """Per-type percentile-rank (permille) normalization of the value
    column — one window pass, rank ties share a rank.""",
    lambda spark, sf_dir: pct_rank_events(events(spark, sf_dir)),
    sql_pct_rank_events)

register(
    "activity_grid_events",
    """Day-of-week x hour traffic heatmap per event type — integer epoch
    arithmetic, one hash agg, <= 168 cells per group.""",
    lambda spark, sf_dir: activity_grid(events(spark, sf_dir)),
    sql_activity_grid)

register(
    "basket_pairs_events",
    """Market-basket event-type pairs per (user, day): distinct-collapsed
    baskets, within-basket self-join bounded by the type vocabulary.""",
    lambda spark, sf_dir: basket_pairs(events(spark, sf_dir)),
    sql_basket_pairs)
