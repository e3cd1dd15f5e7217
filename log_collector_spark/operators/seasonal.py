"""Seasonality diagnostics over the events stream: exact integer
autocorrelation of the hourly count series, and the day-of-week × hour
load profile.

Both stay on the repo's integer-arithmetic invariant: the ACF is emitted
as exact BIGINT numerator/denominator (the Pearson sums scaled by n², so
no rational ever materializes) plus a floored permille, and the calendar
keys come from epoch-millisecond arithmetic — ``dow = (epoch_days + 4) %% 7``
(1970-01-01 was a Thursday; 0 = Sunday) — NEVER from engine date-part
functions, whose week-numbering conventions differ between Spark and
DuckDB.

Scale (100 TB): the raw stream collapses to per-hour counts in ONE
map-side-combined aggregation; everything after (dense grid, lag self-join,
profile windows) runs on the hour-count table — |hours| rows, metadata
scale even for a decade of data (~90k rows). The lag join fans out
|hours|·max_lag rows; at max_lag=48 that is still metadata scale.

Overflow bound: ``acf_num`` ~ n²·Σx·x ≤ n²·Q·1000; with hourly counts x
and n hours, BIGINT holds while n²·Q < 9e15 — e.g. 10 years of hours
(n≈9e4) with x up to ~1e3. Beyond that, pre-aggregate to daily counts or
widen the three cross-products to DECIMAL(38,0); the plan shape is
unchanged.

Reference parity anchor: engine extension (SURVEY §2.12) — the natural
next question over the reference's minute-counter output
(reference/src/main/java/io/sugo/collect/metrics/*).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..textops import common as C
from log_collector_spark.registry import events, register

ACF_MAX_LAG = 48

_HOUR_MS = 3600000
_DAY_MS = 86400000


def _hour_idx(ts_col: str):
    return F.expr(f"unix_micros(cast({ts_col} as timestamp)) "
                  f"div 1000 div {_HOUR_MS}").cast("long")


def autocorr_hourly(events: DataFrame, ts_col: str = "ts",
                    max_lag: int = ACF_MAX_LAG) -> DataFrame:
    """Exact lag-k autocorrelation of the zero-filled hourly count series,
    k = 1..max_lag.

    For the series x_1..x_n with S = Σx, Q = Σx², the lag-k Pearson sums
    scale by n² into pure integers::

        num_k = n²·P_k − n·S·(A_k + B_k) + (n−k)·S²
        den   = n²·Q − n·S²          (lag-independent)

    where P_k = Σ x_t·x_{t−k}, A_k = Σ_{t>k} x_t, B_k = Σ_{t≤n−k} x_t.
    acf = num/den; num may be negative, so the permille divides
    abs-split (DIV on |num|, sign restored after) — truncation toward
    zero that does not depend on either engine's signed-division rule.

    Returns (lag, n_terms, acf_num, acf_den, acf_permille), ORDER BY lag.
    """
    counts = (events
              .select(_hour_idx(ts_col).alias("h"))
              .groupBy("h").agg(F.count(F.lit(1)).alias("x")))
    bounds = counts.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("h"))
    dense = (grid.join(counts, "h", "left")
             .select("h", F.coalesce("x", F.lit(0)).cast("long").alias("x")))
    tot = dense.agg(F.count(F.lit(1)).alias("n"),
                    F.sum("x").alias("s"),
                    F.sum(F.col("x") * F.col("x")).alias("q"))
    lags = (events.sparkSession.range(1, max_lag + 1)
            .select(F.col("id").cast("long").alias("lag")))
    d2 = dense.select(F.col("h").alias("h2"), F.col("x").alias("x2"))
    pairs = (dense.crossJoin(F.broadcast(lags))
             .join(d2, F.col("h2") == F.col("h") - F.col("lag"))
             .groupBy("lag")
             .agg(F.count(F.lit(1)).alias("n_terms"),
                  F.sum(F.col("x") * F.col("x2")).alias("p"),
                  F.sum("x").alias("a"),
                  F.sum("x2").alias("b")))
    out = (pairs.crossJoin(F.broadcast(tot))
           .withColumn("acf_num",
                       (F.col("n") * F.col("n") * F.col("p")
                        - F.col("n") * F.col("s")
                          * (F.col("a") + F.col("b"))
                        + (F.col("n") - F.col("lag"))
                          * F.col("s") * F.col("s")).cast("long"))
           .withColumn("acf_den",
                       (F.col("n") * F.col("n") * F.col("q")
                        - F.col("n") * F.col("s") * F.col("s"))
                       .cast("long"))
           .withColumn(
               "acf_permille",
               F.when(F.col("acf_den") <= 0, F.lit(0))
               .when(F.col("acf_num") >= 0,
                     F.expr("(acf_num * 1000) div acf_den"))
               .otherwise(-F.expr("((-acf_num) * 1000) div acf_den"))
               .cast("long")))
    return (out.select("lag", F.col("n_terms").cast("long").alias("n_terms"),
                       "acf_num", "acf_den", "acf_permille")
            .orderBy("lag"))


def sql_autocorr_hourly(table: str = "events",
                        max_lag: int = ACF_MAX_LAG) -> str:
    return f"""
        WITH counts AS (
            SELECT CAST(epoch_ms(ts) // {_HOUR_MS} AS BIGINT) AS h,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM {table} GROUP BY 1
        ),
        b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM counts),
        grid AS (SELECT unnest(generate_series(lo, hi)) AS h FROM b),
        dense AS (
            SELECT g.h, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
            FROM grid g LEFT JOIN counts c USING (h)
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s,
                   CAST(SUM(x * x) AS BIGINT) AS q
            FROM dense
        ),
        lags AS (
            SELECT CAST(unnest(generate_series(1, {max_lag})) AS BIGINT)
                   AS lag
        ),
        pairs AS (
            SELECT l.lag,
                   CAST(COUNT(*) AS BIGINT) AS n_terms,
                   CAST(SUM(d1.x * d2.x) AS BIGINT) AS p,
                   CAST(SUM(d1.x) AS BIGINT) AS a,
                   CAST(SUM(d2.x) AS BIGINT) AS b
            FROM lags l
            JOIN dense d1 ON TRUE
            JOIN dense d2 ON d2.h = d1.h - l.lag
            GROUP BY l.lag
        ),
        acf AS (
            SELECT p.lag, p.n_terms,
                   CAST(t.n*t.n*p.p - t.n*t.s*(p.a + p.b)
                        + (t.n - p.lag)*t.s*t.s AS BIGINT) AS acf_num,
                   CAST(t.n*t.n*t.q - t.n*t.s*t.s AS BIGINT) AS acf_den
            FROM pairs p CROSS JOIN tot t
        )
        SELECT lag, n_terms, acf_num, acf_den,
               CAST(CASE WHEN acf_den <= 0 THEN 0
                         WHEN acf_num >= 0 THEN acf_num * 1000 // acf_den
                         ELSE -((-acf_num) * 1000 // acf_den) END
                    AS BIGINT) AS acf_permille
        FROM acf
        ORDER BY lag
    """


def dow_hour_profile(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Day-of-week × hour-of-day load profile: event count, permille share
    of that weekday's total, and a peak-hour flag (max count, min-hour
    tie-break). Calendar keys from epoch-ms arithmetic (module docstring).

    Returns (dow, hour, n_events, dow_share_permille, is_peak),
    ORDER BY (dow, hour); 0 = Sunday."""
    ms = f"(unix_micros(cast({ts_col} as timestamp)) div 1000)"
    cell = (events
            .select(F.expr(f"({ms} div {_DAY_MS} + 4) % 7").cast("long")
                    .alias("dow"),
                    F.expr(f"({ms} div {_HOUR_MS}) % 24").cast("long")
                    .alias("hour"))
            .groupBy("dow", "hour")
            .agg(F.count(F.lit(1)).alias("n_events")))
    wd = Window.partitionBy("dow")
    out = (cell
           .withColumn("dow_total", F.sum("n_events").over(wd))
           .withColumn("max_n", F.max("n_events").over(wd))
           .withColumn("peak_hour",
                       F.min(F.when(F.col("n_events") == F.col("max_n"),
                                    F.col("hour"))).over(wd))
           .select("dow", "hour",
                   F.col("n_events").cast("long").alias("n_events"),
                   C.permille(F.col("n_events"), F.col("dow_total"))
                    .alias("dow_share_permille"),
                   (F.col("hour") == F.col("peak_hour")).alias("is_peak")))
    return out.orderBy("dow", "hour")


def sql_dow_hour_profile(table: str = "events") -> str:
    return f"""
        WITH cell AS (
            SELECT CAST((epoch_ms(ts) // {_DAY_MS} + 4) % 7 AS BIGINT)
                       AS dow,
                   CAST((epoch_ms(ts) // {_HOUR_MS}) % 24 AS BIGINT)
                       AS hour,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM {table} GROUP BY 1, 2
        ),
        w0 AS (
            SELECT dow, hour, n_events,
                   SUM(n_events) OVER (PARTITION BY dow) AS dow_total,
                   MAX(n_events) OVER (PARTITION BY dow) AS max_n
            FROM cell
        ),
        w AS (
            SELECT dow, hour, n_events, dow_total,
                   MIN(CASE WHEN n_events = max_n THEN hour END)
                       OVER (PARTITION BY dow) AS peak_hour
            FROM w0
        )
        SELECT dow, hour, n_events,
               {C.sql_permille('n_events', 'dow_total')}
                   AS dow_share_permille,
               hour = peak_hour AS is_peak
        FROM w
        ORDER BY dow, hour
    """


SN_LAG_HOURS = 168  # one week of hours — the seasonal-naive horizon


def seasonal_naive_error(events: DataFrame, ts_col: str = "ts",
                         lag_hours: int = SN_LAG_HOURS) -> DataFrame:
    """Week-over-week seasonal-naive backtest: the forecast for hour ``h``
    is the observed count at ``h - lag_hours`` on the zero-filled hourly
    grid; per COMPLETE day (all 24 hours have a forecast), the absolute
    error mass and its permille of actual volume. The capacity-planning
    sanity metric: if seasonal-naive already explains the traffic, a
    fancier forecaster must beat THIS number (the MASE denominator).

    Returns (day_idx, actual_sum, abs_err_sum, err_permille) ORDER BY
    day_idx.

    Plan: the corpus collapses to per-hour counts in one map-side agg;
    the dense grid + lag self-join + day rollup all run on |hours| rows
    (metadata scale — see module docstring)."""
    counts = (events
              .select(_hour_idx(ts_col).alias("h"))
              .groupBy("h").agg(F.count(F.lit(1)).alias("x")))
    bounds = counts.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("h"))
    dense = (grid.join(counts, "h", "left")
             .select("h", F.coalesce("x", F.lit(0)).cast("long").alias("x")))
    past = dense.select((F.col("h") + lag_hours).alias("h"),
                        F.col("x").alias("fc"))
    j = dense.join(past, "h")  # inner: only hours with a forecast
    day = (j.groupBy(F.expr("h div 24").cast("long").alias("day_idx"))
            .agg(F.count(F.lit(1)).alias("n_hours"),
                 F.sum("x").cast("long").alias("actual_sum"),
                 F.sum(F.abs(F.col("x") - F.col("fc"))).cast("long")
                  .alias("abs_err_sum")))
    return (day.filter(F.col("n_hours") == 24)
               .select("day_idx", "actual_sum", "abs_err_sum",
                       F.when(F.col("actual_sum") > 0,
                              F.expr("(abs_err_sum * 1000)"
                                     " div actual_sum"))
                        .otherwise(0).cast("long").alias("err_permille"))
               .orderBy("day_idx"))


def sql_seasonal_naive_error(table: str = "events",
                             lag_hours: int = SN_LAG_HOURS) -> str:
    return f"""
        WITH counts AS (
            SELECT CAST(epoch_ms(ts) // {_HOUR_MS} AS BIGINT) AS h,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM {table} GROUP BY 1
        ),
        b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM counts),
        grid AS (SELECT unnest(generate_series(lo, hi)) AS h FROM b),
        dense AS (
            SELECT g.h, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
            FROM grid g LEFT JOIN counts c USING (h)
        ),
        j AS (
            SELECT d.h, d.x, p.x AS fc
            FROM dense d JOIN dense p ON p.h = d.h - {lag_hours}
        ),
        day AS (
            SELECT CAST(h // 24 AS BIGINT) AS day_idx,
                   COUNT(*) AS n_hours,
                   CAST(SUM(x) AS BIGINT) AS actual_sum,
                   CAST(SUM(abs(x - fc)) AS BIGINT) AS abs_err_sum
            FROM j GROUP BY 1
        )
        SELECT day_idx, actual_sum, abs_err_sum,
               CAST(CASE WHEN actual_sum > 0
                         THEN abs_err_sum * 1000 // actual_sum
                         ELSE 0 END AS BIGINT) AS err_permille
        FROM day WHERE n_hours = 24
        ORDER BY day_idx
    """


def cusum_changepoint(events: DataFrame, ts_col: str = "ts",
                      type_col: str = "event_type") -> DataFrame:
    """CUSUM changepoint scan per event type: on the hourly count series
    x_1..x_T, the cumulative deviation from the series mean is
    S_t = Σ_{i<=t} (x_i - C/T); the hour maximizing |S_t| is the
    classic single-changepoint estimate (where the level shifted), and
    the size of the peak relative to total volume says whether there IS
    a shift worth investigating — the alert that catches a routing
    change or source outage that per-hour anomaly z-scores miss because
    no single hour is extreme.

    Exact integers: everything is scaled by T (d_t = T·cum_t − t·C), so
    no mean ever materializes as a fraction; |d| is compared exactly and
    the tie at the max breaks to the EARLIEST hour in both engines.
    shift_permille = 1000·|d|_max / (T·C) — the normalized CUSUM range
    (0 = perfectly stationary, larger = sharper level shift).

    Returns (event_type, n_hours, total_events, change_hour, d_abs_max,
    shift_permille) ORDER BY event_type.

    Plan/scale: the raw stream collapses to (type, hour) counts in one
    map-side-combined agg; the cumsum + argmax windows run per type on
    |hours| rows — metadata scale. Overflow: d_t ≤ T·C; a decade of
    hours (9e4) at 1e12 events still fits BIGINT headroom via the
    module's documented bound."""
    hourly = (events
              .select(F.col(type_col).alias("event_type"),
                      _hour_idx(ts_col).alias("h"))
              .groupBy("event_type", "h")
              .agg(F.count(F.lit(1)).cast("long").alias("x")))
    wcum = (Window.partitionBy("event_type").orderBy("h")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = (Window.partitionBy("event_type")
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    widx = Window.partitionBy("event_type").orderBy("h")
    scored = (hourly
              .withColumn("cum", F.sum("x").over(wcum).cast("long"))
              .withColumn("t_idx", F.row_number().over(widx).cast("long"))
              .withColumn("n_hours", F.count(F.lit(1)).over(wall)
                           .cast("long"))
              .withColumn("total_events", F.sum("x").over(wall)
                           .cast("long"))
              .withColumn("d", (F.col("n_hours") * F.col("cum")
                                - F.col("t_idx") * F.col("total_events"))
                           .cast("long")))
    wpick = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("d")).desc(), F.col("h").asc())
    return (scored.withColumn("rn", F.row_number().over(wpick))
            .filter(F.col("rn") == 1)
            .select("event_type", "n_hours", "total_events",
                    F.col("h").alias("change_hour"),
                    F.abs(F.col("d")).cast("long").alias("d_abs_max"),
                    C.permille(F.abs(F.col("d")),
                               F.col("n_hours") * F.col("total_events"))
                    .alias("shift_permille"))
            .orderBy("event_type"))


def sql_cusum_changepoint(table: str = "events") -> str:
    return f"""
        WITH hourly AS (
            SELECT event_type,
                   CAST(epoch_ms(ts) // {_HOUR_MS} AS BIGINT) AS h,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM {table} GROUP BY 1, 2
        ),
        scored AS (
            SELECT event_type, h, x,
                   CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY h)
                        AS BIGINT) AS cum,
                   CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                           ORDER BY h) AS BIGINT) AS t_idx,
                   CAST(COUNT(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS n_hours,
                   CAST(SUM(x) OVER (PARTITION BY event_type)
                        AS BIGINT) AS total_events
            FROM hourly
        ),
        d AS (
            SELECT event_type, h, n_hours, total_events,
                   n_hours * cum - t_idx * total_events AS d
            FROM scored
        ),
        pick AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY abs(d) DESC, h) AS rn
            FROM d
        )
        SELECT event_type, n_hours, total_events,
               h AS change_hour,
               CAST(abs(d) AS BIGINT) AS d_abs_max,
               {C.sql_permille('abs(d)', 'n_hours * total_events')}
                   AS shift_permille
        FROM pick WHERE rn = 1
        ORDER BY event_type
    """


def theil_sen_slope(events: DataFrame, ts_col: str = "ts",
                    type_col: str = "event_type") -> DataFrame:
    """Theil-Sen robust trend per event type: the MEDIAN of all pairwise
    slopes of the hourly count series — the estimator that shrugs off
    the outlier hours that wreck the OLS slope (trend_slope_counts'
    robust sibling; when the two disagree materially, the series has
    influential outliers and OLS is the one lying).

    Exact integers with floor-consistency across engines: each pair's
    slope is fixed-pointed as ``sign(dy) * (|dy|·1000 DIV dx)`` — the
    abs-split keeps DIV on non-negative operands, where Spark's
    truncation and DuckDB's floor agree (the repo's DIV invariant). The
    median element is picked by rank (n+1) DIV 2 under the total order
    (slope_milli, h1, h2), so equal-slope collisions break identically
    in both engines.

    Returns (event_type, n_hours, n_pairs, slope_milli) ORDER BY
    event_type.

    Plan/scale: the corpus collapses to per-(type, hour) counts first
    (one map-side agg); pairs are a per-type self-join of the HOUR
    table — |hours|² rows per type, metadata scale (a decade of hours
    ~9e4 → 8e9 pairs would need the pair-free median-of-slopes sketch;
    for the monitoring horizon this table targets, |hours| ≤ ~2k, the
    exact form wins)."""
    hourly = (events
              .select(F.col(type_col).alias("event_type"),
                      _hour_idx(ts_col).alias("h"))
              .groupBy("event_type", "h")
              .agg(F.count(F.lit(1)).cast("long").alias("x")))
    a = hourly.select(F.col("event_type"), F.col("h").alias("h1"),
                      F.col("x").alias("x1"))
    b = hourly.select(F.col("event_type"), F.col("h").alias("h2"),
                      F.col("x").alias("x2"))
    pairs = (a.join(b, "event_type")
             .filter(F.col("h1") < F.col("h2"))
             .select("event_type", "h1", "h2",
                     (F.col("x2") - F.col("x1")).alias("dy"),
                     (F.col("h2") - F.col("h1")).alias("dx")))
    slope = (F.when(F.col("dy") >= 0,
                    F.expr("(dy * 1000) DIV dx"))
             .otherwise(-F.expr("((-dy) * 1000) DIV dx"))
             .cast("long"))
    w = Window.partitionBy("event_type").orderBy("slope_milli", "h1", "h2")
    wall = (Window.partitionBy("event_type")
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    ranked = (pairs.withColumn("slope_milli", slope)
              .withColumn("rn", F.row_number().over(w))
              .withColumn("n_pairs", F.count(F.lit(1)).over(wall)
                          .cast("long")))
    med = ranked.filter(F.col("rn") == F.expr("(n_pairs + 1) DIV 2"))
    nh = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"))
    return (nh.join(med.select("event_type", "n_pairs", "slope_milli"),
                    "event_type", "left")
            .select("event_type", "n_hours",
                    F.coalesce("n_pairs", F.lit(0)).cast("long")
                     .alias("n_pairs"),
                    F.coalesce("slope_milli", F.lit(0)).cast("long")
                     .alias("slope_milli"))
            .orderBy("event_type"))


def sql_theil_sen_slope(table: str = "events") -> str:
    return f"""
        WITH hourly AS (
            SELECT event_type,
                   CAST(epoch_ms(ts) // {_HOUR_MS} AS BIGINT) AS h,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM {table} GROUP BY 1, 2
        ),
        pairs AS (
            SELECT a.event_type, a.h AS h1, b.h AS h2,
                   b.x - a.x AS dy, b.h - a.h AS dx
            FROM hourly a JOIN hourly b
              ON b.event_type = a.event_type AND a.h < b.h
        ),
        sl AS (
            SELECT event_type, h1, h2,
                   CASE WHEN dy >= 0 THEN (dy * 1000) // dx
                        ELSE -(((-dy) * 1000) // dx) END AS slope_milli
            FROM pairs
        ),
        ranked AS (
            SELECT event_type, slope_milli,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY slope_milli, h1, h2) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n_pairs
            FROM sl
        ),
        med AS (
            SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
                   CAST(slope_milli AS BIGINT) AS slope_milli
            FROM ranked WHERE rn = (n_pairs + 1) // 2
        ),
        nh AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours
            FROM hourly GROUP BY 1
        )
        SELECT nh.event_type, nh.n_hours,
               CAST(COALESCE(med.n_pairs, 0) AS BIGINT) AS n_pairs,
               CAST(COALESCE(med.slope_milli, 0) AS BIGINT) AS slope_milli
        FROM nh LEFT JOIN med ON med.event_type = nh.event_type
        ORDER BY nh.event_type
    """


XCORR_TYPE_X, XCORR_TYPE_Y = "error", "purchase"
XCORR_MAX_LAG = 6


def crosscorr_types(events: DataFrame, ts_col: str = "ts",
                    type_col: str = "event_type",
                    type_x: str = XCORR_TYPE_X,
                    type_y: str = XCORR_TYPE_Y,
                    max_lag: int = XCORR_MAX_LAG) -> DataFrame:
    """Cross-correlation between two event types' hourly count series at
    lags −max_lag..+max_lag — the lead/lag diagnostic behind "do error
    spikes depress purchases, and with what delay?" (the two-series
    sibling of :func:`hourly_acf`; positive lag = type_y shifted later,
    so a peak at lag +2 means x leads y by two hours).

    Exact integers, repo conventions: per lag the Pearson sums run over
    the OVERLAP of the two zero-filled dense grids; the numerator is
    the n-scaled form ``n·Σxy − Σx·Σy`` (BIGINT, no rational), and the
    permille divides by ``isqrt(dx)·isqrt(dy)`` — floor-sqrt FACTORS
    rather than sqrt of the product, which would overflow int64 at
    ~1e12; the placement is part of the definition and identical in
    both engines. Sign handled by abs-split DIV; zero-variance lags
    report 0.

    Returns (lag, n_overlap, num_scaled, corr_permille) ORDER BY lag.

    Plan/scale: the corpus collapses to two hour-count series in one
    map-side agg; the dense grid + lag joins run on |hours|·(2L+1)
    rows — metadata scale (module docstring bound)."""
    counts = (events
              .filter(F.col(type_col).isin([type_x, type_y]))
              .select(F.col(type_col).alias("t"),
                      _hour_idx(ts_col).alias("h"))
              .groupBy("t", "h")
              .agg(F.count(F.lit(1)).cast("long").alias("x")))
    bounds = counts.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("h"))
    xs = (grid.join(counts.filter(F.col("t") == type_x), "h", "left")
          .select("h", F.coalesce("x", F.lit(0)).cast("long").alias("xv")))
    ys = (grid.join(counts.filter(F.col("t") == type_y), "h", "left")
          .select("h", F.coalesce("x", F.lit(0)).cast("long").alias("yv")))
    lags = events.sparkSession.createDataFrame(
        [(l,) for l in range(-max_lag, max_lag + 1)], "lag long")
    j = (lags.crossJoin(xs)
         .join(ys.select((F.col("h")).alias("hy"), "yv"),
               F.col("hy") == F.col("h") + F.col("lag"))
         .select("lag", "xv", "yv"))
    agg = (j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap"),
        F.sum("xv").cast("long").alias("sx"),
        F.sum("yv").cast("long").alias("sy"),
        F.sum(F.col("xv") * F.col("xv")).cast("long").alias("sxx"),
        F.sum(F.col("yv") * F.col("yv")).cast("long").alias("syy"),
        F.sum(F.col("xv") * F.col("yv")).cast("long").alias("sxy")))
    num = (F.col("n_overlap") * F.col("sxy")
           - F.col("sx") * F.col("sy")).cast("long")
    dx = (F.col("n_overlap") * F.col("sxx")
          - F.col("sx") * F.col("sx")).cast("long")
    dy = (F.col("n_overlap") * F.col("syy")
          - F.col("sy") * F.col("sy")).cast("long")
    den = C.isqrt(dx) * C.isqrt(dy)
    # clamp to ±1000: the floor-sqrt FACTOR denominator slightly
    # underestimates sqrt(dx·dy), so a perfectly-correlated tiny series
    # could otherwise read above 1000 permille.
    corr = (F.when(den > 0,
                   F.greatest(F.lit(-1000).cast("long"),
                              F.least(F.lit(1000).cast("long"),
                                      F.when(num >= 0,
                                             F.expr("(num_scaled * 1000)"
                                                    " DIV den"))
                                      .otherwise(
                                          -F.expr("((-num_scaled) * 1000)"
                                                  " DIV den"))
                                      .cast("long"))))
            .otherwise(0).cast("long"))
    full = (agg.withColumn("num_scaled", num)
            .withColumn("den", den)
            .withColumn("corr_permille", corr)
            .select("lag", "n_overlap", "num_scaled", "corr_permille"))
    # a lag whose windows don't overlap at all must still appear (0 row)
    return (lags.join(full, "lag", "left")
            .select("lag",
                    F.coalesce("n_overlap", F.lit(0)).cast("long")
                     .alias("n_overlap"),
                    F.coalesce("num_scaled", F.lit(0)).cast("long")
                     .alias("num_scaled"),
                    F.coalesce("corr_permille", F.lit(0)).cast("long")
                     .alias("corr_permille"))
            .orderBy("lag"))


def sql_crosscorr_types(table: str = "events",
                        type_x: str = XCORR_TYPE_X,
                        type_y: str = XCORR_TYPE_Y,
                        max_lag: int = XCORR_MAX_LAG) -> str:
    den = (f"{C.sql_isqrt('n_overlap * sxx - sx * sx')} * "
           f"{C.sql_isqrt('n_overlap * syy - sy * sy')}")
    return f"""
        WITH counts AS (
            SELECT event_type AS t,
                   CAST(epoch_ms(ts) // {_HOUR_MS} AS BIGINT) AS h,
                   CAST(COUNT(*) AS BIGINT) AS x
            FROM {table}
            WHERE event_type IN ('{type_x}', '{type_y}')
            GROUP BY 1, 2
        ),
        b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM counts),
        grid AS (SELECT unnest(generate_series(lo, hi)) AS h FROM b),
        xs AS (
            SELECT g.h, CAST(COALESCE(c.x, 0) AS BIGINT) AS xv
            FROM grid g LEFT JOIN counts c
              ON c.h = g.h AND c.t = '{type_x}'
        ),
        ys AS (
            SELECT g.h, CAST(COALESCE(c.x, 0) AS BIGINT) AS yv
            FROM grid g LEFT JOIN counts c
              ON c.h = g.h AND c.t = '{type_y}'
        ),
        lags AS (SELECT CAST(unnest(generate_series(-{max_lag},
                                                    {max_lag})) AS BIGINT)
                     AS lag),
        agg AS (
            SELECT l.lag,
                   CAST(COUNT(*) AS BIGINT) AS n_overlap,
                   CAST(SUM(x.xv) AS BIGINT) AS sx,
                   CAST(SUM(y.yv) AS BIGINT) AS sy,
                   CAST(SUM(x.xv * x.xv) AS BIGINT) AS sxx,
                   CAST(SUM(y.yv * y.yv) AS BIGINT) AS syy,
                   CAST(SUM(x.xv * y.yv) AS BIGINT) AS sxy
            FROM lags l
            JOIN xs x ON TRUE
            JOIN ys y ON y.h = x.h + l.lag
            GROUP BY 1
        ),
        d AS (
            SELECT lag, n_overlap,
                   n_overlap * sxy - sx * sy AS num_scaled,
                   {den} AS den
            FROM agg
        )
        SELECT l.lag,
               CAST(COALESCE(d.n_overlap, 0) AS BIGINT) AS n_overlap,
               CAST(COALESCE(d.num_scaled, 0) AS BIGINT) AS num_scaled,
               CAST(COALESCE(CASE WHEN d.den > 0 THEN
                        GREATEST(-1000, LEAST(1000,
                            CASE WHEN d.num_scaled >= 0
                                 THEN (d.num_scaled * 1000) // d.den
                                 ELSE -(((-d.num_scaled) * 1000) // d.den)
                            END))
                    ELSE 0 END, 0) AS BIGINT) AS corr_permille
        FROM lags l LEFT JOIN d ON d.lag = l.lag
        ORDER BY l.lag
    """


# ---------------------------------------------------------------------------
# Hourly feed-completeness census (missing hours + longest outage)
# ---------------------------------------------------------------------------


def hourly_gap_census(events: DataFrame, ts_col: str = "ts",
                      group_col: str = "event_type") -> DataFrame:
    """Feed-completeness audit per event type: over the type's own
    [first, last] hour span, how many hourly buckets carry at least one
    event, how many are MISSING, and the single longest silent stretch —
    the monitor that distinguishes "the crawler was down for six hours"
    from "this type is just sparse" before a backfill is ordered. The
    feed-level complement of ``tx_stats.turn_holes`` (which audits
    per-conversation sequence gaps).

    Returns (event_type, span_hours, present_hours, missing_hours,
    missing_permille, longest_gap_hours) ORDER BY event_type.

    Plan/scale: ONE distinct (type, hour) agg — the only corpus-wide
    shuffle, map-side combined to |types|·|hours| rows — then a lag
    window per type over those distinct hours (tiny frame). Epoch-hour
    integer arithmetic (module docstring), no calendar scaffold table:
    gaps fall out of consecutive-hour differences, so nothing is ever
    exploded to the full hour range."""
    from pyspark.sql.window import Window

    hours = (events.select(F.col(group_col).alias("event_type"),
                           _hour_idx(ts_col).alias("h"))
             .groupBy("event_type", "h")
             .agg(F.count(F.lit(1)).alias("_n")))
    w = Window.partitionBy("event_type").orderBy("h")
    gap = (F.col("h") - F.lag("h").over(w) - 1)
    per = (hours.withColumn("gap", F.coalesce(gap, F.lit(0)))
           .groupBy("event_type")
           .agg(F.min("h").alias("h0"), F.max("h").alias("h1"),
                F.count(F.lit(1)).cast("long").alias("present_hours"),
                F.max("gap").cast("long").alias("longest_gap_hours")))
    span = (F.col("h1") - F.col("h0") + 1).cast("long")
    missing = (span - F.col("present_hours")).cast("long")
    return (per.select(
        "event_type", span.alias("span_hours"), "present_hours",
        missing.alias("missing_hours"),
        C.permille(missing, span).alias("missing_permille"),
        "longest_gap_hours")
        .orderBy("event_type"))


def sql_hourly_gap_census(table: str = "events") -> str:
    return f"""
        WITH hours AS (
            SELECT event_type,
                   CAST(epoch_ms(ts) // {_HOUR_MS} AS BIGINT) AS h
            FROM {table}
            GROUP BY 1, 2
        ), gaps AS (
            SELECT event_type, h,
                   COALESCE(h - lag(h) OVER (PARTITION BY event_type
                                             ORDER BY h) - 1, 0) AS gap
            FROM hours
        ), per AS (
            SELECT event_type,
                   MIN(h) AS h0, MAX(h) AS h1,
                   CAST(COUNT(*) AS BIGINT) AS present_hours,
                   CAST(MAX(gap) AS BIGINT) AS longest_gap_hours
            FROM gaps GROUP BY event_type
        )
        SELECT event_type,
               CAST(h1 - h0 + 1 AS BIGINT) AS span_hours,
               present_hours,
               CAST(h1 - h0 + 1 - present_hours AS BIGINT)
                   AS missing_hours,
               {C.sql_permille('h1 - h0 + 1 - present_hours',
                               'h1 - h0 + 1')} AS missing_permille,
               longest_gap_hours
        FROM per
        ORDER BY event_type
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "hourly_gap_census",
    """Hourly feed-completeness census per event type: present/missing
    hour buckets over the type's own span + longest silent stretch.""",
    lambda spark, sf_dir: hourly_gap_census(events(spark, sf_dir)),
    sql_hourly_gap_census)

register(
    "cusum_changepoint_events",
    """CUSUM single-changepoint scan per event type on the hourly count
    series (exact integer, T-scaled deviations).""",
    lambda spark, sf_dir: cusum_changepoint(events(spark, sf_dir)),
    sql_cusum_changepoint)

register(
    "theil_sen_slope_events",
    """Median-of-pairwise-slopes robust trend per event type over the
    hourly count series (exact fixed-point, abs-split DIV).""",
    lambda spark, sf_dir: theil_sen_slope(events(spark, sf_dir)),
    sql_theil_sen_slope)

register(
    "crosscorr_types_events",
    """Lead/lag cross-correlation between 'error' and 'purchase' hourly
    series at lags ±6 (exact integer Pearson, isqrt-factor permille).""",
    lambda spark, sf_dir: crosscorr_types(events(spark, sf_dir)),
    sql_crosscorr_types)

register(
    "seasonal_naive_error_events",
    """Week-over-week seasonal-naive backtest per complete day (the MASE
    denominator for any fancier forecaster).""",
    lambda spark, sf_dir: seasonal_naive_error(events(spark, sf_dir)),
    sql_seasonal_naive_error)

register(
    "autocorr_hours_events",
    """Exact integer lag-k autocorrelation (k=1..48) of the zero-filled
    hourly count series — the seasonality detector.""",
    lambda spark, sf_dir: autocorr_hourly(events(spark, sf_dir)),
    sql_autocorr_hourly)

register(
    "dow_profile_events",
    """Day-of-week × hour load profile with permille shares and peak-hour
    flags; calendar keys from epoch-ms arithmetic (cross-engine safe).""",
    lambda spark, sf_dir: dow_hour_profile(events(spark, sf_dir)),
    sql_dow_hour_profile)
