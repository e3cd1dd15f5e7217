"""Aggregation operators (A1-A6) — all native Catalyst hash aggregations
(partial + final, map-side combine for free).

Semantics notes vs the reference:
- success = parsed records (non-blank, non-oversize, parse_ok); error =
  oversize OR parse failure; blank lines count toward ``lines`` only
  (DefaultFileReader.java:252-304 increment sites),
- minute buckets use CEIL (bucket label = minute END), not Spark's
  floor-based ``window`` (metrics/ReaderMetrics.java:30) — computed as
  ``ceil(ts_ms/60000)*60000`` natively.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def success_expr() -> Column:
    return (~F.col("is_blank")) & (~F.col("is_oversize")) & F.col("parse_ok")


def error_expr() -> Column:
    return F.col("is_oversize") | \
        ((~F.col("is_blank")) & (~F.col("is_oversize")) & (~F.col("parse_ok")))


def success_error_counts(df: DataFrame, group_col: str = "directory") -> DataFrame:
    """A1: per-source success/error counters (AbstractReader.java:32 +
    increment sites)."""
    return df.groupBy(group_col).agg(
        F.sum(success_expr().cast("long")).alias("success"),
        F.sum(error_expr().cast("long")).alias("error"),
        F.count(F.lit(1)).alias("lines"),
    )


def pipeline_metrics(df: DataFrame, group_col: str = "directory") -> DataFrame:
    """ONE-PASS metric surface: a single shuffle on (group_col, sink) yields a
    tiny frame from which both per-sink tallies (A6) and per-source
    success/error counters (A1) are derivable driver-side — the flagship job
    must not recompute the parse stage once per aggregate (at 100 TB the scan
    dominates; N aggregates over one scan, not N scans)."""
    return df.groupBy(group_col, "sink").agg(
        F.count(F.lit(1)).alias("lines"),
        F.sum(success_expr().cast("long")).alias("success"),
        F.sum(error_expr().cast("long")).alias("error"),
    )


def ceil_minute_col(ts_ms: Column) -> Column:
    """ReaderMetrics bucket key (ceil to minute end), exact integer math."""
    return (F.ceil(ts_ms.cast("double") / F.lit(60000.0)) * 60000).cast("long")


def minute_buckets(df: DataFrame, ts_ms_col: str,
                   extra_group: list[str] | None = None) -> DataFrame:
    """A2: per-minute event-time bucketed success counts."""
    g = [ceil_minute_col(F.col(ts_ms_col)).alias("bucket_ms")] + \
        [F.col(c) for c in (extra_group or [])]
    return (df.filter(success_expr() & F.col(ts_ms_col).isNotNull())
              .groupBy(*g).agg(F.count(F.lit(1)).alias("n")))


def per_file_totals(df: DataFrame, file_col: str = "filename") -> DataFrame:
    """A5: per-file line/error totals (DefaultFileReader.java:246-248)."""
    return df.groupBy(file_col).agg(
        F.count(F.lit(1)).alias("lines"),
        F.sum(error_expr().cast("long")).alias("error"),
    )


def conversation_stats(df: DataFrame) -> DataFrame:
    """Windowed per-conversation aggregates (SURVEY §2.8): turn counts, span,
    per-role mix. Pure hash agg — one shuffle on conv_id."""
    return df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.max("turn_idx").alias("max_turn_idx"),
        F.min("ts").alias("started_at"),
        F.max("ts").alias("ended_at"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).alias("user_turns"),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).alias("assistant_turns"),
    )


def tool_usage(df: DataFrame) -> DataFrame:
    """Per-tool aggregate over enriched rows."""
    return (df.filter(F.col("tool").isNotNull())
            .groupBy("tool").agg(F.count(F.lit(1)).alias("n_turns"),
                                 F.countDistinct("conv_id").alias("n_convs")))


def rollup_time_counts(df: DataFrame, ts_ms: Column) -> DataFrame:
    """Hierarchical minute→hour→day→grand-total rollup in ONE pass
    (GROUP BY ROLLUP): the hypertable-style pre-aggregation a metrics store
    derives from raw events. Catalyst's Expand + partial hash-agg computes
    all four levels with a single shuffle — at 100 TB this replaces three
    separate groupBy jobs re-scanning the fact table.

    Subtotal rows carry -1 in the collapsed columns (epoch-ms values are
    always positive, so -1 is collision-free and hash-stable across engines,
    avoiding any reliance on engines agreeing on grouping_id bit order)."""
    day = (ts_ms - (ts_ms % 86_400_000)).cast("long").alias("day_ms")
    hour = (ts_ms - (ts_ms % 3_600_000)).cast("long").alias("hour_ms")
    minute = (ts_ms - (ts_ms % 60_000)).cast("long").alias("minute_ms")
    rolled = df.select(day, hour, minute).rollup(
        "day_ms", "hour_ms", "minute_ms").agg(F.count(F.lit(1)).alias("n"))
    return rolled.select(
        F.coalesce("day_ms", F.lit(-1)).alias("day_ms"),
        F.coalesce("hour_ms", F.lit(-1)).alias("hour_ms"),
        F.coalesce("minute_ms", F.lit(-1)).alias("minute_ms"),
        "n")


def json_schema_profile(df: DataFrame, group_col: str = "event_type",
                        json_col: str = "props") -> DataFrame:
    """Dynamic-schema drift profile: per group, how often each top-level
    JSON key occurs in the payload, as count + permille of the group's rows.

    The reference's records are schema-dynamic (parser output keys vary per
    line — grok/api/Match.java:142-207, §1.1 of SURVEY.md); a production
    pipeline watches the key distribution per source to catch upstream
    format drift. Invalid / non-object payloads contribute to ``n_rows``
    but emit no keys (the F3 stance: never throw per-row). One explode +
    two hash aggregates on the group key; the per-group totals frame is
    tiny and broadcast back, so the corpus shuffles once on
    (group, key) partials at any scale."""
    from log_collector_spark.textops import common as C

    keys = F.coalesce(F.json_object_keys(F.col(json_col)),
                      F.array().cast("array<string>"))
    ex = df.select(F.col(group_col), F.explode(keys).alias("key"))
    per = ex.groupBy(group_col, "key").agg(F.count(F.lit(1)).alias("n"))
    totals = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_rows"))
    return (per.join(F.broadcast(totals), group_col)
               .select(group_col, "key", "n", "n_rows",
                       C.permille(F.col("n"), F.col("n_rows"))
                        .alias("permille")))


def histogram_percentiles(df: DataFrame, group_col: str, value: Column,
                          quantiles: dict[str, float],
                          bin_width: int = 100) -> DataFrame:
    """Mergeable histogram-sketch percentiles — the lossy companion of
    :func:`histogram_exact_percentiles`.

    The value is bucketed into fixed ``bin_width`` bins; the q-percentile
    estimate is the LOWER BOUND of the bin holding the rank-selected element
    (same rank spec as the exact op: 0-based index floor(q*(n-1))), so the
    estimate is exact to within bin_width and NEVER exceeds the true value.
    Scale shape: per-partition (group, bin) counts partially aggregate
    map-side and merge by addition — one tiny shuffle of bin partials and a
    per-group window over ~#bins rows, where the exact op must shuffle and
    sort every value. Integer in/out, so the DuckDB oracle hashes
    identically."""
    binned = df.select(
        F.col(group_col),
        (F.floor(value.cast("long") / bin_width) * bin_width)
         .cast("long").alias("bin"))
    counts = binned.groupBy(group_col, "bin").agg(
        F.count(F.lit(1)).alias("c"))
    w_cum = (Window.partitionBy(group_col).orderBy("bin")
                   .rowsBetween(Window.unboundedPreceding, 0))
    cum = (counts.withColumn("cum", F.sum("c").over(w_cum))
                 .withColumn("n", F.sum("c").over(
                     Window.partitionBy(group_col))))
    aggs = [
        F.min(F.when(
            F.col("cum") >= F.floor(F.lit(q) * (F.col("n") - 1)) + 1,
            F.col("bin"))).cast("long").alias(name)
        for name, q in quantiles.items()
    ]
    return cum.groupBy(group_col).agg(
        F.max("n").cast("long").alias("n"), *aggs)


def locf_backfill(df: DataFrame, group_col: str, order_cols: list[str],
                  value: Column, out_col: str = "filled_v") -> DataFrame:
    """Last-observation-carried-forward imputation: null values take the
    most recent non-null value of the same group under the given total
    order (the gap-fill every metrics/telemetry store offers; reference has
    no analog — its records never carry nulls, F3 drops the whole row).

    ``last(ignorenulls) over rowsBetween(unboundedPreceding, current)`` is
    a running aggregate, not a rank: Spark evaluates it in one pass over
    each sorted group, so the cost is exactly one shuffle on ``group_col``
    plus a per-group sort — the same shape as any sessionization. Rows
    before a group's first observation stay null (no lookahead)."""
    w = (Window.partitionBy(group_col).orderBy(*order_cols)
               .rowsBetween(Window.unboundedPreceding, 0))
    return df.withColumn(
        out_col, F.last(value, ignorenulls=True).over(w).cast("long"))


def histogram_exact_percentiles(df: DataFrame, group_col: str,
                                value: Column,
                                quantiles: dict[str, float]) -> DataFrame:
    """EXACT per-group percentiles by rank selection, integer in/out, with
    NO row-level sort — the 100-TB path for integer-valued metrics.

    Spec (sidestepping engine-specific quantile interpolation): the
    q-percentile of a group of n values is the element at 0-based index
    floor(q*(n-1)) of the sorted values. The DuckDB oracle of
    ``percentile_latency`` states it as a sort-based ROW_NUMBER selection.

    The trick (same as behavior.activity_gini): aggregate to the
    (group, value) histogram first — one map-side-combined shuffle over
    near-distinct pairs — then run the cumulative window over THAT frame,
    whose size is bounded by the value domain per group (e.g. 49,002
    distinct cent values here), not the row count. The q-percentile is the
    smallest value whose cumulative count reaches rank floor(q*(n-1))+1."""
    hist = (df.select(F.col(group_col), value.cast("long").alias("v"))
            .groupBy(group_col, "v")
            .agg(F.count(F.lit(1)).cast("long").alias("m")))
    wv = Window.partitionBy(group_col).orderBy("v")
    wg = Window.partitionBy(group_col)
    cum = (hist.withColumn("cum", F.sum("m").over(wv).cast("long"))
               .withColumn("n", F.sum("m").over(wg).cast("long")))
    aggs = [
        F.min(F.when(
            F.col("cum") >= (F.floor(F.lit(q) * (F.col("n") - 1)) + 1),
            F.col("v"))).alias(name)
        for name, q in quantiles.items()
    ]
    return cum.groupBy(group_col).agg(
        F.max("n").cast("long").alias("n"), *aggs)


# ---------------------------------------------------------------------------
# Round-4 continuation: GROUPING SETS and PIVOT breadth over the same
# Expand-based single-pass machinery as rollup_time_counts.
# ---------------------------------------------------------------------------

def grouping_sets_counts(df: DataFrame, type_col: Column,
                         day_ms: Column) -> DataFrame:
    """Asymmetric GROUPING SETS — ((type, day), (type), ()) — in ONE pass:
    the per-type-per-day operational grid plus the per-type marginal plus
    the grand total, WITHOUT the per-day marginal a cube/rollup would force.
    Catalyst plans a single Expand (3 replicas) + one hash-agg shuffle; at
    100 TB that is one fact scan instead of three groupBy jobs, and the
    Expand factor is exactly the number of sets you asked for (a d-column
    cube would be 2^d).

    Collapsed levels are sentinel-coded ('(all)' / -1 — both outside the
    value domains) so the output is hash-stable across engines without
    relying on grouping_id bit order."""
    keyed = df.select(type_col.alias("event_type"),
                      day_ms.cast("long").alias("day_ms"))
    gs = (keyed.groupingSets([["event_type", "day_ms"], ["event_type"], []],
                             "event_type", "day_ms")
               .agg(F.count(F.lit(1)).alias("n")))
    return gs.select(
        F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
        F.coalesce("day_ms", F.lit(-1)).cast("long").alias("day_ms"),
        "n")


def sql_grouping_sets_counts(table: str = "events") -> str:
    return f"""
        WITH keyed AS (
            SELECT event_type,
                   CAST(epoch_ms(date_trunc('day', ts)) AS BIGINT) AS day_ms
            FROM {table}
        )
        SELECT COALESCE(event_type, '(all)') AS event_type,
               COALESCE(day_ms, -1) AS day_ms,
               COUNT(*) AS n
        FROM keyed
        GROUP BY GROUPING SETS ((event_type, day_ms), (event_type), ())
    """


def pivot_counts(df: DataFrame, day_ms: Column, type_col: Column,
                 values: list[str]) -> DataFrame:
    """Long→wide day×type count matrix via native pivot.

    The pivot value list is EXPLICIT (the routing/event taxonomy is a
    design-time constant here, as in the reference's sink registry) — with
    an explicit list Spark skips the extra distinct-values collect job it
    otherwise runs before planning, which at 10^12 rows is a full fact scan
    saved. The plan is then a single hash-agg on day with one
    count(CASE WHEN type=v) partial per pivot column — identical to the
    conditional-aggregation SQL the oracle runs, and the wide row never
    shuffles more than |values| longs per day."""
    keyed = df.select(day_ms.cast("long").alias("day_ms"),
                      type_col.alias("event_type"))
    wide = (keyed.groupBy("day_ms")
                 .pivot("event_type", values)
                 .agg(F.count(F.lit(1))))
    # pivot leaves NULL where a (day, type) cell has no rows — a count is 0
    return wide.select(
        "day_ms",
        *[F.coalesce(F.col(v), F.lit(0)).cast("long").alias(f"n_{v}")
          for v in values])


def sql_pivot_counts(values: list[str], table: str = "events") -> str:
    cells = ",\n               ".join(
        f"CAST(COUNT(CASE WHEN event_type = '{v}' THEN 1 END) AS BIGINT)"
        f" AS n_{v}" for v in values)
    return f"""
        SELECT CAST(epoch_ms(date_trunc('day', ts)) AS BIGINT) AS day_ms,
               {cells}
        FROM {table}
        GROUP BY 1
    """


EWMA_TERMS = 16  # 2^-16 tail mass < 2e-5 of the series scale — negligible


def ewma_hour_counts(df: DataFrame, type_col: Column, ts_ms: Column,
                     terms: int = EWMA_TERMS) -> DataFrame:
    """Integer EWMA (alpha = 1/2) over the per-type hourly count series:
    ewma_t = sum_{i=0..terms-1} n_{t-i} // 2^{i+1}.

    The recursive definition (ewma = n/2 + ewma_prev/2) needs an unbounded
    running state no SQL window expresses without recursion; the truncated
    geometric form is its exact algebraic unrolling with the tail beyond
    ``terms`` dropped — bias < max(n)/2^terms, below 1 count for any
    realistic hourly volume. Each term is an integer floor-div BEFORE the
    sum (per-row div, the repo's cross-engine floor convention), so both
    engines produce identical BIGINTs.

    One shuffle: the hourly pre-aggregation. The lag window then runs
    per-type over hours — thousands of rows per type per YEAR, so the
    window partition is trivially small at any fact scale; this is the
    standard two-stage shape (aggregate to the grain FIRST, window over the
    grain) that keeps window partitions bounded at 100 TB."""
    hour = (ts_ms - (ts_ms % 3_600_000)).cast("long")
    hourly = (df.select(type_col.alias("t"), hour.alias("hour_ms"))
                .groupBy("t", "hour_ms")
                .agg(F.count(F.lit(1)).alias("n")))
    ewma = None
    for i in range(terms):
        term = F.expr(f"coalesce(lag(n, {i}) over "
                      f"(partition by t order by hour_ms), 0) "
                      f"div {1 << (i + 1)}")
        ewma = term if ewma is None else ewma + term
    return (hourly.select(F.col("t").alias("event_type"), "hour_ms", "n",
                          ewma.cast("long").alias("ewma16")))


def sql_ewma_hour_counts(table: str = "events",
                         terms: int = EWMA_TERMS) -> str:
    lags = " + ".join(
        f"(COALESCE(LAG(n, {i}) OVER (PARTITION BY t ORDER BY hour_ms), 0)"
        f" // {1 << (i + 1)})" for i in range(terms))
    return f"""
        WITH hourly AS (
            SELECT event_type AS t,
                   CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT)
                       AS hour_ms,
                   COUNT(*) AS n
            FROM {table}
            GROUP BY 1, 2
        )
        SELECT t AS event_type, hour_ms, CAST(n AS BIGINT) AS n,
               CAST({lags} AS BIGINT) AS ewma16
        FROM hourly
    """


def trend_slope_counts(df: DataFrame, type_col: Column,
                       ts_ms: Column) -> DataFrame:
    """Per-type least-squares trend over the hourly count series, permille
    per hour: slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) with x = hours since
    the type's first bucket. Everything integer: sums over BIGINTs, one
    final permille floor-div — no float in the plan, so both engines agree
    bit-for-bit (the repo's oracle convention).

    Two-stage shape again: ONE fact shuffle to the hourly grain, then a
    per-type agg over the grain (thousands of rows per type-year). The
    closed-form avoids any iterative fit — this is the drift detector you
    run per metric per day at 100 TB, so it must be one aggregation, not a
    regression library call."""
    hour = (ts_ms - (ts_ms % 3_600_000)).cast("long")
    hourly = (df.select(type_col.alias("t"), hour.alias("hour_ms"))
                .groupBy("t", "hour_ms")
                .agg(F.count(F.lit(1)).alias("y")))
    x = F.expr("(hour_ms - min(hour_ms) over (partition by t)) div 3600000")
    based = hourly.select("t", x.alias("x"), F.col("y").cast("long"))
    agg = (based.groupBy("t")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("x").alias("sx"),
                     F.sum("y").alias("sy"),
                     F.sum(F.col("x") * F.col("y")).alias("sxy"),
                     F.sum(F.col("x") * F.col("x")).alias("sxx")))
    num = agg["n"] * F.col("sxy") - F.col("sx") * F.col("sy")
    den = agg["n"] * F.col("sxx") - F.col("sx") * F.col("sx")
    # permille floor-div on possibly NEGATIVE numerators: Spark `div`
    # truncates toward zero while DuckDB `//` floors, so shift both into
    # non-negative space is wrong too (changes magnitude). Use explicit
    # floor semantics both sides: floor(1000*num / den) via DOUBLE floor is
    # out (float); instead emit num/den separately plus the truncated
    # quotient computed identically: q = CAST(1000*num AS BIGINT) DIV den
    # after forcing den > 0 (it is: variance of distinct x's) and noting
    # Spark div truncates toward zero. To stay engine-identical on negative
    # slopes we publish (slope_num, slope_den) exactly and the TRUNCATED
    # quotient tq = 1000*num div den computed as sign(num)*(1000*|num| div den).
    return (agg.select(
                F.col("t").alias("event_type"),
                F.col("n").cast("long").alias("n_hours"),
                num.cast("long").alias("slope_num"),
                den.cast("long").alias("slope_den"))
               .withColumn(
                "slope_permille",
                (F.when(F.col("slope_num") >= 0,
                        F.expr("(1000 * slope_num) div slope_den"))
                  .otherwise(-F.expr("(1000 * (-slope_num)) div slope_den")))
                .cast("long"))
               .orderBy("event_type"))


def sql_trend_slope_counts(table: str = "events") -> str:
    return f"""
        WITH hourly AS (
            SELECT event_type AS t,
                   CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT)
                       AS hour_ms,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM {table}
            GROUP BY 1, 2
        ), based AS (
            SELECT t,
                   (hour_ms - MIN(hour_ms) OVER (PARTITION BY t))
                       // 3600000 AS x,
                   y
            FROM hourly
        ), agg AS (
            SELECT t, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * y) AS sxy, SUM(x * x) AS sxx
            FROM based GROUP BY t
        )
        SELECT t AS event_type,
               CAST(n AS BIGINT) AS n_hours,
               CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
               CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
               CAST(CASE WHEN n * sxy - sx * sy >= 0
                         THEN (1000 * (n * sxy - sx * sy))
                              // (n * sxx - sx * sx)
                         ELSE -((1000 * (sx * sy - n * sxy))
                              // (n * sxx - sx * sx))
                    END AS BIGINT) AS slope_permille
        FROM agg
        ORDER BY event_type
    """


ROLL_MEDIAN_W = 24  # trailing window width (hours)


def rolling_median_counts(df: DataFrame, type_col: Column, ts_ms: Column,
                          width: int = ROLL_MEDIAN_W) -> DataFrame:
    """Exact trailing 24-point median of the hourly count series per type —
    the robust baseline for rate-anomaly flags (median shrugs off the
    spike that drags a trailing MEAN into masking the next spike).

    The window collects ``width`` counts into an array per row
    (collect_list over a ROWS frame), sorts the 24-element array in-row,
    and takes the lower median — O(w log w) per row with w fixed at 24,
    pure Catalyst. Rows before the window fills are dropped (full-window
    contract, row_number >= width) so the output never mixes regimes.
    The window partition is the HOURLY grain (two-stage shape): thousands
    of rows per type-year regardless of fact scale."""
    hour = (ts_ms - (ts_ms % 3_600_000)).cast("long")
    hourly = (df.select(type_col.alias("t"), hour.alias("hour_ms"))
                .groupBy("t", "hour_ms")
                .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("t").orderBy("hour_ms")
    wf = w.rowsBetween(-(width - 1), 0)
    out = (hourly
           .withColumn("rn", F.row_number().over(w))
           .withColumn("arr", F.collect_list("n").over(wf))
           .filter(F.col("rn") >= width)
           .withColumn("med",
                       F.element_at(F.array_sort("arr"), width // 2)))
    return out.select(F.col("t").alias("event_type"), "hour_ms",
                      F.col("n").cast("long").alias("n"),
                      F.col("med").cast("long").alias("med24"))


def sql_rolling_median_counts(table: str = "events",
                              width: int = ROLL_MEDIAN_W) -> str:
    return f"""
        WITH hourly AS (
            SELECT event_type AS t,
                   CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT)
                       AS hour_ms,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM {table}
            GROUP BY 1, 2
        ), windowed AS (
            SELECT t, hour_ms, n,
                   ROW_NUMBER() OVER (PARTITION BY t ORDER BY hour_ms)
                       AS rn,
                   list(n) OVER (PARTITION BY t ORDER BY hour_ms
                                 ROWS BETWEEN {width - 1} PRECEDING
                                          AND CURRENT ROW) AS arr
            FROM hourly
        )
        SELECT t AS event_type, hour_ms, n,
               CAST(list_sort(arr)[{width // 2}] AS BIGINT) AS med24
        FROM windowed
        WHERE rn >= {width}
    """


def skew_report(df: DataFrame, key: Column) -> DataFrame:
    """Join-key skew profile: per-key frequencies bucketed by power of two
    (bucket = bitlen(count)), plus each bucket's share of all rows in
    permille — the report that decides whether a key needs salting /
    AQE skew-join before you pay for a 10^12-row shuffle.

    Cost: ONE partial-agg shuffle on the key (the same shuffle the join
    would do — run this on a sample in practice), then a ~60-row histogram
    agg. The permille share uses the total via a broadcast 1-row cross
    join, not a second scan."""
    from log_collector_spark.textops import common as C
    per_key = (df.select(key.alias("k"))
                 .groupBy("k").agg(F.count(F.lit(1)).alias("cnt")))
    bucket = F.length(F.bin(F.col("cnt"))).cast("long")
    hist = (per_key.groupBy(bucket.alias("cnt_bucket"))
                   .agg(F.count(F.lit(1)).cast("long").alias("n_keys"),
                        F.sum("cnt").cast("long").alias("n_rows"),
                        F.max("cnt").cast("long").alias("max_cnt")))
    total = per_key.agg(F.sum("cnt").cast("long").alias("_tot"))
    return (hist.crossJoin(F.broadcast(total))
                .withColumn("rows_permille",
                            C.permille(F.col("n_rows"), F.col("_tot")))
                .drop("_tot")
                .orderBy("cnt_bucket"))


def sql_skew_report(table: str = "events", key: str = "user_id") -> str:
    from log_collector_spark.textops import common as C
    return f"""
        WITH per_key AS (
            SELECT {key} AS k, COUNT(*) AS cnt FROM {table} GROUP BY 1
        ), hist AS (
            SELECT CAST(length(bin(cnt)) AS BIGINT) AS cnt_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(cnt) AS BIGINT) AS n_rows,
                   CAST(MAX(cnt) AS BIGINT) AS max_cnt
            FROM per_key GROUP BY 1
        )
        SELECT cnt_bucket, n_keys, n_rows, max_cnt,
               {C.sql_permille('n_rows',
                               '(SELECT SUM(cnt) FROM per_key)')}
                   AS rows_permille
        FROM hist
        ORDER BY cnt_bucket
    """


def join_size_forecast(left: DataFrame, lkey: Column,
                       right: DataFrame, rkey: Column) -> DataFrame:
    """EXACT inner-equi-join output-size forecast, computed WITHOUT running
    the join: per-key counts on both sides, then sum/max of the per-key
    products. The pre-flight check before a 10^12-row shuffle — join_rows
    prices the output, max_key_permille says whether one hot key owns the
    join (salt it / AQE-skew it) — and it costs two count-frame shuffles
    (the same key partitioning the join itself would need, so nothing is
    wasted) joined at |distinct keys| size, never the fact×fact output.

    Returns ONE row: n_left, n_right, n_matching_keys, join_rows,
    max_key_rows, max_key_permille.

    Overflow note: a 10^10-row hot key on both sides yields a 10^20-row
    per-key product — past int64, and under ANSI mode a bigint multiply
    would fail the forecast exactly when it matters most. The product
    and its sum therefore compute in DECIMAL(38,0) (exact integers) and
    only the final row casts to BIGINT; if a forecast ever exceeds
    9.2e18 output rows, widen the output type — the answer itself is the
    alarm at that point."""
    from log_collector_spark.textops import common as C

    la = (left.select(lkey.alias("k"))
              .groupBy("k").agg(F.count(F.lit(1)).alias("ca")))
    rb = (right.select(rkey.alias("k"))
               .groupBy("k").agg(F.count(F.lit(1)).alias("cb")))
    j = la.join(rb, "k").select(
        (F.col("ca").cast("decimal(19,0)")
         * F.col("cb").cast("decimal(19,0)")).cast("decimal(38,0)")
        .alias("prod"))
    core = j.agg(F.count(F.lit(1)).cast("long").alias("n_matching_keys"),
                 F.sum("prod").cast("long").alias("join_rows"),
                 F.max("prod").cast("long").alias("max_key_rows"))
    nl = la.agg(F.sum("ca").cast("long").alias("n_left"))
    nr = rb.agg(F.sum("cb").cast("long").alias("n_right"))
    return (core.crossJoin(F.broadcast(nl)).crossJoin(F.broadcast(nr))
            .withColumn("max_key_permille",
                        C.permille(F.col("max_key_rows"),
                                   F.col("join_rows")))
            .select("n_left", "n_right", "n_matching_keys", "join_rows",
                    "max_key_rows", "max_key_permille"))


def sql_join_size_forecast(ltable: str, lkey: str,
                           rtable: str, rkey: str) -> str:
    from log_collector_spark.textops import common as C
    return f"""
        WITH la AS (
            SELECT {lkey} AS k, COUNT(*) AS ca FROM {ltable} GROUP BY 1
        ), rb AS (
            SELECT {rkey} AS k, COUNT(*) AS cb FROM {rtable} GROUP BY 1
        ), j AS (
            SELECT la.ca * rb.cb AS prod FROM la JOIN rb USING (k)
        )
        SELECT (SELECT CAST(SUM(ca) AS BIGINT) FROM la) AS n_left,
               (SELECT CAST(SUM(cb) AS BIGINT) FROM rb) AS n_right,
               CAST(COUNT(*) AS BIGINT) AS n_matching_keys,
               CAST(SUM(prod) AS BIGINT) AS join_rows,
               CAST(MAX(prod) AS BIGINT) AS max_key_rows,
               {C.sql_permille('MAX(prod)', 'SUM(prod)')}
                   AS max_key_permille
        FROM j
    """


_BM_BITS = 63  # day-presence bits per mask word (int64, sign bit unused)


def day_bitmask_overlap(events: DataFrame, type_col: str = "event_type",
                        ts_col: str = "ts") -> DataFrame:
    """Bitmap-index set algebra: per event type, pack day-presence into
    63-bit words (one word per 63-day epoch — scale-correct for any time
    span, roaring-bitmap-lite), then answer "on how many days were BOTH
    types active" for every type pair with `bit_count(a & b)` — set
    intersection as a single CPU instruction instead of a day-level join.

    Shapes: one distinct (type, day) pass, one `bit_or` agg to words
    (|types| x |epochs| rows — metadata scale), an epoch-equi self-join of
    the word table (type_a < type_b), and a broadcast join back for the
    per-type totals. The classic bitmap-index trade: the fact is scanned
    once, every subsequent set question is word-wise bit math."""
    from log_collector_spark.textops import common as C

    day = F.expr(f"unix_micros(cast({ts_col} as timestamp))"
                 f" div 86400000000")
    td = (events.select(F.col(type_col).alias("t"),
                        day.cast("long").alias("d")).distinct())
    word = F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                  f"CAST(d % {_BM_BITS} AS INT))")
    masks = (td.select("t", F.expr(f"d div {_BM_BITS}").alias("epoch"),
                       word.alias("w"))
             .groupBy("t", "epoch")
             .agg(F.bit_or("w").alias("mask")))
    totals = (td.groupBy(F.col("t").alias("tt"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_days")))
    a = masks.select(F.col("t").alias("type_a"),
                     F.col("epoch").alias("ea"), F.col("mask").alias("ma"))
    b = masks.select(F.col("t").alias("type_b"),
                     F.col("epoch").alias("eb"), F.col("mask").alias("mb"))
    co = (a.join(b, (F.col("ea") == F.col("eb"))
                 & (F.col("type_a") < F.col("type_b")))
          .groupBy("type_a", "type_b")
          .agg(F.sum(F.bit_count(F.expr("ma & mb"))).cast("long")
                .alias("co_days")))
    out = (co.join(F.broadcast(totals), F.col("type_a") == F.col("tt"))
           .withColumnRenamed("n_days", "days_a").drop("tt")
           .join(F.broadcast(totals), F.col("type_b") == F.col("tt"))
           .withColumnRenamed("n_days", "days_b").drop("tt"))
    return (out.withColumn(
                "jaccard_permille",
                C.permille(F.col("co_days"),
                           F.col("days_a") + F.col("days_b")
                           - F.col("co_days")))
            .select("type_a", "type_b", "days_a", "days_b", "co_days",
                    "jaccard_permille")
            .orderBy("type_a", "type_b"))


def sql_day_bitmask_overlap(table: str = "events",
                            type_col: str = "event_type",
                            ts_col: str = "ts") -> str:
    from log_collector_spark.textops import common as C
    return f"""
        WITH td AS (
            SELECT DISTINCT {type_col} AS t,
                   CAST(epoch_us({ts_col}) // 86400000000 AS BIGINT) AS d
            FROM {table}
        ), masks AS (
            SELECT t, d // {_BM_BITS} AS epoch,
                   bit_or(CAST(1 AS BIGINT) << CAST(d % {_BM_BITS} AS INT))
                       AS mask
            FROM td GROUP BY 1, 2
        ), totals AS (
            SELECT t AS tt, CAST(COUNT(*) AS BIGINT) AS n_days
            FROM td GROUP BY 1
        ), co AS (
            SELECT a.t AS type_a, b.t AS type_b,
                   CAST(SUM(bit_count(a.mask & b.mask)) AS BIGINT)
                       AS co_days
            FROM masks a JOIN masks b
              ON a.epoch = b.epoch AND a.t < b.t
            GROUP BY 1, 2
        )
        SELECT co.type_a, co.type_b,
               ta.n_days AS days_a, tb.n_days AS days_b, co.co_days,
               {C.sql_permille('co.co_days',
                               'ta.n_days + tb.n_days - co.co_days')}
                   AS jaccard_permille
        FROM co
        JOIN totals ta ON ta.tt = co.type_a
        JOIN totals tb ON tb.tt = co.type_b
        ORDER BY co.type_a, co.type_b
    """


# ---------------------------------------------------------------------------
# Incremental view maintenance: merge a committed aggregate with a new batch
# ---------------------------------------------------------------------------


def ivm_merge_counts(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Incremental view maintenance for the per-(event_type, minute)
    count/sum rollup: the MERGE path — committed aggregate table ⊎ new
    batch's partial aggregate, re-aggregated on the group key — must equal
    recomputing the view from all raw rows. COUNT and SUM are
    self-mergeable (commutative monoids), which is exactly why a 100-TB
    pipeline stores the rollup and only ever aggregates the day's delta.

    Here the "committed" side is even user_ids and the "delta" side odd
    user_ids, so almost every output minute receives partials from BOTH
    sides — the merge path is genuinely exercised, not a disjoint union.
    The DuckDB oracle recomputes the view from scratch; equality IS the
    IVM correctness claim.

    Returns (event_type, minute, n, sum_cents) ORDER BY event_type,
    minute. Money as integer cents (`ROUND(value·100)` both engines —
    the repo's BIGINT-money invariant).

    Plan: two map-side-combined hash aggs (in production the committed
    side is a stored k-row table — zero history rescan) + one re-agg of
    two already-aggregated frames; the final shuffle carries group keys
    only."""
    ms = F.expr(f"unix_micros(cast({ts_col} as timestamp)) div 1000")
    base = events.select(
        F.col("event_type"),
        (ms / F.lit(60000)).cast("long").alias("minute"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
        (F.col("user_id") % 2 == 0).alias("committed"))

    def _agg(side):
        return (side.groupBy("event_type", "minute")
                    .agg(F.count(F.lit(1)).cast("long").alias("n"),
                         F.sum("cents").cast("long").alias("sum_cents")))

    committed = _agg(base.filter(F.col("committed")))
    delta = _agg(base.filter(~F.col("committed")))
    return (committed.unionByName(delta)
            .groupBy("event_type", "minute")
            .agg(F.sum("n").cast("long").alias("n"),
                 F.sum("sum_cents").cast("long").alias("sum_cents"))
            .orderBy("event_type", "minute"))


def sql_ivm_merge_counts(table: str = "events") -> str:
    """Oracle: the view recomputed from scratch — no merge step."""
    return f"""
        SELECT event_type,
               CAST(epoch_ms(ts) // 60000 AS BIGINT) AS minute,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM {table}
        GROUP BY 1, 2 ORDER BY event_type, minute
    """
