"""Driver queries over the production-path operators and the events table.

Declarations for queries whose operator lives in ``operators.parse``,
``enrich``, ``route`` or ``aggregate``, plus the plain Spark SQL feature
plans (window functions, scan pruning, multi-way broadcast joins) that have
no operator module of their own. They live here rather than beside their
operators so that importing the production path (``plans.pipeline``,
``plans.checkpoint``) does no registry work.

Conventions for oracle-checked queries: outputs use only BIGINT / VARCHAR /
BOOLEAN / DECIMAL columns (no raw doubles — float last-ulp differences across
engines would break value hashing); timestamps are returned as epoch millis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from log_collector_spark.grok.compiler import GrokCompiler
from log_collector_spark.grok.oracle import IpRangeLookup
from log_collector_spark.operators import aggregate as agg_ops
from log_collector_spark.operators import enrich as enrich_ops
from log_collector_spark.operators import parse as parse_ops
from log_collector_spark.operators import route as route_ops
from log_collector_spark.plans import pipeline as pl
from log_collector_spark.registry import (MAX_SIZE, docs, events, parse_events,
                                          props_with_drift, register,
                                          routed_slim, tbl, tx_glob, tx_view)
from log_collector_spark.textops import common as C

IP_RANGE_ROWS = [
    # contiguous /16-ish ranges inside 10.0.0.0/8 (16 pipe-separated columns)
    "10.0.0.0|10.0.63.255|ZoneA|P1|C1|d|op|0|0|tz|tz|adm|1|A|AS|area1",
    "10.0.64.0|10.0.127.255|ZoneB|P2|C2|d|op|0|0|tz|tz|adm|2|B|EU|area2",
    "10.0.128.0|10.0.191.255|ZoneC|P3|C3|d|op|0|0|tz|tz|adm|3|C|NA|area3",
    "10.0.192.0|10.0.255.255|ZoneD|P4|C4|d|op|0|0|tz|tz|adm|4|D|SA|area4",
]

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# sink decision of the synthesized events lines (registry.parse_events)
_SINK_CASE = """
        CASE WHEN event_id % 211 = 0 THEN 'errors'
             WHEN event_id % 97 = 0 THEN NULL
             WHEN event_id % 50 = 0 THEN 'failures'
             ELSE 'events_etl' END
    """

# sink decision of a raw transcripts line (see registry.tx_glob)
_TX_SINK_CASE = f"""
        CASE WHEN strlen(text) >= 8192 THEN 'errors'
             WHEN {parse_ops.SQL_BLANK} THEN NULL
             WHEN text LIKE 'corrupt#%' THEN 'failures'
             ELSE 'transcripts_etl' END
    """


register(
    "bloom_fpr_curve_events",
    """Bloom sizing curve: measured vs theoretical FPR per bits/key
    budget, members = even keys, probes = odd keys (disjoint).""",
    lambda spark, sf_dir: enrich_ops.bloom_fpr_curve(events(spark, sf_dir)),
    enrich_ops.sql_bloom_fpr_curve)

register(
    "ivm_merge_events",
    """Incremental view maintenance: committed-aggregate ⊎ delta-batch
    partials re-aggregated == the view recomputed from raw rows (the
    oracle recomputes from scratch; equality is the IVM claim).""",
    lambda spark, sf_dir: agg_ops.ivm_merge_counts(events(spark, sf_dir)),
    agg_ops.sql_ivm_merge_counts)


def _session_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = _sessionize_events(spark, sf_dir)
    bucket = F.length(F.bin(F.col("n_events"))).cast("long")
    per = (sess.groupBy(bucket.alias("depth_bucket"))
           .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"),
                F.sum("n_events").cast("long").alias("n_events")))
    tot = per.agg(F.sum("n_events").alias("t"))
    return (per.crossJoin(F.broadcast(tot))
            .select("depth_bucket", "n_sessions", "n_events",
                    C.permille(F.col("n_events"), F.col("t"))
                    .alias("event_share_permille"))
            .orderBy("depth_bucket"))


register(
    "session_depth_histogram",
    """Power-of-2 histogram of session depths (events per 30-min-gap
    session): the engagement-shape distribution — how much of the stream
    sits in drive-by singleton sessions vs deep sessions. Reuses the
    sessionize frame; the histogram rollup runs on |sessions| rows.""",
    _session_depth_histogram,
    lambda: """
            WITH base AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch_us(date_trunc('second', ts))
                                    - epoch_us(date_trunc('second',
                                               lag(ts) OVER w))
                                    > 1800000000
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
                SELECT *, SUM(new_sess) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS session_id
                FROM base
            ), sess AS (
                SELECT user_id, session_id, COUNT(*) AS n_events
                FROM s GROUP BY 1, 2
            ), per AS (
                SELECT CAST(length(bin(n_events)) AS BIGINT)
                           AS depth_bucket,
                       CAST(COUNT(*) AS BIGINT) AS n_sessions,
                       CAST(SUM(n_events) AS BIGINT) AS n_events
                FROM sess GROUP BY 1
            ), tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS t FROM per)
            SELECT depth_bucket, n_sessions, n_events,
                   CAST(n_events * 1000 // t AS BIGINT)
                       AS event_share_permille
            FROM per CROSS JOIN tot
            ORDER BY depth_bucket
        """)


def _grok_parse_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = parse_events(spark, sf_dir, faults=False)
    return parsed.select(
        F.col("event_id"),
        F.col("logtype"),
        F.col("logtime"),
        F.col("payload"),
    )


register(
    "grok_parse_events",
    "P1-P6: vectorized grok parse (typed captures incl. date→epoch-ms).",
    _grok_parse_events,
    lambda: f"""
            SELECT event_id,
                   event_type AS logtype,
                   CAST(epoch_ms(date_trunc('second', ts)) AS BIGINT) AS logtime,
                   '{{"u":' || CAST(user_id AS VARCHAR) || '}}' AS payload
            FROM events
        """)


def _route_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = parse_events(spark, sf_dir, faults=True)
    routed = route_ops.route(parsed, constant_source="events")
    return route_ops.sink_tallies(routed)


register(
    "route_events",
    "W5/W4/F2/F3 + A6: sink decision table + per-sink tallies.",
    _route_events,
    lambda: f"""
            SELECT sink, COUNT(*) AS n FROM (
                SELECT {_SINK_CASE} AS sink FROM events
            ) WHERE sink IS NOT NULL GROUP BY sink
        """)


def _success_error_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = parse_events(spark, sf_dir, faults=True)
    return agg_ops.success_error_counts(parsed, "event_type")


register(
    "success_error_events",
    "A1: per-source success/error counters (source = event_type).",
    _success_error_events,
    lambda: """
            SELECT event_type,
                   CAST(SUM(CASE WHEN event_id % 211 <> 0 AND event_id % 97 <> 0
                                 AND event_id % 50 <> 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS success,
                   CAST(SUM(CASE WHEN event_id % 211 = 0
                                 OR (event_id % 97 <> 0 AND event_id % 50 = 0)
                            THEN 1 ELSE 0 END) AS BIGINT) AS error,
                   COUNT(*) AS lines
            FROM events GROUP BY event_type
        """)


def _minute_buckets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = parse_events(spark, sf_dir, faults=False)
    return agg_ops.minute_buckets(parsed, "logtime")


register(
    "minute_buckets_events",
    "A2: ceil-minute event-time buckets over parsed logtime.",
    _minute_buckets_events,
    lambda: """
            SELECT CAST(CEIL(epoch_ms(date_trunc('second', ts)) / 60000.0) * 60000
                        AS BIGINT) AS bucket_ms,
                   COUNT(*) AS n
            FROM events GROUP BY 1
        """)


def _broadcast_enrich_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region")
    j = (o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
          .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
          .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]))
    return (j.groupBy(r["r_name"].alias("region_name"))
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                   .cast("decimal(38,2)").alias("revenue")))


register(
    "broadcast_enrich_revenue",
    "J3: broadcast-join enrichment chain (orders→customer→nation→region).",
    _broadcast_enrich_revenue,
    lambda: """
            SELECT r.r_name AS region_name,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name
        """)

register(
    "day_bitmask_overlap_events",
    """Bitmap-index set algebra: per-type-pair co-active days via
    bit_count over 63-bit day-presence words.""",
    lambda spark, sf_dir: agg_ops.day_bitmask_overlap(events(spark, sf_dir)),
    agg_ops.sql_day_bitmask_overlap)


def _ip_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    ip = F.concat(F.lit("10.0."),
                  F.expr("user_id % 256").cast("string"),
                  F.lit("."), F.expr("event_id % 256").cast("string"))
    df = ev.select("event_id", ip.alias("ip"))
    lut = IpRangeLookup(IP_RANGE_ROWS, need_fields={"sugo_nation"})
    out = enrich_ops.ip_range_enrich(df, lut, "ip", fields=["sugo_nation"])
    return out.groupBy("sugo_nation").agg(F.count(F.lit(1)).alias("n"))


register(
    "ip_range_lookup",
    "J2: range-lookup join (searchsorted over broadcast sorted ranges).",
    _ip_range_lookup,
    lambda: """
            WITH ranges AS (
                SELECT * FROM (VALUES
                    (CAST(167772160 AS BIGINT), CAST(167788543 AS BIGINT), 'ZoneA'),
                    (167788544, 167804927, 'ZoneB'),
                    (167804928, 167821311, 'ZoneC'),
                    (167821312, 167837695, 'ZoneD')
                ) AS t(startn, endn, sugo_nation)
            ), ips AS (
                SELECT event_id,
                       167772160
                       + (user_id % 256) * 256
                       + (event_id % 256) AS ipn
                FROM events
            )
            SELECT r.sugo_nation, COUNT(*) AS n
            FROM ips i JOIN ranges r ON i.ipn >= r.startn AND i.ipn <= r.endn
            GROUP BY r.sugo_nation
        """)


def _window_lag_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "event_id", "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.row_number().over(w).alias("rn"),
    )


register(
    "window_lag_events",
    "§2.8 window funcs: per-user ordered lag + rank (stable ordering).",
    _window_lag_events,
    lambda: """
            SELECT event_id, user_id,
                   LAG(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
                       AS prev_type,
                   CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
                       AS INT) AS rn
            FROM events
        """)


def _conversation_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.expr("unix_micros(cast(ts as timestamp)) div 1000")).alias("first_ms"),
        F.max(F.expr("unix_micros(cast(ts as timestamp)) div 1000")).alias("last_ms"),
        F.countDistinct("event_type").alias("n_types"),
    )


register(
    "conversation_stats_events",
    "A5-ish per-'conversation' (user) aggregates with epoch-ms extrema.",
    _conversation_stats_events,
    lambda: """
            SELECT user_id,
                   COUNT(*) AS n_events,
                   CAST(epoch_ms(MIN(ts)) AS BIGINT) AS first_ms,
                   CAST(epoch_ms(MAX(ts)) AS BIGINT) AS last_ms,
                   COUNT(DISTINCT event_type) AS n_types
            FROM events GROUP BY user_id
        """)


def _tx_sink_tallies(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = routed_slim(spark, sf_dir)
    return route_ops.sink_tallies(routed)


register(
    "tx_sink_tallies",
    """Full transcripts pipeline routed-row tallies (pytest holds the strong
    byte-equality oracle; driver records rows-only here).""",
    _tx_sink_tallies,
    lambda: f"""
            SELECT sink, COUNT(*) AS n FROM (
                SELECT {_TX_SINK_CASE} AS sink FROM {tx_view()}
            ) WHERE sink IS NOT NULL GROUP BY sink
        """)


def _join_forecast_tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx_df = pl.load_transcripts(spark, sf_dir)
    return agg_ops.join_size_forecast(tx_df, F.col("conv_id"),
                                      tx_df, F.col("conv_id"))


register(
    "join_forecast_tx",
    """Exact output-size + skew forecast for the transcripts conv_id
    self-join — the pre-flight that justifies ordered_salted's salting
    (the hot conversation shows up as max_key_permille).""",
    _join_forecast_tx,
    lambda: agg_ops.sql_join_size_forecast(
        tx_view(), "conv_id", tx_view(), "conv_id"))


def _per_file_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = pl.load_transcripts(spark, sf_dir).withColumn(
        "fname", F.element_at(F.split(F.input_file_name(), "/"), -1))
    parsed = parse_ops.grok_parse(df, pl.compiled_transcript_grok(),
                                  max_size=MAX_SIZE)
    return agg_ops.per_file_totals(parsed, "fname")


register(
    "per_file_totals",
    """A5: per-file line/error totals (DefaultFileReader.java:246-248) over
    the real scanned file identity (input_file_name), basename-normalized so
    the DuckDB oracle (read_parquet filename=true) can mirror it.""",
    _per_file_totals,
    lambda: f"""
            SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
                   COUNT(*) AS lines,
                   CAST(SUM(CASE WHEN strlen(text) >= 8192
                                   OR text LIKE 'corrupt#%'
                            THEN 1 ELSE 0 END) AS BIGINT) AS error
            FROM read_parquet('{tx_glob()}', filename=true)
            GROUP BY 1
        """)


def _scan_prune_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    cutoff = "2023-11-17 00:00:00"
    return (ev.filter(F.col("ts") >= F.lit(cutoff).cast("timestamp"))
              .groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.min(F.expr(
                       "unix_micros(date_trunc('second', ts)) div 1000"))
                   .cast("long").alias("first_ms")))


register(
    "scan_prune_recent",
    """S2: partition/row-group pruning — time-range predicate pushed to the
    scan (the reference's directory-expiry skip, DefaultFileReader.java:
    117-134, expressed declaratively; test_plans asserts PushedFilters).""",
    _scan_prune_recent,
    lambda: """
            SELECT event_type,
                   COUNT(*) AS n,
                   CAST(MIN(epoch_ms(date_trunc('second', ts))) AS BIGINT)
                       AS first_ms
            FROM events
            WHERE ts >= TIMESTAMP '2023-11-17 00:00:00'
            GROUP BY event_type
        """)


def _json_flatten_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    line = F.concat(
        F.lit("["), ev["event_type"], F.lit("] ["),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
        F.lit('] {"u":'), ev["user_id"].cast("string"), F.lit(',"k":"v"}'))
    df = ev.select("event_id", line.alias("text"))
    expr = (r"\[%{NOTSPACE:logtype}\] "
            r"\[%{CUSTOM_TIMESTAMP_ISO8601:logtime;date;yyyy-MM-dd HH:mm:ss}\] "
            r"%{JSON:payload;json}")
    parsed = parse_ops.grok_parse(df, GrokCompiler().compile(expr),
                                  max_size=MAX_SIZE)
    return parsed.select("event_id", "parsed_json")


register(
    "json_flatten_events",
    """P7: ``;json``-typed capture — Gson parse + one-level flatten into the
    record (Converter.java:235-270, Match.java:185-187; JSON numbers become
    Doubles, so u=42 serializes as 42.0). Exercises the parser's dynamic-key
    slow path; equality is on the Gson-serialized record.""",
    _json_flatten_events,
    lambda: """
            SELECT event_id,
                   '{"k":"v","logtime":'
                   || CAST(CAST(epoch_ms(date_trunc('second', ts)) AS BIGINT)
                           AS VARCHAR)
                   || ',"logtype":"' || event_type || '","u":'
                   || CAST(user_id AS VARCHAR) || '.0}' AS parsed_json
            FROM events
        """)


def _delta_minute_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    bucket = (F.ceil(F.unix_micros(F.date_trunc("second",
                                                F.col("ts").cast("timestamp"))) /
                     F.lit(60000000.0)) * 60000).cast("long")
    counts = (ev.groupBy(bucket.alias("bucket_ms"))
                .agg(F.count(F.lit(1)).alias("n"))
                .withColumn("day_id", (F.col("bucket_ms") /
                                       F.lit(86_400_000)).cast("long")))
    # Scale-safe lag: partition the window by day (bounded partitions at any
    # time range) and carry the previous bucket across day boundaries via a
    # tiny per-day-last table (one row per day-with-data, broadcast).
    per_day_last = counts.groupBy("day_id").agg(
        F.max(F.struct("bucket_ms", "n")).alias("m"))
    # pmod(hash,1): constant-valued, non-foldable partition key (see
    # token_topk — lit(0) and col*0 both get optimized to an empty spec)
    wl = Window.partitionBy(F.pmod(F.xxhash64("day_id"), F.lit(1))) \
        .orderBy("day_id")
    prevs = per_day_last.select(
        "day_id", F.lag(F.col("m.n")).over(wl).alias("prev_last_n"))
    w = Window.partitionBy("day_id").orderBy("bucket_ms")
    return (counts.join(F.broadcast(prevs), "day_id", "left")
            .select("bucket_ms", "n",
                    (F.col("n") - F.coalesce(F.lag("n").over(w),
                                             F.col("prev_last_n"), F.lit(0)))
                    .cast("long").alias("delta")))


register(
    "delta_minute_metrics",
    """A3: delta (incremental) metric emission — current minus previous
    bucket (ReaderMetrics.java:41-83), batch analog via lag window.""",
    _delta_minute_metrics,
    lambda: """
            WITH counts AS (
                SELECT CAST(CEIL(epoch_ms(date_trunc('second', ts)) / 60000.0)
                            * 60000 AS BIGINT) AS bucket_ms,
                       COUNT(*) AS n
                FROM events GROUP BY 1
            )
            SELECT bucket_ms, n,
                   CAST(n - COALESCE(LAG(n) OVER (ORDER BY bucket_ms), 0)
                        AS BIGINT) AS delta
            FROM counts
        """)


def _token_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = docs(spark, sf_dir)
    counts = (corpus.select(F.explode(C.tokens(F.col("text"))).alias("token"))
              .groupBy("token").agg(F.count(F.lit(1)).alias("n")))
    # orderBy+limit plans as TakeOrderedAndProject: per-partition top-20 then
    # a 20*P-row driver merge — never a single-partition sort of the whole
    # vocabulary (10^8-10^9 rows at corpus scale). Rank is then assigned over
    # the 20 survivors; the partition key is a constant-valued but
    # NON-FOLDABLE zero (pmod(hash,1)) — lit(0) is constant-folded (and n*0
    # zero-propagated) away, and WindowExec then takes the warned
    # unpartitioned-global-window path.
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(20)
    w = Window.partitionBy(F.pmod(F.xxhash64("token"), F.lit(1))) \
        .orderBy(F.desc("n"), F.asc("token"))
    return (top.withColumn("rank", F.row_number().over(w))
               .select("token", "n", F.col("rank").cast("int").alias("rank")))


register(
    "token_topk_documents",
    """Heavy hitters: exact top-20 corpus tokens (explode → count → rank,
    ties broken lexicographically). The map-side partial aggregation makes
    this one small shuffle of (token, count) partials at any corpus size.""",
    _token_topk_documents,
    lambda: """
            WITH counts AS (
                SELECT t AS token, COUNT(*) AS n
                FROM (SELECT unnest(list_filter(
                        string_split_regex(text, '\\s+'), x -> x <> '')) AS t
                      FROM documents)
                GROUP BY 1
            )
            SELECT token, n, CAST(rank AS INT) AS rank FROM (
                SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank
                FROM counts
            ) WHERE rank <= 20
        """)


def _sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    ts_s = F.unix_micros(F.date_trunc("second", F.col("ts").cast("timestamp"))) \
        .cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = ts_s - F.lag(ts_s).over(w)
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1000000), 1).otherwise(0)
    sess = F.sum(new_sess).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0))
    base = ev.select("user_id", "event_id", "ts", sess.alias("session_id"))
    return (base.groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("event_id").alias("first_event"),
                 F.max("event_id").alias("last_event"))
            .withColumn("session_id", F.col("session_id").cast("long")))


register(
    "sessionize_events",
    """Gap-based sessionization per user (30-minute inactivity gap): lag +
    running sum of session-starts — the conversation-analytics op a
    transcript pipeline needs; one shuffle on user_id.""",
    _sessionize_events,
    lambda: """
            WITH base AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch_us(date_trunc('second', ts))
                                    - epoch_us(date_trunc('second',
                                               lag(ts) OVER w))
                                    > 1800000000
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
                SELECT *, SUM(new_sess) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS session_id
                FROM base
            )
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   COUNT(*) AS n_events,
                   MIN(event_id) AS first_event,
                   MAX(event_id) AS last_event
            FROM s GROUP BY 1, 2
        """)


def _rollup_time_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    ts_ms = (F.unix_micros(F.date_trunc("second", F.col("ts").cast("timestamp")))
             / F.lit(1000)).cast("long")
    return agg_ops.rollup_time_counts(ev, ts_ms)


register(
    "rollup_time_counts",
    """Minute→hour→day→total rollup in one Expand+hash-agg pass (the
    hypertable continuous-aggregate ladder; -1 marks collapsed levels).""",
    _rollup_time_counts,
    lambda: """
            WITH keyed AS (
                SELECT ms - ms % 86400000 AS day_ms,
                       ms - ms % 3600000 AS hour_ms,
                       ms - ms % 60000 AS minute_ms
                FROM (SELECT CAST(epoch_ms(date_trunc('second', ts)) AS BIGINT)
                          AS ms FROM events)
            )
            SELECT COALESCE(day_ms, -1) AS day_ms,
                   COALESCE(hour_ms, -1) AS hour_ms,
                   COALESCE(minute_ms, -1) AS minute_ms,
                   COUNT(*) AS n
            FROM keyed GROUP BY ROLLUP(day_ms, hour_ms, minute_ms)
        """)


def _grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    day_ms = F.expr(
        "unix_micros(date_trunc('day', cast(ts as timestamp))) div 1000")
    return agg_ops.grouping_sets_counts(ev, F.col("event_type"), day_ms)


register(
    "grouping_sets_events",
    """Asymmetric GROUPING SETS ((type,day),(type),()) — one Expand pass,
    no per-day marginal (not expressible as rollup/cube).""",
    _grouping_sets_events,
    agg_ops.sql_grouping_sets_counts)


def _bloom_prejoin_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    dim = ev.filter(F.col("event_type") == "purchase").select("event_id")
    return enrich_ops.bloom_prejoin_summary(ev, dim, "event_id")


register(
    "bloom_prejoin_events",
    """Bloom runtime-filter audit: prune the events fact by the
    purchase-event keyset before any join shuffle; one summary row with the
    FP price (event_id keeps the dim selective — ~20% of the keyspace — so
    the false-positive column is non-vacuous at every sf).""",
    _bloom_prejoin_events,
    lambda: enrich_ops.sql_bloom_prejoin_summary(
        "SELECT event_id FROM events",
        "SELECT event_id FROM events WHERE event_type = 'purchase'",
        "event_id"))


def _ewma_hour_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    ts_ms = F.expr(
        "unix_micros(date_trunc('second', cast(ts as timestamp))) div 1000")
    return agg_ops.ewma_hour_counts(ev, F.col("event_type"), ts_ms)


register(
    "ewma_hour_counts",
    """Integer EWMA (alpha=1/2, 16-term exact unrolling) over per-type
    hourly counts — aggregate to the grain first, window over the grain.""",
    _ewma_hour_counts,
    agg_ops.sql_ewma_hour_counts)


def _trend_slope_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    ts_ms = F.expr(
        "unix_micros(date_trunc('second', cast(ts as timestamp))) div 1000")
    return agg_ops.trend_slope_counts(ev, F.col("event_type"), ts_ms)


register(
    "trend_slope_events",
    """Closed-form integer least-squares slope per type over hourly counts
    (permille/hour + exact num/den).""",
    _trend_slope_events,
    agg_ops.sql_trend_slope_counts)


def _rolling_median_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    ts_ms = F.expr(
        "unix_micros(date_trunc('second', cast(ts as timestamp))) div 1000")
    return agg_ops.rolling_median_counts(ev, F.col("event_type"), ts_ms)


register(
    "rolling_median_events",
    "Exact trailing 24h median of hourly counts (full-window contract).",
    _rolling_median_events,
    agg_ops.sql_rolling_median_counts)


def _skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    return agg_ops.skew_report(ev, F.col("user_id"))


register(
    "skew_report_events",
    """Join-key skew histogram (bitlen buckets + permille shares) for
    user_id — the pre-shuffle salting decision report.""",
    _skew_report_events,
    agg_ops.sql_skew_report)


def _pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    day_ms = F.expr(
        "unix_micros(date_trunc('day', cast(ts as timestamp))) div 1000")
    return agg_ops.pivot_counts(ev, day_ms, F.col("event_type"), EVENT_TYPES)


register(
    "pivot_event_types",
    """Day×type count matrix via native pivot with an EXPLICIT value list
    (skips the pre-planning distinct scan — one fact pass saved at scale).""",
    _pivot_event_types,
    lambda: agg_ops.sql_pivot_counts(EVENT_TYPES))


def _percentile_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    lat = C.h60(F.col("event_id").cast("string")) % 5000
    return agg_ops.histogram_exact_percentiles(
        ev, "event_type", lat, {"p50": 0.5, "p95": 0.95, "p99": 0.99})


register(
    "percentile_latency",
    """Exact per-type latency percentiles by rank selection (p50/p95/p99)
    via the (group, value)-histogram form — no row-level sort; the oracle
    is the sort-based selection. Integer-only: latency is synthesized as
    h60(event_id) % 5000 so both engines derive identical values from md5.""",
    _percentile_latency,
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
            )
            SELECT event_type,
                   CAST(MAX(cnt) AS BIGINT) AS n,
                   CAST(MAX(CASE WHEN rn = CAST(FLOOR(0.5 * (cnt - 1)) AS BIGINT) + 1
                                 THEN v END) AS BIGINT) AS p50,
                   CAST(MAX(CASE WHEN rn = CAST(FLOOR(0.95 * (cnt - 1)) AS BIGINT) + 1
                                 THEN v END) AS BIGINT) AS p95,
                   CAST(MAX(CASE WHEN rn = CAST(FLOOR(0.99 * (cnt - 1)) AS BIGINT) + 1
                                 THEN v END) AS BIGINT) AS p99
            FROM ranked GROUP BY event_type
        """)


def _schema_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    src = ev.select("event_type", props_with_drift(ev).alias("props"))
    return agg_ops.json_schema_profile(src)


register(
    "schema_profile_events",
    """Dynamic-schema drift profile: per event_type, frequency of each
    top-level JSON payload key (count + permille); invalid payloads count
    rows but no keys.""",
    _schema_profile_events,
    lambda: f"""
            WITH src AS (
                SELECT event_type,
                       CASE WHEN event_id % 7 = 0 THEN
                                '{{"k":' || CAST(event_id % 100 AS VARCHAR)
                                || ',"extra":"x","u":'
                                || CAST(user_id AS VARCHAR) || '}}'
                            WHEN event_id % 13 = 0 THEN 'not json'
                            ELSE props END AS props
                FROM events
            ), ex AS (
                SELECT event_type,
                       unnest(CASE WHEN json_valid(props)
                                   AND json_type(props) = 'OBJECT'
                              THEN json_keys(props)
                              ELSE [] END) AS key
                FROM src
            ), per AS (
                SELECT event_type, key, CAST(COUNT(*) AS BIGINT) AS n
                FROM ex GROUP BY event_type, key
            ), totals AS (
                SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
                FROM src GROUP BY event_type
            )
            SELECT p.event_type, p.key, p.n, t.n_rows,
                   {C.sql_permille("p.n", "t.n_rows")} AS permille
            FROM per p JOIN totals t USING (event_type)
        """)


def _hist_percentile_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    lat = C.h60(F.col("event_id").cast("string")) % 5000
    return agg_ops.histogram_percentiles(
        ev, "event_type", lat,
        {"p50_lo": 0.5, "p95_lo": 0.95, "p99_lo": 0.99})


register(
    "hist_percentile_latency",
    """Mergeable histogram-sketch percentiles (bin lower bounds, width 100)
    over the same synthetic latency as percentile_latency — the scale path
    validated against the exact rank-selection baseline.""",
    _hist_percentile_latency,
    lambda: f"""
            WITH lat AS (
                SELECT event_type,
                       {C.sql_h60("CAST(event_id AS VARCHAR)")} % 5000 AS v
                FROM events
            ), bins AS (
                SELECT event_type, (v // 100) * 100 AS bin, COUNT(*) AS c
                FROM lat GROUP BY event_type, bin
            ), cum AS (
                SELECT event_type, bin,
                       SUM(c) OVER (PARTITION BY event_type ORDER BY bin)
                           AS cum,
                       SUM(c) OVER (PARTITION BY event_type) AS n
                FROM bins
            )
            SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
                   CAST(MIN(CASE WHEN cum >= FLOOR(0.5 * (n - 1)) + 1
                                 THEN bin END) AS BIGINT) AS p50_lo,
                   CAST(MIN(CASE WHEN cum >= FLOOR(0.95 * (n - 1)) + 1
                                 THEN bin END) AS BIGINT) AS p95_lo,
                   CAST(MIN(CASE WHEN cum >= FLOOR(0.99 * (n - 1)) + 1
                                 THEN bin END) AS BIGINT) AS p99_lo
            FROM cum GROUP BY event_type
        """)


def _locf_backfill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    raw = (F.when(ev["event_id"] % 7 == 0, F.lit(None))
            .otherwise(ev["event_id"] % 1000)).cast("long")
    base = ev.select("event_id", "user_id", "ts", raw.alias("raw_v"))
    return agg_ops.locf_backfill(
        base, "user_id", ["ts", "event_id"], F.col("raw_v")
    ).select("event_id", "user_id", "raw_v", "filled_v")


register(
    "locf_backfill_events",
    """LOCF gap-fill: a synthetic reading (event_id % 1000, nulled on every
    7th event) is carried forward per user under (ts, event_id) order —
    one shuffle on user_id, running last(ignorenulls) per sorted group.""",
    _locf_backfill_events,
    lambda: """
            WITH src AS (
                SELECT event_id, user_id, ts,
                       CASE WHEN event_id % 7 = 0 THEN NULL
                            ELSE event_id % 1000 END AS raw_v
                FROM events
            )
            SELECT event_id, user_id,
                   CAST(raw_v AS BIGINT) AS raw_v,
                   CAST(LAST_VALUE(raw_v IGNORE NULLS) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS filled_v
            FROM src
        """)
