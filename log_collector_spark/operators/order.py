"""Stable turn ordering under skew (north_rule requirement).

The reference's analog is the lexicographic file sort + sequential line read
(DefaultFileReader.java:196-203 + the readLine loop). At 10^12-turn scale the
pitfall is hot conversations: a plain ``repartition(conv_id)`` puts a whole
hot conversation in one task. Strategy:

- ``ordered_salted``: repartition on (conv_id, salt) where salt spreads rows
  of the SAME conversation across S partitions, then
  ``sortWithinPartitions(conv_id, turn_idx)``. Correct for any per-turn map
  (parse/enrich/route are row-local), and turn order is still recoverable
  within each (conv_id, salt) slice; use when no whole-conversation state is
  needed — maximum balance.
- ``ordered_by_conversation``: repartition on conv_id only +
  sortWithinPartitions — required when an operator needs the WHOLE
  conversation in order (multiline assembly, session windows). AQE skew
  handling is on as belt-and-braces for the shuffle itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_collector_spark.operators import aggregate as agg_ops
from log_collector_spark.operators import parse as parse_ops
from log_collector_spark.plans import pipeline as pl
from log_collector_spark.registry import (docs, events, register, tbl, tx_glob,
                                          tx_view)

DEFAULT_SALT_BUCKETS = 8


def with_salt(df: DataFrame, buckets: int = DEFAULT_SALT_BUCKETS,
              col: str = "salt") -> DataFrame:
    # deterministic: same row → same salt (hash of turn_idx), so re-runs are
    # stable and resume-safe (no rand())
    return df.withColumn(col, F.pmod(F.hash("turn_idx"), F.lit(buckets)))


def ordered_salted(df: DataFrame, num_partitions: int | None = None,
                   buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    d = with_salt(df, buckets)
    parts = [F.col("conv_id"), F.col("salt")]
    d = d.repartition(num_partitions, *parts) if num_partitions else \
        d.repartition(*parts)
    return d.sortWithinPartitions("conv_id", "turn_idx").drop("salt")


def ordered_by_conversation(df: DataFrame,
                            num_partitions: int | None = None) -> DataFrame:
    d = df.repartition(num_partitions, "conv_id") if num_partitions else \
        df.repartition("conv_id")
    return d.sortWithinPartitions("conv_id", "turn_idx")


# ---------------------------------------------------------------------------
# Z-order layout audit (round-4 continuation): the data-clustering decision
# an Iceberg/Delta OPTIMIZE ZORDER makes, measured as an oracle-checkable
# report instead of applied as a rewrite.
# ---------------------------------------------------------------------------

ZORDER_BITS = 16
ZORDER_FILES = 32


def _z_terms(u: str, d: str, bits: int, shift_fn) -> str:
    """Bit-interleave expression: z = Σ ((u>>i)&1)·4^i·1 + ((d>>i)&1)·4^i·2.

    Built per-engine because Spark spells shift as shiftright() while DuckDB
    uses >>; the arithmetic (AND-mask then multiply by a power-of-two
    literal) is identical, so both produce the same BIGINT."""
    terms = []
    for i in range(bits):
        terms.append(f"(({shift_fn(u, i)}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({shift_fn(d, i)}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def zorder_layout_audit(df: DataFrame, user_col: str, ts_ms,
                        bits: int = ZORDER_BITS,
                        n_files: int = ZORDER_FILES) -> DataFrame:
    """Compare two physical layouts of the same fact — linear sort on
    (user, day) vs Morton/Z-order on interleaved (user, day) bits — by the
    metric that decides file-skipping effectiveness: the sum over files of
    each file's per-dimension min-max span. Rows are packed into
    ``n_files`` equal-count files with ntile over each ordering
    (event_id-tiebroken, so both engines cut identically).

    Why it matters at 100 TB: parquet/Iceberg prune files by column min-max
    stats. A linear (user, day) sort gives perfect user spans but each
    file's DAY span covers the whole range for all but one user boundary —
    day-predicate queries hit every file. Z-order trades a little of each:
    both spans shrink to ~sqrt scale, so BOTH dimensions prune. The audit
    emits (layout, n_files, sum_user_span, sum_day_span) — the two rows
    make the trade quantitative, which is exactly what an OPTIMIZE
    ZORDER BY decision needs before rewriting petabytes.

    The audit itself is two ntile windows over a global order — fine at
    audit scale (run on a sample or one partition's stats at 100 TB; the
    decision needs ratios, not the full table)."""
    day = ((ts_ms.cast("long") / 86_400_000).cast("long")).alias("d")
    base = df.select(F.col(user_col).cast("long").alias("u"), day,
                     F.col("event_id").alias("i"))
    # rebase day to 0 in-plan (broadcast 1-row min — no driver action)
    base = (base.crossJoin(F.broadcast(base.agg(F.min("d").alias("_d0"))))
                .withColumn("d", (F.col("d") - F.col("_d0")).cast("long"))
                .drop("_d0"))

    def spark_shift(c: str, i: int) -> str:
        return f"shiftright({c}, {i})"

    z = F.expr(_z_terms("u", "d", bits, spark_shift)).cast("long")
    zed = base.withColumn("z", z)
    from pyspark.sql.window import Window
    w_lin = Window.orderBy("u", "d", "i")
    w_z = Window.orderBy("z", "i")
    tiled = zed.select(
        "u", "d",
        F.ntile(n_files).over(w_lin).alias("f_lin"),
        F.ntile(n_files).over(w_z).alias("f_z"))

    def spans(file_col: str, layout: str) -> DataFrame:
        per_file = (tiled.groupBy(file_col)
                    .agg((F.max("u") - F.min("u") + 1).alias("uspan"),
                         (F.max("d") - F.min("d") + 1).alias("dspan")))
        return per_file.agg(
            F.lit(layout).alias("layout"),
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("uspan").cast("long").alias("sum_user_span"),
            F.sum("dspan").cast("long").alias("sum_day_span"))

    return (spans("f_lin", "linear_user_day")
            .unionByName(spans("f_z", "zorder"))
            .orderBy("layout"))


def sql_zorder_layout_audit(table: str = "events",
                            bits: int = ZORDER_BITS,
                            n_files: int = ZORDER_FILES) -> str:
    def duck_shift(c: str, i: int) -> str:
        return f"{c} >> {i}"

    z = _z_terms("u", "d", bits, duck_shift)
    return f"""
        WITH raw AS (
            SELECT CAST(user_id AS BIGINT) AS u,
                   CAST(epoch_ms(date_trunc('second', ts)) AS BIGINT)
                       // 86400000 AS d0,
                   event_id AS i
            FROM {table}
        ), base AS (
            SELECT u, d0 - (SELECT MIN(d0) FROM raw) AS d, i FROM raw
        ), zed AS (
            SELECT u, d, i, CAST({z} AS BIGINT) AS z FROM base
        ), tiled AS (
            SELECT u, d,
                   NTILE({n_files}) OVER (ORDER BY u, d, i) AS f_lin,
                   NTILE({n_files}) OVER (ORDER BY z, i) AS f_z
            FROM zed
        ), lin AS (
            SELECT 'linear_user_day' AS layout,
                   CAST(COUNT(*) AS BIGINT) AS n_files,
                   CAST(SUM(uspan) AS BIGINT) AS sum_user_span,
                   CAST(SUM(dspan) AS BIGINT) AS sum_day_span
            FROM (SELECT f_lin, MAX(u) - MIN(u) + 1 AS uspan,
                         MAX(d) - MIN(d) + 1 AS dspan
                  FROM tiled GROUP BY f_lin)
        ), zo AS (
            SELECT 'zorder' AS layout,
                   CAST(COUNT(*) AS BIGINT) AS n_files,
                   CAST(SUM(uspan) AS BIGINT) AS sum_user_span,
                   CAST(SUM(dspan) AS BIGINT) AS sum_day_span
            FROM (SELECT f_z, MAX(u) - MIN(u) + 1 AS uspan,
                         MAX(d) - MIN(d) + 1 AS dspan
                  FROM tiled GROUP BY f_z)
        )
        SELECT * FROM lin UNION ALL SELECT * FROM zo ORDER BY layout
    """


COMPACT_TARGET_BYTES = 3 * 1024 * 1024  # output-file payload target


def compaction_plan(df: DataFrame, text_col: str = "text",
                    target_bytes: int = COMPACT_TARGET_BYTES) -> DataFrame:
    """Small-files compaction plan: pack input files (in stable name order)
    into output groups of ~``target_bytes`` of payload each — the
    remediation for the small-files problem that throttles 100-TB scans
    (per-file open/seek overhead and task-per-file scheduling dominate
    when files run below ~128 MB).

    Assignment rule is cumulative-quota packing: a file whose PRECEDING
    cumulative payload is in [k*target, (k+1)*target) joins group k — one
    pass, deterministic, order-preserving (groups are contiguous runs of
    the sorted file list, so merged files keep their sort-key locality,
    unlike first-fit-decreasing which scrambles it).

    Cost: one map-side file-stats agg over the data (count + octet_length
    sum per input_file_name — no shuffle wider than |files| rows), then a
    prefix-sum window over the |files|-row METADATA frame (manifest-scale;
    the single-partition window is over thousands of rows at 100 TB, not
    data rows — an Iceberg build would read these stats from manifests and
    skip the scan entirely)."""
    from pyspark.sql.window import Window

    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    per_file = (df.groupBy(fname.alias("fname"))
                .agg(F.count(F.lit(1)).cast("long").alias("rows"),
                     F.sum(F.octet_length(F.col(text_col))).cast("long")
                      .alias("bytes")))
    w = (Window.orderBy("fname")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    planned = (per_file
               .withColumn("_cum", F.sum("bytes").over(w))
               .withColumn("out_group",
                           F.expr(f"(_cum - bytes) div {target_bytes}")
                            .cast("long")))
    return (planned.groupBy("out_group")
            .agg(F.count(F.lit(1)).cast("long").alias("n_files"),
                 F.sum("bytes").cast("long").alias("total_bytes"),
                 F.sum("rows").cast("long").alias("total_rows"),
                 F.min("fname").alias("first_file"))
            .orderBy("out_group"))


def sql_compaction_plan(glob: str, text_col: str = "text",
                        target_bytes: int = COMPACT_TARGET_BYTES) -> str:
    return f"""
        WITH per_file AS (
            SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
                   CAST(COUNT(*) AS BIGINT) AS rows,
                   -- DuckDB: strlen(VARCHAR) IS the byte length
                   -- (octet_length only takes BLOB/BIT)
                   CAST(SUM(strlen({text_col})) AS BIGINT) AS bytes
            FROM read_parquet('{glob}', filename=true)
            GROUP BY 1
        ), planned AS (
            SELECT fname, rows, bytes,
                   (SUM(bytes) OVER (ORDER BY fname
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) - bytes)
                   // {target_bytes} AS out_group
            FROM per_file
        )
        SELECT CAST(out_group AS BIGINT) AS out_group,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(bytes) AS BIGINT) AS total_bytes,
               CAST(SUM(rows) AS BIGINT) AS total_rows,
               MIN(fname) AS first_file
        FROM planned
        GROUP BY out_group
        ORDER BY out_group
    """


def rle_audit(events: DataFrame, value_col: str = "event_type",
              user_col: str = "user_id", ts_col: str = "ts") -> DataFrame:
    """RLE-compressibility layout audit: how many runs the ``value_col``
    column splits into under two candidate physical orderings — the
    companion number to zorder_layout_audit (that one prices data
    SKIPPING, this one prices parquet's run-length/dictionary encoding:
    fewer runs = smaller files = faster scans; at 100 TB the ordering
    decision is often worth more than the codec choice).

    Orderings compared, each as a PARTITIONED window so no global sort
    sneaks in: 'user_ts' (runs within each user's timeline — the
    clustered layout) vs 'day_ts' (runs within each day ordered by time
    — the ingest layout). A run boundary is value != lag(value) (the
    partition's first row starts a run). Output one row per ordering:
    n_rows, n_runs, avg run length ×1000."""
    from pyspark.sql.window import Window

    us = F.expr(f"unix_micros(cast({ts_col} as timestamp))")
    day = F.expr(f"unix_micros(cast({ts_col} as timestamp))"
                 f" div 86400000000")
    base = events.select(F.col(value_col).alias("v"),
                         F.col(user_col).alias("u"),
                         us.alias("t"), F.col("event_id").alias("e"),
                         day.cast("long").alias("d"))

    def runs(part_col: str, label: str) -> DataFrame:
        w = Window.partitionBy(part_col).orderBy("t", "e")
        marked = base.withColumn(
            "new_run",
            (F.coalesce(F.col("v") != F.lag("v").over(w), F.lit(True)))
            .cast("long"))
        return marked.agg(
            F.lit(label).alias("ordering"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("new_run").cast("long").alias("n_runs"))

    out = runs("u", "user_ts").unionByName(runs("d", "day_ts"))
    return (out.withColumn(
                "avg_run_x1000",
                F.expr("(n_rows * 1000) div n_runs").cast("long"))
            .orderBy("ordering"))


def sql_rle_audit(table: str = "events", value_col: str = "event_type",
                  user_col: str = "user_id", ts_col: str = "ts") -> str:
    def runs(part_expr: str, label: str) -> str:
        return f"""
            SELECT '{label}' AS ordering,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN prev IS NULL OR prev <> v
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
            FROM (
                SELECT {value_col} AS v,
                       lag({value_col}) OVER (
                           PARTITION BY {part_expr}
                           ORDER BY epoch_us({ts_col}), event_id) AS prev
                FROM {table}
            )"""
    a = runs(user_col, "user_ts")
    b = runs(f"epoch_us({ts_col}) // 86400000000", "day_ts")
    return f"""
        SELECT ordering, n_rows, n_runs,
               CAST((n_rows * 1000) // n_runs AS BIGINT) AS avg_run_x1000
        FROM ({a} UNION ALL {b})
        ORDER BY ordering
    """


# ---------------------------------------------------------------------------
# Broadcast-strategy advisor (join planning from measured table bytes)
# ---------------------------------------------------------------------------

BROADCAST_THRESHOLD_BYTES = 10 * 1024 * 1024   # Spark's default 10 MB

# fixed-width byte cost per non-string column (the in-memory hash-relation
# figure the broadcast decision cares about, not the parquet-encoded size)
_FIXED_BYTES = 8


def broadcast_advisor(tables: dict[str, "DataFrame"],
                      threshold: int = BROADCAST_THRESHOLD_BYTES
                      ) -> "DataFrame":
    """Join-strategy advisor: per table, measured row count and estimated
    in-memory bytes (Σ octet_length over string columns + 8 per
    fixed-width column per row), against the broadcast threshold — the
    number `spark.sql.autoBroadcastJoinThreshold` compares, made
    relational so the advice is auditable instead of buried in plan
    stats. Parquet footer stats under-count strings (encoding); this
    measures the decoded payload the hash relation would hold.

    One narrow agg per table, unioned — each scan reads only the string
    columns plus nothing (fixed-width cost is rows × constant).

    Returns (table_name, n_rows, est_bytes, fits_broadcast), ORDER BY
    table_name."""
    out = None
    for name in sorted(tables):
        df = tables[name]
        str_cols = [c for c, t in df.dtypes if t == "string"]
        n_fixed = len(df.dtypes) - len(str_cols)
        per_row = sum(
            (F.coalesce(F.octet_length(F.col(c)), F.lit(0)).cast("long")
             for c in str_cols),
            F.lit(_FIXED_BYTES * n_fixed).cast("long"))
        one = (df.agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                      F.sum(per_row).cast("long").alias("est_bytes"))
               .select(F.lit(name).alias("table_name"), "n_rows",
                       "est_bytes",
                       (F.col("est_bytes") < threshold)
                       .alias("fits_broadcast")))
        out = one if out is None else out.unionByName(one)
    return out.orderBy("table_name")


def sql_broadcast_advisor(schemas: dict[str, tuple],
                          threshold: int = BROADCAST_THRESHOLD_BYTES
                          ) -> str:
    """Oracle generator: ``schemas`` maps table name → (string_cols,
    n_fixed_cols) — mirrored from the parquet schemas the Spark side
    reads dynamically."""
    selects = []
    for name in sorted(schemas):
        str_cols, n_fixed = schemas[name]
        # DuckDB byte length of VARCHAR is strlen (octet_length is
        # BLOB-only); Spark's octet_length matches it on UTF-8 strings.
        terms = " + ".join(
            [f"COALESCE(strlen({c}), 0)" for c in str_cols]
            + [str(_FIXED_BYTES * n_fixed)])
        selects.append(f"""
            SELECT '{name}' AS table_name,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM({terms}) AS BIGINT) AS est_bytes,
                   CAST(SUM({terms}) AS BIGINT) < {threshold}
                       AS fits_broadcast
            FROM {name}""")
    return (" UNION ALL ".join(selects)
            + " ORDER BY table_name")


# ---------------------------------------------------------------------------
# Consistent-hashing shard rebalance audit (mod-N vs ring movement)
# ---------------------------------------------------------------------------

SHARDS_BEFORE = 8
SHARDS_AFTER = 9
VNODES_PER_SHARD = 16
RING_BITS = 52   # ring positions use h60 >> 8 so gap*32+shard fits int64


def _vnode_packed(n_shards: int) -> list[int]:
    """Ring vnode positions, precomputed host-side with the SAME h60
    definition both engines use (first 15 hex chars of md5 → BIGINT) —
    literal constants, so the two sides are identical by construction.
    Each vnode is packed as ``(pos >> 8) * 32 + shard`` (pos is 52 bits,
    shard < 32 — one int64 literal per vnode)."""
    import hashlib

    out = []
    for s in range(n_shards):
        for r in range(VNODES_PER_SHARD):
            h = int(hashlib.md5(
                f"shard:{s}#vn:{r}".encode()).hexdigest()[:15], 16)
            out.append((h >> 8) * 32 + s)
    return sorted(out)


def shard_rebalance_audit(df, id_col: str = "doc_id"):
    """How many keys MOVE when a shard is added, mod-N vs consistent-hash
    ring — the quantitative case for consistent hashing in any keyed
    store/cache layer this pipeline feeds. Going 8→9 shards, mod-N
    remaps ~8/9 of all keys; a ring with 16 vnodes/shard remaps ~1/9.
    Returns two rows (scheme, n_docs, n_moved, moved_permille).

    Ring owner of key p = the vnode minimizing the clockwise gap
    ``(vpos - p) mod 2^52``; packed as ``gap*32 + shard`` so argmin is a
    single integer array_min over a 128/144-element LITERAL array — a
    zero-shuffle narrow projection per key (ties break to the lowest
    shard, deterministically, though md5 ties are ~2^-40). One hash agg
    over 2 scheme rows; no join anywhere."""
    from pyspark.sql import functions as F  # noqa: F811

    ring = 1 << RING_BITS
    p = (F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15),
                16, 10).cast("long"))
    h = p  # same 60-bit key hash drives both schemes
    pr = F.shiftright(p, 8)  # 52-bit ring position

    def owner(vnodes: list[int]) -> F.Column:
        arr = F.array(*[F.lit(v).cast("long") for v in vnodes])
        packed_min = F.array_min(F.transform(
            arr,
            lambda v: F.pmod(F.shiftright(v, 5) - pr, F.lit(ring)) * 32
            + F.pmod(v, F.lit(32))))
        return F.pmod(packed_min, F.lit(32))

    vb = _vnode_packed(SHARDS_BEFORE)
    va = _vnode_packed(SHARDS_AFTER)
    per = df.select(
        (F.pmod(h, F.lit(SHARDS_BEFORE))
         != F.pmod(h, F.lit(SHARDS_AFTER))).alias("mod_moved"),
        (owner(vb) != owner(va)).alias("ring_moved"))
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("mod_moved").cast("long")).cast("long").alias("mod_m"),
        F.sum(F.col("ring_moved").cast("long")).cast("long").alias("ring_m"))
    mod_row = agg.select(
        F.lit("mod").alias("scheme"), "n_docs",
        F.col("mod_m").alias("n_moved"),
        F.when(F.col("n_docs") > 0,
               F.floor(F.col("mod_m") * 1000 / F.col("n_docs")))
         .otherwise(0).cast("long").alias("moved_permille"))
    ring_row = agg.select(
        F.lit("ring").alias("scheme"), "n_docs",
        F.col("ring_m").alias("n_moved"),
        F.when(F.col("n_docs") > 0,
               F.floor(F.col("ring_m") * 1000 / F.col("n_docs")))
         .otherwise(0).cast("long").alias("moved_permille"))
    return mod_row.unionByName(ring_row).orderBy("scheme")


def sql_shard_rebalance_audit(table: str = "documents",
                              id_col: str = "doc_id") -> str:
    ring = 1 << RING_BITS
    vb = ", ".join(str(v) for v in _vnode_packed(SHARDS_BEFORE))
    va = ", ".join(str(v) for v in _vnode_packed(SHARDS_AFTER))
    p = (f"CAST(('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 15)) "
         f"AS BIGINT)")

    def owner(lst: str) -> str:
        return (f"list_min(list_transform([{lst}], "
                f"v -> (((v // 32 - (p >> 8)) % {ring} + {ring}) % {ring})"
                f" * 32 + v % 32)) % 32")

    return f"""
        WITH keys AS (
            SELECT {p} AS p FROM {table}
        ), per AS (
            SELECT (p % {SHARDS_BEFORE}) <> (p % {SHARDS_AFTER})
                       AS mod_moved,
                   ({owner(vb)}) <> ({owner(va)}) AS ring_moved
            FROM keys
        ), agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN mod_moved THEN 1 ELSE 0 END)
                        AS BIGINT) AS mod_m,
                   CAST(SUM(CASE WHEN ring_moved THEN 1 ELSE 0 END)
                        AS BIGINT) AS ring_m
            FROM per
        )
        SELECT scheme, n_docs, n_moved,
               CAST(CASE WHEN n_docs > 0 THEN n_moved * 1000 // n_docs
                         ELSE 0 END AS BIGINT) AS moved_permille
        FROM (
            SELECT 'mod' AS scheme, n_docs, mod_m AS n_moved FROM agg
            UNION ALL
            SELECT 'ring', n_docs, ring_m FROM agg
        )
        ORDER BY scheme
    """


# ---------------------------------------------------------------------------
# Zone-map (min/max file statistics) prunability audit
# ---------------------------------------------------------------------------

def zonemap_audit(df, ts_col: str = "ts"):
    """Per-file min/max zone-map audit for a day-granular probe: which
    input files could a manifest-level reader skip for a one-day
    predicate? Parquet footers (and Iceberg manifests) carry these
    min/max stats; whether they PRUNE depends entirely on how well the
    physical file layout clusters the column — this audit measures that,
    the companion of ``rle_audit`` (value clustering) and
    ``compaction_plan`` (file sizing). The probe day is the corpus's
    FIRST day, so the answer is deterministic from the data alone.

    Returns (fname, min_day, max_day, rows, prunable) ordered by fname —
    prunable = the probe day falls outside [min_day, max_day].

    Plan: one map-side per-file agg (input_file_name granularity, the
    manifest-scale frame — an Iceberg build reads these from metadata
    and never scans) plus a 1-row global-min broadcast."""
    from pyspark.sql import functions as F  # noqa: F811

    day = (F.unix_micros(F.col(ts_col).cast("timestamp"))
           / F.lit(86_400_000_000)).cast("long")
    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    from pyspark.sql.window import Window

    per = (df.select(fname.alias("fname"), day.alias("day"))
             .groupBy("fname")
             .agg(F.min("day").cast("long").alias("min_day"),
                  F.max("day").cast("long").alias("max_day"),
                  F.count(F.lit(1)).cast("long").alias("rows")))
    # global min as an unpartitioned window over the |files|-row manifest
    # frame (bounded, single partition is fine) — a separate agg+crossJoin
    # references `per` twice and Catalyst re-runs the whole DATA scan for
    # the 1-row probe (plan-audit-tested: exactly one fname exchange)
    probe = F.min("min_day").over(Window.orderBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing))
    return (per.withColumn("probe_day", probe.cast("long"))
               .select("fname", "min_day", "max_day", "rows",
                       ((F.col("probe_day") < F.col("min_day")) |
                        (F.col("probe_day") > F.col("max_day")))
                       .alias("prunable"))
               .orderBy("fname"))


def sql_zonemap_audit(glob: str, ts_col: str = "ts") -> str:
    return f"""
        WITH per AS (
            SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
                   CAST(MIN(epoch_us({ts_col}) // 86400000000) AS BIGINT)
                       AS min_day,
                   CAST(MAX(epoch_us({ts_col}) // 86400000000) AS BIGINT)
                       AS max_day,
                   CAST(COUNT(*) AS BIGINT) AS rows
            FROM read_parquet('{glob}', filename=true)
            GROUP BY 1
        ), probe AS (SELECT MIN(min_day) AS probe_day FROM per)
        SELECT fname, min_day, max_day, rows,
               (probe_day < min_day OR probe_day > max_day) AS prunable
        FROM per CROSS JOIN probe
        ORDER BY fname
    """


# ---------------------------------------------------------------------------
# Deletion-impact audit (GDPR / right-to-be-forgotten DML planning)
# ---------------------------------------------------------------------------

DELETE_MOD = 20  # deterministic stand-in for the deletion list: h60 % 20 == 0


def delete_impact_audit(df, key_col: str = "conv_id",
                        mod: int = DELETE_MOD):
    """How expensive is deleting a key set from an immutable-file store?
    Copy-on-write DELETE rewrites every file containing >= 1 matching row,
    so the real cost is not |deleted rows| but |rows in touched files| —
    the write amplification this audit quantifies per file BEFORE running
    the DML (the Iceberg/Delta planning step; a merge-on-read engine reads
    the same numbers to size its deletion vectors). The deletion list is
    the deterministic stand-in ``h60(key) % mod == 0`` (~5% of keys).

    Returns (fname, rows, del_rows, touched, amp_permille) ordered by
    fname — amp_permille = rows*1000 // del_rows for touched files (how
    many rows each deleted row drags into the rewrite), 0 otherwise.

    Plan: one map-side per-file agg (manifest-scale output); with the key
    column clustered into files this report shows few touched files and
    low amplification — scattered keys touch everything, which is the
    argument for key-ordered layout the other order.py audits make."""
    from pyspark.sql import functions as F  # noqa: F811

    h = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15),
               16, 10).cast("long")
    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    per = (df.select(fname.alias("fname"), (h % mod == 0).alias("hit"))
             .groupBy("fname")
             .agg(F.count(F.lit(1)).cast("long").alias("rows"),
                  F.sum(F.col("hit").cast("long")).cast("long")
                   .alias("del_rows")))
    amp = F.when(F.col("del_rows") > 0,
                 F.expr("rows * 1000 DIV del_rows")).otherwise(0)
    return (per.select("fname", "rows", "del_rows",
                       (F.col("del_rows") > 0).alias("touched"),
                       amp.cast("long").alias("amp_permille"))
               .orderBy("fname"))


def sql_delete_impact_audit(glob: str, key_col: str = "conv_id",
                            mod: int = DELETE_MOD) -> str:
    h = (f"CAST(('0x' || substr(md5(CAST({key_col} AS VARCHAR)), 1, 15)) "
         f"AS BIGINT)")
    return f"""
        WITH per AS (
            SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
                   CAST(COUNT(*) AS BIGINT) AS rows,
                   CAST(SUM(CASE WHEN {h} % {mod} = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS del_rows
            FROM read_parquet('{glob}', filename=true)
            GROUP BY 1
        )
        SELECT fname, rows, del_rows, del_rows > 0 AS touched,
               CAST(CASE WHEN del_rows > 0 THEN rows * 1000 // del_rows
                         ELSE 0 END AS BIGINT) AS amp_permille
        FROM per ORDER BY fname
    """


# ---------------------------------------------------------------------------
# Dictionary-encoding advisor per string column
# ---------------------------------------------------------------------------


def dict_encoding_advisor(events: DataFrame,
                          cols: tuple = ("event_type", "props")) -> DataFrame:
    """Storage advisor for string columns: would dictionary encoding
    beat plain encoding, from one scan? Per column this reports exact
    UTF-8 plain bytes, the dictionary estimate (distinct-value bytes +
    one fixed-width index per row, width = 1/2/4 bytes by cardinality —
    the parquet/arrow dictionary model), and the permille ratio — the
    evidence a layout pass uses to force or forbid PLAIN encoding per
    column before a 100-TB rewrite (parquet's own heuristic silently
    falls back to plain when a page's dictionary overflows; this table
    predicts that BEFORE writing).

    Returns per column: (col_name, n_rows, n_distinct, plain_bytes,
    dict_bytes, ratio_permille, recommend_dict) ORDER BY col_name.

    Plan/scale: per column one map-side byte-sum agg + one distinct
    agg (the distinct shuffles only the column's values). Nothing else
    moves."""
    from log_collector_spark.textops import common as C

    outs = []
    for c in cols:
        base = events.select(F.col(c).cast("string").alias("v"))
        tot = base.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(F.sum(F.octet_length("v")), F.lit(0)).cast("long")
             .alias("plain_bytes"))
        dis = (base.distinct()
               .agg(F.count(F.lit(1)).cast("long").alias("n_distinct"),
                    F.coalesce(F.sum(F.octet_length("v")), F.lit(0))
                     .cast("long").alias("distinct_bytes")))
        j = (tot.crossJoin(dis)
             .withColumn("idx_bytes",
                         F.when(F.col("n_distinct") <= 256, 1)
                          .when(F.col("n_distinct") <= 65536, 2)
                          .otherwise(4).cast("long"))
             .withColumn("dict_bytes",
                         (F.col("distinct_bytes")
                          + F.col("n_rows") * F.col("idx_bytes"))
                         .cast("long")))
        outs.append(j.select(
            F.lit(c).alias("col_name"), "n_rows", "n_distinct",
            "plain_bytes", "dict_bytes",
            C.permille(F.col("dict_bytes"), F.col("plain_bytes"))
             .alias("ratio_permille"),
            (F.col("dict_bytes") < F.col("plain_bytes"))
             .alias("recommend_dict")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("col_name")


def sql_dict_encoding_advisor(table: str = "events",
                              cols: tuple = ("event_type",
                                             "props")) -> str:
    from log_collector_spark.textops import common as C

    def one(c: str) -> str:
        return f"""
            SELECT '{c}' AS col_name, t.n_rows, d.n_distinct,
                   t.plain_bytes,
                   CAST(d.distinct_bytes + t.n_rows *
                        CASE WHEN d.n_distinct <= 256 THEN 1
                             WHEN d.n_distinct <= 65536 THEN 2
                             ELSE 4 END AS BIGINT) AS dict_bytes
            FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                         CAST(COALESCE(SUM(strlen(CAST({c} AS VARCHAR))),
                                       0) AS BIGINT) AS plain_bytes
                  FROM {table}) t,
                 (SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct,
                         CAST(COALESCE(SUM(strlen(v)), 0) AS BIGINT)
                             AS distinct_bytes
                  FROM (SELECT DISTINCT CAST({c} AS VARCHAR) AS v
                        FROM {table})) d
        """

    union = " UNION ALL ".join(one(c) for c in cols)
    return f"""
        SELECT col_name, n_rows, n_distinct, plain_bytes, dict_bytes,
               {C.sql_permille('dict_bytes', 'plain_bytes')}
                   AS ratio_permille,
               dict_bytes < plain_bytes AS recommend_dict
        FROM ({union})
        ORDER BY col_name
    """


def column_profile(events: DataFrame,
                   cols: tuple = ("event_type", "user_id",
                                  "props")) -> DataFrame:
    """Single-pass-per-column value-distribution profile (the Deequ /
    great-expectations "analyze" stage, distributed): per column the row
    count, null count, exact distinct count, the modal value with its
    count and share of the non-null rows, and a candidate-key verdict
    (unique + null-free). The profiling census a pipeline runs on a new
    feed before writing parse/route rules for it — the engine-side
    counterpart of the reference's grok *discovery* step
    (grok/discovery.py), which guesses patterns; this measures the value
    geometry those patterns will face.

    Returns (col_name, n_rows, n_nulls, n_distinct, top_value, top_n,
    top_share_permille, is_candidate_key) ORDER BY col_name.

    Plan/scale: per column ONE value-keyed partial agg (map-side
    combined — the shuffle moves |distinct| rows, not |rows|), then a
    constant-size agg; the modal value rides an argmin struct, never a
    sort. Ties break to the smallest value in both engines."""
    from log_collector_spark.textops import common as C

    outs = []
    for c in cols:
        vc = (events.select(F.col(c).cast("string").alias("v"))
              .groupBy("v").agg(F.count(F.lit(1)).alias("n")))
        top = F.min(F.when(F.col("v").isNotNull(),
                           F.struct((-F.col("n")).alias("neg"),
                                    F.col("v").alias("v"))))
        agg = vc.agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.coalesce(F.sum(F.when(F.col("v").isNull(), F.col("n"))),
                       F.lit(0)).cast("long").alias("n_nulls"),
            F.count(F.col("v")).cast("long").alias("n_distinct"),
            top.alias("top"))
        outs.append(agg.select(
            F.lit(c).alias("col_name"), "n_rows", "n_nulls", "n_distinct",
            F.coalesce(F.col("top.v"), F.lit("")).alias("top_value"),
            F.coalesce(-F.col("top.neg"), F.lit(0)).cast("long")
             .alias("top_n"),
            C.permille(F.coalesce(-F.col("top.neg"), F.lit(0)),
                       F.col("n_rows") - F.col("n_nulls"))
             .alias("top_share_permille"),
            ((F.col("n_nulls") == 0) &
             (F.col("n_distinct") == F.col("n_rows")))
             .alias("is_candidate_key")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("col_name")


def sql_column_profile(table: str = "events",
                       cols: tuple = ("event_type", "user_id",
                                      "props")) -> str:
    from log_collector_spark.textops import common as C

    def one(c: str) -> str:
        return f"""
            SELECT '{c}' AS col_name,
                   CAST(a.n_rows AS BIGINT) AS n_rows,
                   CAST(a.n_nulls AS BIGINT) AS n_nulls,
                   CAST(a.n_distinct AS BIGINT) AS n_distinct,
                   COALESCE(t.v, '') AS top_value,
                   CAST(COALESCE(t.n, 0) AS BIGINT) AS top_n,
                   {C.sql_permille('COALESCE(t.n, 0)',
                                   'a.n_rows - a.n_nulls')}
                       AS top_share_permille,
                   a.n_nulls = 0 AND a.n_distinct = a.n_rows
                       AS is_candidate_key
            FROM (SELECT COUNT(*) AS n_rows,
                         COUNT(*) - COUNT({c}) AS n_nulls,
                         COUNT(DISTINCT CAST({c} AS VARCHAR))
                             AS n_distinct
                  FROM {table}) a
            LEFT JOIN (
                SELECT v, n FROM (
                    SELECT CAST({c} AS VARCHAR) AS v, COUNT(*) AS n
                    FROM {table} WHERE {c} IS NOT NULL GROUP BY 1
                ) ORDER BY n DESC, v LIMIT 1
            ) t ON TRUE
        """

    union = " UNION ALL ".join(one(c) for c in cols)
    return f"SELECT * FROM ({union}) ORDER BY col_name"


SEL_BAND_CENTS = 500  # $5 value bands for the selectivity grid
_SEL_BOUND = 9_000_000_000_000_000_000


def selectivity_correlation_audit(events: DataFrame,
                                  band_cents: int = SEL_BAND_CENTS
                                  ) -> DataFrame:
    """Independence-assumption error audit — the CBO blind spot
    measured: for every observed (event_type, value-band) cell, the
    actual row count vs the System-R estimate ``n_type · n_band / n``
    (what any optimizer without multi-column stats predicts), the
    permille error, and whether the estimator UNDER-estimates (the
    dangerous direction: an underestimated join side silently becomes a
    broadcast OOM at 100 TB). High errors are the evidence for creating
    multi-column stats / avoiding correlated-predicate pushdown bets.

    Money as integer cents (ROUND(value·100), both engines; negative
    values are excluded so integer DIV banding is floor-consistent
    cross-engine); one
    (type, band) agg + two broadcast marginal joins — marginals are
    |types| and |bands| rows, nothing else moves. DIVISION-form int64
    headroom guard on the marginal product."""
    from log_collector_spark.textops import common as C

    base = (events.filter(F.expr("value IS NOT NULL AND value >= 0"))
            .select(
        F.col("event_type"),
        F.expr(f"CAST(ROUND(value * 100) AS BIGINT) DIV {band_cents}")
         .alias("value_band")))
    cells = (base.groupBy("event_type", "value_band")
             .agg(F.count(F.lit(1)).alias("n_actual")))
    by_t = base.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    by_b = base.groupBy("value_band").agg(F.count(F.lit(1)).alias("n_b"))
    tot = base.agg(F.count(F.lit(1)).alias("n"))
    j = (cells.join(F.broadcast(by_t), "event_type")
         .join(F.broadcast(by_b), "value_band")
         .crossJoin(F.broadcast(tot)))
    ok = F.expr(f"n_b <= {_SEL_BOUND} DIV GREATEST(n_t, 1)")
    exp = (F.when(ok, F.expr("n_t * n_b DIV n"))
           .otherwise(F.raise_error(F.lit(
               "selectivity_correlation_audit: marginal product beyond "
               "int64 headroom; use permille shares"))))
    out = (j.withColumn("n_expected", exp.cast("long"))
           .withColumn("err_permille",
                       F.expr("abs(n_actual - n_expected) * 1000 "
                              "DIV GREATEST(n_expected, 1)").cast("long"))
           .withColumn("underestimated",
                       F.col("n_actual") > F.col("n_expected")))
    return (out.select("event_type", "value_band",
                       F.col("n_actual").cast("long").alias("n_actual"),
                       "n_expected", "err_permille", "underestimated")
            .orderBy("event_type", "value_band"))


def sql_selectivity_correlation_audit(table: str = "events",
                                      band_cents: int = SEL_BAND_CENTS
                                      ) -> str:
    return f"""
        WITH base AS (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) // {band_cents}
                       AS value_band
            FROM {table}
            WHERE value IS NOT NULL AND value >= 0
        ), cells AS (
            SELECT event_type, value_band, COUNT(*) AS n_actual
            FROM base GROUP BY 1, 2
        ), by_t AS (
            SELECT event_type, COUNT(*) AS n_t FROM base GROUP BY 1
        ), by_b AS (
            SELECT value_band, COUNT(*) AS n_b FROM base GROUP BY 1
        ), tot AS (SELECT COUNT(*) AS n FROM base)
        SELECT c.event_type, c.value_band,
               CAST(c.n_actual AS BIGINT) AS n_actual,
               CAST(t.n_t * b.n_b // tot.n AS BIGINT) AS n_expected,
               CAST(abs(c.n_actual - t.n_t * b.n_b // tot.n) * 1000
                    // GREATEST(t.n_t * b.n_b // tot.n, 1) AS BIGINT)
                   AS err_permille,
               c.n_actual > t.n_t * b.n_b // tot.n AS underestimated
        FROM cells c
        JOIN by_t t USING (event_type)
        JOIN by_b b USING (value_band)
        CROSS JOIN tot
        ORDER BY c.event_type, c.value_band
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

# Gson record for GROK_EXPR captures + provenance constants, keys in
# TreeMap order: directory, filename, host, logtime, logtype, payload.
# payload is a plain string capture (no ;json) whose only
# escape-relevant characters in the generated corpus are double quotes.
_TX_JSON = r"""
        '{"directory":"transcripts","filename":"transcripts","host":"spark"'
        || ',"logtime":' || CAST(CAST(epoch_ms(strptime(
               regexp_extract(text, '^\[(\S+)\] \[([^\]]+)\] (.*)$', 2),
               '%Y-%m-%d %H:%M:%S')) AS BIGINT) AS VARCHAR)
        || ',"logtype":"'
        || regexp_extract(text, '^\[(\S+)\] \[([^\]]+)\] (.*)$', 1)
        || '","payload":"'
        || replace(regexp_extract(text, '^\[(\S+)\] \[([^\]]+)\] (.*)$', 3),
                   '"', '\"')
        || '"}'
    """

register(
    "selectivity_correlation",
    """Independence-assumption selectivity error per (event_type,
    value-band) cell — the multi-column-stats evidence table.""",
    lambda spark, sf_dir: selectivity_correlation_audit(events(spark, sf_dir)),
    sql_selectivity_correlation_audit)

register(
    "column_profile_events",
    """Per-column value-distribution profile of the events feed (nulls,
    distincts, modal value/share, candidate-key verdict).""",
    lambda spark, sf_dir: column_profile(events(spark, sf_dir)),
    sql_column_profile)

register(
    "shard_rebalance_audit",
    """Mod-N vs consistent-hash-ring key movement when adding a shard
    (8→9, 16 vnodes/shard): zero-shuffle narrow argmin over a literal
    vnode array per key, one 2-row agg.""",
    lambda spark, sf_dir: shard_rebalance_audit(docs(spark, sf_dir)),
    sql_shard_rebalance_audit)

register(
    "dict_encoding_advisor_events",
    """Dictionary-vs-plain storage advisor per string column (exact
    bytes, parquet dictionary model).""",
    lambda spark, sf_dir: dict_encoding_advisor(events(spark, sf_dir)),
    sql_dict_encoding_advisor)

register(
    "delete_impact_audit",
    """Copy-on-write DELETE planning: per-file rows touched / write
    amplification for a deterministic ~5% key deletion list.""",
    lambda spark, sf_dir: delete_impact_audit(
        pl.load_transcripts(spark, sf_dir)),
    lambda: sql_delete_impact_audit(tx_glob()))

register(
    "zonemap_audit_tx",
    """Per-file min/max zone-map prunability for a one-day probe —
    manifest-scale per-file agg; the file-skipping companion of
    compaction_plan/rle_audit.""",
    lambda spark, sf_dir: zonemap_audit(pl.load_transcripts(spark, sf_dir)),
    lambda: sql_zonemap_audit(tx_glob()))


def _broadcast_advisor_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = ("region", "nation", "supplier", "customer", "part")
    return broadcast_advisor({n: tbl(spark, sf_dir, n) for n in names})


register(
    "broadcast_advisor_tables",
    """Join-strategy advisor: measured rows + decoded bytes per dim table
    vs the broadcast threshold, as an auditable relation.""",
    _broadcast_advisor_tables,
    lambda: sql_broadcast_advisor({
        "region": (["r_name"], 1),
        "nation": (["n_name"], 2),
        "supplier": (["s_name"], 3),
        "customer": (["c_name", "c_mktsegment"], 3),
        "part": (["p_name", "p_brand", "p_type"], 3),
    }))

register(
    "rle_audit_events",
    """RLE-compressibility audit: run counts of event_type under the
    clustered vs ingest orderings (the encoding-size decision).""",
    lambda spark, sf_dir: rle_audit(events(spark, sf_dir)),
    sql_rle_audit)

register(
    "compaction_plan_tx",
    """Small-files compaction plan over the transcripts directory:
    cumulative-quota packing of name-ordered files into ~target-byte
    output groups (metadata-scale window over per-file stats).""",
    lambda spark, sf_dir: compaction_plan(pl.load_transcripts(spark, sf_dir)),
    lambda: sql_compaction_plan(tx_glob()))


def _tx_per_turn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = pl.full_pipeline(spark, sf_dir)   # needs parsed_json (wide)
    return ordered_salted(
        routed.filter(agg_ops.success_expr())
              .select("conv_id", "turn_idx", "parsed_json"))


register(
    "tx_per_turn_json",
    "Per-turn Gson-equal serialized records under stable ordering.",
    _tx_per_turn_json,
    lambda: f"""
            SELECT conv_id, turn_idx, {_TX_JSON} AS parsed_json
            FROM {tx_view()}
            WHERE strlen(text) < 8192
              AND NOT {parse_ops.SQL_BLANK}
              AND text NOT LIKE 'corrupt#%'
        """)


def _zorder_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    ts_ms = F.expr(
        "unix_micros(date_trunc('second', cast(ts as timestamp))) div 1000")
    return zorder_layout_audit(ev, "user_id", ts_ms)


register(
    "zorder_audit_events",
    """Z-order vs linear layout: sum of per-file (user, day) min-max spans
    — the file-skipping quality metric behind OPTIMIZE ZORDER BY.""",
    _zorder_audit_events,
    sql_zorder_layout_audit)
