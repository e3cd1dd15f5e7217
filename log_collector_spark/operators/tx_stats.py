"""Per-conversation / per-tool aggregates over the ROUTED transcript frame.

These run on the output of ``plans.pipeline.full_pipeline`` — scan → grok
parse → role/tool broadcast enrich → rule routing — so their oracles
re-verify the whole flagship path end-to-end, not just the final groupBy
(the north-star surface: "windowed per-conversation and per-tool aggregates
are computed with DataFrame groupBy/Window").

Clean-row predicate is the routing rule itself (``parse_ok`` and not
oversize) and the DuckDB side reconstructs it from the raw transcripts
parquet (strlen < max, non-blank, not corrupt#), so a routing regression —
not just an aggregation bug — fails these hashes.

Plan shapes at 10^12 turns: every query here is ONE hash agg (or one
window + one agg) keyed on conv_id / tool — the parse/enrich chain above it
is narrow (zero shuffle; pipeline.py invariant), so total cost is a single
exchange each. The payload-field extraction (latency/tokens) uses
``get_json_object`` on the already-parsed capture — JVM-side, no second
Python hop.

Reference parity anchor: the reference's surface stops at counters
(DefaultFileReader.java:246-248); these extend §2.8's windowed-aggregate
family onto the transcript payload.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from log_collector_spark.operators import aggregate as agg_ops
from log_collector_spark.operators import parse as parse_ops
from log_collector_spark.plans import pipeline as pl
from log_collector_spark.registry import register, routed_slim, tx_view

# The raw-parquet clean-row predicate (mirrors route_events' rules) for
# DuckDB oracles, parameterized on the max-size the pipeline routes at.
SQL_CLEAN = (f"strlen(text) < 8192 AND NOT {parse_ops.SQL_BLANK} "
             "AND text NOT LIKE 'corrupt#%'")

# TRY_CAST, not CAST: DuckDB fuses stacked WHERE clauses and does not
# guarantee conjunct order, so a downstream `tok IS NOT NULL` filter can
# evaluate the cast on 'corrupt#%' rows BEFORE the SQL_CLEAN guard runs
# (observed on sql_dpo_pairs). On clean rows the capture is all-digits,
# so TRY_CAST is value-identical.
_LAT = "TRY_CAST(regexp_extract(text, '\"latency_ms\":(\\d+)', 1) AS BIGINT)"
_TOK = "TRY_CAST(regexp_extract(text, '\"tokens\":(\\d+)', 1) AS BIGINT)"

# role → (role_class, is_human) / tool → (tool_category, is_side_effecting)
# inline VALUES for the oracle (sources/transcripts.py lookup rows).
_SQL_ROLE_LUT = ("(VALUES ('user','human',TRUE), ('assistant','model',FALSE),"
                 " ('system','control',FALSE), ('tool','machine',FALSE))"
                 " AS rl(role, role_class, is_human)")
_SQL_TOOL_LUT = ("(VALUES ('bash','exec',TRUE), ('read','fs',FALSE),"
                 " ('edit','fs',TRUE), ('search','query',FALSE),"
                 " ('browse','net',FALSE), ('none','none',FALSE))"
                 " AS tl(tool, tool_category, is_side_effecting)")


def _clean(routed: DataFrame) -> DataFrame:
    return routed.filter(agg_ops.success_expr())


def tool_latency(routed: DataFrame) -> DataFrame:
    """Per-(tool, category) latency profile from the parsed payload: one
    hash agg; latency extraction is a JVM json-path over the capture."""
    lat = F.get_json_object("payload", "$.latency_ms").cast("long")
    return (_clean(routed)
            .select("tool", "tool_category", "is_side_effecting",
                    lat.alias("lat"))
            .groupBy("tool", "tool_category", "is_side_effecting")
            .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                 F.sum("lat").cast("long").alias("latency_sum"),
                 F.min("lat").cast("long").alias("latency_min"),
                 F.max("lat").cast("long").alias("latency_max")))


def sql_tool_latency(tx_view: str) -> str:
    return f"""
        SELECT tl.tool, tl.tool_category, tl.is_side_effecting,
               CAST(COUNT(*) AS BIGINT) AS n_turns,
               CAST(SUM({_LAT}) AS BIGINT) AS latency_sum,
               CAST(MIN({_LAT}) AS BIGINT) AS latency_min,
               CAST(MAX({_LAT}) AS BIGINT) AS latency_max
        FROM {tx_view} t
        LEFT JOIN {_SQL_TOOL_LUT} ON tl.tool = t.tool
        WHERE {SQL_CLEAN}
        GROUP BY tl.tool, tl.tool_category, tl.is_side_effecting
    """


def role_alternation(routed: DataFrame) -> DataFrame:
    """Per-conversation alternation report under stable (conv_id, turn_idx)
    order: how many adjacent turn pairs repeat the same role (a dialog-
    structure QA check). One window + one agg, both keyed on conv_id —
    a single shuffle."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    prev = F.lag("role").over(w)
    per_turn = (_clean(routed)
                .select("conv_id", "turn_idx", "role")
                .withColumn("same_as_prev",
                            (F.col("role") == prev).cast("long")))
    return (per_turn.groupBy("conv_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                 F.coalesce(F.sum("same_as_prev"), F.lit(0)).cast("long")
                  .alias("n_repeats"),
                 F.countDistinct("role").cast("long").alias("n_roles")))


def sql_role_alternation(tx_view: str) -> str:
    return f"""
        WITH clean AS (
            SELECT conv_id, turn_idx, role FROM {tx_view}
            WHERE {SQL_CLEAN}
        ), marked AS (
            SELECT conv_id, role,
                   CASE WHEN role = lag(role) OVER (
                            PARTITION BY conv_id ORDER BY turn_idx)
                        THEN 1 ELSE 0 END AS same_as_prev
            FROM clean
        )
        SELECT conv_id,
               CAST(COUNT(*) AS BIGINT) AS n_turns,
               CAST(COALESCE(SUM(same_as_prev), 0) AS BIGINT) AS n_repeats,
               CAST(COUNT(DISTINCT role) AS BIGINT) AS n_roles
        FROM marked GROUP BY conv_id
    """


def conversation_stats_ms(routed: DataFrame) -> DataFrame:
    """operators.aggregate.conversation_stats with epoch-ms spans (the
    repo's hash-stable timestamp convention) over the routed clean rows."""
    stats = agg_ops.conversation_stats(_clean(routed))
    ms = lambda c: F.expr(f"unix_micros(cast({c} as timestamp)) div 1000")
    return stats.select(
        "conv_id",
        F.col("n_turns").cast("long").alias("n_turns"),
        F.col("max_turn_idx").cast("long").alias("max_turn_idx"),
        ms("started_at").alias("started_ms"),
        ms("ended_at").alias("ended_ms"),
        F.col("user_turns").cast("long").alias("user_turns"),
        F.col("assistant_turns").cast("long").alias("assistant_turns"))


def sql_conversation_stats_ms(tx_view: str) -> str:
    return f"""
        SELECT conv_id,
               CAST(COUNT(*) AS BIGINT) AS n_turns,
               CAST(MAX(turn_idx) AS BIGINT) AS max_turn_idx,
               CAST(epoch_ms(MIN(ts)) AS BIGINT) AS started_ms,
               CAST(epoch_ms(MAX(ts)) AS BIGINT) AS ended_ms,
               CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
                    AS BIGINT) AS user_turns,
               CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                    AS BIGINT) AS assistant_turns
        FROM {tx_view}
        WHERE {SQL_CLEAN}
        GROUP BY conv_id
    """


def tokens_by_role_class(routed: DataFrame) -> DataFrame:
    """Per-role-class token totals (exercises the role broadcast lookup):
    one hash agg over 4 role classes."""
    tok = F.get_json_object("payload", "$.tokens").cast("long")
    return (_clean(routed)
            .select("role_class", "is_human", tok.alias("tok"))
            .groupBy("role_class", "is_human")
            .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                 F.sum("tok").cast("long").alias("tokens_sum"),
                 F.max("tok").cast("long").alias("tokens_max")))


def sql_tokens_by_role_class(tx_view: str) -> str:
    return f"""
        SELECT rl.role_class, rl.is_human,
               CAST(COUNT(*) AS BIGINT) AS n_turns,
               CAST(SUM({_TOK}) AS BIGINT) AS tokens_sum,
               CAST(MAX({_TOK}) AS BIGINT) AS tokens_max
        FROM {tx_view} t
        LEFT JOIN {_SQL_ROLE_LUT} ON rl.role = t.role
        WHERE {SQL_CLEAN}
        GROUP BY rl.role_class, rl.is_human
    """


def response_gaps(routed: DataFrame) -> DataFrame:
    """Assistant response-latency per conversation: for every user →
    assistant adjacent turn pair (stable (conv_id, turn_idx) order), the
    gap in ms; per-conv count/total/max. The dialog-latency report a
    transcript pipeline publishes. One window + one agg on conv_id."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    base = (_clean(routed)
            .select("conv_id", "turn_idx", "role", "logtime")
            .withColumn("prev_role", F.lag("role").over(w))
            .withColumn("prev_t", F.lag("logtime").over(w)))
    gaps = (base.filter((F.col("prev_role") == "user")
                        & (F.col("role") == "assistant"))
            .select("conv_id", (F.col("logtime") - F.col("prev_t"))
                     .alias("gap_ms")))
    return (gaps.groupBy("conv_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_responses"),
                 F.sum("gap_ms").cast("long").alias("gap_total_ms"),
                 F.max("gap_ms").cast("long").alias("gap_max_ms")))


def sql_response_gaps(tx_view: str) -> str:
    ms = "CAST(epoch_ms(strptime(regexp_extract(text, " \
         r"'^\[(\S+)\] \[([^\]]+)\] (.*)$', 2), " \
         "'%Y-%m-%d %H:%M:%S')) AS BIGINT)"
    return f"""
        WITH clean AS (
            SELECT conv_id, turn_idx, role, {ms} AS t_ms
            FROM {tx_view} WHERE {SQL_CLEAN}
        ), lagged AS (
            SELECT conv_id, role, t_ms,
                   lag(role) OVER w AS prev_role,
                   lag(t_ms) OVER w AS prev_t
            FROM clean
            WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        )
        SELECT conv_id,
               CAST(COUNT(*) AS BIGINT) AS n_responses,
               CAST(SUM(t_ms - prev_t) AS BIGINT) AS gap_total_ms,
               CAST(MAX(t_ms - prev_t) AS BIGINT) AS gap_max_ms
        FROM lagged
        WHERE prev_role = 'user' AND role = 'assistant'
        GROUP BY conv_id
    """


def tool_chain_bigrams(routed: DataFrame) -> DataFrame:
    """Tool-call transition counts (tool_a -> tool_b on adjacent turns in
    stable order, NULL-tool turns skipped over is NOT done — adjacency is
    literal, the reference's per-line discipline): the workflow-mining
    view of agent transcripts. One window + one tiny agg."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    base = (_clean(routed)
            .filter(F.col("tool").isNotNull())
            .select("conv_id", "turn_idx", "tool")
            .withColumn("rn", F.row_number().over(w))
            .withColumn("prev_tool", F.lag("tool").over(
                Window.partitionBy("conv_id").orderBy("rn"))))
    return (base.filter(F.col("prev_tool").isNotNull())
            .groupBy(F.col("prev_tool").alias("tool_a"),
                     F.col("tool").alias("tool_b"))
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


def sql_tool_chain_bigrams(tx_view: str) -> str:
    return f"""
        WITH clean AS (
            SELECT conv_id, turn_idx, tool FROM {tx_view}
            WHERE {SQL_CLEAN} AND tool IS NOT NULL
        ), lagged AS (
            SELECT tool,
                   lag(tool) OVER (PARTITION BY conv_id
                                   ORDER BY turn_idx) AS prev_tool
            FROM clean
        )
        SELECT prev_tool AS tool_a, tool AS tool_b,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lagged WHERE prev_tool IS NOT NULL
        GROUP BY 1, 2
    """


def tool_diversity(routed: DataFrame) -> DataFrame:
    """Per-conversation tool-mix profile: tool-turn count, distinct tools,
    and the dominant tool's share in permille — the 'is this agent stuck in
    a loop on one tool' QA signal. Two stacked hash aggs on (conv, tool)
    then conv — both partial-combining, one exchange each, the second over
    a frame already collapsed to |convs|·|tools|."""
    per_tool = (_clean(routed)
                .filter(F.col("tool").isNotNull())
                .groupBy("conv_id", "tool")
                .agg(F.count(F.lit(1)).alias("n")))
    return (per_tool.groupBy("conv_id")
            .agg(F.sum("n").cast("long").alias("n_tool_turns"),
                 F.count(F.lit(1)).cast("long").alias("n_distinct_tools"),
                 F.max("n").cast("long").alias("_top"))
            .withColumn("top_tool_permille",
                        F.expr("(1000 * _top) div n_tool_turns")
                         .cast("long"))
            .drop("_top"))


def sql_tool_diversity(tx_view: str) -> str:
    return f"""
        WITH per_tool AS (
            SELECT conv_id, tool, COUNT(*) AS n
            FROM {tx_view}
            WHERE {SQL_CLEAN} AND tool IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT conv_id,
               CAST(SUM(n) AS BIGINT) AS n_tool_turns,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_tools,
               CAST((1000 * MAX(n)) // SUM(n) AS BIGINT)
                   AS top_tool_permille
        FROM per_tool
        GROUP BY conv_id
    """


def role_matrix(routed: DataFrame) -> DataFrame:
    """Role→role transition matrix over adjacent turns in stable
    (conv_id, turn_idx) order — the conversational-structure fingerprint
    (healthy dialogs live on user↔assistant; heavy system→system or
    tool→tool mass flags replay/injection). One window + one ≤25-row
    agg."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    base = (_clean(routed)
            .select("conv_id", "turn_idx", "role")
            .withColumn("prev_role", F.lag("role").over(w)))
    return (base.filter(F.col("prev_role").isNotNull())
            .groupBy(F.col("prev_role").alias("role_a"),
                     F.col("role").alias("role_b"))
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


def sql_role_matrix(tx_view: str) -> str:
    return f"""
        WITH clean AS (
            SELECT conv_id, turn_idx, role FROM {tx_view}
            WHERE {SQL_CLEAN}
        ), lagged AS (
            SELECT role,
                   lag(role) OVER (PARTITION BY conv_id
                                   ORDER BY turn_idx) AS prev_role
            FROM clean
        )
        SELECT prev_role AS role_a, role AS role_b,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lagged WHERE prev_role IS NOT NULL
        GROUP BY 1, 2
    """


def first_response_ms(routed: DataFrame) -> DataFrame:
    """Time-to-first-assistant-response per conversation: ms from the
    conversation's FIRST user turn to the first assistant turn after it
    (in stable turn order). Conversations with no such pair are absent —
    the denominator honesty matters for an SLA metric.

    Shape: min(turn_idx) of user turns per conv (one hash agg), join back
    at that unique (conv_id, turn_idx) to read its timestamp (turn_idx is
    unique within a conversation — the stable-order invariant), then one
    more agg for the earliest later assistant turn. No struct-min/min_by —
    engines disagree on struct ordering corners, so the repo avoids it."""
    base = (_clean(routed).select("conv_id", "turn_idx", "role", "logtime"))
    # rename-at-derivation keeps every join key name unique (the repo's
    # self-join discipline — Spark rejects ambiguous lineage otherwise)
    fu = (base.filter(F.col("role") == "user")
              .groupBy("conv_id").agg(F.min("turn_idx").alias("u_idx"))
              .select(F.col("conv_id").alias("fc"), "u_idx"))
    u = (base.join(fu, (F.col("conv_id") == F.col("fc"))
                   & (F.col("turn_idx") == F.col("u_idx")))
             .select(F.col("fc").alias("cid"), F.col("u_idx").alias("ui"),
                     F.col("logtime").alias("u_ms")))
    resp = (base.join(u, F.col("conv_id") == F.col("cid"))
            .filter((F.col("role") == "assistant")
                    & (F.col("turn_idx") > F.col("ui")))
            .groupBy("conv_id")
            .agg(F.min("logtime").cast("long").alias("a_ms"),
                 F.min("u_ms").cast("long").alias("u_ms2")))
    return (resp.select("conv_id",
                        (F.col("a_ms") - F.col("u_ms2")).cast("long")
                         .alias("first_response_ms")))


def sql_first_response_ms(tx_view: str) -> str:
    ms = "CAST(epoch_ms(strptime(regexp_extract(text, " \
         r"'^\[(\S+)\] \[([^\]]+)\] (.*)$', 2), " \
         "'%Y-%m-%d %H:%M:%S')) AS BIGINT)"
    return f"""
        WITH clean AS (
            SELECT conv_id, turn_idx, role, {ms} AS t_ms
            FROM {tx_view} WHERE {SQL_CLEAN}
        ), fu AS (
            SELECT conv_id, MIN(turn_idx) AS u_idx
            FROM clean WHERE role = 'user' GROUP BY conv_id
        ), u AS (
            SELECT c.conv_id, f.u_idx, c.t_ms AS u_ms
            FROM clean c JOIN fu f
              ON f.conv_id = c.conv_id AND c.turn_idx = f.u_idx
        )
        SELECT c.conv_id,
               CAST(MIN(c.t_ms) - MIN(u.u_ms) AS BIGINT)
                   AS first_response_ms
        FROM clean c
        JOIN u ON u.conv_id = c.conv_id
        WHERE c.role = 'assistant' AND c.turn_idx > u.u_idx
        GROUP BY c.conv_id
    """


SLOW_MS = 4000          # a "slow" tool/model turn (payload latency_ms)
CONTEXT_BUDGET = 20000  # context-window token budget per conversation


def slow_streaks(routed: DataFrame, slow_ms: int = SLOW_MS) -> DataFrame:
    """Per-conversation max run of CONSECUTIVE slow turns (latency_ms >=
    ``slow_ms``) under stable (conv_id, turn_idx) order — the
    'is this conversation degrading' QA signal; a long streak means
    sustained backend trouble, isolated spikes don't.

    Gaps-and-islands: number the clean rows per conversation, number the
    slow rows per conversation, and group slow rows by the difference —
    constant within a run, distinct across runs. All three windows and the
    final agg share the conv_id partitioning, so Catalyst plans ONE
    exchange and sorts once; at 10^12 turns this is a single
    conversation-keyed shuffle, identical in shape to the flagship's
    stable-order pass. Conversations with no slow turn are absent (SLA
    honesty: the report enumerates offenders, not the fleet)."""
    lat = F.get_json_object("payload", "$.latency_ms").cast("long")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    seq = (_clean(routed)
           .select("conv_id", "turn_idx", lat.alias("lat"))
           .withColumn("seq", F.row_number().over(w)))
    slow = seq.filter(F.col("lat") >= slow_ms)
    grp = (F.col("seq")
           - F.row_number().over(Window.partitionBy("conv_id")
                                 .orderBy("seq"))).alias("grp")
    runs = (slow.select("conv_id", grp)
            .groupBy("conv_id", "grp")
            .agg(F.count(F.lit(1)).alias("run_len")))
    return (runs.groupBy("conv_id")
            .agg(F.sum("run_len").cast("long").alias("n_slow"),
                 F.max("run_len").cast("long").alias("max_streak")))


def sql_slow_streaks(tx_view: str, slow_ms: int = SLOW_MS) -> str:
    return f"""
        WITH clean AS (
            SELECT conv_id, turn_idx, {_LAT} AS lat
            FROM {tx_view} WHERE {SQL_CLEAN}
        ), seq AS (
            SELECT conv_id, lat,
                   row_number() OVER (PARTITION BY conv_id
                                      ORDER BY turn_idx) AS seq
            FROM clean
        ), slow AS (
            SELECT conv_id,
                   seq - row_number() OVER (PARTITION BY conv_id
                                            ORDER BY seq) AS grp
            FROM seq WHERE lat >= {slow_ms}
        ), runs AS (
            SELECT conv_id, grp, COUNT(*) AS run_len
            FROM slow GROUP BY 1, 2
        )
        SELECT conv_id,
               CAST(SUM(run_len) AS BIGINT) AS n_slow,
               CAST(MAX(run_len) AS BIGINT) AS max_streak
        FROM runs GROUP BY conv_id
    """


def context_cutoff(routed: DataFrame,
                   budget: int = CONTEXT_BUDGET) -> DataFrame:
    """Context-window truncation point per conversation: running token
    total in stable turn order; how many leading turns fit inside
    ``budget`` tokens and the turn_idx of the first overflowing turn
    (-1 when the whole conversation fits) — the planning statistic for
    packing multi-turn transcripts into a model context.

    One cumulative-sum window + one agg, both keyed on conv_id — a single
    exchange. The prefix sum is exact integer; turn_idx is unique within a
    conversation so the window frame is unambiguous."""
    tok = F.get_json_object("payload", "$.tokens").cast("long")
    w = (Window.partitionBy("conv_id").orderBy("turn_idx")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (_clean(routed)
           .select("conv_id", "turn_idx", tok.alias("tok"))
           .withColumn("cum", F.sum("tok").over(w)))
    return (cum.groupBy("conv_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                 F.sum("tok").cast("long").alias("total_tokens"),
                 F.sum((F.col("cum") <= budget).cast("long")).cast("long")
                  .alias("turns_within_budget"),
                 F.coalesce(
                     F.min(F.when(F.col("cum") > budget,
                                  F.col("turn_idx").cast("long"))),
                     F.lit(-1).cast("long")).alias("cutoff_turn")))


def sql_context_cutoff(tx_view: str, budget: int = CONTEXT_BUDGET) -> str:
    return f"""
        WITH clean AS (
            SELECT conv_id, turn_idx, {_TOK} AS tok
            FROM {tx_view} WHERE {SQL_CLEAN}
        ), cum AS (
            SELECT conv_id, turn_idx, tok,
                   SUM(tok) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS c
            FROM clean
        )
        SELECT conv_id,
               CAST(COUNT(*) AS BIGINT) AS n_turns,
               CAST(SUM(tok) AS BIGINT) AS total_tokens,
               CAST(SUM(CASE WHEN c <= {budget} THEN 1 ELSE 0 END)
                    AS BIGINT) AS turns_within_budget,
               CAST(COALESCE(MIN(CASE WHEN c > {budget}
                                      THEN turn_idx END), -1)
                    AS BIGINT) AS cutoff_turn
        FROM cum GROUP BY conv_id
    """



TX_SERVE_BUDGET = 4000  # trailing context budget for the serving-depth view


def context_depth(routed: DataFrame,
                  budget: int = TX_SERVE_BUDGET) -> DataFrame:
    """Serving-time context DEPTH distribution: for every turn t, how many
    turns of its conversation are at least partially visible after
    truncating the history to the trailing ``budget`` tokens — the
    complement of :func:`context_cutoff` (which measures the PREFIX fit
    once per conversation, the packing view; this measures the rolling
    SUFFIX every request actually sees, the serving view).

    A turn j (token span ``(cum_j - tok_j, cum_j]``) overlaps the
    trailing window ``(cum_t - budget, cum_t]`` iff ``cum_j > cum_t -
    budget`` — so the per-turn depth is ONE fixed-offset RANGE frame over
    the token cumsum: ``COUNT(*) OVER (PARTITION BY conv ORDER BY cum
    RANGE BETWEEN budget-1 PRECEDING AND CURRENT ROW)``. No self-join,
    no per-row budget arithmetic.

    Returns the global histogram (depth, n_turns, share_permille)
    ordered by depth.

    Plan: cumsum window + range window share the conv_id partitioning —
    a single exchange — then an integer-keyed hash agg; at 10^12 turns
    both windows stream within each conversation partition and the
    histogram is map-side combined."""
    from log_collector_spark.textops import common as C
    tok = F.get_json_object("payload", "$.tokens").cast("long")
    w_cum = (Window.partitionBy("conv_id").orderBy("turn_idx")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (_clean(routed)
           .select("conv_id", "turn_idx", tok.alias("tok"))
           .withColumn("cum", F.sum("tok").over(w_cum)))
    w_rng = (Window.partitionBy("conv_id").orderBy("cum")
             .rangeBetween(-(budget - 1), 0))
    depth = cum.select(
        F.count(F.lit(1)).over(w_rng).cast("long").alias("depth"))
    hist = (depth.groupBy("depth")
                 .agg(F.count(F.lit(1)).cast("long").alias("n_turns")))
    tot = hist.agg(F.sum("n_turns").cast("long").alias("t"))
    return (hist.crossJoin(F.broadcast(tot))
                .select("depth", "n_turns",
                        C.permille(F.col("n_turns"), F.col("t"))
                         .alias("share_permille"))
                .orderBy("depth"))


def sql_context_depth(tx_view: str, budget: int = TX_SERVE_BUDGET) -> str:
    from log_collector_spark.textops import common as C
    return f"""
        WITH clean AS (
            SELECT conv_id, turn_idx, {_TOK} AS tok
            FROM {tx_view} WHERE {SQL_CLEAN}
        ), cum AS (
            SELECT conv_id,
                   SUM(tok) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum
            FROM clean
        ), d AS (
            SELECT CAST(COUNT(*) OVER (
                       PARTITION BY conv_id ORDER BY cum
                       RANGE BETWEEN {budget - 1} PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS depth
            FROM cum
        ), hist AS (
            SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_turns
            FROM d GROUP BY 1
        ), tot AS (SELECT CAST(SUM(n_turns) AS BIGINT) AS t FROM hist)
        SELECT depth, n_turns,
               {C.sql_permille('n_turns', 't')} AS share_permille
        FROM hist CROSS JOIN tot ORDER BY depth
    """



def sft_examples(routed: DataFrame,
                 budget: int = CONTEXT_BUDGET) -> DataFrame:
    """Conversation → SFT training-example assembly: one example per
    clean ASSISTANT turn, where the prompt is every prior turn of the
    conversation and the completion is the assistant turn itself — the
    materialization step that turns a transcript corpus into a
    supervised fine-tuning dataset, with the token accounting
    (prompt/completion split = the loss-mask boundary) and a
    context-budget fit flag that downstream packing/truncation uses.

    Returns per example: (conv_id, turn_idx, prompt_turns,
    prompt_tokens, completion_tokens, fits_budget).

    Plan: ONE window over (conv_id, turn_idx) with an
    unboundedPreceding→-1 frame gives both prompt counters; the
    assistant filter happens after the window so prompts still count
    user/tool/system turns. Single exchange on conv_id, no join, no
    explode — at 10^12 turns this streams within conversation
    partitions exactly like the other tx windows."""
    tok = F.get_json_object("payload", "$.tokens").cast("long")
    w = (Window.partitionBy("conv_id").orderBy("turn_idx")
         .rowsBetween(Window.unboundedPreceding, -1))
    base = (_clean(routed)
            .select("conv_id", "turn_idx", "role", tok.alias("tok"))
            .withColumn("prompt_turns",
                        F.count(F.lit(1)).over(w).cast("long"))
            .withColumn("prompt_tokens",
                        F.coalesce(F.sum("tok").over(w), F.lit(0))
                         .cast("long")))
    return (base.filter(F.col("role") == "assistant")
                .select("conv_id",
                        F.col("turn_idx").cast("long").alias("turn_idx"),
                        "prompt_turns", "prompt_tokens",
                        F.col("tok").alias("completion_tokens"),
                        (F.col("prompt_tokens") + F.col("tok")
                         <= F.lit(budget)).alias("fits_budget")))


def sql_sft_examples(tx_view: str, budget: int = CONTEXT_BUDGET) -> str:
    return f"""
        WITH clean AS (
            SELECT conv_id, turn_idx, role, {_TOK} AS tok
            FROM {tx_view} WHERE {SQL_CLEAN}
        ), base AS (
            SELECT conv_id, turn_idx, role, tok,
                   CAST(COUNT(*) OVER w AS BIGINT) AS prompt_turns,
                   CAST(COALESCE(SUM(tok) OVER w, 0) AS BIGINT)
                       AS prompt_tokens
            FROM clean
            WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING)
        )
        SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
               prompt_turns, prompt_tokens,
               CAST(tok AS BIGINT) AS completion_tokens,
               prompt_tokens + tok <= {budget} AS fits_budget
        FROM base WHERE role = 'assistant'
    """


def peak_inflight(routed: DataFrame) -> DataFrame:
    """Peak CONCURRENT tool calls per conversation — the sweep-line
    max-overlap statistic (interval_coverage measures union length; this
    measures depth). Each tool turn occupies [logtime, logtime +
    latency_ms): explode to a +1 event at start and a -1 at end, order
    by (time, delta) — the -1 sorts first at equal instants, so a call
    ending exactly when another starts never counts as overlap
    (half-open semantics) — and take the max running sum.

    One explode (2 rows per call), one conv-keyed window cumsum, one agg
    — a single exchange, same key as every other tx op. Output rows only
    for conversations with >= 1 tool call."""
    lat = F.get_json_object("payload", "$.latency_ms").cast("long")
    base = (_clean(routed)
            .filter(F.col("tool").isNotNull())
            .select("conv_id", F.col("logtime").alias("t0"),
                    (F.col("logtime") + lat).alias("t1")))
    pts = base.select(
        "conv_id",
        F.explode(F.array(
            F.struct(F.col("t0").alias("t"), F.lit(1).alias("delta")),
            F.struct(F.col("t1").alias("t"), F.lit(-1).alias("delta"))
        )).alias("p")).select("conv_id", F.col("p.t").alias("t"),
                              F.col("p.delta").alias("delta"))
    w = (Window.partitionBy("conv_id").orderBy("t", "delta")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    depth = pts.withColumn("depth", F.sum("delta").over(w))
    return (depth.groupBy("conv_id")
            .agg((F.count(F.lit(1)) / 2).cast("long").alias("n_calls"),
                 F.max("depth").cast("long").alias("peak_inflight")))


def sql_peak_inflight(tx_view: str) -> str:
    ms = "CAST(epoch_ms(strptime(regexp_extract(text, " \
         r"'^\[(\S+)\] \[([^\]]+)\] (.*)$', 2), " \
         "'%Y-%m-%d %H:%M:%S')) AS BIGINT)"
    return f"""
        WITH calls AS (
            SELECT conv_id, {ms} AS t0, {ms} + {_LAT} AS t1
            FROM {tx_view}
            WHERE {SQL_CLEAN} AND tool IS NOT NULL
        ), pts AS (
            SELECT conv_id, t0 AS t, 1 AS delta FROM calls
            UNION ALL
            SELECT conv_id, t1 AS t, -1 AS delta FROM calls
        ), d AS (
            SELECT conv_id,
                   SUM(delta) OVER (PARTITION BY conv_id
                                    ORDER BY t, delta
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS depth
            FROM pts
        )
        SELECT conv_id,
               CAST(COUNT(*) // 2 AS BIGINT) AS n_calls,
               CAST(MAX(depth) AS BIGINT) AS peak_inflight
        FROM d GROUP BY conv_id
    """


INV_SMALL_MAX = 128   # groups up to this length take the vectorized
                      # all-pairs path; longer ones the merge-count path


def _merge_count(a, leaf: int = 1024):
    """Exact inversion count of one array: numpy divide-and-conquer
    mergesort (O(n log n) numpy work, O(n/leaf) Python calls). Returns
    (count, sorted array)."""
    import numpy as np
    n = len(a)
    if n <= leaf:
        # leaf: O(leaf²) boolean matrix, still vectorized
        return int(np.triu(a[:, None] > a[None, :], 1).sum()), np.sort(a)
    mid = n // 2
    il, left = _merge_count(a[:mid], leaf)
    ir, right = _merge_count(a[mid:], leaf)
    # cross pairs (i left, j right): inversion iff left_i > right_j, so
    # count right elements strictly below each left element
    cross = int(np.searchsorted(right, left, side="left").sum())
    return il + ir + cross, np.sort(np.concatenate([left, right]))


def latency_inversions(routed: DataFrame,
                       small_max: int = INV_SMALL_MAX) -> DataFrame:
    """Per-conversation latency inversion count — of all turn pairs
    (i < j in stable turn order), how many have latency_i > latency_j
    (strict; ties are concordant-neutral). inversions == 0 means latency
    is monotone non-decreasing through the conversation (degrading
    backend); near n·(n-1)/4 means no trend — the Kendall-tau-style
    trend test without floats.

    Inversion counting is imperative divide-and-conquer that SQL can
    only state as the O(n²) pair self-join — which is exactly what the
    DuckDB oracle runs, so the clever kernel is verified against the
    brute-force definition.

    Plan: repartition on conv_id + sortWithinPartitions, then ONE
    ``mapInPandas`` call per Arrow batch (a conversation split across
    batch boundaries is carried into the next batch; repartitioning
    guarantees it never splits across partitions). The r4a
    ``applyInPandas`` form paid one Python call + pandas-frame build per
    GROUP — with Zipf-sized conversations that was ~350k calls at sf0.1
    (10.5 s); batch-level numpy drops it to one call per 60k rows
    (~1.5 s). Inside a batch: groups <= ``small_max`` turns take a fully
    vectorized all-pairs comparison (pair count bounded by
    small_max/2 · batch_rows, so worst-case scratch is ~100 MB/thread);
    longer conversations (the Zipf head) take the O(n log n) numpy
    merge-count. Same single conv_id exchange as every tx op."""
    lat = F.get_json_object("payload", "$.latency_ms").cast("long")
    base = (_clean(routed)
            .select("conv_id", "turn_idx", lat.alias("lat"))
            .filter(F.col("lat").isNotNull()))
    part = (base.repartition("conv_id")
                .sortWithinPartitions("conv_id", "turn_idx"))

    def process(pdf):
        import numpy as np
        import pandas as pd
        conv = pdf["conv_id"].to_numpy()
        s = pdf["lat"].to_numpy(dtype="int64")
        n = len(conv)
        change = np.flatnonzero(conv[1:] != conv[:-1]) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [n]))
        lens = ends - starts
        g = len(lens)
        gid_row = np.repeat(np.arange(g), lens)
        start_row = np.repeat(starts, lens)
        inv = np.zeros(g, dtype="int64")
        small_rows = np.flatnonzero((lens <= small_max)[gid_row])
        if small_rows.size:
            pos = small_rows - start_row[small_rows]   # 0..len-1 in group
            pj = np.repeat(small_rows, pos)            # each row j pairs
            cum = np.concatenate(([0], np.cumsum(pos)))  # with i < j
            bp = np.arange(int(pos.sum())) - np.repeat(cum[:-1], pos)
            pi = start_row[pj] + bp
            inv += np.bincount(gid_row[pj], (s[pi] > s[pj]).astype("int64"),
                               minlength=g).astype("int64")
        for gi in np.flatnonzero(lens > small_max):
            inv[gi] = _merge_count(s[starts[gi]:ends[gi]])[0]
        return pd.DataFrame({"conv_id": conv[starts],
                             "n_turns": lens.astype("int64"),
                             "inversions": inv})

    def gen(batches):
        import numpy as np
        import pandas as pd
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            conv = pdf["conv_id"].to_numpy()
            cut = int(np.searchsorted(conv, conv[-1]))  # sorted by conv_id
            carry = pdf.iloc[cut:]
            if cut:
                yield process(pdf.iloc[:cut])
        if carry is not None and len(carry):
            yield process(carry)

    return part.mapInPandas(
        gen, "conv_id string, n_turns long, inversions long")


def sql_latency_inversions(tx_view: str) -> str:
    # TRY_CAST: the WHERE conjunction order is not guaranteed, so the
    # regex cast may run on a corrupt row before SQL_CLEAN filters it —
    # CAST('' AS BIGINT) is a hard error in DuckDB, TRY_CAST yields NULL
    lat = ("TRY_CAST(regexp_extract(text, '\"latency_ms\":(\\d+)', 1)"
           " AS BIGINT)")
    return f"""
        WITH clean AS (
            SELECT conv_id, turn_idx, {lat} AS lat
            FROM {tx_view}
            WHERE {SQL_CLEAN} AND {lat} IS NOT NULL
        )
        SELECT a.conv_id,
               CAST(COUNT(DISTINCT a.turn_idx) AS BIGINT) AS n_turns,
               CAST(COALESCE(SUM(CASE WHEN a.turn_idx < b.turn_idx
                                       AND a.lat > b.lat
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS inversions
        FROM clean a JOIN clean b ON b.conv_id = a.conv_id
        GROUP BY a.conv_id
    """


def turn_holes(routed: DataFrame) -> DataFrame:
    """Per-conversation dropped-turn audit: which conversations have HOLES
    in their turn-index sequence after routing, how many, and where the
    first one is. Routing removes blank / oversize / parse-failed turns
    (the reference's filter semantics), so a hole is exactly "a turn this
    pipeline discarded" — the per-conversation accounting of the global
    failure tallies, and the QA view a training-data consumer reads
    before trusting a conversation as a contiguous dialog.

    Under stable (conv_id, turn_idx) order: rn = row_number − 1 equals
    turn_idx for a gap-free prefix, so the first row with
    turn_idx ≠ rn marks the first hole (at index rn), and
    max_turn_idx + 1 − n_turns counts them. One conv_id window + one agg
    — a single shuffle, same exchange the other tx reports share.

    Returns (conv_id, n_turns, max_turn_idx, n_holes, first_hole_idx)
    for conversations with n_holes > 0, ORDER BY conv_id."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    marked = (_clean(routed)
              .select("conv_id", F.col("turn_idx").cast("long")
                      .alias("turn_idx"))
              .distinct()
              .withColumn("rn", F.row_number().over(w).cast("long") - 1))
    return (marked.groupBy("conv_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                 F.max("turn_idx").cast("long").alias("max_turn_idx"),
                 (F.max("turn_idx") + 1 - F.count(F.lit(1))).cast("long")
                 .alias("n_holes"),
                 F.min(F.when(F.col("turn_idx") != F.col("rn"),
                              F.col("rn"))).cast("long")
                 .alias("first_hole_idx"))
            .filter(F.col("n_holes") > 0)
            .orderBy("conv_id"))


def sql_turn_holes(tx_view: str) -> str:
    return f"""
        WITH clean AS (
            SELECT DISTINCT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx
            FROM {tx_view}
            WHERE {SQL_CLEAN}
        ), marked AS (
            SELECT conv_id, turn_idx,
                   CAST(ROW_NUMBER() OVER (
                        PARTITION BY conv_id ORDER BY turn_idx) - 1
                        AS BIGINT) AS rn
            FROM clean
        )
        SELECT conv_id,
               CAST(COUNT(*) AS BIGINT) AS n_turns,
               CAST(MAX(turn_idx) AS BIGINT) AS max_turn_idx,
               CAST(MAX(turn_idx) + 1 - COUNT(*) AS BIGINT) AS n_holes,
               CAST(MIN(CASE WHEN turn_idx <> rn THEN rn END) AS BIGINT)
                   AS first_hole_idx
        FROM marked
        GROUP BY conv_id
        HAVING MAX(turn_idx) + 1 - COUNT(*) > 0
        ORDER BY conv_id
    """


TOOL_PCTS = (50, 90, 99)


def tool_latency_percentiles(routed: DataFrame,
                             pcts: tuple = TOOL_PCTS) -> DataFrame:
    """Per-tool EXACT latency percentiles by rank selection — the SLA
    table (p50/p90/p99) `tool_latency`'s sum/min/max cannot answer, and
    `approx_percentile` answers only non-reproducibly.

    The selected value at ceil(p·n/100) is order-deterministic however
    ties are numbered (equal latencies yield the same value at any rank
    inside the tie), so the output is hash-stable with no tiebreak
    column.

    Plan: pre-aggregate to a (tool, latency) HISTOGRAM first (one hash
    agg with map-side combine — this is the 100-TB shape: rows shuffled
    drop from n_turns to n_distinct_latencies), then rank-select on the
    cumulative count with one window over the metadata-scale histogram.
    The value at rank r is the unique lat with cum_prev < r <= cum, so
    ties collapse into one histogram row and the selection is exact.
    A row_number over the raw rows would funnel every turn of the
    hottest tool through one single-threaded sort; the histogram form
    sorts only distinct latencies per tool.

    Returns (tool, n_turns, p50_ms, p90_ms, p99_ms), ORDER BY tool."""
    lat = F.get_json_object("payload", "$.latency_ms").cast("long")
    base = (_clean(routed).select("tool", lat.alias("lat"))
            .filter(F.col("lat").isNotNull()))
    hist = base.groupBy("tool", "lat").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    w = Window.partitionBy("tool").orderBy("lat")
    wn = Window.partitionBy("tool")
    ranked = (hist.withColumn("cum", F.sum("cnt").over(w).cast("long"))
                  .withColumn("n", F.sum("cnt").over(wn).cast("long")))
    aggs = [F.max("n").cast("long").alias("n_turns")]
    for p in pcts:
        r = F.expr(f"(n * {p} + 99) div 100")
        aggs.append(F.max(F.when(
            (F.col("cum") - F.col("cnt") < r) & (F.col("cum") >= r),
            F.col("lat"))).cast("long").alias(f"p{p}_ms"))
    return ranked.groupBy("tool").agg(*aggs).orderBy("tool")


def sql_tool_latency_percentiles(tx_view: str,
                                 pcts: tuple = TOOL_PCTS) -> str:
    cols = ",\n               ".join(
        f"CAST(MAX(CASE WHEN rn = (n * {p} + 99) // 100 THEN lat END) "
        f"AS BIGINT) AS p{p}_ms" for p in pcts)
    # TRY_CAST: regexp_extract yields '' (not NULL) on corrupt payloads,
    # and DuckDB's WHERE gives no short-circuit guarantee vs SQL_CLEAN.
    lat = ("TRY_CAST(regexp_extract(text, '\"latency_ms\":(\\d+)', 1) "
           "AS BIGINT)")
    return f"""
        WITH base AS (
            SELECT tool, {lat} AS lat FROM {tx_view}
            WHERE {SQL_CLEAN} AND {lat} IS NOT NULL
        ), ranked AS (
            SELECT tool, lat,
                   CAST(ROW_NUMBER() OVER (
                        PARTITION BY tool ORDER BY lat) AS BIGINT) AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY tool) AS BIGINT) AS n
            FROM base
        )
        SELECT tool, CAST(COUNT(*) AS BIGINT) AS n_turns,
               {cols}
        FROM ranked
        GROUP BY tool
        ORDER BY tool
    """


RETRY_MIN_RUN = 3


def retry_storms(routed: DataFrame,
                 min_run: int = RETRY_MIN_RUN) -> DataFrame:
    """Retry-storm detector: runs of >= ``min_run`` CONSECUTIVE calls to
    the SAME tool inside one conversation (the agent-loop pathology — a
    tool failing and being re-invoked back-to-back). 'none' and NULL
    tool turns are excluded BEFORE adjacency, so a storm interrupted
    only by non-tool turns still counts as one run (same clean-sequence
    contract as slow_streaks).

    Gaps-and-islands on the tool-change flag under the shared conv_id
    exchange: flag = tool != lag(tool), run id = running sum, one agg
    per run, one rollup per (conv, tool).

    Returns (conv_id, tool, n_runs, n_storms, max_run) for conversations
    whose longest same-tool run reaches ``min_run``, ORDER BY
    (conv_id, tool)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    m = (_clean(routed)
         .filter(F.col("tool").isNotNull() & (F.col("tool") != "none"))
         .select("conv_id", "turn_idx", "tool")
         .withColumn("chg", F.when(
             F.col("tool") == F.lag("tool").over(w), F.lit(0))
             .otherwise(F.lit(1)))
         .withColumn("run_id", F.sum("chg").over(
             w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    runs = (m.groupBy("conv_id", "tool", "run_id")
            .agg(F.count(F.lit(1)).alias("len")))
    return (runs.groupBy("conv_id", "tool")
            .agg(F.count(F.lit(1)).cast("long").alias("n_runs"),
                 F.sum((F.col("len") >= min_run).cast("long")).cast("long")
                 .alias("n_storms"),
                 F.max("len").cast("long").alias("max_run"))
            .filter(F.col("max_run") >= min_run)
            .orderBy("conv_id", "tool"))


def sql_retry_storms(tx_view: str, min_run: int = RETRY_MIN_RUN) -> str:
    return f"""
        WITH clean AS (
            SELECT conv_id, turn_idx, tool FROM {tx_view}
            WHERE {SQL_CLEAN} AND tool IS NOT NULL AND tool <> 'none'
        ), m AS (
            SELECT conv_id, turn_idx, tool,
                   CASE WHEN tool = lag(tool) OVER (
                        PARTITION BY conv_id ORDER BY turn_idx)
                        THEN 0 ELSE 1 END AS chg
            FROM clean
        ), r AS (
            SELECT conv_id, tool,
                   SUM(chg) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS run_id
            FROM m
        ), runs AS (
            SELECT conv_id, tool, run_id, COUNT(*) AS len
            FROM r GROUP BY conv_id, tool, run_id
        )
        SELECT conv_id, tool,
               CAST(COUNT(*) AS BIGINT) AS n_runs,
               CAST(SUM(CASE WHEN len >= {min_run} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_storms,
               CAST(MAX(len) AS BIGINT) AS max_run
        FROM runs
        GROUP BY conv_id, tool
        HAVING MAX(len) >= {min_run}
        ORDER BY conv_id, tool
    """


BAND_PCTS = (50, 95)


def latency_bands_hourly(routed: DataFrame,
                         pcts: tuple = BAND_PCTS) -> DataFrame:
    """Hourly latency bands: per event-time hour, EXACT p50/p95 by rank
    selection — the ops-dashboard time series (`tool_latency_percentiles`
    collapsed over time tells you THAT p95 is bad; this tells you WHEN).

    Same rank-selection idiom, windows partitioned by hour — thousands of
    independent partitions, each one hour of turns, so the per-partition
    sort stays small at any corpus scale (the one structure where a raw
    rank sort is cheaper than histogram pre-aggregation).

    Returns (hour_idx, n_turns, p50_ms, p95_ms), ORDER BY hour_idx."""
    lat = F.get_json_object("payload", "$.latency_ms").cast("long")
    hour = F.expr("unix_micros(cast(ts as timestamp)) "
                  "div 1000 div 3600000").cast("long")
    base = (_clean(routed)
            .select(hour.alias("hour_idx"), lat.alias("lat"))
            .filter(F.col("lat").isNotNull()))
    w = Window.partitionBy("hour_idx").orderBy("lat")
    wn = Window.partitionBy("hour_idx")
    ranked = (base.withColumn("rn", F.row_number().over(w).cast("long"))
                  .withColumn("n", F.count(F.lit(1)).over(wn).cast("long")))
    aggs = [F.count(F.lit(1)).cast("long").alias("n_turns")]
    for p in pcts:
        aggs.append(F.max(F.when(F.col("rn") == F.expr(
            f"(n * {p} + 99) div 100"), F.col("lat"))).cast("long")
            .alias(f"p{p}_ms"))
    return ranked.groupBy("hour_idx").agg(*aggs).orderBy("hour_idx")


def sql_latency_bands_hourly(tx_view: str,
                             pcts: tuple = BAND_PCTS) -> str:
    lat = ("TRY_CAST(regexp_extract(text, '\"latency_ms\":(\\d+)', 1) "
           "AS BIGINT)")
    cols = ",\n               ".join(
        f"CAST(MAX(CASE WHEN rn = (n * {p} + 99) // 100 THEN lat END) "
        f"AS BIGINT) AS p{p}_ms" for p in pcts)
    return f"""
        WITH base AS (
            SELECT CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS hour_idx,
                   {lat} AS lat
            FROM {tx_view}
            WHERE {SQL_CLEAN} AND {lat} IS NOT NULL
        ), ranked AS (
            SELECT hour_idx, lat,
                   CAST(ROW_NUMBER() OVER (PARTITION BY hour_idx
                        ORDER BY lat) AS BIGINT) AS rn,
                   CAST(COUNT(*) OVER (PARTITION BY hour_idx) AS BIGINT)
                       AS n
            FROM base
        )
        SELECT hour_idx, CAST(COUNT(*) AS BIGINT) AS n_turns,
               {cols}
        FROM ranked
        GROUP BY hour_idx
        ORDER BY hour_idx
    """


REDUNDANCY_K = 3


def conversation_redundancy(routed: DataFrame,
                            k: int = REDUNDANCY_K) -> DataFrame:
    """Per-conversation token redundancy: type-token ratio and the share
    of repeated word k-grams across the WHOLE conversation (all clean
    turns pooled) — the multi-turn self-repetition signal (a model
    restating itself across turns shows low TTR and a high repeated-
    shingle share even when each single turn looks fine).

    ONE explode of a kind-tagged union array (token hashes ++ shingle
    hashes, both 60-bit — text leaves the conversation partition only as
    hashes), then two stacked hash aggs: (conv, kind, hash) → counts,
    then (conv) → the report. The r4a form ran token and shingle
    branches as separate subtrees, so the upstream parse UDF executed
    TWICE and distinct-token counting paid its own expansion; the tagged
    union reads the parsed text once, and distinct_tokens falls out of
    the first agg for free (one row per distinct hash).

    Hashes here are INTERNAL (outputs are counts, never hash values), so
    Spark uses native ``xxhash64`` rather than the cross-engine md5-based
    ``h60`` — the DuckDB oracle counts distinct raw strings, and distinct
    counts agree as long as neither side collides (64-bit space,
    ~n²/2^65 odds — and a collision would fail the oracle loudly).

    Returns (conv_id, n_tokens, distinct_tokens, ttr_permille,
    n_shingles, repeated_shingle_permille), ORDER BY conv_id."""
    from log_collector_spark.textops import common as C

    toks = C.tokens(F.col("text"))
    tagged = F.concat(
        F.transform(toks, lambda t: F.struct(
            F.lit(1).alias("kind"), F.xxhash64(t).alias("h"))),
        F.transform(C.shingles(toks, k), lambda s: F.struct(
            F.lit(2).alias("kind"), F.xxhash64(s).alias("h"))))
    pooled = (_clean(routed)
              .select("conv_id", F.explode(tagged).alias("e"))
              .select("conv_id", F.col("e.kind").alias("kind"),
                      F.col("e.h").alias("h")))
    per_h = (pooled.groupBy("conv_id", "kind", "h")
             .agg(F.count(F.lit(1)).alias("c")))
    is_tok = F.col("kind") == 1
    is_sh = F.col("kind") == 2
    stats = (per_h.groupBy("conv_id")
             .agg(F.sum(F.when(is_tok, F.col("c")).otherwise(0))
                  .cast("long").alias("n_tokens"),
                  F.sum(F.when(is_tok, 1).otherwise(0)).cast("long")
                  .alias("distinct_tokens"),
                  F.sum(F.when(is_sh, F.col("c")).otherwise(0))
                  .cast("long").alias("n_shingles"),
                  F.sum(F.when(is_sh, F.col("c") - 1).otherwise(0))
                  .cast("long").alias("rep"))
             .filter(F.col("n_tokens") > 0))
    return (stats
            .select("conv_id", "n_tokens", "distinct_tokens",
                    C.permille(F.col("distinct_tokens"),
                               F.col("n_tokens")).alias("ttr_permille"),
                    F.col("n_shingles"),
                    C.permille(F.col("rep"), F.col("n_shingles"))
                    .alias("repeated_shingle_permille"))
            .orderBy("conv_id"))


def sql_conversation_redundancy(tx_view: str,
                                k: int = REDUNDANCY_K) -> str:
    from log_collector_spark.textops import common as C

    tok = C.sql_tokens("text")
    sh = C.sql_shingles(C.sql_tokens("text"), k)
    th = C.sql_h60("tok")
    shh = C.sql_h60("s")
    return f"""
        WITH clean AS (
            SELECT conv_id, text FROM {tx_view} WHERE {SQL_CLEAN}
        ),
        toks AS (
            SELECT conv_id, {th} AS th
            FROM (SELECT conv_id, unnest({tok}) AS tok FROM clean)
        ),
        t_stats AS (
            SELECT conv_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(COUNT(DISTINCT th) AS BIGINT) AS distinct_tokens
            FROM toks GROUP BY conv_id
        ),
        shs AS (
            SELECT conv_id, {shh} AS sh
            FROM (SELECT conv_id, unnest({sh}) AS s FROM clean)
        ),
        per_sh AS (
            SELECT conv_id, sh, CAST(COUNT(*) AS BIGINT) AS c
            FROM shs GROUP BY conv_id, sh
        ),
        s_stats AS (
            SELECT conv_id,
                   CAST(SUM(c) AS BIGINT) AS n_shingles,
                   CAST(SUM(c - 1) AS BIGINT) AS rep
            FROM per_sh GROUP BY conv_id
        )
        SELECT t.conv_id, t.n_tokens, t.distinct_tokens,
               {C.sql_permille('t.distinct_tokens', 't.n_tokens')}
                   AS ttr_permille,
               CAST(COALESCE(s.n_shingles, 0) AS BIGINT) AS n_shingles,
               {C.sql_permille('COALESCE(s.rep, 0)',
                               'COALESCE(s.n_shingles, 0)')}
                   AS repeated_shingle_permille
        FROM t_stats t LEFT JOIN s_stats s ON t.conv_id = s.conv_id
        ORDER BY t.conv_id
    """


def parse_health_hourly(routed: DataFrame) -> DataFrame:
    """Hourly parse-health series over the RAW routed frame (not the
    clean slice): the reference's per-source success/error counters
    (ReaderMetrics) unrolled into a time series — total lines, skipped
    blanks, oversize rejects, parse failures, clean rows, and the ok
    share over attempted (non-blank) lines.

    One hash agg of flag sums keyed on the event-time hour; the routing
    decision table itself is the measurand, so a routing regression
    shifts these rows (the oracle reconstructs every predicate from raw
    parquet).

    Returns (hour_idx, n_lines, n_blank, n_oversize, n_parse_fail,
    n_ok, ok_permille), ORDER BY hour_idx."""
    from log_collector_spark.textops import common as C

    hour = F.expr("unix_micros(cast(ts as timestamp)) "
                  "div 1000 div 3600000").cast("long")
    flags = routed.select(
        hour.alias("hour_idx"),
        F.col("is_blank").cast("long").alias("b"),
        (~F.col("is_blank") & F.col("is_oversize")).cast("long")
        .alias("o"),
        (~F.col("is_blank") & ~F.col("is_oversize")
         & ~F.col("parse_ok")).cast("long").alias("f"),
        (~F.col("is_blank") & ~F.col("is_oversize")
         & F.col("parse_ok")).cast("long").alias("k"))
    agg = (flags.groupBy("hour_idx")
           .agg(F.count(F.lit(1)).cast("long").alias("n_lines"),
                F.sum("b").cast("long").alias("n_blank"),
                F.sum("o").cast("long").alias("n_oversize"),
                F.sum("f").cast("long").alias("n_parse_fail"),
                F.sum("k").cast("long").alias("n_ok")))
    return (agg.withColumn(
                "ok_permille",
                C.permille(F.col("n_ok"),
                           F.col("n_lines") - F.col("n_blank")))
            .orderBy("hour_idx"))


def sql_parse_health_hourly(tx_view: str) -> str:
    return f"""
        WITH flags AS (
            SELECT CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS hour_idx,
                   CASE WHEN {parse_ops.SQL_BLANK}
                        THEN 1 ELSE 0 END AS b,
                   CASE WHEN NOT {parse_ops.SQL_BLANK}
                             AND strlen(text) >= 8192
                        THEN 1 ELSE 0 END AS o,
                   CASE WHEN NOT {parse_ops.SQL_BLANK}
                             AND strlen(text) < 8192
                             AND text LIKE 'corrupt#%'
                        THEN 1 ELSE 0 END AS f,
                   CASE WHEN NOT {parse_ops.SQL_BLANK}
                             AND strlen(text) < 8192
                             AND text NOT LIKE 'corrupt#%'
                        THEN 1 ELSE 0 END AS k
            FROM {tx_view}
        ),
        agg AS (
            SELECT hour_idx,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST(SUM(b) AS BIGINT) AS n_blank,
                   CAST(SUM(o) AS BIGINT) AS n_oversize,
                   CAST(SUM(f) AS BIGINT) AS n_parse_fail,
                   CAST(SUM(k) AS BIGINT) AS n_ok
            FROM flags GROUP BY hour_idx
        )
        SELECT hour_idx, n_lines, n_blank, n_oversize, n_parse_fail,
               n_ok,
               CAST(CASE WHEN n_lines - n_blank > 0
                    THEN n_ok * 1000 // (n_lines - n_blank)
                    ELSE 0 END AS BIGINT) AS ok_permille
        FROM agg
        ORDER BY hour_idx
    """


def token_midpoint_histogram(routed: DataFrame) -> DataFrame:
    """Token-mass pacing: in what fraction of a conversation's turns does
    the FIRST HALF of its tokens arrive? For each conversation, find the
    first turn (stable turn order) whose running token sum reaches half
    the conversation total, convert its position to a permille of the
    conversation length, and histogram conversations by the decile of
    that position. Front-loaded conversations (long prompts, short
    replies) pile into low deciles; back-loaded ones into high — the
    shape decides chunking/packing strategy for transcript training data.

    Returns (midpoint_decile, n_convs) ordered by decile.

    Plan: one conv_id exchange evaluates both windows (running sum +
    conversation total); the midpoint pick is a MIN over qualifying turns
    (no second shuffle), and the histogram is a 10-row hash agg."""
    tok = F.get_json_object("payload", "$.tokens").cast("long")
    base = (_clean(routed)
            .select("conv_id", "turn_idx", tok.alias("tok"))
            .filter(F.col("tok").isNotNull()))
    wcum = (Window.partitionBy("conv_id").orderBy("turn_idx")
                  .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy("conv_id")
    g = (base.withColumn("cum", F.sum("tok").over(wcum))
             .withColumn("total", F.sum("tok").over(wall))
             .withColumn("rn", F.row_number().over(
                 Window.partitionBy("conv_id").orderBy("turn_idx")))
             .withColumn("n_turns", F.count(F.lit(1)).over(wall)))
    mid = (g.filter(F.col("cum") * 2 >= F.col("total"))
            .groupBy("conv_id")
            .agg(F.min(F.col("rn")).alias("mid_rn"),
                 F.min("n_turns").alias("n_turns")))
    # integer-only arithmetic (n_turns >= 1 by construction): exact match
    # with the oracle's // chain — a double division here can land one ulp
    # under an integer boundary and shift the floor
    dec = F.least(
        F.expr("((mid_rn - 1) * 1000 DIV n_turns) DIV 100"),
        F.lit(9).cast("long")).cast("long")
    return (mid.select(dec.alias("midpoint_decile"))
               .groupBy("midpoint_decile")
               .agg(F.count(F.lit(1)).cast("long").alias("n_convs"))
               .orderBy("midpoint_decile"))


def sql_token_midpoint_histogram(tx_view: str) -> str:
    # TRY_CAST: WHERE conjunct order is not guaranteed, so the regex cast
    # may hit a corrupt row before SQL_CLEAN filters it (same hazard as
    # sql_latency_inversions)
    tok = ("TRY_CAST(regexp_extract(text, '\"tokens\":(\\d+)', 1)"
           " AS BIGINT)")
    return f"""
        WITH base AS (
            SELECT conv_id, turn_idx, {tok} AS tok
            FROM {tx_view}
            WHERE {SQL_CLEAN} AND {tok} IS NOT NULL
        ), g AS (
            SELECT conv_id,
                   SUM(tok) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                  ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(tok) OVER (PARTITION BY conv_id) AS total,
                   ROW_NUMBER() OVER (PARTITION BY conv_id
                                      ORDER BY turn_idx) AS rn,
                   COUNT(*) OVER (PARTITION BY conv_id) AS n_turns
            FROM base
        ), mid AS (
            SELECT conv_id, MIN(rn) AS mid_rn, MIN(n_turns) AS n_turns
            FROM g WHERE cum * 2 >= total GROUP BY conv_id
        )
        SELECT CAST(LEAST(((mid_rn - 1) * 1000 // n_turns) // 100, 9)
                    AS BIGINT) AS midpoint_decile,
               CAST(COUNT(*) AS BIGINT) AS n_convs
        FROM mid GROUP BY 1 ORDER BY midpoint_decile
    """


# ---------------------------------------------------------------------------
# LLM-serving economics: prefix-cache hit rate per conversation
# ---------------------------------------------------------------------------

def prefix_cache_rate(routed: DataFrame) -> DataFrame:
    """Per-conversation prefix-cache economics: every turn of a chat/agent
    session re-submits the whole conversation prefix, so with a prefix
    cache the *cachable* token mass is Σᵢ prefix_tokensᵢ and the total
    *processed* mass without one is Σᵢ (prefixᵢ + turnᵢ). The hit-rate
    permille = cachable/processed is exactly the serving-cost multiplier a
    cache removes — deep conversations approach 1000 (almost all compute
    is replayed prefix), one-shot ones sit at 0. This is the
    capacity-planning number for the transcript-serving fleet.

    Returns (conv_id, n_turns, total_tokens, cachable_tokens,
    processed_tokens, hit_permille), ORDER BY conv_id.

    Plan: the same single conv_id exchange as every tx op — one running
    window (prefix = cum - tok falls out of it) + one hash agg; integer
    sums only."""
    tok = F.get_json_object("payload", "$.tokens").cast("long")
    base = (_clean(routed)
            .select("conv_id", "turn_idx", tok.alias("tok"))
            .filter(F.col("tok").isNotNull()))
    wcum = (Window.partitionBy("conv_id").orderBy("turn_idx")
                  .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    g = base.withColumn("cum", F.sum("tok").over(wcum))
    from log_collector_spark.textops import common as C
    return (g.groupBy("conv_id")
             .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                  F.sum("tok").cast("long").alias("total_tokens"),
                  F.sum(F.col("cum") - F.col("tok")).cast("long")
                   .alias("cachable_tokens"),
                  F.sum("cum").cast("long").alias("processed_tokens"))
             .withColumn("hit_permille",
                         C.permille(F.col("cachable_tokens"),
                                    F.col("processed_tokens")))
             .orderBy("conv_id"))


def sql_prefix_cache_rate(tx_view: str) -> str:
    tok = ("TRY_CAST(regexp_extract(text, '\"tokens\":(\\d+)', 1)"
           " AS BIGINT)")
    return f"""
        WITH base AS (
            SELECT conv_id, turn_idx, {tok} AS tok
            FROM {tx_view}
            WHERE {SQL_CLEAN} AND {tok} IS NOT NULL
        ), g AS (
            SELECT conv_id, tok,
                   SUM(tok) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                  ROWS UNBOUNDED PRECEDING) AS cum
            FROM base
        ), agg AS (
            SELECT conv_id,
                   CAST(COUNT(*) AS BIGINT) AS n_turns,
                   CAST(SUM(tok) AS BIGINT) AS total_tokens,
                   CAST(SUM(cum - tok) AS BIGINT) AS cachable_tokens,
                   CAST(SUM(cum) AS BIGINT) AS processed_tokens
            FROM g GROUP BY conv_id
        )
        SELECT conv_id, n_turns, total_tokens, cachable_tokens,
               processed_tokens,
               CAST(CASE WHEN processed_tokens > 0
                         THEN cachable_tokens * 1000 // processed_tokens
                         ELSE 0 END AS BIGINT) AS hit_permille
        FROM agg ORDER BY conv_id
    """


# ---------------------------------------------------------------------------
# Payload JSON schema-drift monitor
# ---------------------------------------------------------------------------

def json_schema_drift(routed: DataFrame) -> DataFrame:
    """Payload key census per logtype — the schema-drift monitor for the
    semi-structured column: which JSON keys appear under each logtype and
    in what share of its turns. A producer that starts emitting a new
    field (or drops one) moves a key's share_permille away from 1000,
    which is the alert condition; the full key set is also what a
    schema-on-read consumer must budget for.

    Returns (logtype, key, n_turns, share_permille) ordered.

    Plan: keys come from one regexp_extract_all over the already-parsed
    payload capture (JVM, no JSON library in the hot path), one narrow
    explode, one (logtype, key) hash agg with map-side combine, plus a
    broadcast-sized per-logtype totals join (|logtypes| rows)."""
    from log_collector_spark.textops import common as C
    keys = F.regexp_extract_all(F.col("payload"), F.lit(r'"(\w+)":'), 1)
    per = (_clean(routed)
           .select("logtype", F.explode(keys).alias("key"))
           .groupBy("logtype", "key")
           .agg(F.count(F.lit(1)).cast("long").alias("n_turns")))
    tot = (_clean(routed).groupBy("logtype")
           .agg(F.count(F.lit(1)).cast("long").alias("lt_n")))
    return (per.join(F.broadcast(tot), "logtype")
               .select("logtype", "key", "n_turns",
                       C.permille(F.col("n_turns"), F.col("lt_n"))
                        .alias("share_permille"))
               .orderBy("logtype", "key"))


def sql_json_schema_drift(tx_view: str) -> str:
    # the payload is the trailing {...} of the demo line; keys regexed from
    # the raw text match only inside it (the prefix has no '"key":' shape)
    return f"""
        WITH clean AS (
            SELECT regexp_extract(text, '^\\[(\\S+)\\]', 1) AS logtype, text
            FROM {tx_view} WHERE {SQL_CLEAN}
        ), per AS (
            SELECT logtype, key, CAST(COUNT(*) AS BIGINT) AS n_turns
            FROM (
                SELECT logtype,
                       unnest(regexp_extract_all(text, '"(\\w+)":', 1)) AS key
                FROM clean
            ) GROUP BY 1, 2
        ), tot AS (
            SELECT logtype, CAST(COUNT(*) AS BIGINT) AS lt_n
            FROM clean GROUP BY 1
        )
        SELECT per.logtype, per.key, per.n_turns,
               CAST(CASE WHEN tot.lt_n > 0
                         THEN per.n_turns * 1000 // tot.lt_n
                         ELSE 0 END AS BIGINT) AS share_permille
        FROM per JOIN tot USING (logtype)
        ORDER BY logtype, key
    """


# ---------------------------------------------------------------------------
# Interaction-shape duplicate conversations (conversation-level dedup)
# ---------------------------------------------------------------------------

SHAPE_MIN_CONVS = 2


def shape_dupes(routed: DataFrame,
                min_convs: int = SHAPE_MIN_CONVS) -> DataFrame:
    """Conversations with IDENTICAL interaction shapes — the ordered
    (role, tool) sequence of their clean turns — across different
    conv_ids: scripted bots, replayed canned sessions, and template
    traffic all collapse onto a handful of shapes, while organic
    conversations spread. The conversation-level sibling of the
    turn-level dedup family (text hashes differ per run; the SHAPE is
    what a script repeats).

    Returns (shape_h, len_turns, n_convs) for shapes shared by >=
    ``min_convs`` conversations, ORDER BY (n_convs DESC, shape_h).

    Plan: one conv_id hash agg collects each conversation's (turn_idx,
    role, tool) structs (group size = conversation length, the same
    bound every whole-conversation op here relies on), the shape string
    is a narrow in-row sort+join, and the dedup is a second hash agg on
    the 60-bit shape hash — conversation text never moves."""
    from log_collector_spark.textops import common as C
    g = (_clean(routed)
         .select("conv_id", "turn_idx", "role", "tool")
         .groupBy("conv_id")
         .agg(F.sort_array(F.collect_list(F.struct(
             "turn_idx", "role", "tool"))).alias("ts")))
    shape = F.array_join(
        F.transform("ts", lambda t: F.concat_ws(
            "/", t["role"], F.coalesce(t["tool"], F.lit("-")))), "|")
    per = g.select(C.h60(shape).alias("shape_h"),
                   F.size("ts").cast("long").alias("len_turns"))
    return (per.groupBy("shape_h", "len_turns")
               .agg(F.count(F.lit(1)).cast("long").alias("n_convs"))
               .filter(F.col("n_convs") >= min_convs)
               .orderBy(F.desc("n_convs"), "shape_h"))


def sql_shape_dupes(tx_view: str,
                    min_convs: int = SHAPE_MIN_CONVS) -> str:
    from log_collector_spark.textops import common as C
    shape = C.sql_h60("shape")
    return f"""
        WITH per AS (
            SELECT conv_id,
                   string_agg(role || '/' || coalesce(tool, '-'),
                              '|' ORDER BY turn_idx) AS shape,
                   CAST(COUNT(*) AS BIGINT) AS len_turns
            FROM {tx_view}
            WHERE {SQL_CLEAN}
            GROUP BY conv_id
        )
        SELECT {shape} AS shape_h, len_turns,
               CAST(COUNT(*) AS BIGINT) AS n_convs
        FROM per
        GROUP BY 1, 2
        HAVING COUNT(*) >= {min_convs}
        ORDER BY n_convs DESC, shape_h
    """


# ---------------------------------------------------------------------------
# §2.10 completions: pandas GROUPED_AGG UDAF + Arrow-native grouped map
# ---------------------------------------------------------------------------

def tool_latency_mad_udaf(routed: DataFrame) -> DataFrame:
    """Per-tool latency lower-median and MAD (median absolute deviation
    from it) via pandas GROUPED_AGG UDAFs — the two-pass robust statistic
    that is genuinely awkward declaratively (the histogram rank-selection
    in tool_latency_percentiles needs one window PER pass) and one numpy
    line per group in a UDAF. Completes the §2.10 UDF matrix's aggregate
    row. Lower-median = value at rank ceil(n/2) — integer-exact, no
    averaging, so the oracle can rank-select the same value.

    UDAF contract at scale: each group funnels through ONE task, so this
    form is for BOUNDED-cardinality keys (tools: dozens). Unbounded keys
    (conv_id, user) must use the histogram/window form instead — that
    asymmetry is the reason both exist.

    Returns (tool, n_turns, median_ms, mad_ms), ORDER BY tool."""
    from pyspark.sql.functions import pandas_udf

    # GROUPED_AGG UDAFs cannot mix with built-in aggregates in one agg()
    # (INVALID_PANDAS_UDF_PLACEMENT), so the count is a UDAF too
    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return int(len(v))

    @pandas_udf("long")
    def lo_median(v: pd.Series) -> int:
        import numpy as np
        a = np.sort(v.to_numpy(dtype="int64"))
        return int(a[(len(a) + 1) // 2 - 1])

    @pandas_udf("long")
    def lo_mad(v: pd.Series) -> int:
        import numpy as np
        a = np.sort(v.to_numpy(dtype="int64"))
        med = a[(len(a) + 1) // 2 - 1]
        d = np.sort(np.abs(a - med))
        return int(d[(len(d) + 1) // 2 - 1])

    lat = F.get_json_object("payload", "$.latency_ms").cast("long")
    base = (_clean(routed).select("tool", lat.alias("lat"))
            .filter(F.col("lat").isNotNull() & F.col("tool").isNotNull()))
    return (base.groupBy("tool")
            .agg(n_rows("lat").alias("n_turns"),
                 lo_median("lat").alias("median_ms"),
                 lo_mad("lat").alias("mad_ms"))
            .orderBy("tool"))


def sql_tool_latency_mad(tx_view: str) -> str:
    lat = ("TRY_CAST(regexp_extract(text, '\"latency_ms\":(\\d+)', 1) "
           "AS BIGINT)")
    return f"""
        WITH base AS (
            SELECT tool, {lat} AS lat FROM {tx_view}
            WHERE {SQL_CLEAN} AND {lat} IS NOT NULL AND tool IS NOT NULL
        ), med AS (
            SELECT tool, CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN lat END)
                              AS BIGINT) AS median_ms,
                   CAST(MAX(n) AS BIGINT) AS n_turns
            FROM (
                SELECT tool, lat,
                       ROW_NUMBER() OVER (PARTITION BY tool
                                          ORDER BY lat) AS rn,
                       COUNT(*) OVER (PARTITION BY tool) AS n
                FROM base
            ) GROUP BY tool
        ), dev AS (
            SELECT b.tool, ABS(b.lat - m.median_ms) AS d
            FROM base b JOIN med m USING (tool)
        )
        SELECT m.tool, m.n_turns, m.median_ms,
               CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN d END)
                    AS BIGINT) AS mad_ms
        FROM (
            SELECT tool, d,
                   ROW_NUMBER() OVER (PARTITION BY tool ORDER BY d) AS rn,
                   COUNT(*) OVER (PARTITION BY tool) AS n
            FROM dev
        ) JOIN med m USING (tool)
        GROUP BY m.tool, m.n_turns, m.median_ms
        ORDER BY m.tool
    """


def conv_stats_arrow(routed: DataFrame) -> DataFrame:
    """Per-conversation token stats via ``applyInArrow`` — the
    Arrow-NATIVE grouped map (no pandas materialization at all: the
    worker hands the group over as a ``pyarrow.Table`` and pyarrow.compute
    aggregates columnar buffers in place). Same shuffle contract as
    applyInPandas (one conv_id exchange, group fits one task), minus the
    pandas object-boxing overhead — the right grouped-map flavor when the
    kernel is pure columnar arithmetic. Completes §2.10's Arrow row.

    Returns (conv_id, n_turns, tok_sum, tok_max), ORDER BY conv_id."""
    tok = F.get_json_object("payload", "$.tokens").cast("long")
    base = (_clean(routed)
            .select("conv_id", tok.alias("tok"))
            .filter(F.col("tok").isNotNull()))

    def stats(table):
        import pyarrow as pa
        import pyarrow.compute as pc
        t = table.column("tok")
        return pa.table({
            "conv_id": [table.column("conv_id")[0].as_py()],
            "n_turns": pa.array([len(t)], pa.int64()),
            "tok_sum": pa.array([pc.sum(t).as_py()], pa.int64()),
            "tok_max": pa.array([pc.max(t).as_py()], pa.int64()),
        })

    out = base.groupBy("conv_id").applyInArrow(
        stats, schema="conv_id string, n_turns long, "
                      "tok_sum long, tok_max long")
    return out.orderBy("conv_id")


def sql_conv_stats_arrow(tx_view: str) -> str:
    tok = ("TRY_CAST(regexp_extract(text, '\"tokens\":(\\d+)', 1) "
           "AS BIGINT)")
    return f"""
        SELECT conv_id,
               CAST(COUNT(*) AS BIGINT) AS n_turns,
               CAST(SUM({tok}) AS BIGINT) AS tok_sum,
               CAST(MAX({tok}) AS BIGINT) AS tok_max
        FROM {tx_view}
        WHERE {SQL_CLEAN} AND {tok} IS NOT NULL
        GROUP BY conv_id
        ORDER BY conv_id
    """


# ---------------------------------------------------------------------------
# CUBE rollup, latency-by-depth, cold-start ratio (serving analytics)
# ---------------------------------------------------------------------------

def cube_tool_usage(routed: DataFrame) -> DataFrame:
    """Turn counts and token mass under CUBE(role_class, tool_category) —
    all four grouping combinations in ONE pass (per-pair, per-role-class,
    per-tool-category, grand total), the standard OLAP reporting shape on
    the enriched frame. NULL dimension values from the left-outer lookup
    are real group keys; the CUBE's own subtotal rows are distinguished
    by grouping_id, so nothing is ambiguous.

    Returns (gid, role_class, tool_category, n_turns, tok_sum) ordered.

    Plan: Spark expands the cube into a 4-way partial aggregate BEFORE
    the exchange (one shuffle of 4x the group cardinality — dozens of
    rows — not 4 passes over the data)."""
    tok = F.get_json_object("payload", "$.tokens").cast("long")
    base = (_clean(routed)
            .select("role_class", "tool_category", tok.alias("tok"))
            .filter(F.col("tok").isNotNull()))
    return (base.cube("role_class", "tool_category")
            .agg(F.grouping_id().cast("long").alias("gid"),
                 F.count(F.lit(1)).cast("long").alias("n_turns"),
                 F.sum("tok").cast("long").alias("tok_sum"))
            .select("gid", "role_class", "tool_category",
                    "n_turns", "tok_sum")
            .orderBy("gid", "role_class", "tool_category"))


def sql_cube_tool_usage(tx_view: str) -> str:
    tok = ("TRY_CAST(regexp_extract(text, '\"tokens\":(\\d+)', 1) "
           "AS BIGINT)")
    return f"""
        SELECT CAST(GROUPING(rl.role_class) * 2
                    + GROUPING(tl.tool_category) AS BIGINT) AS gid,
               rl.role_class, tl.tool_category,
               CAST(COUNT(*) AS BIGINT) AS n_turns,
               CAST(SUM({tok}) AS BIGINT) AS tok_sum
        FROM {tx_view} t
        LEFT JOIN {_SQL_ROLE_LUT} ON rl.role = t.role
        LEFT JOIN {_SQL_TOOL_LUT} ON tl.tool = t.tool
        WHERE {SQL_CLEAN} AND {tok} IS NOT NULL
        GROUP BY CUBE (rl.role_class, tl.tool_category)
        ORDER BY gid, rl.role_class, tl.tool_category
    """


def latency_by_depth(routed: DataFrame) -> DataFrame:
    """Does serving latency drift as conversations DEEPEN? Turns are
    bucketed by their relative depth (turn position permille of the
    conversation length, in deciles) and each bucket reports turn count,
    latency sum, and mean — at scale the context grows with depth, so a
    rising curve here is the context-length cost made visible, and a flat
    one says the serving layer amortizes it (prefix cache working).

    Returns (depth_decile, n_turns, lat_sum, lat_mean_ms) ordered.

    Plan: one conv_id window (row_number + count share the exchange),
    then a <=10-row hash agg; integer DIV arithmetic only."""
    lat = F.get_json_object("payload", "$.latency_ms").cast("long")
    base = (_clean(routed)
            .select("conv_id", "turn_idx", lat.alias("lat"))
            .filter(F.col("lat").isNotNull()))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    wall = Window.partitionBy("conv_id")
    g = (base.withColumn("rn", F.row_number().over(w))
             .withColumn("n", F.count(F.lit(1)).over(wall)))
    dec = F.least(F.expr("((rn - 1) * 10) DIV n"),
                  F.lit(9).cast("long")).cast("long")
    return (g.select(dec.alias("depth_decile"), "lat")
             .groupBy("depth_decile")
             .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                  F.sum("lat").cast("long").alias("lat_sum"))
             .withColumn("lat_mean_ms",
                         F.expr("lat_sum DIV n_turns").cast("long"))
             .orderBy("depth_decile"))


def sql_latency_by_depth(tx_view: str) -> str:
    lat = ("TRY_CAST(regexp_extract(text, '\"latency_ms\":(\\d+)', 1) "
           "AS BIGINT)")
    return f"""
        WITH base AS (
            SELECT conv_id, turn_idx, {lat} AS lat
            FROM {tx_view}
            WHERE {SQL_CLEAN} AND {lat} IS NOT NULL
        ), g AS (
            SELECT lat,
                   CAST(LEAST(((ROW_NUMBER() OVER (
                            PARTITION BY conv_id ORDER BY turn_idx) - 1)
                           * 10) // (COUNT(*) OVER (PARTITION BY conv_id)),
                          9) AS BIGINT) AS depth_decile
            FROM base
        ), agg AS (
            SELECT depth_decile,
                   CAST(COUNT(*) AS BIGINT) AS n_turns,
                   CAST(SUM(lat) AS BIGINT) AS lat_sum
            FROM g GROUP BY 1
        )
        SELECT depth_decile, n_turns, lat_sum,
               CAST(lat_sum // n_turns AS BIGINT) AS lat_mean_ms
        FROM agg ORDER BY depth_decile
    """


def cold_start_ratio(routed: DataFrame) -> DataFrame:
    """Per-tool cold-start cost: mean latency of each tool's FIRST call in
    a conversation vs all its later calls in that conversation — warm
    caches/connections show first_mean > rest_mean (ratio permille >
    1000). Tools with no repeat calls anywhere report rest_n = 0 and a 0
    ratio rather than dividing by zero.

    Returns (tool, first_n, first_sum, rest_n, rest_sum,
    cold_ratio_permille) ORDER BY tool; the ratio is
    (first_sum*rest_n*1000) DIV (first_n*rest_sum) — cross-multiplied so
    the arithmetic stays integer.

    Plan: one (conv_id, tool) window marks first calls under the shared
    conv exchange, then a per-tool hash agg (bounded output)."""
    lat = F.get_json_object("payload", "$.latency_ms").cast("long")
    base = (_clean(routed)
            .filter(F.col("tool").isNotNull() & (F.col("tool") != "none"))
            .select("conv_id", "turn_idx", "tool", lat.alias("lat"))
            .filter(F.col("lat").isNotNull()))
    w = Window.partitionBy("conv_id", "tool").orderBy("turn_idx")
    g = base.withColumn("is_first", F.row_number().over(w) == 1)
    agg = (g.groupBy("tool")
           .agg(F.sum(F.when(F.col("is_first"), 1).otherwise(0))
                 .cast("long").alias("first_n"),
                F.sum(F.when(F.col("is_first"), F.col("lat")).otherwise(0))
                 .cast("long").alias("first_sum"),
                F.sum(F.when(~F.col("is_first"), 1).otherwise(0))
                 .cast("long").alias("rest_n"),
                F.sum(F.when(~F.col("is_first"), F.col("lat")).otherwise(0))
                 .cast("long").alias("rest_sum")))
    ratio = F.when(
        (F.col("first_n") > 0) & (F.col("rest_sum") > 0),
        F.expr("first_sum * rest_n * 1000 DIV (first_n * rest_sum)")
    ).otherwise(0).cast("long")
    return (agg.withColumn("cold_ratio_permille", ratio)
               .orderBy("tool"))


def sql_cold_start_ratio(tx_view: str) -> str:
    lat = ("TRY_CAST(regexp_extract(text, '\"latency_ms\":(\\d+)', 1) "
           "AS BIGINT)")
    return f"""
        WITH base AS (
            SELECT conv_id, turn_idx, tool, {lat} AS lat
            FROM {tx_view}
            WHERE {SQL_CLEAN} AND tool IS NOT NULL AND tool <> 'none'
              AND {lat} IS NOT NULL
        ), g AS (
            SELECT tool, lat,
                   (ROW_NUMBER() OVER (PARTITION BY conv_id, tool
                                       ORDER BY turn_idx) = 1) AS is_first
            FROM base
        ), agg AS (
            SELECT tool,
                   CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END)
                        AS BIGINT) AS first_n,
                   CAST(SUM(CASE WHEN is_first THEN lat ELSE 0 END)
                        AS BIGINT) AS first_sum,
                   CAST(SUM(CASE WHEN is_first THEN 0 ELSE 1 END)
                        AS BIGINT) AS rest_n,
                   CAST(SUM(CASE WHEN is_first THEN 0 ELSE lat END)
                        AS BIGINT) AS rest_sum
            FROM g GROUP BY tool
        )
        SELECT tool, first_n, first_sum, rest_n, rest_sum,
               CAST(CASE WHEN first_n > 0 AND rest_sum > 0
                         THEN first_sum * rest_n * 1000
                              // (first_n * rest_sum)
                         ELSE 0 END AS BIGINT) AS cold_ratio_permille
        FROM agg ORDER BY tool
    """


# ---------------------------------------------------------------------------
# VARIANT-path payload extraction (Spark 4 semi-structured type)
# ---------------------------------------------------------------------------

def variant_payload_stats(routed: DataFrame) -> DataFrame:
    """Per-tool payload stats extracted through Spark 4's VARIANT type —
    ``try_parse_json`` once, ``try_variant_get`` per field — instead of N
    ``get_json_object`` passes (each of which re-parses the JSON string;
    the VARIANT parse is once-per-row into a binary-encoded tree, the
    engine-native path for semi-structured columns). Grouping key is the
    tool EMBEDDED in the payload, so the query also cross-checks the
    payload's self-description against the grok route. ``try_`` variants
    keep the never-throw F3 invariant on malformed JSON.

    Returns (vtool, n_turns, tok_sum, lat_sum) ORDER BY vtool."""
    v = F.try_parse_json(F.col("payload"))
    base = (_clean(routed)
            .select(F.try_variant_get(v, "$.tool", "string").alias("vtool"),
                    F.try_variant_get(v, "$.tokens", "long").alias("tok"),
                    F.try_variant_get(v, "$.latency_ms", "long").alias("lat"))
            .filter(F.col("vtool").isNotNull()))
    return (base.groupBy("vtool")
            .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                 F.sum("tok").cast("long").alias("tok_sum"),
                 F.sum("lat").cast("long").alias("lat_sum"))
            .orderBy("vtool"))


def sql_variant_payload_stats(tx_view: str) -> str:
    tok = "TRY_CAST(regexp_extract(text, '\"tokens\":(\\d+)', 1) AS BIGINT)"
    lat = ("TRY_CAST(regexp_extract(text, '\"latency_ms\":(\\d+)', 1) "
           "AS BIGINT)")
    vtool = "regexp_extract(text, '\"tool\":\"([^\"]*)\"', 1)"
    return f"""
        SELECT {vtool} AS vtool,
               CAST(COUNT(*) AS BIGINT) AS n_turns,
               CAST(SUM({tok}) AS BIGINT) AS tok_sum,
               CAST(SUM({lat}) AS BIGINT) AS lat_sum
        FROM {tx_view}
        WHERE {SQL_CLEAN} AND {vtool} <> ''
        GROUP BY 1 ORDER BY vtool
    """


def dpo_pairs(routed: DataFrame, min_candidates: int = 2) -> DataFrame:
    """DPO preference-pair construction: one (chosen, rejected) pair per
    conversation with >= ``min_candidates`` clean assistant turns, ranked
    by an integer reward proxy (token throughput,
    ``tokens * 1000 DIV latency_ms`` — tokens/sec in permille units).
    The materialization step that turns a transcript corpus into a
    preference-optimization dataset: chosen = highest-reward assistant
    turn, rejected = lowest, with the reward margin downstream filtering
    thresholds on (pairs with margin 0 carry no preference signal).

    Ties are broken deterministically and symmetrically — chosen prefers
    the EARLIEST tied turn, rejected the LATEST — so a conversation whose
    assistant turns all share one reward still yields chosen != rejected
    whenever n_candidates >= 2 (row_number over a total order; no
    nondeterministic max_by).

    Plan: one exchange on conv_id serving two row_number windows (same
    partitioning, two sort orders) + one hash agg on the same key — the
    standard tx shape; at 10^12 turns only (conv_id, turn_idx, reward)
    triples move. Reward stays integer: tokens <= 800 so
    tokens * 1000 < 2^20, and latency_ms >= 1 (DIV on non-negative
    operands — Spark truncation == DuckDB floor)."""
    tok = F.get_json_object("payload", "$.tokens").cast("long")
    lat = F.get_json_object("payload", "$.latency_ms").cast("long")
    base = (_clean(routed)
            .filter(F.col("role") == "assistant")
            .select("conv_id",
                    F.col("turn_idx").cast("long").alias("turn_idx"),
                    tok.alias("tok"), lat.alias("lat"))
            .filter(F.col("tok").isNotNull() & (F.col("lat") > 0))
            .withColumn("reward", F.expr("tok * 1000 DIV lat")))
    w_best = Window.partitionBy("conv_id").orderBy(
        F.col("reward").desc(), F.col("turn_idx").asc())
    w_worst = Window.partitionBy("conv_id").orderBy(
        F.col("reward").asc(), F.col("turn_idx").desc())
    ranked = (base
              .withColumn("rk_b", F.row_number().over(w_best))
              .withColumn("rk_w", F.row_number().over(w_worst)))
    agg = (ranked.groupBy("conv_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"),
                F.max(F.when(F.col("rk_b") == 1, F.col("turn_idx")))
                 .cast("long").alias("chosen_turn"),
                F.max(F.when(F.col("rk_b") == 1, F.col("reward")))
                 .cast("long").alias("chosen_reward"),
                F.max(F.when(F.col("rk_w") == 1, F.col("turn_idx")))
                 .cast("long").alias("rejected_turn"),
                F.max(F.when(F.col("rk_w") == 1, F.col("reward")))
                 .cast("long").alias("rejected_reward"))
           .filter(F.col("n_candidates") >= min_candidates))
    return agg.select(
        "conv_id", "n_candidates", "chosen_turn", "chosen_reward",
        "rejected_turn", "rejected_reward",
        (F.col("chosen_reward") - F.col("rejected_reward"))
        .cast("long").alias("reward_margin"))


def sql_dpo_pairs(tx_view: str, min_candidates: int = 2) -> str:
    return f"""
        WITH cand AS (
            SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   {_TOK} AS tok, {_LAT} AS lat
            FROM {tx_view}
            WHERE {SQL_CLEAN} AND role = 'assistant'
        ), rew AS (
            SELECT conv_id, turn_idx, tok * 1000 // lat AS reward
            FROM cand WHERE tok IS NOT NULL AND lat > 0
        ), rk AS (
            SELECT conv_id, turn_idx, reward,
                   ROW_NUMBER() OVER (PARTITION BY conv_id
                       ORDER BY reward DESC, turn_idx ASC) AS rk_b,
                   ROW_NUMBER() OVER (PARTITION BY conv_id
                       ORDER BY reward ASC, turn_idx DESC) AS rk_w
            FROM rew
        ), agg AS (
            SELECT conv_id,
                   CAST(COUNT(*) AS BIGINT) AS n_candidates,
                   CAST(MAX(CASE WHEN rk_b = 1 THEN turn_idx END)
                        AS BIGINT) AS chosen_turn,
                   CAST(MAX(CASE WHEN rk_b = 1 THEN reward END)
                        AS BIGINT) AS chosen_reward,
                   CAST(MAX(CASE WHEN rk_w = 1 THEN turn_idx END)
                        AS BIGINT) AS rejected_turn,
                   CAST(MAX(CASE WHEN rk_w = 1 THEN reward END)
                        AS BIGINT) AS rejected_reward
            FROM rk GROUP BY conv_id
        )
        SELECT conv_id, n_candidates, chosen_turn, chosen_reward,
               rejected_turn, rejected_reward,
               CAST(chosen_reward - rejected_reward AS BIGINT)
                   AS reward_margin
        FROM agg WHERE n_candidates >= {min_candidates}
    """


# Kendall tau-a length-bias audit: band caps and the int64 headroom bound.
# (C - D) * 1000 <= 500 * n^2 must stay under 2^63, so n per group is
# guarded at 135M (sqrt((2^63-1)/500) ~ 1.358e8); at larger scale compute
# per-shard taus and combine weighted (docstring).
KENDALL_BANDS = 16
KENDALL_MAX_N = 135_000_000


def length_bias(routed: DataFrame) -> DataFrame:
    """Reward/length-bias audit: Kendall tau-a between completion length
    (token count) and PER-TOKEN latency, per tool_category — the standard
    check that a throughput-style reward signal is length-confounded
    before it is trusted for preference ranking (:func:`dpo_pairs`) or
    best-of-n selection. tau < 0 here means long completions look
    artificially "fast" per token, i.e. a length-biased reward.

    Computed EXACTLY (integer, cross-engine) on a banded 16x16 grid:
    x-band = tokens DIV 50 capped, y-band = floor(log2(per-token
    latency)) capped via binary-string length (both engines compute bit
    length, no float log). Concordant/discordant pair counts come from
    the grid's self-join (<= 256x256 constant rows per category,
    broadcast) — NO global sort and NO O(n^2) pair join, so the plan is
    one hash agg to the grid + a constant-size join regardless of corpus
    size. tau_a_permille = (C - D) * 1000 DIV (n(n-1)/2), sign-split so
    Spark DIV (truncate) and DuckDB // (floor) agree on the negative
    case. Headroom: guarded at n <= 135M rows per category
    ((C-D)*1000 < 2^63); beyond that, shard the corpus and combine
    per-shard taus weighted by pair count."""
    tok = F.get_json_object("payload", "$.tokens").cast("long")
    lat = F.get_json_object("payload", "$.latency_ms").cast("long")
    base = (_clean(routed)
            .filter(F.col("tool").isNotNull())
            .select("tool_category", tok.alias("tok"), lat.alias("lat"))
            .filter(F.col("tok").isNotNull() & (F.col("lat") > 0)))
    banded = (base
              .withColumn("ptl", F.expr("lat * 1000 DIV tok"))
              .select("tool_category",
                      F.least(F.lit(KENDALL_BANDS - 1),
                              F.expr("tok DIV 50")).alias("xb"),
                      F.least(F.lit(KENDALL_BANDS - 1),
                              (F.length(F.bin(F.col("ptl"))) - 1)
                              .cast("long")).alias("yb")))
    grid = (banded.groupBy("tool_category", "xb", "yb")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    g1 = grid.select(F.col("tool_category").alias("cat"),
                     F.col("xb").alias("x1"), F.col("yb").alias("y1"),
                     F.col("cnt").alias("c1"))
    g2 = grid.select(F.col("tool_category").alias("cat"),
                     F.col("xb").alias("x2"), F.col("yb").alias("y2"),
                     F.col("cnt").alias("c2"))
    pairs = (g1.join(F.broadcast(g2), "cat")
             .filter(F.col("x2") > F.col("x1"))
             .groupBy("cat")
             .agg(F.sum(F.when(F.col("y2") > F.col("y1"),
                               F.col("c1") * F.col("c2")).otherwise(0))
                  .cast("long").alias("concordant"),
                  F.sum(F.when(F.col("y2") < F.col("y1"),
                               F.col("c1") * F.col("c2")).otherwise(0))
                  .cast("long").alias("discordant")))
    tot = (grid.groupBy(F.col("tool_category").alias("cat"))
           .agg(F.sum("cnt").cast("long").alias("n_turns")))
    out = (tot.join(pairs, "cat", "left")
           .select(F.col("cat").alias("tool_category"),
                   F.when(F.col("n_turns") <= KENDALL_MAX_N,
                          F.col("n_turns"))
                    .otherwise(F.raise_error(F.lit(
                        "length_bias: group exceeds int64 tau headroom; "
                        "shard and combine per-shard taus")))
                    .alias("n_turns"),
                   F.coalesce("concordant", F.lit(0)).cast("long")
                    .alias("concordant"),
                   F.coalesce("discordant", F.lit(0)).cast("long")
                    .alias("discordant"))
           .withColumn("pairs_total",
                       F.expr("n_turns * (n_turns - 1) DIV 2")))
    return (out.withColumn("tau_permille", F.expr(
                "CAST(CASE WHEN pairs_total <= 0 THEN 0 "
                "WHEN concordant >= discordant THEN "
                "(concordant - discordant) * 1000 DIV pairs_total "
                "ELSE -((discordant - concordant) * 1000 DIV pairs_total) "
                "END AS BIGINT)"))
            .select("tool_category", "n_turns", "concordant",
                    "discordant", "tau_permille")
            .orderBy("tool_category"))


def sql_length_bias(tx_view: str) -> str:
    b = KENDALL_BANDS - 1
    return f"""
        WITH base AS (
            SELECT tl.tool_category, {_TOK} AS tok, {_LAT} AS lat
            FROM {tx_view} t
            JOIN {_SQL_TOOL_LUT} ON tl.tool = t.tool
            WHERE {SQL_CLEAN} AND t.tool IS NOT NULL
        ), banded AS (
            SELECT tool_category,
                   LEAST({b}, tok // 50) AS xb,
                   LEAST({b}, CAST(strlen(bin(
                         lat * 1000 // tok)) AS BIGINT) - 1) AS yb
            FROM base WHERE tok IS NOT NULL AND lat > 0
        ), grid AS (
            SELECT tool_category AS cat, xb, yb,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM banded GROUP BY 1, 2, 3
        ), pairs AS (
            SELECT g1.cat,
                   CAST(COALESCE(SUM(CASE WHEN g2.yb > g1.yb
                        THEN g1.cnt * g2.cnt END), 0) AS BIGINT)
                       AS concordant,
                   CAST(COALESCE(SUM(CASE WHEN g2.yb < g1.yb
                        THEN g1.cnt * g2.cnt END), 0) AS BIGINT)
                       AS discordant
            FROM grid g1 JOIN grid g2
              ON g1.cat = g2.cat AND g2.xb > g1.xb
            GROUP BY 1
        ), tot AS (
            SELECT cat, CAST(SUM(cnt) AS BIGINT) AS n_turns
            FROM grid GROUP BY 1
        )
        SELECT t.cat AS tool_category, t.n_turns,
               COALESCE(p.concordant, 0) AS concordant,
               COALESCE(p.discordant, 0) AS discordant,
               CAST(CASE WHEN t.n_turns < 2 THEN 0
                    WHEN COALESCE(p.concordant, 0)
                         >= COALESCE(p.discordant, 0)
                    THEN (COALESCE(p.concordant, 0)
                          - COALESCE(p.discordant, 0)) * 1000
                         // (t.n_turns * (t.n_turns - 1) // 2)
                    ELSE -((COALESCE(p.discordant, 0)
                            - COALESCE(p.concordant, 0)) * 1000
                           // (t.n_turns * (t.n_turns - 1) // 2))
                    END AS BIGINT) AS tau_permille
        FROM tot t LEFT JOIN pairs p ON p.cat = t.cat
        ORDER BY tool_category
    """


BESTOFN_NS = [1, 2, 4, 8]


def bestofn_gain(routed: DataFrame,
                 ns: list[int] | None = None) -> DataFrame:
    """Best-of-n sampling gain curve: for each n in ``ns``, the mean over
    conversations of the BEST reward among the first n clean assistant
    turns (reward = integer token throughput, as in :func:`dpo_pairs`) —
    the audit that tells a sampling-based serving/RLHF stack how much a
    larger candidate budget actually buys before it pays for one (the
    curve's flattening point is the budget to stop at). Only
    conversations with >= n candidates count toward row n, so each point
    is an honest same-population prefix max, not censored by short
    conversations.

    Plan: one exchange on conv_id (row_number window over turn order),
    ONE per-conv hash agg computing all prefix maxima at once via
    conditional MAX over rn <= n, then a constant-size explode (|ns| rows
    per conv) into the final #ns-row agg. At 10^12 turns only
    (conv_id, rn, reward) move; the stacked frame is |ns| * #convs rows
    of three BIGINTs. Returns (n, n_convs, sum_best_reward,
    mean_best_reward) ORDER BY n; rewards are non-negative so DIV
    truncation equals DuckDB's floor."""
    ns = ns or BESTOFN_NS
    tok = F.get_json_object("payload", "$.tokens").cast("long")
    lat = F.get_json_object("payload", "$.latency_ms").cast("long")
    base = (_clean(routed)
            .filter(F.col("role") == "assistant")
            .select("conv_id",
                    F.col("turn_idx").cast("long").alias("turn_idx"),
                    tok.alias("tok"), lat.alias("lat"))
            .filter(F.col("tok").isNotNull() & (F.col("lat") > 0))
            .withColumn("reward", F.expr("tok * 1000 DIV lat")))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    rn = base.withColumn("rn", F.row_number().over(w))
    conv = (rn.groupBy("conv_id")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"),
                 *[F.max(F.when(F.col("rn") <= n, F.col("reward")))
                   .cast("long").alias(f"m{n}") for n in ns]))
    stacked = (conv
               .select(F.col("cnt"), F.explode(F.array(*[
                   F.struct(F.lit(n).cast("long").alias("n"),
                            F.col(f"m{n}").alias("best"))
                   for n in ns])).alias("s"))
               .select("cnt", F.col("s.n").alias("n"),
                       F.col("s.best").alias("best"))
               .filter(F.col("cnt") >= F.col("n")))
    return (stacked.groupBy("n")
            .agg(F.count(F.lit(1)).cast("long").alias("n_convs"),
                 F.sum("best").cast("long").alias("sum_best_reward"))
            .withColumn("mean_best_reward",
                        F.expr("sum_best_reward DIV n_convs"))
            .select("n", "n_convs", "sum_best_reward", "mean_best_reward")
            .orderBy("n"))


def sql_bestofn_gain(tx_view: str, ns: list[int] | None = None) -> str:
    ns = ns or BESTOFN_NS
    maxes = ",\n                   ".join(
        f"CAST(MAX(CASE WHEN rn <= {n} THEN reward END) AS BIGINT) AS m{n}"
        for n in ns)
    stacked = "\n            UNION ALL ".join(
        f"SELECT {n} AS n, m{n} AS best FROM conv WHERE cnt >= {n}"
        for n in ns)
    return f"""
        WITH cand AS (
            SELECT conv_id, CAST(turn_idx AS BIGINT) AS turn_idx,
                   {_TOK} AS tok, {_LAT} AS lat
            FROM {tx_view}
            WHERE {SQL_CLEAN} AND role = 'assistant'
        ), rew AS (
            SELECT conv_id, turn_idx, tok * 1000 // lat AS reward
            FROM cand WHERE tok IS NOT NULL AND lat > 0
        ), rn AS (
            SELECT conv_id, reward,
                   ROW_NUMBER() OVER (PARTITION BY conv_id
                                      ORDER BY turn_idx) AS rn
            FROM rew
        ), conv AS (
            SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS cnt,
                   {maxes}
            FROM rn GROUP BY conv_id
        ), stacked AS (
            {stacked}
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_convs,
               CAST(SUM(best) AS BIGINT) AS sum_best_reward,
               CAST(SUM(best) // COUNT(*) AS BIGINT) AS mean_best_reward
        FROM stacked GROUP BY 1 ORDER BY n
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "tx_variant_stats",
    """Payload stats via Spark 4 VARIANT (try_parse_json once +
    try_variant_get per field) grouped by the payload's embedded tool.""",
    lambda spark, sf_dir: variant_payload_stats(routed_slim(spark, sf_dir)),
    lambda: sql_variant_payload_stats(tx_view()))

register(
    "tx_cube_tool_usage",
    """CUBE(role_class, tool_category) turn/token rollup — all four
    grouping combos in one partial-agg pass, grouping_id-disambiguated.""",
    lambda spark, sf_dir: cube_tool_usage(routed_slim(spark, sf_dir)),
    lambda: sql_cube_tool_usage(tx_view()))

register(
    "tx_latency_by_depth",
    """Latency by conversation-depth decile — the context-length cost
    curve; one conv window + a 10-row agg.""",
    lambda spark, sf_dir: latency_by_depth(routed_slim(spark, sf_dir)),
    lambda: sql_latency_by_depth(tx_view()))

register(
    "tx_cold_start",
    """Per-tool first-call vs later-call latency ratio (cold-start cost);
    one (conv, tool) window + bounded agg.""",
    lambda spark, sf_dir: cold_start_ratio(routed_slim(spark, sf_dir)),
    lambda: sql_cold_start_ratio(tx_view()))

register(
    "tx_shape_dupes",
    """Conversation-level dedup on the interaction SHAPE (ordered
    role/tool sequence): scripted/replayed sessions collapse onto few
    shapes; two hash aggs, text never moves.""",
    lambda spark, sf_dir: shape_dupes(routed_slim(spark, sf_dir)),
    lambda: sql_shape_dupes(tx_view()))

register(
    "tx_latency_mad_udaf",
    """Per-tool latency lower-median + MAD via pandas GROUPED_AGG UDAFs
    (the §2.10 aggregate row); bounded-cardinality keys only — unbounded
    keys use the histogram form.""",
    lambda spark, sf_dir: tool_latency_mad_udaf(routed_slim(spark, sf_dir)),
    lambda: sql_tool_latency_mad(tx_view()))

register(
    "tx_conv_stats_arrow",
    """Per-conversation token stats via applyInArrow — the Arrow-native
    grouped map (pyarrow.compute on columnar buffers, no pandas boxing).""",
    lambda spark, sf_dir: conv_stats_arrow(routed_slim(spark, sf_dir)),
    lambda: sql_conv_stats_arrow(tx_view()))

register(
    "tx_prefix_cache",
    """Per-conversation prefix-cache hit rate (cachable vs processed token
    mass) — the serving-cost multiplier a prefix cache removes; one
    conv_id window + agg.""",
    lambda spark, sf_dir: prefix_cache_rate(routed_slim(spark, sf_dir)),
    lambda: sql_prefix_cache_rate(tx_view()))

register(
    "tx_schema_drift",
    """Payload JSON key census per logtype (schema-drift monitor): regex
    key extraction on the parsed capture, one (logtype, key) agg.""",
    lambda spark, sf_dir: json_schema_drift(routed_slim(spark, sf_dir)),
    lambda: sql_json_schema_drift(tx_view()))

register(
    "tx_token_midpoint",
    """Token-mass pacing histogram: decile of the turn position where half
    the conversation's tokens have arrived.""",
    lambda spark, sf_dir: token_midpoint_histogram(routed_slim(spark, sf_dir)),
    lambda: sql_token_midpoint_histogram(tx_view()))

register(
    "tx_parse_health",
    """Hourly parse-health series over the RAW routed frame: blanks,
    oversize, parse failures, clean rows, ok share — the reference's
    counters unrolled into a time series.""",
    lambda spark, sf_dir: parse_health_hourly(routed_slim(spark, sf_dir)),
    lambda: sql_parse_health_hourly(tx_view()))

register(
    "tx_latency_bands",
    """Hourly exact p50/p95 latency bands over the routed frame — the
    dashboard time series, rank selection within hour partitions.""",
    lambda spark, sf_dir: latency_bands_hourly(routed_slim(spark, sf_dir)),
    lambda: sql_latency_bands_hourly(tx_view()))

register(
    "tx_redundancy",
    """Per-conversation pooled TTR + repeated 3-gram share — the
    multi-turn self-repetition signal; text moves only as 60-bit hashes.""",
    lambda spark, sf_dir: conversation_redundancy(
        pl.full_pipeline(spark, sf_dir)),
    lambda: sql_conversation_redundancy(tx_view()))

register(
    "tx_tool_latency_percentiles",
    """Per-tool EXACT p50/p90/p99 latency by rank selection — the SLA
    table; value-deterministic under latency ties.""",
    lambda spark, sf_dir: tool_latency_percentiles(routed_slim(spark, sf_dir)),
    lambda: sql_tool_latency_percentiles(tx_view()))

register(
    "tx_retry_storms",
    """Runs of >= 3 consecutive same-tool calls per conversation — the
    agent retry-loop pathology, gaps-and-islands on the clean sequence.""",
    lambda spark, sf_dir: retry_storms(routed_slim(spark, sf_dir)),
    lambda: sql_retry_storms(tx_view()))

register(
    "tx_turn_holes",
    """Per-conversation dropped-turn audit: hole counts + first hole index
    in the routed turn sequence (the per-conv view of the failure
    tallies).""",
    lambda spark, sf_dir: turn_holes(routed_slim(spark, sf_dir)),
    lambda: sql_turn_holes(tx_view()))

register(
    "tx_tool_latency",
    """Per-tool latency profile over the ROUTED frame (full parse→enrich→
    route path under the hash): one hash agg, JVM json-path extraction.""",
    lambda spark, sf_dir: tool_latency(routed_slim(spark, sf_dir)),
    lambda: sql_tool_latency(tx_view()))

register(
    "tx_role_alternation",
    """Per-conversation same-role-adjacency report under stable
    (conv_id, turn_idx) order — dialog-structure QA, one shuffle.""",
    lambda spark, sf_dir: role_alternation(routed_slim(spark, sf_dir)),
    lambda: sql_role_alternation(tx_view()))

register(
    "tx_conversation_stats",
    "Per-conversation turn counts / span / role mix over routed rows.",
    lambda spark, sf_dir: conversation_stats_ms(routed_slim(spark, sf_dir)),
    lambda: sql_conversation_stats_ms(tx_view()))

register(
    "tx_tokens_by_role_class",
    """Token totals per role CLASS — exercises the role broadcast lookup
    (left-join misses surface as a NULL class group).""",
    lambda spark, sf_dir: tokens_by_role_class(routed_slim(spark, sf_dir)),
    lambda: sql_tokens_by_role_class(tx_view()))

register(
    "tx_response_gaps",
    """Assistant response-latency per conversation (user→assistant adjacent
    pairs under stable turn order) over the routed frame.""",
    lambda spark, sf_dir: response_gaps(routed_slim(spark, sf_dir)),
    lambda: sql_response_gaps(tx_view()))

register(
    "tx_tool_chain_bigrams",
    """Tool-call transition counts on adjacent tool turns (workflow mining
    over agent transcripts).""",
    lambda spark, sf_dir: tool_chain_bigrams(routed_slim(spark, sf_dir)),
    lambda: sql_tool_chain_bigrams(tx_view()))

register(
    "tx_tool_diversity",
    """Per-conversation tool mix: distinct tools + dominant-tool permille
    (loop detection) over the routed frame.""",
    lambda spark, sf_dir: tool_diversity(routed_slim(spark, sf_dir)),
    lambda: sql_tool_diversity(tx_view()))

register(
    "tx_role_matrix",
    """Role→role transition matrix over stable turn order (structure
    fingerprint of the dialog corpus).""",
    lambda spark, sf_dir: role_matrix(routed_slim(spark, sf_dir)),
    lambda: sql_role_matrix(tx_view()))

register(
    "tx_first_response_ms",
    "Time-to-first-assistant-response per conversation (SLA metric).",
    lambda spark, sf_dir: first_response_ms(routed_slim(spark, sf_dir)),
    lambda: sql_first_response_ms(tx_view()))

register(
    "tx_slow_streaks",
    """Max consecutive-slow-turn run per conversation (gaps-and-islands,
    one conv_id exchange) over the routed frame.""",
    lambda spark, sf_dir: slow_streaks(routed_slim(spark, sf_dir)),
    lambda: sql_slow_streaks(tx_view()))

register(
    "tx_context_cutoff",
    """Context-window truncation point per conversation: running token
    prefix sums in stable turn order, budget overflow turn.""",
    lambda spark, sf_dir: context_cutoff(routed_slim(spark, sf_dir)),
    lambda: sql_context_cutoff(tx_view()))

register(
    "tx_context_depth",
    """Serving-time context depth histogram: per-turn count of trailing
    turns visible under the token budget — one fixed-offset RANGE frame
    over the conv token cumsum, no self-join.""",
    lambda spark, sf_dir: context_depth(routed_slim(spark, sf_dir)),
    lambda: sql_context_depth(tx_view()))

register(
    "tx_sft_examples",
    """SFT dataset assembly: one example per clean assistant turn with
    prompt/completion token accounting (loss-mask boundary) and a
    context-budget fit flag; one conv-keyed window, no join.""",
    lambda spark, sf_dir: sft_examples(routed_slim(spark, sf_dir)),
    lambda: sql_sft_examples(tx_view()))

register(
    "tx_dpo_pairs",
    """DPO preference-pair assembly: chosen/rejected assistant turn per
    conversation by integer token-throughput reward with deterministic
    symmetric tie-breaks and the reward margin; one conv-keyed exchange
    (two row_number orders + one agg on the same key).""",
    lambda spark, sf_dir: dpo_pairs(routed_slim(spark, sf_dir)),
    lambda: sql_dpo_pairs(tx_view()))

register(
    "tx_length_bias",
    """Reward length-bias audit: exact Kendall tau-a between completion
    length and per-token latency per tool category, computed on a 16x16
    banded grid (constant-size pair join — no global sort, no O(n^2)).""",
    lambda spark, sf_dir: length_bias(routed_slim(spark, sf_dir)),
    lambda: sql_length_bias(tx_view()))

register(
    "tx_bestofn_gain",
    """Best-of-n sampling gain curve: mean best reward among the first n
    assistant turns (n in 1/2/4/8, same-population prefix max) — one
    conv-keyed exchange + a constant-size explode.""",
    lambda spark, sf_dir: bestofn_gain(routed_slim(spark, sf_dir)),
    lambda: sql_bestofn_gain(tx_view()))

register(
    "tx_peak_inflight",
    """Sweep-line max-overlap: peak concurrent tool calls per conversation
    (half-open intervals; -1 sorts before +1 at equal instants).""",
    lambda spark, sf_dir: peak_inflight(routed_slim(spark, sf_dir)),
    lambda: sql_peak_inflight(tx_view()))

register(
    "tx_latency_inversions",
    """Per-conversation latency inversion count: O(n log n) BIT kernel in
    applyInPandas, verified against the O(n^2) pair-join oracle.""",
    lambda spark, sf_dir: latency_inversions(routed_slim(spark, sf_dir)),
    lambda: sql_latency_inversions(tx_view()))
