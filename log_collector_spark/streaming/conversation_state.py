"""Streaming conversation sessionizer on Spark 4's ``transformWithState``.

The batch side already sessionizes transcripts with a gap rule
(``operators/aggregate.sessionize`` shape: a new session starts when the
inter-turn gap exceeds ``gap``). This module is the STREAMING twin, built
on ``transformWithStateInPandas`` — Spark 4's arbitrary-stateful operator
(the successor of ``applyInPandasWithState``, reference parity:
log-collector holds per-source mutable reader state the same way,
AbstractReader.java keeps counters + offsets per file) — because the two
things a live sessionizer needs are exactly what the new API adds over
``session_window``:

- **typed keyed state** (ValueState tuple) holding the open session's
  aggregate per conv_id, and
- **event-time TIMERS**: a conversation is closed not by a new row but by
  the ABSENCE of one — the timer fires when the watermark passes
  ``last_ts + gap`` and emits the finalized session from
  ``handleExpiredTimer`` (something ``applyInPandasWithState`` can only
  approximate with per-batch timeout sweeps).

Scale shape (10^12 turns): state is one fixed-width tuple per OPEN
conversation (closed ones are cleared), partitioned by conv_id across the
RocksDB state stores of every executor; each micro-batch shuffles only the
new rows on conv_id. No per-row Python — rows reach the processor as
Arrow-batched pandas frames, aggregated vectorized.

Determinism contract (pytest-pinned): emitted sessions == batch gap
sessionization of the same input, restricted to sessions whose close
frontier (last_ts + gap) the final watermark passed.

ENVIRONMENT GATE: the transformWithState Python runner needs
``google.protobuf`` (its state API client speaks protobuf to the JVM);
this container does not ship it and installs are off-limits, so the
end-to-end test auto-skips (`pip install protobuf` wherever you run
this for real). The sessionizer KERNEL (gap splits, state merge, timer
re-arm, stale-timer guard) is pure pandas and fully unit-tested against
a fake handle — only the wire transport is gated, mirroring the Kafka
jar gate in ``operators/sinks.py``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from log_collector_spark.streaming.pipeline import read_transcript_stream
from log_collector_spark.plans import pipeline as pl
from log_collector_spark.registry import register, tx_view

OUT_SCHEMA = ("conv_id STRING, n_turns BIGINT, n_tool_calls BIGINT, "
              "first_ms BIGINT, last_ms BIGINT, duration_ms BIGINT")
_STATE_SCHEMA = ("n BIGINT, ntool BIGINT, first_ms BIGINT, last_ms BIGINT, "
                 "timer_ms BIGINT")


def _final_row(conv_id: str, n: int, ntool: int, first_ms: int,
               last_ms: int) -> pd.DataFrame:
    return pd.DataFrame({
        "conv_id": [conv_id], "n_turns": [n], "n_tool_calls": [ntool],
        "first_ms": [first_ms], "last_ms": [last_ms],
        "duration_ms": [last_ms - first_ms],
    })


class ConversationSessionizer(StatefulProcessor):
    """Gap-rule sessionizer: merge incoming rows into the open session,
    closing (and emitting) a session whenever the next row starts more
    than ``gap_ms`` after the previous one — including WITHIN a batch —
    and arm an event-time timer to close the trailing open session when
    the conversation goes quiet."""

    def __init__(self, gap_ms: int):
        self.gap_ms = gap_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.state = handle.getValueState("open_session", _STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues: TimerValues):
        conv_id = key[0]
        # one sorted frame for this key in this batch (vectorized merge)
        parts = [df[["ts", "tool"]] for df in rows]
        batch = pd.concat(parts).sort_values("ts")
        ts_ms = (batch["ts"].astype("int64") // 1_000_000).to_numpy()
        is_tool = batch["tool"].notna().to_numpy()

        cur = self.state.get()
        if cur is not None:
            n, ntool, first_ms, last_ms, timer_ms = cur
            if timer_ms is not None:
                self.handle.deleteTimer(timer_ms)
        else:
            n = ntool = 0
            first_ms = last_ms = None

        for i in range(len(ts_ms)):
            t = int(ts_ms[i])
            if last_ms is not None and t - last_ms > self.gap_ms:
                yield _final_row(conv_id, n, ntool, first_ms, last_ms)
                n = ntool = 0
                first_ms = None
            if first_ms is None:
                first_ms = t
            n += 1
            ntool += int(is_tool[i])
            last_ms = t

        timer_ms = last_ms + self.gap_ms
        self.state.update((n, ntool, first_ms, last_ms, timer_ms))
        self.handle.registerTimer(timer_ms)

    def handleExpiredTimer(self, key, timerValues: TimerValues,
                           expiredTimerInfo: ExpiredTimerInfo):
        cur = self.state.get()
        # a stale timer can fire after rows re-opened the session with a
        # LATER frontier; only close if this timer is the armed one
        if cur is not None and cur[4] == expiredTimerInfo.getExpiryTimeInMs():
            n, ntool, first_ms, last_ms, _ = cur
            self.state.clear()
            yield _final_row(key[0], n, ntool, first_ms, last_ms)

    def close(self) -> None:
        pass


def start_conversation_sessionizer_stream(
        spark: SparkSession, input_dir: str, checkpoint_loc: str,
        out_dir: str, *, gap: str = "2 minutes",
        watermark: str = "5 minutes",
        max_files_per_trigger: int | None = 1):
    """Run the sessionizer over the transcript file stream; append each
    finalized session to ``out_dir`` as parquet.

    ``transformWithState`` requires the RocksDB state store provider
    (bundled with Spark 4); set session-wide here — the HDFS-backed
    default provider rejects the operator outright."""
    try:
        import google.protobuf  # noqa: F401  (state API wire format)
    except ImportError as e:  # pragma: no cover - environment gate
        raise NotImplementedError(
            "transformWithStateInPandas needs the protobuf package for "
            "its state API client: pip install protobuf") from e
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    gap_ms = int(pd.Timedelta(gap).total_seconds() * 1000)
    src = (read_transcript_stream(spark, input_dir, max_files_per_trigger)
           .withWatermark("ts", watermark))
    out = (src.groupBy("conv_id")
              .transformWithStateInPandas(
                  ConversationSessionizer(gap_ms),
                  outputStructType=OUT_SCHEMA,
                  outputMode="append",
                  timeMode="eventTime"))
    return (out.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_loc)
            .trigger(availableNow=True)
            .format("parquet").option("path", out_dir).start())


def gap_sessions(df, gap_ms: int = 120_000):
    """Batch gap-rule sessionization (the sessionizer's oracle twin and an
    oracle-checked query in its own right): one shuffle on conv_id, two
    window passes, one hash agg. At 10^12 turns this is the canonical
    sessionize shape — the window partitions by conv_id so skew is bounded
    by the longest single conversation, and nothing but (conv_id, ms,
    is_tool) moves after the projection."""
    from pyspark.sql import Window
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    # fixture ts is TIMESTAMP_NTZ; under the UTC session the cast is identity
    ms = (F.unix_micros(F.col("ts").cast("timestamp")) / 1000).cast("long")
    sess = (df
            .withColumn("ms", ms)
            .withColumn("prev_ms", F.lag("ms").over(w))
            .withColumn("new_sess",
                        (F.col("prev_ms").isNull()
                         | ((F.col("ms") - F.col("prev_ms")) > gap_ms))
                        .cast("long"))
            .withColumn("sess_id", F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0))))
    return (sess.groupBy("conv_id", "sess_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_turns"),
                 F.sum(F.col("tool").isNotNull().cast("long"))
                  .cast("long").alias("n_tool_calls"),
                 F.min("ms").alias("first_ms"),
                 F.max("ms").alias("last_ms"))
            .withColumn("duration_ms", F.col("last_ms") - F.col("first_ms"))
            .drop("sess_id")
            .orderBy("conv_id", "first_ms"))


def sql_gap_sessions(tx_view: str, gap_ms: int = 120_000) -> str:
    """DuckDB oracle for :func:`gap_sessions` — identical column names,
    identical deterministic ORDER BY."""
    return f"""
        WITH t AS (
            SELECT conv_id, turn_idx,
                   CAST(epoch_ms(ts) AS BIGINT) AS ms,
                   CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END AS is_tool
            FROM {tx_view}
        ), lagd AS (
            SELECT *, LAG(ms) OVER
                   (PARTITION BY conv_id ORDER BY ms, turn_idx) AS prev_ms
            FROM t
        ), marked AS (
            SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > {gap_ms}
                           THEN 1 ELSE 0 END AS new_sess
            FROM lagd
        ), sess AS (
            SELECT *, SUM(new_sess) OVER
                   (PARTITION BY conv_id ORDER BY ms, turn_idx
                    ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM marked
        )
        SELECT conv_id,
               CAST(COUNT(*) AS BIGINT) AS n_turns,
               CAST(SUM(is_tool) AS BIGINT) AS n_tool_calls,
               CAST(MIN(ms) AS BIGINT) AS first_ms,
               CAST(MAX(ms) AS BIGINT) AS last_ms,
               CAST(MAX(ms) - MIN(ms) AS BIGINT) AS duration_ms
        FROM sess GROUP BY conv_id, sess_id
        ORDER BY conv_id, first_ms
    """


def batch_sessionize_oracle(spark: SparkSession, input_dir: str,
                            gap: str = "2 minutes"):
    """The batch gap-rule sessionization the stream must reproduce."""
    gap_ms = int(pd.Timedelta(gap).total_seconds() * 1000)
    return gap_sessions(spark.read.parquet(input_dir), gap_ms)


# ---------------------------------------------------------------------------
# Streaming SFT example builder (the incremental twin of
# operators/tx_stats.sft_examples)
# ---------------------------------------------------------------------------

_SFT_STATE_SCHEMA = "n_turns BIGINT, n_tokens BIGINT"


class SftExampleBuilder(StatefulProcessor):
    """Incremental SFT dataset builder: per conv_id the state is just the
    running (prompt_turns, prompt_tokens) pair; every ASSISTANT turn
    emits one training example the moment it arrives — the streaming
    twin of ``operators/tx_stats.sft_examples``, so a live transcript
    feed materializes fine-tuning examples continuously instead of by
    nightly batch. No timers: the example depends only on the prefix,
    never on conversation close.

    Rows must arrive turn-ordered per conversation ACROSS batches (the
    same in-order contract the stateful multiline assembler documents;
    within a batch any order is fine — the kernel sorts). The batch math
    is fully vectorized: one cumsum per (conv, batch), no per-row Python.

    State is two BIGINTs per conversation — at 10^12 turns this is the
    smallest possible keyed state (16 bytes/conv in RocksDB), and rows
    shuffle once on conv_id per micro-batch."""

    def __init__(self, budget: int):
        self.budget = budget

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.state = handle.getValueState("prompt_acc", _SFT_STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues: TimerValues):
        import numpy as np

        conv_id = key[0]
        parts = [df[["turn_idx", "role", "tok"]] for df in rows]
        batch = pd.concat(parts).sort_values("turn_idx")
        tok = batch["tok"].to_numpy(dtype="int64")
        cur = self.state.get()
        n0, t0 = (cur if cur is not None else (0, 0))
        prompt_turns = n0 + np.arange(len(batch), dtype="int64")
        prompt_tokens = t0 + np.concatenate(
            ([0], np.cumsum(tok)[:-1])).astype("int64")
        mask = (batch["role"] == "assistant").to_numpy()
        if mask.any():
            yield pd.DataFrame({
                "conv_id": conv_id,
                "turn_idx": batch["turn_idx"].to_numpy(dtype="int64")[mask],
                "prompt_turns": prompt_turns[mask],
                "prompt_tokens": prompt_tokens[mask],
                "completion_tokens": tok[mask],
                "fits_budget": (prompt_tokens[mask] + tok[mask]
                                <= self.budget),
            })
        self.state.update((int(n0 + len(batch)), int(t0 + tok.sum())))

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        return iter(())

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "tx_sessions",
    """Gap-rule conversation sessionization (batch twin of the
    transformWithState streaming sessionizer): sessions split where the
    inter-turn gap exceeds 2 minutes; per-session turn/tool-call counts
    and epoch-ms bounds.""",
    lambda spark, sf_dir: gap_sessions(pl.load_transcripts(spark, sf_dir)),
    lambda: sql_gap_sessions(tx_view()))
