"""Structured Streaming variant of the pipeline (SURVEY §2.9 / §7.1 step 10).

The batch stages are pure DataFrame→DataFrame functions, so the streaming
engine reuses them verbatim under ``foreachBatch``:

- **source offsets / resume** (S4/S7): the file streaming source +
  ``checkpointLocation`` replace the reference's ``filename:byteOffset`` and
  ``.kafka_offset`` files — a second run over the same directory processes
  nothing (test-asserted), which is the Structured Streaming upgrade of the
  reference's at-least-once write-then-persist-offset loop
  (DefaultFileReader.java:306-310),
- **trigger interval** (scan loop, DefaultFileReader.java:107):
  ``Trigger.ProcessingTime`` in production; tests use ``availableNow`` to
  drain deterministically,
- **per-minute metric buckets with 24h TTL** (A2+A4,
  metrics/ReaderMetrics.java:29-35,52-57): a watermarked windowed count —
  the watermark drops state for buckets older than 24h exactly like the
  reference's eviction-at-report,
- **sinks, exactly once**: the ``foreachBatch`` body is the batch commit
  core ``plans.checkpoint.commit_batch`` with batch id
  ``<query id>-<batchId>``, lineage in ``<checkpointLocation>/lineage``.
  Spark replays an uncommitted micro-batch with the same id and files, so
  the replay overwrites its own staging dir; a committed one is skipped.
  Metrics (W7) are a hook on the committed lineage rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from log_collector_spark.plans import checkpoint as ck

TRANSCRIPT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def read_transcript_stream(spark: SparkSession, input_dir: str,
                           max_files_per_trigger: int | None = None
                           ) -> DataFrame:
    r = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(input_dir)


def _append_parquet(df: DataFrame, checkpoint_loc: str, out_dir: str):
    """Drain ``df`` (availableNow) into ``out_dir`` as appended parquet."""
    return (df.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_loc)
            .trigger(availableNow=True)
            .format("parquet").option("path", out_dir).start())


LINEAGE_DIR = "lineage"


def start_pipeline_stream(spark: SparkSession, input_dir: str,
                          checkpoint_loc: str, out_dir: str, *,
                          on_commit=None, available_now: bool = True,
                          processing_time: str = "10 seconds"):
    """parse→enrich→route→per-sink fan-out through the commit core, once
    per micro-batch. ``on_commit`` receives each newly committed batch's
    lineage rows, e.g. ``operators.sinks.kairos_hook(...)``: the
    reference's MetricSender tick (AbstractReader.java:69-135)."""
    src = read_transcript_stream(spark, input_dir)
    lineage = os.path.join(checkpoint_loc, LINEAGE_DIR)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        qid = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        stats = ck.commit_batch(spark, batch_df, f"{qid}-{batch_id}",
                                *ck.frame_files(batch_df), lineage, out_dir,
                                qid)
        if stats is not None and on_commit is not None:
            on_commit(stats)

    w = src.writeStream.foreachBatch(process) \
        .option("checkpointLocation", checkpoint_loc)
    if available_now:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=processing_time)
    return w.start()


def start_dedup_stream(spark: SparkSession, input_dir: str,
                       checkpoint_loc: str, out_dir: str, *,
                       watermark: str = "24 hours"):
    """Streaming exact dedup — the continuous-ingest twin of
    ``textops.dedup.incremental_dedup``: rows whose content fingerprint was
    already emitted are dropped, across micro-batches AND restarts (the
    seen-set lives in the state store via the checkpoint).

    ``dropDuplicatesWithinWatermark`` bounds the state: a fingerprint is
    remembered only while its event time is within the watermark, so state
    size tracks the ingest window, not corpus lifetime — the property that
    keeps this runnable forever at 100-TB/day rates (an unbounded
    ``dropDuplicates`` seen-set would OOM the state store; beyond-horizon
    dups are the incremental_dedup batch job's responsibility)."""
    src = read_transcript_stream(spark, input_dir)
    fp = F.md5(F.concat_ws(
        "\x1f", F.col("conv_id"), F.col("turn_idx").cast("string"),
        F.coalesce(F.col("text"), F.lit(""))))
    deduped = (src.withColumn("fp", fp)
                  .withWatermark("ts", watermark)
                  .dropDuplicatesWithinWatermark(["fp"]))
    return _append_parquet(deduped, checkpoint_loc, out_dir)


def start_minute_bucket_stream(spark: SparkSession, input_dir: str,
                               checkpoint_loc: str, out_dir: str, *,
                               watermark: str = "24 hours"):
    """A2+A4: watermarked per-minute event-time counts → parquet (append
    mode emits a bucket once its watermark passes — the state-TTL analog)."""
    src = read_transcript_stream(spark, input_dir)
    agg = (src.withWatermark("ts", watermark)
              .groupBy(F.window("ts", "1 minute").alias("w"))
              .agg(F.count(F.lit(1)).alias("n"))
              .select(F.col("w.start").alias("bucket_start"),
                      F.col("w.end").alias("bucket_end"), "n"))
    return _append_parquet(agg, checkpoint_loc, out_dir)


def start_session_window_stream(spark: SparkSession, input_dir: str,
                                checkpoint_loc: str, out_dir: str, *,
                                gap: str = "30 minutes",
                                watermark: str = "24 hours"):
    """Streaming gap-sessionization — the continuous twin of the batch
    ``sessionize_events`` query: per-conversation event-time session windows
    (``session_window`` merges rows closer than ``gap``; state closes and
    emits once the watermark passes the session end, which is also what
    bounds the state store — sessions, not history).

    At 100 TB/day the state is one open session per active conversation —
    keyed state, partitioned by the grouping key across executors."""
    src = read_transcript_stream(spark, input_dir)
    agg = (src.withWatermark("ts", watermark)
              .groupBy("conv_id",
                       F.session_window("ts", gap).alias("w"))
              .agg(F.count(F.lit(1)).alias("n_turns"),
                   F.min("turn_idx").alias("first_turn"),
                   F.max("turn_idx").alias("last_turn"))
              .select("conv_id",
                      F.col("w.start").alias("session_start"),
                      F.col("w.end").alias("session_end"),
                      "n_turns", "first_turn", "last_turn"))
    return _append_parquet(agg, checkpoint_loc, out_dir)


def _tool_call_join(src: DataFrame, max_lag: str, watermark: str,
                    how: str) -> DataFrame:
    """Assistant tool calls joined to tool results of the same (conv_id,
    tool) within ``max_lag``; both sides watermarked by ``watermark``."""
    calls = (src.filter((F.col("role") == "assistant")
                        & F.col("tool").isNotNull())
                .select(F.col("conv_id").alias("c_conv"),
                        F.col("tool").alias("c_tool"),
                        F.col("turn_idx").alias("call_turn"),
                        F.col("ts").alias("call_ts"))
                .withWatermark("call_ts", watermark))
    results = (src.filter(F.col("role") == "tool")
                  .select(F.col("conv_id").alias("r_conv"),
                          F.col("tool").alias("r_tool"),
                          F.col("turn_idx").alias("result_turn"),
                          F.col("ts").alias("result_ts"))
                  .withWatermark("result_ts", watermark))
    return calls.join(results, F.expr(f"""
            c_conv = r_conv AND c_tool = r_tool
            AND result_ts >= call_ts
            AND result_ts <= call_ts + INTERVAL {max_lag}
        """), how)


def start_tool_pair_join_stream(spark: SparkSession, input_dir: str,
                                checkpoint_loc: str, out_dir: str, *,
                                max_lag: str = "10 minutes",
                                watermark: str = "1 hour"):
    """Stream-stream INTERVAL self-join (§2.9 breadth): pair each assistant
    tool-invoking turn with the next tool-result turn of the same
    (conv_id, tool) arriving within ``max_lag`` — the streaming form of the
    tool-latency profile (`tx_stats.tool_latency`), computed as results
    arrive instead of in batch.

    State-boundedness is the whole design: BOTH sides carry an event-time
    watermark and the join condition carries an explicit time range
    (result_ts in [call_ts, call_ts + max_lag]), which together let Spark
    evict buffered rows once the watermark passes call_ts + max_lag — the
    state store holds one lag-window of calls per (conv, tool), not the
    stream's history. Without the range condition a stream-stream join
    buffers forever (Spark even refuses it in append mode for inner joins
    without a watermark+range). The equi keys (conv_id, tool) carry the
    state-store partitioning across executors, so a hot conversation
    shards by tool.

    turn_idx ordering (result after call) is applied as a filter AFTER
    the join (inner join ⇒ semantically identical): Spark 4's
    StreamingJoinHelper throws "Cannot evaluate expression" when a
    non-time conjunct sits in the join condition and then FAILS to
    derive the state-value watermark — state would never be evicted,
    voiding the boundedness guarantee above."""
    joined = _tool_call_join(read_transcript_stream(spark, input_dir),
                             max_lag, watermark, "inner").filter(
        F.col("result_turn") > F.col("call_turn"))
    out = joined.select(
        F.col("c_conv").alias("conv_id"), F.col("c_tool").alias("tool"),
        "call_turn", "result_turn",
        ((F.unix_micros("result_ts") - F.unix_micros("call_ts"))
         / 1000).cast("long").alias("latency_ms"))
    return _append_parquet(out, checkpoint_loc, out_dir)


def _start_sketch_stream(spark: SparkSession, input_dir: str,
                         checkpoint_loc: str, out_dir: str, sketch,
                         max_files_per_trigger: int | None):
    """Each micro-batch appends ``sketch`` of its non-empty turns to
    ``out_dir``, tagged with its batch_id."""
    src = read_transcript_stream(spark, input_dir, max_files_per_trigger)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        (sketch(batch_df.filter(F.coalesce(F.col("text"), F.lit("")) != ""))
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    return (src.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_loc)
            .trigger(availableNow=True).start())


def start_cms_stream(spark: SparkSession, input_dir: str,
                     checkpoint_loc: str, out_dir: str, *,
                     max_files_per_trigger: int | None = None):
    """Streaming heavy-hitter sketching: each micro-batch writes its OWN
    count-min cell partial (depth×width counters tagged with batch_id);
    the live sketch at any moment is the cell-wise SUM of everything
    written so far. No state store is involved — the sketch IS the state,
    and because cell-wise addition is commutative and associative, batch
    boundaries are invisible in the merged result (the batch-equality
    pytest asserts merged-streaming == one-shot-batch EXACTLY, not
    approximately). This is the canonical shape for continuous frequency
    monitoring at 100 TB/day: bounded output per batch (depth·width
    rows), bounded merge cost, and replays stay correct if a batch_id is
    deduplicated before the merge (foreachBatch's effectively-once
    contract)."""
    from log_collector_spark.textops.analysis import cms_cells

    return _start_sketch_stream(spark, input_dir, checkpoint_loc, out_dir,
                                cms_cells, max_files_per_trigger)


def transcript_hll_registers(df: DataFrame) -> DataFrame:
    """Hourly distinct-conversation HLL registers over a (batch or
    micro-batch) transcript frame — shared by the streaming partial
    writer and the one-shot batch baseline so the equality test compares
    the same kernel."""
    from log_collector_spark.textops.analysis import (
        HLL_M, HLL_P, _HLL_RMAX)
    from log_collector_spark.textops import common as C

    hour = F.expr("unix_micros(cast(ts as timestamp)) "
                  "div 1000 div 3600000").cast("long")
    hashes = (df.select(hour.alias("hour_idx"),
                        C.h60(F.col("conv_id")).alias("h"))
              .distinct())
    w = F.shiftright(F.col("h"), HLL_P)
    rho = (F.when(w > 0, F.lit(_HLL_RMAX) - F.length(F.bin(w)))
           .otherwise(_HLL_RMAX).cast("long"))
    return (hashes.select("hour_idx", (F.col("h") % HLL_M).alias("idx"),
                          rho.alias("rho"))
            .groupBy("hour_idx", "idx")
            .agg(F.max("rho").alias("m_reg")))


def start_hll_stream(spark: SparkSession, input_dir: str,
                     checkpoint_loc: str, out_dir: str, *,
                     max_files_per_trigger: int | None = None):
    """Streaming distinct-count sketching: each micro-batch writes its
    OWN hourly HLL register partial (tagged with batch_id); the live
    sketch is the register-wise MAX of everything written so far. The
    MAX-mergeable counterpart of `start_cms_stream`'s SUM-mergeable
    cells — together they cover both sketch-merge algebras a monitoring
    stack needs, with no state store (the sketch IS the state) and
    batch boundaries provably invisible (batch-equality pytest:
    merged-streaming == one-shot-batch EXACTLY). Replays are harmless
    without dedup: MAX is idempotent, the stronger half of the
    effectively-once story."""
    return _start_sketch_stream(spark, input_dir, checkpoint_loc, out_dir,
                                transcript_hll_registers,
                                max_files_per_trigger)


def start_tool_timeout_stream(spark: SparkSession, input_dir: str,
                              checkpoint_loc: str, out_dir: str, *,
                              max_lag: str = "2 minutes",
                              watermark: str = "5 minutes",
                              max_files_per_trigger: int | None = 1):
    """LEFT-OUTER stream-stream join — the timeout detector twin of
    :func:`start_tool_pair_join_stream`: emit each assistant tool call
    that got NO matching tool-result within ``max_lag`` (hung tool, lost
    response — the alert a live ops pipeline wants, which the inner join
    by construction can never produce).

    Outer-join semantics are the interesting part: a call is provably
    unmatched only once the watermark passes ``call_ts + max_lag``, so
    Spark holds it in the state store until then and emits it
    null-extended in a LATER micro-batch (matched pairs still emit
    immediately). That delay is the correctness contract, not a bug —
    and it is why calls in the final watermark window of a drained
    stream are never emitted (the batch-equality test accounts for
    exactly this frontier). ``maxFilesPerTrigger=1`` keeps multiple
    micro-batches flowing so the watermark actually advances mid-run
    under availableNow. State size: one lag-window of calls per
    (conv, tool), same bound as the inner join."""
    # The join condition is ONLY equi keys + a watermark time range.
    # Spark 4's StreamingJoinHelper must derive a state-value watermark
    # for the calls side from this condition to know when a call is
    # provably unmatched; any non-time conjunct (e.g. a turn-ordering
    # guard `result_turn > call_turn`) makes that extraction throw
    # "Cannot evaluate expression" internally and outer emission silently
    # breaks (verified: ~75% of timed-out calls never emitted). Turn
    # ordering is implied by `result_ts >= call_ts` under the per-conv
    # monotone (turn_idx, ts) invariant, so it stays OUT of the join.
    joined = _tool_call_join(
        read_transcript_stream(spark, input_dir, max_files_per_trigger),
        max_lag, watermark, "leftOuter")
    timeouts = (joined.filter(F.col("r_conv").isNull())
                      .select(F.col("c_conv").alias("conv_id"),
                              F.col("c_tool").alias("tool"),
                              "call_turn", "call_ts"))
    return _append_parquet(timeouts, checkpoint_loc, out_dir)
