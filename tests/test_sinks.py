"""Sink adapters (W1-W3): console, gateway spool, kafka instruction."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.operators import sinks
from log_collector_spark.plans import pipeline as pl

SF_DIR = "/root/testdata/sf0.001"


def test_gateway_sink_spools_newline_joined_batches(spark, tmp_path):
    routed = pl.full_pipeline(spark, SF_DIR)
    ok = routed.filter(F.col("parse_ok") & ~F.col("is_oversize")) \
               .select("parsed_json").limit(500).coalesce(2)
    out = str(tmp_path / "gw")
    sinks.gateway_sink(ok, out)
    bodies = [open(os.path.join(out, f)).read()
              for f in os.listdir(out) if f.endswith(".body")]
    assert bodies
    lines = [ln for b in bodies for ln in b.split("\n")]
    assert len(lines) == 500
    assert all(ln.startswith("{") and ln.endswith("}") for ln in lines)


def test_console_sink_runs(spark, capsys):
    df = spark.range(3).select(F.col("id").cast("string").alias("msg"))
    sinks.console_sink(df, 3)


def test_kafka_sink_raises_with_instruction(spark):
    df = spark.createDataFrame([("t_etl", '{"a":1}')],
                               "sink string, parsed_json string")
    with pytest.raises(NotImplementedError, match="kafka"):
        sinks.kafka_sink(df, "broker:9092")


# --- Kafka config mapping (S7/W1, connector-gated) -------------------------

def test_kafka_reader_option_mapping():
    from log_collector_spark.sources import kafka as K
    conf = {
        "reader.kafka.topics": "logs",
        "reader.kafka.frombeginning": "true",
        "reader.kafka.bootstrap.servers": "b1:9092,b2:9092",
        "reader.kafka.max.poll.records": "500",
        "reader.kafka.zookeeper.server": "zk:2181",  # engine key, not client
        "writer.kafka.topic": "out",
    }
    opts = K.reader_kafka_options(conf)
    assert opts == {"kafka.bootstrap.servers": "b1:9092,b2:9092",
                    "kafka.max.poll.records": "500"}


def test_kafka_starting_offsets_seek_semantics():
    import json
    from log_collector_spark.sources import kafka as K
    # stored offset o → seek o+1 (CustomKafkaConsumer.java:140-146)
    s = json.loads(K.starting_offsets("logs", {0: 41, 1: -1, 2: 0},
                                      from_beginning=False))
    assert s == {"logs": {"0": 42, "1": -1, "2": 1}}
    # no offsets at all → beginning/end switch (frombeginning)
    assert K.starting_offsets("logs", {}, from_beginning=True) == "earliest"
    assert K.starting_offsets("logs", {}, from_beginning=False) == "latest"
    # -1 partitions honor frombeginning via the -2 sentinel
    s2 = json.loads(K.starting_offsets("logs", {3: -1}, from_beginning=True))
    assert s2 == {"logs": {"3": -2}}


def test_kafka_topic_diff_rewrite_matches_route_suffix():
    from log_collector_spark.grok.oracle import SINK_OK_SUFFIX
    from log_collector_spark.sources import kafka as K
    assert K.resume_topic("logs", True) == "logs" + SINK_OK_SUFFIX
    assert K.resume_topic("logs", False) == "logs"


def test_kafka_stream_reader_gated_without_connector(spark):
    from log_collector_spark.sources import kafka as K
    conf = {"reader.kafka.topics": "logs",
            "reader.kafka.bootstrap.servers": "b:9092"}
    with pytest.raises(NotImplementedError, match="kafka"):
        K.kafka_stream_reader(spark, conf, offset_map={0: 10})


def test_kafka_writer_registered_in_config(spark):
    from log_collector_spark.plans.config import WRITERS
    w = WRITERS["io.sugo.collect.writer.kafka.KafkaWriter"](
        {"kafka.bootstrap.servers": "b:9092", "kafka.retries": "5"})
    df = spark.createDataFrame([("t_etl", "{}")],
                               "sink string, parsed_json string")
    with pytest.raises(NotImplementedError, match="kafka"):
        w(df)


def test_kafka_reader_golden_option_dict_mixed_offsets():
    """VERDICT r2 #7: pin the EXACT dict a readStream.format('kafka') gets,
    including the startingOffsets JSON for mixed stored/-1 offsets — an
    option-name typo or JSON-shape drift fails here without a broker."""
    import json
    from log_collector_spark.sources import kafka as K
    conf = {
        "reader.kafka.topics": "logs",
        "reader.kafka.frombeginning": "false",
        "reader.kafka.bootstrap.servers": "b1:9092,b2:9092",
        "reader.kafka.max.poll.records": "500",
    }
    opts = K.reader_options(conf, offset_map={0: 41, 1: -1, 2: 0})
    starting = json.loads(opts.pop("startingOffsets"))
    assert starting == {"logs": {"0": 42, "1": -1, "2": 1}}
    assert opts == {
        "subscribe": "logs",
        "failOnDataLoss": "false",
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "kafka.max.poll.records": "500",
    }
    # no offset map at all → plain earliest/latest (first run, no resume)
    assert K.reader_options(conf)["startingOffsets"] == "latest"
    conf["reader.kafka.frombeginning"] = "true"
    assert K.reader_options(conf)["startingOffsets"] == "earliest"


def test_kafka_multi_topic_starting_offsets():
    """ADVICE r2: multi-topic resume must emit offsets for EVERY subscribed
    TopicPartition (Spark rejects partial specific-offset JSON at runtime)."""
    import json
    import pytest
    from log_collector_spark.sources import kafka as K
    nested = {"logs": {0: 41, 1: -1}, "audit": {0: -1}}
    s = json.loads(K.starting_offsets("logs, audit", nested,
                                      from_beginning=True))
    assert s == {"logs": {"0": 42, "1": -2}, "audit": {"0": -2}}
    # flat map + multi-topic subscription → refuse (would fail at runtime)
    with pytest.raises(ValueError, match="multi-topic"):
        K.starting_offsets("logs,audit", {0: 41})
    # nested map missing a subscribed topic → refuse
    with pytest.raises(ValueError, match="missing offsets"):
        K.starting_offsets("logs,audit", {"logs": {0: 41}})
    # nested map naming an unsubscribed topic → refuse
    with pytest.raises(ValueError, match="not in the subscription"):
        K.starting_offsets("logs", nested)


def test_kafka_sink_golden_option_dict():
    from log_collector_spark.sources import kafka as K
    conf = {"kafka.retries": "5", "kafka.acks": "all",
            "writer.kafka.topic": "out"}  # engine key, not client config
    assert K.sink_options("b:9092", conf) == {
        "kafka.bootstrap.servers": "b:9092",
        "kafka.retries": "5",
        "kafka.acks": "all",
    }


# --- W7 metric sender retry (AbstractReader.java:107-131) -------------------

def _tick(src: str, ok: int, err: int) -> list[dict]:
    """One processed-style KairosDB batch for one source."""
    rm = sinks.ReaderMetricsState()
    rm.add_success(ok)
    rm.add_error(err)
    return sinks.build_kairos_batch({src: rm}, "h1", 0)


def test_metric_sender_retries_failed_batch_before_next():
    import json
    sent, fail_next = [], [True]

    def post(body):
        if fail_next[0]:
            fail_next[0] = False
            raise IOError("metric server down")
        sent.append(json.loads(body))

    s = sinks.MetricSender(post)
    batch1 = _tick("a.log", 10, 2)
    s.send(batch1)                    # POST fails → batch kept
    assert sent == [] and s.backlog == batch1
    batch2 = _tick("b.log", 5, 0)
    s.send(batch2)                    # failed batch re-sent FIRST, then fresh
    assert sent == [batch1, batch2]
    assert s.backlog == []
    s.send([])                        # empty tick: nothing posted
    assert sent == [batch1, batch2]


def test_metric_sender_backlog_survives_repeated_failures_and_caps():
    calls = []

    def post(body):
        calls.append(body)
        raise IOError("still down")

    s = sinks.MetricSender(post, max_backlog=3)
    m = [_tick(f"{i}.log", i, 0)[0] for i in range(5)]
    s.send(m[:2])
    s.send(m[2:4])   # resend attempt + fresh attempt both fail
    s.send([m[4]])
    # capped at 3, oldest dropped first
    assert [x["value"] for x in s.backlog] == [2, 3, 4]


def test_kairos_hook_folds_lineage_per_source():
    """The commit hook sums a source's lineage rows (one per write task)
    and puts its raw datapoint at the source's latest logtime."""
    import json

    import pyarrow as pa

    t1, t2 = 1_700_000_000_000, 1_700_000_100_000
    stats = pa.table({"src_file": ["/in/a.parquet", "/in/a.parquet",
                                   "/x/b.parquet"],
                      "success": [3, 4, 1], "error": [1, 0, 2],
                      "max_logtime": [t2, t1, None]})
    sent: list[str] = []
    sinks.kairos_hook(post=sent.append, host="h", style="raw",
                      clock=lambda: t2)(stats)
    got = {(m["tags"]["from"], m["name"].rsplit(".", 1)[1]):
           m.get("datapoints", m.get("value")) for m in json.loads(sent[0])}
    assert got == {("a.parquet", "success"): [[-(-t2 // 60000) * 60000, 7]],
                   ("a.parquet", "error"): 1,
                   ("b.parquet", "success"): [],
                   ("b.parquet", "error"): 2}


def test_kairos_dto_processed_and_raw_golden():
    """Both KairosDB DTO styles, field-for-field against the reference
    (AbstractReader.java:89-114 + metrics/ReaderMetrics.java):
    processed = Single {name,type,tags,timestamp,value=delta};
    raw = Multiple {name,type,tags,datapoints=[[ceil-min ts, cumulative]]}
    with changed-only emission and one-day eviction; error is always the
    Single delta shape."""
    import json

    from log_collector_spark.operators.sinks import (
        READ_ERROR_METRIC_NAME, READ_LINE_METRIC_NAME, ReaderMetricsState,
        build_kairos_batch)

    t0 = 1700000000000  # 2023-11-14T22:13:20Z — mid-minute
    minute = -(-t0 // 60000) * 60000

    # ---- processed style: delta semantics across two ticks
    rm = ReaderMetricsState()
    for _ in range(5):
        rm.increment_success(t0)
    rm.increment_error()
    batch1 = build_kairos_batch({"a.log": rm}, "h1", t0 + 1000, "processed")
    assert json.loads(json.dumps(batch1)) == [
        {"name": READ_LINE_METRIC_NAME, "type": "long",
         "tags": {"from": "a.log", "host": "h1"},
         "timestamp": t0 + 1000, "value": 5},
        {"name": READ_ERROR_METRIC_NAME, "type": "long",
         "tags": {"from": "a.log", "host": "h1"},
         "timestamp": t0 + 1000, "value": 1},
    ]
    rm.increment_success(t0)
    rm.increment_success(t0)
    batch2 = build_kairos_batch({"a.log": rm}, "h1", t0 + 2000, "processed")
    assert batch2[0]["value"] == 2      # delta, not cumulative
    assert batch2[1]["value"] == 0      # no new errors

    # ---- raw style: cumulative datapoints, changed-only, eviction
    rm = ReaderMetricsState()
    for _ in range(3):
        rm.increment_success(t0)            # bucket: ceil minute of t0
    rm.increment_success(t0 + 60000)        # next bucket
    batch1 = build_kairos_batch({"b.log": rm}, "h2", t0 + 1000, "raw")
    assert json.loads(json.dumps(batch1)) == [
        {"name": READ_LINE_METRIC_NAME, "type": "long",
         "tags": {"from": "b.log", "host": "h2"},
         "datapoints": [[minute, 3], [minute + 60000, 1]]},
        {"name": READ_ERROR_METRIC_NAME, "type": "long",
         "tags": {"from": "b.log", "host": "h2"},
         "timestamp": t0 + 1000, "value": 0},
    ]
    # second tick: only the bucket that changed re-emits, CUMULATIVE value
    rm.increment_success(t0)
    batch2 = build_kairos_batch({"b.log": rm}, "h2", t0 + 2000, "raw")
    assert batch2[0]["datapoints"] == [[minute, 4]]
    # third tick a day later: everything evicted, nothing changed
    later = t0 + 25 * 3600 * 1000
    batch3 = build_kairos_batch({"b.log": rm}, "h2", later, "raw")
    assert batch3[0]["datapoints"] == []
    assert rm.success_map == {}

    # exact ceil-minute rule: a timestamp ON the minute stays there
    rm2 = ReaderMetricsState()
    rm2.increment_success(minute)
    assert list(rm2.success_map) == [minute]

    import pytest
    with pytest.raises(ValueError):
        build_kairos_batch({}, "h", 0, "weird")
