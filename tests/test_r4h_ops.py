"""Continuation-VIII ops: interaction-shape conversation dedup, zone-map
prunability audit, pandas GROUPED_AGG UDAF (median/MAD), applyInArrow
grouped map. Closed-form expectations on crafted frames; the sf0.01
registered oracles carry the cross-engine check."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.operators import order as OO
from log_collector_spark.operators import tx_stats as TX


def _routed(spark, rows, schema):
    df = spark.createDataFrame(rows, schema)
    return (df.withColumn("parse_ok", F.lit(True))
              .withColumn("is_blank", F.lit(False))
              .withColumn("is_oversize", F.lit(False)))


def test_shape_dupes_groups_identical_sequences(spark):
    rows = [
        ("A", 0, "user", None), ("A", 1, "assistant", "bash"),
        ("B", 0, "user", None), ("B", 1, "assistant", "bash"),  # same as A
        ("C", 0, "user", None), ("C", 1, "assistant", "read"),  # differs
        ("D", 0, "user", None),                                  # singleton
        ("E", 0, "user", None),                                  # dup of D
    ]
    out = TX.shape_dupes(_routed(
        spark, rows,
        "conv_id string, turn_idx int, role string, tool string")).collect()
    got = {(r["len_turns"], r["n_convs"]) for r in out}
    assert got == {(2, 2), (1, 2)}   # {A,B} and {D,E}; C stays unique


def test_latency_mad_udaf_closed_form(spark):
    rows = [("bash", i, '{"latency_ms":%d}' % v)
            for i, v in enumerate([1, 3, 9, 100, 7])]
    out = TX.tool_latency_mad_udaf(_routed(
        spark, rows,
        "tool string, turn_idx int, payload string")).collect()
    r = out[0]
    # sorted [1,3,7,9,100]: lower-median 7; |dev| sorted [2,4,6,93] + [0]
    # -> [0,2,4,6,93], lower-median 4
    assert (r["tool"], r["n_turns"], r["median_ms"], r["mad_ms"]) \
        == ("bash", 5, 7, 4)


def test_conv_stats_arrow_matches_groupby(spark):
    rows = [("A", 0, '{"tokens":10}'), ("A", 1, '{"tokens":30}'),
            ("B", 0, '{"tokens":5}')]
    routed = _routed(spark, rows,
                     "conv_id string, turn_idx int, payload string")
    got = {r["conv_id"]: (r["n_turns"], r["tok_sum"], r["tok_max"])
           for r in TX.conv_stats_arrow(routed).collect()}
    assert got == {"A": (2, 40, 30), "B": (1, 5, 5)}


def test_zonemap_audit_prunes_disjoint_files(spark, tmp_path):
    import pandas as pd
    base = pd.Timestamp("2024-01-01")
    # datetime64[us]: pandas defaults to ns and Spark rejects
    # TIMESTAMP(NANOS) parquet
    d0 = pd.DataFrame({"ts": [base, base + pd.Timedelta(hours=3)]}) \
        .astype({"ts": "datetime64[us]"})
    d1 = pd.DataFrame({"ts": [base + pd.Timedelta(days=5),
                              base + pd.Timedelta(days=6)]}) \
        .astype({"ts": "datetime64[us]"})
    p = tmp_path / "zm"
    p.mkdir()
    d0.to_parquet(p / "f0.parquet")
    d1.to_parquet(p / "f1.parquet")
    df = spark.read.parquet(str(p))
    got = {r["fname"]: (r["rows"], r["prunable"])
           for r in OO.zonemap_audit(df).collect()}
    # probe = first day -> the day-0 file must scan, the day-5/6 file prunes
    assert got["f0.parquet"] == (2, False)
    assert got["f1.parquet"] == (2, True)
