"""Continuation-XII ops: VARIANT-path payload extraction, integer ANN MRR,
mapInArrow media stage equality."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.operators import tx_stats as TX
from log_collector_spark.textops import evalops as EV

SF = "/root/testdata/sf0.001"


def _routed(spark, rows, schema):
    df = spark.createDataFrame(rows, schema)
    return (df.withColumn("parse_ok", F.lit(True))
              .withColumn("is_blank", F.lit(False))
              .withColumn("is_oversize", F.lit(False)))


def test_variant_stats_never_throws_and_extracts(spark):
    rows = [(0, '{"tool":"bash","tokens":5,"latency_ms":9}'),
            (1, '{"tool":"bash","tokens":7,"latency_ms":1}'),
            (2, 'not json at all'),              # try_parse_json -> NULL
            (3, '{"tokens":1}')]                 # no tool -> dropped
    out = TX.variant_payload_stats(_routed(
        spark, rows, "turn_idx int, payload string")).collect()
    assert [(r["vtool"], r["n_turns"], r["tok_sum"], r["lat_sum"])
            for r in out] == [("bash", 2, 12, 10)]


def test_ann_mrr_bounds_and_consistency_with_recall(spark):
    df = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    out = {r["ann_path"]: r for r in EV.ann_mrr(df).collect()}
    assert set(out) == {"ivf", "lsh"}
    for r in out.values():
        assert 0 <= r["mrr_milli"] <= 1000
        assert 0 <= r["n_hits"] <= r["n_queries"]
        # a found truth contributes at least 1000//k, so hits>0 => mrr>0
        assert (r["mrr_milli"] > 0) == (r["n_hits"] > 0)
