"""Continuation-VII ops: prefix-cache hit rate, payload schema-drift
census, bigram coherence, embedding norm audit — hand-computed
expectations on crafted frames plus in-test DuckDB for the documents op
(the registered sf0.01 oracles cover the full cross-engine path)."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.operators import tx_stats as TX
from log_collector_spark.textops import analysis as TA
from log_collector_spark.textops import similarity as TS


def _routed(spark, rows, schema):
    df = spark.createDataFrame(rows, schema)
    return (df.withColumn("parse_ok", F.lit(True))
              .withColumn("is_blank", F.lit(False))
              .withColumn("is_oversize", F.lit(False)))


def test_prefix_cache_rate_closed_form(spark):
    rows = [("A", 0, '{"tokens":10}'), ("A", 1, '{"tokens":20}'),
            ("A", 2, '{"tokens":30}'),
            ("B", 0, '{"tokens":7}')]           # one-shot -> hit rate 0
    out = {r["conv_id"]: r for r in TX.prefix_cache_rate(
        _routed(spark, rows,
                "conv_id string, turn_idx int, payload string")).collect()}
    a = out["A"]
    # prefixes 0,10,30 -> cachable 40; processed (0+10)+(10+20)+(30+30)=100
    assert (a["n_turns"], a["total_tokens"], a["cachable_tokens"],
            a["processed_tokens"], a["hit_permille"]) == (3, 60, 40, 100, 400)
    b = out["B"]
    assert (b["cachable_tokens"], b["hit_permille"]) == (0, 0)


def test_json_schema_drift_shares(spark):
    rows = [("k", 0, '{"a":1,"b":2}'), ("k", 1, '{"a":3}'),
            ("m", 0, '{"c":9}')]
    out = {(r["logtype"], r["key"]): (r["n_turns"], r["share_permille"])
           for r in TX.json_schema_drift(_routed(
               spark, rows,
               "logtype string, turn_idx int, payload string")).collect()}
    assert out[("k", "a")] == (2, 1000)   # every k-turn has "a"
    assert out[("k", "b")] == (1, 500)    # half have "b" -> drift signal
    assert out[("m", "c")] == (1, 1000)
    assert ("m", "a") not in out


def test_bigram_coherence_matches_duckdb(spark):
    common = "the quick brown fox"
    texts = [common] * 5 + ["zxq wvu tsr qpo nml"]  # last: unique bigrams
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = sorted(tuple(r) for r in TA.bigram_coherence(df).collect())
    con = duckdb.connect()
    con.register("documents",
                 pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    want = sorted(tuple(r) for r in
                  con.execute(TA.sql_bigram_coherence()).fetchall())
    assert got == want
    by_id = {r[0]: r[3] for r in got}
    assert all(by_id[i] == 1000 for i in range(5))  # df=5 meets min_df
    assert by_id[5] == 0                            # nobody else says zxq wvu


def test_embedding_norm_audit_bins(spark):
    vecs = [(0, [3.0, 4.0]), (1, [3.0, 4.0]), (2, [0.3, 0.4])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = {r["norm_bin"]: (r["n_vecs"], r["share_permille"])
           for r in TS.embedding_norm_audit(df).collect()}
    # norms^2: 25e6, 25e6, 25e4 -> bins 10, 10, 0
    assert out[10] == (2, 666)
    assert out[0] == (1, 333)
    con = duckdb.connect()
    con.register("embeddings", pd.DataFrame(
        {"vec_id": [0, 1, 2], "embedding": [v for _, v in vecs]}))
    want = {r[0]: (r[1], r[2]) for r in
            con.execute(TS.sql_embedding_norm_audit()).fetchall()}
    assert want == out
