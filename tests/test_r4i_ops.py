"""Continuation-IX ops: CUBE rollup with grouping_id, latency-by-depth
deciles, per-tool cold-start ratio, length×quality joint grid."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.operators import tx_stats as TX
from log_collector_spark.textops import analysis as TA


def _routed(spark, rows, schema):
    df = spark.createDataFrame(rows, schema)
    return (df.withColumn("parse_ok", F.lit(True))
              .withColumn("is_blank", F.lit(False))
              .withColumn("is_oversize", F.lit(False)))


def test_cube_tool_usage_all_grouping_combos(spark):
    rows = [("human", "exec", 0, '{"tokens":10}'),
            ("human", "fs", 1, '{"tokens":20}'),
            ("model", "exec", 2, '{"tokens":5}')]
    out = TX.cube_tool_usage(_routed(
        spark, rows, "role_class string, tool_category string, "
                     "turn_idx int, payload string")).collect()
    by = {(r["gid"], r["role_class"], r["tool_category"]):
          (r["n_turns"], r["tok_sum"]) for r in out}
    assert by[(0, "human", "exec")] == (1, 10)     # detail cell
    assert by[(1, "human", None)] == (2, 30)       # per-role subtotal
    assert by[(2, None, "exec")] == (2, 15)        # per-category subtotal
    assert by[(3, None, None)] == (3, 35)          # grand total
    assert len(out) == 3 + 2 + 2 + 1               # 3 cells + margins


def test_latency_by_depth_buckets(spark):
    # 10-turn conversation, latency == turn position + 1 -> decile d gets
    # exactly one turn with lat d+1
    rows = [("A", i, '{"latency_ms":%d}' % (i + 1)) for i in range(10)]
    out = {r["depth_decile"]: (r["n_turns"], r["lat_sum"], r["lat_mean_ms"])
           for r in TX.latency_by_depth(_routed(
               spark, rows,
               "conv_id string, turn_idx int, payload string")).collect()}
    assert out == {d: (1, d + 1, d + 1) for d in range(10)}


def test_cold_start_ratio_closed_form(spark):
    rows = [("A", 0, "bash", '{"latency_ms":300}'),   # first bash in A
            ("A", 1, "bash", '{"latency_ms":100}'),
            ("B", 0, "bash", '{"latency_ms":300}'),   # first bash in B
            ("B", 1, "bash", '{"latency_ms":100}'),
            ("A", 2, "read", '{"latency_ms":50}')]    # no repeats -> ratio 0
    out = {r["tool"]: r for r in TX.cold_start_ratio(_routed(
        spark, rows, "conv_id string, turn_idx int, tool string, "
                     "payload string")).collect()}
    b = out["bash"]
    # first mean 300, rest mean 100 -> 3000 permille
    assert (b["first_n"], b["rest_n"], b["cold_ratio_permille"]) \
        == (2, 2, 3000)
    assert out["read"]["cold_ratio_permille"] == 0


def test_len_quality_grid_shares_sum_to_corpus(spark):
    texts = (["aa bb cc"] * 3            # short, all-alpha
             + ["111 222 333 444 555 666 777 888"] * 3)  # longer, zero-alpha
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    out = TA.len_quality_grid(df).collect()
    assert sum(r["n_docs"] for r in out) == len(texts)
    cells = {(r["len_decile"], r["q_decile"]): r["n_docs"] for r in out}
    assert len(cells) == 2                      # two pure cohorts
    # the short cohort is the all-alpha one: len decile 0, TOP q decile
    (lo_len_cell,) = [c for c in cells if c[0] == 0]
    assert lo_len_cell[1] > 0
