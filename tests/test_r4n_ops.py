"""Continuation-XIV ops: DPO preference pairs (deterministic tie-breaks),
Kendall tau-a length-bias audit (brute-force equality on the banded
values), curriculum staging (histogram boundaries), judge-agreement kappa
(perfect / independent corners), SQ8 reconstruction error (numpy integer
equality + flat-dimension edge)."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.operators import tx_stats as TX
from log_collector_spark.textops import analysis as A
from log_collector_spark.textops import similarity as S
from log_collector_spark.textops.common import EMB_SCALE


def _routed(spark, rows):
    """(conv_id, turn_idx, role, tool, tool_category, payload) -> routed."""
    return (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, tool string, "
              "tool_category string, payload string")
        .withColumn("parse_ok", F.lit(True))
        .withColumn("is_blank", F.lit(False))
        .withColumn("is_oversize", F.lit(False)))


def _pl(tokens, latency):
    return '{"tokens":%d,"latency_ms":%d}' % (tokens, latency)


# ---------------------------------------------------------------------------
# dpo_pairs
# ---------------------------------------------------------------------------

def test_dpo_pairs_chosen_rejected_margin(spark):
    rows = [
        # c1: rewards 10*1000//100=100, 50*1000//100=500, 20*1000//1000=20
        ("c1", 0, "assistant", None, None, _pl(10, 100)),
        ("c1", 1, "assistant", None, None, _pl(50, 100)),
        ("c1", 2, "assistant", None, None, _pl(20, 1000)),
        ("c1", 3, "user",      None, None, _pl(99, 1)),    # not assistant
        # c2: single assistant turn -> excluded (no pair)
        ("c2", 0, "assistant", None, None, _pl(10, 10)),
    ]
    out = {r["conv_id"]: r for r in
           TX.dpo_pairs(_routed(spark, rows)).collect()}
    assert set(out) == {"c1"}
    r = out["c1"]
    assert (r["n_candidates"], r["chosen_turn"], r["chosen_reward"],
            r["rejected_turn"], r["rejected_reward"], r["reward_margin"]) \
        == (3, 1, 500, 2, 20, 480)


def test_dpo_pairs_tie_break_earliest_vs_latest(spark):
    # all rewards equal: chosen = earliest turn, rejected = latest
    rows = [("c1", i, "assistant", None, None, _pl(10, 100))
            for i in range(4)]
    r = TX.dpo_pairs(_routed(spark, rows)).collect()[0]
    assert (r["chosen_turn"], r["rejected_turn"], r["reward_margin"]) \
        == (0, 3, 0)


# ---------------------------------------------------------------------------
# length_bias (Kendall tau-a)
# ---------------------------------------------------------------------------

def _band(tok, lat):
    xb = min(15, tok // 50)
    yb = min(15, (lat * 1000 // tok).bit_length() - 1)
    return xb, yb


def _brute_tau(pts):
    n = len(pts)
    c = d = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = pts[i][0] - pts[j][0]
            dy = pts[i][1] - pts[j][1]
            if dx * dy > 0:
                c += 1
            elif dx * dy < 0:
                d += 1
    pairs = n * (n - 1) // 2
    num = (c - d) * 1000
    tau = num // pairs if num >= 0 else -((-num) // pairs)
    return c, d, tau


def test_length_bias_matches_bruteforce_kendall(spark):
    rng = np.random.RandomState(7)
    toks = rng.randint(1, 800, size=60)
    lats = rng.randint(1, 5000, size=60)
    rows = [("c%d" % i, 0, "assistant", "bash", "exec",
             _pl(int(t), int(l)))
            for i, (t, l) in enumerate(zip(toks, lats))]
    out = TX.length_bias(_routed(spark, rows)).collect()
    assert len(out) == 1 and out[0]["tool_category"] == "exec"
    pts = [_band(int(t), int(l)) for t, l in zip(toks, lats)]
    c, d, tau = _brute_tau(pts)
    assert (out[0]["n_turns"], out[0]["concordant"],
            out[0]["discordant"], out[0]["tau_permille"]) == (60, c, d, tau)


def test_length_bias_negative_for_throughput_reward(spark):
    # constant latency: per-token latency strictly falls as tokens grow
    rows = [("c%d" % i, 0, "assistant", "read", "fs",
             _pl(tok, 2000))
            for i, tok in enumerate(range(10, 760, 50))]
    out = TX.length_bias(_routed(spark, rows)).collect()[0]
    assert out["tau_permille"] < -500
    assert out["discordant"] > out["concordant"]


# ---------------------------------------------------------------------------
# curriculum_stages
# ---------------------------------------------------------------------------

def test_curriculum_stage_boundaries_and_population(spark):
    # 10 docs at difficulty 500 ("w w x x" style), 10 at 1000 (all
    # distinct): two values -> stages 0 and 2 via cum_before*5 DIV 20
    low = [" ".join(["w", "w", "x", "x"])] * 10          # TTR 500
    high = [" ".join("abcdefghij"[i] + str(k) for i in range(4))
            for k in range(10)]                          # TTR 1000
    df = spark.createDataFrame([(t,) for t in low + high], "text string")
    out = {r["stage"]: r for r in A.curriculum_stages(df).collect()}
    assert set(out) == {0, 2}
    assert out[0]["n_docs"] == 10 and out[0]["difficulty_hi"] == 500
    assert out[2]["n_docs"] == 10 and out[2]["difficulty_lo"] == 1000
    assert out[0]["token_sum"] == 40 and out[2]["token_sum"] == 40


def test_curriculum_equal_population_five_values(spark):
    # 5 distinct difficulty values, 4 docs each -> exactly one per stage
    texts = []
    for v, reps in [(1, 5), (2, 4), (3, 3), (4, 2), (5, 1)]:
        # v distinct tokens padded to 5 tokens total -> TTR = v*200
        for _ in range(4):
            toks = [("t%d" % i) for i in range(v)]
            toks += [toks[0]] * (5 - v)
            texts.append(" ".join(toks))
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = {r["stage"]: r["n_docs"] for r in
           A.curriculum_stages(df).collect()}
    assert out == {s: 4 for s in range(5)}


# ---------------------------------------------------------------------------
# judge_agreement
# ---------------------------------------------------------------------------

def test_judge_agreement_perfect(spark):
    # natural docs: stopword-heavy AND short words -> both judges band 2;
    # synthetic docs: no stopwords AND long words -> both band 0
    nat = ["the a of and to in is that it for"] * 6
    syn = ["zzzzzzzzzz qqqqqqqqqq wwwwwwwwww rrrrrrrrrr ssssssssss"] * 6
    df = spark.createDataFrame([(t,) for t in nat + syn], "text string")
    r = A.judge_agreement(df).collect()[0]
    assert (r["n_docs"], r["agree"], r["kappa_permille"]) == (12, 12, 1000)


def test_judge_agreement_single_cell_degenerate(spark):
    df = spark.createDataFrame(
        [("the a of and to in is that it for",)] * 5, "text string")
    r = A.judge_agreement(df).collect()[0]
    # all mass in one agreeing cell: pe_num = n*n -> kappa defined as 1000
    assert (r["agree"], r["pe_num"], r["kappa_permille"]) == (5, 25, 1000)


# ---------------------------------------------------------------------------
# sq8_recon_error
# ---------------------------------------------------------------------------

def _sq8_numpy(vecs, labels):
    q = np.round(np.asarray(vecs, dtype=np.float64) * EMB_SCALE).astype(
        np.int64)
    mn = q.min(axis=0)
    rng = q.max(axis=0) - mn
    d = q - mn
    with np.errstate(divide="ignore", invalid="ignore"):
        code = np.where(rng > 0, d * 255 // np.maximum(rng, 1), 0)
        recon = np.where(rng > 0, code * rng // 255, 0)
    resid = d - recon
    err = (resid * resid).sum(axis=1)
    out = {}
    for lab in sorted(set(labels)):
        e = err[[i for i, l in enumerate(labels) if l == lab]]
        out[lab] = (len(e), int(e.sum()), int(e.max()),
                    int(e.sum()) // len(e))
    return out


def test_sq8_recon_error_matches_numpy(spark):
    rng = np.random.RandomState(3)
    vecs = (rng.rand(30, 8) * 4 - 2).round(3).tolist()
    labels = [i % 3 for i in range(30)]
    df = spark.createDataFrame(
        [(i, v, l) for i, (v, l) in enumerate(zip(vecs, labels))],
        "vec_id long, embedding array<float>, label int")
    got = {r["label"]: (r["n_vecs"], r["err_sum"], r["err_max"],
                        r["err_mean"])
           for r in S.sq8_recon_error(df).collect()}
    assert got == _sq8_numpy(vecs, labels)


def test_sq8_flat_dimension_no_error(spark):
    # dim 0 constant across the corpus (range 0): resid must be 0, no
    # NaN/ANSI failure from the guarded division
    vecs = [[1.0, float(i) / 7] for i in range(8)]
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int")
    r = S.sq8_recon_error(df).collect()[0]
    expected = _sq8_numpy(vecs, [0] * 8)[0]
    assert (r["n_vecs"], r["err_sum"], r["err_max"], r["err_mean"]) \
        == expected
