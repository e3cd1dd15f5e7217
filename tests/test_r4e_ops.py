"""Round-4 continuation III: the derived-partsupp TPC-H completions
(Q2/Q9/Q16/Q20), banded Levenshtein near-dup, integer hourly ACF,
day-of-week profile, and the token-coverage cutoff — corner semantics on
tiny crafted frames (min-cost ties, negative profit, strict excess
boundary, zero-variance ACF, calendar epoch arithmetic, exact quantile
crossings); the DuckDB oracle covers them end-to-end at sf0.01."""

from __future__ import annotations

import datetime as dt
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.operators import analytics_ps as ps
from log_collector_spark.operators import seasonal as se
from log_collector_spark.textops import analysis as ta
from log_collector_spark.textops import editdist as ed


def _li(spark, rows):
    """lineitem slice: only the columns the derived relation and the
    shipped-qty aggregate read."""
    return spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_suppkey long, "
              "l_quantity double, l_extendedprice double, "
              "l_discount double, l_shipdate timestamp")


def _t(s):
    return dt.datetime.fromisoformat(s)


def test_derived_partsupp_distinct_and_deterministic(spark):
    li = _li(spark, [(1, 7, 3, 1.0, 1.0, 0.0, _t("1996-06-01")),
                     (2, 7, 3, 2.0, 1.0, 0.0, _t("1996-07-01"))])
    rows = ps.derived_partsupp(li).collect()
    assert len(rows) == 1  # duplicate (partkey, suppkey) collapses
    r = rows[0]
    assert r["ps_availqty"] == (7 * 37 + 3 * 11) % 1000 + 1
    assert r["ps_supplycost_cents"] == (7 * 97 + 3 * 31) % 100000 + 100


def test_min_cost_supplier_keeps_ties(spark):
    # suppkeys 1 and 100001: 31*100000 ≡ 0 (mod 100000), so both offers
    # carry the SAME supplycost — Q2 keeps every min-cost row.
    part = spark.createDataFrame(
        [(5, "thing", 15, "STANDARD")],
        "p_partkey long, p_name string, p_size int, p_type string")
    supplier = spark.createDataFrame(
        [(1, "s1", 0, 10.0), (100001, "s2", 0, 20.0), (2, "s3", 0, 5.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double")
    nation = spark.createDataFrame(
        [(0, "N", 0)], "n_nationkey int, n_name string, n_regionkey int")
    region = spark.createDataFrame(
        [(0, "ASIA")], "r_regionkey int, r_name string")
    li = _li(spark, [(1, 5, 1, 1.0, 1.0, 0.0, _t("1996-01-01")),
                     (2, 5, 100001, 1.0, 1.0, 0.0, _t("1996-01-01")),
                     (3, 5, 2, 1.0, 1.0, 0.0, _t("1996-01-01"))])
    out = ps.min_cost_supplier(part, supplier, nation, region, li).collect()
    # supp 2 has cost (5*97+2*31)%100000+100 = 647+100 != min(587+100)?
    c1 = (5 * 97 + 1 * 31) % 100000 + 100
    c2 = (5 * 97 + 2 * 31) % 100000 + 100
    assert c1 < c2  # supp 1/100001 are the tied minimum
    assert [r["s_name"] for r in out] == ["s2", "s1"]  # acctbal desc
    assert all(r["supplycost_cents"] == c1 for r in out)


def test_product_profit_negative_and_year_grouped(spark):
    # cost 100c * 10000 * qty 5 = 5e6 micros > revenue 1e6 micros -> loss.
    part = spark.createDataFrame([(0, "red widget")],
                                 "p_partkey long, p_name string")
    supplier = spark.createDataFrame(
        [(0, "s", 0, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double")
    nation = spark.createDataFrame(
        [(0, "N", 0)], "n_nationkey int, n_name string, n_regionkey int")
    orders = spark.createDataFrame(
        [(1, _t("1996-03-01")), (2, _t("1997-03-01"))],
        "o_orderkey long, o_orderdate timestamp")
    li = _li(spark, [(1, 0, 0, 5.0, 1.0, 0.0, _t("1996-03-02")),
                     (2, 0, 0, 1.0, 2.0, 0.0, _t("1997-03-02"))])
    out = {r["o_year"]: r["sum_profit_micros"]
           for r in ps.product_type_profit(part, supplier, nation,
                                           orders, li).collect()}
    cost_c = (0 * 97 + 0 * 31) % 100000 + 100
    assert out[1996] == 100 * 10000 - cost_c * 10000 * 5  # negative
    assert out[1997] == 200 * 10000 - cost_c * 10000 * 1
    assert out[1996] < 0 < out[1997]


def test_supplier_relationship_excludes_flagged(spark):
    part = spark.createDataFrame(
        [(1, "Brand#1", "MEDIUM", 5)],
        "p_partkey long, p_brand string, p_type string, p_size int")
    supplier = spark.createDataFrame(
        [(1, 0.0), (2, -1.0)], "s_suppkey long, s_acctbal double")
    li = _li(spark, [(1, 1, 1, 1.0, 1.0, 0.0, _t("1996-01-01")),
                     (2, 1, 2, 1.0, 1.0, 0.0, _t("1996-01-01")),
                     (3, 1, 1, 1.0, 1.0, 0.0, _t("1996-01-01"))])
    out = ps.supplier_relationship(part, supplier, li).collect()
    assert len(out) == 1
    # supp 2 (negative balance) excluded; duplicate offer counted once
    assert out[0]["supplier_cnt"] == 1


def test_excess_stock_strict_boundary_and_never_shipped(spark):
    # part 1 / supp 1: availqty 49. shipped 98 -> 2*49 > 98 FALSE (strict);
    # shipped 97 -> TRUE. part 2 / supp 2 never shipped in-window -> TRUE.
    supplier = spark.createDataFrame(
        [(1, "sa", 0, 0.0), (2, "sb", 0, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double")
    nation = spark.createDataFrame(
        [(0, "NATION_9", 0)],
        "n_nationkey int, n_name string, n_regionkey int")
    part = spark.createDataFrame(
        [(1, "red bolt"), (2, "red rod")], "p_partkey long, p_name string")
    for qty, expect in ((98.0, {"sb"}), (97.0, {"sa", "sb"})):
        li = _li(spark, [
            (1, 1, 1, qty, 1.0, 0.0, _t("1996-06-01")),     # in window
            (2, 2, 2, 50.0, 1.0, 0.0, _t("1995-06-01"))])   # out of window
        out = ps.excess_stock_suppliers(supplier, nation, part, li)
        assert {r["s_name"] for r in out.collect()} == expect


def test_edit_distance_pairs_threshold_and_length_prefilter(spark):
    base = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(1, base),
         (2, base + "X"),                       # dist 1
         (3, base + " padpadpadpad"),           # len diff 13 > 5: pruned
         (4, "totally different words here")],  # no shared shingle
        "doc_id long, text string")
    out = {(r["doc_a"], r["doc_b"]): r["edit_dist"]
           for r in ed.edit_distance_pairs(docs, max_dist=5).collect()}
    assert out == {(1, 2): 1}


def test_autocorr_zero_variance_guard_and_sign(spark):
    # hours 0..3 with counts 1,0,1,0 (odd hours zero-filled by the grid):
    # den=16, lag-1 num=-12 -> acf_permille = -750; constant series den=0.
    rows = [(_t("1970-01-01 00:10"),), (_t("1970-01-01 02:10"),)]
    df = spark.createDataFrame(rows, "ts timestamp")
    # series is x=[1,0,1] (hours 0..2): S=2,n=3,Q=2 -> den=9*2-3*4=6
    out = {r["lag"]: r for r in se.autocorr_hourly(df, max_lag=2).collect()}
    assert out[1]["acf_den"] == 6
    # lag1: P=0, A=x2+x3=1, B=x1+x2=1 -> num=0-3*2*2+2*4=-4
    assert out[1]["acf_num"] == -4
    assert out[1]["acf_permille"] == -4 * 1000 // 6 + (1 if (-4000) % 6 else 0)
    const = spark.createDataFrame(
        [(_t("1970-01-01 00:10"),), (_t("1970-01-01 01:10"),)],
        "ts timestamp")
    c = se.autocorr_hourly(const, max_lag=1).collect()[0]
    assert c["acf_den"] == 0 and c["acf_permille"] == 0


def test_dow_profile_epoch_thursday_and_peak_tiebreak(spark):
    # 1970-01-01 is Thursday -> dow (0+4)%7 = 4; hours 1 and 3 tie at 2
    # events -> peak flag on the earlier hour only.
    rows = [(_t("1970-01-01 01:00"),), (_t("1970-01-01 01:30"),),
            (_t("1970-01-01 03:00"),), (_t("1970-01-01 03:30"),),
            (_t("1970-01-01 05:00"),)]
    out = se.dow_hour_profile(spark.createDataFrame(rows, "ts timestamp")) \
            .collect()
    assert all(r["dow"] == 4 for r in out)
    flags = {r["hour"]: (r["is_peak"], r["dow_share_permille"])
             for r in out}
    assert flags[1] == (True, 400) and flags[3] == (False, 400)
    assert flags[5] == (False, 200)


def test_token_coverage_exact_crossings(spark):
    # token counts 1,1,2: total 4. target 500: cum(len1)=2, 2000>=2000 ->
    # cutoff 1 covered 500. target 900: cutoff 2 covered 1000.
    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c d")], "doc_id long, text string")
    out = {r["target_permille"]: r for r in
           ta.token_coverage_cutoff(docs, targets=(500, 900)).collect()}
    assert (out[500]["cutoff_len"], out[500]["covered_permille"]) == (1, 500)
    assert (out[900]["cutoff_len"], out[900]["covered_permille"]) == (2, 1000)


def test_substring_span_exact_run_length(spark):
    # doc 2 repeats tokens t3..t10 of doc 1 (8 tokens): with k=3 that is
    # 6 consecutive anchors on one diagonal -> span 6+2 = 8.
    words = [f"t{i}" for i in range(12)]
    docs = spark.createDataFrame(
        [(1, " ".join(words)),
         (2, "x y " + " ".join(words[3:11]) + " z"),
         (3, "completely unrelated tokens only")],
        "doc_id long, text string")
    from log_collector_spark.textops import dedup as D
    out = D.substring_span_pairs(docs, min_span_tokens=8).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"], r["max_span_tokens"]) == (1, 2, 8)
    # below the threshold nothing surfaces
    assert D.substring_span_pairs(docs, min_span_tokens=9).count() == 0


def test_substring_span_two_diagonals_not_fused(spark):
    # the shared block appears at DIFFERENT offsets in b's two copies:
    # anchors land on two diagonals; runs must not fuse across them.
    block = "a b c d e"
    docs = spark.createDataFrame(
        [(1, block + " q r s"),
         (2, "x " + block + " y " + block)],
        "doc_id long, text string")
    from log_collector_spark.textops import dedup as D
    r = D.substring_span_pairs(docs, min_span_tokens=5,
                               max_df=100).collect()[0]
    assert r["max_span_tokens"] == 5          # 3 anchors + k-1
    assert r["n_anchors"] == 6                # 3 per diagonal


def test_semantic_decontaminate_hit_and_miss(spark):
    # train vec 1 duplicates eval vec 50 (cos=1 -> hit); train vec 2 is
    # orthogonal to every eval vector (cos=0 -> no row).
    v = [1.0, 0.0, 0.0] + [0.0] * 61
    u = [0.0, 1.0, 0.0] + [0.0] * 61
    embs = spark.createDataFrame(
        [(1, v), (2, u), (50, v)], "vec_id long, embedding array<float>")
    from log_collector_spark.textops import dedup as D
    out = D.semantic_decontaminate(
        embs.filter(F.col("vec_id") % 50 != 0),
        embs.filter(F.col("vec_id") % 50 == 0)).collect()
    assert [(r["vec_id"], r["n_eval_hits"]) for r in out] == [(1, 1)]
    assert out[0]["max_dot"] == 1000 * 1000   # quantized unit dot


def test_turn_holes_counts_and_first_index(spark):
    from log_collector_spark.operators import tx_stats as TX
    rows = [("A", 0, "ok"), ("A", 1, "ok"), ("A", 3, "ok"),
            ("A", 5, "ok"),                       # holes at 2 and 4
            ("B", 0, "ok"), ("B", 1, "ok")]       # gap-free -> absent
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, "
                                     "text string")
    routed = (df.withColumn("parse_ok", F.lit(True))
                .withColumn("is_blank", F.lit(False))
                .withColumn("is_oversize", F.lit(False)))
    out = TX.turn_holes(routed).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["conv_id"], r["n_turns"], r["max_turn_idx"],
            r["n_holes"], r["first_hole_idx"]) == ("A", 4, 5, 2, 2)


def _tx_routed(spark, rows):
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, tool string, payload string")
    return (df.withColumn("parse_ok", F.lit(True))
              .withColumn("is_blank", F.lit(False))
              .withColumn("is_oversize", F.lit(False)))


def test_tool_latency_percentiles_rank_selection(spark):
    from log_collector_spark.operators import tx_stats as TX
    rows = [("A", i, "bash", '{"latency_ms":%d}' % (i + 1))
            for i in range(10)]
    out = TX.tool_latency_percentiles(_tx_routed(spark, rows)).collect()
    r = out[0]
    # ceil ranks over 1..10: p50 -> rank 5, p90 -> rank 9, p99 -> rank 10
    assert (r["n_turns"], r["p50_ms"], r["p90_ms"], r["p99_ms"]) \
        == (10, 5, 9, 10)


def test_retry_storms_ignore_non_tool_interruptions(spark):
    from log_collector_spark.operators import tx_stats as TX
    rows = [("A", 0, "bash", "x"), ("A", 1, "none", "x"),
            ("A", 2, "bash", "x"), ("A", 3, None, "x"),
            ("A", 4, "bash", "x"),            # clean run of 3 bash
            ("A", 5, "read", "x"),            # different tool splits
            ("B", 0, "bash", "x"), ("B", 1, "bash", "x")]  # run of 2 only
    out = TX.retry_storms(_tx_routed(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["conv_id"], r["tool"], r["n_runs"], r["n_storms"],
            r["max_run"]) == ("A", "bash", 1, 1, 3)


def test_ks_drift_disjoint_distributions_hit_1000(spark):
    from log_collector_spark.operators import behavior as B
    rows = ([("A", 1.0)] * 4) + ([("B", 2.0)] * 6)
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = {r["event_type"]: r for r in B.ks_drift(df).collect()}
    # disjoint supports: max gap = full separation = 1000 permille, first
    # achieved at A's bucket (value 1.0 -> milli 1000 -> bucket 10 -> 1000)
    assert out["A"]["ks_permille"] == 1000
    assert out["A"]["ks_at_v_milli"] == 1000
    assert out["B"]["ks_permille"] == 1000
    assert (out["A"]["n_group"], out["A"]["n_rest"]) == (4, 6)


def test_neardup_label_confusion_cross_and_diag(spark):
    from log_collector_spark.textops import dedup as D
    v = [1.0, 0.5, -0.25] + [0.0] * 61
    w = [0.0, 0.0, 1.0] + [0.0] * 61
    embs = spark.createDataFrame(
        [(1, v, 7), (2, v, 3), (3, v, 7), (4, w, 9)],
        "vec_id long, embedding array<float>, label int")
    out = {(r["label_a"], r["label_b"]): (r["n_pairs"], r["is_cross"])
           for r in D.neardup_label_confusion(embs).collect()}
    # identical vectors 1,2,3: pairs (1,2),(1,3) cross 3-7; (2?) wait:
    # labels: 1->7, 2->3, 3->7. pairs: (1,2)->(3,7) cross, (1,3)->(7,7)
    # diag, (2,3)->(3,7) cross. vector 4 matches nobody.
    assert out[(3, 7)] == (2, True)
    assert out[(7, 7)] == (1, False)
    assert len(out) == 2


def test_funnel_latency_first_touch_deltas(spark):
    from log_collector_spark.operators import behavior as B
    # user 1: signup@0s, view@5s (first touch; the @7s view is ignored),
    # click@6s -> view->click delta 1s. user 2 never views -> excluded.
    rows = [(1, "signup", "1970-01-01 00:00:00"),
            (1, "view", "1970-01-01 00:00:05"),
            (1, "view", "1970-01-01 00:00:07"),
            (1, "click", "1970-01-01 00:00:06"),
            (2, "signup", "1970-01-01 00:00:00")]
    df = spark.createDataFrame(
        [(u, t, _t(s)) for u, t, s in rows],
        "user_id long, event_type string, ts timestamp")
    out = {r["step_idx"]: r for r in
           B.funnel_latency(df, steps=["signup", "view", "click"])
            .collect()}
    assert (out[2]["step"], out[2]["n_converted"], out[2]["p50_ms"]) \
        == ("view", 1, 5000)
    assert (out[3]["step"], out[3]["p50_ms"]) == ("click", 1000)


def test_value_jackknife_identity_and_degenerate(spark):
    from log_collector_spark.operators import behavior as B
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 21)],
        "event_id long, value double")
    rows = B.value_jackknife(df).collect()
    n_tot = sum(r["n"] for r in rows)
    s_tot = sum(r["sum_milli"] for r in rows)
    assert n_tot == 20 and s_tot == 210 * 1000
    for r in rows:   # exact leave-one-out identity per bucket
        assert r["loo_mean_milli"] == \
            (s_tot - r["sum_milli"]) // (n_tot - r["n"])
    # single bucket: removing it leaves nothing -> guarded 0
    one = B.value_jackknife(df, n_buckets=1).collect()[0]
    assert one["loo_mean_milli"] == 0


def test_broadcast_advisor_exact_bytes_and_threshold(spark):
    from log_collector_spark.operators import order as O
    t = spark.createDataFrame([(1, "abc"), (2, "de")],
                              "k long, s string")
    out = O.broadcast_advisor({"t": t}, threshold=21).collect()[0]
    # 2 rows x 8 fixed + (3 + 2) string bytes = 21
    assert (out["n_rows"], out["est_bytes"]) == (2, 21)
    assert out["fits_broadcast"] is False      # strict <
    out2 = O.broadcast_advisor({"t": t}, threshold=22).collect()[0]
    assert out2["fits_broadcast"] is True


def test_simpson_diversity_uniform_and_degenerate(spark):
    from log_collector_spark.operators import behavior as B
    rows = ([(1, "a")] * 2 + [(1, "b")] * 2     # uniform over 2 types
            + [(2, "a")] * 3)                    # single type
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    out = {r["user_id"]: r for r in B.simpson_diversity(df).collect()}
    # 1 - (4+4)/16 = 0.5 -> 500; single type -> 0
    assert (out[1]["n_types"], out[1]["simpson_permille"]) == (2, 500)
    assert (out[2]["n_types"], out[2]["simpson_permille"]) == (1, 0)


def test_conversation_redundancy_pools_across_turns(spark):
    from log_collector_spark.operators import tx_stats as TX
    # turn texts repeat the SAME 3-gram across turns: pooled shingle
    # counts see the repetition a per-turn view would miss.
    rows = [("A", 0, "x y z"), ("A", 1, "x y z"),
            ("B", 0, "p q r s")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, "
                                     "text string")
    routed = (df.withColumn("parse_ok", F.lit(True))
                .withColumn("is_blank", F.lit(False))
                .withColumn("is_oversize", F.lit(False)))
    out = {r["conv_id"]: r for r in
           TX.conversation_redundancy(routed).collect()}
    a = out["A"]
    # 6 tokens, 3 distinct -> TTR 500; shingles: "x y z" twice ->
    # 2 shingles, 1 repeat -> 500 permille
    assert (a["n_tokens"], a["distinct_tokens"], a["ttr_permille"]) \
        == (6, 3, 500)
    assert (a["n_shingles"], a["repeated_shingle_permille"]) == (2, 500)
    b = out["B"]
    assert (b["ttr_permille"], b["repeated_shingle_permille"]) == (1000, 0)


def test_resize_ppm_box_filter_exact():
    from log_collector_spark.textops import multimodal as M
    # media_id 33: w = 33%16+1 = 2, h = 33%12+1 = 10 -> out 1x5
    feats = M.resize_ppm(M.encode_ppm(33))
    assert (feats["width"], feats["height"], feats["out_w"],
            feats["out_h"]) == (2, 10, 1, 5)
    px = [((33 + i) * 37) % 256 for i in range(2 * 10 * 3)]
    vals = []
    for yy in range(5):
        for c in range(3):
            s = (px[(2 * yy * 2 + 0) * 3 + c] + px[(2 * yy * 2 + 1) * 3 + c]
                 + px[((2 * yy + 1) * 2 + 0) * 3 + c]
                 + px[((2 * yy + 1) * 2 + 1) * 3 + c])
            vals.append(s // 4)
    assert feats["pixel_sum"] == sum(vals)
    assert feats["pixel_min"] == min(vals)
    assert feats["pixel_max"] == max(vals)


def test_resize_ppm_thin_image_guarded():
    from log_collector_spark.textops import multimodal as M
    # media_id 0: w=1 -> resizes to empty; stats guarded
    feats = M.resize_ppm(M.encode_ppm(0))
    assert (feats["out_w"], feats["pixel_sum"], feats["pixel_min"],
            feats["pixel_max"]) == (0, 0, -1, -1)


def test_framesample_wav_stride_decimation():
    from log_collector_spark.textops import multimodal as M
    feats = M.framesample_wav(M.encode_wav(17), stride=4)
    kept = M._synth_samples(17)[::4]
    assert feats["n_sampled"] == len(kept)
    assert feats["sample_sum"] == sum(kept)
    assert (feats["sample_min"], feats["sample_max"]) \
        == (min(kept), max(kept))


def test_fano_factor_poisson_like_and_constant(spark):
    from log_collector_spark.operators import behavior as B
    # type A: all 4 events in one hour of a 2-hour span -> x=[4,0]:
    # mean 2, var 4 -> fano 2000. type B: 1 event each hour -> var 0 -> 0.
    rows = [("A", _t("1970-01-01 00:10"))] * 4 + \
           [("B", _t("1970-01-01 00:20")), ("B", _t("1970-01-01 01:20"))]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {r["event_type"]: r for r in B.fano_factor(df).collect()}
    assert (out["A"]["n_hours"], out["A"]["fano_permille"]) == (2, 2000)
    assert out["B"]["fano_permille"] == 0


def test_token_tvd_identical_zero_disjoint_1000(spark):
    from log_collector_spark.textops import analysis as A
    docs = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "a b c", "s2"),   # identical dists
         (3, "x y", "s3")],                         # disjoint from both
        "doc_id long, text string, source string")
    out = {(r["source_a"], r["source_b"]): r["tvd_permille"]
           for r in A.token_tvd_sources(docs).collect()}
    assert out[("s1", "s2")] == 0
    # disjoint pairs share no token: the inner join drops them entirely —
    # a documented recall property (union-only pairs don't surface).
    assert ("s1", "s3") not in out


def test_parse_health_hourly_category_precedence(spark):
    from log_collector_spark.operators import tx_stats as TX
    rows = [("A", 0, "ok line", False, False, True),
            ("A", 1, "", True, False, False),              # blank
            ("A", 2, "x" * 9000, False, True, False),      # oversize
            ("A", 3, "corrupt#zz", False, False, False)]   # parse fail
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, "
              "is_blank boolean, is_oversize boolean, parse_ok boolean")
    routed = df.withColumn("ts", F.lit("1970-01-01 00:30").cast("timestamp"))
    r = TX.parse_health_hourly(routed).collect()[0]
    assert (r["n_lines"], r["n_blank"], r["n_oversize"],
            r["n_parse_fail"], r["n_ok"]) == (4, 1, 1, 1, 1)
    assert r["ok_permille"] == 333  # 1 of 3 attempted


def test_latency_inversions_merge_path_and_batch_carry(spark):
    """The mapInPandas rewrite has two paths the sf fixtures may not pin:
    (a) groups longer than INV_SMALL_MAX take the numpy merge-count, and
    (b) a conversation straddling an Arrow-batch boundary must be carried
    into the next batch, not split. Force both with a 300-turn conv and a
    tiny maxRecordsPerBatch."""
    import random

    from log_collector_spark.operators import tx_stats as TX

    rng = random.Random(7)
    lats = [rng.randint(1, 50) for _ in range(300)]   # > INV_SMALL_MAX
    brute = sum(1 for i in range(300) for j in range(i + 1, 300)
                if lats[i] > lats[j])
    rows = [("BIG", i, f'{{"tokens":1,"latency_ms":{v}}}')
            for i, v in enumerate(lats)]
    rows += [("a_tiny", 0, '{"tokens":1,"latency_ms":9}'),
             ("a_tiny", 1, '{"tokens":1,"latency_ms":3}')]
    df = (spark.createDataFrame(rows, "conv_id string, turn_idx int, "
                                      "payload string")
          .withColumn("parse_ok", F.lit(True))
          .withColumn("is_blank", F.lit(False))
          .withColumn("is_oversize", F.lit(False)))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "37")   # forces many batches + mid-conv cuts
    try:
        out = {r["conv_id"]: r for r in
               TX.latency_inversions(df).collect()}
    finally:
        spark.conf.set(key, old)
    assert out["BIG"]["inversions"] == brute
    assert out["BIG"]["n_turns"] == 300
    assert out["a_tiny"]["inversions"] == 1


def test_merge_count_equals_bruteforce_property():
    """_merge_count (leaf pairwise + searchsorted cross terms) against the
    O(n²) definition across sizes spanning the leaf boundary."""
    import numpy as np

    from log_collector_spark.operators.tx_stats import _merge_count

    rng = np.random.RandomState(3)
    for n in (0, 1, 2, 5, 100, 1024, 1025, 3000):
        a = rng.randint(0, 7, size=n).astype("int64")   # heavy ties
        got, srt = _merge_count(a, leaf=64)
        brute = int(np.triu(a[:, None] > a[None, :], 1).sum()) if n else 0
        assert got == brute, n
        assert (srt == np.sort(a)).all()
