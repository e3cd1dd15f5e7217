"""Batch-F ops: k-anonymity threshold sweep arithmetic, cluster-size
histogram over an explicit pair graph, and the WAV window-energy kernel
against a from-scratch recomputation."""

from __future__ import annotations

import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.operators import behavior as BH
from log_collector_spark.textops import dedup as DD
from log_collector_spark.textops import multimodal as TM


def test_k_anonymity_threshold_sweep(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0)    # hod 0
    t1 = dt.datetime(2024, 1, 1, 1, 0)    # hod 1
    rows = [
        (t0, "a", 5.0),                    # class (a,0,0): size 1
        (t1, "a", 5.0),                    # class (a,1,0): size 1
        (t0, "b", 15.0), (t0, "b", 15.0), (t0, "b", 17.0),  # (b,0,1): 3
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, "
                                     "value double")
    out = [tuple(r) for r in BH.k_anonymity(df, thresholds=[2, 5]).collect()]
    # k=2: the two singleton classes (2 rows of 5 -> 400 permille)
    # k=5: every class (5 rows -> 1000)
    assert out == [(2, 2, 2, 400), (5, 3, 5, 1000)]


def test_cluster_size_histogram_components(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long")
    out = [tuple(r) for r in
           DD.cluster_size_histogram(docs, pairs=pairs).collect()]
    # components {1,2,3} and {4,5}; doc 0 is a singleton (never emitted)
    assert out == [(2, 1), (3, 1)]


def test_wav_energy_kernel_exact():
    for mid in (0, 7, 49, 123):
        got = TM.wav_energy(TM.encode_wav(mid))
        vals = TM._synth_samples(mid)
        win = TM.ENERGY_WIN
        n_win = len(vals) // win
        es = [sum(v * v for v in vals[w * win:(w + 1) * win])
              for w in range(n_win)]
        assert got == {"n_samples": len(vals), "n_windows": n_win,
                       "energy_sum": sum(es),
                       "energy_min": min(es) if es else 0,
                       "energy_max": max(es) if es else 0}


def test_wav_zcr_kernel_exact():
    from log_collector_spark.textops import multimodal as TM
    for mid in (0, 1, 7, 49, 123):
        payload = TM.encode_wav(mid)
        got = TM.wav_zcr(payload)
        vals = TM._synth_samples(mid)
        win = TM.ENERGY_WIN
        zcs = [sum(1 for i in range(w * win + 1, (w + 1) * win)
                   if (vals[i - 1] < 0) != (vals[i] < 0))
               for w in range(len(vals) // win)]
        assert got == {"n_samples": len(vals), "n_windows": len(zcs),
                       "zc_sum": sum(zcs),
                       "zc_min": min(zcs) if zcs else 0,
                       "zc_max": max(zcs) if zcs else 0}
        assert 0 <= got["zc_max"] <= win - 1


def test_ppm_channel_stats_kernel_exact():
    from log_collector_spark.textops import multimodal as TM
    for mid in (0, 3, 17, 100):
        payload = TM.encode_ppm(mid)
        got = TM.ppm_channel_stats(payload)
        w, h = mid % 16 + 1, mid % 12 + 1
        px = [((mid + j) * 37) % 256 for j in range(w * h * 3)]
        sums = [sum(px[c::3]) for c in range(3)]
        r, g, b = sums
        dom = 0 if (r >= g and r >= b) else (1 if g >= b else 2)
        assert got == {"width": w, "height": h, "r_sum": r, "g_sum": g,
                       "b_sum": b, "dom_channel": dom}


def test_l_diversity_manual(spark):
    from log_collector_spark.operators import behavior as BH
    # two QI classes: class A has 3 rows / 1 user, class B 2 rows / 2 users
    rows = [
        (1, "click", 5.0, "2024-01-01 10:00:00"),
        (1, "click", 5.0, "2024-01-01 10:10:00"),
        (1, "click", 5.0, "2024-01-01 10:20:00"),
        (2, "view", 15.0, "2024-01-01 11:00:00"),
        (3, "view", 15.0, "2024-01-01 11:30:00"),
    ]
    events = spark.createDataFrame(
        rows, "user_id long, event_type string, value double, ts string"
    ).selectExpr("user_id", "event_type", "value", "cast(ts as timestamp) ts")
    got = {r.l: r for r in BH.l_diversity(events).collect()}
    assert got[2].n_classes_below == 1      # class A (1 distinct user)
    assert got[2].n_rows_below == 3
    assert got[2].rows_permille == 600      # 3/5
    assert got[3].n_classes_below == 2      # both below l=3
    assert got[3].n_rows_below == 5
    assert got[3].rows_permille == 1000


def test_t_closeness_emd_arithmetic(spark):
    """Two QI classes each fully concentrated in ONE of two global decades:
    P=(1000,0) vs Q=(500,500) gives ordered-EMD Σ|cum|/(m−1) = 500 exactly
    for both classes."""
    t0 = dt.datetime(2024, 1, 1, 0, 0)
    rows = [
        (t0, "a", 5.0), (t0, "a", 6.0),     # class (a,0): all dec 0
        (t0, "b", 15.0), (t0, "b", 16.0),   # class (b,0): all dec 1
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, "
                                     "value double")
    out = [tuple(r) for r in
           BH.t_closeness(df, thresholds=[400, 600]).collect()]
    assert out == [(400, 2, 4, 1000), (600, 0, 0, 0)]
