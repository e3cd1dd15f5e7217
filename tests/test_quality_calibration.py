"""Batch-D ops: simhash calibration cross-tab (Spark vs in-test DuckDB on a
crafted corpus), token-midpoint pacing histogram corner positions, and the
quality×dup cross-audit's decile/permille arithmetic."""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.operators import tx_stats as TX
from log_collector_spark.textops import analysis as TA
from log_collector_spark.textops import evalops as EV


def test_simhash_calibration_matches_duckdb(spark):
    texts = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon zeta",      # exact dup of 0
        "alpha beta gamma delta epsilon eta",       # near dup
        "totally different words entirely here now",
        "one more unrelated document body text",
        "alpha beta gamma delta epsilon zeta extra",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = sorted(tuple(r) for r in EV.simhash_calibration(df).collect())

    con = duckdb.connect()
    con.register("documents",
                 pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    want = sorted(tuple(r) for r in
                  con.execute(EV.sql_simhash_calibration()).fetchall())
    assert got == want
    # the exact-dup pair must land at (hamming 0, jaccard decile 10)
    assert any(h == 0 and d == 10 and n >= 1 for h, d, n in got)


def _routed(spark, rows):
    """Minimal routed-frame shape: (conv_id, turn_idx, payload text,
    parse_ok, is_blank, is_oversize)."""
    data = [(c, i, f'{{"tokens":{t}}}', f'{{"tokens":{t}}}', True, False,
             False) for c, i, t in rows]
    return spark.createDataFrame(
        data, "conv_id string, turn_idx int, payload string, text string, "
              "parse_ok boolean, is_blank boolean, is_oversize boolean")


def test_token_midpoint_positions(spark):
    rows = [
        ("A", 0, 10), ("A", 1, 1), ("A", 2, 1),   # front-loaded -> rn 1
        ("B", 0, 1), ("B", 1, 1), ("B", 2, 10),   # back-loaded -> rn 3
        ("C", 0, 5),                               # singleton -> rn 1
    ]
    out = {r["midpoint_decile"]: r["n_convs"]
           for r in TX.token_midpoint_histogram(_routed(spark, rows))
                      .collect()}
    # A: (1-1)*1000//3//100 = 0 ; C: 0 ; B: (3-1)*1000//3//100 = 6
    assert out == {0: 2, 6: 1}


def test_token_midpoint_exact_half_boundary(spark):
    # cum*2 >= total is inclusive: [3, 3] hits at rn 1 (3*2 >= 6)
    rows = [("X", 0, 3), ("X", 1, 3)]
    out = TX.token_midpoint_histogram(_routed(spark, rows)).collect()
    assert [(r["midpoint_decile"], r["n_convs"]) for r in out] == [(0, 1)]


def test_quality_vs_dup_deciles(spark):
    docs = [
        (0, "the the the the the"),       # all stopwords -> decile 10, dup
        (1, "the the the the the"),       # exact dup of 0
        (2, "zebra quartz vortex jumble klaxon"),  # no stopwords -> decile 0
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["stop_decile"]: (r["n_docs"], r["n_dup"], r["dup_permille"])
           for r in TA.quality_vs_dup(df).collect()}
    assert out == {10: (2, 2, 1000), 0: (1, 0, 0)}


def test_seasonal_naive_error_grid_and_day_completeness(spark):
    import datetime as dt
    from log_collector_spark.operators import seasonal as SE
    base = dt.datetime(2024, 1, 1)  # UTC-day-aligned epoch hour
    h = dt.timedelta(hours=1)
    rows = ([(base,)] * 2 + [(base + h,)]            # day0: h0=2, h1=1
            + [(base + 168 * h,)] * 5                # day7 h0 = 5
            + [(base + 191 * h,)])                   # day7 h23 = 1
    df = spark.createDataFrame(rows, "ts timestamp")
    out = SE.seasonal_naive_error(df).collect()
    # only day 7 has all 24 forecast hours; |5-2|+|0-1|+|1-0| = 5 vs 6
    assert [(r["actual_sum"], r["abs_err_sum"], r["err_permille"])
            for r in out] == [(6, 5, 833)]


def test_seasonal_naive_error_empty_when_short(spark):
    import datetime as dt
    from log_collector_spark.operators import seasonal as SE
    df = spark.createDataFrame([(dt.datetime(2024, 1, 1),)], "ts timestamp")
    assert SE.seasonal_naive_error(df).collect() == []
