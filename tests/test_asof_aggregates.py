"""As-of join, rollup, exact percentiles, incremental dedup — operator-level
semantics on tiny frames (the driver oracle covers them at sf0.01; these pin
the edge cases the synthetic corpus may not hit)."""

from __future__ import annotations

import math
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.operators.asof import asof_join
from log_collector_spark.operators.aggregate import (
    histogram_exact_percentiles, rollup_time_counts)


def _rank_select(rows, qs):
    """Pure-Python percentile reference: per group, the value at 0-based
    index floor(q*(n-1)) of the sorted values, plus the group size n."""
    groups: dict = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    out = {}
    for g, vs in groups.items():
        vs = sorted(vs)
        out[g] = {"n": len(vs), **{name: vs[math.floor(q * (len(vs) - 1))]
                                   for name, q in qs.items()}}
    return out


def test_asof_join_edges(spark):
    left = spark.createDataFrame(
        [(1, "a"), (5, "a"), (10, "a"), (3, "b")],
        "ord long, k string")
    right = spark.createDataFrame(
        [(5, "a", "v5"), (7, "a", "v7"), (99, "c", "zz")],
        "rord long, k string, val string")
    out = asof_join(left, right, on="k", left_ord="ord", right_ord="rord",
                    value_cols=["val"])
    got = {(r["k"], r["ord"]): r["val"] for r in out.collect()}
    assert got == {
        ("a", 1): None,     # before any right row
        ("a", 5): "v5",     # INCLUSIVE tie: right row at equal ord applies
        ("a", 10): "v7",    # most recent of several
        ("b", 3): None,     # key with no right rows at all
    }
    assert out.count() == left.count()  # left rows pass through 1:1


def test_asof_join_null_payload_is_not_skipped(spark):
    """A right row whose payload column is null must still win (ASOF
    semantics) — the struct wrapper prevents last(ignorenulls) from sliding
    back to an older right row."""
    left = spark.createDataFrame([(10, "a")], "ord long, k string")
    right = spark.createDataFrame(
        [(1, "a", "old"), (9, "a", None)], "rord long, k string, val string")
    [row] = asof_join(left, right, on="k", left_ord="ord", right_ord="rord",
                      value_cols=["val"]).collect()
    assert row["val"] is None


def test_asof_join_rejects_column_clash(spark):
    df = spark.createDataFrame([(1, "a", "x")], "ord long, k string, val string")
    try:
        asof_join(df, df.selectExpr("ord as rord", "k", "val"),
                  on="k", left_ord="ord", right_ord="rord",
                  value_cols=["val"])
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_asof_join_single_shuffle(spark):
    left = spark.range(100).select(
        F.col("id").alias("ord"), (F.col("id") % 5).cast("string").alias("k"))
    right = spark.range(10).select(
        (F.col("id") * 7).alias("rord"),
        (F.col("id") % 5).cast("string").alias("k"),
        F.col("id").alias("val"))
    plan = asof_join(left, right, on="k", left_ord="ord", right_ord="rord",
                     value_cols=["val"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1, plan  # the key shuffle, nothing else
    assert "Join" not in plan, plan           # sweep, not a join


def test_rollup_levels(spark):
    # 3 events: two in one minute, one in another hour of the same day
    ms = [86_400_000 * 100 + 60_000 * 5,
          86_400_000 * 100 + 60_000 * 5 + 1_000,
          86_400_000 * 100 + 3_600_000 * 2]
    df = spark.createDataFrame([(m,) for m in ms], "ms long")
    out = {(r["day_ms"], r["hour_ms"], r["minute_ms"]): r["n"]
           for r in rollup_time_counts(df, F.col("ms")).collect()}
    day = 86_400_000 * 100
    assert out[(-1, -1, -1)] == 3                       # grand total
    assert out[(day, -1, -1)] == 3                      # day subtotal
    assert out[(day, day, -1)] == 2                     # hour-0 subtotal
    assert out[(day, day, day + 60_000 * 5)] == 2       # the shared minute
    assert out[(day, day + 3_600_000 * 2, -1)] == 1
    assert out[(day, day + 3_600_000 * 2, day + 3_600_000 * 2)] == 1
    # 1 grand + 1 day + 2 hour + 2 minute rows
    assert len(out) == 6


def test_exact_percentiles_spec(spark):
    # group g: values 0..99 → p50 = floor(.5*99)=idx 49, p95 = idx 94
    rows = [("g", v) for v in range(100)] + [("h", 7)]
    df = spark.createDataFrame(rows, "grp string, v long")
    out = {r["grp"]: r for r in histogram_exact_percentiles(
        df, "grp", F.col("v"), {"p50": 0.5, "p95": 0.95}).collect()}
    assert out["g"]["n"] == 100 and out["g"]["p50"] == 49 \
        and out["g"]["p95"] == 94
    assert out["h"]["n"] == 1 and out["h"]["p50"] == 7 and out["h"]["p95"] == 7


def test_incremental_dedup_semantics(spark):
    from log_collector_spark.textops.dedup import incremental_dedup
    new = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "fresh doc"),
         (4, "seen before")],
        "doc_id long, text string")
    seen = spark.createDataFrame([("seen before",)], "t string") \
        .select(F.md5(F.trim(F.regexp_replace(F.lower("t"), r"\s+", " ")))
                 .alias("fp"))
    got = sorted(r["doc_id"] for r in incremental_dedup(new, seen).collect())
    # 1&2 normalize to the same text → min-id 1 survives; 4 is anti-joined out
    assert got == [1, 3]


def test_histogram_percentiles_bracket_exact(spark):
    """Sketch contract: each histogram estimate is the lower bound of the
    bin holding the exact rank-selected value — exact - bin_width <
    estimate <= exact, on both a spec fixture and real synthetic latency."""
    from log_collector_spark.operators.aggregate import histogram_percentiles
    from log_collector_spark.textops.common import h60

    rows = [("g", v) for v in range(100)] + [("h", 7)]
    df = spark.createDataFrame(rows, "grp string, v long")
    qs = {"p50": 0.5, "p95": 0.95}
    hist = {r["grp"]: r for r in histogram_percentiles(
        df, "grp", F.col("v"), qs, bin_width=10).collect()}
    # exact p50=49 → bin 40; p95=94 → bin 90; single value 7 → bin 0
    assert hist["g"]["p50"] == 40 and hist["g"]["p95"] == 90
    assert hist["h"]["p50"] == 0 and hist["h"]["n"] == 1

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    lat = h60(F.col("event_id").cast("string")) % 5000
    exact = _rank_select(ev.select("event_type", lat).collect(), qs)
    est = {r["event_type"]: r for r in histogram_percentiles(
        ev, "event_type", lat, qs, bin_width=100).collect()}
    for t, e in exact.items():
        for p in qs:
            assert e[p] - 100 < est[t][p] <= e[p], (t, p, e[p], est[t][p])


def test_histogram_percentiles_equal_sort_based(spark):
    """The histogram-form exact percentiles must agree with the sort-based
    rank-selection reference on the same input, including heavy ties and
    single-element groups."""
    from log_collector_spark.operators import aggregate as agg_ops

    rows = ([("a", v) for v in [5, 1, 1, 1, 9, 9, 3, 7, 7, 7, 7]]
            + [("b", 42)]
            + [("c", v) for v in range(100)])
    df = spark.createDataFrame(rows, "g string, v long")
    qs = {"p50": 0.5, "p95": 0.95, "p99": 0.99}
    a = {g: (r["n"], r["p50"], r["p95"], r["p99"])
         for g, r in _rank_select(rows, qs).items()}
    b = {r["g"]: (r["n"], r["p50"], r["p95"], r["p99"])
         for r in agg_ops.histogram_exact_percentiles(df, "g", F.col("v"),
                                                      qs).collect()}
    assert a == b
    assert b["b"] == (1, 42, 42, 42)
