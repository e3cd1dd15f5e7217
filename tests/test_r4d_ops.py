"""Round-4 continuation II: TPC-H Q10/Q11/Q12/Q15/Q19/Q22 analogues and the
transcript slow-streak / context-cutoff operators — corner semantics on tiny
crafted frames (ties, band borders, cross-multiplied averages, dormancy,
gaps-and-islands); the DuckDB oracle covers them end-to-end at sf0.01."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.operators import analytics as an
from log_collector_spark.operators import tx_stats as TX


def _routed(spark, rows):
    """Minimal routed-frame stand-in: (conv_id, turn_idx, payload) plus the
    routing flags tx_stats._clean filters on."""
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, "
                                     "payload string")
    return (df.withColumn("parse_ok", F.lit(True))
              .withColumn("is_blank", F.lit(False))
              .withColumn("is_oversize", F.lit(False)))


def _pay(tokens=10, latency=100):
    return f'{{"tokens":{tokens},"latency_ms":{latency}}}'


def test_slow_streaks_islands_split_on_fast_turn(spark):
    # conv A: slow,slow,fast,slow -> runs of 2 and 1; conv B all fast ->
    # absent from the report (offenders-only denominator).
    rows = [("A", 0, _pay(latency=5000)), ("A", 1, _pay(latency=4000)),
            ("A", 2, _pay(latency=10)), ("A", 3, _pay(latency=9000)),
            ("B", 0, _pay(latency=10)), ("B", 1, _pay(latency=20))]
    out = {r["conv_id"]: r for r in
           TX.slow_streaks(_routed(spark, rows), slow_ms=4000).collect()}
    assert set(out) == {"A"}
    assert out["A"]["n_slow"] == 3 and out["A"]["max_streak"] == 2


def test_slow_streaks_ignore_gap_from_filtered_rows(spark):
    # The island grouping numbers CLEAN rows, not raw turn_idx: a slow run
    # interrupted only by a turn that routing dropped still counts as one
    # run (turn_idx jumps 0 -> 2 but the clean sequence is contiguous).
    rows = [("C", 0, _pay(latency=5000)), ("C", 2, _pay(latency=5000))]
    out = TX.slow_streaks(_routed(spark, rows), slow_ms=4000).collect()
    assert out[0]["max_streak"] == 2


def test_context_cutoff_budget_boundary(spark):
    # tokens 10,10,10 with budget 25: cum 10,20,30 -> 2 turns fit, the
    # third (turn_idx 2) overflows. Budget 30: cum==budget fits (<=),
    # cutoff -1.
    rows = [("A", 0, _pay(tokens=10)), ("A", 1, _pay(tokens=10)),
            ("A", 2, _pay(tokens=10))]
    r25 = TX.context_cutoff(_routed(spark, rows), budget=25).collect()[0]
    assert (r25["turns_within_budget"], r25["cutoff_turn"],
            r25["total_tokens"]) == (2, 2, 30)
    r30 = TX.context_cutoff(_routed(spark, rows), budget=30).collect()[0]
    assert (r30["turns_within_budget"], r30["cutoff_turn"]) == (3, -1)


def test_top_supplier_surfaces_ties(spark):
    li = spark.createDataFrame(
        [(1, 100.0, 0.0, "1996-02-01"), (2, 100.0, 0.0, "1996-02-01"),
         (3, 1.0, 0.0, "1996-02-01")],
        "l_suppkey int, l_extendedprice double, l_discount double, d string"
    ).withColumn("l_shipdate", F.col("d").cast("timestamp")).drop("d")
    sup = spark.createDataFrame(
        [(1, "s1"), (2, "s2"), (3, "s3")], "s_suppkey int, s_name string")
    out = an.top_supplier(sup, li).collect()
    assert [r["s_suppkey"] for r in out] == [1, 2]  # both max ties surface
    assert out[0]["revenue_micros"] == out[1]["revenue_micros"]


def test_prospects_cross_multiplied_average_is_strict(spark):
    # balances 100/200/300: avg=200, strictly-above keeps only 300 (the
    # bal*n > sum test must not admit the exact average). cust 3 has a
    # recent order -> dormancy anti-join removes it; cust 4's order is
    # OLD -> stays... but cust 4 is below average anyway.
    cust = spark.createDataFrame(
        [(1, 0, 100.0), (2, 0, 200.0), (3, 0, 300.0)],
        "c_custkey int, c_nationkey int, c_acctbal double")
    orders = spark.createDataFrame(
        [(3, "2000-06-01"), (1, "1996-01-01")],
        "o_custkey int, d string"
    ).withColumn("o_orderdate", F.col("d").cast("timestamp")).drop("d")
    nation = spark.createDataFrame([(0, "ZZ")],
                                   "n_nationkey int, n_name string")
    out = an.prospect_customers(cust, orders, nation,
                                dormant_since="2000-01-01").collect()
    assert out == []  # the only above-average customer ordered recently
    out2 = an.prospect_customers(cust, orders, nation,
                                 dormant_since="2001-01-01").collect()
    assert len(out2) == 1 and out2[0]["n_prospects"] == 1
    assert out2[0]["total_bal_cents"] == 30000


def test_disjunctive_revenue_band_borders(spark):
    # band (Brand#12, size 1-5, qty 1-11): qty 11 in, qty 12 out; a
    # Brand#23 row with qty 15 hits the SECOND band -> OR admits it.
    part = spark.createDataFrame(
        [(1, "Brand#12", 3), (2, "Brand#23", 5), (3, "Brand#9", 3)],
        "p_partkey int, p_brand string, p_size int")
    li = spark.createDataFrame(
        [(1, 11.0, 10.0, 0.0), (1, 12.0, 10.0, 0.0),
         (2, 15.0, 10.0, 0.0), (3, 5.0, 10.0, 0.0)],
        "l_partkey int, l_quantity double, l_extendedprice double, "
        "l_discount double")
    out = an.disjunctive_revenue(li, part).collect()[0]
    assert out["n_items"] == 2
    assert out["revenue_micros"] == 2 * 1000 * 10000


def test_priority_class_late_only(spark):
    # one line shipped 61 days late (counted, high prio), one 10 days
    # (dropped), one late but low prio -> low bucket.
    orders = spark.createDataFrame(
        [(1, "1996-01-01", "1-URGENT"), (2, "1996-01-01", "5-LOW")],
        "o_orderkey int, d string, o_orderpriority string"
    ).withColumn("o_orderdate", F.col("d").cast("timestamp")).drop("d")
    li = spark.createDataFrame(
        [(1, "O", "1996-03-05"), (1, "O", "1996-01-11"),
         (2, "F", "1996-03-05")],
        "l_orderkey int, l_linestatus string, d string"
    ).withColumn("l_shipdate", F.col("d").cast("timestamp")).drop("d")
    out = {r["l_linestatus"]: r for r in
           an.priority_class_lines(orders, li, date_from="1996-01-01",
                                   date_to="1997-01-01",
                                   late_days=60).collect()}
    assert out["O"]["high_prio_count"] == 1
    assert out["O"]["low_prio_count"] == 0
    assert out["F"]["low_prio_count"] == 1


def test_returned_items_orders_dims_above_agg(spark):
    """Q10 plan contract: the customer/nation dims join the per-custkey
    aggregate, not the fact — the plan's single SortMergeJoin/shuffled
    hash join input must be the orders×lineitem pair, with both dim joins
    BroadcastHashJoin."""
    import glob
    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    rd = lambda t: spark.read.parquet(*sorted(glob.glob(f"{sf}/{t}*.parquet")))
    df = an.returned_item_customers(rd("customer"), rd("orders"),
                                    rd("lineitem"), rd("nation"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the two dim joins MUST broadcast; at sf0.01 the fact join may also
    # qualify under the threshold, so assert a floor, not equality
    assert plan.count("BroadcastHashJoin") >= 2
    rows = df.collect()
    assert 0 < len(rows) <= an.RETURNED_TOPK
    revs = [r["revenue_micros"] for r in rows]
    assert revs == sorted(revs, reverse=True)


from log_collector_spark.operators import behavior as B
from log_collector_spark.operators.order import compaction_plan


def test_gap_histogram_buckets_and_ties(spark):
    # user 1: ts 0s,1s,3s -> gaps 1e6, 2e6 us (bitlen 20, 21);
    # user 2: two events at the SAME second -> gap 0 (bitlen("0")=1 —
    # the same-timestamp tie bucket must not crash or disappear).
    rows = [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:00:01"),
            (1, "2024-01-01 00:00:03"),
            (2, "2024-01-01 05:00:00"), (2, "2024-01-01 05:00:00")]
    df = (spark.createDataFrame(rows, "user_id int, d string")
          .withColumn("ts", F.col("d").cast("timestamp")).drop("d"))
    out = {r["gap_bucket"]: r for r in B.gap_histogram(df).collect()}
    assert set(out) == {1, 20, 21}
    assert out[1]["n_gaps"] == 1 and out[1]["min_gap_us"] == 0
    assert out[20]["min_gap_us"] == 1_000_000
    assert out[21]["max_gap_us"] == 2_000_000
    assert out[20]["gaps_permille"] == 333


def test_ri_audit_null_keys_excluded_and_orphans_counted(spark):
    child = spark.createDataFrame([(1,), (2,), (None,), (9,)], "k int")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "p int")
    out = B.ri_audit([("e1", child, parent)]).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_child"], r["n_orphans"], r["orphan_permille"]) == (3, 1, 333)


def test_ri_audit_string_keys(spark):
    child = spark.createDataFrame([("user",), ("bot",)], "role string")
    parent = spark.createDataFrame([("user",), ("tool",)], "role string")
    r = B.ri_audit([("roles", child, parent)]).collect()[0]
    assert (r["n_child"], r["n_orphans"]) == (2, 1)


def test_compaction_plan_quota_packing(spark, tmp_path):
    # 4 files of 100 bytes payload each, target 250: prefix sums 0/100/200/
    # 300 -> groups 0,0,0,1 (contiguous runs in name order).
    import pandas as pd
    for i in range(4):
        pd.DataFrame({"text": ["x" * 50, "y" * 50]}).to_parquet(
            tmp_path / f"part-{i:04d}.parquet")
    df = spark.read.parquet(str(tmp_path))
    out = {r["out_group"]: r for r in
           compaction_plan(df, target_bytes=250).collect()}
    assert out[0]["n_files"] == 3 and out[0]["total_bytes"] == 300
    assert out[1]["n_files"] == 1 and out[1]["total_rows"] == 2
    assert out[0]["first_file"] == "part-0000.parquet"


from log_collector_spark.operators.aggregate import join_size_forecast


def test_join_size_forecast_exact_counts(spark):
    left = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    right = spark.createDataFrame([("a",), ("b",), ("b",), ("c",)],
                                  "k string")
    r = join_size_forecast(left, F.col("k"), right, F.col("k")).collect()[0]
    # a: 2*1=2, b: 1*2=2 -> 4 output rows; c never matches
    assert (r["n_left"], r["n_right"]) == (3, 4)
    assert (r["n_matching_keys"], r["join_rows"], r["max_key_rows"]) \
        == (2, 4, 2)
    assert r["max_key_permille"] == 500
    # the forecast equals the actual join size
    assert left.join(right, "k").count() == r["join_rows"]


def test_table_fingerprint_order_free_and_sensitive(spark):
    rows = [(0, "x"), (0, "y"), (1, "z")]
    mk = lambda rs: B.table_fingerprint(
        spark.createDataFrame(rs, "p int, v string"),
        F.col("p"), F.col("v"))
    base = mk(rows).collect()
    shuffled = mk(list(reversed(rows))).collect()
    assert base == shuffled  # commutative aggregates: row order irrelevant
    changed = mk([(0, "x"), (0, "Y"), (1, "z")]).collect()
    assert changed[0] != base[0]   # partition 0 diverges
    assert changed[1] == base[1]   # partition 1 untouched


from log_collector_spark.textops.analysis import freq_spectrum


def test_order_count_dist_zero_bucket(spark):
    # cust 1 has 2 orders, cust 2 none: the left-outer null row must land
    # in c_count=0 (COUNT(o_orderkey), not COUNT(*) which would say 1).
    cust = spark.createDataFrame([(1,), (2,)], "c_custkey int")
    orders = spark.createDataFrame([(10, 1), (11, 1)],
                                   "o_orderkey int, o_custkey int")
    out = {r["c_count"]: r["custdist"] for r in
           an.order_count_distribution(cust, orders).collect()}
    assert out == {2: 1, 0: 1}


def test_small_qty_threshold_strict_and_per_part(spark):
    # part 1 (brand): qtys 10,10,40 -> sum 60, n 3; threshold 800‰:
    # qty*3*1000 < 800*60=48000 -> qty < 16 -> the two 10s qualify.
    # part 2 is another brand -> pruned before the agg.
    part = spark.createDataFrame([(1, "Brand#12"), (2, "Brand#9")],
                                 "p_partkey int, p_brand string")
    li = spark.createDataFrame(
        [(1, 10.0, 5.0), (1, 10.0, 7.0), (1, 40.0, 9.0), (2, 1.0, 100.0)],
        "l_partkey int, l_quantity double, l_extendedprice double")
    r = an.small_quantity_revenue(li, part).collect()[0]
    assert r["n_small_lines"] == 2
    assert r["small_revenue_cents"] == 500 + 700


def test_two_nation_volume_is_symmetric_filtered(spark):
    # A->B and B->A both kept as separate groups; A->A dropped.
    nation = spark.createDataFrame(
        [(1, "NATION_1"), (2, "NATION_2")], "n_nationkey int, n_name string")
    sup = spark.createDataFrame([(1, 1), (2, 2)],
                                "s_suppkey int, s_nationkey int")
    cust = spark.createDataFrame([(1, 1), (2, 2)],
                                 "c_custkey int, c_nationkey int")
    orders = spark.createDataFrame([(10, 1), (11, 2)],
                                   "o_orderkey int, o_custkey int")
    li = spark.createDataFrame(
        [(10, 2, 100.0, 0.0, "1996-05-01"),   # supp N2 -> cust N1: kept
         (11, 1, 200.0, 0.0, "1996-05-01"),   # supp N1 -> cust N2: kept
         (10, 1, 999.0, 0.0, "1996-05-01")],  # supp N1 -> cust N1: dropped
        "l_orderkey int, l_suppkey int, l_extendedprice double, "
        "l_discount double, d string"
    ).withColumn("l_shipdate", F.col("d").cast("timestamp")).drop("d")
    out = {(r["supp_nation"], r["cust_nation"]): r["revenue_micros"]
           for r in an.two_nation_volume(nation, cust, sup, orders,
                                         li).collect()}
    assert set(out) == {("NATION_1", "NATION_2"), ("NATION_2", "NATION_1")}
    assert out[("NATION_2", "NATION_1")] == 100 * 100 * 10000


def test_freq_spectrum_zipfy_corpus(spark):
    # 'a' x4 (bucket 3), 'b' x2 (bucket 2), 'c','d' x1 (bucket 1)
    docs = spark.createDataFrame(
        [("a a a a",), ("b b c",), ("d",)], "text string")
    out = {r["freq_bucket"]: (r["n_types"], r["n_occurrences"])
           for r in freq_spectrum(docs).collect()}
    assert out == {1: (2, 2), 2: (1, 2), 3: (1, 4)}


def test_waiting_supplier_unique_argmax_only(spark):
    # order 1 (status F, 2 supps): supp 1 ships last uniquely -> waits.
    # order 2 (F, 2 supps): tie on the max date -> NOBODY waits.
    # order 3 (F, 1 supp): single-supplier orders never count.
    # order 4 (status O): excluded by status.
    orders = spark.createDataFrame(
        [(1, "F"), (2, "F"), (3, "F"), (4, "F")][:3] + [(4, "O")],
        "o_orderkey int, o_orderstatus string")
    sup = spark.createDataFrame([(1, "s1"), (2, "s2")],
                                "s_suppkey int, s_name string")
    li = spark.createDataFrame(
        [(1, 1, "1996-03-01"), (1, 2, "1996-01-01"),
         (2, 1, "1996-05-05"), (2, 2, "1996-05-05"),
         (3, 1, "1996-07-07"),
         (4, 2, "1996-09-09"), (4, 1, "1996-01-01")],
        "l_orderkey int, l_suppkey int, d string"
    ).withColumn("l_shipdate", F.col("d").cast("timestamp")).drop("d")
    out = an.waiting_suppliers(sup, orders, li).collect()
    assert [(r["s_suppkey"], r["numwait"]) for r in out] == [(1, 1)]


def test_market_share_denominator_keeps_all_suppliers(spark):
    # market = region 0's customers; supplier nation filter must live in
    # the CASE: supp of nation B contributes to the denominator only.
    region = spark.createDataFrame([(0, "ASIA")],
                                   "r_regionkey int, r_name string")
    nation = spark.createDataFrame(
        [(2, "NATION_2", 0), (3, "NATION_3", 0)],
        "n_nationkey int, n_name string, n_regionkey int")
    cust = spark.createDataFrame([(1, 2)], "c_custkey int, c_nationkey int")
    sup = spark.createDataFrame([(1, 2), (2, 3)],
                                "s_suppkey int, s_nationkey int")
    orders = spark.createDataFrame([(10, 1, "1996-04-01")],
                                   "o_orderkey int, o_custkey int, d string"
                                   ).withColumn("o_orderdate",
                                                F.col("d").cast("timestamp")
                                                ).drop("d")
    li = spark.createDataFrame(
        [(10, 1, 300.0, 0.0), (10, 2, 100.0, 0.0)],
        "l_orderkey int, l_suppkey int, l_extendedprice double, "
        "l_discount double")
    r = an.market_share(region, nation, cust, sup, orders, li,
                        market_region="ASIA",
                        supp_nation="NATION_2").collect()[0]
    assert r["o_year"] == 1996
    assert r["nation_micros"] == 300 * 100 * 10000
    assert r["total_micros"] == 400 * 100 * 10000
    assert r["share_permille"] == 750


def test_keep_best_prefers_longest_then_min_id(spark):
    # two docs near-dup (identical text -> same minhash cluster): doc 7 has
    # more tokens... craft identical-token docs to force the tie path too.
    from log_collector_spark.textops.dedup import keep_best_per_cluster
    docs = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon zeta eta theta"),
         (7, "alpha beta gamma delta epsilon zeta eta theta iota"),
         (9, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string")
    out = keep_best_per_cluster(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_members"] == 3
    assert r["best_doc_id"] == 7 and r["best_n_tokens"] == 9


def test_sliding_hll_user_expires_after_window(spark):
    # user 1 active only at hour 0; user 2 active hours 0 and 30.
    # (h60("1")%64=56, h60("2")%64=54 — distinct registers, precomputed.)
    # At hour 23 the trailing-24h window still sees both (est=LC[62]=2);
    # at hour 30 user 1 has aged out (est=LC[63]=1).
    from log_collector_spark.textops.analysis import sliding_hll_users
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = [(1, base), (2, base), (2, base + dt.timedelta(hours=30))]
    ev = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = {r["hour_idx"]: r["n_est"] for r in
           sliding_hll_users(ev).collect()}
    hours = sorted(out)
    assert len(hours) == 2          # only hours with events appear
    assert out[hours[0]] == 2       # both users inside the window
    assert out[hours[1]] == 1       # user 1 expired from the gauge


def test_star_cc_equals_label_propagation_random_graph(spark):
    """large-star/small-star must reach the min-label fixpoint that label
    propagation converges to — computed here by a pure-Python union-find
    — on an adversarial mix: a long chain (diameter stress), a clique, an
    isolated pair, and random extra edges."""
    import random
    from log_collector_spark.textops.dedup import dedup_clusters
    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(1, 15)]          # chain 1..15
    edges += [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]
    edges += [(30, 31)]
    edges += [(rng.randint(1, 15), rng.randint(20, 23)) for _ in range(2)]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        parent[max(ru, rv)] = min(ru, rv)       # root = component minimum
    want = sorted((x, find(x), x == find(x)) for x in list(parent))
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    dummy = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    got = sorted((r.doc_id, r.cluster, r.keep) for r in
                 dedup_clusters(dummy, pairs=pairs).collect())
    assert got == want


def test_churn_matrix_set_algebra(spark):
    # day 0: {1,2}; day 1: {2,3}; day 2: {3}
    # day 1: retained {2}, churned {1}, acquired {3}
    # day 2: retained {3}, churned {2}, acquired {}
    # day 0 dropped (no observed yesterday); no phantom day 3 row.
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = [(1, base), (2, base),
            (2, base + dt.timedelta(days=1)), (3, base + dt.timedelta(days=1)),
            (3, base + dt.timedelta(days=2))]
    ev = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = sorted((r["retained"], r["churned"], r["acquired"]) for r in
                 B.churn_matrix(ev).collect())
    assert len(out) == 2
    assert out == sorted([(1, 1, 1), (1, 1, 0)])


def test_vocab_drift_rates_and_min_support(spark):
    from log_collector_spark.textops.analysis import vocab_drift
    import hashlib
    # compute the REAL h60 halves so 'surge' lands exclusively in half 0
    half = lambda i: int(hashlib.md5(str(i).encode()).hexdigest()[:15],
                         16) % 2
    ids = list(range(16))
    docs = spark.createDataFrame(
        [(i, "common " * 5 + ("surge " * 5 if half(i) == 0 else "") +
          ("rare" if i == ids[0] else "")) for i in ids],
        "doc_id long, text string")
    out = vocab_drift(docs, min_n=5, topk=10).collect()
    toks = [r["tok"] for r in out]
    assert "rare" not in toks            # below min support
    assert "surge" in toks and "common" in toks
    surge = next(r for r in out if r["tok"] == "surge")
    # surge exists only in half A -> rate_b is exactly 0
    assert surge["rate_b_ppm"] == 0 and surge["rate_a_ppm"] > 0
    assert surge["drift_ppm"] == surge["rate_a_ppm"]
    # drift must be |rate_a - rate_b| for every returned row, and the
    # list must be sorted by (drift desc, tok asc)
    for r in out:
        assert r["drift_ppm"] == abs(r["rate_a_ppm"] - r["rate_b_ppm"])
    keys = [(-r["drift_ppm"], r["tok"]) for r in out]
    assert keys == sorted(keys)


def test_peak_inflight_half_open_sweep(spark):
    # calls [1000,1500), [1200,1300) overlap -> depth 2; a call starting
    # exactly at 1500 (when the first ends) must NOT count as overlap.
    rows = [("A", 0, 1000, 500), ("A", 1, 1200, 100), ("A", 2, 1500, 10),
            ("B", 0, 10, 5)]
    df = spark.createDataFrame(
        [(c, i, f'{{"latency_ms":{lat}}}', t) for c, i, t, lat in rows],
        "conv_id string, turn_idx int, payload string, logtime long")
    routed = (df.withColumn("parse_ok", F.lit(True))
                .withColumn("is_blank", F.lit(False))
                .withColumn("is_oversize", F.lit(False))
                .withColumn("tool", F.lit("bash")))
    out = {r["conv_id"]: r for r in TX.peak_inflight(routed).collect()}
    assert out["A"]["peak_inflight"] == 2 and out["A"]["n_calls"] == 3
    assert out["B"]["peak_inflight"] == 1


def test_weighted_sample_keys_and_zero_weight(spark):
    from log_collector_spark.textops.analysis import weighted_sample
    import hashlib
    docs = spark.createDataFrame(
        [(i, w) for i, w in [(1, 100), (2, 0), (3, 7), (4, 1000)]],
        "doc_id long, n_chars long")
    out = weighted_sample(docs, k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 2 not in ids                 # zero weight excluded
    h = lambda i: int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
    expected = sorted([(h(i) // w, i) for i, w in
                       [(1, 100), (3, 7), (4, 1000)]])
    assert ids == [i for _, i in expected]
    for r in out:
        assert r["rank_key"] == h(r["doc_id"]) // r["weight"]


def test_decile_lift_cross_multiplied(spark):
    # 4 users, 2 tiles: heavy users (10, 9 events) tile 1, light (1, 1)
    # tile 2; conversions: one heavy, one light -> overall rate 1/2,
    # per-tile rate 1/2 -> lift exactly 1000 in both tiles.
    rows = ([(1, "view")] * 9 + [(1, "purchase")] +
            [(2, "view")] * 9 +
            [(3, "purchase")] + [(4, "view")])
    ev = spark.createDataFrame(rows, "user_id int, event_type string")
    out = {r["decile"]: r for r in
           B.decile_lift(ev, n_tiles=2).collect()}
    assert out[1]["n_users"] == 2 and out[2]["n_users"] == 2
    assert out[1]["n_converted"] == 1 and out[2]["n_converted"] == 1
    assert out[1]["lift_permille"] == 1000
    assert out[1]["conv_permille"] == 500


def test_bounce_rate_gap_boundary_and_entry_day(spark):
    import datetime as dt
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: two events 1800s apart -> SAME session (gap must be
        # strictly greater to split) -> not a bounce
        (1, 100, base), (1, 101, base + dt.timedelta(seconds=1800)),
        # user 2: single event -> bounce
        (2, 200, base),
        # user 1 again 1801s later -> NEW session, single event -> bounce
        (1, 102, base + dt.timedelta(seconds=1800 + 1801)),
    ]
    ev = spark.createDataFrame(rows, "user_id int, event_id int, "
                                     "ts timestamp")
    out = B.bounce_rate(ev).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_sessions"] == 3 and r["n_bounces"] == 2
    assert r["bounce_permille"] == 666


def test_day_bitmask_overlap_epoch_split(spark):
    from log_collector_spark.operators.aggregate import day_bitmask_overlap
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    day = lambda n: base + dt.timedelta(days=n)
    # type A on days 0,1,100; type B on days 1,100,101 — co-days {1,100}
    # span two 63-day epochs, so the per-epoch word join must merge.
    rows = ([("A", day(0)), ("A", day(1)), ("A", day(100)),
             ("B", day(1)), ("B", day(100)), ("B", day(101))])
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = day_bitmask_overlap(ev).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["type_a"], r["type_b"]) == ("A", "B")
    assert (r["days_a"], r["days_b"], r["co_days"]) == (3, 3, 2)
    assert r["jaccard_permille"] == 500


def test_rle_audit_orderings(spark):
    from log_collector_spark.operators.order import rle_audit
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    # user 1: x,x,y (2 runs); user 2: x (1 run) -> user_ts runs = 3.
    # day order (all same day, by time): x,x,x,y interleaved by ts ->
    # ts order: u1@0:x, u2@1:x, u1@2:x, u1@3:y -> 2 runs.
    rows = [(1, 1, "x", base), (1, 3, "x", base + dt.timedelta(seconds=2)),
            (1, 4, "y", base + dt.timedelta(seconds=3)),
            (2, 2, "x", base + dt.timedelta(seconds=1))]
    ev = spark.createDataFrame(
        rows, "user_id int, event_id int, event_type string, ts timestamp")
    out = {r["ordering"]: r for r in rle_audit(ev).collect()}
    assert out["user_ts"]["n_runs"] == 3
    assert out["day_ts"]["n_runs"] == 2
    assert out["day_ts"]["avg_run_x1000"] == 2000


def test_latency_inversions_bit_kernel(spark):
    # lat by turn order: [5, 3, 4, 3] -> inversions: (5,3),(5,4),(5,3),
    # (4,3) = 4; ties (3,3) don't count. Sorted conv -> 0.
    rows = [("A", 0, _pay(latency=5)), ("A", 1, _pay(latency=3)),
            ("A", 2, _pay(latency=4)), ("A", 3, _pay(latency=3)),
            ("B", 0, _pay(latency=1)), ("B", 1, _pay(latency=2))]
    out = {r["conv_id"]: r for r in
           TX.latency_inversions(_routed(spark, rows)).collect()}
    assert out["A"]["inversions"] == 4 and out["A"]["n_turns"] == 4
    assert out["B"]["inversions"] == 0


def test_latency_inversions_matches_bruteforce_random(spark):
    import random
    rng = random.Random(11)
    rows, brute = [], {}
    for conv in ["C1", "C2"]:
        lats = [rng.randint(1, 9) for _ in range(40)]
        rows += [(conv, i, _pay(latency=v)) for i, v in enumerate(lats)]
        brute[conv] = sum(1 for i in range(40) for j in range(i + 1, 40)
                          if lats[i] > lats[j])
    out = {r["conv_id"]: r["inversions"] for r in
           TX.latency_inversions(_routed(spark, rows)).collect()}
    assert out == brute


def test_top_users_with_ties_includes_tied_peers(spark):
    # counts: u1=3, u2=3, u3=2, u4=1, u5=1 -> ranks 1,1,2,3,3:
    # with n_ranks=2 -> {u1,u2,u3}; with LIMIT 3 the u2/u1 tie would have
    # needed an arbitrary cut. n_ranks=3 returns ALL FIVE (both tied).
    rows = ([(1,)] * 3 + [(2,)] * 3 + [(3,)] * 2 + [(4,)] + [(5,)])
    ev = spark.createDataFrame(rows, "user_id int")
    out = B.top_users_with_ties(ev, n_ranks=2).collect()
    assert sorted(r["user_id"] for r in out) == [1, 2, 3]
    out3 = B.top_users_with_ties(ev, n_ranks=3).collect()
    assert sorted(r["user_id"] for r in out3) == [1, 2, 3, 4, 5]


def test_gmd_closed_form_equals_pairwise(spark):
    # values 1,2,4 (milli-quantized 1000,2000,4000): pairwise |diffs|
    # 1000+3000+2000=6000 over 3 pairs -> GMD 2000; closed form must agree.
    ev = spark.createDataFrame(
        [("t", 1.0), ("t", 2.0), ("t", 4.0)],
        "event_type string, value double")
    r = B.gini_mean_difference(ev).collect()[0]
    assert r["n"] == 3
    # num = sum (2i-n-1)x(i) = (-2)*1000 + 0*2000 + 2*4000 = 6000
    assert r["gmd_num"] == 6000
    # 2000*num div n(n-1) = 2000*6000 div 6 = 2_000_000, i.e. GMD=2.0 in
    # the original units (milli-quantized values x the x1000 output)
    assert r["gmd_x1000"] == 2_000_000
