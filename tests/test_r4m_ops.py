"""Continuation-XIII ops: duplicated-n-gram token coverage (interval
union), integer PCA power iteration (numpy equality + eigen alignment +
headroom guard)."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.textops import dedup as D
from log_collector_spark.textops import similarity as S
from log_collector_spark.textops.common import EMB_SCALE

SF = "/root/testdata/sf0.001"


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_dup_ngram_coverage_interval_union(spark):
    # k = 3: docs 0/1 share shingles "a b c" and "b c d" (hit positions
    # 0 and 1 -> union covers tokens 0..3 = 4 of 5); doc 4 repeats
    # "m n o" WITHIN itself (hits at 0 and 4, disjoint -> 6 of 7);
    # doc 2 is unique, doc 3 is shorter than k.
    out = {r["doc_id"]: r for r in D.dup_ngram_coverage(_docs(spark, [
        "a b c d e",
        "a b c d x",
        "z y x w v u",
        "q r",
        "m n o p m n o",
    ]), k=3).collect()}
    assert (out[0]["n_tokens"], out[0]["dup_tokens"],
            out[0]["dup_permille"]) == (5, 4, 800)
    assert (out[1]["dup_tokens"], out[1]["dup_permille"]) == (4, 800)
    assert (out[2]["dup_tokens"], out[2]["dup_permille"]) == (0, 0)
    assert (out[3]["n_tokens"], out[3]["dup_tokens"]) == (2, 0)
    assert (out[4]["n_tokens"], out[4]["dup_tokens"]) == (7, 6)


def test_dup_ngram_coverage_matches_bruteforce(spark):
    k = D.SHINGLE_K
    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    rows = [(r["doc_id"], r["text"]) for r in
            docs.select("doc_id", "text").collect()]
    occ: dict[tuple, int] = {}
    toks = {}
    for did, text in rows:
        t = text.split()
        toks[did] = t
        for i in range(max(0, len(t) - k + 1)):
            sh = tuple(t[i:i + k])
            occ[sh] = occ.get(sh, 0) + 1
    expect = {}
    for did, t in toks.items():
        covered = set()
        for i in range(max(0, len(t) - k + 1)):
            if occ[tuple(t[i:i + k])] >= 2:
                covered.update(range(i, i + k))
        expect[did] = (len(t), len(covered))
    got = {r["doc_id"]: (r["n_tokens"], r["dup_tokens"])
           for r in D.dup_ngram_coverage(docs, k=k).collect()}
    assert got == expect


def _emb_df(spark, mat):
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>")


def test_pca_power_step_matches_numpy_integer(spark):
    embs = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    # replicate the EXACT integer chain in numpy int64
    vecs = np.array([r["embedding"] for r in
                     embs.select("embedding").collect()], dtype=np.float64)
    q = np.round(vecs * EMB_SCALE).astype(np.int64)

    def rescale(x):
        m = np.abs(x).max()
        if m <= 0:
            return np.zeros_like(x)
        return np.sign(x) * (np.abs(x) * 1000 // m)

    s = (q * (q.sum(axis=1)[:, None])).sum(axis=0)
    v1 = rescale(s)
    d1 = q @ v1
    r1s = np.sign(d1) * (np.abs(d1) // 1000)
    t = (q * r1s[:, None]).sum(axis=0)
    v2 = rescale(t)
    got = [(r["dim"], r["component_prev"], r["component"])
           for r in S.pca_power_step(embs).collect()]
    assert got == [(i, int(v1[i]), int(v2[i])) for i in range(q.shape[1])]


def test_pca_power_step_aligns_with_dominant_eigenvector(spark):
    # strongly dominant direction + tiny deterministic orthogonal noise:
    # two steps from all-ones must align almost perfectly
    rng_free = np.arange(40)
    base = np.zeros((40, 8))
    base[:, 2] = 0.9                       # dominant axis
    base[:, 5] = ((rng_free % 7) - 3) * 0.01   # small zero-mean noise axis
    out = S.pca_power_step(_emb_df(spark, base)).collect()
    v = np.array([r["component"] for r in out], dtype=np.float64)
    w, V = np.linalg.eigh((base * 1000).T @ (base * 1000))
    top = V[:, np.argmax(w)]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.999


def test_pca_power_step_guard_raises_on_headroom(spark):
    # quantized magnitude 2e9 >> PCA_QMAX_LIMIT -> the structural guard
    # must fail the job rather than silently overflow int64
    big = np.full((4, 8), 2_000_000.0)
    with pytest.raises(Exception, match="headroom"):
        S.pca_power_step(_emb_df(spark, big)).collect()


def test_pca_alignment_collapsed_space_hits_top_bin(spark):
    # every vector on one ray -> cos^2 to the principal direction == 1
    base = np.zeros((30, 8))
    base[:, 3] = 0.5 + 0.01 * (np.arange(30) % 5)
    out = S.pca_alignment(_emb_df(spark, base)).collect()
    assert len(out) == 1
    assert out[0]["cos2_bin"] >= 9 and out[0]["share_permille"] == 1000


def test_pca_alignment_spread_space_uses_low_bins(spark):
    embs = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    out = {r["cos2_bin"]: r["share_permille"]
           for r in S.pca_alignment(embs).collect()}
    # synthetic corpus is not collapsed: most mass below bin 5
    assert sum(v for b, v in out.items() if b <= 4) >= 600


def test_graph_ann_recall_at_least_bucket_only_lsh(spark):
    embs = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    truth = {(r["query_id"], r["cand_id"])
             for r in S.brute_force_topk(embs).collect()}
    graph = {(r["query_id"], r["cand_id"])
             for r in S.graph_ann_topk(embs).collect()}
    lsh0 = {(r["query_id"], r["cand_id"])
            for r in S.lsh_ann_topk(embs, flips=0).collect()}
    # the offline graph pre-pays multiprobe: one query-time hop must hit
    # the exact-truth set at least as often as probing only one bucket
    assert len(graph & truth) >= len(lsh0 & truth)
    # contract: ranks are 1..k unique per query
    rows = S.graph_ann_topk(embs).collect()
    per = {}
    for r in rows:
        per.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per.values())


def test_graph_ann_plan_no_cartesian_or_bnlj(spark):
    embs = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    plan = S.graph_ann_topk(embs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tx_context_depth_trailing_window_semantics(spark):
    from log_collector_spark.operators import tx_stats as TX
    rows = [("c1", i + 1, '{"tokens":%d}' % t)
            for i, t in enumerate([3000, 2000, 1500, 500])]
    routed = (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, payload string")
        .withColumn("parse_ok", F.lit(True))
        .withColumn("is_blank", F.lit(False))
        .withColumn("is_oversize", F.lit(False)))
    # budget 4000, cums 3000/5000/6500/7000:
    # t1 sees {t1}=1; t2 sees {t1,t2}=2; t3 window (2501,6500] still
    # overlaps t1's span (..3000] -> 3; t4 window (3001,7000] drops t1 -> 3
    out = {r["depth"]: r["n_turns"]
           for r in TX.context_depth(routed, budget=4000).collect()}
    assert out == {1: 1, 2: 1, 3: 2}


def _emb_labeled(spark, mat, labels):
    return spark.createDataFrame(
        [(i, [float(x) for x in row], int(l))
         for i, (row, l) in enumerate(zip(mat, labels))],
        "vec_id long, embedding array<float>, label int")


def test_silhouette_separable_clusters_near_1000(spark):
    # three tight, far-apart clusters labeled correctly -> sil ~ 1000
    mat, labels = [], []
    for li, center in enumerate([0.0, 5.0, -5.0]):
        for j in range(8):
            v = np.zeros(4)
            v[0] = center + 0.001 * j
            v[1] = 0.001 * li
            mat.append(v)
            labels.append(li)
    out = S.silhouette_labels(_emb_labeled(spark, mat, labels)).collect()
    assert len(out) == 3
    for r in out:
        assert r["mean_sil_permille"] >= 990 and r["n_negative"] == 0


def test_silhouette_mixed_partition_scores_near_zero(spark):
    # silhouette is invariant to renaming whole clusters — incoherence
    # requires the PARTITION to mix clusters: split every cluster
    # half/half between the two labels, so both centroids collapse to
    # the midpoint and separation vanishes
    mat, labels = [], []
    for li, center in enumerate([0.0, 10.0]):
        for j in range(8):
            v = np.zeros(4)
            v[0] = center + 0.001 * j
            mat.append(v)
            labels.append(j % 2)
    out = S.silhouette_labels(_emb_labeled(spark, mat, labels)).collect()
    for r in out:
        assert r["mean_sil_permille"] < 100  # vs >= 990 when coherent


def test_tx_sft_examples_prompt_accounting_and_clean_filter(spark):
    from log_collector_spark.operators import tx_stats as TX
    rows = [
        ("c1", 1, "user",      '{"tokens":10}', True),
        ("c1", 2, "assistant", '{"tokens":20}', True),
        ("c1", 3, "tool",      '{"tokens":5}',  True),
        ("c1", 4, "user",      'corrupt#x',     False),  # dropped by _clean
        ("c1", 5, "assistant", '{"tokens":80}', True),
    ]
    routed = (spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, "
              "payload string, parse_ok boolean")
        .withColumn("is_blank", F.lit(False))
        .withColumn("is_oversize", F.lit(False)))
    out = {r["turn_idx"]: r for r in
           TX.sft_examples(routed, budget=100).collect()}
    assert set(out) == {2, 5}
    assert (out[2]["prompt_turns"], out[2]["prompt_tokens"],
            out[2]["completion_tokens"], out[2]["fits_budget"]) \
        == (1, 10, 20, True)
    # the corrupt turn 4 counts in NEITHER the prompt nor the examples
    assert (out[5]["prompt_turns"], out[5]["prompt_tokens"],
            out[5]["completion_tokens"], out[5]["fits_budget"]) \
        == (3, 35, 80, False)


def test_dup_ngram_coverage_random_corpus_property(spark):
    # seeded adversarial corpus: tiny vocab (forced collisions), doc
    # lengths straddling k, within-doc repeats — Spark must equal the
    # brute-force interval union on every doc
    import random
    rng = random.Random(11)
    vocab = ["a", "b", "c", "d"]
    texts = [" ".join(rng.choice(vocab)
                      for _ in range(rng.randint(0, 9)))
             for _ in range(120)]
    k = 3
    occ, toks = {}, {}
    for did, text in enumerate(texts):
        t = text.split()
        toks[did] = t
        for i in range(max(0, len(t) - k + 1)):
            occ[tuple(t[i:i + k])] = occ.get(tuple(t[i:i + k]), 0) + 1
    expect = {}
    for did, t in toks.items():
        covered = set()
        for i in range(max(0, len(t) - k + 1)):
            if occ[tuple(t[i:i + k])] >= 2:
                covered.update(range(i, i + k))
        expect[did] = (len(t), len(covered))
    got = {r["doc_id"]: (r["n_tokens"], r["dup_tokens"])
           for r in D.dup_ngram_coverage(_docs(spark, texts), k=k).collect()}
    assert got == expect
