"""Driver-style Spark-vs-DuckDB equality for every textops query.

Mirrors the correctness gate: run queries()[name] and oracle_sql()[name] on
the same parquet tables, sort columns by name and rows by value, compare
exactly (None-safe).
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

ORACLE_CHECKED = [
    "json_flatten_events",
    "csv_parse_lineitem",
    "multiline_assemble_events",
    "delta_minute_metrics",
    "quality_score_documents",
    "lang_id_documents",
    "lang_id_confusion",
    "fingerprint_documents",
    "exact_dedup_documents",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "embedding_neardup",
    "ann_topk_brute",
    "ann_recall_embeddings",
    "minhash_estimate_error",
    "ivf_balance_embeddings",
    "tokenizer_fertility",
    "packing_efficiency",
    "bigram_surprisal_documents",
    "mean_shift_hours_events",
    "twa_value_events",
    "inverted_index_stats",
    "neardup_degree_histogram",
    "pagerank_step_documents",
    "activity_gini_events",
    "hll_user_rollup_events",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "ann_topk_rrf",
    "ann_topk_ivfadc",
    "ivfadc_recall",
    "ivf_nprobe_curve",
    "ngram_jaccard_maxdf",
    "multimodal_features",
    "decode_wav_documents",
    "decode_ppm_documents",
    "ahash_neardup_documents",
    "t_closeness_events",
    "pii_redact_events",
    "replayed_sequences_events",
    "matryoshka_recall",
    "ivm_merge_events",
    "token_topk_documents",
    "sessionize_events",
    "scan_prune_recent",
    "split_documents",
    "domain_cap_documents",
    "decontaminate_documents",
    "repetition_documents",
    "vocab_stats_documents",
    "pii_scan_events",
    "boilerplate_documents",
    "kmv_distinct_documents",
    "top_terms_documents",
    "tpch_pricing_summary",
    "tpch_shipping_priority",
    "tpch_local_supplier_volume",
    "knn_label_consistency",
    "chunk_documents",
    "pack_documents",
    "schema_profile_events",
    "hist_percentile_latency",
    "percentile_latency",
    "wav_energy_documents",
    "token_rarity_documents",
    "locf_backfill_events",
    "normalize_documents",
    "cooccur_topk_documents",
    "cms_heavy_hitters",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return v
    return v


def _rows(cols, data):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in data]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_textops_oracle(name, spark, duck):
    import __spark_entry__ as E

    q = E.queries()[name]
    sql = E.oracle_sql()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(sql)
    dcols = rel.columns
    drows = rel.fetchall()
    assert sorted(scols) == sorted(dcols), (scols, dcols)
    a, b = _rows(scols, srows), _rows(dcols, drows)
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    assert len(a) > 0, f"{name}: empty result is a vacuous test"
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def _docs_df(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def test_simhash_max_bucket_guard_is_subset(spark):
    """The band-bucket cap only ever DROPS pairs (recall contract): a huge
    cap reproduces the lossless result exactly; a tiny cap yields a subset
    whose every pair still satisfies the exact hamming filter."""
    from log_collector_spark.textops import dedup as D

    docs = _docs_df(spark)
    full = {(r["doc_a"], r["doc_b"]): r["hamming"]
            for r in D.simhash_pairs(docs).collect()}
    assert full, "vacuous: no simhash pairs at this sf"
    same = {(r["doc_a"], r["doc_b"]): r["hamming"]
            for r in D.simhash_pairs(docs, max_bucket=10**6).collect()}
    assert same == full
    capped = {(r["doc_a"], r["doc_b"]): r["hamming"]
              for r in D.simhash_pairs(docs, max_bucket=1).collect()}
    assert set(capped) <= set(full)
    assert all(capped[k] == full[k] for k in capped)
    D.unpersist_shingles()


def test_embedding_guard_subset_and_exact_when_no_overfull(spark):
    from log_collector_spark.textops import dedup as D

    embs = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    full = {(r["vec_a"], r["vec_b"]) for r in
            D.embedding_neardup_unguarded(embs).collect()}
    # cap larger than the corpus → no bucket overfull → identical result
    same = {(r["vec_a"], r["vec_b"]) for r in
            D.embedding_neardup_guarded(embs, max_bucket=10**6).collect()}
    assert same == full
    # aggressive cap → sub-split may only lose pairs, never invent them
    capped = {(r["vec_a"], r["vec_b"]) for r in
              D.embedding_neardup_guarded(embs, max_bucket=1).collect()}
    assert capped <= full


def test_shingle_cache_released_after_dedup(spark):
    """Round-2 ADVICE: doc_shingles persists; unpersist_shingles must release
    every tracked entry so long sessions don't accumulate cache."""
    from log_collector_spark.textops import dedup as D

    D.unpersist_shingles()  # start clean
    docs = _docs_df(spark)
    D.ngram_jaccard_pairs(docs).collect()
    D.minhash_lsh_pairs(docs).collect()
    assert len(D._PERSISTED_SHINGLES) >= 1
    tracked = list(D._PERSISTED_SHINGLES)
    n = D.unpersist_shingles()
    assert n == len(tracked) and not D._PERSISTED_SHINGLES
    for f in tracked:
        assert not f.storageLevel.useMemory and not f.storageLevel.useDisk


def test_dedup_clusters_connected_components(spark):
    """dedup_clusters: transitive closure over pairs, min-id canonical, keep
    flag — verified on a hand-built graph with a chain (A~B, B~C) the pair
    list alone cannot deduplicate."""
    from log_collector_spark.textops import dedup as D
    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (2, 3), (7, 8)],
        "doc_a int, doc_b int")
    out = {r["doc_id"]: (r["cluster"], r["keep"])
           for r in D.dedup_clusters(None, pairs=pairs).collect()}
    assert out == {1: (1, True), 5: (1, False), 9: (1, False),
                   2: (2, True), 3: (2, False),
                   7: (7, True), 8: (7, False)}

    # a 40-node chain (diameter 39) is one component labelled 0
    chain = spark.createDataFrame([(i, i + 1) for i in range(39)],
                                  "doc_a long, doc_b long")
    out = {r["doc_id"]: (r["cluster"], r["keep"])
           for r in D.dedup_clusters(None, pairs=chain).collect()}
    assert out == {i: (0, i == 0) for i in range(40)}

    # no fixpoint within max_iters is an error, not a partial labelling
    with pytest.raises(RuntimeError, match="no fixpoint"):
        D.dedup_clusters(None, pairs=chain, max_iters=1)


def test_split_assign_stable_and_partitioned(spark):
    """Hash split: labels depend only on (salt, id) — a subset gets identical
    assignments (append-stability), buckets partition into the exact integer
    weight ranges, and bad weights are rejected."""
    from log_collector_spark.textops import analysis as A
    docs = _docs_df(spark)
    full = {r["doc_id"]: (r["split_bucket"], r["split"])
            for r in A.split_assign(docs).collect()}
    some_ids = sorted(full)[: len(full) // 3]
    subset = {r["doc_id"]: (r["split_bucket"], r["split"])
              for r in A.split_assign(
                  docs.filter(docs.doc_id.isin(some_ids))).collect()}
    assert subset == {i: full[i] for i in some_ids}
    for b, lab in full.values():
        assert 0 <= b < 100
        assert lab == ("train" if b < 80 else "val" if b < 90 else "test")
    assert {lab for _, lab in full.values()} == {"train", "val", "test"}
    with pytest.raises(ValueError):
        A.split_assign(docs, weights=(90, 5, 4))


def test_domain_cap_downward_stable(spark):
    """domain_cap: per-source survivors are the cap-smallest salted hashes;
    removing docs never changes the relative order of the remaining ones
    (downward stability), and every source keeps exactly min(cap, n)."""
    from log_collector_spark.textops import analysis as A
    docs = _docs_df(spark)
    full = A.domain_cap(docs, cap=3).collect()
    per_src: dict[str, list] = {}
    for r in sorted(full, key=lambda r: (r["source"], r["rk"])):
        per_src.setdefault(r["source"], []).append(r)
    for src, rows in per_src.items():
        assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
        assert all(r["kept"] == (r["rk"] <= 3) for r in rows)
    # drop the rank-1 doc of one source: ranks 2.. shift down by one,
    # order unchanged
    src, rows = next(iter(per_src.items()))
    shrunk = A.domain_cap(
        docs.filter(~((docs.source == src)
                      & (docs.doc_id == rows[0]["doc_id"]))), cap=3)
    kept2 = [r["doc_id"] for r in shrunk.collect()
             if r["source"] == src]
    assert sorted(kept2) == sorted(r["doc_id"] for r in rows[1:])


def test_decontaminate_flags_planted_overlap(spark):
    """decontaminate: a train doc sharing an 8-gram with an eval doc is
    flagged with the exact distinct-shingle hit count; disjoint docs are
    kept with 0 hits; short docs (< k tokens) never match."""
    from log_collector_spark.textops import dedup as D
    eval_df = spark.createDataFrame(
        [(100, "a b c d e f g h i j")], "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "x a b c d e f g h i y"),   # contains 2 eval 8-grams
         (2, "q w e r t y u i o p"),     # disjoint
         (3, "a b c")],                  # < 8 tokens
        "doc_id long, text string")
    out = {r["doc_id"]: (r["n_contam_shingles"], r["contaminated"])
           for r in D.decontaminate(train, eval_df).collect()}
    assert out == {1: (2, True), 2: (0, False), 3: (0, False)}


def test_repetition_signals_planted(spark):
    """repetition: 'a b a b a' has 4 bigrams {a b:2, b a:2} -> dup 500
    permille, top 500; an all-distinct doc scores 0; sub-2-token doc is a
    zero row."""
    from log_collector_spark.textops import analysis as A
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "p q r s"), (3, "x")],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in A.repetition_signals(df).collect()}
    assert out[1]["total_bigrams"] == 4
    assert out[1]["dup_bigram_permille"] == 500
    assert out[1]["top_bigram_permille"] == 500
    assert out[2]["dup_bigram_permille"] == 0
    assert out[2]["top_bigram_permille"] == 333  # 1 of 3, floored
    assert out[3] == {"doc_id": 3, "n_tokens": 1, "total_bigrams": 0,
                      "dup_bigram_permille": 0, "top_bigram_permille": 0}


def test_boilerplate_segments_planted(spark):
    """boilerplate: a 3-word segment shared by 3 docs is flagged in each;
    dup occurrences inside one doc all count; unique segments don't."""
    from log_collector_spark.textops import dedup as D
    df = spark.createDataFrame(
        [(1, "the end page one two three"),        # segs: [the end page][one two three]
         (2, "the end page four five six"),
         (3, "the end page the end page"),          # hot seg twice
         (4, "seven eight nine ten eleven twelve")],
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict()
           for r in D.boilerplate_segments(df, k=3, min_df=3).collect()}
    D.unpersist_shingles()
    assert out[1] == {"doc_id": 1, "n_segments": 2, "n_boiler": 1,
                      "boiler_permille": 500, "boilerplate": True}
    assert out[3]["n_boiler"] == 2 and out[3]["boiler_permille"] == 1000
    assert out[4]["n_boiler"] == 0 and out[4]["boilerplate"] is False


def test_vocab_stats_planted(spark):
    from log_collector_spark.textops import analysis as A
    df = spark.createDataFrame(
        [(1, "a b a", "s1"), (2, "a c", "s1"), (3, "z z z z", "s2")],
        "doc_id long, text string, source string")
    out = {r["source"]: r.asDict() for r in A.vocab_stats(df).collect()}
    assert out["s1"] == {"source": "s1", "n_docs": 2, "total_tokens": 5,
                         "distinct_tokens": 3, "ttr_permille": 600}
    assert out["s2"]["distinct_tokens"] == 1
    assert out["s2"]["ttr_permille"] == 250


def test_pii_scan_planted(spark):
    """pii: email/ipv4/digit-run classes counted per group; ipv4 also
    matches the digit-run class (classes are independent scans)."""
    from log_collector_spark.textops import analysis as A
    df = spark.createDataFrame(
        [(1, "g1", "contact a@b.com and c.d@e.org now"),
         (2, "g1", "host 10.0.0.1 port 8080"),
         (3, "g2", "nothing here")],
        "event_id long, event_type string, props string")
    out = {r["event_type"]: r.asDict() for r in A.pii_scan(df).collect()}
    g1 = out["g1"]
    assert g1["email_matches"] == 2 and g1["email_rows"] == 1
    assert g1["ipv4_matches"] == 1 and g1["ipv4_rows"] == 1
    assert g1["digit_run_matches"] == 2 and g1["digit_run_rows"] == 1
    assert out["g2"]["email_matches"] == 0 and out["g2"]["n_rows"] == 1


def test_kmv_distinct_planted(spark):
    """kmv: a group with fewer than k distinct tokens falls back to the
    exact count (err 0); with k=4 the estimate is floor(3*2^60 / h_4) of
    the python-side md5-prefix hashes."""
    import hashlib
    from log_collector_spark.textops import analysis as A

    toks = [f"tok{i}" for i in range(12)]
    df = spark.createDataFrame(
        [(1, " ".join(toks), "big"), (2, "a b c", "small")],
        "doc_id long, text string, source string")
    out = {r["source"]: r.asDict() for r in A.kmv_distinct(df, k=4).collect()}
    assert out["small"] == {"source": "small", "n_exact": 3, "h_k": 0,
                            "n_est": 3, "err_permille": 0}
    hs = sorted(int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                for t in toks)
    import math
    expected = math.floor(float(3 * (1 << 60)) / float(hs[3]))
    assert out["big"]["n_exact"] == 12
    assert out["big"]["h_k"] == hs[3]
    assert out["big"]["n_est"] == expected


def test_top_terms_planted(spark):
    """top_terms: counts rank desc, ties break lexicographically, k cuts."""
    from log_collector_spark.textops import analysis as A
    df = spark.createDataFrame(
        [(1, "b b a a c", "s1"), (2, "d", "s1"), (3, "z", "s2")],
        "doc_id long, text string, source string")
    out = [(r["token"], r["n"], r["rank"])
           for r in A.top_terms_per_source(df, k=3).collect()
           if r["source"] == "s1"]
    assert sorted(out, key=lambda t: t[2]) == [("a", 2, 1), ("b", 2, 2),
                                               ("c", 1, 3)]


def test_knn_label_consistency_planted(spark):
    """knn: two tight clusters; the one mislabeled vector in cluster A gets
    majority label from its 3 true neighbors (mismatch), clean vectors in
    both clusters agree with their neighborhoods."""
    from log_collector_spark.textops import similarity as S
    rows = [(1, [10.0, 0.0], 1), (2, [11.0, 0.0], 1), (3, [12.0, 0.0], 1),
            (4, [13.0, 0.0], 2),                       # planted mislabel
            (5, [0.0, 10.0], 2), (6, [0.0, 11.0], 2),
            (7, [0.0, 12.0], 2), (8, [0.0, 13.0], 2)]
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r.asDict()
           for r in S.knn_label_consistency(df, k=3).collect()}
    assert out[4] == {"vec_id": 4, "label": 2, "majority_label": 1,
                      "n_majority": 3, "mismatch": True}
    assert out[1]["majority_label"] == 1 and out[1]["mismatch"] is False
    assert out[1]["n_majority"] == 2  # v2, v3 agree; v4 votes its bad label
    assert out[5] == {"vec_id": 5, "label": 2, "majority_label": 2,
                      "n_majority": 3, "mismatch": False}


def test_chunk_documents_planted(spark):
    """chunking: full coverage with stride overlap, clamped tail, 1 chunk
    for short docs, 0 chunks for empty text."""
    from log_collector_spark.textops import chunking as K

    texts = {1: " ".join(f"t{i}" for i in range(150)),  # 150 toks: 3 chunks
             2: "one",                                   # 1 chunk of 1
             3: " ".join(f"t{i}" for i in range(64)),    # exactly w: 1 chunk
             4: "",                                      # no chunks
             5: " ".join(f"t{i}" for i in range(65))}    # w+1: 2 chunks
    df = spark.createDataFrame([(k, v) for k, v in texts.items()],
                               "doc_id long, text string")
    out = {}
    for r in K.chunk_documents(df).collect():
        out.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["n_chunk_tokens"]))
    for v in out.values():
        v.sort()
    assert out[1] == [(0, 64), (1, 64), (2, 54)]  # 2*48+54 = 150 covered
    assert out[2] == [(0, 1)]
    assert out[3] == [(0, 64)]
    assert 4 not in out
    assert out[5] == [(0, 64), (1, 17)]  # tail starts at tok 49, covers 65
    # overlap law: chunk i spans [i*stride, i*stride + size); union = all
    for doc, chunks in out.items():
        n = len(texts[doc].split())
        covered = max(i * K.CHUNK_STRIDE + sz for i, sz in chunks)
        assert covered == n, (doc, covered, n)


def test_pack_sequences_planted(spark):
    """packing: within each (group, shard) stream, docs are laid contiguously
    (cum_before accounting), packs cut exactly at the budget, long docs
    straddle the right number of packs."""
    from pyspark.sql import functions as F
    from log_collector_spark.textops import chunking as K

    df = spark.createDataFrame(
        [(i, "w " * (200 + 7 * i), "s") for i in range(40)],
        "doc_id long, text string, source string")
    rows = sorted((r.asDict() for r in K.pack_sequences(df).collect()),
                  key=lambda r: (r["shard"], r["cum_before"]))
    assert len(rows) == 40 and all(r["pack_span"] >= 1 for r in rows)
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(by_shard) > 1  # salt actually spreads the stream
    for shard, rs in by_shard.items():
        cum = 0
        for r in rs:  # contiguous head-to-tail layout per shard
            assert r["cum_before"] == cum
            assert r["pack_first"] == cum // K.PACK_BUDGET
            end = cum + max(r["n_tokens"], 1) - 1
            assert r["pack_last"] == end // K.PACK_BUDGET
            assert r["pack_span"] == r["pack_last"] - r["pack_first"] + 1
            cum += r["n_tokens"]


def test_json_schema_profile_planted(spark):
    """schema profile: invalid payloads count toward n_rows but emit no
    keys; permille is keys-per-group-rows."""
    from log_collector_spark.operators.aggregate import json_schema_profile

    df = spark.createDataFrame(
        [("A", '{"a":1,"b":2}'), ("A", '{"a":1}'), ("A", "junk"),
         ("B", "[1,2]"), ("B", '{"x":true}')],
        "event_type string, props string")
    out = {(r["event_type"], r["key"]):
           (r["n"], r["n_rows"], r["permille"])
           for r in json_schema_profile(df).collect()}
    assert out == {("A", "a"): (2, 3, 666), ("A", "b"): (1, 3, 333),
                   ("B", "x"): (1, 2, 500)}


def test_token_rarity_planted(spark):
    """rarity: corpus-wide counts decide rareness (a token frequent in one
    doc but nowhere else is still rare only if total <= rare_max); empty
    docs survive with zeros."""
    from log_collector_spark.textops import analysis as A

    df = spark.createDataFrame(
        [(1, "common common zzq"),   # zzq appears once corpus-wide
         (2, "common xylo xylo"),    # xylo: 2 <= rare_max → rare
         (3, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["n_tokens"], r["n_rare"], r["rare_permille"])
           for r in A.token_rarity(df).collect()}
    # 'common' occurs 3x corpus-wide → not rare
    assert out[1] == (3, 1, 333)
    assert out[2] == (3, 2, 666)
    assert out[3] == (0, 0, 0)

def test_cms_never_undercounts(spark):
    """Count-min estimates are >= exact counts for every probed token."""
    from log_collector_spark.textops import analysis as A

    rows = A.cms_heavy_hitters(_docs_df(spark)).collect()
    assert rows
    assert all(r["est"] >= r["n"] and r["overcount"] == r["est"] - r["n"]
               for r in rows)


def test_locf_semantics_tiny(spark):
    """LOCF: nulls take the latest prior non-null of the same group; rows
    before the first observation stay null; groups are independent."""
    from pyspark.sql import functions as F

    from log_collector_spark.operators import aggregate as agg

    df = spark.createDataFrame(
        [("a", 1, None), ("a", 2, 10), ("a", 3, None), ("a", 4, None),
         ("a", 5, 20), ("b", 1, None), ("b", 2, 7)],
        "g string, i int, v int")
    out = {(r["g"], r["i"]): r["filled_v"]
           for r in agg.locf_backfill(df, "g", ["i"], F.col("v")).collect()}
    assert out == {("a", 1): None, ("a", 2): 10, ("a", 3): 10,
                   ("a", 4): 10, ("a", 5): 20, ("b", 1): None, ("b", 2): 7}


def test_line_dedup_first_occurrence(spark):
    """line_dedup: a repeated 3-word segment survives only at its min
    (doc_id, pos) occurrence; later copies (across AND within docs) drop;
    sub-k docs report 0/0."""
    from log_collector_spark.textops import dedup as D
    df = spark.createDataFrame(
        [(1, "a b c d e f"),        # [a b c][d e f] both canonical
         (2, "a b c x y z"),        # [a b c] dup -> keeps only [x y z]
         (3, "d e f d e f"),        # both copies lose to doc 1 pos 1
         (4, "hi")],                # < 3 tokens -> no segments
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in D.line_dedup(df, k=3).collect()}
    assert out[1] == {"doc_id": 1, "n_segments": 2, "n_kept": 2,
                      "kept_permille": 1000}
    assert out[2] == {"doc_id": 2, "n_segments": 2, "n_kept": 1,
                      "kept_permille": 500}
    assert out[3] == {"doc_id": 3, "n_segments": 2, "n_kept": 0,
                      "kept_permille": 0}
    assert out[4] == {"doc_id": 4, "n_segments": 0, "n_kept": 0,
                      "kept_permille": 0}


def test_normalized_dedup_groups_punct_variants(spark):
    """normalized_dedup: re-punctuated/re-spaced/case variants collapse to
    one group whose min doc_id is canonical; distinct text stands alone."""
    from log_collector_spark.textops import dedup as D
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello world"), (3, "HELLO-WORLD"),
         (4, "different text")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["group_n"], r["canonical"])
           for r in D.normalized_dedup(df).collect()}
    assert out == {1: (3, True), 2: (3, False), 3: (3, False), 4: (1, True)}


def test_contamination_score_planted(spark):
    """contamination_score: overlap permille = distinct shared 8-grams /
    distinct train 8-grams; disjoint and sub-k docs score 0."""
    from log_collector_spark.textops import dedup as D
    eval_df = spark.createDataFrame(
        [(100, "a b c d e f g h i j")], "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "x a b c d e f g h i y"),   # 4 shingles, 2 in eval
         (2, "q w e r t y u i o p z"),   # 4 shingles, 0 in eval
         (3, "a b c")],                  # < 8 tokens
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict()
           for r in D.contamination_score(train, eval_df).collect()}
    assert out[1] == {"doc_id": 1, "n_shingles": 4, "n_overlap": 2,
                      "overlap_permille": 500}
    assert out[2]["n_overlap"] == 0 and out[2]["overlap_permille"] == 0
    assert out[3] == {"doc_id": 3, "n_shingles": 0, "n_overlap": 0,
                      "overlap_permille": 0}


def test_pq_codes_match_reference_encoder(spark):
    """pq_codes: the Catalyst encoder agrees with a straight-line Python
    reimplementation (argmin with lowest-centroid tie-break, nibble
    packing, residual SSE) on planted vectors."""
    from log_collector_spark.textops import similarity as S
    from log_collector_spark.textops.common import EMB_SCALE

    vecs = [
        (1, [0.1] * 64),
        (2, [((d * 37) % 100 - 50) / 100.0 for d in range(64)]),
        (3, [0.1] * 64),  # identical to vec 1 -> identical code
    ]

    def encode(v):
        q = [round(x * EMB_SCALE) for x in v]
        code = err = 0
        for m in range(S.PQ_M):
            sub = q[m * S.PQ_DSUB:(m + 1) * S.PQ_DSUB]
            best = min(
                (sum((a - b) ** 2 for a, b in zip(sub, cent)) * S.PQ_KS + c)
                for c, cent in enumerate(S.PQ_CODEBOOKS[m]))
            code += (best % S.PQ_KS) * (S.PQ_KS ** m)
            err += best // S.PQ_KS
        return code, err

    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: (r["pq_code"], r["err_q"])
           for r in S.pq_codes(df).collect()}
    for vid, v in vecs:
        assert out[vid] == encode(v), f"vec {vid}"
    assert out[1] == out[3]


def test_mixture_weights_budget_semantics(spark):
    """mixture_weights: rates follow T_s = T*w/Σw with a 1000 clamp, and
    shares/rates reproduce the integer formula computed directly."""
    import hashlib
    from log_collector_spark.textops import analysis as A

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rows = [(i, "tok " * (i + 1), src)
            for i, src in enumerate(["alpha"] * 3 + ["beta"] * 2)]
    df = spark.createDataFrame(
        [(i, t.strip(), s) for i, t, s in rows],
        "doc_id long, text string, source string")
    toks = {"alpha": 1 + 2 + 3, "beta": 4 + 5}
    w = {s: h60(s) % 100 + 1 for s in toks}
    t_total, w_total = sum(toks.values()), sum(w.values())
    out = {r["source"]: r.asDict()
           for r in A.mixture_weights(df).collect()}
    for s in toks:
        exp_rate = min(1000, (t_total * w[s] // w_total) * 1000 // toks[s])
        assert out[s]["n_tokens"] == toks[s]
        assert out[s]["weight"] == w[s]
        assert out[s]["share_permille"] == toks[s] * 1000 // t_total
        assert out[s]["rate_permille"] == exp_rate


def test_kmeans_step_planted(spark):
    """kmeans_step: two identical vectors land in one cell; sums double,
    the floored mean recovers the vector, drift matches the codebook."""
    from log_collector_spark.textops import similarity as S
    from log_collector_spark.textops.common import EMB_SCALE

    v = [0.2] * 64
    q = [round(x * EMB_SCALE) for x in v]
    dists = [(S._IVF_C2[c] - 2 * sum(a * b for a, b in zip(q, cent)), c)
             for c, cent in enumerate(S.IVF_CENTROIDS)]
    cell = min(dists)[1]
    df = spark.createDataFrame([(1, v), (2, v)],
                               "vec_id long, embedding array<float>")
    rows = S.kmeans_step(df).collect()
    assert len(rows) == 64
    for r in rows:
        assert r["cell"] == cell and r["n"] == 2
        assert r["sum_q"] == 2 * q[r["dim"]]
        assert r["new_c"] == q[r["dim"]]
        assert r["drift"] == abs(q[r["dim"]] - S.IVF_CENTROIDS[cell][r["dim"]])


def test_bpe_pair_counts_planted(spark):
    """bpe_pair_counts: within-token adjacent char pairs, single-char
    tokens contribute nothing, ties order by pair."""
    from log_collector_spark.textops import analysis as A
    df = spark.createDataFrame(
        [(1, "aaab ab"), (2, "z AB")], "doc_id long, text string")
    out = [(r["pair"], r["n"]) for r in A.bpe_pair_counts(df).collect()]
    # aaab -> aa,aa,ab ; ab -> ab ; AB lowercased -> ab ; z -> nothing
    assert out == [("ab", 3), ("aa", 2)]


def test_hll_distinct_matches_reference_sketch(spark):
    """hll_distinct: the Spark register pipeline reproduces a straight-line
    Python HLL (same hash, fixed-point harmonic mean, LC table) and the
    exact counts are right."""
    import hashlib
    from log_collector_spark.textops import analysis as A

    docs = [(1, "alpha beta gamma delta", "s1"),
            (2, "alpha beta epsilon", "s1"),
            (3, "zeta eta", "s2")]

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def ref_est(tokens):
        regs = {}
        for t in set(tokens):
            h = h60(t)
            idx, w = h % A.HLL_M, h >> A.HLL_P
            rho = A._HLL_RMAX - w.bit_length() if w > 0 else A._HLL_RMAX
            regs[idx] = max(regs.get(idx, 0), rho)
        v = A.HLL_M - len(regs)
        s = sum(1 << (A._HLL_SCALE_BITS - min(m, A._HLL_SCALE_BITS))
                for m in regs.values()) + v * (1 << A._HLL_SCALE_BITS)
        raw = A._HLL_A // s
        if raw < A._HLL_LC_THRESH and v > 0:
            return A._HLL_LC[v - 1], v
        return raw, v

    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    out = {r["source"]: r.asDict() for r in A.hll_distinct(df).collect()}
    exp_s1, v_s1 = ref_est("alpha beta gamma delta epsilon".split())
    exp_s2, v_s2 = ref_est("zeta eta".split())
    assert out["s1"]["n_exact"] == 5 and out["s2"]["n_exact"] == 2
    assert out["s1"]["n_est"] == exp_s1 and out["s1"]["v_zero"] == v_s1
    assert out["s2"]["n_est"] == exp_s2 and out["s2"]["v_zero"] == v_s2


def test_novelty_score_first_introduction_wins(spark):
    """novelty: doc 1 introduces all its shingles; a verbatim later copy
    introduces none; a half-new doc scores the exact permille; short docs
    report 0/0."""
    from log_collector_spark.textops import dedup as D
    df = spark.createDataFrame(
        [(1, "a b c d"),        # shingles {a b c, b c d} both novel
         (2, "a b c d"),        # same shingles -> nothing novel
         (3, "b c d e"),        # {b c d (seen), c d e (new)} -> 500
         (4, "x y")],           # < 3 tokens
        "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in D.novelty_score(df).collect()}
    D.unpersist_shingles()
    assert out[1] == {"doc_id": 1, "n_shingles": 2, "n_novel": 2,
                      "novelty_permille": 1000}
    assert out[2]["n_novel"] == 0 and out[2]["novelty_permille"] == 0
    assert out[3] == {"doc_id": 3, "n_shingles": 2, "n_novel": 1,
                      "novelty_permille": 500}
    assert out[4] == {"doc_id": 4, "n_shingles": 0, "n_novel": 0,
                      "novelty_permille": 0}


def test_centroid_outliers_geometry(spark):
    """centroid_outliers: a vector sitting ON its centroid has dist2 = 0
    and is inlier; the zero vector is farther from every centroid than
    from the origin -> outlier, assigned to the min-norm centroid."""
    from log_collector_spark.textops import similarity as S
    cid = 3
    v_on = [c / 1000.0 for c in S.IVF_CENTROIDS[cid]]
    df = spark.createDataFrame(
        [(1, v_on), (2, [0.0] * 64)], "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r.asDict()
           for r in S.centroid_outliers(df).collect()}
    assert out[1]["cell"] == cid and out[1]["dist2"] == 0
    assert out[1]["rel"] == -S._IVF_C2[cid] and out[1]["outlier"] is False
    best = min((c2, i) for i, c2 in enumerate(S._IVF_C2))
    assert out[2]["cell"] == best[1] and out[2]["dist2"] == best[0]
    assert out[2]["outlier"] is True


def test_length_histogram_buckets(spark):
    """length_histogram: bucket = floor(log2(ntok)) + 1, empties in
    bucket 0, counts and token sums add up."""
    from log_collector_spark.textops import analysis as A
    df = spark.createDataFrame(
        [(1, "a", "s"), (2, "a b", "s"), (3, "a b c", "s"),
         (4, "a b c d", "s"), (5, "", "s")],
        "doc_id long, text string, source string")
    out = {r["bucket"]: (r["n_docs"], r["sum_tokens"])
           for r in A.length_histogram(df).collect()}
    # ntok 1 -> bucket 1; 2,3 -> bucket 2; 4 -> bucket 3; 0 -> bucket 0
    assert out == {0: (1, 0), 1: (1, 1), 2: (2, 5), 3: (1, 4)}


def test_corpus_yield_sequential_funnel(spark):
    """corpus_yield: stages apply in order — a non-canonical dup passes
    quality but falls at dedup; a contaminated doc falls only at the last
    stage; counts are monotone non-increasing."""
    from log_collector_spark.textops import dedup as D
    good = ("this is a perfectly reasonable document with plenty of "
            "ordinary words inside it")
    rows = [(50, "s", "shared eight gram run of words here now"),
            (1, "s", good),          # clean survivor
            (2, "s", good),          # exact dup of 1 -> falls at dedup
            (3, "s", "x!!"),         # fails quality
            # shares an 8-gram with eval doc 50 -> falls at decontam
            (4, "s", good + " shared eight gram run of words here now")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r.asDict()
           for r in D.corpus_yield(df, eval_mod=50).collect()}
    r = out["s"]
    assert r["n_input"] == 4
    assert r["n_quality"] == 3          # doc 3 out
    assert r["n_dedup"] == 2            # doc 2 out (doc 1 canonical)
    assert r["n_clean"] == 1            # doc 4 out (contaminated)


def test_wav_codec_kernel():
    """Pure-Python WAV codec: encode→decode round-trip equals the synth
    arithmetic; the generic parser also handles shapes the encoder never
    emits (8-bit, stereo, odd-sized word-aligned extra chunks)."""
    import struct

    from log_collector_spark.textops import multimodal as M

    for mid in (0, 7, 123, 999):
        f = M.decode_wav(M.encode_wav(mid))
        samples = M._synth_samples(mid)
        assert f["n_samples"] == len(samples)
        assert f["sample_sum"] == sum(samples)
        assert f["sample_min"] == min(samples)
        assert f["sample_max"] == max(samples)
        assert (f["n_channels"], f["sample_rate"], f["bits"]) == (1, 8000, 16)

    # 8-bit stereo with a LIST chunk of odd size before data (word-aligned)
    fmt = struct.pack("<IHHIIHH", 16, 1, 2, 11025, 11025 * 2, 2, 8)
    data = bytes([128, 130, 126, 128])  # 2 frames x 2 channels, unsigned
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    body = b"WAVE" + b"fmt " + fmt + extra + b"data" + struct.pack("<I", 4) + data
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    f = M.decode_wav(wav)
    assert (f["n_channels"], f["bits"], f["n_samples"]) == (2, 8, 2)
    assert f["sample_sum"] == 0 + 2 - 2 + 0

    import pytest
    with pytest.raises(ValueError):
        M.decode_wav(b"RIFX" + b"\x00" * 20)
    with pytest.raises(ValueError):  # float PCM (format 3)
        bad_fmt = struct.pack("<IHHIIHH", 16, 3, 1, 8000, 32000, 4, 32)
        M.decode_wav(b"RIFF" + struct.pack("<I", 28) + b"WAVE"
                     + b"fmt " + bad_fmt)


def test_ppm_codec_kernel():
    """Pure-Python PPM codec: round-trip equals synth arithmetic; the header
    tokenizer handles comments and arbitrary whitespace; truncation raises."""
    import pytest

    from log_collector_spark.textops import multimodal as M

    for mid in (0, 5, 47, 500):
        f = M.decode_ppm(M.encode_ppm(mid))
        w, h = mid % 16 + 1, mid % 12 + 1
        px = [((mid + i) * 37) % 256 for i in range(w * h * 3)]
        assert (f["width"], f["height"], f["maxval"]) == (w, h, 255)
        assert f["pixel_sum"] == sum(px)
        assert f["pixel_min"] == min(px)
        assert f["pixel_max"] == max(px)

    # comments + multi-whitespace header (netpbm spec)
    img = b"P6 # cmt\n 2\t1 # another\n 255\n" + bytes(range(6))
    f = M.decode_ppm(img)
    assert (f["width"], f["height"], f["pixel_sum"]) == (2, 1, 15)
    with pytest.raises(ValueError):
        M.decode_ppm(b"P5\n1 1\n255\n\x00")
    with pytest.raises(ValueError):
        M.decode_ppm(b"P6\n2 2\n255\n\x00\x01")  # truncated pixels


def test_png_codec_kernel():
    """Pure-Python PNG codec (stdlib zlib): round-trip equals synth
    arithmetic across all 5 cycling filters; cross-codec aHash equality
    with PPM; CRC corruption and unsupported shapes raise."""
    import struct
    import zlib

    import pytest

    from log_collector_spark.textops import multimodal as M

    # h >= 5 images exercise every filter type via (mid + y) % 5
    for mid in (0, 5, 47, 500, 999):
        f = M.decode_png(M.encode_png(mid))
        w, h = mid % 16 + 1, mid % 12 + 1
        px = [((mid + i) * 37) % 256 for i in range(w * h * 3)]
        assert (f["width"], f["height"], f["color_type"],
                f["channels"]) == (w, h, 2, 3)
        assert f["pixel_sum"] == sum(px)
        assert f["pixel_min"] == min(px)
        assert f["pixel_max"] == max(px)
        assert (M.ahash_png(M.encode_png(mid))["ahash"]
                == M.ahash_ppm(M.encode_ppm(mid))["ahash"])

    # CRC corruption (one IDAT byte flipped) must raise, not mis-decode
    p = bytearray(M.encode_png(47))
    idat_at = bytes(p).index(b"IDAT") + 6
    p[idat_at] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        M.decode_png(bytes(p))

    with pytest.raises(ValueError, match="signature"):
        M.decode_png(b"\x89PNX" + b"\x00" * 20)

    # a chunk whose declared length runs past the payload (cut mid-IDAT,
    # or a corrupted length) is rejected up front by both entry points
    whole = M.encode_png(47)
    cut = whole[:bytes(whole).index(b"IDAT") + 10]
    bogus = bytearray(whole)
    bogus[8:12] = struct.pack(">I", 1 << 30)   # IHDR claims 1 GiB
    for bad in (cut, bytes(bogus)):
        for fn in (M.decode_png, M.ahash_png):
            with pytest.raises(ValueError, match="truncated chunk"):
                fn(bad)

    # 16-bit depth and palette color are honestly unsupported
    def mk(depth, ctype):
        ihdr = struct.pack(">IIBBBBB", 1, 1, depth, ctype, 0, 0, 0)
        raw = b"\x00" + b"\x00" * (2 if depth == 16 else 1)
        return (M._PNG_SIG + M._png_chunk(b"IHDR", ihdr)
                + M._png_chunk(b"IDAT", zlib.compress(raw))
                + M._png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="unsupported PNG shape"):
        M.decode_png(mk(16, 0))
    with pytest.raises(ValueError, match="color type"):
        M.decode_png(mk(8, 3))


def test_png_unfilter_golden_and_gray_rgba():
    """The unfilter kernel against HAND-COMPUTED filtered bytes (so a
    matched encoder/decoder sign error cannot cancel), plus generic
    grayscale and RGBA decodes the encoder never emits."""
    import struct
    import zlib

    from log_collector_spark.textops import multimodal as M

    # 2x2 RGB: row0 Sub-filtered, row1 Up-filtered (hand-derived)
    row0 = [10, 20, 30, 40, 50, 60]
    row1 = [15, 25, 35, 45, 55, 65]
    dec = (b"\x01" + bytes([10, 20, 30, 30, 30, 30])
           + b"\x02" + bytes([5, 5, 5, 5, 5, 5]))
    assert list(M._unfilter_png(dec, 2, 2, 3)) == row0 + row1

    # 1x3 gray: Average, Paeth, Average (hand-derived, incl. a wrap)
    dec = b"\x03\x64" + b"\x04\x64" + b"\x03\xce"
    assert list(M._unfilter_png(dec, 1, 3, 1)) == [100, 200, 50]

    def mk(w, h, ctype, channels, px, filters):
        stride = w * channels
        raw = bytearray()
        for y in range(h):
            raw.append(filters[y])
            raw += bytes(px[y * stride:(y + 1) * stride])
        assert all(f == 0 for f in filters)  # raw rows are None-filtered
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (M._PNG_SIG + M._png_chunk(b"IHDR", ihdr)
                + M._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
                + M._png_chunk(b"IEND", b""))

    g = M.decode_png(mk(3, 2, 0, 1, [9, 8, 7, 6, 5, 4], [0, 0]))
    assert (g["color_type"], g["channels"], g["pixel_sum"]) == (0, 1, 39)
    a = M.decode_png(mk(1, 2, 6, 4, [1, 2, 3, 4, 5, 6, 7, 8], [0, 0]))
    assert (a["color_type"], a["channels"], a["pixel_sum"]) == (6, 4, 36)

    # decode_image dispatches on magic bytes; lossy formats stay gated
    assert M.decode_image(M.encode_png(3))["color_type"] == 2
    assert M.decode_image(M.encode_ppm(3))["maxval"] == 255
    import pytest
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\xff\xd8\xff\xe0jpeg...")


def test_kcenter_greedy_semantics(spark):
    """Gonzalez farthest-first invariants on the sf0.001 embeddings:
    seed is the smallest vec_id, centers are distinct, the maxmin radius
    curve is non-increasing (greedy never elects a farther point after a
    nearer one existed), and the final coverage radius is <= the last
    elected distance."""
    from log_collector_spark.textops import similarity as S

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = {r["round"]: r for r in S.k_center_select(df).collect()}
    k = S.K_CENTER_K
    assert set(rows) == set(range(k + 1))
    assert rows[0]["center_id"] == df.agg({"vec_id": "min"}).collect()[0][0]
    ids = [rows[r]["center_id"] for r in range(k)]
    assert len(set(ids)) == k
    curve = [rows[r]["sel_d2"] for r in range(1, k)]
    assert all(a >= b for a, b in zip(curve, curve[1:])), curve
    assert rows[k]["center_id"] == -1
    assert rows[k]["sel_d2"] <= curve[-1]


def test_kcenter_never_reelects_a_center_on_coincident_points(spark):
    """Three distinct positions, each held by several vec_ids: after
    three rounds every remaining max-min d² is 0 and the tie-break must
    pick the smallest NOT-yet-chosen vec_id (the oracle's NOT IN), never
    re-elect a chosen one. Spark and the DuckDB oracle agree row for
    row."""
    import pandas as pd

    from log_collector_spark.textops import similarity as S

    k = S.K_CENTER_K
    spots = ([0.0] * 4, [0.5] * 4, [-0.5, 0.5, -0.5, 0.5])
    pdf = pd.DataFrame({"vec_id": range(1, 13),
                        "embedding": [spots[i % 3] for i in range(12)]})
    got = [tuple(r) for r in S.k_center_select(
        spark.createDataFrame(pdf, "vec_id bigint, embedding array<float>"),
        k=k).collect()]
    con = duckdb.connect()
    con.register("emb", pdf)
    want = [tuple(r) for r in con.execute(
        S.sql_k_center_select("emb", k=k)).fetchall()]
    ids = [c for rnd, c, _ in got if rnd < k]
    assert len(set(ids)) == k, ids
    assert [d2 for rnd, _, d2 in got if 3 <= rnd < k] == [0] * (k - 3)
    assert got == want


def test_pagerank_step_fixed_point_semantics(spark):
    """Hand graph: path 1-2-3 (2 is the hub). One damped iteration from a
    uniform start: leaves get 150k + 850*(1e6//2)//1000; the hub gets
    150k + 850*(1e6//1 + 1e6//1)//1000 — the hub outranks the leaves."""
    from log_collector_spark.textops import evalops as EV
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    out = {r["doc_id"]: (r["deg"], r["rank_micro"])
           for r in EV.pagerank_step(None, pairs=pairs).collect()}
    leaf = 150_000 + 850 * (10**6 // 2) // 1000
    hub = 150_000 + 850 * (10**6 + 10**6) // 1000
    assert out == {1: (1, leaf), 3: (1, leaf), 2: (2, hub)}
    assert out[2][1] > out[1][1]


def test_split_leakage_counts_and_flags(spark):
    """Identical vectors form near-dup pairs; the audit must count every
    pair under the (least, greatest) split key with is_leak exactly when
    the two splits differ — cross-checked against split_assign itself."""
    from itertools import combinations

    from log_collector_spark.textops import dedup as D
    from log_collector_spark.textops.analysis import split_assign

    ids = list(range(1, 13))
    vec = [1.0] * 64
    df = spark.createDataFrame(
        [(i, vec) for i in ids], "vec_id long, embedding array<float>")
    got = {(r["split_a"], r["split_b"]): (r["n_pairs"], r["is_leak"])
           for r in D.split_leakage(df).collect()}

    split_of = {r["vec_id"]: r["split"]
                for r in split_assign(df.select("vec_id"),
                                      id_col="vec_id").collect()}
    want = {}
    for a, b in combinations(ids, 2):
        k = tuple(sorted((split_of[a], split_of[b])))
        want[k] = want.get(k, 0) + 1
    assert {k: v[0] for k, v in got.items()} == want
    assert all(v[1] == (k[0] != k[1]) for k, v in got.items())
    assert sum(v[0] for v in got.values()) == len(ids) * (len(ids) - 1) // 2


def test_cluster_split_assign_is_leak_free(spark):
    from pyspark.sql import functions as F

    """The whole point: after cluster-granular splitting, NO near-dup pair
    straddles two splits (recompute member-level splits the same way the
    operator does and join the pair list against them)."""
    from log_collector_spark.plans import pipeline as pl
    from log_collector_spark.textops import common as C
    from log_collector_spark.textops import dedup as D

    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pairs = D.embedding_neardup_guarded(embs)
    cl = D.dedup_clusters(embs, pairs=pairs.select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")))
    lab = (embs.select("vec_id")
           .join(cl.select(F.col("doc_id").alias("vec_id"), "cluster"),
                 "vec_id", "left")
           .withColumn("cluster", F.coalesce("cluster", F.col("vec_id"))))
    from log_collector_spark.textops.analysis import (SPLIT_BUCKETS,
                                                      SPLIT_SALT)
    bucket = C.h60(F.concat(F.lit(SPLIT_SALT),
                            F.col("cluster").cast("string"))) % SPLIT_BUCKETS
    split = (F.when(bucket < 80, "train")
             .when(bucket < 90, "val").otherwise("test"))
    s = lab.withColumn("split", split).select("vec_id", "split")
    leaks = (pairs
             .join(s.withColumnRenamed("vec_id", "vec_a")
                    .withColumnRenamed("split", "sa"), "vec_a")
             .join(s.withColumnRenamed("vec_id", "vec_b")
                    .withColumnRenamed("split", "sb"), "vec_b")
             .filter(F.col("sa") != F.col("sb")))
    assert pairs.count() > 0
    assert leaks.count() == 0
    # and the summary's doc total covers the whole corpus
    total = sum(r["n_docs"]
                for r in D.cluster_split_assign(embs).collect())
    assert total == embs.count()


def test_clustering_coefficient_on_known_graph(spark):
    """Triangle + pendant: K3 {1,2,3} plus edge 3-4. Nodes 1,2 have
    coeff 1000; hub 3 has degree 3 and 1 triangle of 3 possible wedge
    closures -> 333; pendant 4 has degree 1 -> 0."""
    from pyspark.sql import functions as F

    from log_collector_spark.textops import evalops as EV

    # craft docs whose 3-gram sets make exactly the intended pairs is
    # brittle; drive the kernel by monkeypatching the pair source instead
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "doc_a long, doc_b long")
    import log_collector_spark.textops.dedup as D
    orig = D.ngram_jaccard_pairs
    try:
        D.ngram_jaccard_pairs = lambda df, text_col="text": pairs
        out = {r["doc_id"]: (r["degree"], r["triangles"],
                             r["coeff_permille"])
               for r in EV.clustering_coefficient(
                   spark.range(1).withColumn("text", F.lit("x"))).collect()}
    finally:
        D.ngram_jaccard_pairs = orig
    assert out == {1: (2, 1, 1000), 2: (2, 1, 1000),
                   3: (3, 1, 333), 4: (1, 0, 0)}
