"""Pipeline-evaluation operators: measure the quality of the approximate
operators against their exact counterparts, and the efficiency of the
layout/packing stages — the reports a training-data pipeline publishes with
every corpus release.

These are engine extensions (SURVEY §2.12 family): the reference stops at
routing counters (reference/src/main/java/io/sugo/collect/metrics/*); a
100-TB data pipeline additionally needs *evaluation of its own index
structures* — ANN recall, sketch calibration, partition balance, packing
waste — computed distributed, not by sampling to the driver.

All outputs are integer permille / counts on the repo's h60 / quantized
primitives (textops/common.py), so every operator here is a
``queries()`` + ``oracle_sql()`` pair under the driver's typed value-hash.

Scale shapes (100 TB):
- ann_recall joins two top-k frames on (query_id, cand_id) — both are
  |queries|·k rows, tiny relative to the corpus; one shuffle each side.
- minhash_estimate_error reuses the persisted shingle table (dedup's
  single-tokenize invariant) and moves only (doc_id, signature) pairs.
- ivf_balance is one map-side-combined count per cell — #cells rows.
- packing_efficiency aggregates pack_sequences' (group, shard) frame —
  one extra hash agg over columns that already exist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from log_collector_spark.textops import common as C
from log_collector_spark.registry import docs, embs, register

# ---------------------------------------------------------------------------
# ANN recall@k: LSH candidates vs brute-force ground truth
# ---------------------------------------------------------------------------


_PERSISTED_EVAL: list[DataFrame] = []


def _persist_eval(df: DataFrame) -> DataFrame:
    """Persist a shared eval frame (brute-force truth: |queries|·k rows —
    tiny) so the probe-budget curves and multi-path comparisons compute
    the expensive exact scan ONCE instead of once per level/path.
    Tracked like dedup._PERSISTED_SHINGLES; call :func:`unpersist_eval`
    after the consuming action to release the entries."""
    df = df.persist()
    _PERSISTED_EVAL.append(df)
    return df


def unpersist_eval(blocking: bool = False) -> int:
    """Release every truth cache created by :func:`_persist_eval` since
    the last call; returns how many frames were unpersisted."""
    n = len(_PERSISTED_EVAL)
    for f in _PERSISTED_EVAL:
        try:
            f.unpersist(blocking)
        except Exception:
            pass  # session already stopped
    _PERSISTED_EVAL.clear()
    return n


def ann_recall(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-query recall@k of the LSH ANN index against the exact
    brute-force top-k (the evaluation every ANN deployment publishes).

    recall_permille = |lsh_topk ∩ brute_topk| * 1000 / k. Both sides are
    deterministic (integer dot, vec_id tiebreaks), so this is exact, not a
    sampled estimate. The join is on (query_id, cand_id) over two
    |queries|·k-row frames — negligible at any corpus size; the expensive
    parts (the top-ks themselves) are the operators under test."""
    from log_collector_spark.textops import similarity as S

    brute = S.brute_force_topk(df, vec_col).select(
        "query_id", F.col("cand_id").alias("truth_id"))
    lsh = S.lsh_ann_topk(df, vec_col).select(
        "query_id", F.col("cand_id").alias("lsh_id"))
    hits = (brute.join(lsh, (brute["query_id"] == lsh["query_id"]) &
                       (brute["truth_id"] == lsh["lsh_id"]))
            .groupBy(brute["query_id"].alias("query_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
    per_q = brute.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k_truth"))
    return (per_q.join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                     .alias("n_hits"),
                    "k_truth")
            .withColumn("recall_permille",
                        C.permille(F.col("n_hits"), F.col("k_truth"))))


def sql_ann_recall(table: str = "embeddings") -> str:
    from log_collector_spark.textops import similarity as S

    return f"""
        WITH brute AS ({S.sql_brute_force_topk(table)}),
        lsh AS ({S.sql_lsh_ann_topk(table)}),
        per_q AS (
            SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k_truth
            FROM brute GROUP BY query_id
        ), hits AS (
            SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM brute b JOIN lsh l
              ON l.query_id = b.query_id AND l.cand_id = b.cand_id
            GROUP BY b.query_id
        )
        SELECT p.query_id,
               CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               p.k_truth,
               CAST(CASE WHEN p.k_truth > 0
                    THEN COALESCE(h.n_hits, 0) * 1000 // p.k_truth
                    ELSE 0 END AS BIGINT) AS recall_permille
        FROM per_q p LEFT JOIN hits h ON h.query_id = p.query_id
    """


# ---------------------------------------------------------------------------
# MinHash sketch calibration: estimated vs exact Jaccard per candidate pair
# ---------------------------------------------------------------------------


def minhash_estimate_error(df: DataFrame, text_col: str = "text") -> DataFrame:
    """For every LSH band-bucket candidate pair (NO Jaccard threshold —
    calibration must see the rejected pairs too): the signature-estimated
    Jaccard (matching permutations * 1000 / NUM_PERM) vs the exact
    shingle-set Jaccard, plus the absolute error. This is how you size
    NUM_PERM/bands for a corpus: if abs_err blows past the band design's
    tolerance, the sketch is too small.

    Reuses dedup's persisted shingle table (tokenize once); only
    (doc_id, 8-slot signature) rows and candidate ids shuffle."""
    from log_collector_spark.textops import dedup as D

    docs = D.doc_shingles(df, text_col, D.SHINGLE_K)
    sigs = D.minhash_signatures(df, text_col, D.SHINGLE_K, shingles=docs)
    cand = D.lsh_band_candidates(sigs)
    sig_cols = [f"mh_{i}" for i in range(D.NUM_PERM)]
    sa = sigs.select(F.col("doc_id").alias("doc_a"),
                     *[F.col(c).alias(f"a_{c}") for c in sig_cols])
    sb = sigs.select(F.col("doc_id").alias("doc_b"),
                     *[F.col(c).alias(f"b_{c}") for c in sig_cols])
    matches = sum(F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0)
                  for c in sig_cols)
    est = (matches * 1000 / D.NUM_PERM).cast("long")
    j = (cand.join(sa, "doc_a").join(sb, "doc_b")
         .select("doc_a", "doc_b", est.alias("est_permille")))
    da = docs.select(F.col("doc_id").alias("doc_a"),
                     F.col("shingles").alias("sh_a"),
                     F.col("n_shingles").alias("size_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"),
                     F.col("shingles").alias("sh_b"),
                     F.col("n_shingles").alias("size_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    uni = (F.col("size_a") + F.col("size_b")).cast("long") - inter
    exact = C.permille(inter, uni)
    return (j.join(da, "doc_a").join(db, "doc_b")
            .select("doc_a", "doc_b", "est_permille",
                    exact.alias("exact_permille"))
            .withColumn("abs_err_permille",
                        F.abs(F.col("est_permille")
                              - F.col("exact_permille")).cast("long")))


def sql_minhash_estimate_error(table: str = "documents") -> str:
    from log_collector_spark.textops import dedup as D

    band_rows = ", ".join(
        "({b}, md5(CAST(mh_{i0} AS VARCHAR) || ',' || CAST(mh_{i1} AS VARCHAR)))"
        .format(b=b, i0=b * D.ROWS_PER_BAND, i1=b * D.ROWS_PER_BAND + 1)
        for b in range(D.BANDS))
    matches = " + ".join(
        f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END"
        for i in range(D.NUM_PERM))
    inter = "len(list_intersect(da.shingles, db.shingles))"
    uni = f"da.n_shingles + db.n_shingles - {inter}"
    return f"""
        WITH sigs AS ({D._sql_minhash_signatures(table, D.SHINGLE_K)}),
        banded AS (
            SELECT doc_id, t.band, t.sig
            FROM sigs, LATERAL (VALUES {band_rows}) AS t(band, sig)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        ),
        est AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(({matches}) * 1000 / {D.NUM_PERM} AS BIGINT)
                       AS est_permille
            FROM cand c
            JOIN sigs a ON a.doc_id = c.doc_a
            JOIN sigs b ON b.doc_id = c.doc_b
        ),
        docs AS ({D._sql_doc_shingles(table, D.SHINGLE_K)})
        SELECT e.doc_a, e.doc_b, e.est_permille,
               CAST(CASE WHEN {uni} > 0 THEN {inter} * 1000 // ({uni})
                    ELSE 0 END AS BIGINT) AS exact_permille,
               CAST(abs(e.est_permille
                        - CASE WHEN {uni} > 0 THEN {inter} * 1000 // ({uni})
                               ELSE 0 END) AS BIGINT) AS abs_err_permille
        FROM est e
        JOIN docs da ON da.doc_id = e.doc_a
        JOIN docs db ON db.doc_id = e.doc_b
    """


# ---------------------------------------------------------------------------
# IVF cell balance (index-partition skew report)
# ---------------------------------------------------------------------------


def ivf_balance(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-IVF-cell population report: count, share, and a hot flag for
    cells holding > 2x the average — the skew diagnosis you run BEFORE
    betting a 100-TB ANN layout on cell = partition key (a hot cell is a
    hot partition). One map-side-combined count; #cells output rows."""
    from log_collector_spark.textops import similarity as S

    q = S._quantized(df, vec_col)
    cell = F.array_min(S._ivf_cell_scores())["cid"]
    per = (q.select(cell.alias("cell"))
           .groupBy("cell")
           .agg(F.count(F.lit(1)).cast("long").alias("n_vectors")))
    total = per.agg(F.sum("n_vectors").cast("long").alias("total"))
    return (per.crossJoin(F.broadcast(total))
            .select(F.col("cell").cast("long").alias("cell"),
                    "n_vectors",
                    C.permille(F.col("n_vectors"), F.col("total"))
                     .alias("share_permille"),
                    (F.col("n_vectors") * S.IVF_K > F.col("total") * 2)
                     .alias("hot")))


def sql_ivf_balance(table: str = "embeddings") -> str:
    from log_collector_spark.textops import similarity as S

    qe = C.sql_quantized_embedding("embedding")
    cent_rows = ", ".join(
        f"({i}, {S._IVF_C2[i]}, {c}::BIGINT[])"
        for i, c in enumerate(S.IVF_CENTROIDS))
    return f"""
        WITH q AS (
            SELECT vec_id, {qe} AS q FROM {table}
        ), cent AS (
            SELECT * FROM (VALUES {cent_rows}) AS t(cid, c2, c)
        ), assign AS (
            SELECT vec_id, cid,
                   c2 - 2 * CAST(list_dot_product(q, c) AS BIGINT) AS dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY c2 - 2 * CAST(
                                          list_dot_product(q, c) AS BIGINT),
                                      cid) AS rn
            FROM q CROSS JOIN cent
        ), per AS (
            SELECT cid AS cell, CAST(COUNT(*) AS BIGINT) AS n_vectors
            FROM assign WHERE rn = 1 GROUP BY cid
        ), tot AS (
            SELECT CAST(SUM(n_vectors) AS BIGINT) AS total FROM per
        )
        SELECT CAST(cell AS BIGINT) AS cell, n_vectors,
               CAST(CASE WHEN total > 0 THEN n_vectors * 1000 // total
                    ELSE 0 END AS BIGINT) AS share_permille,
               n_vectors * {S.IVF_K} > total * 2 AS hot
        FROM per CROSS JOIN tot
    """


# ---------------------------------------------------------------------------
# Tokenizer fertility (chars/bytes per token, per source)
# ---------------------------------------------------------------------------


def tokenizer_fertility(df: DataFrame, group_col: str = "source",
                        text_col: str = "text") -> DataFrame:
    """Per-source tokenizer fertility: how many characters one token costs
    (chars_per_token_permille = chars * 1000 / tokens). The first statistic
    a tokenizer change gets evaluated on — a fertility regression inflates
    every downstream token budget. Pure Catalyst, one hash agg."""
    toks = F.size(C.tokens(F.col(text_col))).cast("long")
    per = (df.select(F.col(group_col),
                     toks.alias("ntok"),
                     F.length(F.col(text_col)).cast("long").alias("nchr"))
           .groupBy(group_col)
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("ntok").cast("long").alias("n_tokens"),
                F.sum("nchr").cast("long").alias("n_chars")))
    return per.withColumn(
        "chars_per_token_permille",
        C.permille(F.col("n_chars"), F.col("n_tokens")))


def sql_tokenizer_fertility(table: str = "documents",
                            group_col: str = "source") -> str:
    tok = C.sql_tokens("text")
    return f"""
        WITH per AS (
            SELECT {group_col},
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len({tok})) AS BIGINT) AS n_tokens,
                   CAST(SUM(length(text)) AS BIGINT) AS n_chars
            FROM {table} GROUP BY {group_col}
        )
        SELECT {group_col}, n_docs, n_tokens, n_chars,
               CAST(CASE WHEN n_tokens > 0
                    THEN n_chars * 1000 // n_tokens ELSE 0 END AS BIGINT)
                   AS chars_per_token_permille
        FROM per
    """


# ---------------------------------------------------------------------------
# Sequence-packing efficiency (capacity vs used tokens per shard)
# ---------------------------------------------------------------------------


def packing_efficiency(df: DataFrame, group_col: str = "source",
                       text_col: str = "text") -> DataFrame:
    """Per-(group, shard) packing report over :func:`chunking.pack_sequences`:
    pack count, used tokens, capacity (packs * budget) and the waste
    permille — the number that tells you whether the packing budget/shard
    count is burning accelerator hours on padding. One extra hash agg over
    the packing frame's existing columns."""
    from log_collector_spark.textops import chunking as K

    packed = K.pack_sequences(df, group_col=group_col, text_col=text_col)
    per = (packed.groupBy(group_col, "shard")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("used_tokens"),
                (F.max("pack_last") + 1).cast("long").alias("n_packs")))
    cap = F.col("n_packs") * K.PACK_BUDGET
    return (per.withColumn("capacity", cap.cast("long"))
            .withColumn("waste_permille",
                        C.permille(F.col("capacity") - F.col("used_tokens"),
                                   F.col("capacity"))))


def sql_packing_efficiency(table: str = "documents",
                           group_col: str = "source") -> str:
    from log_collector_spark.textops import chunking as K

    return f"""
        WITH packed AS ({K.sql_pack_sequences(table, group_col)}),
        per AS (
            SELECT {group_col}, CAST(shard AS BIGINT) AS shard,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS used_tokens,
                   CAST(MAX(pack_last) + 1 AS BIGINT) AS n_packs
            FROM packed GROUP BY {group_col}, shard
        )
        SELECT {group_col}, shard, n_docs, used_tokens, n_packs,
               CAST(n_packs * {K.PACK_BUDGET} AS BIGINT) AS capacity,
               CAST(CASE WHEN n_packs > 0
                    THEN (n_packs * {K.PACK_BUDGET} - used_tokens) * 1000
                         // (n_packs * {K.PACK_BUDGET})
                    ELSE 0 END AS BIGINT) AS waste_permille
        FROM per
    """


# ---------------------------------------------------------------------------
# Near-dup graph degree histogram (dedup blast-radius report)
# ---------------------------------------------------------------------------


def neardup_degree_histogram(df: DataFrame,
                             text_col: str = "text") -> DataFrame:
    """Degree distribution of the MinHash-LSH near-dup graph, bucketed by
    power of two (bucket = bitlen(degree)): the shape that says whether
    dedup faces scattered pairs (degree 1-2) or a mega-cluster (one doc
    connected to thousands — the template-page pathology that makes
    connected components spin). Pairs come from the verified LSH join;
    per-doc degree is one (doc, 1) agg over the pair list, the histogram
    a second tiny agg."""
    from log_collector_spark.textops import dedup as D

    pairs = _persist_eval(D.minhash_lsh_pairs(df, text_col))
    deg = (pairs.select(F.col("doc_a").alias("doc_id"))
           .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("long").alias("degree")))
    bucket = F.length(F.bin(F.col("degree"))).cast("long")
    return (deg.groupBy(bucket.alias("degree_bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("degree").cast("long").alias("sum_degree"),
                 F.max("degree").cast("long").alias("max_degree")))


def sql_neardup_degree_histogram(table: str = "documents") -> str:
    from log_collector_spark.textops import dedup as D

    return f"""
        WITH pairs AS ({D.sql_minhash_lsh_pairs(table)}),
        deg AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
                SELECT doc_a AS doc_id FROM pairs
                UNION ALL
                SELECT doc_b AS doc_id FROM pairs
            ) GROUP BY doc_id
        )
        SELECT CAST(length(bin(degree)) AS BIGINT) AS degree_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(degree) AS BIGINT) AS sum_degree,
               CAST(MAX(degree) AS BIGINT) AS max_degree
        FROM deg GROUP BY 1
    """


# ---------------------------------------------------------------------------
# PageRank power-iteration step over the near-dup graph
# ---------------------------------------------------------------------------

PR_DAMP_PERMILLE = 850   # 0.85 damping, integer permille
PR_UNIT = 1_000_000      # rank fixed-point unit (micro-ranks)


def pagerank_step(df: DataFrame, text_col: str = "text",
                  pairs: DataFrame | None = None) -> DataFrame:
    """One damped PageRank power iteration over the (symmetrized)
    MinHash near-dup graph, in exact fixed-point integers:

        contrib(u)  = PR_UNIT DIV deg(u)          (uniform start)
        rank'(v)    = (1-d) * PR_UNIT + d * SUM contrib(u->v),   d = 0.85

    everything in micro-rank units and permille damping, so both engines
    floor identically. One iteration is the distributed kernel — the loop
    around it is the same driver pattern as kmeans_step/dedup_clusters
    (each further iteration is one (node, rank) shuffle; text never moves).
    Centrality over the dup graph ranks template/hub documents — the docs
    whose removal collapses the most near-duplicate mass."""
    from log_collector_spark.textops import dedup as D

    if pairs is None:
        pairs = _persist_eval(D.minhash_lsh_pairs(df, text_col))
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .unionAll(pairs.select(F.col("doc_b").alias("src"),
                                    F.col("doc_a").alias("dst"))))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long")
                                   .alias("deg"))
    contrib = (edges.join(deg, "src")
               .select("dst", F.expr(f"CAST({PR_UNIT} DIV deg AS BIGINT)")
                        .alias("c")))
    gathered = contrib.groupBy(F.col("dst").alias("doc_id")).agg(
        F.sum("c").cast("long").alias("c_sum"))
    base = (1000 - PR_DAMP_PERMILLE) * PR_UNIT
    return (deg.select(F.col("src").alias("doc_id"), "deg")
            .join(gathered, "doc_id", "left")
            .select("doc_id", "deg",
                    F.expr(f"CAST(({base} + {PR_DAMP_PERMILLE} * "
                           f"coalesce(c_sum, 0)) DIV 1000 AS BIGINT)")
                     .alias("rank_micro")))


def sql_pagerank_step(table: str = "documents") -> str:
    from log_collector_spark.textops import dedup as D

    base = (1000 - PR_DAMP_PERMILLE) * PR_UNIT
    return f"""
        WITH pairs AS ({D.sql_minhash_lsh_pairs(table)}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        deg AS (
            SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
            FROM edges GROUP BY src
        ),
        gathered AS (
            SELECT e.dst AS doc_id,
                   CAST(SUM({PR_UNIT} // d.deg) AS BIGINT) AS c_sum
            FROM edges e JOIN deg d ON d.src = e.src
            GROUP BY e.dst
        )
        SELECT d.src AS doc_id, d.deg,
               CAST(({base} + {PR_DAMP_PERMILLE} * COALESCE(g.c_sum, 0))
                    // 1000 AS BIGINT) AS rank_micro
        FROM deg d LEFT JOIN gathered g ON g.doc_id = d.src
    """


def triangle_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Global triangle census of the shingle-Jaccard near-dup graph — the
    clustering-coefficient ingredient that distinguishes a template FAMILY
    (dense, many triangles: one canonical doc can represent the clique)
    from a drift CHAIN (A~B~C but A!~C: pick per-edge survivors or the
    chain collapses transitively).

    Edges come from the verified pair join (a < b canonical orientation);
    triangles are the two-path + closing-edge join:
    (a,b),(b,c) with a<b<c, closed iff (a,c) is an edge — each triangle
    counted exactly once by vertex ordering, the standard distributed
    formulation (node-iterator++). Cost: two self-joins of the EDGE table
    (already threshold-filtered — tiny relative to the corpus); at web
    scale, orient edges by degree (low→high) first so the two-path fan-out
    is bounded by the arboricity, not the max degree."""
    from log_collector_spark.textops import dedup as D

    # the edge table is self-joined twice and unioned for the node set;
    # persist the pair-scale frame so the inverted-index join runs ONCE
    edges = _persist_eval(
        D.ngram_jaccard_pairs(df, text_col)
         .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")))
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    paths = e1.join(e2, F.col("e1.b") == F.col("e2.a"))
    closed = paths.join(
        edges.alias("e3"),
        (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")))
    nodes = (edges.select(F.col("a").alias("v"))
                  .unionAll(edges.select(F.col("b").alias("v")))
                  .distinct())
    tri = closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    ne = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    nv = nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return tri.crossJoin(ne).crossJoin(nv)


def sql_triangle_count(table: str = "documents") -> str:
    from log_collector_spark.textops import dedup as D

    return f"""
        WITH pairs AS ({D.sql_ngram_jaccard_pairs(table)}),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
        tri AS (
            SELECT COUNT(*) AS n_triangles
            FROM edges e1
            JOIN edges e2 ON e1.b = e2.a
            JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        nv AS (
            SELECT COUNT(*) AS n_nodes FROM (
                SELECT a AS v FROM edges UNION SELECT b FROM edges)
        )
        SELECT CAST(tri.n_triangles AS BIGINT) AS n_triangles,
               CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
               CAST(nv.n_nodes AS BIGINT) AS n_nodes
        FROM tri, nv
    """


# ---------------------------------------------------------------------------
# SimHash calibration: hamming distance vs exact Jaccard on band candidates
# ---------------------------------------------------------------------------

def simhash_calibration(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Cross-tab of simhash hamming distance × exact token-set Jaccard
    decile over ALL band-candidate pairs (no hamming cut-off) — the
    evidence behind choosing SIMHASH_HAMMING_MAX: it shows, on this
    corpus, which hamming radius corresponds to which similarity mass
    (the sibling of :func:`minhash_estimate_error`, which calibrates the
    OTHER sketch family). Returns (hamming, jacc_decile, n_pairs) ordered
    by (hamming, jacc_decile).

    Plan: candidate generation is simhash_pairs' single-lineage bucket
    explode (dedup.bucket_pairs — the banded SELF-JOIN recomputed the
    simhash aggregation per side, 3.9 s vs 0.5 s at sf0.1); the
    exact-Jaccard verify then joins each pair side to a per-doc DISTINCT
    token-HASH array and intersects in-row (array_intersect), so one
    (doc_id, tokens-per-doc int64 array) row shuffles per pair side
    instead of one row per candidate token. Token identity uses native
    xxhash64 internally — internal-only (the output is the Jaccard
    decile; a cross-token 64-bit collision altering a decile needs
    ~|pairs|·|tokens/doc|²/2⁶⁴ ≈ 1e-11 luck), same contract as the
    flagship's internal hashes. Output is at most 61×11 rows."""
    from log_collector_spark.textops import dedup as D

    cand = (D.bucket_pairs(D.simhash_banded(df, text_col))
             .select("doc_a", "doc_b", "hamming").distinct())

    # per-doc distinct token hashes; docs with NO tokens are excluded so
    # pairs touching them drop, matching the inverted-index inner-join
    # semantics (and the oracle's)
    ths = (df.select(
        "doc_id",
        F.array_distinct(F.transform(
            C.tokens(F.col(text_col)),
            lambda t: F.xxhash64(t))).alias("ths"))
        .filter(F.size("ths") > 0))
    a = ths.select(F.col("doc_id").alias("doc_a"), F.col("ths").alias("ths_a"),
                   F.size("ths").cast("long").alias("sz_a"))
    b = ths.select(F.col("doc_id").alias("doc_b"), F.col("ths").alias("ths_b"),
                   F.size("ths").cast("long").alias("sz_b"))
    j = (cand.join(a, "doc_a").join(b, "doc_b")
             .withColumn("inter",
                         F.size(F.array_intersect("ths_a", "ths_b"))
                          .cast("long")))
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    dec = (F.when(union > 0, F.floor(F.col("inter") * 10 / union))
            .otherwise(10)).cast("long")  # two empty token sets: identical
    return (j.select("hamming", dec.alias("jacc_decile"))
             .groupBy("hamming", "jacc_decile")
             .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
             .orderBy("hamming", "jacc_decile"))


def sql_simhash_calibration(table: str = "documents") -> str:
    from log_collector_spark.textops import dedup as D

    width = D.SIMHASH_BAND_BITS
    band_rows = ", ".join(f"({b})" for b in range(D.SIMHASH_BANDS))
    return f"""
        WITH sh AS ({D._sql_simhash(table)}),
        banded AS (
            SELECT doc_id, simhash, b.band,
                   (simhash >> (b.band * {width})) & {(1 << width) - 1}
                       AS key
            FROM sh CROSS JOIN (VALUES {band_rows}) AS b(band)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                       AS hamming
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.key = b.key
             AND a.doc_id < b.doc_id
        ),
        toks AS (
            SELECT DISTINCT doc_id, unnest({C.sql_tokens('text')}) AS tok
            FROM {table}
        ),
        sizes AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
            FROM toks GROUP BY doc_id
        ),
        inter AS (
            SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
            FROM cand c
            JOIN toks ta ON ta.doc_id = c.doc_a
            JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
            GROUP BY c.doc_a, c.doc_b
        ),
        j AS (
            SELECT c.hamming,
                   COALESCE(i.inter, 0) AS inter,
                   sa.sz + sb.sz - COALESCE(i.inter, 0) AS un
            FROM cand c
            LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
            JOIN sizes sa ON sa.doc_id = c.doc_a
            JOIN sizes sb ON sb.doc_id = c.doc_b
        )
        SELECT hamming,
               CAST(CASE WHEN un > 0 THEN inter * 10 // un
                         ELSE 10 END AS BIGINT) AS jacc_decile,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM j GROUP BY 1, 2 ORDER BY hamming, jacc_decile
    """


def clustering_coefficient(df: DataFrame, text_col: str = "text"
                           ) -> DataFrame:
    """Per-node local clustering coefficient of the near-dup graph — the
    node-level refinement of :func:`triangle_count`: coefficient ~1000
    (permille) marks documents inside a template CLIQUE (safe to collapse
    to one representative), ~0 marks chain hubs bridging otherwise
    unrelated drift variants (collapsing those over-merges). Returns
    (doc_id, degree, triangles, coeff_permille) for every node with at
    least one edge, ORDER BY doc_id.

    coeff_permille = 1000 * 2*t(v) / (d(v)*(d(v)-1)), integer-guarded for
    d < 2. Triangles come from the one canonical (a<b<c) two-path +
    closing-edge join — each triangle found once, then credited to its
    three corners with a 3-way unpivot, so the edge table is self-joined
    exactly twice (same cost as the global census). At web scale, orient
    the two-path by degree first (arboricity bound), as triangle_count
    documents."""
    from log_collector_spark.textops import dedup as D

    # referenced 5x below (sym x2 + the three-way triangle join);
    # persist the pair-scale frame so pair-gen runs ONCE
    und = _persist_eval(
        D.ngram_jaccard_pairs(df, text_col)
         .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")))
    sym = und.unionAll(und.select(F.col("b").alias("a"),
                                  F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("degree"))
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    closed = (e1.join(e2, F.col("e1.b") == F.col("e2.a"))
                .join(e3, (F.col("e1.a") == F.col("e3.a"))
                      & (F.col("e2.b") == F.col("e3.b")))
                .select(F.col("e1.a").alias("v1"),
                        F.col("e1.b").alias("v2"),
                        F.col("e2.b").alias("v3")))
    corners = (closed.select(F.col("v1").alias("doc_id"))
               .unionAll(closed.select(F.col("v2").alias("doc_id")))
               .unionAll(closed.select(F.col("v3").alias("doc_id"))))
    tri = corners.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("triangles"))
    # integer DIV on both engines — float division truncates differently
    # at exact-boundary quotients
    coeff = F.when(
        F.col("degree") >= 2,
        F.expr("(2000 * triangles) DIV (degree * (degree - 1))")
    ).otherwise(F.lit(0))
    return (deg.join(tri, "doc_id", "left")
               .fillna(0, ["triangles"])
               .withColumn("coeff_permille", coeff.cast("long"))
               .orderBy("doc_id"))


def sql_clustering_coefficient(table: str = "documents") -> str:
    from log_collector_spark.textops import dedup as D

    return f"""
        WITH pairs AS ({D.sql_ngram_jaccard_pairs(table)}),
        und AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
        sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
        deg AS (
            SELECT a AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree
            FROM sym GROUP BY a
        ),
        closed AS (
            SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3
            FROM und e1
            JOIN und e2 ON e1.b = e2.a
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        corners AS (
            SELECT v1 AS doc_id FROM closed
            UNION ALL SELECT v2 FROM closed
            UNION ALL SELECT v3 FROM closed
        ),
        tri AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS triangles
            FROM corners GROUP BY doc_id
        )
        SELECT d.doc_id, d.degree,
               CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
               CAST(CASE WHEN d.degree >= 2
                         THEN (2000 * COALESCE(t.triangles, 0))
                              // (d.degree * (d.degree - 1))
                         ELSE 0 END AS BIGINT) AS coeff_permille
        FROM deg d LEFT JOIN tri t ON t.doc_id = d.doc_id
        ORDER BY d.doc_id
    """


# ---------------------------------------------------------------------------
# IVFADC recall decomposition: coarse-quantizer loss vs PQ quantization loss
# ---------------------------------------------------------------------------


def ivfadc_recall(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Recall@k decomposition of the compressed IVFADC scan against the
    exact squared-L2 ground truth — the table a FAISS tuning session
    produces before deploying `IVFx,PQy` (how much recall does the coarse
    quantizer cost, and how much does PQ compression add on top?).

    Per query: ``k_truth`` exact-L2 neighbors; ``hits_cells`` = how many of
    them survive when candidates are restricted to the ``nprobe`` probed
    cells but still ranked by EXACT distance (pure coarse-quantizer loss —
    the ceiling any in-cell scorer can reach, since every truth member in
    the pool outranks every non-member under the true metric);
    ``hits_adc`` = how many the ADC (PQ-code) ranking keeps. By
    construction ``hits_adc <= hits_cells``, so
    ``pq_loss = hits_cells - hits_adc >= 0`` isolates compression damage.

    Plan/scale: ground truth is the documented O(|queries|·n) exact scan
    (queries broadcast, corpus never shuffled — the eval you run on a
    sampled query set, QUERY_MOD here); the two hit-joins are over
    |queries|·k-row frames. Integer arithmetic throughout (|c|² − 2·q·c
    drops the per-query constant |q|²) → exact DuckDB oracle."""
    from log_collector_spark.textops import similarity as S
    from pyspark.sql.window import Window

    # ONE quantize+cell+code pass, persisted (n rows of small arrays);
    # the three rankings below branch off it instead of re-deriving the
    # quantization / cell assignment / PQ codes per path (was 3 full
    # re-computations — the slowest eval query in the suite before).
    scores = S._ivf_cell_scores()
    base = _persist_eval(
        S._quantized(df, vec_col).select(
            "vec_id", "q",
            F.array_min(scores)["cid"].alias("cell"),
            S._pq_corpus_code().alias("pq_code")))

    c2 = C.int_dot(F.col("cv"), F.col("cv"))
    queries = (base.filter(F.col("vec_id") % S.QUERY_MOD == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("q").alias("qv")))
    dist = (c2 - 2 * C.int_dot(F.col("qv"), F.col("cv"))).alias("dist")
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"),
                                               F.asc("cand_id"))

    corpus_all = base.select(F.col("vec_id").alias("cand_id"),
                             F.col("q").alias("cv"))
    truth = (corpus_all.join(F.broadcast(queries),
                             F.col("cand_id") != F.col("query_id"))
             .select("query_id", "cand_id", dist)
             .withColumn("rank", F.row_number().over(w))
             .filter(F.col("rank") <= S.TOP_K)
             .select("query_id", F.col("cand_id").alias("truth_id")))

    # one probed-cell pool carrying BOTH scores: exact dist (the coarse-
    # quantizer ceiling) and the ADC estimate (what the PQ scan serves)
    probes = (base.filter(F.col("vec_id") % S.QUERY_MOD == 0)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("q").alias("qv"),
                      S._pq_lut().alias("lut"),
                      F.explode(F.slice(F.array_sort(scores), 1,
                                        S.IVF_NPROBE)).alias("p"))
              .select("query_id", "qv", "lut",
                      F.col("p.cid").alias("probe")))
    pool = (base.select(F.col("vec_id").alias("cand_id"),
                        F.col("q").alias("cv"), "cell", "pq_code")
            .join(F.broadcast(probes),
                  (F.col("cell") == F.col("probe")) &
                  (F.col("cand_id") != F.col("query_id")))
            .select("query_id", "cand_id", dist,
                    S._pq_adc_dist().alias("adc_dist")))
    in_cells = (pool
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= S.TOP_K)
                .select("query_id", F.col("cand_id").alias("cell_id")))

    w_adc = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"),
                                                   F.asc("cand_id"))
    adc = (pool.withColumn("rank", F.row_number().over(w_adc))
           .filter(F.col("rank") <= S.TOP_K)
           .select("query_id", F.col("cand_id").alias("adc_id")))

    per_q = truth.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k_truth"))
    h_cells = (truth.join(
        in_cells, (truth["query_id"] == in_cells["query_id"]) &
        (truth["truth_id"] == in_cells["cell_id"]))
        .groupBy(truth["query_id"].alias("query_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("hits_cells")))
    h_adc = (truth.join(
        adc, (truth["query_id"] == adc["query_id"]) &
        (truth["truth_id"] == adc["adc_id"]))
        .groupBy(truth["query_id"].alias("query_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("hits_adc")))
    out = (per_q.join(h_cells, "query_id", "left")
           .join(h_adc, "query_id", "left")
           .select("query_id", "k_truth",
                   F.coalesce("hits_cells", F.lit(0)).cast("long")
                    .alias("hits_cells"),
                   F.coalesce("hits_adc", F.lit(0)).cast("long")
                    .alias("hits_adc")))
    return (out
            .withColumn("recall_cells_permille",
                        C.permille(F.col("hits_cells"), F.col("k_truth")))
            .withColumn("recall_adc_permille",
                        C.permille(F.col("hits_adc"), F.col("k_truth")))
            .withColumn("pq_loss",
                        (F.col("hits_cells") - F.col("hits_adc"))
                        .cast("long"))
            .orderBy("query_id"))


def sql_ivfadc_recall(table: str = "embeddings") -> str:
    from log_collector_spark.textops import similarity as S

    qe = C.sql_quantized_embedding("embedding")
    cent_rows = ", ".join(
        f"({i}, {S._IVF_C2[i]}, {c}::BIGINT[])"
        for i, c in enumerate(S.IVF_CENTROIDS))
    k, qm, npb = S.TOP_K, S.QUERY_MOD, S.IVF_NPROBE
    return f"""
        WITH q AS (
            SELECT vec_id, {qe} AS q FROM {table}
        ), queries AS (
            SELECT vec_id AS query_id, q AS qv FROM q
            WHERE vec_id % {qm} = 0
        ), truth AS (
            SELECT query_id, cand_id AS truth_id FROM (
                SELECT qs.query_id, c.vec_id AS cand_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY qs.query_id
                           ORDER BY CAST(list_dot_product(c.q, c.q) AS BIGINT)
                                    - 2 * CAST(list_dot_product(qs.qv, c.q)
                                               AS BIGINT),
                                    c.vec_id) AS rank
                FROM queries qs JOIN q c ON c.vec_id <> qs.query_id
            ) WHERE rank <= {k}
        ), cent AS (
            SELECT * FROM (VALUES {cent_rows}) AS t(cid, c2, c)
        ), assign AS (
            SELECT vec_id, q, cid,
                   c2 - 2 * CAST(list_dot_product(q, c) AS BIGINT) AS dist
            FROM q CROSS JOIN cent
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cid) AS rn
            FROM assign
        ), cells AS (
            SELECT vec_id, q, cid AS cell FROM ranked WHERE rn = 1
        ), probes AS (
            SELECT vec_id AS query_id, q AS qv, cid AS probe
            FROM ranked WHERE vec_id % {qm} = 0 AND rn <= {npb}
        ), in_cells AS (
            SELECT query_id, cand_id AS cell_id FROM (
                SELECT p.query_id, c.vec_id AS cand_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY p.query_id
                           ORDER BY CAST(list_dot_product(c.q, c.q) AS BIGINT)
                                    - 2 * CAST(list_dot_product(p.qv, c.q)
                                               AS BIGINT),
                                    c.vec_id) AS rank
                FROM probes p JOIN cells c
                  ON c.cell = p.probe AND c.vec_id <> p.query_id
            ) WHERE rank <= {k}
        ), adc AS (
            SELECT query_id, cand_id AS adc_id
            FROM ({S.sql_ivfadc_ann_topk(table)})
        ), per_q AS (
            SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k_truth
            FROM truth GROUP BY query_id
        ), h_cells AS (
            SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS hits_cells
            FROM truth t JOIN in_cells i
              ON i.query_id = t.query_id AND i.cell_id = t.truth_id
            GROUP BY t.query_id
        ), h_adc AS (
            SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS hits_adc
            FROM truth t JOIN adc a
              ON a.query_id = t.query_id AND a.adc_id = t.truth_id
            GROUP BY t.query_id
        )
        SELECT p.query_id, p.k_truth,
               CAST(COALESCE(c.hits_cells, 0) AS BIGINT) AS hits_cells,
               CAST(COALESCE(a.hits_adc, 0) AS BIGINT) AS hits_adc,
               {C.sql_permille("COALESCE(c.hits_cells, 0)", "p.k_truth")}
                   AS recall_cells_permille,
               {C.sql_permille("COALESCE(a.hits_adc, 0)", "p.k_truth")}
                   AS recall_adc_permille,
               CAST(COALESCE(c.hits_cells, 0) - COALESCE(a.hits_adc, 0)
                    AS BIGINT) AS pq_loss
        FROM per_q p
        LEFT JOIN h_cells c ON c.query_id = p.query_id
        LEFT JOIN h_adc a ON a.query_id = p.query_id
        ORDER BY p.query_id
    """


# ---------------------------------------------------------------------------
# Matryoshka (dimension-truncation) recall: prefix-dim ANN vs full-dim truth
# ---------------------------------------------------------------------------

MRL_DIMS = 16  # prefix length under test (full vectors are 64-dim)


def matryoshka_recall(df: DataFrame, vec_col: str = "embedding",
                      dims: int = MRL_DIMS) -> DataFrame:
    """Recall@k of brute-force search over the FIRST ``dims`` embedding
    dimensions against the full-dimension exact top-k — the evaluation
    behind Matryoshka-style dimension truncation (Kusupati et al., 2022):
    serve a 4× cheaper prefix index only if this table says the prefix
    ranking still finds the full-dim neighbors.

    Returns (query_id, n_hits, k_truth, recall_permille) ORDER BY query_id.

    Plan: two broadcast-queries exact scans (the documented O(|q|·n) eval
    shape — corpus never shuffles) + one |q|·k hit-join; the prefix side
    is a narrow ``slice`` projection, so at 100 TB the truncated scan
    reads ``dims/64`` of the vector bytes, which is the actual claim
    being evaluated."""
    from log_collector_spark.textops import similarity as S
    from pyspark.sql.window import Window

    q = S._quantized(df, vec_col)

    def _topk(frame, out_col):
        queries = (frame.filter(F.col("vec_id") % S.QUERY_MOD == 0)
                   .select(F.col("vec_id").alias("query_id"),
                           F.col("q").alias("qv")))
        corpus = frame.select(F.col("vec_id").alias("cand_id"),
                              F.col("q").alias("cv"))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("dot"), F.asc("cand_id"))
        return (corpus.join(F.broadcast(queries),
                            F.col("cand_id") != F.col("query_id"))
                .select("query_id", "cand_id",
                        C.int_dot(F.col("qv"), F.col("cv")).alias("dot"))
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= S.TOP_K)
                .select("query_id", F.col("cand_id").alias(out_col)))

    truth = _topk(q, "truth_id")
    pref = _topk(q.select("vec_id", F.slice(F.col("q"), 1, dims).alias("q")),
                 "pref_id")
    per_q = truth.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k_truth"))
    hits = (truth.join(pref, (truth["query_id"] == pref["query_id"]) &
                       (truth["truth_id"] == pref["pref_id"]))
            .groupBy(truth["query_id"].alias("query_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
    return (per_q.join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                     .alias("n_hits"),
                    "k_truth")
            .withColumn("recall_permille",
                        C.permille(F.col("n_hits"), F.col("k_truth")))
            .orderBy("query_id"))


def sql_matryoshka_recall(table: str = "embeddings",
                          dims: int = MRL_DIMS) -> str:
    from log_collector_spark.textops import similarity as S

    qe = C.sql_quantized_embedding("embedding")
    k, qm = S.TOP_K, S.QUERY_MOD
    return f"""
        WITH q AS (SELECT vec_id, {qe} AS q FROM {table}),
        truth AS (
            SELECT query_id, cand_id AS truth_id FROM (
                SELECT qs.vec_id AS query_id, c.vec_id AS cand_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY qs.vec_id
                           ORDER BY CAST(list_dot_product(qs.q, c.q)
                                         AS BIGINT) DESC, c.vec_id) AS rank
                FROM q qs JOIN q c ON c.vec_id <> qs.vec_id
                WHERE qs.vec_id % {qm} = 0
            ) WHERE rank <= {k}
        ), pref AS (
            SELECT query_id, cand_id AS pref_id FROM (
                SELECT qs.vec_id AS query_id, c.vec_id AS cand_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY qs.vec_id
                           ORDER BY CAST(list_dot_product(
                                        qs.q[1:{dims}], c.q[1:{dims}])
                                         AS BIGINT) DESC, c.vec_id) AS rank
                FROM q qs JOIN q c ON c.vec_id <> qs.vec_id
                WHERE qs.vec_id % {qm} = 0
            ) WHERE rank <= {k}
        ), per_q AS (
            SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k_truth
            FROM truth GROUP BY query_id
        ), hits AS (
            SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM truth t JOIN pref p
              ON p.query_id = t.query_id AND p.pref_id = t.truth_id
            GROUP BY t.query_id
        )
        SELECT pq.query_id,
               CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               pq.k_truth,
               {C.sql_permille("COALESCE(h.n_hits, 0)", "pq.k_truth")}
                   AS recall_permille
        FROM per_q pq LEFT JOIN hits h ON h.query_id = pq.query_id
        ORDER BY pq.query_id
    """


# ---------------------------------------------------------------------------
# IVF nprobe tuning curve: micro-averaged recall@k per probe budget
# ---------------------------------------------------------------------------


def ivf_nprobe_curve(df: DataFrame, vec_col: str = "embedding",
                     max_nprobe: int = 3) -> DataFrame:
    """Recall@k of the IVF index at every probe budget 1..``max_nprobe``
    against the exact brute-force top-k — the tuning curve every IVF
    deployment draws before fixing nprobe (latency is ~linear in nprobe;
    this table says what each extra probe buys).

    Micro-averaged: ``recall_permille = Σ hits · 1000 DIV Σ truth`` over
    all queries, so the integer stays exact and queries with fewer than k
    neighbors don't distort the mean.

    Returns (nprobe, n_hits, n_truth, recall_permille) ORDER BY nprobe.

    Plan: the brute ground truth is ONE exact scan (the expensive side),
    and — because probe sets are NESTED (cells accumulate) — the
    candidate generation runs ONCE at the max budget carrying each
    candidate's discovery rank (which probe found it); every level is
    then a filter + per-level window over that single |cands| frame
    instead of its own bucketed scan (was 3 scans → 1; 3.9 s → measured
    below at sf0.1). Monotonicity in nprobe is structural, making
    regressions obvious."""
    from pyspark.sql.window import Window
    from log_collector_spark.textops import similarity as S

    truth = _persist_eval(S.brute_force_topk(df, vec_col).select(
        "query_id", F.col("cand_id").alias("truth_id")))
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))

    q = S._quantized(df, vec_col)
    scores = S._ivf_cell_scores()
    corpus = q.select(F.col("vec_id").alias("cand_id"),
                      F.col("q").alias("cv"),
                      F.array_min(scores)["cid"].alias("cell"))
    queries = (q.filter(F.col("vec_id") % S.QUERY_MOD == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("q").alias("qv"),
                       F.posexplode(F.slice(F.array_sort(scores), 1,
                                            max_nprobe))
                       .alias("pos", "p"))
               .select("query_id", "qv",
                       F.col("p.cid").alias("probe"),
                       (F.col("pos") + 1).alias("probe_rank")))
    cand = (corpus.join(F.broadcast(queries),
                        (F.col("cell") == F.col("probe")) &
                        (F.col("cand_id") != F.col("query_id")))
            .select("query_id", "cand_id", "probe_rank",
                    C.int_dot(F.col("qv"), F.col("cv")).alias("dot")))
    # cells are disjoint → each (query, cand) appears exactly once, at
    # its cell's probe rank; level np keeps candidates with rank <= np.
    lvls = F.sequence(F.col("probe_rank"),
                      F.lit(max_nprobe).cast("long"))
    per_lvl = cand.select("query_id", "cand_id", "dot",
                          F.explode(lvls).alias("nprobe"))
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("dot"), F.asc("cand_id"))
    topk = (per_lvl.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= S.TOP_K))
    hits = (topk.join(truth,
                      (topk["query_id"] == truth["query_id"]) &
                      (topk["cand_id"] == truth["truth_id"]))
            .groupBy("nprobe")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
    base = df.sparkSession.createDataFrame(
        [(n,) for n in range(1, max_nprobe + 1)], "nprobe long")
    return (base.join(hits, "nprobe", "left")
            .crossJoin(F.broadcast(nt))
            .select(F.col("nprobe"),
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                     .alias("n_hits"),
                    "n_truth")
            .withColumn("recall_permille",
                        C.permille(F.col("n_hits"), F.col("n_truth")))
            .orderBy("nprobe"))


def sql_ivf_nprobe_curve(table: str = "embeddings",
                         max_nprobe: int = 3) -> str:
    from log_collector_spark.textops import similarity as S

    levels = ", ".join(
        f"""lvl{n} AS (
            SELECT CAST({n} AS BIGINT) AS nprobe,
                   CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM brute b JOIN ({S.sql_ivf_ann_topk(table, nprobe=n)}) i
              ON i.query_id = b.query_id AND i.cand_id = b.cand_id
        )""" for n in range(1, max_nprobe + 1))
    union = " UNION ALL ".join(
        f"SELECT * FROM lvl{n}" for n in range(1, max_nprobe + 1))
    return f"""
        WITH brute AS ({S.sql_brute_force_topk(table)}),
        nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM brute),
        {levels}
        SELECT u.nprobe, u.n_hits, nt.n_truth,
               {C.sql_permille("u.n_hits", "nt.n_truth")} AS recall_permille
        FROM ({union}) u CROSS JOIN nt
        ORDER BY u.nprobe
    """


# ---------------------------------------------------------------------------
# LSH multiprobe budget curve (the sibling of ivf_nprobe_curve)
# ---------------------------------------------------------------------------

LSH_FLIP_LEVELS = (0, 2, 4, 8)


def lsh_probe_curve(df: DataFrame, vec_col: str = "embedding",
                    levels: tuple = LSH_FLIP_LEVELS) -> DataFrame:
    """Recall@k of sign-LSH multiprobe at increasing probe budgets (0, 2,
    4, 8 plane flips → 1, 3, 5, 9 probed buckets per query) against the
    exact brute-force top-k — the LSH twin of :func:`ivf_nprobe_curve`,
    and together they answer THE deployment question: which index family
    buys more recall per probe on this corpus (rrf_fusion_topk consumes
    both; this curve says when fusion is worth it).

    Returns (n_flips, n_hits, n_truth, recall_permille) ORDER BY n_flips.
    Micro-averaged integer recall; monotone in the budget by construction
    (probe sets are nested), so a non-monotone row is a regression alarm.

    Plan: ONE brute-force exact scan shared across levels (the expensive
    side), and — because flip sets are NESTED — ONE bucketed candidate
    join at the max budget carrying each candidate's discovery index
    (0 = own bucket, j = plane-j flip, MIN over routes); every level is
    then a filter + per-level window over that single frame instead of
    its own bucket join (was 4 joins → 1)."""
    from pyspark.sql.window import Window
    from log_collector_spark.textops import dedup as D
    from log_collector_spark.textops import similarity as S

    truth = _persist_eval(S.brute_force_topk(df, vec_col).select(
        "query_id", F.col("cand_id").alias("truth_id")))
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))

    max_fl = max(levels)
    q = S._quantized(df, vec_col).withColumn(
        "bucket", D._emb_bucket(F.col("q")))
    probes = F.array(*(
        [F.struct(F.col("bucket").alias("probe"),
                  F.lit(0).alias("j"))] +
        [F.struct(F.col("bucket").bitwiseXOR(1 << (j - 1)).alias("probe"),
                  F.lit(j).alias("j")) for j in range(1, max_fl + 1)]))
    queries = (q.filter(F.col("vec_id") % S.QUERY_MOD == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("q").alias("qv"),
                       F.explode(probes).alias("p"))
               .select("query_id", "qv", F.col("p.probe").alias("probe"),
                       F.col("p.j").alias("j")))
    corpus = q.select(F.col("vec_id").alias("cand_id"),
                      F.col("q").alias("cv"), F.col("bucket"))
    # a candidate can be reachable via several probes: keep the MIN
    # discovery index (the smallest budget that admits it); dot is
    # route-independent so max() is just a deterministic pick.
    cand = (corpus.join(F.broadcast(queries),
                        (F.col("bucket") == F.col("probe")) &
                        (F.col("cand_id") != F.col("query_id")))
            .select("query_id", "cand_id", "j",
                    C.int_dot(F.col("qv"), F.col("cv")).alias("dot"))
            .groupBy("query_id", "cand_id")
            .agg(F.min("j").alias("jmin"), F.max("dot").alias("dot")))
    lvl_arr = F.lit(list(levels)).cast("array<bigint>")
    per_lvl = cand.select(
        "query_id", "cand_id", "dot",
        F.explode(F.filter(lvl_arr, lambda l: l >= F.col("jmin")))
        .alias("n_flips"))
    w = Window.partitionBy("n_flips", "query_id").orderBy(
        F.desc("dot"), F.asc("cand_id"))
    topk = (per_lvl.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= S.TOP_K))
    hits = (topk.join(truth,
                      (topk["query_id"] == truth["query_id"]) &
                      (topk["cand_id"] == truth["truth_id"]))
            .groupBy("n_flips")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
    base = df.sparkSession.createDataFrame(
        [(int(fl),) for fl in levels], "n_flips long")
    return (base.join(hits, "n_flips", "left")
            .crossJoin(F.broadcast(nt))
            .select("n_flips",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                     .alias("n_hits"),
                    "n_truth")
            .withColumn("recall_permille",
                        C.permille(F.col("n_hits"), F.col("n_truth")))
            .orderBy("n_flips"))


def sql_lsh_probe_curve(table: str = "embeddings",
                        levels: tuple = LSH_FLIP_LEVELS) -> str:
    from log_collector_spark.textops import similarity as S

    lvls = ", ".join(
        f"""flvl{fl} AS (
            SELECT CAST({fl} AS BIGINT) AS n_flips,
                   CAST(COUNT(*) AS BIGINT) AS n_hits
            FROM brute b JOIN ({S.sql_lsh_ann_topk(table, flips=fl)}) l
              ON l.query_id = b.query_id AND l.cand_id = b.cand_id
        )""" for fl in levels)
    union = " UNION ALL ".join(f"SELECT * FROM flvl{fl}" for fl in levels)
    return f"""
        WITH brute AS ({S.sql_brute_force_topk(table)}),
        nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM brute),
        {lvls}
        SELECT u.n_flips, u.n_hits, nt.n_truth,
               {C.sql_permille("u.n_hits", "nt.n_truth")} AS recall_permille
        FROM ({union}) u CROSS JOIN nt
        ORDER BY u.n_flips
    """


# ---------------------------------------------------------------------------
# ANN rank quality: integer MRR for both index families
# ---------------------------------------------------------------------------

def ann_mrr(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Mean reciprocal rank (integer milli) of the TRUE nearest neighbor
    inside each ANN path's top-k — the rank-quality companion of
    recall@k: recall says the truth was retrieved, MRR says how high it
    surfaced (rank 1 vs rank k matters when only the top hit is used,
    e.g. dedup canonical selection or 1-NN classification).
    ``rr_milli = 1000 // rank`` (0 when the truth missed the top-k), so
    the mean is exact integer arithmetic.

    Returns (ann_path, n_queries, n_hits, mrr_milli) ORDER BY ann_path.

    Plan: the brute top-1 truth is ONE exact scan shared by both paths;
    each path joins its |queries|·k frame to the |queries|-row truth."""
    from log_collector_spark.textops import similarity as S

    truth = _persist_eval(
        S.brute_force_topk(df, vec_col)
        .filter(F.col("rank") == 1)
        .select("query_id", F.col("cand_id").alias("truth_id")))
    rows = []
    for path, topk in (("ivf", S.ivf_ann_topk(df, vec_col)),
                       ("lsh", S.lsh_ann_topk(df, vec_col))):
        r = topk.select("query_id", F.col("cand_id").alias("aid"),
                        F.col("rank").cast("long").alias("rk"))
        j = truth.join(r, (truth["query_id"] == r["query_id"]) &
                       (truth["truth_id"] == r["aid"]), "left")
        agg = j.agg(
            F.lit(path).alias("ann_path"),
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.count("rk").cast("long").alias("n_hits"),
            F.expr("CAST(sum(coalesce(1000 DIV rk, 0)) DIV count(1)"
                   " AS BIGINT)").alias("mrr_milli"))
        rows.append(agg)
    return rows[0].unionByName(rows[1]).orderBy("ann_path")


def sql_ann_mrr(table: str = "embeddings") -> str:
    from log_collector_spark.textops import similarity as S

    def lvl(path: str, sub: str) -> str:
        return f"""
            SELECT '{path}' AS ann_path,
                   CAST(COUNT(*) AS BIGINT) AS n_queries,
                   CAST(COUNT(r.rank) AS BIGINT) AS n_hits,
                   CAST(SUM(COALESCE(1000 // r.rank, 0)) // COUNT(*)
                        AS BIGINT) AS mrr_milli
            FROM truth t LEFT JOIN ({sub}) r
              ON r.query_id = t.query_id AND r.cand_id = t.truth_id
        """

    return f"""
        WITH brute AS ({S.sql_brute_force_topk(table)}),
        truth AS (
            SELECT query_id, cand_id AS truth_id FROM brute WHERE rank = 1
        )
        SELECT * FROM ({lvl('ivf', S.sql_ivf_ann_topk(table))}
                       UNION ALL {lvl('lsh', S.sql_lsh_ann_topk(table))})
        ORDER BY ann_path
    """


# ---------------------------------------------------------------------------
# ANN rank quality II: integer nDCG@k for both index families
# ---------------------------------------------------------------------------

# discount table in fixed-point micros: round(1e6 / log2(rank+1)), rank 1..k.
# Computed ONCE in Python (IEEE doubles, deterministic) and embedded as the
# SAME literal array in the Spark plan and the DuckDB oracle — the pattern
# IVF_CENTROIDS/EMB_PLANES established: floats never cross an engine
# boundary at query time.
import math as _math


def _ndcg_tables(k: int) -> tuple[list[int], list[int]]:
    disc = [round(1_000_000 / _math.log2(r + 1)) for r in range(1, k + 1)]
    prefix = []
    s = 0
    for d in disc:
        s += d
        prefix.append(s)
    return disc, prefix


def ann_ndcg(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Micro-averaged integer nDCG@k of each ANN path against the exact
    brute-force top-k — the third rank-quality lens after recall@k (was
    the truth retrieved) and MRR (how high did the single best hit
    surface): nDCG grades the WHOLE returned ranking, rewarding a path
    that puts every true neighbor early. Relevance is binary membership
    in the exact top-k; discounts are the standard 1/log2(rank+1) in
    fixed-point micros (``_ndcg_tables`` — same constants verbatim in
    both engines), so DCG/IDCG sums and the final permille are exact
    integer arithmetic.

    Returns (ann_path, n_queries, dcg_micro, idcg_micro, ndcg_permille)
    ORDER BY ann_path, micro-averaged: permille(sum DCG, sum IDCG).

    Plan: one shared brute-force exact scan (the expensive side, reused
    across paths exactly like ann_mrr); each path then joins two
    |queries|·k-row frames — nothing corpus-sized shuffles twice."""
    from log_collector_spark.textops import similarity as S

    disc, prefix = _ndcg_tables(S.TOP_K)
    disc_arr = F.lit(disc).cast("array<bigint>")
    idcg_arr = F.lit(prefix).cast("array<bigint>")

    truth = _persist_eval(S.brute_force_topk(df, vec_col).select(
        "query_id", F.col("cand_id").alias("truth_id")))
    per_q = (truth.groupBy("query_id")
             .agg(F.count(F.lit(1)).cast("int").alias("k_truth"))
             .select("query_id",
                     F.element_at(idcg_arr, F.col("k_truth"))
                      .alias("idcg")))
    rows = []
    for path, topk in (("ivf", S.ivf_ann_topk(df, vec_col)),
                       ("lsh", S.lsh_ann_topk(df, vec_col))):
        r = topk.select("query_id", F.col("cand_id").alias("aid"),
                        F.col("rank").cast("int").alias("rk"))
        hits = (truth.join(r, (truth["query_id"] == r["query_id"]) &
                           (truth["truth_id"] == r["aid"]))
                .select(truth["query_id"].alias("query_id"),
                        F.element_at(disc_arr, F.col("rk")).alias("d")))
        dcg_q = hits.groupBy("query_id").agg(
            F.sum("d").cast("long").alias("dcg"))
        agg = (per_q.join(dcg_q, "query_id", "left")
               .agg(F.lit(path).alias("ann_path"),
                    F.count(F.lit(1)).cast("long").alias("n_queries"),
                    F.coalesce(F.sum("dcg"), F.lit(0)).cast("long")
                     .alias("dcg_micro"),
                    F.sum("idcg").cast("long").alias("idcg_micro")))
        rows.append(agg)
    out = rows[0].unionByName(rows[1])
    return (out.withColumn("ndcg_permille",
                           C.permille(F.col("dcg_micro"),
                                      F.col("idcg_micro")))
            .orderBy("ann_path"))


def sql_ann_ndcg(table: str = "embeddings") -> str:
    from log_collector_spark.textops import similarity as S

    disc, prefix = _ndcg_tables(S.TOP_K)
    disc_sql = f"CAST({disc} AS BIGINT[])"
    idcg_sql = f"CAST({prefix} AS BIGINT[])"

    def lvl(path: str, sub: str) -> str:
        return f"""
            SELECT '{path}' AS ann_path,
                   CAST(COUNT(*) AS BIGINT) AS n_queries,
                   CAST(COALESCE(SUM(d.dcg), 0) AS BIGINT) AS dcg_micro,
                   CAST(SUM(p.idcg) AS BIGINT) AS idcg_micro
            FROM per_q p LEFT JOIN (
                SELECT t.query_id,
                       SUM(list_extract({disc_sql}, r.rank)) AS dcg
                FROM truth t JOIN ({sub}) r
                  ON r.query_id = t.query_id AND r.cand_id = t.truth_id
                GROUP BY t.query_id
            ) d ON d.query_id = p.query_id
        """

    return f"""
        WITH brute AS ({S.sql_brute_force_topk(table)}),
        truth AS (SELECT query_id, cand_id AS truth_id FROM brute),
        per_q AS (
            SELECT query_id,
                   list_extract({idcg_sql},
                                CAST(COUNT(*) AS INT)) AS idcg
            FROM truth GROUP BY query_id
        ),
        u AS ({lvl('ivf', S.sql_ivf_ann_topk(table))}
              UNION ALL {lvl('lsh', S.sql_lsh_ann_topk(table))})
        SELECT ann_path, n_queries, dcg_micro, idcg_micro,
               {C.sql_permille('dcg_micro', 'idcg_micro')} AS ndcg_permille
        FROM u ORDER BY ann_path
    """


# ---------------------------------------------------------------------------
# k-core peel over the near-dup graph
# ---------------------------------------------------------------------------

KCORE_K = 2


def kcore_peel(df: DataFrame, text_col: str = "text",
               k: int = KCORE_K) -> DataFrame:
    """One peel round of k-core decomposition (k=2) over the MinHash
    near-dup graph: nodes of degree < k are removed, surviving degrees
    recomputed. The k-core separates REAL duplicate families (dense
    cores survive peeling) from incidental one-off collisions (degree-1
    whiskers vanish in round one) — the pre-filter that keeps connected
    components from wiring whisker chains into mega-clusters.

    Per graph node: (doc_id, deg0, removed, deg1) ORDER BY doc_id, where
    deg0 is the full-graph degree, removed = deg0 < k, and deg1 the
    degree among survivors (0 for removed nodes). The full decomposition
    iterates this kernel with the dedup_clusters driver-loop pattern
    (localCheckpoint per round); one round is the distributed primitive
    and already the useful whisker report.

    Plan/scale: degrees are (node,1) hash aggs over the EDGE list (edges
    are threshold-verified pairs — tiny relative to the corpus); the
    survivor subgraph is two semi-joins of edges against the removed-node
    set. Text never moves."""
    from log_collector_spark.textops import dedup as D

    # the edge list is referenced by deg0 AND both survivor semi-joins;
    # persist the pair-scale frame so LSH pair-gen runs ONCE
    pairs = _persist_eval(D.minhash_lsh_pairs(df, text_col))
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .unionAll(pairs.select(F.col("doc_b").alias("src"),
                                    F.col("doc_a").alias("dst"))))
    deg0 = edges.groupBy(F.col("src").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg0"))
    keep = deg0.filter(F.col("deg0") >= k).select(F.col("doc_id"))
    surv = (edges.join(keep.withColumnRenamed("doc_id", "src"), "src",
                       "left_semi")
            .join(keep.withColumnRenamed("doc_id", "dst"), "dst",
                  "left_semi"))
    deg1 = surv.groupBy(F.col("src").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg1"))
    return (deg0.join(deg1, "doc_id", "left")
            .select("doc_id", "deg0",
                    (F.col("deg0") < k).alias("removed"),
                    F.coalesce("deg1", F.lit(0)).cast("long").alias("deg1"))
            .orderBy("doc_id"))


def sql_kcore_peel(table: str = "documents", k: int = KCORE_K) -> str:
    from log_collector_spark.textops import dedup as D

    return f"""
        WITH pairs AS ({D.sql_minhash_lsh_pairs(table)}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        deg0 AS (
            SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg0
            FROM edges GROUP BY src
        ),
        keep AS (SELECT doc_id FROM deg0 WHERE deg0 >= {k}),
        surv AS (
            SELECT e.src, e.dst FROM edges e
            WHERE e.src IN (SELECT doc_id FROM keep)
              AND e.dst IN (SELECT doc_id FROM keep)
        ),
        deg1 AS (
            SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg1
            FROM surv GROUP BY src
        )
        SELECT d0.doc_id, d0.deg0,
               d0.deg0 < {k} AS removed,
               CAST(COALESCE(d1.deg1, 0) AS BIGINT) AS deg1
        FROM deg0 d0 LEFT JOIN deg1 d1 ON d1.doc_id = d0.doc_id
        ORDER BY d0.doc_id
    """


# ---------------------------------------------------------------------------
# Link-prediction Jaccard: neighborhood overlap per near-dup edge
# ---------------------------------------------------------------------------


def link_jaccard(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Neighborhood-Jaccard strength of every near-dup edge: for edge
    (a,b), common = |N(a) ∩ N(b)| and union = deg(a)+deg(b)-common-2
    (endpoints excluded — a ∈ N(b) and b ∈ N(a) by edge existence, and
    the graph has no self-loops, so the intersection can never contain
    an endpoint). High-Jaccard edges sit INSIDE a duplicate family
    (safe to collapse transitively); near-zero edges are bridges between
    families the clustering step must not merge — the per-edge evidence
    behind choosing plain CC vs per-edge survivorship in dedup_clusters.

    Returns (doc_a, doc_b, deg_a, deg_b, common_n, union_n,
    jaccard_permille) ORDER BY doc_a, doc_b.

    Plan/scale: common-neighbor counting is the two-hop equi-join
    edges⋈adjacency⋈adjacency grouped by the edge — the same shape as
    triangle_count (each common neighbor IS a triangle through the
    edge), bounded by candidate-pair fan-out, not corpus size. At web
    scale orient the adjacency low-degree→high first (arboricity
    bound), exactly as triangle_count documents."""
    from log_collector_spark.textops import dedup as D

    # edges feed adjacency (x2), degrees, and the two-hop join —
    # persist the pair-scale frame so LSH pair-gen runs ONCE
    pairs = _persist_eval(D.minhash_lsh_pairs(df, text_col))
    edges = pairs.select(F.col("doc_a").alias("a"),
                         F.col("doc_b").alias("b"))
    adj = (edges.select(F.col("a").alias("src"), F.col("b").alias("nbr"))
           .unionAll(edges.select(F.col("b").alias("src"),
                                  F.col("a").alias("nbr"))))
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).cast("long")
                                 .alias("deg"))
    na = adj.select(F.col("src").alias("ja"), F.col("nbr").alias("ca"))
    nb = adj.select(F.col("src").alias("jb"), F.col("nbr").alias("cb"))
    common = (edges
              .join(na, F.col("a") == F.col("ja"))
              .join(nb, (F.col("b") == F.col("jb")) &
                        (F.col("ca") == F.col("cb")))
              .groupBy("a", "b")
              .agg(F.count(F.lit(1)).cast("long").alias("common_n")))
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b"))
    out = (edges.join(da, "a").join(db, "b")
           .join(common, ["a", "b"], "left")
           .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"),
                   "deg_a", "deg_b",
                   F.coalesce("common_n", F.lit(0)).cast("long")
                    .alias("common_n"))
           .withColumn("union_n",
                       (F.col("deg_a") + F.col("deg_b")
                        - F.col("common_n") - 2).cast("long")))
    return (out.withColumn("jaccard_permille",
                           C.permille(F.col("common_n"), F.col("union_n")))
            .orderBy("doc_a", "doc_b"))


def sql_link_jaccard(table: str = "documents") -> str:
    from log_collector_spark.textops import dedup as D

    return f"""
        WITH pairs AS ({D.sql_minhash_lsh_pairs(table)}),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
        adj AS (
            SELECT a AS src, b AS nbr FROM edges
            UNION ALL
            SELECT b AS src, a AS nbr FROM edges
        ),
        deg AS (
            SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
            FROM adj GROUP BY src
        ),
        common AS (
            SELECT e.a, e.b, CAST(COUNT(*) AS BIGINT) AS common_n
            FROM edges e
            JOIN adj na ON na.src = e.a
            JOIN adj nb ON nb.src = e.b AND nb.nbr = na.nbr
            GROUP BY e.a, e.b
        ),
        j AS (
            SELECT e.a AS doc_a, e.b AS doc_b,
                   da.deg AS deg_a, db.deg AS deg_b,
                   CAST(COALESCE(c.common_n, 0) AS BIGINT) AS common_n,
                   CAST(da.deg + db.deg - COALESCE(c.common_n, 0) - 2
                        AS BIGINT) AS union_n
            FROM edges e
            JOIN deg da ON da.src = e.a
            JOIN deg db ON db.src = e.b
            LEFT JOIN common c ON c.a = e.a AND c.b = e.b
        )
        SELECT doc_a, doc_b, deg_a, deg_b, common_n, union_n,
               {C.sql_permille('common_n', 'union_n')} AS jaccard_permille
        FROM j ORDER BY doc_a, doc_b
    """




# ---------------------------------------------------------------------------
# SQ8 recall: do scalar-quantized candidates keep the exact neighbors?
# ---------------------------------------------------------------------------


def sq8_recall(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Recall@k and top-1 preservation of the asymmetric SQ8 scan — the
    retrieval-side companion of :func:`similarity.sq8_recon_error`
    (which prices the compression in reconstruction units; this prices
    it in the unit that matters: did the NEIGHBORS change?). Queries
    stay exact, candidates are reconstructed from their 8-bit codes
    against the corpus per-dim [min,max] grid (asymmetric distance
    computation, the FAISS SQ8 default), rankings compared to the exact
    brute-force truth.

    Returns ONE row (n_queries, n_truth, n_hits, recall_permille,
    top1_preserved).

    Integer exactness: codes/reconstruction use the same floor-division
    chain sq8_recon_error proves exact at these magnitudes; dots are
    int64. Plan: per-dim stats are one narrow posexplode agg folded to a
    broadcast row; both top-k scans are the documented O(|queries|·n)
    eval pattern with queries broadcast — the corpus never shuffles."""
    from log_collector_spark.textops import similarity as S

    q = S._quantized(df, vec_col)
    dimstats = (q.select(F.posexplode("q").alias("dim", "v"))
                .groupBy("dim")
                .agg(F.min("v").cast("long").alias("mn"),
                     F.max("v").cast("long").alias("mx")))
    packed = (dimstats
              .agg(F.array_sort(F.collect_list(
                  F.struct("dim", "mn", "mx"))).alias("a"))
              .select(F.transform("a", lambda x: x["mn"]).alias("mn_a"),
                      F.transform("a", lambda x: x["mx"] - x["mn"])
                       .alias("rng_a")))

    def _recon(d, r):
        rs = F.greatest(r, F.lit(1))
        code = F.floor(d * 255 / rs)
        return F.when(r > 0, F.floor(code * rs / 255)).otherwise(
            F.lit(0).cast("long"))

    recon = (q.crossJoin(F.broadcast(packed))
             .select("vec_id",
                     F.zip_with(
                         F.zip_with("q", "mn_a", lambda x, m:
                                    (x - m).cast("long")),
                         "rng_a",
                         _recon).alias("rv"),
                     F.col("mn_a")))
    recon = recon.select(
        "vec_id", F.zip_with("rv", "mn_a",
                             lambda c, m: (c + m).cast("long")).alias("cv"))

    queries = (q.filter(F.col("vec_id") % S.QUERY_MOD == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("q").alias("qv")))
    from pyspark.sql.window import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"),
                                               F.asc("cand_id"))

    def topk(corpus):
        scored = (corpus.join(F.broadcast(queries),
                              F.col("cand_id") != F.col("query_id"))
                  .select("query_id", "cand_id",
                          C.int_dot(F.col("qv"), F.col("cv")).alias("dot")))
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= S.TOP_K)
                .select("query_id", "cand_id", "rank"))

    truth = topk(q.select(F.col("vec_id").alias("cand_id"),
                          F.col("q").alias("cv")))
    approx = topk(recon.select(F.col("vec_id").alias("cand_id"), "cv"))

    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    nq = queries.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    hits = (truth.join(
        approx.withColumnRenamed("rank", "a_rank"),
        ["query_id", "cand_id"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"),
             F.coalesce(F.sum(F.when((F.col("rank") == 1) &
                                     (F.col("a_rank") == 1), 1)
                              .otherwise(0)), F.lit(0)).cast("long")
             .alias("top1_preserved")))
    return (nq.crossJoin(nt).crossJoin(hits)
            .withColumn("recall_permille",
                        C.permille(F.col("n_hits"), F.col("n_truth")))
            .select("n_queries", "n_truth", "n_hits", "recall_permille",
                    "top1_preserved"))


def sql_sq8_recall(table: str = "embeddings") -> str:
    from log_collector_spark.textops import similarity as S

    qe = C.sql_quantized_embedding("embedding")
    k, qm = S.TOP_K, S.QUERY_MOD
    return f"""
        WITH q AS (
            SELECT vec_id, {qe} AS q FROM {table}
        ), ex AS (
            SELECT vec_id, t.dim AS dim, q[t.dim + 1] AS v
            FROM q, unnest(range(0, len(q))) AS t(dim)
        ), ds AS (
            SELECT dim, MIN(v) AS mn, MAX(v) - MIN(v) AS rng
            FROM ex GROUP BY 1
        ), recon AS (
            SELECT e.vec_id, e.dim,
                   CASE WHEN d.rng > 0 THEN
                        d.mn + ((e.v - d.mn) * 255 // d.rng) * d.rng // 255
                   ELSE d.mn END AS rv
            FROM ex e JOIN ds d USING (dim)
        ), rvec AS (
            SELECT vec_id,
                   list_transform(
                       list_sort(list(struct_pack(dim := dim, rv := rv))),
                       s -> s.rv) AS cv
            FROM recon GROUP BY vec_id
        ), queries AS (
            SELECT vec_id AS query_id, q AS qv FROM q
            WHERE vec_id % {qm} = 0
        ), truth AS (
            SELECT query_id, cand_id, rank FROM (
                SELECT qs.query_id, c.vec_id AS cand_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY qs.query_id
                           ORDER BY CAST(list_dot_product(qs.qv, c.q)
                                         AS BIGINT) DESC, c.vec_id) AS rank
                FROM queries qs JOIN q c ON c.vec_id <> qs.query_id
            ) WHERE rank <= {k}
        ), approx AS (
            SELECT query_id, cand_id, rank FROM (
                SELECT qs.query_id, r.vec_id AS cand_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY qs.query_id
                           ORDER BY CAST(list_dot_product(qs.qv, r.cv)
                                         AS BIGINT) DESC, r.vec_id) AS rank
                FROM queries qs JOIN rvec r ON r.vec_id <> qs.query_id
            ) WHERE rank <= {k}
        ), hits AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
                   CAST(COALESCE(SUM(CASE WHEN t.rank = 1 AND a.rank = 1
                                          THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS top1_preserved
            FROM truth t JOIN approx a
              ON a.query_id = t.query_id AND a.cand_id = t.cand_id
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM queries) AS n_queries,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
               h.n_hits,
               {C.sql_permille('h.n_hits',
                               '(SELECT COUNT(*) FROM truth)')}
                   AS recall_permille,
               h.top1_preserved
        FROM hits h
    """


# ---------------------------------------------------------------------------
# ANN rank quality III: integer mean average precision (mAP)
# ---------------------------------------------------------------------------


def ann_map(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Micro-averaged integer mAP@k per ANN path against the exact
    brute-force top-k — completes the retrieval-metric set (recall@k:
    was it found; MRR: how high was the best; nDCG: how good is the
    whole ranking; AP: how FRONT-LOADED are the hits). Per query, hits
    at approx ranks r_1<…<r_m give precision i/r_i at the i-th hit;
    ``ap_milli = (Σ i·1000 DIV r_i) DIV k_truth`` (floors are part of
    the definition, identical in both engines), and
    ``map_milli = Σ ap_milli DIV n_queries``.

    Returns (ann_path, n_queries, map_milli) ORDER BY ann_path.

    Plan: one shared persisted brute truth; per path a |queries|·k join
    + two tiny windows."""
    from pyspark.sql.window import Window
    from log_collector_spark.textops import similarity as S

    truth = _persist_eval(S.brute_force_topk(df, vec_col).select(
        "query_id", F.col("cand_id").alias("truth_id")))
    per_q = truth.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("k_truth"))
    rows = []
    for path, topk in (("ivf", S.ivf_ann_topk(df, vec_col)),
                       ("lsh", S.lsh_ann_topk(df, vec_col))):
        r = topk.select("query_id", F.col("cand_id").alias("aid"),
                        F.col("rank").cast("long").alias("rk"))
        hits = (truth.join(r, (truth["query_id"] == r["query_id"]) &
                           (truth["truth_id"] == r["aid"]))
                .select(truth["query_id"].alias("query_id"), "rk"))
        wh = Window.partitionBy("query_id").orderBy("rk")
        ap = (hits.withColumn("i", F.row_number().over(wh).cast("long"))
              .groupBy("query_id")
              .agg(F.sum(F.expr("i * 1000 DIV rk")).cast("long")
                   .alias("ap_num")))
        agg = (per_q.join(ap, "query_id", "left")
               .select(F.expr("CAST(coalesce(ap_num, 0) DIV k_truth"
                              " AS BIGINT)").alias("ap_milli"))
               .agg(F.lit(path).alias("ann_path"),
                    F.count(F.lit(1)).cast("long").alias("n_queries"),
                    F.expr("CAST(sum(ap_milli) DIV count(1) AS BIGINT)")
                    .alias("map_milli")))
        rows.append(agg)
    return rows[0].unionByName(rows[1]).orderBy("ann_path")


def sql_ann_map(table: str = "embeddings") -> str:
    from log_collector_spark.textops import similarity as S

    def lvl(path: str, sub: str) -> str:
        return f"""
            SELECT '{path}' AS ann_path,
                   CAST(COUNT(*) AS BIGINT) AS n_queries,
                   CAST(SUM(COALESCE(a.ap_num, 0) // p.k_truth)
                        // COUNT(*) AS BIGINT) AS map_milli
            FROM per_q p LEFT JOIN (
                SELECT query_id, CAST(SUM(i * 1000 // rk) AS BIGINT)
                           AS ap_num
                FROM (
                    SELECT t.query_id, r.rank AS rk,
                           ROW_NUMBER() OVER (PARTITION BY t.query_id
                                              ORDER BY r.rank) AS i
                    FROM truth t JOIN ({sub}) r
                      ON r.query_id = t.query_id
                     AND r.cand_id = t.truth_id
                ) GROUP BY query_id
            ) a ON a.query_id = p.query_id
        """

    return f"""
        WITH brute AS ({S.sql_brute_force_topk(table)}),
        truth AS (SELECT query_id, cand_id AS truth_id FROM brute),
        per_q AS (
            SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k_truth
            FROM truth GROUP BY query_id
        )
        SELECT * FROM ({lvl('ivf', S.sql_ivf_ann_topk(table))}
                       UNION ALL {lvl('lsh', S.sql_lsh_ann_topk(table))})
        ORDER BY ann_path
    """


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign-projection distortion audit
# ---------------------------------------------------------------------------

JL_K = 16  # projected dimensions (64 -> 16, the 4x bandwidth saving)
_rng_jl = __import__("random").Random(424242)
# fixed seeded ±1 sign matrix (Achlioptas 2001: database-friendly random
# projections) — embedded verbatim into the oracle SQL like EMB_PLANES
JL_SIGNS = [[_rng_jl.choice((-1, 1)) for _ in range(64)]
            for _ in range(JL_K)]


def jl_distortion(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Distance-distortion histogram of a ±1 sign projection (Achlioptas
    / Johnson-Lindenstrauss, 64 → ``JL_K`` dims): for every (query,
    candidate) pair, the ratio of projected to exact squared L2 distance
    — ``E[‖P(q−c)‖²] = JL_K·‖q−c‖²`` for a ±1 matrix, so the unbiased
    ratio_permille centers on 1000 — bucketed into deciles. The audit a
    pipeline runs before swapping full vectors for projected ones in a
    first-pass retrieval tier: how fat are the distortion tails at THIS
    corpus's geometry?

    Plan/scale: each side projects ONCE (a 16-term transform over the
    quantized vector — pure Catalyst), then the documented
    O(|queries|·n) eval join (queries broadcast, QUERY_MOD-sampled)
    computes both distances from the projected/full arrays; output is a
    constant-size histogram. Integer throughout: quantized vectors,
    integer sign matrix, permille ratio by integer DIV — exact DuckDB
    oracle from the same constants."""
    sq = C.quantized_embedding(F.col(vec_col))
    proj = F.transform(
        F.array(*[F.lit(r).cast("array<bigint>") for r in JL_SIGNS]),
        lambda r: C.int_dot(r, F.col("q")))
    q = (df.select("vec_id", sq.alias("q"))
           .select("vec_id", "q", proj.alias("p")))
    queries = (q.filter(F.col("vec_id") % 100 == 0)
                .select(F.col("vec_id").alias("query_id"),
                        F.col("q").alias("qv"), F.col("p").alias("qp")))
    pairs = (q.select(F.col("vec_id").alias("cand_id"),
                      F.col("q").alias("cv"), F.col("p").alias("cp"))
             .join(F.broadcast(queries),
                   F.col("cand_id") != F.col("query_id")))
    d2 = F.aggregate(F.zip_with(F.col("qv"), F.col("cv"),
                                lambda a, b: (a - b) * (a - b)),
                     F.lit(0).cast("long"), lambda acc, x: acc + x)
    p2 = F.aggregate(F.zip_with(F.col("qp"), F.col("cp"),
                                lambda a, b: (a - b) * (a - b)),
                     F.lit(0).cast("long"), lambda acc, x: acc + x)
    ratio = F.expr(f"p2 * 1000 DIV ({JL_K} * d2)")
    scored = (pairs.select(d2.alias("d2"), p2.alias("p2"))
              .filter(F.col("d2") > 0)
              .select(ratio.alias("ratio_pm")))
    return (scored.groupBy(F.expr("ratio_pm DIV 100").cast("long")
                           .alias("ratio_bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.expr("SUM(ratio_pm) DIV COUNT(*)").cast("long")
                  .alias("mean_ratio_pm"))
            .orderBy("ratio_bucket"))


def sql_jl_distortion(table: str = "embeddings") -> str:
    qe = C.sql_quantized_embedding("embedding")
    signs = ", ".join(f"({j}, {r}::BIGINT[])"
                      for j, r in enumerate(JL_SIGNS))
    return f"""
        WITH q0 AS (SELECT vec_id, {qe} AS q FROM {table}),
        signs(j, r) AS (VALUES {signs}),
        q AS (
            SELECT q0.vec_id, ANY_VALUE(q0.q) AS q,
                   list(CAST(list_dot_product(s.r, q0.q) AS BIGINT)
                        ORDER BY s.j) AS p
            FROM q0, signs s GROUP BY q0.vec_id
        ), pairs AS (
            SELECT CAST(list_sum(list_transform(
                       list_zip(qs.q, c.q),
                       z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)
                       AS d2,
                   CAST(list_sum(list_transform(
                       list_zip(qs.p, c.p),
                       z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)
                       AS p2
            FROM q qs JOIN q c ON c.vec_id <> qs.vec_id
            WHERE qs.vec_id % 100 = 0
        ), scored AS (
            SELECT p2 * 1000 // ({JL_K} * d2) AS ratio_pm
            FROM pairs WHERE d2 > 0
        )
        SELECT CAST(ratio_pm // 100 AS BIGINT) AS ratio_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(ratio_pm) // COUNT(*) AS BIGINT) AS mean_ratio_pm
        FROM scored
        GROUP BY 1 ORDER BY 1
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "jl_distortion",
    """Johnson-Lindenstrauss ±1 sign-projection (64→16) distance
    distortion histogram over query×corpus pairs, permille deciles.""",
    lambda spark, sf_dir: jl_distortion(embs(spark, sf_dir)),
    sql_jl_distortion)

register(
    "simhash_calibration",
    """Hamming × exact-Jaccard cross-tab over simhash band candidates —
    the threshold-selection evidence for SIMHASH_HAMMING_MAX.""",
    lambda spark, sf_dir: simhash_calibration(docs(spark, sf_dir)),
    sql_simhash_calibration)

register(
    "ann_mrr_embeddings",
    """Integer MRR of the true nearest neighbor inside each ANN path's
    top-k — rank quality, sharing one brute-force truth scan.""",
    lambda spark, sf_dir: ann_mrr(embs(spark, sf_dir)),
    sql_ann_mrr)

register(
    "ann_ndcg_embeddings",
    """Micro-averaged integer nDCG@k per ANN path vs the exact top-k —
    grades the whole returned ranking, not just the best hit.""",
    lambda spark, sf_dir: ann_ndcg(embs(spark, sf_dir)),
    sql_ann_ndcg)

register(
    "kcore_peel_documents",
    """One k-core peel round (k=2) over the MinHash near-dup graph:
    whisker removal report (deg0, removed, surviving degree).""",
    lambda spark, sf_dir: kcore_peel(docs(spark, sf_dir)),
    sql_kcore_peel)

register(
    "link_jaccard_documents",
    """Neighborhood-Jaccard strength per near-dup edge: family-internal
    edges vs bridges the clustering step must not merge across.""",
    lambda spark, sf_dir: link_jaccard(docs(spark, sf_dir)),
    sql_link_jaccard)

register(
    "sq8_recall_embeddings",
    """Asymmetric SQ8 retrieval audit: recall@k + top-1 preservation of
    reconstructed candidates vs the exact brute-force truth.""",
    lambda spark, sf_dir: sq8_recall(embs(spark, sf_dir)),
    sql_sq8_recall)

register(
    "ann_map_embeddings",
    """Micro-averaged integer mAP@k per ANN path — the front-loadedness
    metric completing recall/MRR/nDCG.""",
    lambda spark, sf_dir: ann_map(embs(spark, sf_dir)),
    sql_ann_map)

register(
    "lsh_probe_curve",
    """Recall@k vs LSH multiprobe budget (0/2/4/8 plane flips) against one
    shared brute-force truth scan — the LSH twin of ivf_nprobe_curve.""",
    lambda spark, sf_dir: lsh_probe_curve(embs(spark, sf_dir)),
    sql_lsh_probe_curve)

register(
    "matryoshka_recall",
    """Dimension-truncation eval: recall@k of a 16-dim-prefix brute scan
    against the full 64-dim exact top-k (the Matryoshka serving bet).""",
    lambda spark, sf_dir: matryoshka_recall(embs(spark, sf_dir)),
    sql_matryoshka_recall)

register(
    "ann_recall_embeddings",
    """Per-query recall@k of the LSH ANN index vs brute-force ground truth
    (textops/evalops.py — the published quality metric of the index).""",
    lambda spark, sf_dir: ann_recall(embs(spark, sf_dir)),
    sql_ann_recall)

register(
    "minhash_estimate_error",
    """MinHash sketch calibration: estimated vs exact Jaccard per LSH
    candidate pair (threshold-free — rejected pairs included).""",
    lambda spark, sf_dir: minhash_estimate_error(docs(spark, sf_dir)),
    sql_minhash_estimate_error)

register(
    "ivf_balance_embeddings",
    "IVF cell-population skew report (hot cell = hot partition at scale).",
    lambda spark, sf_dir: ivf_balance(embs(spark, sf_dir)),
    sql_ivf_balance)

register(
    "tokenizer_fertility",
    "Per-source chars-per-token fertility (tokenizer-change gate).",
    lambda spark, sf_dir: tokenizer_fertility(docs(spark, sf_dir)),
    sql_tokenizer_fertility)

register(
    "packing_efficiency",
    "Per-(source, shard) sequence-packing waste report.",
    lambda spark, sf_dir: packing_efficiency(docs(spark, sf_dir)),
    sql_packing_efficiency)

register(
    "ivfadc_recall",
    """Recall@k decomposition of the compressed IVFADC scan: exact-L2
    ground truth vs probed-cells ceiling vs ADC ranking — isolates
    coarse-quantizer loss from PQ compression loss per query.""",
    lambda spark, sf_dir: ivfadc_recall(embs(spark, sf_dir)),
    sql_ivfadc_recall)

register(
    "ivf_nprobe_curve",
    """IVF tuning curve: micro-averaged recall@k at nprobe = 1, 2, 3 vs
    the exact brute-force top-k (what each extra probe buys).""",
    lambda spark, sf_dir: ivf_nprobe_curve(embs(spark, sf_dir)),
    sql_ivf_nprobe_curve)

register(
    "neardup_degree_histogram",
    """Power-of-two degree histogram of the MinHash near-dup graph (the
    dedup blast-radius / mega-cluster early-warning report).""",
    lambda spark, sf_dir: neardup_degree_histogram(docs(spark, sf_dir)),
    sql_neardup_degree_histogram)

register(
    "pagerank_step_documents",
    """One damped PageRank power iteration over the near-dup graph in
    fixed-point integers (template/hub-document centrality).""",
    lambda spark, sf_dir: pagerank_step(docs(spark, sf_dir)),
    sql_pagerank_step)

register(
    "triangle_count_documents",
    "Triangle census of the near-dup graph (template family vs chain).",
    lambda spark, sf_dir: triangle_count(docs(spark, sf_dir)),
    sql_triangle_count)

register(
    "clustering_coefficient",
    """Per-node local clustering coefficient of the near-dup graph:
    clique members (collapse-safe) vs chain hubs (over-merge risk).""",
    lambda spark, sf_dir: clustering_coefficient(docs(spark, sf_dir)),
    sql_clustering_coefficient)
