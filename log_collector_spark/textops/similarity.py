"""Similarity search over an embedding column (array<float>).

- **Brute-force top-k** (the exact baseline): broadcast the query set,
  integer-quantized dot products, per-query window top-k. At scale this is
  one narrow pass over the corpus (queries are broadcast; no corpus shuffle)
  + a top-k shuffle of only k·|queries| candidate rows — Spark's
  rank-within-partition + global re-rank would cut that further, but the
  window over (query_id) is already tiny.
- **LSH-bucketed ANN** (the scale path): sign-LSH buckets (same planes as
  dedup) restrict each query to its bucket; multiprobe = exact Hamming-1
  neighbor buckets. Integer arithmetic throughout → value-identical DuckDB
  oracle generated from the same constants.
- **IVF ANN** (the other classic scale path): a fixed coarse quantizer of
  ``IVF_K`` seeded integer centroids partitions the corpus into cells
  (assignment = argmin squared-L2, computed as the integer
  ``|c|² − 2·v·c`` — the ``|v|²`` term is constant per vector); each query
  probes its ``IVF_NPROBE`` nearest cells and exact-dot re-ranks inside
  them. Cell assignment and probe selection are pure Catalyst array ops
  (no shuffle); the only shuffle is the per-query top-k. At 100 TB the
  cell id is what you PARTITION the stored corpus BY, so a probe becomes a
  partition-pruned scan.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from log_collector_spark.textops import common as C
from log_collector_spark.textops.dedup import (
    EMB_PLANES, _emb_bucket,
)
from log_collector_spark.registry import embs, register

TOP_K = 5
QUERY_MOD = 100  # vec_id % QUERY_MOD == 0 → query vector

IVF_K, IVF_NPROBE = 16, 3
_rng_ivf = random.Random(271828)
# fixed seeded integer centroids (64-dim, same magnitude as the LSH planes);
# embedded verbatim into the oracle SQL like EMB_PLANES
IVF_CENTROIDS = [[_rng_ivf.randrange(-50, 51) for _ in range(64)]
                 for _ in range(IVF_K)]
_IVF_C2 = [sum(x * x for x in c) for c in IVF_CENTROIDS]


def _quantized(df: DataFrame, vec_col: str) -> DataFrame:
    # ONE F.expr string instead of Column-API composition: building the
    # lambda tree through py4j cost ~0.8 s of DRIVER time per plan (every
    # .lit/.cast/operator is a JVM round-trip); the parsed-SQL form is one
    # call and produces the identical expression.
    return df.select("vec_id", F.expr(
        f"transform({vec_col}, x -> cast(round(cast(x as double)"
        f" * {C.EMB_SCALE}, 0) as bigint))").alias("q"))


def brute_force_topk(df: DataFrame, vec_col: str = "embedding",
                     k: int = TOP_K, query_mod: int = QUERY_MOD) -> DataFrame:
    """Exact top-k neighbors by integer dot product for each query vector
    (ties broken by vec_id). Self-match excluded."""
    q = _quantized(df, vec_col)
    queries = q.filter(F.col("vec_id") % query_mod == 0) \
               .select(F.col("vec_id").alias("query_id"),
                       F.col("q").alias("qv"))
    corpus = q.select(F.col("vec_id").alias("cand_id"), F.col("q").alias("cv"))
    scored = (corpus.join(F.broadcast(queries),
                          F.col("cand_id") != F.col("query_id"))
              .select("query_id", "cand_id",
                      C.int_dot(F.col("qv"), F.col("cv")).alias("dot")))
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "cand_id", "dot",
                          F.col("rank").cast("int").alias("rank")))


def sql_brute_force_topk(table: str = "embeddings", k: int = TOP_K,
                         query_mod: int = QUERY_MOD) -> str:
    qe = C.sql_quantized_embedding("embedding")
    return f"""
        WITH q AS (SELECT vec_id, {qe} AS q FROM {table}),
        scored AS (
            SELECT qs.vec_id AS query_id, c.vec_id AS cand_id,
                   CAST(list_dot_product(qs.q, c.q) AS BIGINT) AS dot
            FROM q qs JOIN q c ON c.vec_id <> qs.vec_id
            WHERE qs.vec_id % {query_mod} = 0
        )
        SELECT query_id, cand_id, dot, CAST(rank AS INT) AS rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY dot DESC, cand_id) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


def lsh_ann_topk(df: DataFrame, vec_col: str = "embedding",
                 k: int = TOP_K, query_mod: int = QUERY_MOD,
                 flips: int | None = None) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-LSH
    bucket and its Hamming-1 neighbor buckets (multiprobe), then exact
    integer dot re-rank. Deterministic → construct-equal oracle.
    ``flips`` limits multiprobe to the first N plane flips (None = all —
    the probe-budget dial evalops.lsh_probe_curve sweeps)."""
    n_flips = len(EMB_PLANES) if flips is None else flips
    q = _quantized(df, vec_col).withColumn("bucket",
                                           _emb_bucket(F.col("q")))
    probes = F.array(*([F.col("bucket")] + [
        F.col("bucket").bitwiseXOR(1 << j) for j in range(n_flips)]))
    queries = (q.filter(F.col("vec_id") % query_mod == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("q").alias("qv"),
                       F.explode(probes).alias("probe")))
    corpus = q.select(F.col("vec_id").alias("cand_id"),
                      F.col("q").alias("cv"), F.col("bucket"))
    scored = (corpus.join(F.broadcast(queries),
                          (F.col("bucket") == F.col("probe")) &
                          (F.col("cand_id") != F.col("query_id")))
              .select("query_id", "cand_id",
                      C.int_dot(F.col("qv"), F.col("cv")).alias("dot"))
              .distinct())
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "cand_id", "dot",
                          F.col("rank").cast("int").alias("rank")))


def _ivf_cell_scores() -> Column:
    """array<struct<dist,cid>> of the quantized vector column ``q``'s
    distance term to every centroid; ``array_min``/``array_sort`` order by
    (dist, cid) — the same tie-break as the oracle's ROW_NUMBER ORDER BY
    dist, cid. The expression is bound to the column named ``q`` by
    contract (every caller aliases its quantized vector to ``q``); the
    no-arg signature makes that contract explicit.

    Shaped as ONE ``transform`` over a nested centroid-array literal rather
    than 16 unrolled dot-product subtrees: the unrolled form compiled for
    ~4 s per job (whole-stage codegen over 16 aggregate/zip_with chains)
    before a 0.8 s execution — the loop form keeps the expression tree tiny
    and the runtime identical. Built as ONE F.expr string (the Column-API
    form cost ~0.8 s of driver py4j time per plan)."""
    cents = ", ".join(
        "array(" + ", ".join(f"{v}L" for v in c) + ")"
        for c in IVF_CENTROIDS)
    c2s = "array(" + ", ".join(f"{x}L" for x in _IVF_C2) + ")"
    return F.expr(
        f"transform(array({cents}), (c, i) -> named_struct("
        f"'dist', element_at({c2s}, cast(i + 1 as int)) - 2L * "
        f"aggregate(zip_with(q, c, (x, y) -> x * y), 0L,"
        f" (acc, x) -> acc + x), "
        f"'cid', cast(i as bigint)))")


def ivf_ann_topk(df: DataFrame, vec_col: str = "embedding",
                 k: int = TOP_K, query_mod: int = QUERY_MOD,
                 nprobe: int = IVF_NPROBE) -> DataFrame:
    """IVF-flat ANN: nearest-centroid cells, nprobe probing, exact re-rank.

    Each (query, candidate) pair appears at most once (cells are disjoint),
    so no distinct is needed before the top-k.
    """
    q = _quantized(df, vec_col)
    scores = _ivf_cell_scores()
    corpus = q.select(F.col("vec_id").alias("cand_id"),
                      F.col("q").alias("cv"),
                      F.array_min(scores)["cid"].alias("cell"))
    probes = F.slice(F.array_sort(scores), 1, nprobe)
    queries = (q.filter(F.col("vec_id") % query_mod == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("q").alias("qv"),
                       F.explode(probes).alias("p"))
               .select("query_id", "qv", F.col("p.cid").alias("probe")))
    scored = (corpus.join(F.broadcast(queries),
                          (F.col("cell") == F.col("probe")) &
                          (F.col("cand_id") != F.col("query_id")))
              .select("query_id", "cand_id",
                      C.int_dot(F.col("qv"), F.col("cv")).alias("dot")))
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "cand_id", "dot",
                          F.col("rank").cast("int").alias("rank")))


def sql_ivf_ann_topk(table: str = "embeddings", k: int = TOP_K,
                     query_mod: int = QUERY_MOD,
                     nprobe: int = IVF_NPROBE) -> str:
    qe = C.sql_quantized_embedding("embedding")
    cent_rows = ", ".join(
        f"({i}, {_IVF_C2[i]}, {c}::BIGINT[])"
        for i, c in enumerate(IVF_CENTROIDS))
    return f"""
        WITH q AS (
            SELECT vec_id, {qe} AS q FROM {table}
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
            FROM ranked WHERE vec_id % {query_mod} = 0 AND rn <= {nprobe}
        ), scored AS (
            SELECT p.query_id, c.vec_id AS cand_id,
                   CAST(list_dot_product(p.qv, c.q) AS BIGINT) AS dot
            FROM probes p JOIN cells c
              ON c.cell = p.probe AND c.vec_id <> p.query_id
        )
        SELECT query_id, cand_id, dot, CAST(rank AS INT) AS rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY dot DESC, cand_id) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


def sql_lsh_ann_topk(table: str = "embeddings", k: int = TOP_K,
                     query_mod: int = QUERY_MOD,
                     flips: int | None = None) -> str:
    n_flips = len(EMB_PLANES) if flips is None else flips
    qe = C.sql_quantized_embedding("embedding")
    bucket_terms = " + ".join(
        "CASE WHEN CAST(list_dot_product(q, {plane}::BIGINT[]) AS BIGINT) > 0 "
        "THEN CAST({bit} AS BIGINT) ELSE 0 END".format(
            plane=str(plane), bit=1 << j)
        for j, plane in enumerate(EMB_PLANES))
    probe_list = "[bucket" + "".join(
        f", xor(bucket, CAST({1 << j} AS BIGINT))"
        for j in range(n_flips)) + "]"
    return f"""
        WITH q AS (
            SELECT vec_id, {qe} AS q FROM {table}
        ), qb AS (
            SELECT vec_id, q, {bucket_terms} AS bucket FROM q
        ), queries AS (
            SELECT vec_id AS query_id, q AS qv, unnest({probe_list}) AS probe
            FROM qb WHERE vec_id % {query_mod} = 0
        ), scored AS (
            SELECT DISTINCT qs.query_id, c.vec_id AS cand_id,
                   CAST(list_dot_product(qs.qv, c.q) AS BIGINT) AS dot
            FROM queries qs JOIN qb c
              ON c.bucket = qs.probe AND c.vec_id <> qs.query_id
        )
        SELECT query_id, cand_id, dot, CAST(rank AS INT) AS rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY dot DESC, cand_id) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# kNN label consistency (mislabel detection over the embedding space)
# ---------------------------------------------------------------------------

KNN_K = 5


def knn_label_consistency(df: DataFrame, vec_col: str = "embedding",
                          label_col: str = "label",
                          k: int = KNN_K) -> DataFrame:
    """Per-vector label QA: majority label among the k nearest neighbors
    (exact integer dot, self excluded; neighbor ties break on cand_id,
    majority ties on the smaller label) vs the vector's own label — the
    cleanlab-style mislabeled-example screen for a labeled training set.

    This exact form scores all pairs (the corpus side carries its label, so
    no join-back); at 100 TB the candidate set comes from the IVF cells the
    corpus is partitioned by (see :func:`ivf_ann_topk`) and the rest of the
    plan — top-k window, (vec, neighbor-label) count, majority window — is
    unchanged and shuffles only k rows per vector."""
    q = df.select("vec_id", F.col(label_col).cast("long").alias("label"),
                  C.quantized_embedding(F.col(vec_col)).alias("q"))
    corpus = q.select(F.col("vec_id").alias("cand_id"),
                      F.col("label").alias("cand_label"),
                      F.col("q").alias("cv"))
    scored = (q.join(F.broadcast(corpus),
                     F.col("cand_id") != F.col("vec_id"))
               .select("vec_id", "label", "cand_label",
                       C.int_dot(F.col("q"), F.col("cv")).alias("dot"),
                       "cand_id"))
    wk = Window.partitionBy("vec_id").orderBy(F.desc("dot"), F.asc("cand_id"))
    knn = scored.withColumn("rn", F.row_number().over(wk)) \
                .filter(F.col("rn") <= k)
    votes = (knn.groupBy("vec_id", "label", "cand_label")
                .agg(F.count(F.lit(1)).alias("n")))
    wm = Window.partitionBy("vec_id").orderBy(F.desc("n"),
                                              F.asc("cand_label"))
    return (votes.withColumn("mrn", F.row_number().over(wm))
            .filter(F.col("mrn") == 1)
            .select("vec_id", "label",
                    F.col("cand_label").alias("majority_label"),
                    F.col("n").alias("n_majority"),
                    (F.col("cand_label") != F.col("label"))
                    .alias("mismatch")))


def sql_knn_label_consistency(table: str = "embeddings",
                              k: int = KNN_K) -> str:
    qe = C.sql_quantized_embedding("embedding")
    return f"""
        WITH q AS (
            SELECT vec_id, CAST(label AS BIGINT) AS label, {qe} AS q
            FROM {table}
        ), knn AS (
            SELECT * FROM (
                SELECT a.vec_id, a.label, c.label AS cand_label,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY list_dot_product(a.q, c.q) DESC,
                                    c.vec_id) AS rn
                FROM q a JOIN q c ON c.vec_id <> a.vec_id
            ) WHERE rn <= {k}
        ), votes AS (
            SELECT vec_id, label, cand_label, COUNT(*) AS n
            FROM knn GROUP BY 1, 2, 3
        )
        SELECT vec_id, label, cand_label AS majority_label,
               CAST(n AS BIGINT) AS n_majority,
               cand_label <> label AS mismatch
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY n DESC, cand_label) AS mrn
            FROM votes
        ) WHERE mrn = 1
    """


def label_centroid_stats(df: DataFrame,
                         vec_col: str = "embedding") -> DataFrame:
    """Per-label centroid sums in long format: element-wise sums of the
    quantized vectors per (label, dim), plus the member count — the
    class-separation audit a labeled embedding table gets before training
    (centroid = s / n, computed by the consumer; emitting the integer SUM
    keeps the output exact and mergeable across shards).

    Plan shape: posexplode is a narrow ×dims expansion (dims is a small
    constant), then ONE hash agg on (label, dim) with map-side combine —
    the same partial-aggregation shape as a word count, no join, no
    window. Works unchanged at 10^9 vectors because the output is
    #labels × dims rows."""
    q = df.select("label",
                  F.posexplode(C.quantized_embedding(F.col(vec_col)))
                   .alias("dim", "v"))
    return (q.groupBy("label", "dim")
             .agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.sum("v").cast("long").alias("s"),
                  F.min("v").cast("long").alias("lo"),
                  F.max("v").cast("long").alias("hi"))
             .select(F.col("label").cast("long").alias("label"),
                     F.col("dim").cast("long").alias("dim"),
                     "n", "s", "lo", "hi"))


def sql_label_centroid_stats(table: str = "embeddings") -> str:
    q = C.sql_quantized_embedding("embedding")
    return f"""
        WITH base AS (SELECT label, {q} AS q FROM {table}),
        ex AS (
            SELECT label, t.dim AS dim, q[t.dim + 1] AS v
            FROM base, unnest(range(0, len(q))) AS t(dim)
        )
        SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s,
               CAST(MIN(v) AS BIGINT) AS lo,
               CAST(MAX(v) AS BIGINT) AS hi
        FROM ex GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al.) — vector compression for billion-scale
# ANN: the 64-dim vector becomes PQ_M 4-bit codes (here 8 codes = one int64)
# ---------------------------------------------------------------------------

PQ_M = 8      # subvectors per embedding
PQ_DSUB = 8   # dims per subvector (PQ_M * PQ_DSUB = 64)
PQ_KS = 16    # centroids per subspace → 4-bit codes
_rng_pq = random.Random(7)
# fixed seeded integer codebooks (same magnitude as the quantized
# embeddings: round(x*1000) lands in ~[-530, 460] on the synthetic corpus);
# embedded verbatim into the oracle SQL like EMB_PLANES / IVF_CENTROIDS
PQ_CODEBOOKS = [[[_rng_pq.randrange(-500, 501) for _ in range(PQ_DSUB)]
                 for _ in range(PQ_KS)] for _ in range(PQ_M)]


def _pq_packed_best(m: int) -> Column:
    """Packed (dist * PQ_KS + cid) of subspace ``m``'s nearest codebook
    centroid — min over the packed int = lexicographic (dist, cid).
    Bound to the quantized column named ``q`` by contract (every caller);
    one F.expr string to keep plan construction off the py4j hot path."""
    cents = ", ".join(
        f"named_struct('cid', {c}, 'cv', array("
        + ", ".join(str(v) for v in PQ_CODEBOOKS[m][c]) + "))"
        for c in range(PQ_KS))
    return F.expr(
        f"array_min(transform(array({cents}), s -> "
        f"aggregate(zip_with(slice(q, {m * PQ_DSUB + 1}, {PQ_DSUB}),"
        f" s.cv, (x, y) -> (x - y) * (x - y)), 0L,"
        f" (acc, x) -> acc + x) * {PQ_KS} + s.cid))")


def _sql_pq_best(m: int) -> str:
    terms = []
    for c in range(PQ_KS):
        d = " + ".join(
            f"(q[{m * PQ_DSUB + d + 1}] - ({PQ_CODEBOOKS[m][c][d]}))"
            f" * (q[{m * PQ_DSUB + d + 1}] - ({PQ_CODEBOOKS[m][c][d]}))"
            for d in range(PQ_DSUB))
        terms.append(f"CAST({d} AS BIGINT) * {PQ_KS} + {c}")
    return "least(" + ", ".join(terms) + ")"


def pq_codes(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Product-quantization encoding: split the quantized embedding into
    ``PQ_M`` subvectors, assign each to its nearest of ``PQ_KS`` codebook
    centroids (squared-L2, ties to the lowest centroid id), and pack the
    codes into ONE int64 — the 16-byte-per-vector representation that makes
    billion-vector ANN fit in memory (Jégou et al., "Product Quantization
    for Nearest Neighbor Search"; the IVF+PQ pairing is the FAISS
    workhorse). Also returns the total squared reconstruction error, the
    quantity PQ training minimizes and the quality metric a pipeline
    monitors per batch.

    Returns (vec_id, pq_code, err_q).

    Plan: pure Catalyst — per-subvector argmin over a 16-element literal
    codebook array via ``array_min`` of PACKED (dist * 16 + cid) int64s
    (min over a packed integer = lexicographic (dist, cid), so
    tie-breaking is engine-order-free), then an integer dot to pack the 8
    nibbles. No shuffle, no UDF: at 100 TB this encodes in one narrow
    scan-and-write pass, and the codes column is what the serving index
    stores. Codebooks here are seeded constants (training them is a
    k-means job upstream); assignment — the 100-TB-side cost — is the
    part this operator owns."""
    q = _quantized(df, vec_col)
    packed = [ _pq_packed_best(m).alias(f"p_{m}")
               for m in range(PQ_M) ]
    enc = q.select("vec_id", *packed)
    code = sum((F.col(f"p_{m}") % PQ_KS) * (PQ_KS ** m) for m in range(PQ_M))
    err = sum(F.floor(F.col(f"p_{m}") / PQ_KS) for m in range(PQ_M))
    return enc.select(
        "vec_id",
        code.cast("long").alias("pq_code"),
        err.cast("long").alias("err_q"))


def sql_pq_codes(table: str = "embeddings") -> str:
    qe = C.sql_quantized_embedding("embedding")
    packs = ", ".join(f"{_sql_pq_best(m)} AS p_{m}" for m in range(PQ_M))
    code = " + ".join(f"(p_{m} % {PQ_KS}) * {PQ_KS ** m}"
                      for m in range(PQ_M))
    err = " + ".join(f"(p_{m} // {PQ_KS})" for m in range(PQ_M))
    return f"""
        WITH q AS (SELECT vec_id, {qe} AS q FROM {table}),
        enc AS (SELECT vec_id, {packs} FROM q)
        SELECT vec_id,
               CAST({code} AS BIGINT) AS pq_code,
               CAST({err} AS BIGINT) AS err_q
        FROM enc
    """


def kmeans_step(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """One Lloyd iteration of k-means over the quantized embeddings against
    the IVF coarse centroids — the training job that produces the
    IVF/PQ codebooks the ANN operators consume (assign → per-cell mean →
    recenter), expressed as a single Spark aggregation so each iteration
    is one pass over the corpus.

    Returns (cell, dim, n, sum_q, new_c, drift) — one row per
    (centroid, dimension): member count, exact coordinate sum, the
    floored new centroid coordinate, and |new - old| (the convergence
    metric a training loop thresholds on).

    Plan: assignment is the pure-Catalyst argmin of `_ivf_cell_scores`
    (no shuffle, no join — centroids are literals, at scale a broadcast
    variable refreshed per iteration); posexplode to (cell, dim, x) and
    ONE map-side-combined hash agg on (cell, dim) — K*dims output rows
    regardless of corpus size, the mergeable-statistic shape that makes
    distributed k-means scale. The floored mean uses the positive-mod
    identity ``(s - ((s % n + n) % n)) / n`` so the quotient is an exact
    double in both engines (truncating DIV vs flooring // differ on
    negative sums)."""
    q = _quantized(df, vec_col)
    cell = F.array_min(_ivf_cell_scores())["cid"]
    # the argmin lands in its own projection: resolving the lambda-built
    # struct in the same select as a generator (posexplode) strips the
    # struct's field names (col1/col2) and the ["cid"] access fails
    assigned = q.select(cell.alias("cell"), "q")
    ex = assigned.select("cell", F.posexplode("q").alias("dim", "x"))
    agg = (ex.groupBy("cell", "dim")
             .agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.sum("x").cast("long").alias("sum_q")))
    posmod = (F.col("sum_q") % F.col("n") + F.col("n")) % F.col("n")
    new_c = ((F.col("sum_q") - posmod) / F.col("n")).cast("long")
    cents = F.array(*[F.lit(c).cast("array<bigint>") for c in IVF_CENTROIDS])
    old_c = F.element_at(F.element_at(cents, F.col("cell").cast("int") + 1),
                         F.col("dim").cast("int") + 1)
    return (agg.select(F.col("cell").cast("long").alias("cell"),
                       F.col("dim").cast("long").alias("dim"),
                       "n", "sum_q", new_c.alias("new_c"),
                       F.abs(new_c - old_c).cast("long").alias("drift")))


def sql_kmeans_step(table: str = "embeddings") -> str:
    qe = C.sql_quantized_embedding("embedding")
    cent_rows = ", ".join(
        f"({i}, {_IVF_C2[i]}, {c}::BIGINT[])"
        for i, c in enumerate(IVF_CENTROIDS))
    return f"""
        WITH q AS (
            SELECT vec_id, {qe} AS q FROM {table}
        ), cent AS (
            SELECT * FROM (VALUES {cent_rows}) AS t(cid, c2, c)
        ), assign AS (
            SELECT vec_id, q, cid,
                   c2 - 2 * CAST(list_dot_product(q, c) AS BIGINT) AS dist
            FROM q CROSS JOIN cent
        ), cells AS (
            SELECT vec_id, q, cid AS cell FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                             ORDER BY dist, cid) AS rn
                FROM assign
            ) WHERE rn = 1
        ), ex AS (
            SELECT cell, i AS dim, q[i + 1] AS x
            FROM cells, unnest(range(0, len(q))) AS t(i)
        ), agg AS (
            SELECT cell, dim,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sum_q
            FROM ex GROUP BY cell, dim
        )
        SELECT CAST(cell AS BIGINT) AS cell, CAST(dim AS BIGINT) AS dim,
               n, sum_q,
               CAST((sum_q - ((sum_q % n + n) % n)) / n AS BIGINT) AS new_c,
               CAST(abs(CAST((sum_q - ((sum_q % n + n) % n)) / n AS BIGINT)
                        - c.c[dim + 1]) AS BIGINT) AS drift
        FROM agg JOIN cent c ON c.cid = agg.cell
    """


# outlier iff the assignment's relative score |v-c|² - |v|² = |c|² - 2·v·c
# is positive: the vector is then FARTHER from its own (nearest!) centroid
# than from the origin — no centroid explains it better than zero, the
# geometric "off-distribution" rule. margin shifts the boundary; tuned
# per-corpus in production.
CENTROID_OUTLIER_MARGIN = 0


def centroid_outliers(df: DataFrame, vec_col: str = "embedding",
                      margin: int = CENTROID_OUTLIER_MARGIN) -> DataFrame:
    """Embedding outlier screen: each vector's integer squared-L2 distance
    to its assigned IVF centroid; vectors whose distance exceeds the
    threshold are flagged — the garbage/OOD detector a pipeline runs on
    freshly-embedded batches before they enter the index (far-from-every-
    centroid vectors are encoder failures or off-distribution inputs).

    Returns (vec_id, cell, dist2, rel, outlier) — ``dist2`` is the FULL
    exact squared distance |v - c|² (the assignment argmin drops the
    constant |v|² term; it is added back so the reported metric is the
    real distance); ``rel`` = |v - c|² - |v|² is the origin-relative score
    the flag thresholds on (see CENTROID_OUTLIER_MARGIN).

    Plan: pure Catalyst, zero shuffle — assignment argmin + one more
    literal-codebook dot per row, computed scan-side; at 100 TB this is a
    narrow projection emitted during the same pass that writes the cell
    partition key."""
    q = _quantized(df, vec_col)
    scores = _ivf_cell_scores()
    best = q.select("vec_id", "q", F.array_min(scores).alias("b"))
    v2 = C.int_dot(F.col("q"), F.col("q"))
    return (best
            .select("vec_id",
                    F.col("b")["cid"].cast("long").alias("cell"),
                    (F.col("b")["dist"] + v2).cast("long").alias("dist2"),
                    F.col("b")["dist"].cast("long").alias("rel"))
            .withColumn("outlier", F.col("rel") > margin))


def sql_centroid_outliers(table: str = "embeddings",
                          margin: int = CENTROID_OUTLIER_MARGIN) -> str:
    qe = C.sql_quantized_embedding("embedding")
    cent_rows = ", ".join(
        f"({i}, {_IVF_C2[i]}, {c}::BIGINT[])"
        for i, c in enumerate(IVF_CENTROIDS))
    return f"""
        WITH q AS (
            SELECT vec_id, {qe} AS q FROM {table}
        ), cent AS (
            SELECT * FROM (VALUES {cent_rows}) AS t(cid, c2, c)
        ), assign AS (
            SELECT vec_id, cid,
                   c2 - 2 * CAST(list_dot_product(q, c) AS BIGINT) AS rel,
                   c2 - 2 * CAST(list_dot_product(q, c) AS BIGINT)
                      + CAST(list_dot_product(q, q) AS BIGINT) AS dist2,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY c2 - 2 * CAST(list_dot_product(q, c)
                                              AS BIGINT), cid) AS rn
            FROM q CROSS JOIN cent
        )
        SELECT vec_id, CAST(cid AS BIGINT) AS cell,
               CAST(dist2 AS BIGINT) AS dist2,
               CAST(rel AS BIGINT) AS rel,
               rel > {margin} AS outlier
        FROM assign WHERE rn = 1
    """


RRF_K0 = 60  # the standard reciprocal-rank-fusion damping constant


def rrf_fusion_topk(df: DataFrame, vec_col: str = "embedding",
                    k: int = TOP_K, query_mod: int = QUERY_MOD,
                    k0: int = RRF_K0) -> DataFrame:
    """Reciprocal-rank fusion of the two ANN paths (LSH multiprobe and
    IVF-nprobe): score(c) = Σ_rankers 1/(k0 + rank_r(c)), kept integer as
    micros (10^6 DIV (k0+rank)) so the fusion stays oracle-checkable.

    Why it earns its place: the two candidate generators miss DIFFERENT
    neighbors (sign-plane quantization vs centroid Voronoi cells), and RRF
    is the standard zero-tuning way to combine them — recall approaches
    the union of the two at top-k cost, with no score calibration between
    incomparable ranker scores (rank is the only shared currency).

    Plan/scale: both rankers are the existing bucketed top-k pipelines
    (per-query candidate sets bounded by bucket/cell size); fusion itself
    is one full-outer equi-join of two k-row-per-query frames and one
    window top-k — negligible next to candidate generation. Ties broken
    by cand_id, ORDER BY (query_id, rank)."""
    score = F.expr(f"1000000 DIV ({k0} + rank)")
    a = (lsh_ann_topk(df, vec_col, k, query_mod)
         .select("query_id", "cand_id", score.alias("s_lsh")))
    b = (ivf_ann_topk(df, vec_col, k, query_mod)
         .select("query_id", "cand_id", score.alias("s_ivf")))
    fused = (a.join(b, ["query_id", "cand_id"], "full")
              .fillna(0, ["s_lsh", "s_ivf"])
              .withColumn("rrf_micros",
                          (F.col("s_lsh") + F.col("s_ivf")).cast("long")))
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_micros"),
                                               F.asc("cand_id"))
    return (fused.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k)
                 .select("query_id", "cand_id", "rrf_micros",
                         F.col("rank").cast("int").alias("rank"))
                 .orderBy("query_id", "rank"))


def sql_rrf_fusion_topk(table: str = "embeddings", k: int = TOP_K,
                        query_mod: int = QUERY_MOD,
                        k0: int = RRF_K0) -> str:
    return f"""
        WITH lsh AS ({sql_lsh_ann_topk(table, k, query_mod)}),
        ivf AS ({sql_ivf_ann_topk(table, k, query_mod)}),
        fused AS (
            SELECT COALESCE(l.query_id, i.query_id) AS query_id,
                   COALESCE(l.cand_id, i.cand_id) AS cand_id,
                   CAST(COALESCE(1000000 // ({k0} + l.rank), 0)
                        + COALESCE(1000000 // ({k0} + i.rank), 0)
                        AS BIGINT) AS rrf_micros
            FROM lsh l
            FULL OUTER JOIN ivf i
              ON l.query_id = i.query_id AND l.cand_id = i.cand_id
        )
        SELECT query_id, cand_id, rrf_micros, CAST(rank AS INT) AS rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY rrf_micros DESC, cand_id
                                        ) AS rank
            FROM fused
        ) WHERE rank <= {k}
        ORDER BY query_id, rank
    """


# ---------------------------------------------------------------------------
# IVFADC: PQ-compressed ANN scan (coarse cells + asymmetric distance)
# ---------------------------------------------------------------------------


def _pq_corpus_code() -> Column:
    """int64-packed 8×4-bit PQ code of the quantized vector column ``q``."""
    code = sum((_pq_packed_best(m) % PQ_KS) * (PQ_KS ** m)
               for m in range(PQ_M))
    return code.cast("long")


def _pq_lut() -> Column:
    """128-entry ADC lookup table for the query vector column ``q``:
    entry i (0-based) is ‖q_sub_m − codebook_m[c]‖² with m = i >> 4,
    c = i % 16. One F.expr string (py4j-cheap plan construction)."""
    arrs = ", ".join(
        "array(" + ", ".join(f"{v}L" for v in PQ_CODEBOOKS[m][c]) + ")"
        for m in range(PQ_M) for c in range(PQ_KS))
    diff = [
        f"(element_at(q, cast(shiftright(i, 4) * {PQ_DSUB} + {d + 1}"
        f" as int)) - element_at(cv, {d + 1}))"
        for d in range(PQ_DSUB)]
    body = " + ".join(f"{t} * {t}" for t in diff)
    return F.expr(
        f"transform(array({arrs}), (cv, i) -> cast({body} as bigint))")


def _pq_adc_dist() -> Column:
    """ADC distance from columns ``pq_code`` (candidate) + ``lut`` (query)."""
    adc = None
    for m in range(PQ_M):
        nib = F.expr(f"(pq_code DIV {PQ_KS ** m}) % {PQ_KS}")
        term = F.element_at(F.col("lut"),
                            (F.lit(m * PQ_KS + 1) + nib).cast("int"))
        adc = term if adc is None else adc + term
    return adc.cast("long")


def ivfadc_ann_topk(df: DataFrame, vec_col: str = "embedding",
                    k: int = TOP_K, query_mod: int = QUERY_MOD,
                    nprobe: int = IVF_NPROBE) -> DataFrame:
    """IVFADC top-k (Jégou et al.; the FAISS `IVFx,PQy` serving scan):
    candidates come from the query's ``nprobe`` nearest coarse cells and
    are scored from their PACKED 8×4-bit PQ code alone — asymmetric
    distance ``adc = Σ_m LUT_q[m][code_m(x)]`` where ``LUT_q[m][c] =
    ‖q_sub_m − codebook_m[c]‖²`` is a 128-entry per-query lookup table.
    Candidate vectors are never touched: the corpus side of the join
    carries only (cand_id, cell, pq_code) — 8 bytes of payload per vector.

    Returns (query_id, cand_id, adc_dist, rank), adc ascending,
    ties → cand_id, ORDER BY (query_id, rank).

    Plan/scale: this is THE billion-vector layout — the stored corpus is
    partitioned by ``cell`` with an int64 code column, so a probe is a
    partition-pruned scan of compressed codes (100 TB of float vectors →
    ~1 TB of codes), the per-query LUT rides along in the broadcast
    queries frame, and per-pair work is 8 array lookups + adds (pure
    Catalyst, no UDF). Exactly one row per (query, cand) — cells are
    disjoint — so no distinct before the top-k window. All arithmetic is
    integer (quantized embeddings, integer codebooks) → byte-equal DuckDB
    oracle from the same constants."""
    q = _quantized(df, vec_col)
    scores = _ivf_cell_scores()
    corpus = q.select(F.col("vec_id").alias("cand_id"),
                      F.array_min(scores)["cid"].alias("cell"),
                      _pq_corpus_code().alias("pq_code"))

    probes = F.slice(F.array_sort(scores), 1, nprobe)
    queries = (q.filter(F.col("vec_id") % query_mod == 0)
               .select(F.col("vec_id").alias("query_id"),
                       _pq_lut().alias("lut"),
                       F.explode(probes).alias("p"))
               .select("query_id", "lut", F.col("p.cid").alias("probe")))

    adc = _pq_adc_dist()
    scored = (corpus.join(F.broadcast(queries),
                          (F.col("cell") == F.col("probe")) &
                          (F.col("cand_id") != F.col("query_id")))
              .select("query_id", "cand_id",
                      adc.cast("long").alias("adc_dist")))
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"),
                                               F.asc("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "cand_id", "adc_dist",
                          F.col("rank").cast("int").alias("rank"))
                  .orderBy("query_id", "rank"))


def sql_ivfadc_ann_topk(table: str = "embeddings", k: int = TOP_K,
                        query_mod: int = QUERY_MOD,
                        nprobe: int = IVF_NPROBE) -> str:
    qe = C.sql_quantized_embedding("embedding")
    cent_rows = ", ".join(
        f"({i}, {_IVF_C2[i]}, {c}::BIGINT[])"
        for i, c in enumerate(IVF_CENTROIDS))
    packs = ", ".join(f"{_sql_pq_best(m)} AS p_{m}" for m in range(PQ_M))
    cids = ", ".join(f"e.p_{m} % {PQ_KS} AS c_{m}" for m in range(PQ_M))
    pc_rows = ", ".join(
        f"({m}, {c}, {PQ_CODEBOOKS[m][c]}::BIGINT[])"
        for m in range(PQ_M) for c in range(PQ_KS))
    case_cid = ("CASE pc.m " +
                " ".join(f"WHEN {m} THEN c_{m}" for m in range(PQ_M)) +
                " END")
    dist = " + ".join(
        f"(qv[pc.m * {PQ_DSUB} + {d + 1}] - cv[{d + 1}])"
        f" * (qv[pc.m * {PQ_DSUB} + {d + 1}] - cv[{d + 1}])"
        for d in range(PQ_DSUB))
    return f"""
        WITH q AS (
            SELECT vec_id, {qe} AS q FROM {table}
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
        ), enc AS (
            SELECT vec_id, {packs} FROM q
        ), codes AS (
            SELECT e.vec_id AS cand_id, r.cid AS cell, {cids}
            FROM enc e JOIN ranked r ON r.vec_id = e.vec_id AND r.rn = 1
        ), probes AS (
            SELECT vec_id AS query_id, q AS qv, cid AS probe
            FROM ranked WHERE vec_id % {query_mod} = 0 AND rn <= {nprobe}
        ), pc AS (
            SELECT * FROM (VALUES {pc_rows}) AS t(m, cid, cv)
        ), pairs AS (
            SELECT p.query_id, p.qv, c.*
            FROM probes p JOIN codes c
              ON c.cell = p.probe AND c.cand_id <> p.query_id
        ), scored AS (
            SELECT query_id, cand_id, CAST(SUM({dist}) AS BIGINT) AS adc_dist
            FROM pairs JOIN pc ON pc.cid = {case_cid}
            GROUP BY query_id, cand_id
        )
        SELECT query_id, cand_id, adc_dist, CAST(rank AS INT) AS rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adc_dist, cand_id) AS rank
            FROM scored
        ) WHERE rank <= {k}
        ORDER BY query_id, rank
    """


# ---------------------------------------------------------------------------
# Embedding norm audit (pre-ANN sanity gate)
# ---------------------------------------------------------------------------

def embedding_norm_audit(df: DataFrame,
                         vec_col: str = "embedding") -> DataFrame:
    """Distribution of quantized squared L2 norms, binned against the
    corpus max — the sanity gate to run BEFORE any cosine/dot ANN build:
    a healthy normalized corpus piles into one or two adjacent bins; a
    bimodal histogram means mixed embedding versions (or un-normalized
    rows) and every dot-product ranking downstream is comparing apples to
    oranges. Returns (norm_bin 0..10, n_vecs, share_permille) ordered.

    Plan: norm² is the exact integer self-dot of the quantized vector (a
    zero-shuffle narrow pass), the corpus max is a 1-row agg broadcast
    back, and the histogram is an 11-bin hash agg — nothing here scales
    with more than one pass over the vectors."""
    n2 = (_quantized(df, vec_col)
          .select(C.int_dot(F.col("q"), F.col("q")).alias("n2")))
    mx = n2.agg(F.max("n2").cast("long").alias("mx"))
    binned = (n2.crossJoin(F.broadcast(mx))
                .select(F.when(F.col("mx") > 0,
                               F.expr("n2 * 10 DIV mx"))
                         .otherwise(0).cast("long").alias("norm_bin")))
    hist = (binned.groupBy("norm_bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs")))
    tot = hist.agg(F.sum("n_vecs").cast("long").alias("t"))
    return (hist.crossJoin(F.broadcast(tot))
                .select("norm_bin", "n_vecs",
                        C.permille(F.col("n_vecs"), F.col("t"))
                         .alias("share_permille"))
                .orderBy("norm_bin"))


def sql_embedding_norm_audit(table: str = "embeddings") -> str:
    qe = C.sql_quantized_embedding("embedding")
    return f"""
        WITH n2 AS (
            SELECT CAST(list_dot_product(q, q) AS BIGINT) AS n2
            FROM (SELECT {qe} AS q FROM {table})
        ), mx AS (SELECT CAST(MAX(n2) AS BIGINT) AS mx FROM n2),
        binned AS (
            SELECT CAST(CASE WHEN mx.mx > 0 THEN n2.n2 * 10 // mx.mx
                             ELSE 0 END AS BIGINT) AS norm_bin
            FROM n2 CROSS JOIN mx
        ), hist AS (
            SELECT norm_bin, CAST(COUNT(*) AS BIGINT) AS n_vecs
            FROM binned GROUP BY 1
        ), tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS t FROM hist)
        SELECT norm_bin, n_vecs,
               CAST(CASE WHEN t > 0 THEN n_vecs * 1000 // t
                         ELSE 0 END AS BIGINT) AS share_permille
        FROM hist CROSS JOIN tot
        ORDER BY norm_bin
    """


ISO_STRIDE = 17
ISO_MIN_NORM2 = 1000  # degenerate near-zero vectors excluded (div guard)


def embedding_isotropy(df: DataFrame,
                       vec_col: str = "embedding",
                       stride: int = ISO_STRIDE) -> DataFrame:
    """Pairwise-cosine histogram over a deterministic pair sample — the
    isotropy audit: healthy embedding spaces concentrate random-pair
    cosine near 0 (slightly positive); a hot anisotropic cone (all-pairs
    cos >> 0, the classic "representation collapse") wrecks both cosine
    ANN contrast and near-dup thresholds, and THIS is the report that
    catches it before an index build. Pairs are (vec_id, vec_id+stride)
    — deterministic, linear count, no sampling RNG.

    The statistic is the integer signed cos²: ``sign(dot) · (dot·dot //
    n2a) · 1000 // n2b`` — by Cauchy-Schwarz dot² <= n2a·n2b, so the
    division chain stays in [0, 1000] and inside int64 with NO float
    (sqrt-free: cos² preserves the concentration shape). Returns
    (cos2_bin 0..20 over the shifted statistic signed+1000,\n    n_pairs, share_permille) ordered.

    Plan: one self-join on the shifted key (both sides partition on
    vec_id — AQE reuses one exchange), a narrow in-row dot, an 11·2-bin
    hash agg."""
    q = _quantized(df, vec_col).withColumn(
        "n2", C.int_dot(F.col("q"), F.col("q")))
    a = q.select(F.col("vec_id").alias("pid"),
                 F.col("q").alias("qa"), F.col("n2").alias("n2a"))
    b = q.select((F.col("vec_id") - stride).alias("pid"),
                 F.col("q").alias("qb"), F.col("n2").alias("n2b"))
    j = (a.join(b, "pid")
          .filter((F.col("n2a") >= ISO_MIN_NORM2) &
                  (F.col("n2b") >= ISO_MIN_NORM2)))
    dot = C.int_dot(F.col("qa"), F.col("qb"))
    j = j.withColumn("dot", dot)
    cos2 = F.expr("(dot * dot DIV n2a) * 1000 DIV n2b")
    signed = (F.when(F.col("dot") < 0, -cos2).otherwise(cos2)).cast("long")
    # bin over the SHIFTED statistic (0..2000): Spark DIV truncates toward
    # zero while DuckDB // floors — they agree only on non-negatives
    hist = (j.select(((signed + 1000) / 100).cast("long").alias("cos2_bin"))
             .groupBy("cos2_bin")
             .agg(F.count(F.lit(1)).cast("long").alias("n_pairs")))
    tot = hist.agg(F.sum("n_pairs").cast("long").alias("t"))
    return (hist.crossJoin(F.broadcast(tot))
                .select("cos2_bin", "n_pairs",
                        C.permille(F.col("n_pairs"), F.col("t"))
                         .alias("share_permille"))
                .orderBy("cos2_bin"))


def sql_embedding_isotropy(table: str = "embeddings",
                           stride: int = ISO_STRIDE) -> str:
    qe = C.sql_quantized_embedding("embedding")
    return f"""
        WITH q AS (
            SELECT vec_id, q,
                   CAST(list_dot_product(q, q) AS BIGINT) AS n2
            FROM (SELECT vec_id, {qe} AS q FROM {table})
        ), j AS (
            SELECT CAST(list_dot_product(a.q, b.q) AS BIGINT) AS dot,
                   a.n2 AS n2a, b.n2 AS n2b
            FROM q a JOIN q b ON b.vec_id = a.vec_id + {stride}
            WHERE a.n2 >= {ISO_MIN_NORM2} AND b.n2 >= {ISO_MIN_NORM2}
        ), binned AS (
            SELECT CAST(((CASE WHEN dot < 0 THEN -1 ELSE 1 END *
                          ((dot * dot // n2a) * 1000 // n2b)) + 1000) // 100
                        AS BIGINT) AS cos2_bin
            FROM j
        ), hist AS (
            SELECT cos2_bin, CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM binned GROUP BY 1
        ), tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS t FROM hist)
        SELECT cos2_bin, n_pairs,
               {C.sql_permille('n_pairs', 't')} AS share_permille
        FROM hist CROSS JOIN tot ORDER BY cos2_bin
    """


# ---------------------------------------------------------------------------
# Distributed PCA power iteration (dominant principal direction, integer)
# ---------------------------------------------------------------------------

PCA_SCALE = 1000          # rescaled eigenvector magnitude (max |component|)
PCA_QMAX_LIMIT = 1_000_000        # guard: per-element quantized magnitude
PCA_BOUND = (1 << 62) // 1000     # worst intermediate * PCA_SCALE must fit


def pca_power_step(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Two distributed power-iteration steps toward the dominant principal
    direction of the (uncentered) embedding Gram matrix — the building
    block for PCA whitening / anisotropy removal ("all-but-the-top") and
    for picking the split dimension of a balanced ANN tree. v0 = all-ones
    (deterministic, RNG-free); each step computes v' = Aᵀ(A·v) without
    ever materializing the d×d Gram matrix, then rescales to max
    |component| = 1000 — so the whole chain is integer-exact and
    engine-portable (sign(x)·(|x|·1000 div m) truncates identically in
    Spark DIV and DuckDB // because the operand is non-negative).

    Returns one row per dimension: (dim, component_prev, component) —
    the rescaled vector after step 1 and step 2, ordered by dim. The
    prev/next pair doubles as a convergence diagnostic (identical rows =
    converged direction).

    Plan: per step, the row-side dot x·v is a narrow in-row expression
    (v is a 64-long array broadcast as a single-row frame —
    BroadcastNestedLoopJoin over ONE row, constant memory); the dim-side
    reduction is a posexplode to (dim, q·r) followed by a 64-key hash agg
    with map-side partials — the only shuffle, 64 rows. Nothing
    data-sized is ever collected or broadcast.

    int64 headroom: |x·ones| <= d·qmax, so |s_j| <= n·d·qmax²; the row
    dot against the scaled v1 is descaled by 1000 immediately (div 1000
    per row) so step 2 obeys the SAME bound. The runtime guard asserts
    n·qmax² <= 2^62/(1000·d) (for d=64, qmax=1000 that is n <= 7.2·10⁷
    vectors); beyond it, pre-normalize the embeddings (qmax shrinks the
    bound quadratically), sample rows for the direction estimate, or
    widen the two dim-aggs to DECIMAL(38,0)."""
    q = _quantized(df, vec_col)
    # guard frame: n rows, max |element|, max dims — one tiny agg,
    # broadcast everywhere below
    g = q.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max(F.coalesce(
            F.array_max(F.transform("q", lambda x: F.abs(x))),
            F.lit(0))).cast("long").alias("qmax"),
        F.max(F.size("q")).cast("long").alias("d"))
    # division form so the guard's own arithmetic can never overflow
    # under ANSI mode (qmax is clamped before squaring; n is compared,
    # never multiplied): n <= BOUND div d div max(qmax,1)^2
    ok = ((F.col("qmax") <= F.lit(PCA_QMAX_LIMIT)) &
          F.expr(f"n <= CAST({PCA_BOUND} AS BIGINT) DIV greatest(d, 1) "
                 f"DIV greatest(least(qmax, {PCA_QMAX_LIMIT}) * "
                 f"least(qmax, {PCA_QMAX_LIMIT}), 1)"))
    guard = F.when(ok, F.lit(1)).otherwise(F.raise_error(F.format_string(
        "pca_power_step int64 headroom exceeded: n=%s qmax=%s d=%s — "
        "pre-normalize embeddings, sample rows, or widen the dim aggs "
        "to DECIMAL(38,0)", F.col("n"), F.col("qmax"), F.col("d")))
        .cast("long")).cast("long")
    g = g.select(guard.alias("_ok"))

    def _rescale(name: str) -> F.Column:
        # integer DIV, never float: |x|*1000 can exceed 2^53 where a
        # double round-trip would silently drop low bits
        return F.expr(
            f"CAST(CASE WHEN m <= 0 THEN 0 "
            f"WHEN {name} < 0 THEN -(abs({name}) * {PCA_SCALE} DIV m) "
            f"ELSE abs({name}) * {PCA_SCALE} DIV m END AS BIGINT)")

    # step 1: s_j = sum_i q_ij * (q_i . ones)
    r0 = q.withColumn("r0", F.aggregate(
        "q", F.lit(0).cast("long"), lambda a, x: a + x))
    s = (r0.crossJoin(F.broadcast(g))
           .select(F.posexplode("q").alias("dim", "val"), "r0", "_ok")
           .groupBy("dim")
           .agg((F.sum(F.col("val") * F.col("r0") * F.col("_ok")))
                .cast("long").alias("s")))
    m1 = s.agg(F.max(F.abs("s")).cast("long").alias("m"))
    v1 = (s.crossJoin(F.broadcast(m1))
           .select("dim", _rescale("s").alias("component_prev")))
    v1a = (v1.agg(F.array_sort(F.collect_list(
               F.struct("dim", "component_prev"))).alias("a"))
             .select(F.transform("a", lambda x: x["component_prev"])
                      .alias("v1arr")))

    # step 2: t_j = sum_i q_ij * ((q_i . v1) div 1000)  — per-row descale
    # keeps step 2 inside the SAME n*d*qmax^2 bound as step 1
    r1 = (q.crossJoin(F.broadcast(v1a))
           .withColumn("d1", C.int_dot(F.col("q"), F.col("v1arr")))
           .withColumn("r1s", F.expr(
               "CAST(CASE WHEN d1 < 0 THEN -(abs(d1) DIV 1000) "
               "ELSE abs(d1) DIV 1000 END AS BIGINT)")))
    t = (r1.select(F.posexplode("q").alias("dim", "val"), "r1s")
           .groupBy("dim")
           .agg(F.sum(F.col("val") * F.col("r1s")).cast("long").alias("t")))
    m2 = t.agg(F.max(F.abs("t")).cast("long").alias("m"))
    v2 = (t.crossJoin(F.broadcast(m2))
           .select("dim", _rescale("t").alias("component")))
    return (v1.join(v2, "dim")
              .select(F.col("dim").cast("long").alias("dim"),
                      "component_prev", "component")
              .orderBy("dim"))


def _sql_pca_ctes(table: str) -> str:
    """Shared CTE chain ending at v2(dim, component_prev, component) —
    used by sql_pca_power_step and sql_pca_alignment."""
    qe = C.sql_quantized_embedding("embedding")
    resc = ("CAST(CASE WHEN m <= 0 THEN 0 "
            "WHEN {x} < 0 THEN -(abs({x}) * 1000 // m) "
            "ELSE abs({x}) * 1000 // m END AS BIGINT)")
    return f"""q AS (
            SELECT vec_id, {qe} AS q FROM {table}
        ), r0 AS (
            SELECT vec_id, q,
                   CAST(list_aggregate(q, 'sum') AS BIGINT) AS r0
            FROM q
        ), s AS (
            SELECT dim, CAST(SUM(prod) AS BIGINT) AS s
            FROM (
                SELECT i AS dim, q[i + 1] * r0 AS prod
                FROM r0, unnest(range(0, len(q))) AS t(i)
            ) GROUP BY dim
        ), m1 AS (SELECT CAST(MAX(abs(s)) AS BIGINT) AS m FROM s),
        v1 AS (
            SELECT dim, {resc.format(x='s')} AS component_prev
            FROM s CROSS JOIN m1
        ), v1a AS (
            SELECT list(component_prev ORDER BY dim) AS v1arr FROM v1
        ), r1 AS (
            SELECT vec_id, q,
                   CAST(CASE WHEN d1 < 0 THEN -(abs(d1) // 1000)
                             ELSE abs(d1) // 1000 END AS BIGINT) AS r1s
            FROM (
                SELECT vec_id, q,
                       CAST(list_dot_product(q, v1arr) AS BIGINT) AS d1
                FROM q CROSS JOIN v1a
            )
        ), tt AS (
            SELECT dim, CAST(SUM(prod) AS BIGINT) AS t
            FROM (
                SELECT i AS dim, q[i + 1] * r1s AS prod
                FROM r1, unnest(range(0, len(q))) AS t(i)
            ) GROUP BY dim
        ), m2 AS (SELECT CAST(MAX(abs(t)) AS BIGINT) AS m FROM tt),
        v2 AS (
            SELECT CAST(v1.dim AS BIGINT) AS dim, v1.component_prev,
                   {resc.format(x='t')} AS component
            FROM tt CROSS JOIN m2 JOIN v1 USING (dim)
        )"""


def sql_pca_power_step(table: str = "embeddings") -> str:
    return f"""
        WITH {_sql_pca_ctes(table)}
        SELECT dim, component_prev, component FROM v2 ORDER BY dim
    """


def pca_alignment(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Histogram of per-vector squared cosine to the dominant principal
    direction (the :func:`pca_power_step` vector) — the quantitative
    "all-but-the-top" / representation-collapse report: healthy embedding
    spaces put most mass in low cos² bins; a collapsed space piles up at
    bin 9-10, and THAT is when removing the top component (Mu & Viswanath
    2018) or re-training is warranted. Pairs with
    :func:`embedding_isotropy` (pairwise view) by giving the axis-aligned
    view against an explicit estimated direction.

    Integer chain: cos²·1000 ≈ (ds² · 1000) div ((n2 div 1000) ·
    (vv div 1000)) with ds = (q·v) div 1000 — every operand is bounded
    per ROW (≤ ~4·10¹²), so unlike the raw Σd1² formulation this needs NO
    corpus-size headroom guard beyond the power step's own; least(1000,·)
    clamps truncation jitter at the top bin. Near-zero vectors
    (n2 < {ISO_MIN_NORM2}) are excluded like the isotropy audit.

    Returns (cos2_bin 0..10, n_vecs, share_permille) ordered.

    Plan: the direction is a 64-row agg broadcast as ONE array row; the
    histogram is a narrow map pass + an 11-key hash agg."""
    v = pca_power_step(df, vec_col)
    va = (v.agg(F.array_sort(F.collect_list(
              F.struct("dim", "component"))).alias("a"))
           .select(F.transform("a", lambda x: x["component"]).alias("varr")))
    va = va.withColumn("vv", C.int_dot(F.col("varr"), F.col("varr")))
    q = (_quantized(df, vec_col)
         .withColumn("n2", C.int_dot(F.col("q"), F.col("q")))
         .filter(F.col("n2") >= ISO_MIN_NORM2))
    j = (q.crossJoin(F.broadcast(va))
          .withColumn("d1", C.int_dot(F.col("q"), F.col("varr")))
          .withColumn("ds", F.expr("abs(d1) DIV 1000"))
          .withColumn("cos2", F.expr(
              "least(CAST(1000 AS BIGINT), (ds * ds * 1000) DIV "
              "greatest((n2 DIV 1000) * greatest(vv DIV 1000, 1), 1))")))
    hist = (j.select(F.expr("CAST(cos2 DIV 100 AS BIGINT)").alias("cos2_bin"))
             .groupBy("cos2_bin")
             .agg(F.count(F.lit(1)).cast("long").alias("n_vecs")))
    tot = hist.agg(F.sum("n_vecs").cast("long").alias("t"))
    return (hist.crossJoin(F.broadcast(tot))
                .select("cos2_bin", "n_vecs",
                        C.permille(F.col("n_vecs"), F.col("t"))
                         .alias("share_permille"))
                .orderBy("cos2_bin"))


def sql_pca_alignment(table: str = "embeddings") -> str:
    qe = C.sql_quantized_embedding("embedding")
    return f"""
        WITH {_sql_pca_ctes(table)},
        va AS (
            SELECT varr, CAST(list_dot_product(varr, varr) AS BIGINT) AS vv
            FROM (SELECT list(component ORDER BY dim) AS varr FROM v2)
        ), rows_ AS (
            SELECT CAST(list_dot_product(e.q, va.varr) AS BIGINT) AS d1,
                   e.n2, va.vv
            FROM (
                SELECT q, CAST(list_dot_product(q, q) AS BIGINT) AS n2
                FROM (SELECT {qe} AS q FROM {table})
                WHERE CAST(list_dot_product(q, q) AS BIGINT)
                      >= {ISO_MIN_NORM2}
            ) e CROSS JOIN va
        ), binned AS (
            SELECT CAST(LEAST(1000, (ds * ds * 1000) //
                        GREATEST((n2 // 1000) * GREATEST(vv // 1000, 1), 1))
                        // 100 AS BIGINT) AS cos2_bin
            FROM (SELECT abs(d1) // 1000 AS ds, n2, vv FROM rows_)
        ), hist AS (
            SELECT cos2_bin, CAST(COUNT(*) AS BIGINT) AS n_vecs
            FROM binned GROUP BY 1
        ), tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS t FROM hist)
        SELECT cos2_bin, n_vecs,
               {C.sql_permille('n_vecs', 't')} AS share_permille
        FROM hist CROSS JOIN tot ORDER BY cos2_bin
    """


# ---------------------------------------------------------------------------
# Graph-expansion ANN (NSW/HNSW-family representative)
# ---------------------------------------------------------------------------

GRAPH_DEGREE = 4


def graph_ann_topk(df: DataFrame, vec_col: str = "embedding",
                   k: int = TOP_K, query_mod: int = QUERY_MOD,
                   degree: int = GRAPH_DEGREE) -> DataFrame:
    """Graph-based ANN — the NSW/HNSW-family representative closing the
    index taxonomy next to LSH (ann_topk_lsh), IVF (ann_topk_ivf), PQ
    (ann_topk_ivfadc) and fusion (ann_topk_rrf): an OFFLINE k-NN graph is
    built from multiprobe LSH candidates (each node keeps its ``degree``
    best same-or-Hamming-1-bucket neighbors by exact integer dot), and a
    query then probes ONLY its own bucket but expands one hop through the
    graph — the graph pre-pays the multiprobe fan-out so query-time cost
    is a single bucket plus ``degree``·|seeds| key lookups, the actual
    trade HNSW makes (index effort for query latency).

    Returns (query_id, cand_id, dot, rank) like the sibling ANN ops.

    Plan: graph build = bucket/probe equi-join + per-node top-``degree``
    window (the one shuffled stage — at 100 TB it is built once and
    PERSISTED as a (src,dst) table partitioned by src); search = seed
    equi-join on the query's bucket, a hop equi-join seeds→edges on src,
    a vec_id join to fetch hop vectors, then the per-query top-k window.
    Queries (the 1% sample) broadcast; the corpus never broadcasts."""
    n_flips = len(EMB_PLANES)
    q = _quantized(df, vec_col).withColumn("bucket",
                                           _emb_bucket(F.col("q")))
    # --- offline: degree-bounded kNN graph over multiprobe candidates
    probes = F.array(*([F.col("bucket")] + [
        F.col("bucket").bitwiseXOR(1 << j) for j in range(n_flips)]))
    src = q.select(F.col("vec_id").alias("src"), F.col("q").alias("sv"),
                   F.explode(probes).alias("probe"))
    dst = q.select(F.col("vec_id").alias("dst"), F.col("q").alias("dv"),
                   F.col("bucket"))
    we = Window.partitionBy("src").orderBy(F.desc("edot"), F.asc("dst"))
    edges = (src.join(dst, (F.col("bucket") == F.col("probe")) &
                           (F.col("src") != F.col("dst")))
                .select("src", "dst",
                        C.int_dot(F.col("sv"), F.col("dv")).alias("edot"))
                .distinct()
                .withColumn("r", F.row_number().over(we))
                .filter(F.col("r") <= degree)
                .select("src", "dst"))
    # --- query time: own-bucket seeds + one graph hop
    queries = (q.filter(F.col("vec_id") % query_mod == 0)
                .select(F.col("vec_id").alias("query_id"),
                        F.col("q").alias("qv"),
                        F.col("bucket").alias("qbucket")))
    seeds = (dst.join(F.broadcast(queries),
                      (F.col("bucket") == F.col("qbucket")) &
                      (F.col("dst") != F.col("query_id")))
                .select("query_id", F.col("dst").alias("cand_id")))
    hop = (seeds.join(edges, seeds.cand_id == edges.src)
                .select("query_id", F.col("dst").alias("cand_id")))
    cands = (seeds.unionByName(hop).distinct()
                  .join(F.broadcast(queries.select("query_id", "qv")),
                        "query_id")
                  .join(q.select(F.col("vec_id").alias("cand_id"),
                                 F.col("q").alias("cv")), "cand_id")
                  .filter(F.col("cand_id") != F.col("query_id")))
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("cand_id"))
    return (cands.select("query_id", "cand_id",
                         C.int_dot(F.col("qv"), F.col("cv")).alias("dot"))
                 .withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k)
                 .select("query_id", "cand_id", "dot",
                         F.col("rank").cast("int").alias("rank")))


def sql_graph_ann_topk(table: str = "embeddings", k: int = TOP_K,
                       query_mod: int = QUERY_MOD,
                       degree: int = GRAPH_DEGREE) -> str:
    n_flips = len(EMB_PLANES)
    qe = C.sql_quantized_embedding("embedding")
    bucket_terms = " + ".join(
        "CASE WHEN CAST(list_dot_product(q, {plane}::BIGINT[]) AS BIGINT) > 0 "
        "THEN CAST({bit} AS BIGINT) ELSE 0 END".format(
            plane=str(plane), bit=1 << j)
        for j, plane in enumerate(EMB_PLANES))
    probe_list = "[bucket" + "".join(
        f", xor(bucket, CAST({1 << j} AS BIGINT))"
        for j in range(n_flips)) + "]"
    return f"""
        WITH q AS (
            SELECT vec_id, {qe} AS q FROM {table}
        ), qb AS (
            SELECT vec_id, q, {bucket_terms} AS bucket FROM q
        ), src AS (
            SELECT vec_id AS src, q AS sv, unnest({probe_list}) AS probe
            FROM qb
        ), escored AS (
            SELECT DISTINCT s.src, d.vec_id AS dst,
                   CAST(list_dot_product(s.sv, d.q) AS BIGINT) AS edot
            FROM src s JOIN qb d
              ON d.bucket = s.probe AND d.vec_id <> s.src
        ), edges AS (
            SELECT src, dst FROM (
                SELECT src, dst, ROW_NUMBER() OVER (
                    PARTITION BY src ORDER BY edot DESC, dst) AS r
                FROM escored
            ) WHERE r <= {degree}
        ), queries AS (
            SELECT vec_id AS query_id, q AS qv, bucket AS qbucket
            FROM qb WHERE vec_id % {query_mod} = 0
        ), seeds AS (
            SELECT qs.query_id, d.vec_id AS cand_id
            FROM queries qs JOIN qb d
              ON d.bucket = qs.qbucket AND d.vec_id <> qs.query_id
        ), hop AS (
            SELECT s.query_id, e.dst AS cand_id
            FROM seeds s JOIN edges e ON e.src = s.cand_id
        ), cands AS (
            SELECT DISTINCT query_id, cand_id
            FROM (SELECT * FROM seeds UNION ALL SELECT * FROM hop)
            WHERE cand_id <> query_id
        ), scored AS (
            SELECT c.query_id, c.cand_id,
                   CAST(list_dot_product(qs.qv, d.q) AS BIGINT) AS dot
            FROM cands c
            JOIN queries qs ON qs.query_id = c.query_id
            JOIN qb d ON d.vec_id = c.cand_id
        )
        SELECT query_id, cand_id, dot, CAST(rank AS INT) AS rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY dot DESC, cand_id) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# Simplified silhouette (centroid form) — clustering / labeling quality
# ---------------------------------------------------------------------------


def silhouette_labels(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-label simplified silhouette (Kaufman-Rousseeuw, centroid form):
    for every vector, a = squared L2 to its OWN label centroid, b = min
    squared L2 to any OTHER label's centroid, s = (b−a)/max(a,b) in
    permille — the clustering/labeling quality audit that says whether
    labels are geometrically coherent BEFORE they are trusted for
    stratified sampling, cluster-granular splits, or kNN-consistency
    thresholds (its per-point sibling :func:`knn_label_consistency`
    checks neighbors; this checks global separation at O(n·L) instead of
    O(n·candidates)).

    All-integer: centroids are sign-split truncating divisions of the
    per-(label,dim) sums (identical in Spark DIV / DuckDB ``//`` because
    the operand is non-negative after abs); distances are exact integer
    squared-L2 over quantized vectors; s uses the branch-split
    denominator max(a,b) so every division has non-negative operands.

    Returns (label, n_vecs, mean_sil_permille, n_negative) ordered by
    label — n_negative counts vectors closer to a foreign centroid than
    to their own (candidate mislabels).

    Plan: centroids = one (label,dim) hash agg (map-side combined);
    the L-row centroid table folds to ONE array row broadcast to every
    vector; a/b are in-row transforms over that array (no n×L shuffle,
    no join back); the report is an L-key hash agg. At 10^9 vectors
    the corpus is scanned once and only (label, partial) rows move."""
    q = df.select("label", C.quantized_embedding(F.col(vec_col)).alias("q"))
    cent = (q.select("label", F.posexplode("q").alias("dim", "v"))
             .groupBy("label", "dim")
             .agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.sum("v").cast("long").alias("s"))
             .select("label", "dim", F.expr(
                 "CAST(CASE WHEN s < 0 THEN -(abs(s) DIV n) "
                 "ELSE abs(s) DIV n END AS BIGINT)").alias("c")))
    carr = (cent.groupBy("label")
                .agg(F.array_sort(F.collect_list(F.struct("dim", "c")))
                      .alias("a"))
                .select("label",
                        F.transform("a", lambda x: x["c"]).alias("cv")))
    cents = carr.agg(F.array_sort(F.collect_list(
        F.struct(F.col("label").alias("l"), F.col("cv").alias("cv"))))
        .alias("cents"))

    def _d2(cv):
        return F.aggregate(
            F.zip_with(F.col("q"), cv, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"), lambda acc, x: acc + x)

    j = (q.crossJoin(F.broadcast(cents))
          .withColumn("dists", F.transform(
              F.col("cents"),
              lambda c: F.struct(c["l"].alias("l"), _d2(c["cv"]).alias("d"))))
          .withColumn("a", F.element_at(
              F.filter(F.col("dists"),
                       lambda x: x["l"] == F.col("label")), 1)["d"])
          .withColumn("b", F.array_min(F.transform(
              F.filter(F.col("dists"), lambda x: x["l"] != F.col("label")),
              lambda x: x["d"])))
          .withColumn("sil", F.expr(
              "CAST(CASE WHEN b IS NULL THEN 0 "
              "WHEN b >= a THEN (b - a) * 1000 DIV greatest(b, 1) "
              "ELSE -((a - b) * 1000 DIV greatest(a, 1)) END AS BIGINT)")))
    return (j.groupBy("label")
             .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
                  F.sum("sil").cast("long").alias("ssum"),
                  F.sum((F.col("sil") < 0).cast("long")).cast("long")
                   .alias("n_negative"))
             .select(F.col("label").cast("long").alias("label"), "n_vecs",
                     F.expr("CAST(CASE WHEN ssum < 0 "
                            "THEN -(abs(ssum) DIV n_vecs) "
                            "ELSE ssum DIV n_vecs END AS BIGINT)")
                      .alias("mean_sil_permille"),
                     "n_negative")
             .orderBy("label"))


def sql_silhouette_labels(table: str = "embeddings") -> str:
    qe = C.sql_quantized_embedding("embedding")
    return f"""
        WITH base AS (
            SELECT vec_id, label, {qe} AS q FROM {table}
        ), ex AS (
            SELECT vec_id, label, t.dim AS dim, q[t.dim + 1] AS v
            FROM base, unnest(range(0, len(q))) AS t(dim)
        ), cent AS (
            SELECT label, dim,
                   CAST(CASE WHEN SUM(v) < 0
                             THEN -(abs(SUM(v)) // COUNT(*))
                             ELSE SUM(v) // COUNT(*) END AS BIGINT) AS c
            FROM ex GROUP BY 1, 2
        ), dists AS (
            SELECT e.vec_id, e.label AS own, c.label AS clabel,
                   CAST(SUM((e.v - c.c) * (e.v - c.c)) AS BIGINT) AS d
            FROM ex e JOIN cent c USING (dim)
            GROUP BY 1, 2, 3
        ), ab AS (
            SELECT vec_id, own,
                   MAX(CASE WHEN clabel = own THEN d END) AS a,
                   MIN(CASE WHEN clabel <> own THEN d END) AS b
            FROM dists GROUP BY 1, 2
        ), sil AS (
            SELECT own AS label,
                   CAST(CASE WHEN b IS NULL THEN 0
                             WHEN b >= a THEN (b - a) * 1000 // GREATEST(b, 1)
                             ELSE -((a - b) * 1000 // GREATEST(a, 1))
                        END AS BIGINT) AS s
            FROM ab
        )
        SELECT CAST(label AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(CASE WHEN SUM(s) < 0
                         THEN -(abs(SUM(s)) // COUNT(*))
                         ELSE SUM(s) // COUNT(*) END AS BIGINT)
                   AS mean_sil_permille,
               CAST(SUM(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_negative
        FROM sil GROUP BY label ORDER BY label
    """


def sq8_recon_error(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Scalar-quantization (SQ8) audit: quantize every dimension to an
    8-bit code against the corpus-wide per-dim [min, max] range and
    report the exact integer reconstruction error per label — the
    go/no-go check before switching an ANN index to SQ8 storage (the
    FAISS ``SQ8`` counterpart of :func:`pq_codes`' product quantizer;
    SQ8 keeps per-dim fidelity, PQ trades it for 8x more compression).

    code  = (q - min_d) * 255 DIV (max_d - min_d)        (0 when flat)
    recon = min_d + code * (max_d - min_d) DIV 255
    err   = sum_d (q - recon)^2   over the EMB_SCALE-quantized vector.

    Exactness: operands stay < ~2e6, so floor(a * b / c) on doubles is
    exactly integer division in both engines (quotient is a rational
    with denominator <= range; distance to the next integer >= 1/range
    >> double epsilon) — the same argument ``common.permille`` uses.

    Plan: per-dim min/max = one narrow posexplode + D-row hash agg
    (map-side combined), folded to ONE broadcast row of (min, range)
    arrays; the reconstruction error is an in-row zip_with over that
    array — no join back, no second shuffle; the report is an L-key
    agg. At 10^9 vectors the corpus is scanned twice (dim stats +
    error), with only (dim, partial) rows moving."""
    q = df.select("label", C.quantized_embedding(F.col(vec_col)).alias("q"))
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

    def _resid(d, r):
        # d = q - min (>= 0), r = per-dim range; floor-division chain is
        # exact at these magnitudes (see docstring). greatest(r, 1) keeps
        # the double path NaN-free on flat dims even if Catalyst CSE lifts
        # the division out of the when-branch.
        rs = F.greatest(r, F.lit(1))
        code = F.floor(d * 255 / rs)
        return F.when(r > 0, d - F.floor(code * rs / 255)).otherwise(
            F.lit(0).cast("long"))

    errs = (q.crossJoin(F.broadcast(packed))
            .withColumn("d_a", F.zip_with("q", "mn_a",
                                          lambda x, m: x - m))
            .withColumn("err", F.aggregate(
                F.zip_with("d_a", "rng_a",
                           lambda d, r: _resid(d, r) * _resid(d, r)),
                F.lit(0).cast("long"), lambda acc, x: acc + x)))
    return (errs.groupBy("label")
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
                 F.sum("err").cast("long").alias("err_sum"),
                 F.max("err").cast("long").alias("err_max"))
            .select(F.col("label").cast("long").alias("label"),
                    "n_vecs", "err_sum", "err_max",
                    F.expr("err_sum DIV n_vecs").alias("err_mean"))
            .orderBy("label"))


def sql_sq8_recon_error(table: str = "embeddings") -> str:
    qe = C.sql_quantized_embedding("embedding")
    return f"""
        WITH base AS (
            SELECT vec_id, label, {qe} AS q FROM {table}
        ), ex AS (
            SELECT vec_id, label, t.dim AS dim, q[t.dim + 1] AS v
            FROM base, unnest(range(0, len(q))) AS t(dim)
        ), ds AS (
            SELECT dim, MIN(v) AS mn, MAX(v) - MIN(v) AS rng
            FROM ex GROUP BY 1
        ), resid AS (
            SELECT e.vec_id, e.label,
                   CASE WHEN d.rng > 0 THEN
                        (e.v - d.mn)
                        - ((e.v - d.mn) * 255 // d.rng) * d.rng // 255
                   ELSE 0 END AS r
            FROM ex e JOIN ds d USING (dim)
        ), err AS (
            SELECT vec_id, label,
                   CAST(SUM(r * r) AS BIGINT) AS err
            FROM resid GROUP BY 1, 2
        )
        SELECT CAST(label AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(err) AS BIGINT) AS err_sum,
               CAST(MAX(err) AS BIGINT) AS err_max,
               CAST(SUM(err) // COUNT(*) AS BIGINT) AS err_mean
        FROM err GROUP BY 1 ORDER BY label
    """


# ---------------------------------------------------------------------------
# Triplet mining (semi-hard negatives) + ANN index plan advisor
# ---------------------------------------------------------------------------

TRIPLET_MARGIN = 100      # semi-hard margin in signed-cos2-permille units


def triplet_mining(df: DataFrame, vec_col: str = "embedding",
                   label_col: str = "label",
                   margin: int = TRIPLET_MARGIN) -> DataFrame:
    """Triplet-mining report for metric-learning / contrastive training:
    for every anchor vector, the hardest positive (max similarity among
    SAME-label vectors) and hardest negative (max similarity among
    OTHER-label vectors), classified per the FaceNet taxonomy —
    ``hard`` (negative >= positive: the anchor's nearest other-class
    point beats its own class), ``semi_hard`` (negative within
    ``margin`` below the positive: the informative band a triplet-loss
    sampler actually wants), ``easy`` (everything else, gradient-dead).
    Reported per label with a no-positive count (singleton classes can't
    form triplets) — the pre-training audit that says whether a labeled
    embedding set has any training signal left.

    Similarity statistic: signed cos^2 in permille
    (sign(dot) * (dot^2 DIV n2a) * 1000 DIV n2b) — integer-exact and
    scale-invariant across both engines (same statistic as
    ``embedding_isotropy``; dot^2 <= n2a*n2b ~ 6.5e16 < 2^63 at the
    EMB_SCALE quantization). Zero-norm vectors are excluded on both
    sides (cosine undefined; keeps the DIV ANSI-safe).

    This exact form scores all pairs via a broadcast of the corpus side
    (the label rides along, so no join-back); at 10^9 vectors the
    candidate side comes from the anchor's IVF cells exactly as in
    :func:`knn_label_consistency` — max-over-candidates is unchanged,
    and only (anchor, pos, neg) triples ever shuffle."""
    q = (df.select("vec_id",
                   F.col(label_col).cast("long").alias("label"),
                   C.quantized_embedding(F.col(vec_col)).alias("q"))
           .withColumn("n2", C.int_dot(F.col("q"), F.col("q")))
           .filter(F.col("n2") > 0))
    corpus = q.select(F.col("vec_id").alias("cand_id"),
                      F.col("label").alias("cand_label"),
                      F.col("q").alias("cv"), F.col("n2").alias("cn2"))
    dot = C.int_dot(F.col("q"), F.col("cv"))
    scored = (q.join(F.broadcast(corpus),
                     F.col("cand_id") != F.col("vec_id"))
               .withColumn("dot", dot)
               .withColumn("cos2", F.expr(
                   "(dot * dot DIV n2) * 1000 DIV cn2"))
               .withColumn("stat",
                           F.when(F.col("dot") < 0, -F.col("cos2"))
                            .otherwise(F.col("cos2")).cast("long")))
    anchors = (scored.groupBy("vec_id", "label")
               .agg(F.max(F.when(F.col("cand_label") == F.col("label"),
                                 F.col("stat"))).alias("pos"),
                    F.max(F.when(F.col("cand_label") != F.col("label"),
                                 F.col("stat"))).alias("neg")))
    cls = (anchors.withColumn("kind", F.when(
                F.col("pos").isNull(), F.lit("no_positive"))
            .when(F.col("neg").isNull(), F.lit("no_negative"))
            .when(F.col("neg") >= F.col("pos"), F.lit("hard"))
            .when(F.col("neg") >= F.col("pos") - margin,
                  F.lit("semi_hard"))
            .otherwise(F.lit("easy"))))
    return (cls.groupBy("label")
            .agg(F.count(F.lit(1)).cast("long").alias("n_anchors"),
                 *[F.sum(F.when(F.col("kind") == k, 1).otherwise(0))
                   .cast("long").alias(f"n_{k}")
                   for k in ("hard", "semi_hard", "easy", "no_positive")])
            .orderBy("label"))


def sql_triplet_mining(table: str = "embeddings",
                       margin: int = TRIPLET_MARGIN) -> str:
    qe = C.sql_quantized_embedding("embedding")
    kinds = ", ".join(
        f"CAST(COALESCE(SUM(CASE WHEN kind = '{k}' THEN 1 END), 0) "
        f"AS BIGINT) AS n_{k}"
        for k in ("hard", "semi_hard", "easy", "no_positive"))
    return f"""
        WITH q AS (
            SELECT vec_id, CAST(label AS BIGINT) AS label, q,
                   CAST(list_dot_product(q, q) AS BIGINT) AS n2
            FROM (SELECT vec_id, label, {qe} AS q FROM {table})
        ), qq AS (SELECT * FROM q WHERE n2 > 0),
        pairs AS (
            SELECT a.vec_id, a.label, c.label AS cand_label,
                   CAST(list_dot_product(a.q, c.q) AS BIGINT) AS dot,
                   a.n2 AS n2a, c.n2 AS n2c
            FROM qq a JOIN qq c ON c.vec_id <> a.vec_id
        ), scored AS (
            SELECT vec_id, label, cand_label,
                   CASE WHEN dot < 0
                        THEN -((dot * dot // n2a) * 1000 // n2c)
                        ELSE (dot * dot // n2a) * 1000 // n2c
                   END AS stat
            FROM pairs
        ), anchors AS (
            SELECT vec_id, label,
                   MAX(CASE WHEN cand_label = label THEN stat END) AS pos,
                   MAX(CASE WHEN cand_label <> label THEN stat END) AS neg
            FROM scored GROUP BY 1, 2
        ), cls AS (
            SELECT label,
                   CASE WHEN pos IS NULL THEN 'no_positive'
                        WHEN neg IS NULL THEN 'no_negative'
                        WHEN neg >= pos THEN 'hard'
                        WHEN neg >= pos - {margin} THEN 'semi_hard'
                        ELSE 'easy' END AS kind
            FROM anchors
        )
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_anchors, {kinds}
        FROM cls GROUP BY label ORDER BY label
    """


# Advisor thresholds: below FLAT_MAX a brute-force scan beats any index
# (one partition's worth of work); above SQ8_MAX the 4x of SQ8 no longer
# fits a sane memory budget and PQ's extra compression pays for its recall
# loss. Same spirit as the repo's broadcast_advisor: integer rule table,
# auditable, engine-portable.
ADVISOR_FLAT_MAX = 100_000
ADVISOR_SQ8_MAX = 100_000_000


def index_plan_advisor(df: DataFrame,
                       vec_col: str = "embedding") -> DataFrame:
    """ANN index-plan advisor: fold the corpus to ONE stats row (count,
    dimensionality) and derive the index configuration the similarity
    stack in this module would be built with — IVF cell count, probe
    budget, PQ subspace count, per-encoding storage footprints, and a
    rule-based recommendation — the capacity-planning audit run before
    committing to an index build at 10^9+ vectors (the build itself is
    hours; the advisor is one scan).

    Integer derivations (both engines, no floats):
      nlist        = 2^(bit_length(n) DIV 2)   — power-of-two ~ sqrt(n),
                     the standard IVF sizing rule;
      nprobe       = greatest(1, nlist DIV 32) — ~3% of cells;
      pq_m         = greatest(1, dim DIV 8)    — 8-dim subspaces, the
                     layout :func:`pq_codes` packs;
      bytes_flat   = n * dim * 4 (float32), bytes_sq8 = n * dim
                     (:func:`sq8_recon_error`'s encoding),
                     bytes_pq = n * pq_m DIV 2 (4-bit codes);
      train_sample = least(n, nlist * 256)     — 256 vectors per
                     centroid, the k-means training budget;
      recommended  = FLAT below {flat}, IVF_SQ8 to {sq8}, IVF_PQ above.

    Plan: one map-side-combined global agg (count + max size) — the scan
    is the entire cost; everything after is a 1-row projection."""
    stats = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.max(F.size(F.col(vec_col))).cast("long").alias("dim"))
    return stats.select(
        "n_vecs", "dim",
        F.expr("CAST(power(2, length(bin(n_vecs)) DIV 2) AS BIGINT)")
         .alias("nlist"),
        F.expr("greatest(1, CAST(power(2, length(bin(n_vecs)) DIV 2) "
               "AS BIGINT) DIV 32)").alias("nprobe"),
        F.expr("greatest(1, dim DIV 8)").alias("pq_m"),
        F.expr("n_vecs * dim * 4").cast("long").alias("bytes_flat"),
        F.expr("n_vecs * dim").cast("long").alias("bytes_sq8"),
        F.expr("n_vecs * greatest(1, dim DIV 8) DIV 2").cast("long")
         .alias("bytes_pq"),
        F.expr("least(n_vecs, CAST(power(2, length(bin(n_vecs)) DIV 2) "
               "AS BIGINT) * 256)").cast("long").alias("train_sample"),
        F.expr(f"CASE WHEN n_vecs <= {ADVISOR_FLAT_MAX} THEN 'FLAT' "
               f"WHEN n_vecs <= {ADVISOR_SQ8_MAX} THEN 'IVF_SQ8' "
               f"ELSE 'IVF_PQ' END").alias("recommended"))


index_plan_advisor.__doc__ = index_plan_advisor.__doc__.format(
    flat=ADVISOR_FLAT_MAX, sq8=ADVISOR_SQ8_MAX)


def sql_index_plan_advisor(table: str = "embeddings") -> str:
    nlist = "CAST(2 ** (strlen(bin(n_vecs)) // 2) AS BIGINT)"
    return f"""
        WITH stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
                   CAST(MAX(len(embedding)) AS BIGINT) AS dim
            FROM {table}
        )
        SELECT n_vecs, dim,
               {nlist} AS nlist,
               GREATEST(1, {nlist} // 32) AS nprobe,
               GREATEST(1, dim // 8) AS pq_m,
               CAST(n_vecs * dim * 4 AS BIGINT) AS bytes_flat,
               CAST(n_vecs * dim AS BIGINT) AS bytes_sq8,
               CAST(n_vecs * GREATEST(1, dim // 8) // 2 AS BIGINT)
                   AS bytes_pq,
               CAST(LEAST(n_vecs, {nlist} * 256) AS BIGINT)
                   AS train_sample,
               CASE WHEN n_vecs <= {ADVISOR_FLAT_MAX} THEN 'FLAT'
                    WHEN n_vecs <= {ADVISOR_SQ8_MAX} THEN 'IVF_SQ8'
                    ELSE 'IVF_PQ' END AS recommended
        FROM stats
    """


INBATCH_SIZES = [16, 64, 256]


def inbatch_negatives(df: DataFrame,
                      label_col: str = "label",
                      batch_sizes: list[int] | None = None) -> DataFrame:
    """In-batch-negative collision audit for contrastive / retrieval
    training: if training batches are formed by hashing vectors into
    ``n DIV B`` groups, what share of in-batch pairs share a label and
    would therefore be FALSE negatives under the standard
    in-batch-negatives loss (InfoNCE treats every other batch member as
    a negative — same-label members poison the gradient)? Reported per
    candidate batch size, so the trainer picks the largest B whose
    false-negative permille is still tolerable (or decides it needs
    label-aware batching).

    Batching is the repo's RNG-free salted-hash assignment (h60 of the
    id, modulo batch count) — deterministic, reshuffle-stable, and
    exactly replayable by the oracle. Pair counts are computed from the
    (batch, label) histogram, never by materializing pairs: same-label
    pairs = sum c*(c-1)/2 over (batch, label) cells, total pairs =
    sum cnt*(cnt-1)/2 over batches. Plan: one narrow projection crossed
    with the constant |batch_sizes| frame, two hash aggs — the widest
    shuffle is (bsize, batch, label) counts; per-batch counts are ~B so
    the pair arithmetic never overflows."""
    sizes = batch_sizes or INBATCH_SIZES
    tot = df.agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    bs = df.sparkSession.createDataFrame([(int(b),) for b in sizes],
                                         "batch_size long")
    base = (df.select(F.col("vec_id"),
                      F.col(label_col).cast("long").alias("label"))
            .crossJoin(F.broadcast(bs))
            .crossJoin(F.broadcast(tot))
            .withColumn("nb", F.expr(
                "greatest(1, n_vecs DIV batch_size)").cast("long"))
            .withColumn("batch",
                        C.h60(F.col("vec_id").cast("string"))
                        % F.col("nb")))
    grid = (base.groupBy("batch_size", "batch", "label")
            .agg(F.count(F.lit(1)).cast("long").alias("c")))
    batches = (grid.groupBy("batch_size", "batch")
               .agg(F.sum("c").cast("long").alias("cnt"),
                    F.sum(F.expr("c * (c - 1) DIV 2")).cast("long")
                     .alias("same_b")))
    per = (batches.groupBy("batch_size")
           .agg(F.sum(F.expr("cnt * (cnt - 1) DIV 2")).cast("long")
                 .alias("total_pairs"),
                F.sum("same_b").cast("long").alias("same_label_pairs")))
    return (per.crossJoin(F.broadcast(tot))
            .select("batch_size",
                    F.expr("greatest(1, n_vecs DIV batch_size)")
                     .cast("long").alias("n_batches"),
                    "total_pairs", "same_label_pairs",
                    C.permille(F.col("same_label_pairs"),
                               F.col("total_pairs"))
                     .alias("false_neg_permille"))
            .orderBy("batch_size"))


def sql_inbatch_negatives(table: str = "embeddings",
                          batch_sizes: list[int] | None = None) -> str:
    sizes = batch_sizes or INBATCH_SIZES
    vals = ", ".join(f"({b})" for b in sizes)
    h = C.sql_h60("CAST(vec_id AS VARCHAR)")
    return f"""
        WITH tot AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM {table}
        ), bs AS (
            SELECT CAST(batch_size AS BIGINT) AS batch_size
            FROM (VALUES {vals}) v(batch_size)
        ), base AS (
            SELECT bs.batch_size,
                   {h} % GREATEST(1, tot.n_vecs // bs.batch_size) AS batch,
                   CAST(label AS BIGINT) AS label
            FROM {table} CROSS JOIN bs CROSS JOIN tot
        ), grid AS (
            SELECT batch_size, batch, label,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM base GROUP BY 1, 2, 3
        ), batches AS (
            SELECT batch_size, batch,
                   CAST(SUM(c) AS BIGINT) AS cnt,
                   CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS same_b
            FROM grid GROUP BY 1, 2
        ), per AS (
            SELECT batch_size,
                   CAST(SUM(cnt * (cnt - 1) // 2) AS BIGINT)
                       AS total_pairs,
                   CAST(SUM(same_b) AS BIGINT) AS same_label_pairs
            FROM batches GROUP BY 1
        )
        SELECT p.batch_size,
               CAST(GREATEST(1, t.n_vecs // p.batch_size) AS BIGINT)
                   AS n_batches,
               p.total_pairs, p.same_label_pairs,
               {C.sql_permille('p.same_label_pairs', 'p.total_pairs')}
                   AS false_neg_permille
        FROM per p CROSS JOIN tot t
        ORDER BY p.batch_size
    """


# Late-interaction (ColBERT-style MaxSim) retrieval: each vector is read
# as SUBVECS contiguous sub-vectors ("token embeddings"); score(q, d) =
# sum_i max_j <q_i, d_j>.
SUBVECS = 8
SUBDIM = 8


def latesim_topk(df: DataFrame, vec_col: str = "embedding",
                 k: int = TOP_K, query_mod: int = QUERY_MOD) -> DataFrame:
    """Late-interaction top-k (ColBERT MaxSim): treat every embedding as
    ``SUBVECS`` contiguous ``SUBDIM``-dim sub-vectors (the multi-vector /
    token-embedding layout) and rank candidates by
    sum_i max_j <q_i, d_j> — the retrieval scorer that keeps per-token
    granularity a single pooled dot product loses, and the third index
    family next to the dot-product ANN (:func:`brute_force_topk`) and
    the quantized ones (:func:`pq_codes`/:func:`sq8_recon_error`).

    The whole MaxSim is computed IN-ROW on the joined pair (nested
    transform/array_max/aggregate over the two arrays) — no sub-vector
    explode, so the plan is exactly the brute-ANN shape: one broadcast
    of the query side, a narrow projection, one top-k window. Integer
    exact: sub-dots are int64 sums of 8 products of EMB_SCALE-quantized
    components; the MaxSim adds 8 of them (< 2^40 total). At scale the
    candidate side comes from an IVF shortlist exactly as in
    :func:`ivf_ann_topk`; MaxSim then re-ranks the shortlist — the
    standard two-stage late-interaction serving plan."""
    q = _quantized(df, vec_col)
    queries = q.filter(F.col("vec_id") % query_mod == 0) \
               .select(F.col("vec_id").alias("query_id"),
                       F.col("q").alias("qv"))
    corpus = q.select(F.col("vec_id").alias("cand_id"),
                      F.col("q").alias("cv"))

    def maxsim(qcol, ccol):
        per_qsub = F.transform(
            F.sequence(F.lit(0), F.lit(SUBVECS - 1)),
            lambda i: F.array_max(F.transform(
                F.sequence(F.lit(0), F.lit(SUBVECS - 1)),
                lambda j: C.int_dot(F.slice(qcol, i * SUBDIM + 1, SUBDIM),
                                    F.slice(ccol, j * SUBDIM + 1, SUBDIM)))))
        return F.aggregate(per_qsub, F.lit(0).cast("long"),
                           lambda acc, x: acc + x)

    scored = (corpus.join(F.broadcast(queries),
                          F.col("cand_id") != F.col("query_id"))
              .select("query_id", "cand_id",
                      maxsim(F.col("qv"), F.col("cv")).alias("maxsim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("maxsim"),
                                               F.asc("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "cand_id", "maxsim",
                          F.col("rank").cast("long").alias("rank")))


def sql_latesim_topk(table: str = "embeddings", k: int = TOP_K,
                     query_mod: int = QUERY_MOD) -> str:
    qe = C.sql_quantized_embedding("embedding")
    d = SUBDIM
    maxsim = (
        f"CAST(list_sum(list_transform(range(0, {SUBVECS}), i -> "
        f"list_max(list_transform(range(0, {SUBVECS}), j -> "
        f"CAST(list_dot_product("
        f"list_slice(qv, i * {d} + 1, i * {d} + {d}), "
        f"list_slice(cv, j * {d} + 1, j * {d} + {d})) AS BIGINT)))))"
        f" AS BIGINT)")
    return f"""
        WITH q AS (SELECT vec_id, {qe} AS q FROM {table}),
        queries AS (
            SELECT vec_id AS query_id, q AS qv FROM q
            WHERE vec_id % {query_mod} = 0
        ), corpus AS (SELECT vec_id AS cand_id, q AS cv FROM q),
        scored AS (
            SELECT query_id, cand_id, {maxsim} AS maxsim
            FROM corpus JOIN queries ON cand_id <> query_id
        )
        SELECT query_id, cand_id, maxsim, CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY maxsim DESC, cand_id) AS rank
            FROM scored
        ) WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# k-center greedy (Gonzalez farthest-first) — coreset / diversity selection
# ---------------------------------------------------------------------------

K_CENTER_K = 8


def _min_d2_expr(centers: list[list[int]]) -> "Column":
    """min squared-L2 from the quantized column ``q`` to a literal center
    set — ONE F.expr (array-of-arrays literal + transform), the same
    py4j-cheap loop form as the IVF/PQ constants."""
    cents = ", ".join(
        "array(" + ", ".join(f"{v}L" for v in c) + ")" for c in centers)
    return F.expr(
        f"array_min(transform(array({cents}), c -> "
        f"aggregate(zip_with(q, c, (x, y) -> (x - y) * (x - y)), 0L,"
        f" (acc, x) -> acc + x)))")


def k_center_select(df: DataFrame, vec_col: str = "embedding",
                    k: int = K_CENTER_K) -> DataFrame:
    """Greedy k-center selection (Gonzalez farthest-first, the classic
    2-approximation to the metric k-center problem) over the quantized
    embedding space — the coreset / diversity-sampling primitive: pick
    the k mutually-farthest exemplars, the selection rule behind
    facility-location-style subset selection for finetuning data and
    eval-set construction.

    Deterministic: seed = smallest vec_id; each round picks the
    not-yet-chosen vector maximizing min-d² to the chosen set (ties →
    smallest vec_id; a chosen vector would tie at d² = 0 once the
    distinct points run out, so it is excluded, as the oracle's NOT IN
    does); integer squared-L2 end-to-end, so both engines agree
    exactly.

    Returns k+1 rows: (round, center_id, sel_d2) for rounds 0..k-1 —
    sel_d2 is the maxmin distance that elected the center, the k-center
    "radius curve" whose knee says how many exemplars the corpus needs —
    plus a final row (k, -1, coverage d²_max after all k centers).

    Plan/scale: k driver rounds, each ONE narrow scan + TakeOrdered(1)
    over (vec_id, q) with the ≤k chosen centers inlined as an
    expression literal (no shuffle, no join, no lineage growth — every
    round builds a fresh stateless plan, so no localCheckpoint is
    needed); O(k²·n) integer dot work total with k=8. This is the
    textbook distributed Gonzalez: at 10^12 vectors each round is one
    map-reduce max, and the centers (k rows) always fit the driver.
    Reference parity: none (the reference has no vector ops) — extends
    SURVEY §2.10's curation family like the ANN/PQ suite."""
    q = _quantized(df, vec_col)
    seed = q.orderBy("vec_id").limit(1).collect()[0]
    rows = [(0, int(seed["vec_id"]), 0)]
    centers = [[int(v) for v in seed["q"]]]
    for r in range(1, k):
        chosen = [c for _, c, _ in rows]
        top = (q.filter(~F.col("vec_id").isin(chosen))
                .select("vec_id", "q", _min_d2_expr(centers).alias("d2"))
                .orderBy(F.desc("d2"), F.asc("vec_id")).limit(1)
                .collect()[0])
        rows.append((r, int(top["vec_id"]), int(top["d2"])))
        centers.append([int(v) for v in top["q"]])
    cov = (q.select(_min_d2_expr(centers).alias("d2"))
            .agg(F.max("d2")).collect()[0][0])
    rows.append((k, -1, int(cov)))
    spark = df.sparkSession
    return spark.createDataFrame(
        rows, "round bigint, center_id bigint, sel_d2 bigint") \
        .orderBy("round")


def sql_k_center_select(table: str = "embeddings",
                        k: int = K_CENTER_K) -> str:
    """DuckDB oracle: the same greedy unrolled into k CTE stages (exact
    integer d² via list_dot_product identity a·a - 2a·b + b·b)."""
    qe = C.sql_quantized_embedding("embedding")
    d2 = ("CAST(list_dot_product(e.q, e.q) AS BIGINT) "
          "- 2 * CAST(list_dot_product(e.q, c.q) AS BIGINT) "
          "+ CAST(list_dot_product(c.q, c.q) AS BIGINT)")
    # AS MATERIALIZED is load-bearing: each stage references the previous
    # one twice (join + NOT IN), so inlined CTEs re-evaluate the whole
    # prefix and the plan goes exponential in k (observed: stage 8 hung).
    parts = [f"e AS MATERIALIZED (SELECT vec_id, {qe} AS q FROM {table})",
             "ch0 AS MATERIALIZED (SELECT 0 AS round, vec_id, "
             "0::BIGINT AS sel_d2, q FROM e ORDER BY vec_id LIMIT 1)"]
    for r in range(1, k):
        parts.append(f"""s{r} AS MATERIALIZED (
            SELECT e.vec_id, e.q, MIN({d2}) AS mind2
            FROM e JOIN ch{r - 1} c ON true
            WHERE e.vec_id NOT IN (SELECT vec_id FROM ch{r - 1})
            GROUP BY e.vec_id, e.q
        )""")
        parts.append(f"""ch{r} AS MATERIALIZED (
            SELECT * FROM ch{r - 1}
            UNION ALL
            SELECT {r} AS round, vec_id, mind2 AS sel_d2, q FROM (
                SELECT * FROM s{r}
                ORDER BY mind2 DESC, vec_id LIMIT 1)
        )""")
    parts.append(f"""cov AS (
        SELECT {k} AS round, CAST(-1 AS BIGINT) AS center_id,
               MAX(mind2) AS sel_d2 FROM (
            SELECT e.vec_id, MIN({d2}) AS mind2
            FROM e JOIN ch{k - 1} c ON true
            GROUP BY e.vec_id)
    )""")
    return ("WITH " + ",\n".join(parts) + f"""
        SELECT round, CAST(vec_id AS BIGINT) AS center_id,
               CAST(sel_d2 AS BIGINT) AS sel_d2
        FROM ch{k - 1}
        UNION ALL SELECT round, center_id, CAST(sel_d2 AS BIGINT)
        FROM cov
        ORDER BY round
    """)


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "embedding_isotropy",
    """Pairwise signed-cos² histogram over deterministic stride pairs —
    the anisotropy/representation-collapse audit (sqrt-free, int64-safe
    by Cauchy-Schwarz).""",
    lambda spark, sf_dir: embedding_isotropy(embs(spark, sf_dir)),
    sql_embedding_isotropy)

register(
    "pca_power_step",
    """Two integer power-iteration steps toward the dominant principal
    direction of the embedding Gram matrix — Aᵀ(A·v) without
    materializing the d×d Gram, 64-key dim aggs, one-row broadcast of
    the direction between steps.""",
    lambda spark, sf_dir: pca_power_step(embs(spark, sf_dir)),
    sql_pca_power_step)

register(
    "pca_alignment",
    """Per-vector squared-cosine histogram against the power-iteration
    principal direction — the "all-but-the-top" collapse report; per-row
    bounded integer chain, 11-key agg.""",
    lambda spark, sf_dir: pca_alignment(embs(spark, sf_dir)),
    sql_pca_alignment)

register(
    "ann_topk_graph",
    """Graph-expansion ANN: offline degree-bounded kNN graph from
    multiprobe LSH candidates; queries probe one bucket + one graph hop
    (the NSW/HNSW index-effort-for-query-latency trade).""",
    lambda spark, sf_dir: graph_ann_topk(embs(spark, sf_dir)),
    sql_graph_ann_topk)

register(
    "silhouette_labels",
    """Per-label simplified silhouette (centroid form, integer permille):
    label-coherence audit before trusting labels for splits/sampling;
    one (label,dim) agg + in-row distance transforms, no n×L shuffle.""",
    lambda spark, sf_dir: silhouette_labels(embs(spark, sf_dir)),
    sql_silhouette_labels)

register(
    "embedding_norm_audit",
    """Quantized squared-L2 histogram vs corpus max — the pre-ANN sanity
    gate for mixed/un-normalized embedding versions.""",
    lambda spark, sf_dir: embedding_norm_audit(embs(spark, sf_dir)),
    sql_embedding_norm_audit)

register(
    "sq8_recon_embeddings",
    """SQ8 scalar-quantization audit: exact integer reconstruction error
    per label against corpus-wide per-dim ranges — dim stats fold to one
    broadcast row, error is in-row zip_with (no join-back shuffle).""",
    lambda spark, sf_dir: sq8_recon_error(embs(spark, sf_dir)),
    sql_sq8_recon_error)

register(
    "triplet_mining_embeddings",
    """FaceNet-taxonomy triplet report per label (hard / semi-hard /
    easy / no-positive anchors) on exact signed-cos2 integer similarity;
    corpus side broadcast, IVF-cell candidates at scale.""",
    lambda spark, sf_dir: triplet_mining(embs(spark, sf_dir)),
    sql_triplet_mining)

register(
    "index_plan_advisor_embeddings",
    """ANN index capacity plan from one stats row: IVF nlist/nprobe,
    PQ subspaces, per-encoding footprints, rule-based recommendation.""",
    lambda spark, sf_dir: index_plan_advisor(embs(spark, sf_dir)),
    sql_index_plan_advisor)

register(
    "inbatch_negatives_embeddings",
    """In-batch false-negative collision permille per candidate batch
    size (hash batching, pair counts from the (batch,label) histogram).""",
    lambda spark, sf_dir: inbatch_negatives(embs(spark, sf_dir)),
    sql_inbatch_negatives)

register(
    "latesim_topk_embeddings",
    """ColBERT-style late-interaction MaxSim top-k (8x8 sub-vectors,
    in-row nested max/sum — brute-ANN plan shape).""",
    lambda spark, sf_dir: latesim_topk(embs(spark, sf_dir)),
    sql_latesim_topk)

register(
    "knn_label_consistency",
    "kNN majority-label vs own label: mislabeled-example screen.",
    lambda spark, sf_dir: knn_label_consistency(embs(spark, sf_dir)),
    sql_knn_label_consistency)

register(
    "ann_topk_brute",
    "Exact brute-force cosine top-k (broadcast queries, windowed rank).",
    lambda spark, sf_dir: brute_force_topk(embs(spark, sf_dir)),
    sql_brute_force_topk)

register(
    "ann_topk_lsh",
    "LSH-bucketed ANN top-k with Hamming-1 multiprobe.",
    lambda spark, sf_dir: lsh_ann_topk(embs(spark, sf_dir)),
    sql_lsh_ann_topk)

register(
    "ann_topk_ivf",
    """IVF-flat ANN top-k: fixed coarse-quantizer cells + nprobe probing,
    exact integer-dot re-rank (partition-prunable corpus layout at scale).""",
    lambda spark, sf_dir: ivf_ann_topk(embs(spark, sf_dir)),
    sql_ivf_ann_topk)

register(
    "ann_topk_rrf",
    """Reciprocal-rank fusion of the LSH and IVF ANN paths — union recall
    at top-k cost, integer-micros scores, no cross-ranker calibration.""",
    lambda spark, sf_dir: rrf_fusion_topk(embs(spark, sf_dir)),
    sql_rrf_fusion_topk)

register(
    "ann_topk_ivfadc",
    """IVFADC: PQ-compressed ANN scan — probed coarse cells, candidates
    scored from the packed 8-byte PQ code via a per-query 128-entry LUT
    (asymmetric distance); full vectors never touched on the corpus side.""",
    lambda spark, sf_dir: ivfadc_ann_topk(embs(spark, sf_dir)),
    sql_ivfadc_ann_topk)

register(
    "label_centroid_embeddings",
    """Per-(label, dim) centroid sums over quantized embeddings: narrow
    posexplode + one map-side-combined hash agg — exact, mergeable class
    statistics (#labels x dims output rows at any corpus size).""",
    lambda spark, sf_dir: label_centroid_stats(embs(spark, sf_dir)),
    sql_label_centroid_stats)

register(
    "pq_codes_embeddings",
    """Product-quantization encoding: 8 x 4-bit nearest-centroid codes
    packed into one int64 + squared reconstruction error — pure Catalyst,
    zero shuffle.""",
    lambda spark, sf_dir: pq_codes(embs(spark, sf_dir)),
    sql_pq_codes)

register(
    "kcenter_select_embeddings",
    """Greedy k-center (Gonzalez farthest-first) coreset selection over
    the embedding space: 8 mutually-farthest exemplars + the maxmin
    radius curve + final coverage d2 — per round one narrow scan +
    TakeOrdered(1) with the chosen centers inlined as literals (no
    shuffle, no join, stateless per-round plans).""",
    lambda spark, sf_dir: k_center_select(embs(spark, sf_dir)),
    sql_k_center_select)

register(
    "kmeans_step_embeddings",
    """One Lloyd k-means iteration vs the IVF centroids: pure-Catalyst
    argmin assignment + one (cell, dim) hash agg -> exact sums, floored
    new centroids, per-coordinate drift.""",
    lambda spark, sf_dir: kmeans_step(embs(spark, sf_dir)),
    sql_kmeans_step)

register(
    "centroid_outliers_embeddings",
    """OOD embedding screen: exact squared distance to the assigned IVF
    centroid; flagged when the origin explains the vector better than its
    own nearest centroid. Pure Catalyst, zero shuffle.""",
    lambda spark, sf_dir: centroid_outliers(embs(spark, sf_dir)),
    sql_centroid_outliers)
