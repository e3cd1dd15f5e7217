"""Language-model-proxy quality scoring without a language model.

CCNet/FineWeb-style pipelines filter on LM perplexity; in a pure-SQL/
integer engine the deterministic stand-in is corpus-bigram SURPRISAL with
a bit-length log: ``bitlen(x) = length(bin(x)) = floor(log2 x) + 1`` has
IDENTICAL semantics in Spark and DuckDB (no-leading-zeros ``bin``), so
"bits of surprise" stays in exact integer arithmetic under the driver's
typed value-hash.

    surprisal(bigram) = bitlen(total_bigrams) - bitlen(count(bigram))
    doc score         = mean surprisal over the doc's token bigrams,
                        in millibits (x1000, integer floor)

A doc full of corpus-common bigrams scores low (predictable text); rare
junk scores high — the same decision boundary an LM-perplexity filter
draws, quantized to integer bits.

Scale shape (100 TB): one (bigram, count) hash agg over the corpus, one
token-bigram explode + equi-join on the bigram hash (the vocabulary is
never broadcast — same join discipline as analysis.token_rarity), one
per-doc agg. Three shuffles total, all on high-cardinality keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from log_collector_spark.textops import common as C
from log_collector_spark.registry import docs, register


def _bigrams(text_col: str):
    """Adjacent token-pair strings "a b" (narrow array transform)."""
    toks = C.tokens(F.col(text_col))
    return F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b))


def _sql_bigrams(text_col: str) -> str:
    toks = C.sql_tokens(text_col)
    return (f"list_transform(range(1, greatest(len({toks}), 1)), "
            f"i -> {toks}[i] || ' ' || {toks}[i + 1])")


def bigram_surprisal(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-doc mean corpus-bigram surprisal in millibits (see module doc).

    Returns (doc_id, n_bigrams, surprisal_millibits); docs with no bigram
    (fewer than 2 tokens) report 0 — the never-throw F3 convention.
    """
    ex = df.select(F.col(id_col),
                   F.explode(_bigrams(text_col)).alias("bg"))
    counts = ex.groupBy("bg").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").cast("long").alias("n_total"))
    bitlen = lambda c: F.length(F.bin(c)).cast("long")
    scored = (ex.join(counts, "bg")
              .crossJoin(F.broadcast(total))
              .select(F.col(id_col),
                      (bitlen(F.col("n_total"))
                       - bitlen(F.col("n"))).alias("bits")))
    per_doc = (scored.groupBy(id_col)
               .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                    F.sum("bits").cast("long").alias("bits_sum")))
    out = (df.select(id_col).join(per_doc, id_col, "left")
           .select(F.col(id_col),
                   F.coalesce("n_bigrams", F.lit(0)).cast("long")
                    .alias("n_bigrams"),
                   F.coalesce("bits_sum", F.lit(0)).alias("bits_sum")))
    return out.select(
        id_col, "n_bigrams",
        F.when(F.col("n_bigrams") > 0,
               F.expr("bits_sum * 1000 DIV n_bigrams"))
         .otherwise(0).cast("long").alias("surprisal_millibits"))


def sql_bigram_surprisal(table: str = "documents", id_col: str = "doc_id",
                         text_col: str = "text") -> str:
    bg = _sql_bigrams(text_col)
    return f"""
        WITH ex AS (
            SELECT {id_col}, unnest({bg}) AS bg FROM {table}
        ), counts AS (
            SELECT bg, COUNT(*) AS n FROM ex GROUP BY bg
        ), tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM counts
        ), per AS (
            SELECT e.{id_col},
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(SUM(length(bin(t.n_total)) - length(bin(c.n)))
                        AS BIGINT) AS bits_sum
            FROM ex e JOIN counts c ON c.bg = e.bg CROSS JOIN tot t
            GROUP BY e.{id_col}
        )
        SELECT d.{id_col},
               CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               CAST(CASE WHEN COALESCE(p.n_bigrams, 0) > 0
                    THEN p.bits_sum * 1000 // p.n_bigrams
                    ELSE 0 END AS BIGINT) AS surprisal_millibits
        FROM {table} d LEFT JOIN per p ON p.{id_col} = d.{id_col}
    """


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al., "Data Selection for
# Language Models via Importance Resampling") — hashed n-gram importance
# weights, the widely-used LM-free way to pick raw-corpus documents that
# look like a target domain.
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024
DSIR_TARGET_SOURCE = "src0"
DSIR_TOP_K = 50


def dsir_importance(df: DataFrame, target_source: str = DSIR_TARGET_SOURCE,
                    n_buckets: int = DSIR_BUCKETS,
                    top_k: int = DSIR_TOP_K) -> DataFrame:
    """Top-k raw documents by hashed-bigram importance weight against a
    target domain (here: the ``source == target_source`` slice).

    DSIR's estimator: hash n-gram features into a FIXED number of
    buckets, estimate target and raw unigram-of-buckets distributions,
    and score each document by Σ_f log(p_target(f) / p_raw(f)) over its
    features. The bucket table is what makes it scale: B=1024 rows no
    matter how big the corpus, so the score join is a broadcast, never a
    vocabulary shuffle (compare bigram_surprisal, which joins the full
    vocab — DSIR trades resolution for a constant-size model).

    Integer end-to-end: log ratios in whole bits via the bit-length log
    (λ_f = [bitlen(n_t+1) − bitlen(T+1)] − [bitlen(n_r+1) − bitlen(R+1)]
    — add-one smoothing, no products, so nothing can overflow at any
    corpus size), per-doc mean ×1000 (millibits), ties on the top-k
    broken by doc_id.

    Returns (rank, doc_id, source, n_bigrams, imp_millibits), rank 1..k.

    Plan/scale: one bigram explode, counted once per (doc, source,
    bucket) — the only data-sized shuffle, whose exchange both consumers
    reuse: the B-bucket agg (raw and target counts in one conditional
    sum, corpus totals as a window over its B rows) and the per-doc
    Σ c·λ over a broadcast join of the λ table; one TakeOrdered(k)."""
    bitlen = lambda c: F.length(F.bin(c)).cast("long")
    cnt = (df.select("doc_id", "source",
                     F.explode(_bigrams("text")).alias("bg"))
             .groupBy("doc_id", "source",
                      (C.h60(F.col("bg")) % n_buckets).alias("bucket"))
             .agg(F.count(F.lit(1)).alias("c")))
    tgt_c = F.when(F.col("source") == target_source, F.col("c")).otherwise(0)
    # totals: a window over the B bucket rows, not a second agg over them
    total = Window.partitionBy()
    lam = (cnt.groupBy("bucket").agg(F.sum("c").alias("n_r"),
                                     F.sum(tgt_c).alias("n_t"))
              .select("bucket",
                      ((bitlen(F.col("n_t") + 1)
                        - bitlen(F.sum("n_t").over(total) + 1))
                       - (bitlen(F.col("n_r") + 1)
                          - bitlen(F.sum("n_r").over(total) + 1))
                       ).alias("lam")))
    # every bucket has a λ; "left" keeps the inferred bucket IS NOT NULL
    # filter out of this copy of the counts, so its exchange is reused
    per_doc = (cnt.join(F.broadcast(lam), "bucket", "left")
                  .groupBy("doc_id", "source")
                  .agg(F.sum("c").cast("long").alias("n_bigrams"),
                       F.sum(F.col("c") * F.col("lam")).cast("long")
                        .alias("lam_sum")))
    # abs-split: DIV only ever sees a non-negative numerator, so the
    # rounding cannot depend on an engine's signed-division rule
    imp = (F.when(F.col("lam_sum") >= 0,
                  F.expr("lam_sum * 1000 DIV n_bigrams"))
           .otherwise(-F.expr("(-lam_sum) * 1000 DIV n_bigrams")))
    scored = per_doc.select("doc_id", "source", "n_bigrams",
                            imp.alias("imp_millibits"))
    # top-k FIRST (distributed TakeOrdered — per-partition heads merged
    # on the driver), rank AFTER: a global row_number window before the
    # limit would drag the whole per-doc frame through one task
    top = scored.orderBy(F.desc("imp_millibits"), F.asc("doc_id")) \
                .limit(top_k)
    w = Window.orderBy(F.desc("imp_millibits"), F.asc("doc_id"))
    return (top.withColumn("rank", F.row_number().over(w))
               .select(F.col("rank").cast("int").alias("rank"),
                       "doc_id", "source", "n_bigrams", "imp_millibits")
               .orderBy("rank"))


def sql_dsir_importance(table: str = "documents",
                        target_source: str = DSIR_TARGET_SOURCE,
                        n_buckets: int = DSIR_BUCKETS,
                        top_k: int = DSIR_TOP_K) -> str:
    bg = _sql_bigrams("text")
    h = C.sql_h60("bg")
    return f"""
        WITH ex AS (
            SELECT doc_id, source, {h} % {n_buckets} AS bucket
            FROM (SELECT doc_id, source, unnest({bg}) AS bg FROM {table})
        ), raw AS (
            SELECT bucket, COUNT(*) AS n_r FROM ex GROUP BY bucket
        ), tgt AS (
            SELECT bucket, COUNT(*) AS n_t FROM ex
            WHERE source = '{target_source}' GROUP BY bucket
        ), tot AS (
            SELECT (SELECT CAST(SUM(n_r) AS BIGINT) FROM raw) AS R,
                   (SELECT CAST(COALESCE(SUM(n_t), 0) AS BIGINT)
                    FROM tgt) AS T
        ), lam AS (
            SELECT r.bucket,
                   (length(bin(COALESCE(t.n_t, 0) + 1))
                    - length(bin(tot.T + 1)))
                   - (length(bin(r.n_r + 1)) - length(bin(tot.R + 1)))
                       AS lam
            FROM raw r LEFT JOIN tgt t ON t.bucket = r.bucket
            CROSS JOIN tot
        ), per_doc AS (
            SELECT e.doc_id, e.source,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(SUM(l.lam) AS BIGINT) AS lam_sum
            FROM ex e JOIN lam l ON l.bucket = e.bucket
            GROUP BY e.doc_id, e.source
        ), scored AS (
            SELECT doc_id, source, n_bigrams,
                   CASE WHEN lam_sum >= 0 THEN lam_sum * 1000 // n_bigrams
                        ELSE -((-lam_sum) * 1000 // n_bigrams) END
                       AS imp_millibits
            FROM per_doc
        )
        SELECT CAST(rank AS INT) AS rank, doc_id, source, n_bigrams,
               CAST(imp_millibits AS BIGINT) AS imp_millibits
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                       ORDER BY imp_millibits DESC, doc_id) AS rank
            FROM scored)
        WHERE rank <= {top_k}
        ORDER BY rank
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "bigram_surprisal_documents",
    """LM-proxy quality score: mean corpus-bigram surprisal in millibits
    (bit-length log — identical bin() semantics both engines).""",
    lambda spark, sf_dir: bigram_surprisal(docs(spark, sf_dir)),
    sql_bigram_surprisal)

register(
    "dsir_importance_documents",
    """DSIR importance resampling (hashed-bigram importance weights vs a
    target domain, Xie et al.): top-50 raw docs that look most like the
    target slice. The 1024-bucket feature table is constant-size at any
    corpus scale (broadcast score join, never a vocab shuffle); log
    ratios in whole bits via the bit-length log, no products, overflow-
    free by construction.""",
    lambda spark, sf_dir: dsir_importance(docs(spark, sf_dir)),
    sql_dsir_importance)
