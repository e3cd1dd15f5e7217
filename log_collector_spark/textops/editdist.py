"""Edit-distance (Levenshtein) near-duplicate pairs.

The character-level complement to the token-set near-dup family in
``dedup.py``: MinHash/Jaccard miss pairs whose difference is a few
CHARACTER edits inside tokens (typo clones, OCR variants), which is
exactly what a banded Levenshtein pass catches.

Shape (the scalable standard):

1. candidates — pairs sharing >= 1 surviving 3-gram word shingle, through
   the same inverted-index + ``max_df`` hot-shingle guard as
   ``ngram_jaccard_pairs`` (one explode + one equi-self-join; df-capped so
   no O(df²) key). Recall contract: a pair must share one non-ubiquitous
   word 3-gram — for edit distance <= 5 on docs longer than a few tokens
   that is essentially always true (5 character edits can disturb at most
   ~15 of the word 3-grams).
2. length prefilter — ``|len_a − len_b| <= max_dist`` runs before any DP:
   edit distance is bounded below by the length difference, so the
   O(len²) kernel never evaluates on hopeless pairs.
3. verify — built-in ``levenshtein`` (JVM codegen in Spark, native in
   DuckDB; identical DP semantics over unicode codepoints). The Spark
   side uses the 3-arg threshold form (Ukkonen band: O(len·max_dist)
   per pair instead of O(len²), returns -1 past the threshold) — the
   kept rows and their distances are identical to the full DP, only
   hopeless cells are skipped.

Scale (100 TB): text moves ONLY for candidate docs — both text sides
arrive via shuffle equi-joins on doc id (never a candidate-set broadcast;
candidate count scales with near-dup density, the r3 PPJoin lesson).
The shingle explode is the dominant cost and is shared machinery.

Reference parity anchor: engine extension (SURVEY §2.12); the reference
has no similarity surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import common as C
from .dedup import doc_shingles, _sql_doc_shingles
from log_collector_spark.registry import docs, register

EDIT_MAX_DIST = 5
EDIT_MAX_DF = 20
EDIT_SHINGLE_K = 3


def edit_distance_pairs(df: DataFrame, text_col: str = "text",
                        max_dist: int = EDIT_MAX_DIST,
                        max_df: int = EDIT_MAX_DF,
                        k: int = EDIT_SHINGLE_K) -> DataFrame:
    """All candidate pairs with levenshtein(text_a, text_b) <= max_dist.

    Returns (doc_a, doc_b, len_a, len_b, edit_dist) — all BIGINT, total
    ORDER BY (doc_a, doc_b)."""
    inv = (doc_shingles(df, text_col, k)
           .select("doc_id", F.explode("shingles").alias("sh")))
    hot = (inv.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
              .filter(F.col("df") > max_df).select("sh"))
    inv = inv.join(F.broadcast(hot), "sh", "left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    cand = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    texts = df.select(F.col("doc_id"),
                      F.col(text_col).alias("txt"),
                      F.length(text_col).cast("long").alias("len"))
    # both text joins are shuffle equi-joins on the doc id — candidate
    # cardinality is unbounded at corpus scale, so no broadcast here.
    joined = (cand
              .join(texts.select(F.col("doc_id").alias("doc_a"),
                                 F.col("txt").alias("txt_a"),
                                 F.col("len").alias("len_a")), "doc_a")
              .join(texts.select(F.col("doc_id").alias("doc_b"),
                                 F.col("txt").alias("txt_b"),
                                 F.col("len").alias("len_b")), "doc_b")
              .filter(F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
              # banded DP: exact distance when <= max_dist, -1 otherwise
              .withColumn("edit_dist",
                          F.levenshtein("txt_a", "txt_b", max_dist)
                          .cast("long"))
              .filter(F.col("edit_dist") >= 0))
    return (joined.select("doc_a", "doc_b", "len_a", "len_b", "edit_dist")
            .orderBy("doc_a", "doc_b"))


def sql_edit_distance_pairs(table: str = "documents",
                            max_dist: int = EDIT_MAX_DIST,
                            max_df: int = EDIT_MAX_DF,
                            k: int = EDIT_SHINGLE_K) -> str:
    return f"""
        WITH docs AS ({_sql_doc_shingles(table, k)}),
        inv0 AS (SELECT doc_id, unnest(shingles) AS sh FROM docs),
        hot AS (SELECT sh FROM inv0 GROUP BY sh
                HAVING COUNT(*) > {max_df}),
        inv AS (SELECT * FROM inv0 WHERE sh NOT IN (SELECT sh FROM hot)),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM inv a JOIN inv b
              ON a.sh = b.sh AND a.doc_id < b.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               CAST(length(ta.text) AS BIGINT) AS len_a,
               CAST(length(tb.text) AS BIGINT) AS len_b,
               CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist
        FROM cand c
        JOIN {table} ta ON c.doc_a = ta.doc_id
        JOIN {table} tb ON c.doc_b = tb.doc_id
        WHERE abs(length(ta.text) - length(tb.text)) <= {max_dist}
          AND levenshtein(ta.text, tb.text) <= {max_dist}
        ORDER BY doc_a, doc_b
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "edit_distance_pairs",
    """Character-level near-dup: banded Levenshtein (shingle-blocked
    candidates, length prefilter, JVM levenshtein verify).""",
    lambda spark, sf_dir: edit_distance_pairs(docs(spark, sf_dir)),
    sql_edit_distance_pairs)
