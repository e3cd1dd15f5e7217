"""Asymmetric shingle containment — quote / subset detection.

Jaccard (``textops/dedup.py``) misses the pair a training-data curator
cares about most: a SHORT document wholly contained in a long one (a
quoted post, a boilerplate-wrapped article, an excerpt). Its union
denominator dilutes the overlap; the right score is containment
``C(A→B) = |A ∩ B| / |A|`` (Broder's resemblance/containment split,
"On the resemblance and containment of documents", SEQUENCES 1997) —
asymmetric, so each unordered overlap pair is scored in both directions.

Reference parity: the reference engine has no containment operator; this
extends the dedup family the same way its ETL route extends parse
(SURVEY.md §2.7+) — every op here is a ``queries()`` + ``oracle_sql()``
pair on integer/hash arithmetic.

100-TB shape: identical to the Jaccard inverted-index join — one
(shingle) explode of the PERSISTED shingle table, a mandatory ``max_df``
hot-shingle guard (containment is even more skew-prone than Jaccard: a
stop-phrase shingle contained in everything makes every short doc a
candidate), one self-join, one (doc_a, doc_b) hash agg. Directions are
emitted by exploding each unordered pair into its two orderings AFTER
the agg — no second join. Recall contract matches ngram_jaccard_pairs:
sizes stay pre-filter, intersections shrink only, so no false pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import common as C
from .dedup import SHINGLE_K, doc_shingles, _sql_doc_shingles
from log_collector_spark.registry import docs, register

# C(A→B) >= CONT_NUM/CONT_DEN flags A as (near-)contained in B. 6/10 sits
# between the Jaccard near-dup band (0.3) and exact duplication, so the
# synthetic corpus produces a non-empty, non-trivial pair set (the oracle
# gate is exercised — ADVICE r3's vacuity lesson).
CONT_NUM, CONT_DEN = 6, 10
CONT_MAX_DF = 100  # hot-shingle guard (df > this is dropped pre-join)


def containment_pairs(df: DataFrame, text_col: str = "text",
                      k: int = SHINGLE_K,
                      num: int = CONT_NUM, den: int = CONT_DEN,
                      max_df: int = CONT_MAX_DF) -> DataFrame:
    """Ordered pairs (doc_sub, doc_sup) with shingle containment
    ``|sub ∩ sup| / |sub| >= num/den``, plus the exact intersection,
    the contained side's size, and the integer-permille score.

    Returns (doc_sub, doc_sup, inter, size_sub, cont_permille)
    ORDER BY doc_sub, doc_sup.
    """
    docs = doc_shingles(df, text_col, k)
    inv = docs.select("doc_id", "n_shingles",
                      F.explode("shingles").alias("sh"))
    hot = (inv.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
              .filter(F.col("df") > max_df).select("sh"))
    inv = inv.join(F.broadcast(hot), "sh", "left_anti")
    a, b = inv.alias("a"), inv.alias("b")
    pairs = (a.join(b, (F.col("a.sh") == F.col("b.sh")) &
                    (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("inter"),
                  F.first("a.n_shingles").alias("size_a"),
                  F.first("b.n_shingles").alias("size_b")))
    # explode each unordered pair into its two directions (no second join)
    both = pairs.select(
        F.explode(F.array(
            F.struct(F.col("doc_a").alias("doc_sub"),
                     F.col("doc_b").alias("doc_sup"),
                     F.col("inter"),
                     F.col("size_a").alias("size_sub")),
            F.struct(F.col("doc_b").alias("doc_sub"),
                     F.col("doc_a").alias("doc_sup"),
                     F.col("inter"),
                     F.col("size_b").alias("size_sub")),
        )).alias("d")).select("d.*")
    return (both.filter(F.col("inter") * den >= F.lit(num)
                        * F.col("size_sub"))
                .select("doc_sub", "doc_sup",
                        F.col("inter").cast("long").alias("inter"),
                        F.col("size_sub").cast("long").alias("size_sub"),
                        C.permille(F.col("inter"), F.col("size_sub"))
                         .alias("cont_permille"))
                .orderBy("doc_sub", "doc_sup"))


def sql_containment_pairs(table: str = "documents",
                          k: int = SHINGLE_K,
                          num: int = CONT_NUM,
                          den: int = CONT_DEN) -> str:
    """Brute-force all-pairs oracle (no max_df guard: on the sf corpora no
    shingle exceeds CONT_MAX_DF docs, so guarded Spark ≡ unguarded SQL —
    equality doubles as the guard's no-false-drop check at this scale)."""
    return f"""
        WITH docs AS ({_sql_doc_shingles(table, k)}),
        inv AS (SELECT doc_id, unnest(shingles) AS sh FROM docs),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        sized AS (
            SELECT i.doc_a, i.doc_b, i.inter,
                   da.n_shingles AS size_a, db.n_shingles AS size_b
            FROM inter i
            JOIN docs da ON da.doc_id = i.doc_a
            JOIN docs db ON db.doc_id = i.doc_b
        ),
        dirs AS (
            SELECT doc_a AS doc_sub, doc_b AS doc_sup, inter,
                   size_a AS size_sub FROM sized
            UNION ALL
            SELECT doc_b AS doc_sub, doc_a AS doc_sup, inter,
                   size_b AS size_sub FROM sized
        )
        SELECT doc_sub, doc_sup,
               CAST(inter AS BIGINT) AS inter,
               CAST(size_sub AS BIGINT) AS size_sub,
               {C.sql_permille('inter', 'size_sub')} AS cont_permille
        FROM dirs
        WHERE inter * {den} >= {num} * size_sub
        ORDER BY doc_sub, doc_sup
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "containment_pairs",
    """Asymmetric shingle containment (quote/subset detection) — ordered
    (contained, container) pairs with C(A→B) >= 0.6.""",
    lambda spark, sf_dir: containment_pairs(docs(spark, sf_dir)),
    sql_containment_pairs)
