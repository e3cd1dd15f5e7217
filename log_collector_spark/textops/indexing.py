"""Inverted-index construction statistics (the search-engine build step).

A full-text engine over the corpus needs token → posting-list structures;
at 100 TB the build is one (token, doc_id, pos) shuffle and the classic
failure mode is the stop-word token whose posting list is a single
shuffle-key holding 10^9 entries. This operator builds the index the
scale-honest way:

- every token gets exact ``df`` (document frequency) and ``n_postings``
  via plain counting aggregates — no list ever materializes for these;
- the canonical posting-list fingerprint (``postings_h60`` — h60 over the
  sorted ``doc:pos`` list, which IS the index content, hashable across
  engines) is computed ONLY for tokens with ``df <= max_df``; hot tokens
  report NULL there — the same max_df discipline as dedup's shingle
  guards. A real deployment shards hot postings instead; the stats stay
  exact either way.

Output is one row per distinct token — the index's dictionary table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from log_collector_spark.textops import common as C
from log_collector_spark.registry import docs, register

INDEX_MAX_DF = 400  # postings fingerprint cutoff (sandbox-sized)


def inverted_index_stats(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         max_df: int = INDEX_MAX_DF) -> DataFrame:
    """Per-token dictionary row: df, n_postings, first/last doc id, and the
    posting-list fingerprint for non-hot tokens (NULL above ``max_df``)."""
    ex = (df.select(F.col(id_col),
                    F.posexplode(C.tokens(F.col(text_col)))
                     .alias("pos", "tok")))
    posting = F.concat_ws(":", F.col(id_col).cast("string"),
                          F.col("pos").cast("string"))
    counts = (ex.groupBy("tok")
              .agg(F.countDistinct(id_col).cast("long").alias("df"),
                   F.count(F.lit(1)).cast("long").alias("n_postings"),
                   F.min(id_col).cast("long").alias("first_doc"),
                   F.max(id_col).cast("long").alias("last_doc")))
    # The guard must be STRUCTURAL, not cosmetic: collecting every token's
    # posting list and nulling hot ones afterwards would still materialize
    # the stop-word list as one shuffle value. Filter to cold tokens FIRST
    # (equi-join on tok — same key as the following agg, AQE reuses the
    # partitioning), then collect only those lists.
    cold = counts.filter(F.col("df") <= max_df).select("tok")
    plists = (ex.join(cold, "tok")
              .select("tok", posting.alias("p"))
              .groupBy("tok")
              .agg(F.concat_ws(",", F.array_sort(
                   F.collect_list("p"))).alias("_plist")))
    return (counts.join(plists, "tok", "left")
            .select("tok", "df", "n_postings", "first_doc", "last_doc",
                    C.h60(F.col("_plist")).cast("long")
                     .alias("postings_h60")))


def sql_inverted_index_stats(table: str = "documents",
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             max_df: int = INDEX_MAX_DF) -> str:
    toks = C.sql_tokens(text_col)
    h = C.sql_h60("plist")
    return f"""
        WITH ex AS (
            SELECT {id_col}, t.i - 1 AS pos, {toks}[t.i] AS tok
            FROM {table},
                 LATERAL unnest(range(1, len({toks}) + 1)) AS t(i)
        ), per AS (
            SELECT tok,
                   CAST(COUNT(DISTINCT {id_col}) AS BIGINT) AS df,
                   CAST(COUNT(*) AS BIGINT) AS n_postings,
                   CAST(MIN({id_col}) AS BIGINT) AS first_doc,
                   CAST(MAX({id_col}) AS BIGINT) AS last_doc,
                   string_agg(CAST({id_col} AS VARCHAR) || ':'
                              || CAST(pos AS VARCHAR), ','
                              ORDER BY CAST({id_col} AS VARCHAR) || ':'
                                       || CAST(pos AS VARCHAR)) AS plist
            FROM ex GROUP BY tok
        )
        SELECT tok, df, n_postings, first_doc, last_doc,
               CASE WHEN df <= {max_df} THEN CAST({h} AS BIGINT)
                    ELSE NULL END AS postings_h60
        FROM per
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "inverted_index_stats",
    """Per-token inverted-index dictionary rows: exact df/postings counts
    for every token; posting-list fingerprint only under max_df (the hot
    stop-word posting list never materializes as one shuffle value).""",
    lambda spark, sf_dir: inverted_index_stats(docs(spark, sf_dir)),
    sql_inverted_index_stats)
