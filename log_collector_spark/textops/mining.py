"""Corpus structure mining: log-template extraction, Heaps-law vocabulary
growth, and first-order Markov next-event predictability.

All three are classic "what is IN this log corpus" questions a collector's
downstream consumers ask (the reference stops at per-sink counters,
DefaultFileReader.java:246-248; these extend the §2.8 aggregate family onto
corpus structure). Every output is integer/hash arithmetic so the DuckDB
oracle compares exactly (CLAUDE.md invariant).

Plan shapes at 100 TB:

- :func:`log_templates` — narrow per-row normalize (lowercase + digit-run
  masking, all JVM regex) then ONE map-side-combined hash agg keyed on the
  template prefix; the agg output is template-vocabulary-sized, not
  corpus-sized, and the global top-k is a TakeOrderedAndProject (no full
  sort). This is the Drain/Spell-style template-mining statistic with a
  fixed-depth prefix key instead of a mutable parse tree — deterministic,
  shuffle-minimal, and mergeable across days.
- :func:`vocab_growth` — one (token → min doc_id) hash agg (the only
  corpus-scale shuffle; map-side combine collapses each partition to its
  distinct tokens first), then a bucket-count-sized cumulative sum. The
  unpartitioned window runs over #buckets rows (corpus_docs / bucket), a
  driver-scale frame by construction.
- :func:`markov_next_event` — one user-keyed exchange for the lag window,
  then #event_types²-sized count frames; the argmax per antecedent uses an
  explicit (n DESC, next_type) row_number so ties break identically in both
  engines (struct-max ordering corners differ across engines — CLAUDE.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import common as C
from log_collector_spark.operators import tx_stats as TX
from log_collector_spark.registry import (docs, events, register, routed_slim,
                                          tx_view)

TEMPLATE_PREFIX_K = 6      # tokens kept as the template key
TEMPLATE_TOPK = 50
VOCAB_BUCKET_DOCS = 50     # Heaps-curve x-axis granularity (docs per point)
VOCAB_SHINGLE_K = 3        # vocabulary unit: word 3-grams (see vocab_growth)


# ---------------------------------------------------------------------------
# log-template mining (Drain-lite: digit-masked token-prefix templates)
# ---------------------------------------------------------------------------

def _masked_tokens(text: Column) -> Column:
    """Lowercase, mask digit runs to '0', whitespace-tokenize."""
    return C.tokens(F.regexp_replace(F.lower(text), "[0-9]+", "0"))


def log_templates(df: DataFrame, text_col: str = "text",
                  prefix_k: int = TEMPLATE_PREFIX_K,
                  topk: int = TEMPLATE_TOPK) -> DataFrame:
    """Top-``topk`` message templates: digit runs masked to ``0``, first
    ``prefix_k`` masked tokens form the template key. Returns
    (template, n_docs, n_tokens) ordered by (n_docs DESC, template).

    The single-binding array wrapper evaluates the tokenization ONCE per
    row even though the projection reads it twice (template + token count)
    — Catalyst's projection collapse would otherwise inline the regex
    chain into both references (see common.shingles)."""
    toks = _masked_tokens(F.col(text_col))
    row = F.element_at(
        F.transform(F.array(toks), lambda t: F.struct(
            F.array_join(F.slice(t, 1, prefix_k), " ").alias("template"),
            F.size(t).cast("long").alias("ntok"))), 1)
    return (df.select(row.alias("r"))
              .select("r.template", "r.ntok")
              .filter(F.col("ntok") > 0)
              .groupBy("template")
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                   F.sum("ntok").cast("long").alias("n_tokens"))
              .orderBy(F.desc("n_docs"), "template")
              .limit(topk))


def sql_log_templates(table: str = "documents", text_col: str = "text",
                      prefix_k: int = TEMPLATE_PREFIX_K,
                      topk: int = TEMPLATE_TOPK) -> str:
    tok = C.sql_tokens(
        f"regexp_replace(lower({text_col}), '[0-9]+', '0', 'g')")
    return f"""
        WITH t AS (SELECT {tok} AS toks FROM {table}),
        g AS (
            SELECT array_to_string(list_slice(toks, 1, {prefix_k}), ' ')
                       AS template,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
            FROM t WHERE len(toks) > 0 GROUP BY 1
        )
        SELECT template, n_docs, n_tokens FROM g
        ORDER BY n_docs DESC, template LIMIT {topk}
    """


# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth
# ---------------------------------------------------------------------------

def vocab_growth(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", shingle_k: int = VOCAB_SHINGLE_K,
                 bucket_docs: int = VOCAB_BUCKET_DOCS) -> DataFrame:
    """Vocabulary-growth (Heaps) curve: for each ``bucket_docs``-wide
    ingest-order bucket, the number of NEVER-BEFORE-SEEN vocabulary units
    whose first occurrence lands in it, plus the running vocabulary size.
    Returns (bucket_start, new_tokens, vocab_cum) ordered by bucket_start.

    The unit is the word ``shingle_k``-gram, not the unigram: unigram
    vocabularies saturate within the first few documents of any
    pool-generated (or deeply deduplicated) corpus and the curve
    degenerates to one point — k-gram vocabulary keeps growing, which is
    the statistic Heaps' law is actually fitted on at corpus scale.
    First occurrence = MIN(doc_id) per unit — ingest order is doc_id, the
    repo's canonical corpus order (same convention as line_dedup)."""
    tok = F.explode(
        C.shingles(C.tokens(F.lower(F.col(text_col))), shingle_k)
    ).alias("tok")
    first = (df.select(F.col(id_col).alias("did"), tok)
               .groupBy("tok")
               .agg(F.min("did").alias("first_doc")))
    buck = (first.groupBy(
                F.expr(f"(first_doc DIV {bucket_docs}) * {bucket_docs}")
                 .cast("long").alias("bucket_start"))
                 .agg(F.count(F.lit(1)).cast("long").alias("new_tokens")))
    w = (Window.orderBy("bucket_start")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (buck.select(
                "bucket_start", "new_tokens",
                F.sum("new_tokens").over(w).cast("long").alias("vocab_cum"))
                .orderBy("bucket_start"))


def sql_vocab_growth(table: str = "documents", text_col: str = "text",
                     id_col: str = "doc_id", shingle_k: int = VOCAB_SHINGLE_K,
                     bucket_docs: int = VOCAB_BUCKET_DOCS) -> str:
    sh = C.sql_shingles("toks", shingle_k)
    tok = C.sql_tokens(f"lower({text_col})")
    return f"""
        WITH raw AS (
            SELECT {id_col} AS did, {tok} AS toks FROM {table}
        ), t AS (
            SELECT did, unnest({sh}) AS tok FROM raw
        ), f AS (
            SELECT tok, MIN(did) AS first_doc FROM t GROUP BY tok
        ), b AS (
            SELECT CAST((first_doc // {bucket_docs}) * {bucket_docs}
                        AS BIGINT) AS bucket_start,
                   CAST(COUNT(*) AS BIGINT) AS new_tokens
            FROM f GROUP BY 1
        )
        SELECT bucket_start, new_tokens,
               CAST(SUM(new_tokens) OVER (ORDER BY bucket_start
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_cum
        FROM b ORDER BY bucket_start
    """


# ---------------------------------------------------------------------------
# first-order Markov next-event predictability
# ---------------------------------------------------------------------------

def markov_next_event(events: DataFrame, key_col: str = "user_id",
                      seq_col: str = "event_id",
                      type_col: str = "event_type") -> DataFrame:
    """Per-antecedent next-event predictability: for each event type, the
    modal successor under the first-order Markov chain of per-user event
    sequences, and how often that single guess is right. Returns
    (prev_type, n_trans, top_next, top_n, hit_permille) ordered by
    prev_type — the "how mechanical is this traffic" screen that decides
    whether a sequence model is worth training on the corpus.

    Ties on the modal successor break lexicographically (explicit
    row_number over (n DESC, next_type) on both engines)."""
    w = Window.partitionBy(key_col).orderBy(seq_col)
    tr = (events.select(
              F.lag(type_col).over(w).alias("prev_type"),
              F.col(type_col).alias("next_type"))
            .filter(F.col("prev_type").isNotNull()))
    cnt = (tr.groupBy("prev_type", "next_type")
             .agg(F.count(F.lit(1)).cast("long").alias("n")))
    tot = cnt.groupBy("prev_type").agg(
        F.sum("n").cast("long").alias("n_trans"))
    rn = Window.partitionBy("prev_type").orderBy(F.desc("n"), "next_type")
    top = (cnt.withColumn("rn", F.row_number().over(rn))
              .filter(F.col("rn") == 1)
              .select("prev_type", F.col("next_type").alias("top_next"),
                      F.col("n").alias("top_n")))
    return (tot.join(top, "prev_type")
               .select("prev_type", "n_trans", "top_next", "top_n",
                       C.permille(F.col("top_n"), F.col("n_trans"))
                        .alias("hit_permille"))
               .orderBy("prev_type"))


def sql_markov_next_event(table: str = "events", key_col: str = "user_id",
                          seq_col: str = "event_id",
                          type_col: str = "event_type") -> str:
    return f"""
        WITH tr AS (
            SELECT LAG({type_col}) OVER (PARTITION BY {key_col}
                       ORDER BY {seq_col}) AS prev_type,
                   {type_col} AS next_type
            FROM {table}
        ), cnt AS (
            SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM tr WHERE prev_type IS NOT NULL
            GROUP BY prev_type, next_type
        ), tot AS (
            SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_trans
            FROM cnt GROUP BY prev_type
        ), top AS (
            SELECT prev_type, next_type AS top_next, n AS top_n
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY prev_type
                      ORDER BY n DESC, next_type) AS rn FROM cnt)
            WHERE rn = 1
        )
        SELECT t.prev_type, t.n_trans, p.top_next, p.top_n,
               CAST(CASE WHEN t.n_trans > 0
                         THEN p.top_n * 1000 // t.n_trans
                         ELSE 0 END AS BIGINT) AS hit_permille
        FROM tot t JOIN top p USING (prev_type)
        ORDER BY t.prev_type
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "log_templates_documents",
    """Drain-lite log-template mining: digit-masked token-prefix templates,
    one hash agg + TakeOrdered top-k (textops/mining.py).""",
    lambda spark, sf_dir: log_templates(docs(spark, sf_dir)),
    sql_log_templates)

register(
    "vocab_growth_documents",
    """Heaps-law vocabulary growth curve: token first-occurrence buckets +
    running vocabulary size (one token-level shuffle).""",
    lambda spark, sf_dir: vocab_growth(docs(spark, sf_dir)),
    sql_vocab_growth)

register(
    "markov_next_event",
    """First-order Markov next-event predictability per antecedent type
    (modal successor + hit rate, lexicographic tie-break).""",
    lambda spark, sf_dir: markov_next_event(events(spark, sf_dir)),
    sql_markov_next_event)


def _tx_markov_next_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    routed = routed_slim(spark, sf_dir)
    clean = (TX._clean(routed).filter(F.col("tool").isNotNull())
                   .select("conv_id", "turn_idx", "tool"))
    return markov_next_event(clean, key_col="conv_id",
                             seq_col="turn_idx", type_col="tool")


register(
    "tx_markov_next_tool",
    """Markov next-TOOL predictability over clean transcript turns —
    the workflow-automation screen on the flagship routed frame (adjacency
    over non-null-tool turns, same discipline as tx_tool_chain_bigrams).""",
    _tx_markov_next_tool,
    lambda: sql_markov_next_event(
        table=f"(SELECT conv_id, turn_idx, tool FROM {tx_view()} "
              f"WHERE {TX.SQL_CLEAN} AND tool IS NOT NULL)",
        key_col="conv_id", seq_col="turn_idx", type_col="tool"))
