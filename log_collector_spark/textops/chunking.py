"""Context-window chunking and sequence packing for training-data prep.

Two ops every LLM pretraining pipeline runs between "clean corpus" and
"training batches" (no reference analog — engine extensions like the rest
of textops, SURVEY.md §2.11):

- :func:`chunk_documents` — split each document into stride-overlapped
  token windows (the "fit the context length" op). A pure narrow
  transform: chunk boundaries are a function of the row alone, so at
  100 TB this is explode-over-scan with NO shuffle; output size is
  bounded by ``ceil(n/stride)`` chunks per doc.
- :func:`pack_sequences` — GPT-style concatenate-then-split packing:
  documents are laid head-to-tail in a deterministic salted-hash order
  and the token stream is cut every ``budget`` tokens; each doc reports
  the packs it lands in. Packing is SHARD-LOCAL (``(group, shard)``
  window partitions, shard = salted hash % ``shards``): training packs
  never need a global order, and the shard key bounds every window
  partition to ~1/shards of a domain — the same reason domain_cap pairs
  its window with AQE skew handling. One shuffle on (group, shard).

Everything is integer arithmetic on the cross-engine primitives in
:mod:`log_collector_spark.textops.common`, so the DuckDB oracles built by
the ``sql_*`` twins hash identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from log_collector_spark.textops import common as C
from log_collector_spark.registry import docs, register

# 64-token windows advancing 48 tokens (16-token overlap) — sandbox-sized
# stand-ins for the usual 2048/1536; both are knobs, the math is scale-free.
CHUNK_W = 64
CHUNK_STRIDE = 48

PACK_BUDGET = 512   # tokens per training pack (context length)
PACK_SALT = "pack:v1|"
PACK_SHARDS = 4     # shard-local packing; ~#cores at sandbox scale,
                    # ~#partitions-per-domain at cluster scale


def _chunk_structs(tok: Column, w: int, stride: int) -> Column:
    """Per-row array of (chunk_idx, n_chunk_tokens, chunk_h60) structs.

    ``tok`` is bound ONCE into a lambda variable (the array-wrapper shape
    of :func:`common.shingles`) — otherwise Catalyst's projection collapse
    re-tokenizes the text for every reference (size + each slice)."""
    empty = ("array<struct<chunk_idx:bigint,n_chunk_tokens:bigint,"
             "chunk_h60:bigint>>")

    def _of(t: Column) -> Column:
        n = F.size(t).cast("long")
        # n_chunks - 1 = ceil((n - w) / stride) via integer division; the
        # operands are per-doc token counts (< 2^20), exact in a double.
        extra = (F.when(n > w,
                        F.floor((n - w + (stride - 1)) / stride))
                  .otherwise(F.lit(0)).cast("long"))
        return F.when(n > 0, F.transform(
            F.sequence(F.lit(0).cast("long"), extra),
            lambda i: F.struct(
                i.alias("chunk_idx"),
                F.least(F.lit(w).cast("long"), n - i * stride)
                 .alias("n_chunk_tokens"),
                C.h60(F.array_join(
                    F.slice(t, (i * stride + 1).cast("int"), w), " "))
                 .alias("chunk_h60"),
            ))).otherwise(F.array().cast(empty))

    return F.element_at(F.transform(F.array(tok), _of), 1)


def chunk_documents(df: DataFrame, text_col: str = "text",
                    w: int = CHUNK_W, stride: int = CHUNK_STRIDE) -> DataFrame:
    """Stride-overlapped token windows per document.

    Chunk ``i`` covers tokens ``[i*stride+1, i*stride+w]`` (1-based, tail
    chunk clamped); every doc with >= 1 token emits ``1 + ceil(max(0,
    n-w)/stride)`` chunks, so all text is covered and consecutive chunks
    overlap by ``w - stride`` tokens. Output is (doc_id, chunk_idx,
    n_chunk_tokens, chunk_h60) — the hash stands in for the chunk text so
    the result stays integer-hashable cross-engine."""
    chunks = _chunk_structs(C.tokens(F.col(text_col)), w, stride)
    return (df.select("doc_id", F.explode(chunks).alias("c"))
              .select("doc_id", "c.chunk_idx", "c.n_chunk_tokens",
                      "c.chunk_h60"))


def sql_chunk_documents(table: str = "documents", w: int = CHUNK_W,
                        stride: int = CHUNK_STRIDE) -> str:
    tok = C.sql_tokens("text")
    chunk_txt = (f"array_to_string(list_slice(tok, chunk_idx*{stride} + 1, "
                 f"chunk_idx*{stride} + {w}), ' ')")
    return f"""
        WITH base AS (
            SELECT doc_id, {tok} AS tok FROM {table}
        ), ex AS (
            SELECT doc_id, CAST(len(tok) AS BIGINT) AS n, tok,
                   unnest(CASE WHEN len(tok) > 0 THEN range(0,
                              1 + CASE WHEN len(tok) > {w}
                                  THEN (len(tok) - {w} + {stride - 1}) // {stride}
                                  ELSE 0 END)
                          ELSE [] END) AS chunk_idx
            FROM base
        )
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(least({w}, n - chunk_idx*{stride}) AS BIGINT)
                   AS n_chunk_tokens,
               {C.sql_h60(chunk_txt)} AS chunk_h60
        FROM ex
    """


def pack_sequences(df: DataFrame, group_col: str = "source",
                   id_col: str = "doc_id", text_col: str = "text",
                   budget: int = PACK_BUDGET,
                   shards: int = PACK_SHARDS) -> DataFrame:
    """Concatenate-then-split packing: lay each (group, shard)'s documents
    head-to-tail in salted-hash order and cut the token stream every
    ``budget`` tokens.

    Per doc: its offset in the stream (``cum_before``), the first and last
    pack it lands in, and how many packs it spans (docs longer than the
    budget straddle several packs — that IS the GPT-style recipe; a doc of
    0 tokens is pinned to the pack at its offset). The salted-hash order
    makes packs reproducible with no RNG state and independent of input
    file layout, exactly like :func:`analysis.split_assign`."""
    h = C.h60(F.concat(F.lit(PACK_SALT), F.col(id_col).cast("string")))
    base = df.select(
        F.col(id_col), F.col(group_col),
        h.alias("h"),
        F.size(C.tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    ).withColumn("shard", F.col("h") % shards)  # md5 computed once per row
    w = (Window.partitionBy(group_col, "shard")
               .orderBy("h", id_col)
               .rowsBetween(Window.unboundedPreceding, -1))
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    base = base.withColumn("cum_before", cum)
    first = F.floor(F.col("cum_before") / budget).cast("long")
    last = F.floor((F.col("cum_before")
                    + F.greatest(F.col("n_tokens"), F.lit(1)) - 1) / budget) \
            .cast("long")
    return base.select(
        id_col, group_col, "shard", "n_tokens", "cum_before",
        first.alias("pack_first"), last.alias("pack_last"),
        (last - first + 1).alias("pack_span"))


def sql_pack_sequences(table: str = "documents", group_col: str = "source",
                       id_col: str = "doc_id", budget: int = PACK_BUDGET,
                       shards: int = PACK_SHARDS) -> str:
    tok = C.sql_tokens("text")
    h = C.sql_h60(f"'{PACK_SALT}' || {id_col}")
    return f"""
        WITH base AS (
            SELECT {id_col}, {group_col},
                   {h} % {shards} AS shard,
                   {h} AS h,
                   CAST(len({tok}) AS BIGINT) AS n_tokens
            FROM {table}
        ), cum AS (
            SELECT *,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                        PARTITION BY {group_col}, shard ORDER BY h, {id_col}
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS cum_before
            FROM base
        )
        SELECT {id_col}, {group_col}, CAST(shard AS BIGINT) AS shard,
               n_tokens, cum_before,
               cum_before // {budget} AS pack_first,
               (cum_before + greatest(n_tokens, 1) - 1) // {budget}
                   AS pack_last,
               (cum_before + greatest(n_tokens, 1) - 1) // {budget}
                   - cum_before // {budget} + 1 AS pack_span
        FROM cum
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "chunk_documents",
    """Context-window chunking: 64-token windows / 48-token stride per doc —
    a pure narrow explode (no shuffle at any corpus size).""",
    lambda spark, sf_dir: chunk_documents(docs(spark, sf_dir)),
    sql_chunk_documents)

register(
    "pack_documents",
    """GPT-style sequence packing: concatenate-then-split the token stream
    every 512 tokens in salted-hash order, shard-local windows.""",
    lambda spark, sf_dir: pack_sequences(docs(spark, sf_dir)),
    sql_pack_sequences)
