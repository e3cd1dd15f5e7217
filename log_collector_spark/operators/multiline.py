"""Multi-line record assembly (S6) — reference
reader/file/MultiLineFileReader.java:309-358 semantics as a window + groupBy.

Reference behavior reproduced exactly:
- a line FULL-matching ``multiline.pattern`` (``Pattern.matches``, i.e.
  anchored) starts a new record; everything else appends to the current one,
- lines are concatenated with NO separator (``multiLineSB.append``),
- blank lines are skipped entirely (``StringUtils.isNotBlank``, :309),
- content before the first first-line forms an orphan leading record (the
  buffer is flushed when the first first-line arrives, :312-316),
- the trailing buffer is flushed at EOF (:244-283).

Spark plan: one window (running count of first-lines per file = record id,
requires the per-file line order) + one groupBy with an order-restoring
``array_sort(collect_list(struct))`` — two shuffles on ``file`` only, no
Python. Streaming analog: ``applyInPandasWithState`` session by file
(streaming/multiline.py).

At scale the window partitions by file — hot files are a skew risk exactly
like hot conversations; the partition key is the file, matching the
reference's one-thread-per-file model, and AQE handles residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from log_collector_spark.operators import parse as parse_ops
from log_collector_spark.registry import events, register


def assemble(df: DataFrame, first_line_pattern: str, *,
             file_col: str = "filename", order_col: str = "line_no",
             text_col: str = "text") -> DataFrame:
    """→ (file, record_id, first_line_no, n_lines, record)."""
    anchored = f"^(?:{first_line_pattern})$"
    nonblank = F.ltrim(F.col(text_col), F.lit(parse_ops.WHITESPACE)) != ""
    is_first = F.col(text_col).rlike(anchored) & nonblank
    w = Window.partitionBy(file_col).orderBy(order_col)
    rec = F.sum(is_first.cast("int")).over(w)
    lines = (df.filter(nonblank)
               .withColumn("_rec", rec))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col(order_col).alias("o"),
                                             F.col(text_col).alias("t")))),
        lambda x: x["t"])
    return (lines.groupBy(F.col(file_col).alias("file"),
                          F.col("_rec").alias("record_id"))
            .agg(F.min(order_col).alias("first_line_no"),
                 F.count(F.lit(1)).alias("n_lines"),
                 F.array_join(ordered, "").alias("record")))


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

def _multiline_assemble_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    first = F.concat(F.lit("["), ev["event_type"], F.lit("] e"),
                     ev["event_id"].cast("string"))
    cont1 = F.when(ev["event_id"] % 5 == 0,
                   F.concat(F.lit("  at frame/"), ev["event_id"].cast("string")))
    cont2 = F.when(ev["event_id"] % 5 == 0, F.lit("  at deeper/frame"))
    blank = F.when(ev["event_id"] % 11 == 0, F.lit(""))
    lines = ev.select(
        F.concat(F.lit("f"), (ev["event_id"] % 4).cast("string")).alias("filename"),
        F.explode(F.array(
            F.struct((ev["event_id"] * 4).alias("line_no"), first.alias("text")),
            F.struct((ev["event_id"] * 4 + 1).alias("line_no"), cont1.alias("text")),
            F.struct((ev["event_id"] * 4 + 2).alias("line_no"), cont2.alias("text")),
            F.struct((ev["event_id"] * 4 + 3).alias("line_no"), blank.alias("text")),
        )).alias("l"),
    ).select("filename", "l.line_no", "l.text").filter(F.col("text").isNotNull())
    return assemble(lines, r"\[.*")


register(
    "multiline_assemble_events",
    """S6: multi-line record assembly (window-sum record ids, no-separator
    concat — MultiLineFileReader.java:309-358). Lines synthesized from
    events: every event is a first line; %5 events add two continuation
    lines; %11 events add a blank line (skipped).""",
    _multiline_assemble_events,
    lambda: f"""
            WITH lines AS (
                SELECT 'f' || CAST(event_id % 4 AS VARCHAR) AS filename,
                       event_id * 4 AS line_no,
                       '[' || event_type || '] e' || CAST(event_id AS VARCHAR) AS text
                FROM events
                UNION ALL
                SELECT 'f' || CAST(event_id % 4 AS VARCHAR),
                       event_id * 4 + 1,
                       '  at frame/' || CAST(event_id AS VARCHAR)
                FROM events WHERE event_id % 5 = 0
                UNION ALL
                SELECT 'f' || CAST(event_id % 4 AS VARCHAR),
                       event_id * 4 + 2, '  at deeper/frame'
                FROM events WHERE event_id % 5 = 0
                UNION ALL
                SELECT 'f' || CAST(event_id % 4 AS VARCHAR),
                       event_id * 4 + 3, ''
                FROM events WHERE event_id % 11 = 0
            ), nb AS (
                SELECT * FROM lines
                WHERE trim(text, {parse_ops.SQL_WHITESPACE}) <> ''
            ), recs AS (
                SELECT *, SUM(CASE WHEN regexp_full_match(text, '\\[.*')
                                   THEN 1 ELSE 0 END)
                          OVER (PARTITION BY filename ORDER BY line_no) AS rec
                FROM nb
            )
            SELECT filename AS file,
                   CAST(rec AS BIGINT) AS record_id,
                   MIN(line_no) AS first_line_no,
                   COUNT(*) AS n_lines,
                   string_agg(text, '' ORDER BY line_no) AS record
            FROM recs GROUP BY filename, rec
        """)
