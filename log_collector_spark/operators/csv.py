"""CSV parse operator (P8) — reference parser/CSVParser.java:57-78 semantics,
expressed as native Catalyst expressions (no Python in the hot path).

Reference behavior reproduced:
- ``line.split(separator, numDims)`` — regex split with limit = number of
  dimensions (Java and Spark ``split`` share these semantics, including
  keeping trailing empty fields under a positive limit),
- field index beyond the split length → value null (CSVParser.java:63-65),
- blank field → typed ``defaultValue`` if configured, else the key is
  dropped (Dimension.getValue, CSVParser.java:130-141) — columnar output
  encodes "dropped" as NULL,
- conversion failure (Java ParseException) → key dropped
  (CSVParser.java:66-69) — NULL here; integer parses are strict like
  ``Integer.parseInt`` (regex-guarded, no whitespace tolerance),
- date formats: ``millis`` passthrough, ``posix`` seconds→millis, otherwise
  a SimpleDateFormat pattern → epoch millis (CSVParser.java:153-164), UTC
  pinned as documented in the grok kernel.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from log_collector_spark.registry import register, tbl

_INT_RX = "^[+-]?[0-9]+$"


@dataclass(frozen=True)
class CsvDimension:
    """One entry of the reference's JSON dimension file (README.md:119-138)."""
    name: str
    type: str = "string"       # string | int | long | float | date
    format: str | None = None  # for date: millis | posix | SimpleDateFormat
    default: str | None = None


def _convert(raw: Column, dim: CsvDimension) -> Column:
    # StringUtils.isBlank (null/empty/whitespace) → defaultValue or dropped
    # (CSVParser.java:135-141). The reference returns the default RAW
    # (untyped) into its Map; a typed column must cast it — documented
    # deviation, identical for defaults that parse cleanly.
    blank = raw.isNull() | (F.trim(raw) == "")
    v = F.when(blank, F.lit(dim.default)).otherwise(raw) \
        if dim.default is not None else \
        F.when(blank, F.lit(None)).otherwise(raw)
    t = dim.type
    if t == "string":
        return v
    if t in ("int", "long"):
        # try_cast inside the rlike guard: a digit string that overflows the
        # type (11-digit int, 20+-digit long) must drop the field like the
        # reference's NumberFormatException (CSVParser.java:66-69), not fail
        # the job under ANSI mode.
        typ = "int" if t == "int" else "long"
        return F.when(v.rlike(_INT_RX), v.try_cast(typ))
    if t == "float":
        return v.try_cast("float")
    if t == "date":
        fmt = dim.format or "millis"
        if fmt == "millis":
            return F.when(v.rlike(_INT_RX), v.try_cast("long"))
        if fmt == "posix":
            # overflow of seconds*1000 past Long.MAX yields NULL, not an
            # ANSI ArithmeticException
            return F.when(v.rlike(_INT_RX),
                          F.try_multiply(v.try_cast("long"), F.lit(1000)))
        # try_to_timestamp: malformed dates are a ParseException → field
        # skipped in the reference (CSVParser.java:66-69); plain to_timestamp
        # would fail the whole job under Spark 4's ANSI mode
        return F.unix_millis(F.try_to_timestamp(v, F.lit(_sdf_to_spark(fmt))))
    return F.lit(None)


def _sdf_to_spark(fmt: str) -> str:
    """SimpleDateFormat → Spark datetime pattern (shared subset is identical:
    yyyy MM dd HH mm ss SSS)."""
    return fmt


def csv_parse(df: DataFrame, dims: list[CsvDimension], *,
              separator: str = ",", text_col: str = "text") -> DataFrame:
    """Append one typed column per dimension (plus ``csv_ok`` = at least one
    field materialized, the analog of the parser's empty-map failure route)."""
    sep = " " if separator == "space" else separator
    parts = F.split(F.col(text_col), sep, len(dims))
    out = df
    names = []
    for i, dim in enumerate(dims):
        raw = F.when(F.size(parts) > i, F.element_at(parts, i + 1))
        out = out.withColumn(dim.name, _convert(raw, dim))
        names.append(dim.name)
    ok = None
    for nm in names:
        c = F.col(nm).isNotNull()
        ok = c if ok is None else (ok | c)
    return out.withColumn("csv_ok", ok if ok is not None else F.lit(False))


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

def _csv_parse_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    flag = F.when(F.col("l_linenumber") % 5 == 0, F.lit("")) \
            .otherwise(F.col("l_returnflag"))
    full = F.concat_ws(
        ",", F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"), flag,
        F.date_format("l_shipdate", "yyyy-MM-dd HH:mm:ss"))
    short = F.concat_ws(",", F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"))
    line = F.when(F.col("l_orderkey") % 13 == 0, short).otherwise(full)
    df = li.select(F.col("l_orderkey").alias("src_key"),
                   F.col("l_linenumber").alias("src_line"),
                   line.alias("text"))
    dims = [CsvDimension("okey", "long"),
            CsvDimension("lineno", "int"),
            CsvDimension("flag", "string", default="X"),
            CsvDimension("ship", "date", format="yyyy-MM-dd HH:mm:ss")]
    out = csv_parse(df, dims)
    return out.select("src_key", "src_line", "okey",
                      F.col("lineno").cast("int").alias("lineno"),
                      "flag", "ship", "csv_ok")


register(
    "csv_parse_lineitem",
    """P8: CSV split + typed dimensions with defaults (CSVParser.java:57-78).

    Lines are synthesized from lineitem columns (orderkey,lineno,flag,ship);
    %5 rows carry a blank flag (→ default 'X'), %13 rows are truncated to two
    fields (absent → default/dropped). The oracle recomputes the expected
    typed values straight from the source columns (generation ground truth).
    """,
    _csv_parse_lineitem,
    lambda: """
            SELECT l_orderkey AS src_key,
                   l_linenumber AS src_line,
                   l_orderkey AS okey,
                   CAST(l_linenumber AS INT) AS lineno,
                   CASE WHEN l_orderkey % 13 = 0 THEN 'X'
                        WHEN l_linenumber % 5 = 0 THEN 'X'
                        ELSE l_returnflag END AS flag,
                   CASE WHEN l_orderkey % 13 = 0 THEN NULL
                        ELSE CAST(epoch_ms(date_trunc('second', l_shipdate))
                                  AS BIGINT) END AS ship,
                   TRUE AS csv_ok
            FROM lineitem
        """)
