"""Nearest-as-of join (tolerance-bounded, both directions) — the sibling of
:mod:`operators.asof`'s backward sweep.

``asof.asof_join`` answers "state in effect at event time" (backward <=).
Sensor/metric reconciliation needs the OTHER contract: "the closest
reference sample within ``tolerance``, before or after" (pandas
``merge_asof(direction='nearest')``). Spark has neither; the naive
range-join candidate blow-up is the same trap.

Same union-tag sweep cost model as the backward operator — ONE shuffle of
|L|+|R| rows on the key — but two window passes over that single exchange:

1. backward pass: ``last(right_payload, ignorenulls)`` ordered by
   ``(ord, side)`` (right rows sort first at equal ord → inclusive <=),
2. forward pass: ``first(right_payload, ignorenulls)`` over the FOLLOWING
   frame ordered by ``(ord, -side)`` (left rows sort first at equal ord →
   inclusive >=).

The two specs share the partitioning, so Catalyst plans one Exchange and
two local sorts — still no candidate explosion, still O(1) window state
per row. The winner is the closer of the two candidates within
``tolerance`` (ties → backward, pandas' rule). Executor memory stays flat
per key; skewed keys can reuse operators/order.py salting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from log_collector_spark.registry import events, register

_SIDE = "_anear_side"
_ORD = "_anear_ord"
_PREV = "_anear_prev"
_NEXT = "_anear_next"


def asof_nearest(left: DataFrame, right: DataFrame, *, on: str,
                 left_ord: str, right_ord: str,
                 value_cols: list[str], tolerance: int) -> DataFrame:
    """Attach to each left row the right row with the smallest
    ``|right_ord - left_ord|`` within the same ``on`` key, provided the
    distance is <= ``tolerance``; ties prefer the earlier (backward) row.

    Adds ``value_cols`` (null when nothing is in tolerance) plus
    ``asof_dist`` (BIGINT distance to the matched row, null when
    unmatched). ``(on, right_ord)`` must be unique on the right side.
    """
    clash = (set(value_cols) | {"asof_dist"}) & set(left.columns)
    if clash:
        raise ValueError(f"columns already on left side: {sorted(clash)}")
    payload_t = right.select(
        F.struct(F.col(right_ord).cast("long").alias("_ord"),
                 *[F.col(c) for c in value_cols]).alias("p")
    ).schema["p"].dataType
    r = right.select(
        F.col(on),
        F.col(right_ord).cast("long").alias(_ORD),
        F.lit(0).alias(_SIDE),
        F.struct(F.col(right_ord).cast("long").alias("_ord"),
                 *[F.col(c) for c in value_cols]).alias(_PREV),
    )
    l = (left.withColumn(_ORD, F.col(left_ord).cast("long"))
             .withColumn(_SIDE, F.lit(1))
             .withColumn(_PREV, F.lit(None).cast(payload_t)))
    u = l.unionByName(r, allowMissingColumns=True)
    u = u.withColumn(_NEXT, F.col(_PREV))

    back = (Window.partitionBy(on).orderBy(_ORD, _SIDE)
                  .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    fwd = (Window.partitionBy(on).orderBy(_ORD, F.desc(_SIDE))
                 .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    swept = (u.withColumn(_PREV, F.last(_PREV, ignorenulls=True).over(back))
              .withColumn(_NEXT, F.first(_NEXT, ignorenulls=True).over(fwd)))

    out = swept.filter(F.col(_SIDE) == 1)
    d_prev = F.col(_ORD) - F.col(_PREV)["_ord"]
    d_next = F.col(_NEXT)["_ord"] - F.col(_ORD)
    prev_ok = F.col(_PREV).isNotNull() & (d_prev <= tolerance)
    next_ok = F.col(_NEXT).isNotNull() & (d_next <= tolerance)
    use_prev = prev_ok & (~next_ok | (d_prev <= d_next))
    use_next = next_ok & ~use_prev
    winner = (F.when(use_prev, F.col(_PREV))
               .when(use_next, F.col(_NEXT)))
    dist = (F.when(use_prev, d_prev)
             .when(use_next, d_next)).cast("long")
    for c in value_cols:
        out = out.withColumn(c, winner[c])
    out = out.withColumn("asof_dist", dist)
    return out.drop(_SIDE, _ORD, _PREV, _NEXT)


def sql_asof_nearest(left_sql: str, right_sql: str, *, on: str,
                     left_ord: str, right_ord: str,
                     value_cols: list[str], tolerance: int) -> str:
    """DuckDB oracle: the SAME union-tag double sweep, spelled in SQL
    (IGNORE NULLS windows), so the comparison exercises tie and tolerance
    corners rather than a different algorithm's rounding of them.
    ``left_sql``/``right_sql`` are subqueries projecting (on, ord, ...)."""
    vals = ", ".join(value_cols)
    rvals = ", ".join(f"r.{c} AS {c}" for c in value_cols)
    nulls = ", ".join(f"NULL AS {c}" for c in value_cols)
    carry_prev = ", ".join(
        f"LAST_VALUE(CASE WHEN side = 0 THEN {c} END IGNORE NULLS) "
        f"OVER back AS prev_{c}" for c in value_cols)
    carry_next = ", ".join(
        f"FIRST_VALUE(CASE WHEN side = 0 THEN {c} END IGNORE NULLS) "
        f"OVER fwd AS next_{c}" for c in value_cols)
    pick = ", ".join(
        f"CASE WHEN use_prev THEN prev_{c} "
        f"WHEN use_next THEN next_{c} END AS {c}" for c in value_cols)
    return f"""
        WITH l AS ({left_sql}), r AS ({right_sql}),
        u AS (
            SELECT {on}, CAST({left_ord} AS BIGINT) AS ord, 1 AS side,
                   {nulls}, * EXCLUDE ({on}) FROM l
            UNION ALL BY NAME
            SELECT r.{on}, CAST(r.{right_ord} AS BIGINT) AS ord, 0 AS side,
                   {rvals} FROM r
        ),
        swept AS (
            SELECT *,
                LAST_VALUE(CASE WHEN side = 0 THEN ord END IGNORE NULLS)
                    OVER back AS prev_ord,
                FIRST_VALUE(CASE WHEN side = 0 THEN ord END IGNORE NULLS)
                    OVER fwd AS next_ord,
                {carry_prev},
                {carry_next}
            FROM u
            WINDOW
                back AS (PARTITION BY {on} ORDER BY ord, side
                         ROWS UNBOUNDED PRECEDING),
                fwd AS (PARTITION BY {on} ORDER BY ord, side DESC
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        ),
        judged AS (
            SELECT *,
                (prev_ord IS NOT NULL AND ord - prev_ord <= {tolerance})
                    AS prev_ok,
                (next_ord IS NOT NULL AND next_ord - ord <= {tolerance})
                    AS next_ok
            FROM swept WHERE side = 1
        ),
        final AS (
            SELECT *,
                (prev_ok AND (NOT next_ok
                              OR ord - prev_ord <= next_ord - ord))
                    AS use_prev,
                (next_ok AND NOT (prev_ok AND (NOT next_ok
                              OR ord - prev_ord <= next_ord - ord)))
                    AS use_next
            FROM judged
        )
        SELECT * EXCLUDE (side, ord, prev_ord, next_ord, prev_ok, next_ok,
                          use_prev, use_next,
                          {", ".join(f"prev_{c}, next_{c}" for c in value_cols)},
                          {vals}),
               {pick},
               CAST(CASE WHEN use_prev THEN ord - prev_ord
                         WHEN use_next THEN next_ord - ord END AS BIGINT)
                   AS asof_dist
        FROM final
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

ASOF_NEAREST_TOL_US = 86_400_000_000  # 1 day
ASOF_MARKER_MOD = 101


def _sql_asof_nearest_events() -> str:
    q = sql_asof_nearest(
        "SELECT user_id, epoch_us(ts) AS t_us, event_id, event_type "
        "FROM events",
        f"SELECT user_id, epoch_us(ts) AS m_us, event_type AS marker_type "
        f"FROM events WHERE event_id % {ASOF_MARKER_MOD} = 0",
        on="user_id", left_ord="t_us", right_ord="m_us",
        value_cols=["marker_type"], tolerance=ASOF_NEAREST_TOL_US)
    return (f"SELECT event_id, user_id, event_type, marker_type, asof_dist "
            f"FROM ({q}) ORDER BY event_id")


def _asof_nearest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # NTZ parquet; UTC tz
    left = ev.select("user_id", "event_id", "event_type",
                     us.alias("t_us"))
    right = (ev.filter(F.col("event_id") % ASOF_MARKER_MOD == 0)
               .select("user_id", us.alias("m_us"),
                       F.col("event_type").alias("marker_type")))
    out = asof_nearest(left, right, on="user_id", left_ord="t_us",
                       right_ord="m_us", value_cols=["marker_type"],
                       tolerance=ASOF_NEAREST_TOL_US)
    return (out.select("event_id", "user_id", "event_type",
                       "marker_type", "asof_dist")
               .orderBy("event_id"))


register(
    "asof_nearest_events",
    """Nearest-as-of (tolerance-bounded, both directions): every event is
    matched to the closest per-user marker event (event_id % 101 == 0)
    within 1 day — the pandas merge_asof(direction='nearest') contract as
    a single union-tag exchange (operators/asof_nearest.py).""",
    _asof_nearest_events,
    _sql_asof_nearest_events)
