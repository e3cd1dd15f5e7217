"""As-of (most-recent-prior) join — a temporal enrichment operator the
reference lacks but any log/metrics pipeline at scale needs: attach to each
fact row the latest dimension row whose ordering key is <= the fact's
(e.g. "the config/session/profile state in effect when this event happened").

Spark has no ASOF JOIN; the naive translation (range join on
``r.ord <= l.ord`` + greatest-per-group) is O(n*m) per key and explodes on
dense keys. The scalable shape used here is the classic union-tag sweep:

1. project both sides to a common layout, tag right rows 0 / left rows 1,
2. ONE shuffle: window partitioned by the join key, ordered by
   ``(ord, side_tag)`` — a right row at the same ord sorts before the left
   row, giving inclusive (<=) semantics,
3. ``last(right_struct, ignorenulls=True)`` over rows UNBOUNDED PRECEDING
   carries the most recent right payload forward; left rows then just read
   it. A right row with null payload columns still participates (the struct
   itself is non-null), matching ASOF rather than skipping to older rows.

Cost: one shuffle + one sort of |L|+|R| rows — the same price as the
sort-merge join Spark would pick for an equi-join on the key, with no
candidate blow-up. Skewed keys can reuse the salting in operators/order.py.

Window state is O(1) per row (running ``last``), so executor memory is flat
regardless of per-key density — this survives a 100x scale-up wherever a
sort-merge join would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from log_collector_spark.registry import events, register

_SIDE = "_asof_side"
_ORD = "_asof_ord"
_PAYLOAD = "_asof_payload"


def asof_join(left: DataFrame, right: DataFrame, *, on: str,
              left_ord: str, right_ord: str,
              value_cols: list[str]) -> DataFrame:
    """Backward inclusive as-of join.

    For every left row, the columns in ``value_cols`` are filled from the
    right row with the greatest ``right_ord`` <= the left row's
    ``left_ord`` within the same ``on`` key (null when no such row).
    ``(on, right_ord)`` must be unique on the right side (ties would be
    resolved arbitrarily); left rows pass through unchanged otherwise.
    """
    clash = set(value_cols) & set(left.columns)
    if clash:
        raise ValueError(f"value_cols already on left side: {sorted(clash)}")
    r = right.select(
        F.col(on),
        F.col(right_ord).cast("long").alias(_ORD),
        F.lit(0).alias(_SIDE),
        F.struct(*[F.col(c) for c in value_cols]).alias(_PAYLOAD),
    )
    l = left.withColumn(_ORD, F.col(left_ord).cast("long")) \
            .withColumn(_SIDE, F.lit(1)) \
            .withColumn(_PAYLOAD, F.lit(None).cast(r.schema[_PAYLOAD].dataType))
    u = l.unionByName(r, allowMissingColumns=True)
    w = (Window.partitionBy(on)
               .orderBy(_ORD, _SIDE)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    swept = u.withColumn(_PAYLOAD, F.last(_PAYLOAD, ignorenulls=True).over(w))
    out = swept.filter(F.col(_SIDE) == 1)
    for c in value_cols:
        out = out.withColumn(c, F.col(_PAYLOAD)[c])
    return out.drop(_SIDE, _ORD, _PAYLOAD)


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

def _asof_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events(spark, sf_dir)
    markers = (ev.filter(F.col("event_id") % 101 == 0)
                 .select("user_id", F.col("event_id").alias("upd_id"),
                         F.col("event_type").alias("upd_type")))
    out = asof_join(ev.select("event_id", "user_id"), markers,
                    on="user_id", left_ord="event_id", right_ord="upd_id",
                    value_cols=["upd_id", "upd_type"])
    return out.select("event_id", "user_id", "upd_id", "upd_type")


register(
    "asof_enrich_events",
    """As-of join: each event picks up the most recent prior 'profile update'
    (markers = every 101st event) of the SAME user — union-tag + one window
    sweep, a single shuffle on user_id (operators/asof.py; DuckDB oracle uses
    its native ASOF JOIN as the independent implementation).""",
    _asof_enrich_events,
    lambda: """
            WITH markers AS (
                SELECT user_id, event_id AS upd_id, event_type AS upd_type
                FROM events WHERE event_id % 101 = 0
            )
            SELECT e.event_id, e.user_id, m.upd_id, m.upd_type
            FROM events e
            ASOF LEFT JOIN markers m
              ON e.user_id = m.user_id AND e.event_id >= m.upd_id
        """)
