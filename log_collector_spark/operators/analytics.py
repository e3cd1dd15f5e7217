"""Multi-way join analytics over the TPC-H-shaped tables.

The reference has no join engine beyond the IP range lookup (SURVEY §2.11) —
these are engine extensions (§2.12) proving the Catalyst side of the graft:
star-schema plans where the optimizer must broadcast every dimension, keep
the single fact×fact shuffle on the join key, and push the date/segment
filters into the parquet scans.

Cross-engine determinism (round-4 revision): every money value becomes an
exact INTEGER at the scan edge and stays integer through the whole plan —
cents for prices (double → DECIMAL(18,2) → ×100 → BIGINT; the double→decimal
cast is half-up in both Spark and DuckDB for these non-negative values) and
basis points for rates (double → DECIMAL(6,4) → ×10000 → BIGINT).  Derived
money lands in micro-dollars (1e-6 $):

    disc_price_micros = price_cents * (10000 - disc_bp)            -- exact
    charge_micros     = disc_price_micros*(10000+tax_bp) DIV 10000 -- floor

The per-row floor (Spark `DIV` truncates, DuckDB `//` floors — identical on
these non-negative values) trades the last 1e-10-dollar digit for a BIGINT
surface the driver's type-sensitive value-hash can never misread; both
engines apply the same floor so equality is bit-exact.  All outputs carry a
deterministic total ORDER BY.

Scale note (100 TB): per-row micros ≤ ~1.1e11, so a BIGINT sum holds ~8e7
rows per group; beyond that widen the SUM operand to DECIMAL(38,0) (still
integer-valued, still hash-stable) — the plan shape is unchanged.

Reference parity anchor: the reference's only aggregation surface is
counters (reference/src/main/java/io/sugo/collect/metrics/*); these queries
are additive coverage, cited in SURVEY §2.12.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from log_collector_spark.registry import register, tbl

# Filter constants sized for the synthetic sf tables (dates span 1995-2001).
PRICING_CUTOFF = "2000-01-01"
SHIP_SEGMENT = "BUILDING"
SHIP_DATE = "1998-01-01"
VOLUME_REGION = "ASIA"
VOLUME_FROM = "1996-01-01"
VOLUME_TO = "1997-01-01"
TOPK_ORDERS = 10


def _cents(col: str) -> Column:
    """Exact integer cents from a 2-decimal money double."""
    return (F.col(col).cast("decimal(18,2)") * 100).cast("bigint")


def _bp(col: str) -> Column:
    """Exact integer basis points from a 4-decimal rate double."""
    return (F.col(col).cast("decimal(6,4)") * 10000).cast("bigint")


def _ts(lit: str) -> Column:
    return F.lit(lit).cast("timestamp")


# SQL fragments mirroring _cents/_bp for the DuckDB oracles.
def _sql_cents(col: str) -> str:
    return f"CAST(CAST({col} AS DECIMAL(18,2)) * 100 AS BIGINT)"


def _sql_bp(col: str) -> str:
    return f"CAST(CAST({col} AS DECIMAL(6,4)) * 10000 AS BIGINT)"


def pricing_summary(lineitem: DataFrame,
                    cutoff: str = PRICING_CUTOFF) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: one partial-aggregating shuffle on
    the (returnflag, linestatus) key — 6 groups at any scale, so the reduce
    side is trivially small and the scan reads only 7 of 11 columns
    (column pruning) with the shipdate predicate pushed to parquet."""
    base = (lineitem
            .filter(F.col("l_shipdate") <= _ts(cutoff))
            .select("l_returnflag", "l_linestatus",
                    F.col("l_quantity").cast("bigint").alias("qty"),
                    _cents("l_extendedprice").alias("price_c"),
                    _bp("l_discount").alias("disc_bp"),
                    _bp("l_tax").alias("tax_bp"))
            .withColumn("disc_u", F.col("price_c") * (10000 - F.col("disc_bp")))
            # `div` truncates toward zero == floor on these non-negatives,
            # matching DuckDB `//` exactly (per-row, so BIGINT never widens)
            .withColumn("charge_u",
                        F.expr("(disc_u * (10000 + tax_bp)) div 10000")))
    return (base
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("qty").alias("sum_qty"),
                 F.sum("price_c").alias("sum_base_price_cents"),
                 F.sum("disc_u").alias("sum_disc_price_micros"),
                 F.sum("charge_u").alias("sum_charge_micros"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def sql_pricing_summary(table: str = "lineitem",
                        cutoff: str = PRICING_CUTOFF) -> str:
    return f"""
        WITH base AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(l_quantity AS BIGINT) AS qty,
                   {_sql_cents('l_extendedprice')} AS price_c,
                   {_sql_bp('l_discount')} AS disc_bp,
                   {_sql_bp('l_tax')} AS tax_bp
            FROM {table}
            WHERE l_shipdate <= TIMESTAMP '{cutoff}'
        )
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(qty) AS BIGINT) AS sum_qty,
               CAST(SUM(price_c) AS BIGINT) AS sum_base_price_cents,
               CAST(SUM(price_c * (10000 - disc_bp)) AS BIGINT)
                   AS sum_disc_price_micros,
               CAST(SUM((price_c * (10000 - disc_bp) * (10000 + tax_bp))
                        // 10000) AS BIGINT) AS sum_charge_micros,
               COUNT(*) AS count_order
        FROM base
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """


def shipping_priority(customer: DataFrame, orders: DataFrame,
                      lineitem: DataFrame, segment: str = SHIP_SEGMENT,
                      date: str = SHIP_DATE, k: int = TOPK_ORDERS) -> DataFrame:
    """TPC-H Q3-shaped top-k revenue orders: the segment-filtered customer
    dim broadcasts into orders (no shuffle of the fact), the orders×lineitem
    join is the single key shuffle, and the top-k plans as
    TakeOrderedAndProject (per-partition heap + k·P driver merge — never a
    global sort). Ties break on o_orderkey so the k-set is deterministic."""
    c = customer.filter(F.col("c_mktsegment") == segment)
    o = orders.filter(F.col("o_orderdate") < _ts(date))
    li = lineitem.filter(F.col("l_shipdate") > _ts(date))
    rev_u = _cents("l_extendedprice") * (F.lit(10000) - _bp("l_discount"))
    j = (o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
          .join(li, li["l_orderkey"] == o["o_orderkey"]))
    # NTZ → session-UTC timestamp → epoch ms (the repo's ts convention)
    odate_ms = F.expr("unix_micros(cast(o_orderdate as timestamp)) div 1000")
    return (j.groupBy("o_orderkey",
                      odate_ms.alias("o_orderdate_ms"),
                      "o_orderpriority")
             .agg(F.sum(rev_u).alias("revenue_micros"))
             .orderBy(F.col("revenue_micros").desc(), F.col("o_orderkey"))
             .limit(k))


def sql_shipping_priority(segment: str = SHIP_SEGMENT, date: str = SHIP_DATE,
                          k: int = TOPK_ORDERS) -> str:
    rev_u = (f"{_sql_cents('l.l_extendedprice')}"
             f" * (10000 - {_sql_bp('l.l_discount')})")
    return f"""
        SELECT o.o_orderkey,
               CAST(epoch_ms(o.o_orderdate) AS BIGINT) AS o_orderdate_ms,
               o.o_orderpriority,
               CAST(SUM({rev_u}) AS BIGINT) AS revenue_micros
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = '{segment}'
          AND o.o_orderdate < TIMESTAMP '{date}'
          AND l.l_shipdate > TIMESTAMP '{date}'
        GROUP BY 1, 2, 3
        ORDER BY revenue_micros DESC, o.o_orderkey
        LIMIT {k}
    """


def local_supplier_volume(region: DataFrame, nation: DataFrame,
                          customer: DataFrame, supplier: DataFrame,
                          orders: DataFrame, lineitem: DataFrame,
                          region_name: str = VOLUME_REGION,
                          date_from: str = VOLUME_FROM,
                          date_to: str = VOLUME_TO) -> DataFrame:
    """TPC-H Q5-shaped per-nation revenue: a 6-way star where every
    dimension chain (region→nation→customer, supplier) broadcasts and the
    only shuffle is orders×lineitem on the orderkey. The local-supplier
    predicate (c_nationkey = s_nationkey) rides the supplier broadcast as a
    join condition, so no extra exchange appears."""
    r = region.filter(F.col("r_name") == region_name)
    o = orders.filter((F.col("o_orderdate") >= _ts(date_from))
                      & (F.col("o_orderdate") < _ts(date_to)))
    rev_u = _cents("l_extendedprice") * (F.lit(10000) - _bp("l_discount"))
    cdim = (customer
            .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
            .select("c_custkey", "c_nationkey", "n_name"))
    j = (o.join(F.broadcast(cdim), F.col("o_custkey") == F.col("c_custkey"))
          .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
          .join(F.broadcast(supplier),
                (F.col("l_suppkey") == F.col("s_suppkey"))
                & (F.col("s_nationkey") == F.col("c_nationkey"))))
    return (j.groupBy("n_name")
             .agg(F.sum(rev_u).alias("revenue_micros"),
                  F.count(F.lit(1)).alias("n_items"))
             .orderBy("n_name"))


def sql_local_supplier_volume(region_name: str = VOLUME_REGION,
                              date_from: str = VOLUME_FROM,
                              date_to: str = VOLUME_TO) -> str:
    rev_u = (f"{_sql_cents('l.l_extendedprice')}"
             f" * (10000 - {_sql_bp('l.l_discount')})")
    return f"""
        SELECT n.n_name,
               CAST(SUM({rev_u}) AS BIGINT) AS revenue_micros,
               COUNT(*) AS n_items
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
                       AND s.s_nationkey = c.c_nationkey
        WHERE r.r_name = '{region_name}'
          AND o.o_orderdate >= TIMESTAMP '{date_from}'
          AND o.o_orderdate < TIMESTAMP '{date_to}'
        GROUP BY n.n_name
        ORDER BY n.n_name
    """


# ---------------------------------------------------------------------------
# Round-4 continuation: four more TPC-H-shaped plans (Q6/Q14/Q4/Q18 analogues
# over the synthetic schema, which lacks commitdate/receiptdate/shipmode —
# the Q4 EXISTS predicate is adapted to "shipped >60 days after order").
# Same integer-money convention as above.
# ---------------------------------------------------------------------------

FORECAST_FROM = "1996-01-01"
FORECAST_TO = "1997-01-01"
FORECAST_DISC_LO_BP = 500    # 0.05
FORECAST_DISC_HI_BP = 700    # 0.07
FORECAST_MAX_QTY = 24

PROMO_TYPE = "PROMO"

PRIORITY_FROM = "1996-01-01"
PRIORITY_TO = "1996-04-01"
PRIORITY_LATE_DAYS = 60

LARGE_QTY_THRESHOLD = 150
LARGE_TOPK = 10


def forecast_revenue(lineitem: DataFrame,
                     date_from: str = FORECAST_FROM,
                     date_to: str = FORECAST_TO,
                     disc_lo_bp: int = FORECAST_DISC_LO_BP,
                     disc_hi_bp: int = FORECAST_DISC_HI_BP,
                     max_qty: int = FORECAST_MAX_QTY) -> DataFrame:
    """TPC-H Q6-shaped forecast revenue: zero joins, zero wide shuffles —
    the whole query is a parquet scan with ALL THREE predicates pushed down
    (shipdate range, discount band, quantity cap; `.explain` shows them in
    PushedFilters), a 4-column ReadSchema, and a single global AGG whose
    partials combine map-side.  At 100 TB this is the canonical
    "scan-bound" query: throughput == storage bandwidth × selectivity.

    Revenue here is the discounted slice price_c*disc_bp (micro-dollars),
    exactly TPC-H's l_extendedprice*l_discount reading."""
    disc = _bp("l_discount")
    rev_u = _cents("l_extendedprice") * disc
    base = lineitem.filter(
        (F.col("l_shipdate") >= _ts(date_from))
        & (F.col("l_shipdate") < _ts(date_to))
        & (F.col("l_discount") >= disc_lo_bp / 10000.0 - 1e-9)
        & (F.col("l_discount") <= disc_hi_bp / 10000.0 + 1e-9)
        & (F.col("l_quantity") < max_qty))
    # Re-check the band on the exact integer form so the double pushdown
    # predicate is only a superset pre-filter (never the semantics).
    base = base.filter((disc >= disc_lo_bp) & (disc <= disc_hi_bp))
    return (base.agg(F.sum(rev_u).cast("bigint").alias("revenue_micros"),
                     F.count(F.lit(1)).alias("n_items")))


def sql_forecast_revenue(date_from: str = FORECAST_FROM,
                         date_to: str = FORECAST_TO,
                         disc_lo_bp: int = FORECAST_DISC_LO_BP,
                         disc_hi_bp: int = FORECAST_DISC_HI_BP,
                         max_qty: int = FORECAST_MAX_QTY) -> str:
    disc = _sql_bp("l_discount")
    return f"""
        SELECT CAST(SUM({_sql_cents('l_extendedprice')} * {disc}) AS BIGINT)
                   AS revenue_micros,
               COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{date_from}'
          AND l_shipdate < TIMESTAMP '{date_to}'
          AND {disc} BETWEEN {disc_lo_bp} AND {disc_hi_bp}
          AND l_quantity < {max_qty}
    """


def promo_revenue_share(lineitem: DataFrame, part: DataFrame,
                        promo_type: str = PROMO_TYPE) -> DataFrame:
    """TPC-H Q14-shaped promo share per ship month: part (the small dim)
    broadcasts into the lineitem scan — the fact never shuffles for the
    join — and the only exchange is the 84-group month aggregation.
    Share is an exact integer permille: 1000*promo DIV total (both engines
    floor on non-negative BIGINTs)."""
    rev_u = _cents("l_extendedprice") * (F.lit(10000) - _bp("l_discount"))
    j = lineitem.join(F.broadcast(part.select("p_partkey", "p_type")),
                      F.col("l_partkey") == F.col("p_partkey"))
    ym = (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("bigint")
    promo_u = F.when(F.col("p_type") == promo_type, rev_u).otherwise(F.lit(0))
    agg = (j.groupBy(ym.alias("ship_ym"))
            .agg(F.sum(promo_u).cast("bigint").alias("promo_micros"),
                 F.sum(rev_u).cast("bigint").alias("total_micros")))
    return (agg.withColumn(
                "promo_permille",
                F.when(F.col("total_micros") > 0,
                       F.expr("(1000 * promo_micros) div total_micros"))
                 .otherwise(F.lit(0)).cast("bigint"))
            .orderBy("ship_ym"))


def sql_promo_revenue_share(promo_type: str = PROMO_TYPE) -> str:
    rev_u = (f"{_sql_cents('l.l_extendedprice')}"
             f" * (10000 - {_sql_bp('l.l_discount')})")
    return f"""
        WITH agg AS (
            SELECT CAST(year(l.l_shipdate) * 100 + month(l.l_shipdate)
                        AS BIGINT) AS ship_ym,
                   CAST(SUM(CASE WHEN p.p_type = '{promo_type}'
                                 THEN {rev_u} ELSE 0 END) AS BIGINT)
                       AS promo_micros,
                   CAST(SUM({rev_u}) AS BIGINT) AS total_micros
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            GROUP BY 1
        )
        SELECT ship_ym, promo_micros, total_micros,
               CAST(CASE WHEN total_micros > 0
                         THEN (1000 * promo_micros) // total_micros
                         ELSE 0 END AS BIGINT) AS promo_permille
        FROM agg
        ORDER BY ship_ym
    """


def order_priority_counts(orders: DataFrame, lineitem: DataFrame,
                          date_from: str = PRIORITY_FROM,
                          date_to: str = PRIORITY_TO,
                          late_days: int = PRIORITY_LATE_DAYS) -> DataFrame:
    """TPC-H Q4-shaped priority check: LEFT SEMI join — "count orders that
    have at least one late line" — so lineitem rows never duplicate orders
    and the join output is at most |orders|.  The equi key (orderkey)
    carries the shuffle; the non-equi lateness predicate
    (l_shipdate > o_orderdate + late_days) rides the joined rows.  The
    orders date filter is pushed to the scan, shrinking the semi-join's
    left side before the exchange — at 10^12 rows that pre-filter is the
    difference between shuffling a quarter and shuffling six years."""
    o = orders.filter((F.col("o_orderdate") >= _ts(date_from))
                      & (F.col("o_orderdate") < _ts(date_to)))
    cond = ((F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate")
               > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")))
    late = o.join(lineitem.select("l_orderkey", "l_shipdate"), cond,
                  "left_semi")
    return (late.groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("order_count"))
                .orderBy("o_orderpriority"))


def sql_order_priority_counts(date_from: str = PRIORITY_FROM,
                              date_to: str = PRIORITY_TO,
                              late_days: int = PRIORITY_LATE_DAYS) -> str:
    return f"""
        SELECT o.o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '{date_from}'
          AND o.o_orderdate < TIMESTAMP '{date_to}'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate
                                   + INTERVAL {late_days} DAY
          )
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """


def large_order_customers(customer: DataFrame, orders: DataFrame,
                          lineitem: DataFrame,
                          qty_threshold: int = LARGE_QTY_THRESHOLD,
                          k: int = LARGE_TOPK) -> DataFrame:
    """TPC-H Q18-shaped large-volume orders: aggregate lineitem by orderkey
    FIRST (the HAVING filter collapses the fact to the handful of
    over-threshold orders — partial aggregation combines map-side before
    the one key shuffle), then the tiny survivor set joins orders and
    broadcast customer.  Ordering the join this way means the orders×fact
    join input is |survivors|, not |lineitem|.  Top-k plans as
    TakeOrderedAndProject; o_orderkey breaks ties deterministically."""
    qty = F.col("l_quantity").cast("decimal(18,2)").cast("bigint")
    big = (lineitem.groupBy("l_orderkey")
                   .agg(F.sum(qty).cast("bigint").alias("total_qty"))
                   .filter(F.col("total_qty") > qty_threshold))
    odate_ms = F.expr("unix_micros(cast(o_orderdate as timestamp)) div 1000")
    j = (big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(F.broadcast(customer.select("c_custkey", "c_name")),
                  F.col("c_custkey") == F.col("o_custkey")))
    return (j.select(F.col("c_custkey"), F.col("c_name"),
                     F.col("o_orderkey"), odate_ms.alias("o_orderdate_ms"),
                     F.col("total_qty"))
             .orderBy(F.col("total_qty").desc(), F.col("o_orderkey"))
             .limit(k))


def sql_large_order_customers(qty_threshold: int = LARGE_QTY_THRESHOLD,
                              k: int = LARGE_TOPK) -> str:
    return f"""
        WITH big AS (
            SELECT l_orderkey,
                   CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT))
                        AS BIGINT) AS total_qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING total_qty > {qty_threshold}
        )
        SELECT c.c_custkey, c.c_name, o.o_orderkey,
               CAST(epoch_ms(o.o_orderdate) AS BIGINT) AS o_orderdate_ms,
               big.total_qty
        FROM big
        JOIN orders o ON o.o_orderkey = big.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        ORDER BY big.total_qty DESC, o.o_orderkey
        LIMIT {k}
    """


DEAD_FROM = "1996-01-01"
DEAD_TO = "1996-04-01"


def dead_stock(part: DataFrame, lineitem: DataFrame,
               date_from: str = DEAD_FROM,
               date_to: str = DEAD_TO) -> DataFrame:
    """Anti-join inventory audit: parts with NO sales inside the window,
    counted per brand. Plans as LeftAnti with the date filter pushed into
    the lineitem scan BEFORE the join — the anti side shrinks to one
    quarter of the fact, and the join output is bounded by |part| however
    large the fact grows. The NOT-EXISTS dual of order_priority_counts'
    EXISTS: together they close both quantifier directions."""
    sold = lineitem.filter((F.col("l_shipdate") >= _ts(date_from))
                           & (F.col("l_shipdate") < _ts(date_to)))
    cold = part.join(sold, F.col("p_partkey") == F.col("l_partkey"),
                     "left_anti")
    return (cold.groupBy("p_brand")
                .agg(F.count(F.lit(1)).alias("n_dead_parts"),
                     F.sum((F.col("p_retailprice").cast("decimal(18,2)")
                            * 100).cast("bigint")).cast("bigint")
                      .alias("dead_value_cents"))
                .orderBy("p_brand"))


def sql_dead_stock(date_from: str = DEAD_FROM, date_to: str = DEAD_TO) -> str:
    return f"""
        SELECT p_brand,
               COUNT(*) AS n_dead_parts,
               CAST(SUM({_sql_cents('p_retailprice')}) AS BIGINT)
                   AS dead_value_cents
        FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_partkey = p.p_partkey
              AND l.l_shipdate >= TIMESTAMP '{date_from}'
              AND l.l_shipdate < TIMESTAMP '{date_to}'
        )
        GROUP BY p_brand
        ORDER BY p_brand
    """


# ---------------------------------------------------------------------------
# Round-4 continuation II: six more TPC-H-shaped plan families (Q10/Q11/Q12/
# Q15/Q19/Q22 analogues over the synthetic schema — no partsupp/shipmode/
# phone columns, so Q11 becomes revenue-share-vs-global, Q12 groups by
# linestatus with the priority CASE, and Q22 cross-multiplies instead of
# dividing by AVG so the "above average" test stays exact-integer).
# Same integer-money convention as the header block.
# ---------------------------------------------------------------------------

RETURNED_FROM = "1996-01-01"
RETURNED_TO = "1996-04-01"
RETURNED_TOPK = 20

SHARE_MIN_PERMILLE = 10          # > 1.0% of global revenue (100 suppliers;
                                 # sf max share ~11.2‰, so the filter is a
                                 # real, non-empty cut — vacuous-oracle guard)
TOP_SUPPLIER_FROM = "1996-01-01"
TOP_SUPPLIER_TO = "1996-04-01"

PRIOCLASS_FROM = "1996-01-01"
PRIOCLASS_TO = "1997-01-01"
PRIOCLASS_LATE_DAYS = 60
_HIGH_PRIO = ("1-URGENT", "2-HIGH")

PROSPECT_SINCE = "2000-01-01"    # dormancy cutoff: no orders on/after this

# Q19-style disjunctive bands: (brand, size_lo, size_hi, qty_lo, qty_hi)
DISJ_BANDS = (("Brand#12", 1, 5, 1, 11),
              ("Brand#23", 1, 10, 10, 20),
              ("Brand#3", 1, 15, 20, 30))


def returned_item_customers(customer: DataFrame, orders: DataFrame,
                            lineitem: DataFrame, nation: DataFrame,
                            date_from: str = RETURNED_FROM,
                            date_to: str = RETURNED_TO,
                            k: int = RETURNED_TOPK) -> DataFrame:
    """TPC-H Q10-shaped returned-item ranking: which customers returned the
    most revenue in a quarter. The orders date filter and the lineitem
    returnflag filter are both pushed to their scans; orders×lineitem is
    the single key shuffle; customer and nation broadcast ABOVE the
    aggregation — the group key is o_custkey alone, so the dims join a
    |customers|-bounded frame, not the fact. Top-k plans as
    TakeOrderedAndProject with c_custkey tiebreak."""
    o = orders.filter((F.col("o_orderdate") >= _ts(date_from))
                      & (F.col("o_orderdate") < _ts(date_to)))
    li = lineitem.filter(F.col("l_returnflag") == "R")
    rev_u = _cents("l_extendedprice") * (F.lit(10000) - _bp("l_discount"))
    per_cust = (o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
                 .groupBy("o_custkey")
                 .agg(F.sum(rev_u).cast("bigint").alias("revenue_micros")))
    cdim = (customer.join(F.broadcast(nation),
                          F.col("c_nationkey") == F.col("n_nationkey"))
                    .select("c_custkey", "c_name", "n_name",
                            _cents("c_acctbal").alias("acctbal_cents")))
    return (per_cust.join(F.broadcast(cdim),
                          F.col("c_custkey") == F.col("o_custkey"))
            .select("c_custkey", "c_name", "n_name", "acctbal_cents",
                    "revenue_micros")
            .orderBy(F.col("revenue_micros").desc(), F.col("c_custkey"))
            .limit(k))


def sql_returned_item_customers(date_from: str = RETURNED_FROM,
                                date_to: str = RETURNED_TO,
                                k: int = RETURNED_TOPK) -> str:
    rev_u = (f"{_sql_cents('l.l_extendedprice')}"
             f" * (10000 - {_sql_bp('l.l_discount')})")
    return f"""
        SELECT c.c_custkey, c.c_name, n.n_name,
               {_sql_cents('c.c_acctbal')} AS acctbal_cents,
               CAST(SUM({rev_u}) AS BIGINT) AS revenue_micros
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '{date_from}'
          AND o.o_orderdate < TIMESTAMP '{date_to}'
          AND l.l_returnflag = 'R'
        GROUP BY 1, 2, 3, 4
        ORDER BY revenue_micros DESC, c.c_custkey
        LIMIT {k}
    """


def supplier_revenue_share(supplier: DataFrame, lineitem: DataFrame,
                           min_permille: int = SHARE_MIN_PERMILLE) -> DataFrame:
    """TPC-H Q11-shaped 'important fraction' filter: suppliers whose revenue
    exceeds a permille threshold OF THE GLOBAL TOTAL. The global scalar is a
    one-row aggregate cross-joined back (Spark plans it as a
    BroadcastNestedLoopJoin of a single row — the scalar-subquery shape);
    the threshold test cross-multiplies (rev*1000 > total*min_permille) so
    no division ever rounds. One fact agg keyed on suppkey, dim broadcast
    above it."""
    rev_u = _cents("l_extendedprice") * (F.lit(10000) - _bp("l_discount"))
    per_sup = (lineitem.groupBy("l_suppkey")
               .agg(F.sum(rev_u).cast("bigint").alias("revenue_micros")))
    total = per_sup.agg(F.sum("revenue_micros").cast("bigint")
                        .alias("total_micros"))
    # the x1000 cross-multiplications run in DECIMAL(38,0): micro-dollar
    # sums approach int64 at 100-TB revenue, and ANSI mode fails the job
    # on bigint overflow (same hardening as join_size_forecast)
    rev_d = F.col("revenue_micros").cast("decimal(38,0)")
    tot_d = F.col("total_micros").cast("decimal(38,0)")
    # `div` on decimals is the exact integral divide (bigint out) —
    # floor(a/b) on a ROUNDED decimal quotient can be off by one
    keep = (per_sup.crossJoin(F.broadcast(total))
            .filter(rev_d * 1000 > tot_d * min_permille)
            .withColumn("share_permille",
                        F.expr("(cast(revenue_micros as decimal(38,0))"
                               " * 1000) div"
                               " cast(total_micros as decimal(38,0))")
                         .cast("bigint")))
    sdim = supplier.select("s_suppkey", "s_name")
    return (keep.join(F.broadcast(sdim),
                      F.col("s_suppkey") == F.col("l_suppkey"))
            .select(F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
                    "s_name", "revenue_micros", "share_permille")
            .orderBy(F.col("revenue_micros").desc(), F.col("s_suppkey")))


def sql_supplier_revenue_share(min_permille: int = SHARE_MIN_PERMILLE) -> str:
    rev_u = (f"{_sql_cents('l_extendedprice')}"
             f" * (10000 - {_sql_bp('l_discount')})")
    return f"""
        WITH per_sup AS (
            SELECT l_suppkey,
                   CAST(SUM({rev_u}) AS BIGINT) AS revenue_micros
            FROM lineitem GROUP BY l_suppkey
        ), tot AS (
            SELECT CAST(SUM(revenue_micros) AS BIGINT) AS total_micros
            FROM per_sup
        )
        SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name,
               p.revenue_micros,
               CAST((1000 * p.revenue_micros) // t.total_micros AS BIGINT)
                   AS share_permille
        FROM per_sup p CROSS JOIN tot t
        JOIN supplier s ON s.s_suppkey = p.l_suppkey
        WHERE p.revenue_micros * 1000 > t.total_micros * {min_permille}
        ORDER BY p.revenue_micros DESC, s_suppkey
    """


def priority_class_lines(orders: DataFrame, lineitem: DataFrame,
                         date_from: str = PRIOCLASS_FROM,
                         date_to: str = PRIOCLASS_TO,
                         late_days: int = PRIOCLASS_LATE_DAYS) -> DataFrame:
    """TPC-H Q12-shaped two-class tally: per linestatus, how many LATE lines
    (shipped > late_days after order) belong to high- vs low-priority
    orders. The CASE-sum pair is the Q12 signature; the only wide exchange
    is the orderkey join (orders projects 3 columns, the date filter is on
    the lineitem side scan)."""
    li = lineitem.filter((F.col("l_shipdate") >= _ts(date_from))
                         & (F.col("l_shipdate") < _ts(date_to)))
    j = (li.join(orders.select("o_orderkey", "o_orderdate",
                               "o_orderpriority"),
                 F.col("l_orderkey") == F.col("o_orderkey"))
           .filter(F.col("l_shipdate")
                   > F.col("o_orderdate")
                   + F.expr(f"INTERVAL {late_days} DAYS")))
    high = F.col("o_orderpriority").isin(*_HIGH_PRIO).cast("long")
    return (j.groupBy("l_linestatus")
             .agg(F.sum(high).cast("bigint").alias("high_prio_count"),
                  F.sum(1 - high).cast("bigint").alias("low_prio_count"))
             .orderBy("l_linestatus"))


def sql_priority_class_lines(date_from: str = PRIOCLASS_FROM,
                             date_to: str = PRIOCLASS_TO,
                             late_days: int = PRIOCLASS_LATE_DAYS) -> str:
    prio_list = ", ".join(f"'{p}'" for p in _HIGH_PRIO)
    return f"""
        SELECT l.l_linestatus,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ({prio_list})
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS high_prio_count,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ({prio_list})
                             THEN 0 ELSE 1 END) AS BIGINT)
                   AS low_prio_count
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '{date_from}'
          AND l.l_shipdate < TIMESTAMP '{date_to}'
          AND l.l_shipdate > o.o_orderdate + INTERVAL {late_days} DAY
        GROUP BY l.l_linestatus
        ORDER BY l.l_linestatus
    """


def top_supplier(supplier: DataFrame, lineitem: DataFrame,
                 date_from: str = TOP_SUPPLIER_FROM,
                 date_to: str = TOP_SUPPLIER_TO) -> DataFrame:
    """TPC-H Q15-shaped max-of-sums: the supplier(s) whose windowed revenue
    EQUALS the global maximum (ties all surface — Q15's defining corner).
    Per-supplier agg (one shuffle, map-side combined), then the 1-row MAX
    broadcast back as a nested-loop filter — never a global sort."""
    li = lineitem.filter((F.col("l_shipdate") >= _ts(date_from))
                         & (F.col("l_shipdate") < _ts(date_to)))
    rev_u = _cents("l_extendedprice") * (F.lit(10000) - _bp("l_discount"))
    per_sup = (li.groupBy("l_suppkey")
               .agg(F.sum(rev_u).cast("bigint").alias("revenue_micros")))
    mx = per_sup.agg(F.max("revenue_micros").alias("max_micros"))
    return (per_sup.crossJoin(F.broadcast(mx))
            .filter(F.col("revenue_micros") == F.col("max_micros"))
            .join(F.broadcast(supplier.select("s_suppkey", "s_name")),
                  F.col("s_suppkey") == F.col("l_suppkey"))
            .select(F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
                    "s_name", "revenue_micros")
            .orderBy("s_suppkey"))


def sql_top_supplier(date_from: str = TOP_SUPPLIER_FROM,
                     date_to: str = TOP_SUPPLIER_TO) -> str:
    rev_u = (f"{_sql_cents('l_extendedprice')}"
             f" * (10000 - {_sql_bp('l_discount')})")
    return f"""
        WITH per_sup AS (
            SELECT l_suppkey,
                   CAST(SUM({rev_u}) AS BIGINT) AS revenue_micros
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '{date_from}'
              AND l_shipdate < TIMESTAMP '{date_to}'
            GROUP BY l_suppkey
        )
        SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name,
               p.revenue_micros
        FROM per_sup p
        JOIN supplier s ON s.s_suppkey = p.l_suppkey
        WHERE p.revenue_micros = (SELECT MAX(revenue_micros) FROM per_sup)
        ORDER BY s_suppkey
    """


def disjunctive_revenue(lineitem: DataFrame, part: DataFrame,
                        bands=DISJ_BANDS) -> DataFrame:
    """TPC-H Q19-shaped OR-of-ANDs revenue: three (brand, size-band,
    qty-band) conjunctions OR-ed together. The part dim broadcasts; the
    disjunction rides the join as a residual predicate Catalyst keeps in
    whole-stage codegen (a disjunction over mixed-side columns can't push
    below the join, but the per-side prunable parts — the brand/size union
    on part, the overall qty hull on lineitem — do). Quantity compares on
    its exact integer form."""
    qty = F.col("l_quantity").cast("decimal(18,2)").cast("bigint")
    pj = part.select("p_partkey", "p_brand", "p_size")
    j = lineitem.join(F.broadcast(pj),
                      F.col("l_partkey") == F.col("p_partkey"))
    j = j.withColumn("_qty", qty)
    cond = None
    for brand, slo, shi, qlo, qhi in bands:
        c = ((F.col("p_brand") == brand)
             & F.col("p_size").between(slo, shi)
             & F.col("_qty").between(qlo, qhi))
        cond = c if cond is None else (cond | c)
    rev_u = _cents("l_extendedprice") * (F.lit(10000) - _bp("l_discount"))
    return (j.filter(cond)
             .agg(F.sum(rev_u).cast("bigint").alias("revenue_micros"),
                  F.count(F.lit(1)).cast("bigint").alias("n_items")))


def sql_disjunctive_revenue(bands=DISJ_BANDS) -> str:
    rev_u = (f"{_sql_cents('l.l_extendedprice')}"
             f" * (10000 - {_sql_bp('l.l_discount')})")
    ors = " OR ".join(
        f"(p.p_brand = '{b}' AND p.p_size BETWEEN {slo} AND {shi} "
        f"AND CAST(CAST(l.l_quantity AS DECIMAL(18,2)) AS BIGINT) "
        f"BETWEEN {qlo} AND {qhi})"
        for b, slo, shi, qlo, qhi in bands)
    return f"""
        SELECT CAST(SUM({rev_u}) AS BIGINT) AS revenue_micros,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE {ors}
    """


def prospect_customers(customer: DataFrame, orders: DataFrame,
                       nation: DataFrame,
                       dormant_since: str = PROSPECT_SINCE) -> DataFrame:
    """TPC-H Q22-shaped sales prospects: customers with above-average
    POSITIVE account balance and NO RECENT orders (none since
    ``dormant_since`` — every synthetic customer has some lifetime order,
    so the literal Q22 'no orders ever' is vacuous here; the dormancy
    window keeps the anti-join shape and makes the report non-empty).
    The 'above average' test cross-multiplies (bal*n_pos > sum_pos — exact
    integers, no AVG rounding to disagree on); the dormancy test is a
    LEFT ANTI join whose right side is date-filtered AT THE SCAN and
    projects o_custkey only. Nation broadcasts; the anti join is the
    single fact-sized exchange."""
    bal_c = _cents("c_acctbal")
    base = customer.select("c_custkey", "c_nationkey",
                           bal_c.alias("bal_cents"))
    pos = base.filter(F.col("bal_cents") > 0)
    stats = pos.agg(F.sum("bal_cents").cast("bigint").alias("sum_pos"),
                    F.count(F.lit(1)).cast("bigint").alias("n_pos"))
    rich = (pos.crossJoin(F.broadcast(stats))
            .filter(F.col("bal_cents") * F.col("n_pos") > F.col("sum_pos")))
    recent = (orders.filter(F.col("o_orderdate") >= _ts(dormant_since))
                    .select("o_custkey"))
    no_orders = rich.join(recent,
                          F.col("c_custkey") == F.col("o_custkey"),
                          "left_anti")
    return (no_orders.join(F.broadcast(nation),
                           F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_prospects"),
                 F.sum("bal_cents").cast("bigint").alias("total_bal_cents"))
            .orderBy("n_name"))


def sql_prospect_customers(dormant_since: str = PROSPECT_SINCE) -> str:
    bal = _sql_cents("c_acctbal")
    return f"""
        WITH base AS (
            SELECT c_custkey, c_nationkey, {bal} AS bal_cents
            FROM customer
        ), stats AS (
            SELECT CAST(SUM(bal_cents) AS BIGINT) AS sum_pos,
                   CAST(COUNT(*) AS BIGINT) AS n_pos
            FROM base WHERE bal_cents > 0
        )
        SELECT n.n_name,
               CAST(COUNT(*) AS BIGINT) AS n_prospects,
               CAST(SUM(b.bal_cents) AS BIGINT) AS total_bal_cents
        FROM base b CROSS JOIN stats s
        JOIN nation n ON n.n_nationkey = b.c_nationkey
        WHERE b.bal_cents > 0
          AND b.bal_cents * s.n_pos > s.sum_pos
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = b.c_custkey
                            AND o.o_orderdate
                                >= TIMESTAMP '{dormant_since}')
        GROUP BY n.n_name
        ORDER BY n.n_name
    """


# ---------------------------------------------------------------------------
# Round-4 continuation III: Q13/Q17/Q7 analogues — three plan shapes the
# earlier batches don't exercise (left-outer double aggregation with a
# zero-preserving count, a decorrelated per-group average threshold, and a
# symmetric two-sided nation disjunction).
# ---------------------------------------------------------------------------

SMALLQTY_BRAND = "Brand#12"
SMALLQTY_PERMILLE = 800      # qty < 0.8 * per-part average (Q17 uses 0.2*avg;
                             # the synthetic qty is uniform 1..50, so 0.2*avg
                             # ~5 keeps almost nothing — 0.8 cuts ~40%)
VOLUME_NATION_A = "NATION_1"
VOLUME_NATION_B = "NATION_2"
VOLUME_SHIP_FROM = "1996-01-01"
VOLUME_SHIP_TO = "1998-01-01"


def order_count_distribution(customer: DataFrame,
                             orders: DataFrame) -> DataFrame:
    """TPC-H Q13-shaped customer-order-count distribution, INCLUDING the
    zero bucket: LEFT OUTER join customer→orders (the direction that
    preserves order-less customers), count per customer, then histogram
    the counts. Two stacked aggs: the first keyed on custkey (the only
    fact-sized exchange), the second over the ~|distinct counts| frame.
    COUNT(o_orderkey) — not COUNT(*) — is the Q13 trap: the left-outer
    null row must tally as zero orders, not one."""
    j = customer.select("c_custkey").join(
        orders.select("o_custkey", "o_orderkey"),
        F.col("c_custkey") == F.col("o_custkey"), "left")
    per_cust = (j.groupBy("c_custkey")
                 .agg(F.count("o_orderkey").cast("long").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
            .orderBy(F.col("custdist").desc(), F.col("c_count").desc()))


def sql_order_count_distribution() -> str:
    return """
        WITH per_cust AS (
            SELECT c.c_custkey,
                   CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
            FROM customer c
            LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey
        )
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM per_cust
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """


def small_quantity_revenue(lineitem: DataFrame, part: DataFrame,
                           brand: str = SMALLQTY_BRAND,
                           permille: int = SMALLQTY_PERMILLE) -> DataFrame:
    """TPC-H Q17-shaped small-order revenue: lines of one brand whose
    quantity is below ``permille``/1000 of that PART's average quantity.
    The correlated scalar subquery decorrelates into a per-partkey
    aggregate joined back (exactly what Catalyst would synthesize, but
    stated explicitly so the oracle matches shape); the threshold
    cross-multiplies — qty * n * 1000 < permille * sum_qty — so the
    'average' never divides and both engines stay exact-integer.
    The per-part agg runs on the brand-filtered fact (broadcast part
    dim prunes BEFORE the agg — the brand is the selective side)."""
    qty = F.col("l_quantity").cast("decimal(18,2)").cast("bigint")
    pb = part.filter(F.col("p_brand") == brand).select("p_partkey")
    li = (lineitem.join(F.broadcast(pb),
                        F.col("l_partkey") == F.col("p_partkey"))
          .select("l_partkey", qty.alias("qty"),
                  _cents("l_extendedprice").alias("price_c")))
    per_part = (li.groupBy(F.col("l_partkey").alias("agg_pk"))
                .agg(F.sum("qty").cast("long").alias("sum_qty"),
                     F.count(F.lit(1)).cast("long").alias("n_lines")))
    j = li.join(per_part, F.col("l_partkey") == F.col("agg_pk"))
    small = j.filter(F.col("qty") * F.col("n_lines") * 1000
                     < F.lit(permille) * F.col("sum_qty"))
    return small.agg(
        F.count(F.lit(1)).cast("long").alias("n_small_lines"),
        F.coalesce(F.sum("price_c"), F.lit(0)).cast("long")
         .alias("small_revenue_cents"))


def sql_small_quantity_revenue(brand: str = SMALLQTY_BRAND,
                               permille: int = SMALLQTY_PERMILLE) -> str:
    qty = "CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT)"
    return f"""
        WITH li AS (
            SELECT l.l_partkey, {qty} AS qty,
                   {_sql_cents('l.l_extendedprice')} AS price_c
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_brand = '{brand}'
        ), per_part AS (
            SELECT l_partkey AS agg_pk,
                   CAST(SUM(qty) AS BIGINT) AS sum_qty,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM li GROUP BY 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lines,
               CAST(COALESCE(SUM(li.price_c), 0) AS BIGINT)
                   AS small_revenue_cents
        FROM li JOIN per_part a ON a.agg_pk = li.l_partkey
        WHERE li.qty * a.n_lines * 1000 < {permille} * a.sum_qty
    """


def two_nation_volume(nation: DataFrame, customer: DataFrame,
                      supplier: DataFrame, orders: DataFrame,
                      lineitem: DataFrame,
                      nation_a: str = VOLUME_NATION_A,
                      nation_b: str = VOLUME_NATION_B,
                      date_from: str = VOLUME_SHIP_FROM,
                      date_to: str = VOLUME_SHIP_TO) -> DataFrame:
    """TPC-H Q7-shaped cross-nation trade volume: revenue shipped between
    two specific nations in EITHER direction (supplier in A selling to a
    customer in B, or vice versa), per (supp_nation, cust_nation, year).
    Both nation-keyed dims broadcast with the 2-nation filter applied
    BEFORE the broadcast (the build side is 2 rows); the symmetric
    disjunction rides the joined frame as a residual filter. The only
    wide exchange is orders×lineitem."""
    nf = nation.filter(F.col("n_name").isin(nation_a, nation_b))
    sdim = (supplier.join(F.broadcast(nf),
                          F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    cdim = (customer.join(
                F.broadcast(nf.select(F.col("n_nationkey").alias("nk2"),
                                      F.col("n_name").alias("cust_nation"))),
                F.col("c_nationkey") == F.col("nk2"))
            .select("c_custkey", "cust_nation"))
    li = lineitem.filter((F.col("l_shipdate") >= _ts(date_from))
                         & (F.col("l_shipdate") < _ts(date_to)))
    rev_u = _cents("l_extendedprice") * (F.lit(10000) - _bp("l_discount"))
    j = (li.join(orders.select("o_orderkey", "o_custkey"),
                 F.col("l_orderkey") == F.col("o_orderkey"))
           .join(F.broadcast(sdim), F.col("l_suppkey") == F.col("s_suppkey"))
           .join(F.broadcast(cdim), F.col("o_custkey") == F.col("c_custkey"))
           .filter(((F.col("supp_nation") == nation_a)
                    & (F.col("cust_nation") == nation_b))
                   | ((F.col("supp_nation") == nation_b)
                      & (F.col("cust_nation") == nation_a))))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").cast("bigint").alias("l_year"))
             .agg(F.sum(rev_u).cast("bigint").alias("revenue_micros"),
                  F.count(F.lit(1)).cast("long").alias("n_items"))
             .orderBy("supp_nation", "cust_nation", "l_year"))


def sql_two_nation_volume(nation_a: str = VOLUME_NATION_A,
                          nation_b: str = VOLUME_NATION_B,
                          date_from: str = VOLUME_SHIP_FROM,
                          date_to: str = VOLUME_SHIP_TO) -> str:
    rev_u = (f"{_sql_cents('l.l_extendedprice')}"
             f" * (10000 - {_sql_bp('l.l_discount')})")
    return f"""
        SELECT sn.n_name AS supp_nation,
               cn.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
               CAST(SUM({rev_u}) AS BIGINT) AS revenue_micros,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        WHERE l.l_shipdate >= TIMESTAMP '{date_from}'
          AND l.l_shipdate < TIMESTAMP '{date_to}'
          AND ((sn.n_name = '{nation_a}' AND cn.n_name = '{nation_b}')
               OR (sn.n_name = '{nation_b}' AND cn.n_name = '{nation_a}'))
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """


WAIT_STATUS = "F"
WAIT_TOPK = 15


def waiting_suppliers(supplier: DataFrame, orders: DataFrame,
                      lineitem: DataFrame, status: str = WAIT_STATUS,
                      k: int = WAIT_TOPK) -> DataFrame:
    """TPC-H Q21-shaped 'who kept the order waiting': for finished orders
    with >= 2 distinct suppliers, find the supplier whose latest line
    shipped STRICTLY after every other supplier's — the unique laggard
    (the schema has no commit/receipt dates, so lateness is relative:
    last-to-ship stands in for failed-commit, preserving Q21's defining
    structure of an EXISTS over other suppliers plus a NOT EXISTS over
    other LATE suppliers).

    Both quantifiers decorrelate into aggregates: per-(order, supplier)
    max shipdate (the only fact-sized exchange), then per-order max +
    supplier count + at-max count over that collapsed frame — the unique-
    argmax test 'n_at_max = 1' IS the NOT EXISTS. No window, no self-join
    of the fact. Top-k suppliers by wait count, TakeOrderedAndProject."""
    o = orders.filter(F.col("o_orderstatus") == status) \
              .select("o_orderkey")
    f = (lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
                 .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
                 .drop("o_orderkey"))
    per_os = (f.groupBy("l_orderkey", "l_suppkey")
               .agg(F.max("l_shipdate").alias("s_max")))
    per_o = (per_os.groupBy(F.col("l_orderkey").alias("okey"))
             .agg(F.max("s_max").alias("o_max"),
                  F.count(F.lit(1)).alias("n_supps")))
    at_max = (per_os.join(per_o, (F.col("l_orderkey") == F.col("okey"))
                          & (F.col("s_max") == F.col("o_max"))
                          & (F.col("n_supps") >= 2))
                    .select("l_orderkey", "l_suppkey"))
    uniq = (at_max.groupBy(F.col("l_orderkey").alias("ukey"))
                  .agg(F.count(F.lit(1)).alias("n_at_max"))
                  .filter(F.col("n_at_max") == 1))
    waits = (at_max.join(uniq, F.col("l_orderkey") == F.col("ukey"))
                   .groupBy("l_suppkey")
                   .agg(F.count(F.lit(1)).cast("long").alias("numwait")))
    return (waits.join(F.broadcast(supplier.select("s_suppkey", "s_name")),
                       F.col("s_suppkey") == F.col("l_suppkey"))
            .select(F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
                    "s_name", "numwait")
            .orderBy(F.col("numwait").desc(), F.col("s_suppkey"))
            .limit(k))


def sql_waiting_suppliers(status: str = WAIT_STATUS,
                          k: int = WAIT_TOPK) -> str:
    return f"""
        WITH f AS (
            SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderstatus = '{status}'
        ), per_os AS (
            SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS s_max
            FROM f GROUP BY 1, 2
        ), per_o AS (
            SELECT l_orderkey AS okey, MAX(s_max) AS o_max,
                   COUNT(*) AS n_supps
            FROM per_os GROUP BY 1
        ), at_max AS (
            SELECT p.l_orderkey, p.l_suppkey
            FROM per_os p JOIN per_o o
              ON o.okey = p.l_orderkey AND p.s_max = o.o_max
                 AND o.n_supps >= 2
        ), uniq AS (
            SELECT l_orderkey FROM at_max
            GROUP BY 1 HAVING COUNT(*) = 1
        )
        SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name,
               CAST(COUNT(*) AS BIGINT) AS numwait
        FROM at_max a
        JOIN uniq u ON u.l_orderkey = a.l_orderkey
        JOIN supplier s ON s.s_suppkey = a.l_suppkey
        GROUP BY 1, 2
        ORDER BY numwait DESC, s_suppkey
        LIMIT {k}
    """


MARKET_REGION = "ASIA"
MARKET_SUPP_NATION = "NATION_2"   # a nation inside ASIA


def market_share(region: DataFrame, nation: DataFrame, customer: DataFrame,
                 supplier: DataFrame, orders: DataFrame,
                 lineitem: DataFrame, market_region: str = MARKET_REGION,
                 supp_nation: str = MARKET_SUPP_NATION) -> DataFrame:
    """TPC-H Q8-shaped market share: of all revenue sold INTO one region's
    market, the permille supplied by one nation, per order year. The
    denominator keeps every supplier (the defining Q8 subtlety — the
    nation filter lives in a CASE inside the aggregate, NOT in the join),
    so dropping it to a WHERE would silently change semantics.

    Customer→nation→region broadcasts (region-filtered before the build),
    supplier→nation broadcasts unfiltered; orders×lineitem is the one
    fact shuffle; share cross-divides as an exact integer permille."""
    r = region.filter(F.col("r_name") == market_region)
    cdim = (customer
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(r),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .select("c_custkey"))
    sdim = (supplier
            .join(F.broadcast(nation.select(
                      F.col("n_nationkey").alias("snk"),
                      F.col("n_name").alias("s_nation"))),
                  F.col("s_nationkey") == F.col("snk"))
            .select("s_suppkey", "s_nation"))
    rev_u = _cents("l_extendedprice") * (F.lit(10000) - _bp("l_discount"))
    j = (orders.join(F.broadcast(cdim),
                     F.col("o_custkey") == F.col("c_custkey"))
         .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(sdim), F.col("l_suppkey") == F.col("s_suppkey")))
    nat_u = F.when(F.col("s_nation") == supp_nation, rev_u).otherwise(F.lit(0))
    agg = (j.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
            .agg(F.sum(nat_u).cast("bigint").alias("nation_micros"),
                 F.sum(rev_u).cast("bigint").alias("total_micros")))
    # DECIMAL(38,0) `div` for the x1000 step — per-year micro-dollar
    # totals can overflow int64 at 100-TB scale and ANSI mode fails the
    # job; decimal `div` is the exact integral divide (bigint out)
    share = F.expr("(cast(nation_micros as decimal(38,0)) * 1000) div"
                   " cast(total_micros as decimal(38,0))")
    return (agg.withColumn(
                "share_permille",
                F.when(F.col("total_micros") > 0, share)
                 .otherwise(F.lit(0)).cast("bigint"))
            .orderBy("o_year"))


def sql_market_share(market_region: str = MARKET_REGION,
                     supp_nation: str = MARKET_SUPP_NATION) -> str:
    rev_u = (f"{_sql_cents('l.l_extendedprice')}"
             f" * (10000 - {_sql_bp('l.l_discount')})")
    return f"""
        WITH agg AS (
            SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                   CAST(SUM(CASE WHEN sn.n_name = '{supp_nation}'
                                 THEN {rev_u} ELSE 0 END) AS BIGINT)
                       AS nation_micros,
                   CAST(SUM({rev_u}) AS BIGINT) AS total_micros
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation cn ON cn.n_nationkey = c.c_nationkey
            JOIN region r ON r.r_regionkey = cn.n_regionkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation sn ON sn.n_nationkey = s.s_nationkey
            WHERE r.r_name = '{market_region}'
            GROUP BY 1
        )
        SELECT o_year, nation_micros, total_micros,
               CAST(CASE WHEN total_micros > 0
                         THEN (1000 * nation_micros) // total_micros
                         ELSE 0 END AS BIGINT) AS share_permille
        FROM agg
        ORDER BY o_year
    """


# ---------------------------------------------------------------------------
# System-R left-deep join-order advisor (measured-stats CBO parity)
# ---------------------------------------------------------------------------

_JO_BOUND = 9_000_000_000_000_000_000  # int64 headroom for |A|*|B|


def join_order_advisor(customer: DataFrame, orders: DataFrame,
                       lineitem: DataFrame) -> DataFrame:
    """Cost-based join-order advisor over the customer–orders–lineitem
    chain, from MEASURED stats (row counts + distinct join keys) and the
    System-R / Catalyst-CBO estimator ``|A⋈B| = |A|·|B| / max(d_A,d_B)``:
    one row per left-deep order with its estimated intermediate size —
    the quantity a 100-TB planner minimizes — and a recommendation. The
    third candidate (customer×lineitem first) shares no key, so its
    "join" is the cross product the estimator correctly prices out.

    Why engine-side: Catalyst's CBO does this internally when ANALYZE
    stats exist; on raw parquet feeds there are none, so a pipeline
    computes the same decision table itself (one narrow agg per table)
    and pins the join order / broadcast hints from evidence. Output is
    engine-agnostic arithmetic → exact DuckDB oracle.

    Plan/scale: three map-side count/distinct aggs (each shuffles only
    the key column), a 1-row stats crossJoin, constant-size output. The
    |A|·|B| products carry DIVISION-form int64 headroom guards (counts
    beyond ~3e9 each side → use sampled stats instead, as every real
    CBO does)."""
    sc = customer.agg(
        F.count(F.lit(1)).alias("nc"),
        F.countDistinct("c_custkey").alias("dc_ck"))
    so = orders.agg(
        F.count(F.lit(1)).alias("no"),
        F.countDistinct("o_custkey").alias("do_ck"),
        F.countDistinct("o_orderkey").alias("do_ok"))
    sl = lineitem.agg(
        F.count(F.lit(1)).alias("nl"),
        F.countDistinct("l_orderkey").alias("dl_ok"))
    stats = sc.crossJoin(so).crossJoin(sl)

    def _guarded_mul(a: str, b: str) -> Column:
        ok = F.expr(f"{b} <= {_JO_BOUND} DIV GREATEST({a}, 1)")
        return (F.when(ok, F.expr(f"{a} * {b}"))
                .otherwise(F.raise_error(F.lit(
                    "join_order_advisor: table sizes beyond int64 "
                    "estimator headroom; use sampled stats"))))

    # integer DIV on NAMED product columns (never float /: drops low bits
    # past 2^53); operands are non-negative so Spark DIV == DuckDB //
    prods = stats.select(
        "*",
        _guarded_mul("nc", "no").cast("long").alias("p_co"),
        _guarded_mul("no", "nl").cast("long").alias("p_ol"),
        _guarded_mul("nc", "nl").cast("long").alias("p_cl"))
    co = F.expr("p_co DIV GREATEST(dc_ck, do_ck, 1)").cast("long")
    ol = F.expr("p_ol DIV GREATEST(do_ok, dl_ok, 1)").cast("long")
    cl = F.col("p_cl")                             # keyless: cross product
    plans = prods.select(F.explode(F.array(
        F.struct(F.lit("customer*orders->lineitem").alias("join_order"),
                 co.alias("est_step1_rows")),
        F.struct(F.lit("orders*lineitem->customer").alias("join_order"),
                 ol.alias("est_step1_rows")),
        F.struct(F.lit("customer*lineitem->orders").alias("join_order"),
                 cl.alias("est_step1_rows")),
    )).alias("p")).select("p.join_order", "p.est_step1_rows")
    best = plans.agg(F.min("est_step1_rows").alias("best_cost"))
    return (plans.crossJoin(F.broadcast(best))
            .select("join_order", "est_step1_rows",
                    (F.col("est_step1_rows") == F.col("best_cost"))
                    .alias("recommended"))
            .orderBy("join_order"))


def sql_join_order_advisor() -> str:
    return f"""
        WITH sc AS (SELECT COUNT(*) AS nc,
                           COUNT(DISTINCT c_custkey) AS dc_ck
                    FROM customer),
        so AS (SELECT COUNT(*) AS no_,
                      COUNT(DISTINCT o_custkey) AS do_ck,
                      COUNT(DISTINCT o_orderkey) AS do_ok
               FROM orders),
        sl AS (SELECT COUNT(*) AS nl,
                      COUNT(DISTINCT l_orderkey) AS dl_ok
               FROM lineitem),
        plans AS (
            SELECT 'customer*orders->lineitem' AS join_order,
                   CAST(nc * no_ // GREATEST(dc_ck, do_ck, 1) AS BIGINT)
                       AS est_step1_rows
            FROM sc, so, sl
            UNION ALL
            SELECT 'orders*lineitem->customer',
                   CAST(no_ * nl // GREATEST(do_ok, dl_ok, 1) AS BIGINT)
            FROM sc, so, sl
            UNION ALL
            SELECT 'customer*lineitem->orders',
                   CAST(nc * nl AS BIGINT)
            FROM sc, so, sl
        )
        SELECT join_order, est_step1_rows,
               est_step1_rows = (SELECT MIN(est_step1_rows) FROM plans)
                   AS recommended
        FROM plans
        ORDER BY join_order
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "join_order_advisor",
    """System-R left-deep join-order decision table from measured
    count/distinct stats over customer–orders–lineitem (CBO parity).""",
    lambda spark, sf_dir: join_order_advisor(tbl(spark, sf_dir, "customer"),
                                             tbl(spark, sf_dir, "orders"),
                                             tbl(spark, sf_dir, "lineitem")),
    sql_join_order_advisor)

register(
    "tpch_pricing_summary",
    "Q1-shaped pricing summary: one 6-group partial-agg shuffle.",
    lambda spark, sf_dir: pricing_summary(tbl(spark, sf_dir, "lineitem")),
    sql_pricing_summary)

register(
    "tpch_shipping_priority",
    "Q3-shaped top-10 revenue orders: broadcast dim + TakeOrdered top-k.",
    lambda spark, sf_dir: shipping_priority(tbl(spark, sf_dir, "customer"),
                                            tbl(spark, sf_dir, "orders"),
                                            tbl(spark, sf_dir, "lineitem")),
    sql_shipping_priority)

register(
    "tpch_local_supplier_volume",
    "Q5-shaped 6-way star join: all dims broadcast, one fact shuffle.",
    lambda spark, sf_dir: local_supplier_volume(tbl(spark, sf_dir, "region"),
                                                tbl(spark, sf_dir, "nation"),
                                                tbl(spark, sf_dir, "customer"),
                                                tbl(spark, sf_dir, "supplier"),
                                                tbl(spark, sf_dir, "orders"),
                                                tbl(spark, sf_dir, "lineitem")),
    sql_local_supplier_volume)

register(
    "tpch_forecast_revenue",
    "Q6-shaped scan-bound revenue: all predicates pushed, no join.",
    lambda spark, sf_dir: forecast_revenue(tbl(spark, sf_dir, "lineitem")),
    sql_forecast_revenue)

register(
    "tpch_promo_share",
    "Q14-shaped promo permille per ship month: broadcast part dim.",
    lambda spark, sf_dir: promo_revenue_share(tbl(spark, sf_dir, "lineitem"),
                                              tbl(spark, sf_dir, "part")),
    sql_promo_revenue_share)

register(
    "tpch_order_priority",
    "Q4-shaped EXISTS via left-semi join with non-equi lateness check.",
    lambda spark, sf_dir: order_priority_counts(tbl(spark, sf_dir, "orders"),
                                                tbl(spark, sf_dir, "lineitem")),
    sql_order_priority_counts)

register(
    "tpch_large_orders",
    "Q18-shaped HAVING-collapsed fact agg then dim joins, top-k.",
    lambda spark, sf_dir: large_order_customers(tbl(spark, sf_dir, "customer"),
                                                tbl(spark, sf_dir, "orders"),
                                                tbl(spark, sf_dir, "lineitem")),
    sql_large_order_customers)

register(
    "tpch_returned_items",
    """Q10-shaped returned-revenue customer ranking: dims join ABOVE the
    custkey aggregation, top-k via TakeOrderedAndProject.""",
    lambda spark, sf_dir: returned_item_customers(
        tbl(spark, sf_dir, "customer"),
        tbl(spark, sf_dir, "orders"),
        tbl(spark, sf_dir, "lineitem"),
        tbl(spark, sf_dir, "nation")),
    sql_returned_item_customers)

register(
    "tpch_supplier_share",
    """Q11-shaped global-share filter: 1-row scalar broadcast, exact
    cross-multiplied threshold (no AVG/DIV rounding).""",
    lambda spark, sf_dir: supplier_revenue_share(
        tbl(spark, sf_dir, "supplier"),
        tbl(spark, sf_dir, "lineitem")),
    sql_supplier_revenue_share)

register(
    "tpch_priority_class",
    "Q12-shaped high/low-priority CASE-sum over late lines.",
    lambda spark, sf_dir: priority_class_lines(tbl(spark, sf_dir, "orders"),
                                               tbl(spark, sf_dir, "lineitem")),
    sql_priority_class_lines)

register(
    "tpch_top_supplier",
    "Q15-shaped max-of-sums with tie surfacing (scalar MAX broadcast).",
    lambda spark, sf_dir: top_supplier(tbl(spark, sf_dir, "supplier"),
                                       tbl(spark, sf_dir, "lineitem")),
    sql_top_supplier)

register(
    "tpch_disjunctive_revenue",
    "Q19-shaped OR-of-ANDs residual predicate over a broadcast dim join.",
    lambda spark, sf_dir: disjunctive_revenue(tbl(spark, sf_dir, "lineitem"),
                                              tbl(spark, sf_dir, "part")),
    sql_disjunctive_revenue)

register(
    "tpch_prospects",
    "Q22-shaped above-average-balance anti-join prospect report.",
    lambda spark, sf_dir: prospect_customers(tbl(spark, sf_dir, "customer"),
                                             tbl(spark, sf_dir, "orders"),
                                             tbl(spark, sf_dir, "nation")),
    sql_prospect_customers)

register(
    "tpch_order_count_dist",
    """Q13-shaped order-count distribution with the zero bucket preserved
    (LEFT OUTER + COUNT(col), double aggregation).""",
    lambda spark, sf_dir: order_count_distribution(
        tbl(spark, sf_dir, "customer"),
        tbl(spark, sf_dir, "orders")),
    sql_order_count_distribution)

register(
    "tpch_small_qty_revenue",
    """Q17-shaped decorrelated per-part average threshold (cross-multiplied
    — no division) over the brand-pruned fact.""",
    lambda spark, sf_dir: small_quantity_revenue(
        tbl(spark, sf_dir, "lineitem"),
        tbl(spark, sf_dir, "part")),
    sql_small_quantity_revenue)

register(
    "tpch_two_nation_volume",
    "Q7-shaped symmetric two-nation trade volume per year.",
    lambda spark, sf_dir: two_nation_volume(tbl(spark, sf_dir, "nation"),
                                            tbl(spark, sf_dir, "customer"),
                                            tbl(spark, sf_dir, "supplier"),
                                            tbl(spark, sf_dir, "orders"),
                                            tbl(spark, sf_dir, "lineitem")),
    sql_two_nation_volume)

register(
    "tpch_waiting_suppliers",
    """Q21-shaped unique-laggard suppliers: EXISTS + NOT EXISTS both
    decorrelated into aggregates (n_supps >= 2, n_at_max == 1).""",
    lambda spark, sf_dir: waiting_suppliers(tbl(spark, sf_dir, "supplier"),
                                            tbl(spark, sf_dir, "orders"),
                                            tbl(spark, sf_dir, "lineitem")),
    sql_waiting_suppliers)

register(
    "tpch_market_share",
    """Q8-shaped national market share per year: the nation filter lives
    in a CASE inside the aggregate (the denominator keeps everyone).""",
    lambda spark, sf_dir: market_share(tbl(spark, sf_dir, "region"),
                                       tbl(spark, sf_dir, "nation"),
                                       tbl(spark, sf_dir, "customer"),
                                       tbl(spark, sf_dir, "supplier"),
                                       tbl(spark, sf_dir, "orders"),
                                       tbl(spark, sf_dir, "lineitem")),
    sql_market_share)

register(
    "tpch_dead_stock",
    """Anti-join audit: parts with NO sales in 1996Q1, per brand (the
    NOT-EXISTS dual of tpch_order_priority's EXISTS).""",
    lambda spark, sf_dir: dead_stock(tbl(spark, sf_dir, "part"),
                                     tbl(spark, sf_dir, "lineitem")),
    sql_dead_stock)
