"""TPC-H Q2/Q9/Q16/Q20 plan shapes over a DERIVED partsupp relation.

The synthetic sf tables carry no ``partsupp`` — but ``lineitem`` already
encodes the part↔supplier relationship, so the relation is derived
deterministically from the fact table itself::

    partsupp := SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ps_availqty         = (partkey*37 + suppkey*11) % 1000 + 1
    ps_supplycost_cents = (partkey*97 + suppkey*31) % 100000 + 100

Pure integer arithmetic on BIGINT keys — both engines derive bit-identical
rows, and every lineitem row is guaranteed to find its partsupp row (the
relation is the fact table's own key projection), so the Q9/Q20 joins are
never vacuously empty the way a hash-invented relation would be.

These four close out the 22/22 TPC-H plan-shape sweep (the other 18 live in
``analytics.py``):

- Q2  min-cost supplier: the correlated MIN subquery decorrelated into a
  groupBy-min + equi-join back (ties kept, per spec).
- Q9  product-type profit: the 6-way join with profit =
  disc_price − supplycost·qty, grouped by (nation, order-year).
- Q16 supplier relationship: count DISTINCT suppliers per part attribute
  triple with a NOT-IN supplier exclusion as a broadcast anti-join.
- Q20 excess-stock suppliers: the nested IN-subquery chain as
  aggregate → join → semi-join, with the 0.5·qty comparison kept integer
  (2·availqty > sum_qty).

Money stays integer end-to-end (cents / micros) per the analytics.py
convention; every output carries a deterministic total ORDER BY.

Scale notes (100 TB): the DISTINCT pair projection is one shuffle on
(partkey, suppkey) — the natural join key the downstream joins reuse.
part/supplier/nation/region are broadcast dims; the only fact×fact shuffle
in each query is on the partsupp key. Q20's shipped-qty aggregate is
map-side combined on the same key.

Reference parity anchor: like analytics.py, these are §2.12 engine
extensions beyond the reference's counter surface
(reference/src/main/java/io/sugo/collect/metrics/*).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .analytics import _cents, _bp, _sql_cents, _sql_bp, _ts
from log_collector_spark.registry import register, tbl

# Filter constants sized for the synthetic sf tables.
MINCOST_SIZE = 15
MINCOST_TYPE = "STANDARD"
MINCOST_REGION = "ASIA"
PROFIT_NAME_TOKEN = "red"
REL_EXCL_BRAND = "Brand#17"
REL_EXCL_TYPE = "PROMO"
REL_SIZES = (1, 5, 10, 15, 20, 25, 30, 35)
EXCESS_PREFIX = "red"
EXCESS_NATION = "NATION_9"
EXCESS_FROM = "1996-01-01"
EXCESS_TO = "1997-01-01"


def derived_partsupp(lineitem: DataFrame) -> DataFrame:
    """The deterministic partsupp relation (see module docstring)."""
    return (lineitem
            .select(F.col("l_partkey").alias("ps_partkey"),
                    F.col("l_suppkey").alias("ps_suppkey"))
            .distinct()
            .withColumn(
                "ps_availqty",
                (F.col("ps_partkey") * 37 + F.col("ps_suppkey") * 11)
                % 1000 + 1)
            .withColumn(
                "ps_supplycost_cents",
                (F.col("ps_partkey") * 97 + F.col("ps_suppkey") * 31)
                % 100000 + 100))


SQL_PARTSUPP = """
        SELECT ps_partkey, ps_suppkey,
               CAST((ps_partkey * 37 + ps_suppkey * 11) %% 1000 + 1
                    AS BIGINT) AS ps_availqty,
               CAST((ps_partkey * 97 + ps_suppkey * 31) %% 100000 + 100
                    AS BIGINT) AS ps_supplycost_cents
        FROM (SELECT DISTINCT l_partkey AS ps_partkey,
                              l_suppkey AS ps_suppkey
              FROM lineitem)
""".replace("%%", "%")


def min_cost_supplier(part: DataFrame, supplier: DataFrame,
                      nation: DataFrame, region: DataFrame,
                      lineitem: DataFrame,
                      size: int = MINCOST_SIZE,
                      ptype: str = MINCOST_TYPE,
                      region_name: str = MINCOST_REGION) -> DataFrame:
    """TPC-H Q2-shaped min-cost supplier: for each (size, type)-qualified
    part, every region-local supplier offering the MINIMUM supplycost.

    The spec's correlated ``= (SELECT MIN(...))`` decorrelates into a
    groupBy-min over the SAME region-restricted offer set + an equi-join
    back on (partkey, cost) — ties all survive, per spec. Offers is one
    shuffle on ps_partkey; part/supplier/nation/region broadcast."""
    eligible_supp = (supplier
                     .join(F.broadcast(nation),
                           supplier.s_nationkey == nation.n_nationkey)
                     .join(F.broadcast(region),
                           (F.col("n_regionkey") == F.col("r_regionkey"))
                           & (F.col("r_name") == region_name))
                     .select("s_suppkey", "s_name",
                             _cents("s_acctbal").alias("s_acctbal_cents"),
                             "n_name"))
    parts = part.filter((F.col("p_size") == size)
                        & (F.col("p_type") == ptype)) \
                .select("p_partkey", "p_name")
    offers = (derived_partsupp(lineitem)
              .join(F.broadcast(parts),
                    F.col("ps_partkey") == F.col("p_partkey"))
              .join(F.broadcast(eligible_supp),
                    F.col("ps_suppkey") == F.col("s_suppkey")))
    min_cost = (offers.groupBy(F.col("ps_partkey").alias("mc_partkey"))
                .agg(F.min("ps_supplycost_cents").alias("min_cost_cents")))
    return (offers
            .join(min_cost,
                  (F.col("ps_partkey") == F.col("mc_partkey"))
                  & (F.col("ps_supplycost_cents")
                     == F.col("min_cost_cents")))
            .select(F.col("ps_partkey").alias("p_partkey"), "p_name",
                    "s_name", "n_name", "s_acctbal_cents",
                    F.col("ps_supplycost_cents").alias("supplycost_cents"))
            .orderBy(F.col("s_acctbal_cents").desc(), "n_name", "s_name",
                     "p_partkey"))


def sql_min_cost_supplier(size: int = MINCOST_SIZE,
                          ptype: str = MINCOST_TYPE,
                          region_name: str = MINCOST_REGION) -> str:
    return f"""
        WITH partsupp AS ({SQL_PARTSUPP}),
        offers AS (
            SELECT ps.ps_partkey, p.p_name, s.s_name, n.n_name,
                   {_sql_cents('s.s_acctbal')} AS s_acctbal_cents,
                   ps.ps_supplycost_cents
            FROM partsupp ps
            JOIN part p ON ps.ps_partkey = p.p_partkey
                AND p.p_size = {size} AND p.p_type = '{ptype}'
            JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
                AND r.r_name = '{region_name}'
        )
        SELECT o.ps_partkey AS p_partkey, o.p_name, o.s_name, o.n_name,
               o.s_acctbal_cents,
               o.ps_supplycost_cents AS supplycost_cents
        FROM offers o
        JOIN (SELECT ps_partkey, MIN(ps_supplycost_cents) AS min_cost_cents
              FROM offers GROUP BY ps_partkey) m
          ON o.ps_partkey = m.ps_partkey
         AND o.ps_supplycost_cents = m.min_cost_cents
        ORDER BY s_acctbal_cents DESC, n_name, s_name, p_partkey
    """


def product_type_profit(part: DataFrame, supplier: DataFrame,
                        nation: DataFrame, orders: DataFrame,
                        lineitem: DataFrame,
                        name_token: str = PROFIT_NAME_TOKEN) -> DataFrame:
    """TPC-H Q9-shaped product-type profit by (supplier nation, order year):
    profit_micros = disc_price_micros − supplycost_cents·10000·qty, summed.

    The 6-way join keeps exactly two fact-side shuffles (lineitem⋈partsupp
    on (partkey, suppkey); lineitem⋈orders on orderkey — at scale orders
    co-partitions with lineitem on the key); part/supplier/nation broadcast.
    Profit can be negative — BIGINT handles it; a group needs > ~8e7 rows
    before the micros sum nears overflow (widen to DECIMAL(38,0) then)."""
    parts = part.filter(F.col("p_name").contains(name_token)) \
                .select("p_partkey")
    supp = (supplier
            .join(F.broadcast(nation),
                  supplier.s_nationkey == nation.n_nationkey)
            .select("s_suppkey", "n_name"))
    li = (lineitem
          .select("l_orderkey", "l_partkey", "l_suppkey",
                  F.col("l_quantity").cast("bigint").alias("qty"),
                  _cents("l_extendedprice").alias("price_c"),
                  _bp("l_discount").alias("disc_bp"))
          .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
          .join(derived_partsupp(lineitem),
                (F.col("l_partkey") == F.col("ps_partkey"))
                & (F.col("l_suppkey") == F.col("ps_suppkey")))
          .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
          .join(orders.select("o_orderkey",
                              F.year("o_orderdate").cast("bigint")
                              .alias("o_year")),
                F.col("l_orderkey") == F.col("o_orderkey")))
    amount = (F.col("price_c") * (10000 - F.col("disc_bp"))
              - F.col("ps_supplycost_cents") * 10000 * F.col("qty"))
    return (li.select("n_name", "o_year", amount.alias("amount_u"))
            .groupBy("n_name", "o_year")
            .agg(F.sum("amount_u").alias("sum_profit_micros"))
            .orderBy("n_name", F.col("o_year").desc()))


def sql_product_type_profit(name_token: str = PROFIT_NAME_TOKEN) -> str:
    return f"""
        WITH partsupp AS ({SQL_PARTSUPP})
        SELECT n.n_name,
               CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM({_sql_cents('l.l_extendedprice')}
                        * (10000 - {_sql_bp('l.l_discount')})
                        - ps.ps_supplycost_cents * 10000
                          * CAST(l.l_quantity AS BIGINT)) AS BIGINT)
                   AS sum_profit_micros
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
            AND p.p_name LIKE '%{name_token}%'
        JOIN partsupp ps ON l.l_partkey = ps.ps_partkey
            AND l.l_suppkey = ps.ps_suppkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY n.n_name, year(o.o_orderdate)
        ORDER BY n_name, o_year DESC
    """


def supplier_relationship(part: DataFrame, supplier: DataFrame,
                          lineitem: DataFrame,
                          excl_brand: str = REL_EXCL_BRAND,
                          excl_type: str = REL_EXCL_TYPE,
                          sizes: tuple = REL_SIZES) -> DataFrame:
    """TPC-H Q16-shaped parts/supplier relationship: DISTINCT supplier
    count per (brand, type, size) triple, excluding one brand, one type
    and non-listed sizes, and excluding flagged suppliers (the spec's
    complaint suppliers; analogue here: negative account balance) via a
    broadcast anti-join — the NOT IN decorrelation.

    The distinct-count shuffles (brand,type,size,suppkey) once; part is a
    broadcast dim; the excluded-supplier set is tiny by construction."""
    parts = part.filter((F.col("p_brand") != excl_brand)
                        & (F.col("p_type") != excl_type)
                        & F.col("p_size").isin(list(sizes))) \
                .select("p_partkey", "p_brand", "p_type",
                        F.col("p_size").cast("bigint").alias("p_size"))
    flagged = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (derived_partsupp(lineitem)
            .join(F.broadcast(parts),
                  F.col("ps_partkey") == F.col("p_partkey"))
            .join(F.broadcast(flagged),
                  F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti")
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
            .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type",
                     "p_size"))


def sql_supplier_relationship(excl_brand: str = REL_EXCL_BRAND,
                              excl_type: str = REL_EXCL_TYPE,
                              sizes: tuple = REL_SIZES) -> str:
    size_list = ", ".join(str(s) for s in sizes)
    return f"""
        WITH partsupp AS ({SQL_PARTSUPP})
        SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
               CAST(COUNT(DISTINCT ps.ps_suppkey) AS BIGINT)
                   AS supplier_cnt
        FROM partsupp ps
        JOIN part p ON ps.ps_partkey = p.p_partkey
        WHERE p.p_brand <> '{excl_brand}'
          AND p.p_type <> '{excl_type}'
          AND p.p_size IN ({size_list})
          AND ps.ps_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p.p_brand, p.p_type, p.p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """


def excess_stock_suppliers(supplier: DataFrame, nation: DataFrame,
                           part: DataFrame, lineitem: DataFrame,
                           prefix: str = EXCESS_PREFIX,
                           nation_name: str = EXCESS_NATION,
                           date_from: str = EXCESS_FROM,
                           date_to: str = EXCESS_TO) -> DataFrame:
    """TPC-H Q20-shaped excess-stock suppliers: suppliers in one nation
    holding availqty > 0.5 × the qty they shipped of a prefix-named part
    in the window. Integer comparison: 2·availqty > sum_qty (never-shipped
    offers pass with sum_qty = 0, per the spec's scalar subquery on an
    empty set... which yields NULL > comparisons FALSE in the spec; the
    derived relation treats no-shipment as 0 shipped — i.e. any stock of a
    never-shipped part is excess. Both engines use the same rule.)

    Shape: shipped-qty aggregate on (partkey, suppkey) — the same key the
    partsupp join uses, so at scale the exchange is reused; part-prefix
    semi-join broadcast; final DISTINCT suppkey semi-join into the
    broadcast nation-filtered supplier dim."""
    shipped = (lineitem
               .filter((F.col("l_shipdate") >= _ts(date_from))
                       & (F.col("l_shipdate") < _ts(date_to)))
               .groupBy("l_partkey", "l_suppkey")
               .agg(F.sum(F.col("l_quantity").cast("bigint"))
                    .alias("sum_qty")))
    red_parts = part.filter(F.col("p_name").startswith(prefix)) \
                    .select("p_partkey")
    excess = (derived_partsupp(lineitem)
              .join(F.broadcast(red_parts),
                    F.col("ps_partkey") == F.col("p_partkey"), "left_semi")
              .join(shipped,
                    (F.col("ps_partkey") == F.col("l_partkey"))
                    & (F.col("ps_suppkey") == F.col("l_suppkey")), "left")
              .filter(2 * F.col("ps_availqty")
                      > F.coalesce(F.col("sum_qty"), F.lit(0)))
              .select("ps_suppkey").distinct())
    return (supplier
            .join(F.broadcast(nation),
                  (supplier.s_nationkey == nation.n_nationkey)
                  & (nation.n_name == nation_name))
            .join(excess, F.col("s_suppkey") == F.col("ps_suppkey"),
                  "left_semi")
            .select("s_suppkey", "s_name")
            .orderBy("s_name", "s_suppkey"))


def sql_excess_stock_suppliers(prefix: str = EXCESS_PREFIX,
                               nation_name: str = EXCESS_NATION,
                               date_from: str = EXCESS_FROM,
                               date_to: str = EXCESS_TO) -> str:
    return f"""
        WITH partsupp AS ({SQL_PARTSUPP}),
        shipped AS (
            SELECT l_partkey, l_suppkey,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                       AS sum_qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '{date_from}'
              AND l_shipdate <  TIMESTAMP '{date_to}'
            GROUP BY l_partkey, l_suppkey
        ),
        excess AS (
            SELECT DISTINCT ps.ps_suppkey
            FROM partsupp ps
            JOIN part p ON ps.ps_partkey = p.p_partkey
                AND p.p_name LIKE '{prefix}%'
            LEFT JOIN shipped sh ON ps.ps_partkey = sh.l_partkey
                                AND ps.ps_suppkey = sh.l_suppkey
            WHERE 2 * ps.ps_availqty > COALESCE(sh.sum_qty, 0)
        )
        SELECT s.s_suppkey, s.s_name
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
            AND n.n_name = '{nation_name}'
        WHERE s.s_suppkey IN (SELECT ps_suppkey FROM excess)
        ORDER BY s_name, s_suppkey
    """


# ---------------------------------------------------------------------------
# driver queries declared over this module's operators (see registry.py)
# ---------------------------------------------------------------------------

register(
    "tpch_min_cost_supplier",
    """Q2-shaped min-cost supplier over the DERIVED partsupp (distinct
    lineitem key pairs + deterministic integer attrs): the correlated MIN
    subquery decorrelated into groupBy-min + equi-join back, ties kept.""",
    lambda spark, sf_dir: min_cost_supplier(tbl(spark, sf_dir, "part"),
                                            tbl(spark, sf_dir, "supplier"),
                                            tbl(spark, sf_dir, "nation"),
                                            tbl(spark, sf_dir, "region"),
                                            tbl(spark, sf_dir, "lineitem")),
    sql_min_cost_supplier)

register(
    "tpch_product_profit",
    """Q9-shaped product-type profit by (nation, order-year): 6-way join,
    profit = disc_price − supplycost·qty in exact integer micros.""",
    lambda spark, sf_dir: product_type_profit(tbl(spark, sf_dir, "part"),
                                              tbl(spark, sf_dir, "supplier"),
                                              tbl(spark, sf_dir, "nation"),
                                              tbl(spark, sf_dir, "orders"),
                                              tbl(spark, sf_dir, "lineitem")),
    sql_product_type_profit)

register(
    "tpch_supplier_relationship",
    """Q16-shaped supplier-relationship count: DISTINCT suppliers per
    (brand, type, size) with the NOT-IN exclusion as a broadcast
    anti-join.""",
    lambda spark, sf_dir: supplier_relationship(tbl(spark, sf_dir, "part"),
                                                tbl(spark, sf_dir, "supplier"),
                                                tbl(spark, sf_dir, "lineitem")),
    sql_supplier_relationship)

register(
    "tpch_excess_stock",
    """Q20-shaped excess-stock suppliers: nested IN-chain as
    aggregate → join → semi-join; 0.5·qty comparison kept integer.""",
    lambda spark, sf_dir: excess_stock_suppliers(
        tbl(spark, sf_dir, "supplier"),
        tbl(spark, sf_dir, "nation"),
        tbl(spark, sf_dir, "part"),
        tbl(spark, sf_dir, "lineitem")),
    sql_excess_stock_suppliers)
