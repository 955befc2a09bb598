"""Remaining TPC-H query shapes, adapted to the driver schema.

The driver's star schema has no ``partsupp`` and lineitem carries only
``l_shipdate`` (no commit/receipt dates), so Q2/Q11/Q17/Q20/Q21 are
re-expressed over a lineitem-derived supply relation while keeping the
*query shape* that matters for the engine: correlated MIN subquery (Q2),
market-share conditional ratio (Q8), multi-dim profit rollup (Q9),
global-scalar-threshold HAVING (Q11), outer-join count distribution
(Q13), correlated-AVG filter (Q17), EXISTS/NOT-EXISTS multi-correlation
(Q21), and anti-join + scalar-avg gate (Q22).

Float-parity rules (registry.py docstring): money sums by the rules of
functions/money.py; averages only over integral doubles (exact in IEEE
regardless of order); scalar-threshold comparisons are done multiply-
style in decimal (``x * n > total``) instead of dividing, so no engine
ever rounds before the comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.functions.money import (
    disc_price,
    duck_disc_price,
    duck_money,
    duck_money_sum,
    money,
    money_sum,
)
from gmall2021_flink_dw_spark.registry import register
from gmall2021_flink_dw_spark.sources.batch import load_table


def _ts(s: str):
    return F.lit(f"{s} 00:00:00").cast("timestamp_ntz")


# lineitem-derived stand-in for partsupp: the cheapest observed sale
# price per (part, supplier) is the "supply cost".
_SUPPLY_SQL = f"""
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         min({duck_money("l_extendedprice")}) AS ps_supplycost
  FROM lineitem GROUP BY 1, 2
"""


def _supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(F.min(money("l_extendedprice")).alias("ps_supplycost"))


@register(
    "tpch_q2_mincost",
    oracle=f"""
    WITH supply AS ({_SUPPLY_SQL})
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
           cast(ps_supplycost as double) AS supplycost
    FROM part
      JOIN supply   ON p_partkey = ps_partkey
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_size = 15 AND p_type = 'SMALL'
      AND ps_supplycost = (
        SELECT min(ps_supplycost) FROM supply WHERE ps_partkey = p_partkey)
    """,
    doc="Q2 minimum-cost supplier: correlated MIN subquery against a "
    "derived supply relation (partsupp stand-in built from lineitem). "
    "Spark plan: the broadcast part filter lands BEFORE the supply "
    "aggregation (only qualifying parts' lineitems shuffle), then the "
    "per-part min is a window MIN over the aggregated rows instead of a "
    "second supply scan + self-join — the explicit repartition on "
    "partkey satisfies both the (partkey, suppkey) aggregation and the "
    "window partitioning, so the whole query is one scan and ONE "
    "shuffle (measured 2.4x over the agg+join-back form at sf0.1).",
    tags=("join", "subquery", "bench"),
)
def tpch_q2_mincost(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") == 15) & (F.col("p_type") == "SMALL"))
        .select("p_partkey", "p_type")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    qualified = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .repartition(F.col("l_partkey"))
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
            "p_type",
        )
        .agg(
            F.min(money("l_extendedprice")).alias("ps_supplycost")
        )
    )
    w = Window.partitionBy("ps_partkey")
    return (
        qualified.withColumn("__min", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("__min"))
        .join(F.broadcast(supp), F.col("ps_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "p_type",
            F.col("ps_supplycost").cast("double").alias("supplycost"),
        )
    )


@register(
    "tpch_q8_marketshare",
    oracle=f"""
    WITH flat AS (
      SELECT strftime(l_shipdate, '%Y') AS o_year,
             {duck_disc_price()} AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region    ON n1.n_regionkey = r_regionkey
        JOIN supplier  ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = (SELECT r.r_name FROM nation n JOIN region r
                      ON n.n_regionkey = r.r_regionkey
                      WHERE n.n_name = 'NATION_9')
        AND l_shipdate >= timestamp '1996-01-01'
        AND l_shipdate <  timestamp '1998-01-01'
    )
    SELECT o_year,
           cast(sum(CASE WHEN supp_nation = 'NATION_9' THEN volume
                         ELSE {duck_money("0")} END) as double)
             / cast(sum(volume) as double) AS mkt_share
    FROM flat GROUP BY o_year
    """,
    doc="Q8 national market share: 6-way join with region gate on the "
    "customer side, conditional-sum ratio per year. Both engines sum "
    "in decimal and divide once as double, so the ratio bits match.",
    tags=("join", "agg", "bench"),
)
def tpch_q8_marketshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # region of NATION_9, resolved Spark-side (2-row broadcast, no collect)
    target_region = (
        nation.filter(F.col("n_name") == "NATION_9")
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("r_name").alias("__target_r"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n1 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    flat = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(region), F.col("c_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(target_region), F.col("r_name") == F.col("__target_r"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.date_format("l_shipdate", "yyyy").alias("o_year"),
            disc_price().alias("volume"),
            "supp_nation",
        )
    )
    zero = money(F.lit(0))
    return flat.groupBy("o_year").agg(
        (
            F.sum(
                F.when(F.col("supp_nation") == "NATION_9", F.col("volume")).otherwise(
                    zero
                )
            ).cast("double")
            / F.sum("volume").cast("double")
        ).alias("mkt_share")
    )


@register(
    "tpch_q9_profit",
    oracle=f"""
    SELECT n_name AS nation, strftime(l_shipdate, '%Y') AS o_year,
           cast(sum({duck_disc_price()}
                    - {duck_money("p_retailprice")}
                      * {duck_money("l_quantity")}) as double) AS sum_profit
    FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
    doc="Q9 product-type profit: revenue minus cost (retailprice*qty as "
    "the supplycost stand-in) per supplier nation per year, gated by a "
    "LIKE filter on part name pushed to the broadcast side.",
    tags=("join", "agg", "bench"),
)
def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    profit = disc_price() - money("p_retailprice") * money("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_format("l_shipdate", "yyyy").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


@register(
    "tpch_q11_importance",
    oracle=f"""
    WITH pv AS (
      SELECT l_partkey,
             sum({duck_disc_price()}) AS value
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, cast(value as double) AS value
    FROM pv
    WHERE value * 10000 > (SELECT sum(value) FROM pv)
    """,
    doc="Q11 important stock: per-part value with a HAVING gate against "
    "a global scalar subquery. The threshold compare is multiply-form "
    "(value*10000 > total) in exact decimal on both engines — no "
    "double rounding can flip a boundary part. Spark reuses one "
    "aggregate for both sides; the 1-row total is broadcast.",
    tags=("agg", "subquery", "bench"),
)
def tpch_q11_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(F.sum(disc_price()).alias("value"))
    total = pv.agg(F.sum("value").alias("__total"))
    return (
        pv.join(F.broadcast(total))
        .filter(F.col("value") * 10000 > F.col("__total"))
        .select("l_partkey", F.col("value").cast("double").alias("value"))
    )


@register(
    "tpch_q13_custdist",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    doc="Q13 customer order-count distribution: left outer join with a "
    "predicate inside the join condition (not a post-filter — customers "
    "with only urgent orders must count as 0), then a second "
    "aggregation over the first.",
    tags=("join", "outer", "agg", "bench"),
)
def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q17_smallqty",
    oracle=f"""
    WITH pq AS (
      SELECT l_partkey AS pq_partkey, avg(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT cast({duck_money_sum("l_extendedprice")} / 7.0
           as double) AS avg_yearly
    FROM lineitem JOIN part ON l_partkey = p_partkey
                  JOIN pq ON l_partkey = pq_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < 0.2 * avg_qty
    """,
    doc="Q17 small-quantity revenue: correlated AVG subquery decorrelated "
    "into an aggregate + self-join on partkey. l_quantity is integral, "
    "so avg is IEEE-exact in any summation order and the 0.2*avg "
    "boundary is engine-stable.",
    tags=("join", "subquery", "agg", "bench"),
)
def tpch_q17_smallqty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    pq = li.groupBy(F.col("l_partkey").alias("pq_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(pq, li.l_partkey == pq.pq_partkey)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (money_sum("l_extendedprice") / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly")
        )
    )


@register(
    "tpch_q21_waiting",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM lineitem l1
      JOIN supplier ON l1.l_suppkey = s_suppkey
      JOIN orders   ON l1.l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    """,
    doc="Q21 sole-blame supplier (adapted: returnflag 'R' stands in for "
    "the missing receipt>commit lateness): EXISTS another supplier in "
    "the order, NOT EXISTS another supplier also at fault — a semi- "
    "plus anti-join pair correlated on (orderkey, suppkey<>).",
    tags=("join", "semi", "anti", "bench"),
)
def tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .alias("l3")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        l1.join(orders, F.col("l1.l_orderkey") == orders.o_orderkey)
        .join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
        .join(F.broadcast(supp), F.col("l1.l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "tpch_q22_inactive",
    oracle=f"""
    WITH pos AS (
      SELECT count(*) AS n, sum({duck_money("c_acctbal")}) AS total
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment, count(*) AS numcust,
           {duck_money_sum("c_acctbal")} AS totacctbal
    FROM customer, pos
    WHERE {duck_money("c_acctbal")} * n > total
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= timestamp '2000-01-01')
    GROUP BY c_mktsegment
    """,
    doc="Q22 high-balance inactive customers (mktsegment stands in for "
    "the phone country code; 'inactive' = no order since 2000-01-01, "
    "since every synthetic customer has some order): scalar-avg gate "
    "done multiply-form in exact decimal (bal*n > total, no division) "
    "+ anti join to recent orders, grouped per segment.",
    tags=("join", "anti", "subquery", "agg", "bench"),
)
def tpch_q22_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _ts("2000-01-01")
    )
    pos = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(money("c_acctbal")).alias("__total"),
    )
    return (
        cust.join(F.broadcast(pos))
        .filter(money("c_acctbal") * F.col("__n") > F.col("__total"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money_sum("c_acctbal").alias("totacctbal"),
        )
    )


@register(
    "tpch_q20_excess",
    oracle=f"""
    WITH supply AS ({_SUPPLY_SQL}),
    shipped AS (
      SELECT l_partkey, l_suppkey,
             sum({duck_money("l_quantity")}) AS qty
      FROM lineitem
      WHERE l_shipdate >= timestamp '1996-01-01'
        AND l_shipdate <  timestamp '1997-01-01'
      GROUP BY 1, 2
    )
    SELECT s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT ps_suppkey FROM supply
      WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'SMALL')
        AND EXISTS (SELECT 1 FROM shipped
                    WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                      AND qty > 50))
    """,
    doc="Q20 excess-inventory suppliers (adapted: 1996 shipped qty > 50 "
    "per (part,supplier) stands in for availqty > half-year demand): a "
    "nested semi-join chain part->supply->shipped->supplier, executed "
    "as two broadcast semi-joins + one aggregate equi-semi-join.",
    tags=("join", "semi", "subquery", "bench"),
)
def tpch_q20_excess(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supply = _supply(spark, sf_dir)
    small_parts = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "SMALL"
    )
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(money("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 50)
    )
    qualifying = (
        supply.join(
            F.broadcast(small_parts),
            supply.ps_partkey == small_parts.p_partkey,
            "left_semi",
        )
        .join(
            shipped,
            (supply.ps_partkey == shipped.l_partkey)
            & (supply.ps_suppkey == shipped.l_suppkey),
            "left_semi",
        )
        .select("ps_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supp.join(
            F.broadcast(qualifying), supp.s_suppkey == F.col("ps_suppkey"), "left_semi"
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("s_name", "n_name")
    )
