"""Headline OLAP queries (TPC-H-shaped) over the driver testdata.

These exercise the engine's core batch surface — scan+filter+project
(pushed down to parquet), multi-way joins with broadcast dim sides,
partial/final hash aggregation, total-order top-N — i.e. the Spark
realization of the reference's aggregate layer (SURVEY §2.5, §2.7)
at TPC-H shape so the benchmark is comparable and scale-meaningful.

Determinism: money math by the rules of functions/money.py; averages
derived from the exact decimal sums with one final double division +
round(6); top-N tie-broken by key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.functions.money import (
    RATE_SUM,
    disc_price,
    disc_price_sum,
    duck_disc_price,
    duck_disc_price_sum,
    duck_money,
    duck_money_sum,
    duck_rate,
    money,
    money_sum,
    rate,
)
from gmall2021_flink_dw_spark.registry import register
from gmall2021_flink_dw_spark.sources.batch import load_table


def _avg6(sum_dec_col, cnt_col):
    return F.round(sum_dec_col.cast("double") / cnt_col, 6)


@register(
    "tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {duck_money_sum("l_quantity")} AS sum_qty,
           {duck_money_sum("l_extendedprice")} AS sum_base_price,
           {duck_disc_price_sum()} AS sum_disc_price,
           cast(sum({duck_disc_price()} * (1 + {duck_rate("l_tax")})) as double) AS sum_charge,
           round({duck_money_sum("l_quantity")}/count(*), 6) AS avg_qty,
           round({duck_money_sum("l_extendedprice")}/count(*), 6) AS avg_price,
           round(cast(sum(cast(l_discount as {RATE_SUM})) as double)/count(*), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= timestamp '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Pricing summary: 2-key groupBy, 8 aggregates, exact decimal sums. "
    "Maps reference A1/A2 windowed reduces to their batch hash-agg form.",
    tags=("agg", "bench"),
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum("l_quantity").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            disc_price_sum().alias("sum_disc_price"),
            F.sum(disc_price() * (F.lit(1) + rate("l_tax")))
            .cast("double")
            .alias("sum_charge"),
            _avg6(F.sum(money("l_quantity")), cnt).alias("avg_qty"),
            _avg6(F.sum(money("l_extendedprice")), cnt).alias("avg_price"),
            _avg6(F.sum(F.col("l_discount").cast(RATE_SUM)), cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@register(
    "tpch_q3",
    oracle=f"""
    SELECT l_orderkey,
           {duck_disc_price_sum()} AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < timestamp '1998-03-15'
      AND l_shipdate  > timestamp '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="Shipping-priority top-N: fact-fact join + broadcast dim filter + "
    "TakeOrderedAndProject (reference A7's ORDER BY+LIMIT pattern).",
    tags=("join", "agg", "topn", "bench"),
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            disc_price_sum().alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5",
    oracle=f"""
    SELECT n_name,
           {duck_disc_price_sum()} AS revenue
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                  JOIN nation   ON s_nationkey = n_nationkey
                  JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= timestamp '1996-01-01'
      AND o_orderdate <  timestamp '1997-01-01'
    GROUP BY n_name
    """,
    doc="Local-supplier volume: 6-way join; nation/region/supplier/customer "
    "broadcast (the Spark form of reference J4's dim-enrichment chain).",
    tags=("join", "agg", "bench"),
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            disc_price_sum().alias("revenue")
        )
    )


@register(
    "tpch_q6",
    oracle=f"""
    SELECT cast(sum({duck_money("l_extendedprice")}*{duck_rate("l_discount")}) as double)
             AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= timestamp '1996-01-01'
      AND l_shipdate <  timestamp '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="Forecast-revenue scan: all predicates pushed to the parquet scan "
    "(PushedFilters), single global aggregate.",
    tags=("scan", "agg", "bench"),
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(money("l_extendedprice") * rate("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
