"""Extended OLAP surface: semi/anti joins, CASE aggregates, disjunctive
pushdown, OVER windows, ROLLUP.

The reference repo has none of these (SURVEY §2.6: no OVER windows; §2.8:
no intersect/except; §2.4: no semi/anti) — but a user replacing it with
this engine gets them from Catalyst for free; these queries pin that
surface with oracles so it stays correct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.functions.money import (
    disc_price,
    disc_price_sum,
    duck_disc_price,
    duck_disc_price_sum,
    duck_money,
    duck_money_sum,
    money,
    money_sum,
)
from gmall2021_flink_dw_spark.registry import register
from gmall2021_flink_dw_spark.sources.batch import load_table


def _ts(s: str):
    return F.lit(f"{s} 00:00:00").cast("timestamp_ntz")


@register(
    "tpch_q4_semi",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= timestamp '1996-01-01'
      AND o_orderdate <  timestamp '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 3 DAY
      )
    GROUP BY o_orderpriority
    """,
    doc="Q4-shaped LEFT SEMI join (EXISTS): late-shipping orders per "
    "priority. Catalyst plans a semi join — no row duplication from the "
    "many-per-key lineitem side.",
    tags=("join", "semi", "agg", "bench"),
)
def tpch_q4_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-07-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("interval 3 days")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q16_anti",
    oracle="""
    SELECT p_brand, count(*) AS part_count
    FROM part
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_partkey = p_partkey
        AND l_shipdate >= timestamp '1996-01-01'
        AND l_shipdate <  timestamp '1997-01-01'
    )
    GROUP BY p_brand
    """,
    doc="LEFT ANTI join (NOT EXISTS): parts with no 1996 shipment, per "
    "brand — the dead-stock query.",
    tags=("join", "anti", "agg"),
)
def tpch_q16_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_anti")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("part_count"))
    )


@register(
    "tpch_q12_caseagg",
    oracle="""
    SELECT l_returnflag,
           cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
             as bigint) AS high_line_count,
           cast(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
             as bigint) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= timestamp '1996-01-01'
      AND l_shipdate <  timestamp '1997-01-01'
    GROUP BY l_returnflag
    """,
    doc="Q12-shaped conditional aggregation (CASE inside SUM) over a "
    "fact-fact join.",
    tags=("join", "agg", "bench"),
)
def tpch_q12_caseagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q14_promo",
    oracle=f"""
    SELECT round(
      100.0 * cast(sum(CASE WHEN p_type = 'PROMO' THEN {duck_disc_price()}
                            ELSE {duck_money("0")} END) as double)
      / {duck_disc_price_sum()}, 6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= timestamp '1996-09-01'
      AND l_shipdate <  timestamp '1996-10-01'
    """,
    doc="Q14 promo-revenue ratio: conditional decimal sum / total, one "
    "broadcast join, scalar result.",
    tags=("join", "agg", "bench"),
)
def tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-09-01"))
        & (F.col("l_shipdate") < _ts("1996-10-01"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = disc_price()
    zero = money(F.lit(0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(zero)).cast(
                    "double"
                )
                / disc_price_sum(),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q18_bigorders",
    oracle=f"""
    SELECT c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           cast({duck_money("o_totalprice")} as double) AS o_totalprice,
           {duck_money_sum("l_quantity")} AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 300
    )
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    doc="Q18 large-volume orders: IN-subquery with HAVING (planned as a "
    "semi join on the aggregated subquery), 3-way join, total-order "
    "top-100.",
    tags=("join", "semi", "agg", "topn", "bench"),
)
def tpch_q18_bigorders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 300)
        .select("l_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(money_sum("l_quantity").alias("total_qty"))
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            money("o_totalprice").cast("double").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "tpch_q19_disjunct",
    oracle=f"""
    SELECT {duck_disc_price_sum()} AS revenue, count(*) AS n_rows
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#15' AND l_quantity BETWEEN 1 AND 11 AND p_size <= 5)
       OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size <= 10)
       OR (p_brand = 'Brand#19' AND l_quantity BETWEEN 20 AND 30 AND p_size <= 15)
    """,
    doc="Q19-shaped OR-of-ANDs predicate over a join: exercises "
    "disjunctive filter pushdown/CNF handling.",
    tags=("join", "scan", "agg", "bench"),
)
def tpch_q19_disjunct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#15") & q.between(1, 11) & (F.col("p_size") <= 5))
        | ((F.col("p_brand") == "Brand#23") & q.between(10, 20) & (F.col("p_size") <= 10))
        | ((F.col("p_brand") == "Brand#19") & q.between(20, 30) & (F.col("p_size") <= 15))
    )
    return j.filter(cond).agg(
        disc_price_sum().alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "ads_top_parts_per_brand",
    oracle=f"""
    SELECT p_brand, p_partkey, order_amount, rnk FROM (
      SELECT p_brand, p_partkey,
             {duck_disc_price_sum()} AS order_amount,
             row_number() OVER (
               PARTITION BY p_brand
               ORDER BY {duck_disc_price_sum()} DESC, p_partkey) AS rnk
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand, p_partkey
    ) WHERE rnk <= 3
    """,
    doc="Top-N per group via OVER window (row_number) — §2.6 surface the "
    "reference lacks; the standard per-brand bestsellers query.",
    tags=("ads", "window-function", "topn"),
)
def ads_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(disc_price_sum().alias("order_amount"))
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("order_amount"), F.asc("p_partkey")
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "order_amount", "rnk")
    )


@register(
    "dws_sales_rollup",
    oracle=f"""
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(CASE WHEN r_name IS NULL THEN NULL ELSE n_name END, 'ALL')
             AS nation_name,
           {duck_money_sum("o_totalprice")} AS order_amount,
           count(*) AS order_ct
    FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="ROLLUP hierarchy totals (region -> nation -> grand total) — "
    "grouping-set surface the reference lacks; Catalyst Expand-based.",
    tags=("dws", "rollup", "agg"),
)
def dws_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            money_sum("o_totalprice").alias("order_amount"),
            F.count(F.lit(1)).alias("order_ct"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region_name"),
            F.coalesce(
                F.when(F.col("r_name").isNull(), F.lit(None)).otherwise(
                    F.col("n_name")
                ),
                F.lit("ALL"),
            ).alias("nation_name"),
            "order_amount",
            "order_ct",
        )
    )


@register(
    "ads_order_quantiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 6) AS p99,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Exact interpolated percentiles per group (Spark `percentile` == "
    "DuckDB quantile_cont, both linear interpolation — verified "
    "bit-identical; round(6) guards edge interpolation). The 100 TB "
    "path swaps in percentile_approx (t-digest sketch, mergeable, "
    "single pass) — exact percentile needs a per-group sort and is the "
    "ground truth the sketch is measured against.",
    tags=("ads", "agg", "quantile"),
)
def ads_order_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(o_totalprice, 0.99)"), 6).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "dws_sales_cube",
    oracle=f"""
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(n_name, 'ALL') AS nation_name,
           grouping(r_name) AS g_region,
           grouping(n_name) AS g_nation,
           {duck_money_sum("o_totalprice")} AS order_amount,
           count(*) AS order_ct
    FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN nation   ON c_nationkey = n_nationkey
                JOIN region   ON n_regionkey = r_regionkey
    GROUP BY CUBE (r_name, n_name)
    """,
    doc="CUBE over (region, nation): all four grouping sets incl. the "
    "nation-only marginals ROLLUP lacks; GROUPING() flags disambiguate "
    "aggregated-away NULLs. Catalyst Expand-based like rollup — "
    "grouping-set surface beyond the reference.",
    tags=("dws", "cube", "agg"),
)
def dws_sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.cube("r_name", "n_name")
        .agg(
            F.grouping("r_name").cast("bigint").alias("g_region"),
            F.grouping("n_name").cast("bigint").alias("g_nation"),
            money_sum("o_totalprice").alias("order_amount"),
            F.count(F.lit(1)).alias("order_ct"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region_name"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation_name"),
            "g_region",
            "g_nation",
            "order_amount",
            "order_ct",
        )
    )
