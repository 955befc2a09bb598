"""DWM wide-table queries: interval joins + dim enrichment (SURVEY §2.4).

- dwm_order_wide re-expresses OrderWideApp (J1 interval join of order x
  detail, J4 async-dim chain, J5 derived age, P8 derived date columns):
  orders x lineitem on orderkey within ±5 days, enriched customer ->
  nation -> region via broadcast joins.
- dwm_payment_wide re-expresses PaymentWideApp (J2, asymmetric bounds):
  purchase events join the same user's click events within
  [-15 min, +5 s] — payment follows the action that led to it.
- dwm_order_wide_missdrop exercises the reference's drop-on-missing-dim
  compat mode (DimUtil.java:27) vs the default left-join-nulls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.functions.money import (
    disc_price,
    duck_disc_price,
    duck_money,
    money,
)
from gmall2021_flink_dw_spark.operators.joins import enrich_dims, interval_join
from gmall2021_flink_dw_spark.registry import register
from gmall2021_flink_dw_spark.sources.batch import load_table


@register(
    "dwm_order_wide",
    oracle=f"""
    SELECT o.o_orderkey, l.l_linenumber, l.l_partkey,
           cast(l.l_quantity as bigint) AS quantity,
           cast({duck_disc_price()} as double) AS split_amount,
           strftime(o.o_orderdate, '%Y-%m-%d') AS create_date,
           cast(strftime(l.l_shipdate, '%H') as int) AS create_hour,
           o.o_orderstatus,
           c.c_name, c.c_mktsegment,
           n.n_name AS nation_name, r.r_name AS region_name,
           cast(floor(date_diff('day', o.o_orderdate, DATE '2002-01-01')/365.0) as bigint)
             AS order_age_years
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                   AND l.l_shipdate >= o.o_orderdate - INTERVAL 5 DAY
                   AND l.l_shipdate <= o.o_orderdate + INTERVAL 5 DAY
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
    """,
    doc="J1 interval join (OrderWideApp.java:77-85, ±5 bound) + J4 "
    "broadcast dim chain (replaces DimAsyncFunction per-row lookups) + "
    "P8 derived date/hour + J5 derived-age expression with a pinned "
    "reference date (reference uses wall-clock; pinned for determinism).",
    tags=("dwm", "join", "interval-join"),
)
def dwm_order_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").alias("o")
    li = load_table(spark, sf_dir, "lineitem").alias("l")
    cust = load_table(spark, sf_dir, "customer").alias("c")
    nation = load_table(spark, sf_dir, "nation").alias("n")
    region = load_table(spark, sf_dir, "region").alias("r")

    day = 86400
    joined = interval_join(
        orders,
        li,
        key=F.col("l.l_orderkey") == F.col("o.o_orderkey"),
        left_ts=F.col("o.o_orderdate"),
        right_ts=F.col("l.l_shipdate"),
        lower_s=-5 * day,
        upper_s=5 * day,
    )
    wide = enrich_dims(
        joined,
        [
            (cust, F.col("o.o_custkey") == F.col("c.c_custkey")),
            (nation, F.col("c.c_nationkey") == F.col("n.n_nationkey")),
            (region, F.col("n.n_regionkey") == F.col("r.r_regionkey")),
        ],
    )
    return wide.select(
        F.col("o.o_orderkey").alias("o_orderkey"),
        F.col("l.l_linenumber").alias("l_linenumber"),
        F.col("l.l_partkey").alias("l_partkey"),
        F.col("l.l_quantity").cast("bigint").alias("quantity"),
        disc_price().cast("double").alias("split_amount"),
        F.date_format("o.o_orderdate", "yyyy-MM-dd").alias("create_date"),
        F.date_format("l.l_shipdate", "HH").cast("int").alias("create_hour"),
        F.col("o.o_orderstatus").alias("o_orderstatus"),
        F.col("c.c_name").alias("c_name"),
        F.col("c.c_mktsegment").alias("c_mktsegment"),
        F.col("n.n_name").alias("nation_name"),
        F.col("r.r_name").alias("region_name"),
        F.floor(
            F.datediff(F.lit("2002-01-01").cast("date"), F.col("o.o_orderdate"))
            / 365.0
        )
        .cast("bigint")
        .alias("order_age_years"),
    )


@register(
    "dwm_order_wide_missdrop",
    oracle="""
    SELECT count(*) AS n_rows, count(DISTINCT o.o_orderkey) AS n_orders
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                   AND l.l_shipdate >= o.o_orderdate - INTERVAL 5 DAY
                   AND l.l_shipdate <= o.o_orderdate + INTERVAL 5 DAY
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    """,
    doc="Reference-compat drop-on-missing-dim mode (DimUtil.java:27 "
    "crashes the lookup thread; rows silently dropped): inner dim joins.",
    tags=("dwm", "join", "compat"),
)
def dwm_order_wide_missdrop(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").alias("o")
    li = load_table(spark, sf_dir, "lineitem").alias("l")
    cust = load_table(spark, sf_dir, "customer").alias("c")
    nation = load_table(spark, sf_dir, "nation").alias("n")
    region = load_table(spark, sf_dir, "region").alias("r")
    day = 86400
    joined = interval_join(
        orders,
        li,
        key=F.col("l.l_orderkey") == F.col("o.o_orderkey"),
        left_ts=F.col("o.o_orderdate"),
        right_ts=F.col("l.l_shipdate"),
        lower_s=-5 * day,
        upper_s=5 * day,
    )
    wide = enrich_dims(
        joined,
        [
            (cust, F.col("o.o_custkey") == F.col("c.c_custkey")),
            (nation, F.col("c.c_nationkey") == F.col("n.n_nationkey")),
            (region, F.col("n.n_regionkey") == F.col("r.r_regionkey")),
        ],
        drop_on_miss=True,
    )
    # two-phase distinct (no Expand): per-order pre-aggregate, then the
    # global row/order counts over the order groups
    pre = wide.groupBy(F.col("o.o_orderkey")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    return pre.groupBy().agg(
        F.sum("_n").alias("n_rows"), F.count(F.lit(1)).alias("n_orders")
    )


@register(
    "dwm_payment_wide",
    oracle=f"""
    SELECT p.event_id AS pay_event_id,
           c.event_id AS src_event_id,
           p.user_id,
           epoch_us(p.ts) AS pay_ts_us,
           epoch_us(c.ts) AS src_ts_us,
           cast({duck_money("p.value")} as double) AS pay_amount
    FROM events p
    JOIN events c ON p.user_id = c.user_id
                 AND c.event_type = 'click'
                 AND epoch_us(c.ts) >= epoch_us(p.ts) - 900*1000000
                 AND epoch_us(c.ts) <= epoch_us(p.ts) + 5*1000000
    WHERE p.event_type = 'purchase'
    """,
    doc="J2 asymmetric interval join (PaymentWideApp.java:78-86, bounds "
    "[-15 min, +5 s]): each purchase pairs with the same user's click "
    "events that preceded it by up to 15 min.",
    tags=("dwm", "join", "interval-join"),
)
def dwm_payment_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pay = ev.filter(F.col("event_type") == "purchase").alias("p")
    click = ev.filter(F.col("event_type") == "click").alias("c")
    joined = interval_join(
        pay,
        click,
        key=F.col("p.user_id") == F.col("c.user_id"),
        left_ts=F.col("p.ts"),
        right_ts=F.col("c.ts"),
        lower_s=-900,
        upper_s=5,
    )
    return joined.select(
        F.col("p.event_id").alias("pay_event_id"),
        F.col("c.event_id").alias("src_event_id"),
        F.col("p.user_id").alias("user_id"),
        F.unix_micros(F.col("p.ts").cast("timestamp")).alias("pay_ts_us"),
        F.unix_micros(F.col("c.ts").cast("timestamp")).alias("src_ts_us"),
        money("p.value").cast("double").alias("pay_amount"),
    )
