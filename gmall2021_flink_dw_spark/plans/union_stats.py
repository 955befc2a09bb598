"""Multi-source union into a common measure schema (SURVEY U1/P5/P6/P7).

The richest structural pattern of the reference: ProductStatsApp
projects SEVEN differently-shaped DWD/DWM streams (click, display,
favor, cart, order, payment, refund, comment) onto one wide measure
schema with constant-1 / conditional measures, unions them, then
window-aggregates per sku (``ProductStatsApp.java:60-192``).
VisitorStatsApp does the same with three streams (``:46-95``).

Spark form: per-source `select` with `lit`/`when` measure columns +
`unionByName` + one hash aggregate. Catalyst pushes the projections into
each scan and the union is a zero-cost plan node (no shuffle until the
final groupBy).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.functions.money import duck_money, money
from gmall2021_flink_dw_spark.registry import register
from gmall2021_flink_dw_spark.sources.batch import load_table


@register(
    "dws_event_measures",
    oracle=f"""
    WITH unioned AS (
      SELECT user_id,
             CASE WHEN event_type='view' THEN 1 ELSE 0 END AS view_ct,
             CASE WHEN event_type='click' THEN 1 ELSE 0 END AS click_ct,
             CASE WHEN event_type='signup' THEN 1 ELSE 0 END AS signup_ct,
             CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS purchase_ct,
             CASE WHEN event_type='error' THEN 1 ELSE 0 END AS error_ct,
             CASE WHEN event_type='purchase'
                  THEN {duck_money("value")} ELSE {duck_money("0")}
             END AS purchase_amount,
             CASE WHEN event_type='purchase' AND value >= 100 THEN 1 ELSE 0 END
               AS big_purchase_ct
      FROM events
    )
    SELECT user_id,
           cast(sum(view_ct) as bigint) AS view_ct,
           cast(sum(click_ct) as bigint) AS click_ct,
           cast(sum(signup_ct) as bigint) AS signup_ct,
           cast(sum(purchase_ct) as bigint) AS purchase_ct,
           cast(sum(error_ct) as bigint) AS error_ct,
           cast(sum(purchase_amount) as double) AS purchase_amount,
           cast(sum(big_purchase_ct) as bigint) AS big_purchase_ct
    FROM unioned GROUP BY user_id
    """,
    doc="U1/P5/P6 ProductStats union pattern (ProductStatsApp.java:60-192): "
    "5 per-source projections onto one measure schema (constant-1 and "
    "conditional measures incl. the appraise=1201-style predicate measure "
    "-> big_purchase_ct), unionByName, single hash aggregate per key.",
    tags=("dws", "union", "agg"),
)
def dws_event_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    zero_money = money(F.lit(0))

    def proj(etype: str, **measures):
        base = {
            "view_ct": F.lit(0),
            "click_ct": F.lit(0),
            "signup_ct": F.lit(0),
            "purchase_ct": F.lit(0),
            "error_ct": F.lit(0),
            "purchase_amount": zero_money,
            "big_purchase_ct": F.lit(0),
        }
        base.update(measures)
        return ev.filter(F.col("event_type") == etype).select(
            "user_id", *[v.alias(k) for k, v in base.items()]
        )

    streams = [
        proj("view", view_ct=F.lit(1)),
        proj("click", click_ct=F.lit(1)),
        proj("signup", signup_ct=F.lit(1)),
        proj(
            "purchase",
            purchase_ct=F.lit(1),
            purchase_amount=money("value"),
            big_purchase_ct=F.when(F.col("value") >= 100, 1).otherwise(0),
        ),
        proj("error", error_ct=F.lit(1)),
    ]
    unioned = reduce(DataFrame.unionByName, streams)
    return unioned.groupBy("user_id").agg(
        F.sum("view_ct").alias("view_ct"),
        F.sum("click_ct").alias("click_ct"),
        F.sum("signup_ct").alias("signup_ct"),
        F.sum("purchase_ct").alias("purchase_ct"),
        F.sum("error_ct").alias("error_ct"),
        F.sum("purchase_amount").cast("double").alias("purchase_amount"),
        F.sum("big_purchase_ct").alias("big_purchase_ct"),
    )
