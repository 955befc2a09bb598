"""ADS serving-layer queries (SURVEY §2.5 A6-A7, §2.7, §3.3).

The reference serves these from ClickHouse via MyBatis-annotated SQL
(ProductStatsMapper.java:15-38, SugarController defaults limit=10/4/20):
GMV grand total and group-by + SUM + HAVING + ORDER BY DESC + LIMIT
top-N. Here they are plain spark.sql over registered views — Catalyst
plans TakeOrderedAndProject for the top-N (no full sort).

Top-N ties are broken by the group key so the LIMIT is a total order
(the reference's bare ORDER BY amount is nondeterministic on ties).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall2021_flink_dw_spark.functions.money import (
    duck_disc_price,
    duck_disc_price_sum,
    duck_money_sum,
)
from gmall2021_flink_dw_spark.registry import register
from gmall2021_flink_dw_spark.sources.batch import load_table


def _sql(spark: SparkSession, sf_dir: str, tables: list[str], sql: str) -> DataFrame:
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(sql)


_GMV_SQL = f"""
SELECT strftime(o_orderdate, '%Y-%m-%d') AS dt,
       {duck_money_sum("o_totalprice")} AS gmv,
       count(*) AS order_ct
FROM orders
WHERE o_orderdate >= timestamp '1997-03-01' AND o_orderdate < timestamp '1997-04-01'
GROUP BY 1
"""


@register(
    "ads_gmv_by_day",
    oracle=_GMV_SQL,
    doc="A6 GMV grand total (ProductStatsMapper.java:15-17: sum(order_"
    "amount) where toYYYYMMDD(stt)=#{date}) — per-day GMV over one month.",
    tags=("ads", "agg", "sql"),
)
def ads_gmv_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark's date_format uses JVM patterns; keep SQL otherwise verbatim.
    sql = _GMV_SQL.replace("strftime(o_orderdate, '%Y-%m-%d')", "date_format(o_orderdate, 'yyyy-MM-dd')")
    return _sql(spark, sf_dir, ["orders"], sql)


_TOP_BRANDS_SQL = f"""
SELECT p_brand,
       {duck_disc_price_sum()} AS order_amount
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
HAVING sum({duck_disc_price()}) > 0
ORDER BY order_amount DESC, p_brand
LIMIT 10
"""


@register(
    "ads_top_brands",
    oracle=_TOP_BRANDS_SQL,
    doc="A7 trademark top-N (ProductStatsMapper.java:34-38): GROUP BY + "
    "SUM + HAVING>0 + ORDER BY DESC + LIMIT 10 (SugarController default).",
    tags=("ads", "agg", "topn", "sql"),
)
def ads_top_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, ["lineitem", "part"], _TOP_BRANDS_SQL)


_TOP_TYPES_SQL = f"""
SELECT p_type,
       {duck_disc_price_sum()} AS order_amount,
       count(DISTINCT l_orderkey) AS order_ct
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type
HAVING sum({duck_disc_price()}) > 0
ORDER BY order_amount DESC, p_type
LIMIT 4
"""


@register(
    "ads_top_types",
    oracle=_TOP_TYPES_SQL,
    doc="A7 category3 top-N analog (limit 4 = SugarController.java:118 "
    "default); p_type stands in for category.",
    tags=("ads", "agg", "topn", "sql"),
)
def ads_top_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, ["lineitem", "part"], _TOP_TYPES_SQL)


_TOP_PARTS_SQL = f"""
SELECT p_partkey, p_name,
       {duck_disc_price_sum()} AS order_amount
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_partkey, p_name
HAVING sum({duck_disc_price()}) > 0
ORDER BY order_amount DESC, p_partkey
LIMIT 20
"""


@register(
    "ads_top_parts",
    oracle=_TOP_PARTS_SQL,
    doc="A7 spu top-N analog (limit 20 = SugarController.java:159 default).",
    tags=("ads", "agg", "topn", "sql"),
)
def ads_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, ["lineitem", "part"], _TOP_PARTS_SQL)
