"""CDC changelog source (SURVEY §2.1 S3/S4).

The reference captures MySQL binlog via Flink-CDC/Debezium and
deserializes each SourceRecord into a JSON envelope
``{database, tableName, before, after, type}`` with Debezium's `create`
renamed to `insert` (``CustomerDeserialization.java:28-81``). In
production Spark this is a Kafka+Debezium topic read (or Delta CDF); for
tests the envelope is synthesized deterministically from the `orders`
table so a DuckDB oracle can reproduce it:

- every order produces an `insert` at its orderdate;
- orderkey % 10 in (1,2)  -> also an `update`  (+1 day, status 'U');
- orderkey % 10 == 0      -> also a `delete`   (+2 days).

The envelope keeps `before`/`after` flattened to typed columns
(before_*/after_* — Debezium envelopes carry both images, and the
retraction aggregate cdc_incremental_agg needs the before image) rather
than a string map — idiomatic Spark (from_json with a pinned StructType
at the edge, SURVEY §1.2) and oracle-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.functions.money import duck_money, money
from gmall2021_flink_dw_spark.sources.batch import load_table

# Shared derivation constants (mirrored in the oracle SQL).
UPDATE_MODS = (1, 2)
DELETE_MOD = 0


def orders_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic changelog of the `order_info`-analog table."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.lit("gmall").alias("database"),
        F.lit("order_info").alias("table_name"),
        F.lit("insert").alias("op"),
        F.col("o_orderkey").alias("id"),
        F.lit(None).cast("string").alias("before_status"),
        money(F.lit(None)).alias("before_total"),
        F.col("o_orderstatus").alias("after_status"),
        money("o_totalprice").alias("after_total"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("ts_us"),
    )
    upd = (
        o.filter((F.col("o_orderkey") % 10).isin(*UPDATE_MODS))
        .select(
            F.lit("gmall").alias("database"),
            F.lit("order_info").alias("table_name"),
            F.lit("update").alias("op"),
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("before_status"),
            money("o_totalprice").alias("before_total"),
            F.lit("U").alias("after_status"),
            money("o_totalprice").alias("after_total"),
            (
                F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                + 86400 * 1_000_000
            ).alias("ts_us"),
        )
    )
    dele = (
        o.filter(F.col("o_orderkey") % 10 == DELETE_MOD)
        .select(
            F.lit("gmall").alias("database"),
            F.lit("order_info").alias("table_name"),
            F.lit("delete").alias("op"),
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("before_status"),
            money("o_totalprice").alias("before_total"),
            F.lit(None).cast("string").alias("after_status"),
            money(F.lit(None)).alias("after_total"),
            (
                F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                + 2 * 86400 * 1_000_000
            ).alias("ts_us"),
        )
    )
    return base.unionByName(upd).unionByName(dele)


ORDERS_CHANGELOG_ORACLE = f"""
    SELECT 'gmall' AS database, 'order_info' AS table_name, 'insert' AS op,
           o_orderkey AS id,
           CAST(NULL AS VARCHAR) AS before_status,
           {duck_money("NULL")} AS before_total,
           o_orderstatus AS after_status,
           {duck_money("o_totalprice")} AS after_total,
           epoch_us(o_orderdate) AS ts_us
    FROM orders
    UNION ALL
    SELECT 'gmall', 'order_info', 'update', o_orderkey,
           o_orderstatus, {duck_money("o_totalprice")}, 'U',
           {duck_money("o_totalprice")},
           epoch_us(o_orderdate) + 86400000000
    FROM orders WHERE o_orderkey % 10 IN (1,2)
    UNION ALL
    SELECT 'gmall', 'order_info', 'delete', o_orderkey,
           o_orderstatus, {duck_money("o_totalprice")}, NULL, NULL,
           epoch_us(o_orderdate) + 172800000000
    FROM orders WHERE o_orderkey % 10 = 0
"""
