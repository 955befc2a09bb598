"""Connector-config surface (VERDICT r07 "What's missing" #2).

The jars aren't in this image, so these tests pin (a) the exact option
dicts each store needs — the part that's pure data and CAN be verified
here — and (b) that every gated entry point fails with the informative
ConnectorUnavailable error naming the missing artifact, never a bare
ClassNotFound/AnalysisException surprise.
"""

from __future__ import annotations

import pytest

from gmall2021_flink_dw_spark.connectors import (
    ConnectorUnavailable,
    clickhouse_jdbc_options,
    kafka_sink_options,
    kafka_source_options,
    phoenix_jdbc_options,
    read_kafka_stream,
    redis_cache_contract,
    upsert_phoenix_dim,
    write_clickhouse,
)


def test_clickhouse_options_shape():
    o = clickhouse_jdbc_options(
        "jdbc:clickhouse://ch:8123/default", "visitor_stats_2021",
        user="etl", password="x", batch_size=50_000,
    )
    assert o["driver"] == "com.clickhouse.jdbc.ClickHouseDriver"
    assert o["batchsize"] == "50000"
    assert o["isolationLevel"] == "NONE"  # ClickHouse: no transactions
    assert o["dbtable"] == "visitor_stats_2021"


def test_phoenix_options_shape():
    o = phoenix_jdbc_options("zk1,zk2,zk3:2181", "DIM_USER_INFO")
    assert o["url"] == "jdbc:phoenix:zk1,zk2,zk3:2181"
    assert o["driver"] == "org.apache.phoenix.jdbc.PhoenixDriver"


def test_kafka_options_shape():
    src = kafka_source_options("k1:9092,k2:9092", "ods_base_log")
    assert src["subscribe"] == "ods_base_log"
    assert src["startingOffsets"] == "latest"  # MyKafkaUtil default
    assert src["failOnDataLoss"] == "false"
    fixed = kafka_sink_options("k1:9092", "dwd_page_log")
    assert fixed["topic"] == "dwd_page_log"
    dynamic = kafka_sink_options("k1:9092")  # K2 dynamic-topic form
    assert "topic" not in dynamic


def test_redis_contract_matches_reference():
    c = redis_cache_contract()
    assert c["key_pattern"] == "dim:{table}:{id}"
    assert c["ttl_seconds"] == str(24 * 3600)
    assert c["invalidation"] == "delete-on-upsert"


def test_gated_calls_raise_informative(spark):
    df = spark.range(1).selectExpr("id", "cast(id as string) AS value")
    with pytest.raises(ConnectorUnavailable, match="clickhouse-jdbc"):
        write_clickhouse(df, "jdbc:clickhouse://ch:8123/d", "t")
    with pytest.raises(ConnectorUnavailable, match="phoenix-client"):
        upsert_phoenix_dim(df, "zk:2181", "DIM_X")
    with pytest.raises(ConnectorUnavailable, match="spark-sql-kafka"):
        read_kafka_stream(spark, "k1:9092", "ods_base_log")


def test_kafka_reader_misuse_is_not_reported_as_missing_jar(spark):
    """Only the missing-source AnalysisException means the Kafka package
    is absent; a caller's bad keyword must surface as itself."""
    with pytest.raises(TypeError):
        read_kafka_stream(spark, "k1:9092", "t", bogus=1)
