"""Streaming sink builders (SURVEY §2.2 K1-K5).

Kafka builders are the production path (no broker in the test image —
construction is unit-testable, start() is not):
- K1 simple value sink (MyKafkaUtil.java:23-25);
- K2 per-record dynamic topic: the reference's serialization schema
  reads the target topic off each record (MyKafkaUtil.java:27-35,
  BaseDBApp.java:107-113) — the Kafka v2 sink does the same with a
  `topic` column; exactly-once == checkpoint + Kafka transactional
  producer (W9).
K3 (batched JDBC -> ClickHouse) maps to the partitioned parquet/Delta
appender in pipelines.write_dws_parquet; K4 (dim upsert) to the
foreachBatch router + upsert_snapshot; K5 print -> console format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from gmall2021_flink_dw_spark.connectors import kafka_sink_options


def kafka_value_sink(
    df: DataFrame, topic: str, brokers: str, checkpoint_dir: str
) -> DataStreamWriter:
    """K1: all rows to one topic, value = JSON of the row."""
    payload = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    return (
        payload.writeStream.format("kafka")
        .options(**kafka_sink_options(brokers, topic))
        .option("checkpointLocation", checkpoint_dir)
    )


def kafka_dynamic_topic_sink(
    df: DataFrame, topic_col: str, brokers: str, checkpoint_dir: str
) -> DataStreamWriter:
    """K2: per-record topic from `topic_col` (routing fan-out without
    N writers — the sink reads the topic column per row)."""
    payload = df.select(
        F.col(topic_col).alias("topic"),
        F.to_json(F.struct(*[c for c in df.columns if c != topic_col])).alias(
            "value"
        ),
    )
    return (
        payload.writeStream.format("kafka")
        .options(**kafka_sink_options(brokers))
        .option("checkpointLocation", checkpoint_dir)
    )


def console_sink(df: DataFrame) -> DataStreamWriter:
    """K5: the reference's .print() debug sink."""
    return df.writeStream.format("console").option("truncate", "false")
