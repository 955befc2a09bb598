"""Streaming sources (SURVEY §2.1 S1/S2/S8).

The reference's source is Kafka (``MyKafkaUtil.java:40-53``). A
deployment reads it with Spark's stock ``format("kafka")`` source and
applies ``decode_kafka_records`` + ``from_json`` with a pinned schema,
as the SQL apps pin their DDL sources. Without a broker, the source is
a file stream over the parquet tables (S1-analog: replayable,
ordered) with the same schema as the batch loader, so every operator
runs unchanged on either. S8 (``fromElements``,
UserJumpDetailApp.java:52-60) maps to ``spark.createDataFrame``
micro-tables in the tests.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from gmall2021_flink_dw_spark.sources.batch import (
    _ensure_session_confs,
    normalize_ts,
    table_path,
    table_schema,
)


def _as_stream_dir(sf_dir: str, name: str) -> str:
    """The file-stream source needs a DIRECTORY; expose the single table
    file through a symlink in a stable temp dir (testdata is read-only).
    The dir is keyed by the sf dir's basename only, so a link left by
    another sf dir of that name is replaced, never reused."""
    d = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_streams",
        os.path.basename(os.path.normpath(sf_dir)),
        name,
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{name}.parquet")
    src = table_path(sf_dir, name)
    if os.path.lexists(link) and os.readlink(link) != src:
        os.remove(link)
    if not os.path.lexists(link):
        os.symlink(src, link)
    return d


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-stream the given table with the batch loader's schema and
    ``ts`` normalization (``sources.batch``: one footer read on the
    driver for a single-file table, no Spark job). Name and type parity
    with the batch loader is pinned by tests/test_streaming.py."""
    _ensure_session_confs(spark)
    schema = table_schema(spark, table_path(sf_dir, name))
    stream = spark.readStream.schema(schema).parquet(_as_stream_dir(sf_dir, name))
    return normalize_ts(stream, schema)


# The EXACT record schema Spark's Kafka source produces (field names,
# types, and order) — the wire-format twin (plans/log_pipeline.py::
# kafka_wire_events) synthesizes frames with this schema so the consume
# plan downstream of a real broker is exercised bit-for-bit without one.
KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("timestampType", T.IntegerType(), True),
    ]
)


def decode_kafka_records(records: DataFrame) -> DataFrame:
    """Consume-side projection over Kafka-source-schema records
    (MyKafkaUtil.java:40-53's SimpleStringSchema step): value bytes ->
    string; broker metadata carried through for offset bookkeeping.
    A deployment applies it to Spark's stock ``format("kafka")`` source;
    kafka_wire_events applies it to the file twin, so the two plans are
    identical by construction."""
    return records.selectExpr(
        "CAST(value AS STRING) AS value",
        "timestamp AS kafka_ts",
        "partition AS kafka_partition",
        "offset AS kafka_offset",
    )
