"""Connector configuration surface for the real external systems.

The reference pipeline talks to four external stores: Kafka
(MyKafkaUtil.java:23-53), ClickHouse over JDBC
(ClickHouseUtil.java:36-74), Phoenix/HBase dim upserts
(DimSinkFunction.java:40-71), and Redis as a dim cache
(RedisUtil.java:11-32). This repo's registered queries implement their
SEMANTICS against parquet twins (oracle-checked: K3/K4/S6 rows in
SURVEY §2), because this image ships no broker, no JDBC drivers, and no
spark-sql-kafka package — but a user with those systems needs the
actual Spark connector wiring, not just semantics.

This module is that wiring: exact option dicts and writer/reader
builders for each store, with every environment-bound entry point gated
behind an informative ConnectorUnavailable error naming the missing
artifact and where to get it. The option dicts themselves are plain
data and fully unit-tested in-image (tests/test_connectors.py); the
gated calls are exercised up to the gate. Nothing here invents
endpoints: every knob mirrors a documented Spark/connector option.

At 100 TB these writers are where back-pressure lives; the batch-size
defaults follow the connector docs' bulk-insert guidance (ClickHouse
wants few large inserts; Phoenix commits per-batch; Kafka batches via
the producer's own linger/batch settings).
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

CLICKHOUSE_DRIVER = "com.clickhouse.jdbc.ClickHouseDriver"
PHOENIX_DRIVER = "org.apache.phoenix.jdbc.PhoenixDriver"
KAFKA_PACKAGE = "org.apache.spark:spark-sql-kafka-0-10_2.13"


class ConnectorUnavailable(RuntimeError):
    """The connector's jar/package is not on the Spark classpath."""


def _jvm_class_present(spark: SparkSession, cls: str) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(cls)  # noqa: SLF001
        return True
    except Py4JJavaError:  # ClassNotFoundException
        return False


# ------------------------------------------------------ ClickHouse JDBC


def clickhouse_jdbc_options(
    url: str,
    table: str,
    *,
    user: str = "default",
    password: str = "",
    batch_size: int = 100_000,
    socket_timeout_ms: int = 300_000,
) -> dict[str, str]:
    """Options for ``df.write.format("jdbc")`` against ClickHouse.

    Mirrors ClickHouseUtil.java:36-74 (the reference batches inserts
    through a JDBC PreparedStatement). batchsize defaults high:
    ClickHouse's MergeTree wants few LARGE inserts — per-row inserts
    are its canonical anti-pattern. numPartitions is left to the
    caller: each partition opens one connection, so cap it at what the
    server's max_connections tolerates."""
    return {
        "url": url,
        "dbtable": table,
        "driver": CLICKHOUSE_DRIVER,
        "user": user,
        "password": password,
        "batchsize": str(batch_size),
        "isolationLevel": "NONE",  # ClickHouse has no transactions
        "socket_timeout": str(socket_timeout_ms),
    }


def write_clickhouse(
    df: DataFrame, url: str, table: str, *, mode: str = "append", **kw
) -> None:
    """JDBC batch append to ClickHouse (the K3 sink's real form)."""
    spark = df.sparkSession
    if not _jvm_class_present(spark, CLICKHOUSE_DRIVER):
        raise ConnectorUnavailable(
            f"ClickHouse JDBC driver ({CLICKHOUSE_DRIVER}) is not on the "
            "classpath — add e.g. com.clickhouse:clickhouse-jdbc:0.6.x "
            "via spark.jars.packages. The oracle-checked parquet twin of "
            "this sink is streaming_dws_sink (K3)."
        )
    df.write.format("jdbc").options(
        **clickhouse_jdbc_options(url, table, **kw)
    ).mode(mode).save()


# ---------------------------------------------------- Phoenix dim store


def phoenix_jdbc_options(zk_quorum: str, table: str) -> dict[str, str]:
    """Options for Phoenix-over-JDBC (DimSinkFunction.java:40-71 uses
    UPSERT VALUES through a Phoenix connection; Spark's JDBC writer
    maps INSERT to Phoenix UPSERT via the driver)."""
    return {
        "url": f"jdbc:phoenix:{zk_quorum}",
        "dbtable": table,
        "driver": PHOENIX_DRIVER,
        # Phoenix auto-commits per executeBatch; keep batches modest so
        # a region-server hiccup doesn't replay megarows.
        "batchsize": "1000",
    }


def upsert_phoenix_dim(df: DataFrame, zk_quorum: str, table: str) -> None:
    """Dim upsert (K4). Phoenix treats INSERT as UPSERT on the primary
    key, which is exactly the reference's semantics; the in-repo
    oracle-checked twin is cdc_dim_snapshot (operators/routing.py)."""
    spark = df.sparkSession
    if not _jvm_class_present(spark, PHOENIX_DRIVER):
        raise ConnectorUnavailable(
            f"Phoenix JDBC driver ({PHOENIX_DRIVER}) is not on the "
            "classpath — add phoenix-client-hbase jar matching your "
            "HBase. The oracle-checked parquet twin of this sink is "
            "cdc_dim_snapshot (K4)."
        )
    df.write.format("jdbc").options(
        **phoenix_jdbc_options(zk_quorum, table)
    ).mode("append").save()


# --------------------------------------------------------- Redis cache


def redis_cache_contract() -> dict[str, str]:
    """The reference's Redis usage (RedisUtil.java:11-32 +
    DimUtil.java) is a cache-aside LOOKUP cache keyed
    ``dim:{table}:{id}`` with 24 h expiry and delete-on-update. Spark
    has no Redis connector in-box; this repo implements the same
    semantics engine-side as broadcast re-load + upsert invalidation
    (S6/K4, operators/routing.py:65 — the 100 TB-appropriate form:
    a dim table small enough for Redis is small enough to broadcast).
    A user who still wants literal Redis should do it inside
    foreachBatch with a plain client; these are the contract values
    to reproduce."""
    return {
        "key_pattern": "dim:{table}:{id}",
        "value_format": "json",
        "ttl_seconds": str(24 * 3600),
        "invalidation": "delete-on-upsert",
    }


# -------------------------------------------------------------- Kafka


def kafka_source_options(
    bootstrap: str,
    topic: str,
    *,
    starting_offsets: str = "latest",
    group_id_prefix: str = "gmall_spark",
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """readStream options matching MyKafkaUtil.java:23-43 (consumer
    with group id, latest offsets). failOnDataLoss=False mirrors the
    reference's tolerance of compacted/expired offsets on restart."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "groupIdPrefix": group_id_prefix,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }


def kafka_sink_options(bootstrap: str, topic: str | None = None) -> dict[str, str]:
    """writeStream options matching MyKafkaUtil.java:45-53. topic=None
    is the dynamic-topic form (K2): the DataFrame must carry a 'topic'
    column, which Spark's Kafka sink honors row by row."""
    opts = {"kafka.bootstrap.servers": bootstrap}
    if topic is not None:
        opts["topic"] = topic
    return opts


def read_kafka_stream(
    spark: SparkSession, bootstrap: str, topic: str, **kw
) -> DataFrame:
    """S1 in its real form. In-image this raises (no
    spark-sql-kafka package ships here — KAFKA.md documents exactly
    what the wire-twin covers instead); on a real cluster add the
    package and this returns the standard key/value/topic/partition/
    offset/timestamp stream."""
    try:
        return (
            spark.readStream.format("kafka")
            .options(**kafka_source_options(bootstrap, topic, **kw))
            .load()
        )
    except AnalysisException as e:  # failed to find data source: kafka
        raise ConnectorUnavailable(
            f"Spark Kafka source unavailable ({e.__class__.__name__}) — "
            f"add {KAFKA_PACKAGE}:<spark-version> via "
            "spark.jars.packages. In-image coverage of the Kafka path "
            "is the wire-twin (kafka_wire_events) + KAFKA.md."
        ) from e
