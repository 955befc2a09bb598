"""DWD/DWM log pipeline queries over the `events` table.

The driver's `events` table (event_id, ts, user_id, event_type, value,
props) plays the role of the reference's ODS app-log topic; these queries
re-express BaseLogApp / UniqueVisitApp / UserJumpDetailApp (SURVEY §2.3
P1/P3/P11, §2.10 W4/W7) as DataFrame plans with DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.functions.money import (
    duck_money,
    duck_money_sum,
    money,
    money_sum,
)
from gmall2021_flink_dw_spark.functions.windows import duck_jumps_cte, duck_sessions_ctes
from gmall2021_flink_dw_spark.operators.cep import detect_jumps, mark_sessions
from gmall2021_flink_dw_spark.operators.dedup import (
    correct_new_user_flag,
    first_visit_per_day,
)
from gmall2021_flink_dw_spark.operators.split import (
    PROPS_SCHEMA,
    parse_props,
    split_by_type,
)
from gmall2021_flink_dw_spark.registry import register
from gmall2021_flink_dw_spark.sources.batch import load_table
from gmall2021_flink_dw_spark.streaming.stateful import JUMP_TIMEOUT_S, SESSION_GAP_S


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@register(
    "dwd_clean_events",
    oracle=f"""
    SELECT event_id, user_id, event_type,
           epoch_us(ts) AS ts_us,
           cast(json_extract_string(props, '$.k') as bigint) AS props_k,
           cast({duck_money("value")} as double) AS value
    FROM events
    WHERE event_type <> 'error'
      AND json_extract_string(props, '$.k') IS NOT NULL
    """,
    doc="P1 dirty-split + P3 route: parse the JSON props payload "
    "(BaseLogApp.java:37-48 as one vectorized from_json), drop the error "
    "side stream, emit the typed clean DWD projection.",
    tags=("dwd", "parse", "split"),
)
def dwd_clean_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = parse_props(_events(spark, sf_dir))
    clean = parsed.filter(
        (F.col("event_type") != "error") & F.col("props_k").isNotNull()
    )
    return clean.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "props_k",
        money("value").cast("double").alias("value"),
    )


@register(
    "kafka_wire_events",
    oracle=f"""
    WITH wire AS (
      SELECT *, cast(user_id % 8 AS int) AS kafka_partition FROM events
    ), off AS (
      SELECT *, row_number() OVER (PARTITION BY kafka_partition
                                   ORDER BY event_id) - 1 AS kafka_offset
      FROM wire
    )
    SELECT event_id, user_id, event_type,
           epoch_us(ts) AS ts_us,
           cast(json_extract_string(props, '$.k') as bigint) AS props_k,
           cast({duck_money("value")} as double) AS value,
           kafka_partition, kafka_offset
    FROM off
    WHERE event_type <> 'error'
      AND json_extract_string(props, '$.k') IS NOT NULL
    """,
    doc="S1/K1 wire-format twin (MyKafkaUtil.java:23-53), offline-"
    "closable: events are SERIALIZED into frames with the exact Kafka "
    "source schema (binary key/value, topic, partition, offset, "
    "timestamp, timestampType — streaming/sources.py::KAFKA_WIRE_SCHEMA) "
    "— JSON payload in value, keyed by user, murmur-free deterministic "
    "partitioner (user_id % 8) so the oracle can reproduce it — then "
    "CONSUMED through decode_kafka_records, the projection a deployment "
    "applies to Spark's format('kafka') source (plan-identical by "
    "construction) + from_json "
    "with pinned schema + the dwd_clean_events P1 dirty-split. The "
    "oracle recomputes the clean projection from the raw table, so a "
    "green row proves the serialize->decode->parse round trip is "
    "lossless including broker metadata (partition, per-partition "
    "monotonic offset). Offset synthesis is the PRODUCER-side test "
    "fixture standing in for the broker (which assigns offsets for "
    "free); r08 replanned it two-level — rank within (partition, "
    "id-span sub-bucket) + broadcast per-bucket base offsets — so sort "
    "parallelism is 8*1024-way instead of capped at the 8 kafka "
    "partitions (measured 10x slope 4.7x -> 1.6x, VERDICT r07 item 2); "
    "the consume plan itself is shuffle-free until the DWD filters.",
    tags=("kafka", "source", "wire-format", "dwd"),
)
def kafka_wire_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from gmall2021_flink_dw_spark.streaming.sources import (
        KAFKA_WIRE_SCHEMA,
        decode_kafka_records,
    )

    ev = _events(spark, sf_dir)
    # --- producer side: build frames with the exact Kafka source schema
    payload = F.to_json(
        F.struct(
            F.col("event_id"),
            F.col("user_id"),
            F.col("event_type"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.col("value"),
            F.col("props"),
        )
    )
    part = F.pmod(F.col("user_id"), F.lit(8)).cast("int")
    # --- broker-offset synthesis, TWO-LEVEL (VERDICT r07 item 2): the
    # r07 form was one row_number window over the 8 kafka partitions —
    # a sort whose parallelism is capped at 8 tasks no matter how many
    # executors exist (measured 4.7x solo for 10x data, the band edge).
    # Instead: split each kafka partition into B sub-buckets that are
    # MONOTONIC in the offset order (event_id), rank within
    # (partition, bucket) — 8*B-way parallel, per-task sorts B-times
    # smaller — and add per-bucket base offsets from a tiny
    # (8*B)-row cumulative count table joined back by broadcast.
    # global rank == base + local rank exactly because buckets are
    # monotonic in event_id. A real broker assigns offsets for free;
    # this producer-side fixture is the part that must not cap scale.
    # Fixed B sub-buckets per kafka partition (measured better than a
    # span-adaptive B at every tested scale — more, smaller sorts win).
    # 8*B base rows stay trivially broadcastable; division-first width
    # arithmetic cannot overflow for any id range.
    _B = 1024
    bounds = ev.agg(
        F.min("event_id").alias("_lo"), F.max("event_id").alias("_hi")
    ).select(
        "_lo",
        F.expr(f"(_hi - _lo + 1) div {_B} + 1").alias("_width"),
    )
    evb = (
        ev.withColumn("_part", part)
        .crossJoin(F.broadcast(bounds))
        .withColumn("_bucket", F.expr("(event_id - _lo) div _width"))
    )
    cum_w = (
        Window.partitionBy("_part")
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = (
        evb.groupBy("_part", "_bucket")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            "_part",
            "_bucket",
            F.coalesce(F.sum("_c").over(cum_w), F.lit(0)).alias("_base"),
        )
    )
    rn_w = Window.partitionBy("_part", "_bucket").orderBy("event_id")
    offs = evb.join(F.broadcast(bases), ["_part", "_bucket"]).withColumn(
        "_offset",
        (F.col("_base") + F.row_number().over(rn_w) - F.lit(1)).cast("long"),
    )
    wire = offs.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        payload.cast("binary").alias("value"),
        F.lit("ods_base_log").alias("topic"),
        F.col("_part").alias("partition"),
        F.col("_offset").alias("offset"),
        F.col("ts").cast("timestamp").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    # hard parity guard (names + types; literal columns are narrower on
    # nullability than the broker's, which is fine)
    got = [(f.name, f.dataType) for f in wire.schema.fields]
    want = [(f.name, f.dataType) for f in KAFKA_WIRE_SCHEMA.fields]
    if got != want:
        raise ValueError(f"wire schema drift: {wire.schema}")
    # --- consume side: the projection a broker-fed stream uses, then the
    # pinned-schema from_json (S2) and the P1 clean split
    event_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    decoded = decode_kafka_records(wire)
    parsed = decoded.select(
        F.from_json(F.col("value"), event_schema).alias("j"),
        "kafka_partition",
        "kafka_offset",
    ).select("j.*", "kafka_partition", "kafka_offset")
    clean = parsed.withColumn(
        "props_k",
        F.from_json(F.col("props"), PROPS_SCHEMA).getField("k"),
    ).filter(
        (F.col("event_type") != "error") & F.col("props_k").isNotNull()
    )
    return clean.select(
        "event_id",
        "user_id",
        "event_type",
        "ts_us",
        "props_k",
        money("value").cast("double").alias("value"),
        "kafka_partition",
        "kafka_offset",
    )


@register(
    "dwd_event_split_counts",
    oracle="""
    SELECT CASE WHEN event_type = 'signup' THEN 'start'
                WHEN event_type IN ('view','click','purchase') THEN 'page'
                ELSE 'error' END AS stream,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1
    """,
    doc="P3 side-output fan-out (BaseLogApp.java:84-121): one source scan "
    "split into start/page/error streams by filter; per-stream cardinality.",
    tags=("dwd", "split"),
)
def dwd_event_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    streams = split_by_type(_events(spark, sf_dir))
    # two-phase distinct (no Expand): per-user pre-aggregate, then the
    # global count/sum over the user groups
    parts = [
        df.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy()
        .agg(F.sum("_n").alias("n"), F.count(F.lit(1)).alias("n_users"))
        .select(F.lit(name).alias("stream"), "n", "n_users")
        for name, df in streams.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "dwm_unique_visit",
    oracle="""
    SELECT user_id, strftime(dt, '%Y-%m-%d') AS dt, event_id, epoch_us(ts) AS ts_us, event_type
    FROM (
      SELECT user_id, date_trunc('day', ts) AS dt, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="W4 daily unique-visit dedup (UniqueVisitApp.java:43-78): per-key "
    "first event per day; ValueState+TTL becomes one row_number window.",
    tags=("dwm", "dedup", "stateful"),
)
def dwm_unique_visit(spark: SparkSession, sf_dir: str) -> DataFrame:
    uv = first_visit_per_day(_events(spark, sf_dir))
    return uv.select(
        "user_id",
        F.date_format("dt", "yyyy-MM-dd").alias("dt"),
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
    )


@register(
    "dwd_new_user_flag",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
                THEN '1' ELSE '0' END AS is_new
    FROM events
    """,
    doc="P11 new/old-user correction (BaseLogApp.java:52-77): per-key "
    "ValueState rewrite becomes a row_number-over-key expression.",
    tags=("dwd", "stateful"),
)
def dwd_new_user_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    flagged = correct_new_user_flag(_events(spark, sf_dir))
    return flagged.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "is_new",
    )


@register(
    "dwm_user_jump",
    oracle=f"""
    WITH {duck_jumps_cte(SESSION_GAP_S, JUMP_TIMEOUT_S)}
    SELECT user_id, event_id, ts_us FROM jumps
    """,
    doc="W7 CEP bounce detection (UserJumpDetailApp.java:77-134): strict-"
    "contiguity NFA + 10s timeout re-expressed as lag/lead over the key; "
    "entry = no predecessor within 30min, jump = no successor within 10min.",
    tags=("dwm", "cep", "stateful"),
)
def dwm_user_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    jumps = detect_jumps(_events(spark, sf_dir))
    return jumps.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


@register(
    "dwm_session_stats",
    oracle=f"""
    WITH {duck_sessions_ctes(SESSION_GAP_S)}
    SELECT user_id, cast(sid as bigint) AS session_id,
           count(*) AS n_events,
           {duck_money_sum("value")} AS sv_value
    FROM sessions
    GROUP BY user_id, sid
    """,
    doc="Sessionization (gap=30min) per key: lag+cumulative-sum session "
    "surrogate, then per-session aggregates — the sv_ct building block of "
    "VisitorStats (VisitorStatsApp.java:74-92).",
    tags=("dwm", "session"),
)
def dwm_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    marked = mark_sessions(_events(spark, sf_dir))
    return marked.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        money_sum("value").alias("sv_value"),
    )
