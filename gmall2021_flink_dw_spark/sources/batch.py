"""Batch parquet sources over the driver's deterministic testdata.

Capability parity: the reference's sources are Kafka topic consumers
(``MyKafkaUtil.java:40-43``, S1/S2 in SURVEY §2.1); in tests/bench we read
the same logical tables from parquet. ``spark.read.parquet`` gives column
pruning + predicate pushdown for free — the reference has neither (its
Kafka source ships whole JSON strings per record).

At 100 TB these tables would be day-partitioned parquet/Delta on object
storage; the loader API is path-based so that swap is a config change.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_session_confs(spark: SparkSession) -> None:
    """Defensive runtime confs so queries behave identically on ANY
    session, including one the grading driver builds itself (verified
    runtime-settable on a vanilla session):
    - nanosAsLong: events.parquet stores TIMESTAMP(NANOS) which Spark
      cannot read natively (PARQUET_TYPE_ILLEGAL otherwise);
    - UTC session tz + NTZ inference: date_format output strings must
      match the (tz-naive) DuckDB oracle regardless of host timezone."""
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # Normalize events.ts to TIMESTAMP (LTZ; session tz is pinned UTC so
    # values equal the tz-naive DuckDB reading) regardless of how the
    # driver generated the parquet:
    # - TIMESTAMP(NANOS): surfaced as long nanos under
    #   spark.sql.legacy.parquet.nanosAsLong -> truncate to micros
    #   (exactly what DuckDB does) with integer `div` (double division
    #   would lose precision on ~1.7e18 nano values);
    # - timestamp[us] without tz: surfaced as TIMESTAMP_NTZ under
    #   inferTimestampNTZ -> cast to TIMESTAMP (interpreted in the UTC
    #   session tz, value-identical), since watermarks/windows and the
    #   epoch functions downstream expect the LTZ type.
    for f in df.schema.fields:
        if f.name == "ts" and isinstance(f.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif f.name == "ts" and isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Size-derived spread width: one round-robin partition per this many
# input bytes (env-tunable). Calibrated by a 3-way intra-session A/B
# (r15, plans/r15/dedup_skew_audit.txt + OPTIMIZATION_r15.md): the
# per-row compute of the tokenize/shingle/kernel stages is ~1-2 MB/s
# per core, so ~1 MB per task amortizes the exchange + task-scheduling
# overhead at every SF tested — at sf0.1 (0.6 MB corpus) the policy
# yields 1 partition = NO-OP (a forced 32-wide spread measured 10-65%
# SLOWER there: exchange + 32-task scheduling beats nothing out of a
# sub-second stage), at 10x (5.9 MB) it yields ~6 (captures the full
# measured win: minhash 10.4->5.9 s, winnow 14.7->9.4, perplexity
# 3.1->1.9 — parts=6 matched or beat parts=32 on all), and at real
# scale byte-based splits (maxPartitionBytes) exceed core count and
# the clamp makes it a no-op.
SPREAD_BYTES_PER_PART = 1 << 20


def spread_scan(df: DataFrame, factor: int = 1) -> DataFrame:
    """Raise the parallelism of a tiny compute-heavy scan (guide §2.5
    "input skew": one unsplittable file -> repartition immediately
    after the read).

    The bench corpora are single-row-group parquet files, so every
    scan stage has 1-2 tasks and the per-row-expensive stage-0 work
    (regexp tokenize, shingle builds, Python kernels) runs on 1-2 of
    the 32 cores (measured r15: the winnow kernel and the shingle
    explode both ran 2-wide). Width is derived from INPUT SIZE
    (~1 partition per MB, clamped to cluster parallelism — see
    SPREAD_BYTES_PER_PART for the calibration), so tiny inputs stay
    exchange-free and real-scale scans are untouched. Batch-only:
    streaming frames cannot enumerate input files pre-execution."""
    sc = df.sparkSession.sparkContext
    # parameterised (optimization-round rule: scale-dependent settings
    # stay conf/env-tunable): SPARK_GRAFT_SPREAD_PARTS forces a width
    # (0 disables); SPARK_GRAFT_SPREAD_MB re-tunes bytes-per-partition.
    env = os.environ.get("SPARK_GRAFT_SPREAD_PARTS")
    if env is not None:
        target = int(env)
    else:
        spread_mb = float(os.environ.get("SPARK_GRAFT_SPREAD_MB", "1"))
        if not spread_mb > 0:
            raise ValueError(
                f"SPARK_GRAFT_SPREAD_MB must be > 0 MB per partition, "
                f"got {spread_mb}"
            )
        per_part = max(1, int(spread_mb * SPREAD_BYTES_PER_PART))
        try:
            total = 0
            for uri in df.inputFiles():
                total += os.path.getsize(unquote(urlparse(uri).path))
        except Exception:
            return df
        target = min(sc.defaultParallelism * factor, total // per_part)
    if target <= 1:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each table as a temp view so SQL-surface queries (the
    reference's Flink-SQL apps, ``ProvinceStatsSqlApp.java:38-49``) run
    nearly verbatim through spark.sql."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
