"""Streaming pipelines: the batch operators run under Structured Streaming.

Design rule (SURVEY §7): every operator is a pure DataFrame -> DataFrame
transform; streaming adds only `withWatermark` before stateful stages and
a sink. The transforms here are used verbatim by both the batch
equivalence tests and the streaming queries.

Parity map:
- W1/W2 watermarks  -> withWatermark (bounded out-of-orderness)
- W3 tumbling agg   -> groupBy(window(...)) in append mode
- W4 UV dedup       -> streaming/stateful.py (first event per user and day)
- K1/K3 sinks       -> memory sink (tests) / parquet partitioned-by-day
                       (ClickHouse-table analog, toYYYYMMDD partitioning)
- K2/K4 routing     -> foreachBatch fan-out writer
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from gmall2021_flink_dw_spark.cache import tracked_tempdir
from gmall2021_flink_dw_spark.functions.money import money_sum
from gmall2021_flink_dw_spark.functions.windows import FMT
from gmall2021_flink_dw_spark.scratch import stream_scratch_base


def visitor_stats_transform(df: DataFrame, window_s: int = 3600) -> DataFrame:
    """A2/W3 streaming-safe visitor stats: per (window, event_type)
    pv count + exact decimal dur_sum + approx uv (HLL — streaming cannot
    do exact COUNT(DISTINCT) in append mode; SURVEY 'hardest items')."""
    return (
        df.groupBy(F.window("ts", f"{window_s} seconds"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            F.approx_count_distinct("user_id").alias("uv_ct_approx"),
            money_sum("value").alias("dur_sum"),
        )
        .select(
            F.date_format("window.start", FMT).alias("stt"),
            F.date_format("window.end", FMT).alias("edt"),
            "event_type",
            "pv_ct",
            "uv_ct_approx",
            "dur_sum",
        )
    )


def product_stats_transform(df: DataFrame, window_s: int = 3600) -> DataFrame:
    """A1/A3 streaming EXACT distinct-in-window (SURVEY 'hardest items'):
    append-mode streaming cannot run COUNT(DISTINCT), so the reference's
    HashSet-union accumulator (ProductStats.java:74-84, merged in the
    window reduce ProductStatsApp.java:213-238) is re-expressed as
    collect_set inside the windowed aggregation — the set lives in the
    state store until the watermark closes the window, then size() is
    the exact distinct count. Scale note: state per group is O(distinct
    keys in window); the HLL path (visitor_stats_transform /
    dws_product_stats_approx) is the bounded-memory variant for keys
    whose per-window cardinality is unbounded at 100 TB."""
    return (
        df.groupBy(F.window("ts", f"{window_s} seconds"), "event_type")
        .agg(
            F.size(F.collect_set("user_id")).alias("user_ct"),
            F.count(F.lit(1)).alias("pv_ct"),
            money_sum("value").alias("amount"),
        )
        .select(
            F.date_format("window.start", FMT).alias("stt"),
            F.date_format("window.end", FMT).alias("edt"),
            "event_type",
            "user_ct",
            "pv_ct",
            "amount",
        )
    )


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    final_flush: bool = True,
) -> StreamingQuery:
    """K5/test sink: memory table + synchronous drain.

    The checkpoint goes under scratch.stream_scratch_base() (r14):
    without an explicit location Spark creates the temp checkpoint under
    java.io.tmpdir, whose per-batch WAL/commit fsyncs cost ~1 s of pure
    latency per replay on this box's ext4 /tmp (see scratch.py). It is
    a scratch tree of the calling thread's cache epoch
    (cache.tracked_tempdir): the next registered query on that thread
    removes it, so the query must be stopped by then. A caller that
    opens no epoch, such as a long-lived ingest loop, keeps it until
    exit.

    final_flush=False (r15, guide §1/§2 — measure first, then remove
    the pass): skip the trailing NO-DATA micro-batch
    (spark.sql.streaming.noDataMicroBatches.enabled=false, cloned into
    the query's own conf at start and restored immediately after).
    Only callers whose OUTPUT provably never depends on that trigger
    may pass it — i.e. queries that emit on data (inner stream-stream
    joins, immediate-emission stateful kernels whose timers only evict
    state); watermark-CLOSURE queries (append-mode windows, CEP timer
    flush) need the no-data batch to emit their final windows and must
    keep the default. The skipped batch is pure replay scaffolding:
    it re-commits every state store (and re-invokes the Python kernel
    per bucket for timer-bearing operators) to produce zero rows —
    measured 0.68-0.70x solo on uv_dedup/interval_join at sf0.1. On a
    real cluster the equivalent no-data triggers amortize across the
    job's lifetime instead of being ~1/2 of a two-trigger replay."""
    ckpt = tracked_tempdir(f"memckpt_{name}_", stream_scratch_base())
    spark = stream_df.sparkSession
    conf_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    orig = spark.conf.get(conf_key, "true")
    if not final_flush:
        spark.conf.set(conf_key, "false")
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
    finally:
        if not final_flush:
            # the query captured a CLONED conf at start; restoring here
            # cannot re-enable no-data batches for the running query
            spark.conf.set(conf_key, orig)
    q.processAllAvailable()
    return q


def write_dws_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """K3 sink analog: the reference appends DWS rows to ClickHouse
    tables partitioned by toYYYYMMDD(stt) (ProductStatsApp.java:337-339).
    Spark form: parquet/Delta append partitioned by the day of stt —
    idempotent via checkpointing (W9 exactly-once analog: checkpoint +
    deterministic file naming per epoch)."""
    q = (
        stream_df.withColumn("dt", F.substring("stt", 1, 10))
        # Cluster by the partition key before the partitioned sink
        # (guide §6): without this every state-store task writes a file
        # into every day directory it touches (~tasks x days tiny
        # files); repartition("dt") routes each day to one writer task
        # -> ~one file per day per micro-batch, and the read-back scan
        # pays file-count ~ days, not tasks x days. Same fix a real
        # ClickHouse/lake sink needs at 100 TB.
        .repartition(F.col("dt"))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("dt")
        .start()
    )
    q.processAllAvailable()
    return q


def replay_to_delta_log(
    topic: DataFrame,
    n_files: int,
    files_per_trigger: int,
    to_delta: Callable[[DataFrame], DataFrame],
) -> str:
    """Log-structured replay (the streaming_cdc_upsert pattern): stage
    `topic` as an n_files-file parquet topic, replay it
    files_per_trigger files per micro-batch, and have each trigger write
    ONLY to_delta(batch) as delta/v{epoch} — O(batch) write cost per
    trigger however large the accumulated state grows. Returns the glob
    of the delta versions; the caller merges them at read time. The
    topic and checkpoint are removed once the replay ends; the delta
    tree lives until the next query epoch (cache.tracked_tempdir)."""
    base = tracked_tempdir("delta_log_", stream_scratch_base())
    topic_dir = os.path.join(base, "topic")
    delta_base = os.path.join(base, "delta")
    ckpt = os.path.join(base, "ckpt")
    topic.repartition(n_files).write.mode("overwrite").parquet(topic_dir)

    def _flush_delta(batch_df: DataFrame, epoch_id: int) -> None:
        to_delta(batch_df).write.mode("overwrite").parquet(
            os.path.join(delta_base, f"v{epoch_id}")
        )

    q = (
        topic.sparkSession.readStream.schema(topic.schema)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(topic_dir)
        .writeStream.foreachBatch(_flush_delta)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(topic_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return os.path.join(delta_base, "v*")


def foreach_batch_router(base_dir: str):
    """K2/K4 dynamic multi-sink: one micro-batch fanned out to per-
    sink_table directories (the reference picks the Kafka topic / Phoenix
    table per record: MyKafkaUtil.java:27-35, DimSinkFunction.java:40-71).

    partitionBy(sink_table) writes every route in ONE pass over the
    batch — no per-route filter-and-write loop, no repeated scan.
    mode("overwrite") scoped to the epoch directory is what makes the
    sink exactly-once (W9): a retried micro-batch rewrites epoch=N
    in place instead of appending a duplicate copy — the idempotent
    foreachBatch pattern the checkpoint's replay contract requires."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .partitionBy("sink_table")
            .parquet(os.path.join(base_dir, f"epoch={epoch_id}"))
        )

    return _write
