"""Batch-vs-streaming equivalence (SURVEY §5 strategy item (c)).

Each streaming pipeline replays the same parquet through readStream and
must agree with the identical transform applied to the static DataFrame.
Uses the sf0.001 slice — streaming drains synchronously per test.
"""

from __future__ import annotations

import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.operators.cep import detect_jumps
from gmall2021_flink_dw_spark.operators.routing import route, routing_config
from gmall2021_flink_dw_spark.sources.batch import load_table
from gmall2021_flink_dw_spark.sources.cdc import orders_changelog
from gmall2021_flink_dw_spark.streaming.pipelines import (
    foreach_batch_router,
    product_stats_transform,
    run_to_memory,
    uv_dedup_transform,
    visitor_stats_transform,
)
from gmall2021_flink_dw_spark.streaming.sources import stream_table
from gmall2021_flink_dw_spark.streaming.stateful import jump_detect_stream

SF = "/root/testdata/sf0.001"


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.astype(str).sort_values(list(df.columns)).reset_index(drop=True)


@pytest.fixture()
def events_stream(spark):
    return stream_table(spark, SF, "events")


def test_windowed_agg_equivalence(spark, events_stream):
    """W1/W3: same transform, batch vs complete-mode streaming."""
    stream = visitor_stats_transform(
        events_stream.withWatermark("ts", "11 seconds")
    )
    q = run_to_memory(stream, "vs_stream", output_mode="append")
    try:
        got = spark.sql("select * from vs_stream").toPandas()
        want = visitor_stats_transform(load_table(spark, SF, "events")).toPandas()
        # append mode emits only windows the watermark closed; the final
        # (open) windows stay in state. Compare the emitted subset.
        want_sub = want[want.stt.isin(set(got.stt))]
        assert len(got) > 0
        pd.testing.assert_frame_equal(_canon(got), _canon(want_sub))
    finally:
        q.stop()


def test_exact_distinct_in_window_equivalence(spark, events_stream):
    """A3 streaming twin (SURVEY 'hardest items'): exact COUNT(DISTINCT)
    inside a streaming window via the collect_set rewrite. Closed windows
    must agree exactly with the batch aggregation — distinct counts
    included."""
    stream = product_stats_transform(
        events_stream.withWatermark("ts", "11 seconds")
    )
    q = run_to_memory(stream, "ps_stream", output_mode="append")
    try:
        got = spark.sql("select * from ps_stream").toPandas()
        want = product_stats_transform(load_table(spark, SF, "events")).toPandas()
        assert len(got) > 0
        want_sub = want[want.stt.isin(set(got.stt))]
        pd.testing.assert_frame_equal(_canon(got), _canon(want_sub))
    finally:
        q.stop()


def test_socket_source_live(spark):
    """S7 socket source end-to-end: a real TCP server feeds lines to
    format('socket'); the drained memory sink must hold exactly those
    lines (MyKafkaUtil's test harness uses the same source,
    FlinkDataStreamJoinTest.java:40,52)."""
    import socket
    import threading

    from gmall2021_flink_dw_spark.streaming.sources import socket_stream

    lines = ["alpha,1", "beta,2", "gamma,3"]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve():
        conn, _ = srv.accept()
        conn.sendall(("\n".join(lines) + "\n").encode())
        stop.wait(timeout=30)  # keep the pipe open until the query drains
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    q = (
        socket_stream(spark, "127.0.0.1", port)
        .writeStream.format("memory")
        .queryName("sock_stream")
        .start()
    )
    try:
        deadline = 30
        import time

        while deadline > 0:
            q.processAllAvailable()
            if spark.sql("select * from sock_stream").count() >= len(lines):
                break
            time.sleep(0.5)
            deadline -= 0.5
        got = sorted(
            r.value for r in spark.sql("select * from sock_stream").collect()
        )
        assert got == sorted(lines)
    finally:
        stop.set()
        q.stop()
        srv.close()


def test_uv_dedup_equivalence(spark, events_stream):
    """W4: dropDuplicates under streaming == row_number batch dedup
    (same survivor per (user, day) because event-time order is replayed)."""
    q = run_to_memory(
        uv_dedup_transform(events_stream.withWatermark("ts", "1 hour")),
        "uv_stream",
    )
    try:
        got = spark.sql(
            "select user_id, dt, count(*) as n from uv_stream group by 1,2"
        ).toPandas()
        batch = uv_dedup_transform(load_table(spark, SF, "events")).toPandas()
        # one survivor per key either way
        assert (got.n == 1).all()
        assert len(got) == len(batch)
    finally:
        q.stop()


@pytest.mark.parametrize("form", ["per_key", "bucketed"])
def test_uv_dedup_ttl_multibatch(spark, form):
    """W4 + 24 h TTL (UniqueVisitApp.java:51-53 parity): replay the
    events in multiple time-ordered micro-batches so watermarks advance
    and the per-day timers actually fire between batches; the emitted
    set must STILL equal the batch first-per-(user,day) oracle exactly —
    i.e. TTL cleanup neither re-emits a day nor swallows a new one.
    Both state layouts: per-key ValueState and the r13 bucketed array
    state (the bucketed run also round-trips ArrayType state through
    the real state store across triggers — the surface the FakeState
    property tests cannot reach)."""
    import os

    from pyspark.sql import Window
    from gmall2021_flink_dw_spark.streaming.stateful import (
        uv_dedup_ttl_stream,
        uv_dedup_ttl_stream_bucketed,
    )

    ctor = uv_dedup_ttl_stream if form == "per_key" else (
        lambda st: uv_dedup_ttl_stream_bucketed(st, n_buckets=7)
    )

    events = load_table(spark, SF, "events")
    # split into 6 time-ordered files: each trigger processes one file,
    # so day boundaries fall between micro-batches and timers fire
    d = tempfile.mkdtemp(prefix="uv_ttl_")
    try:
        ntile = F.ntile(6).over(Window.orderBy("ts", "event_id"))
        parts = events.withColumn("part", ntile)
        for i in range(1, 7):
            parts.filter(F.col("part") == i).drop("part").coalesce(1).write.parquet(
                os.path.join(d, f"b{i}")
            )
        schema = spark.read.parquet(os.path.join(d, "b1")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(d, "b*"))
        )
        q = run_to_memory(ctor(stream), "uv_ttl_stream")
        try:
            got = spark.sql("select * from uv_ttl_stream").toPandas()
            want = spark.sql(
                """
                SELECT user_id, date_format(dt, 'yyyy-MM-dd') AS dt,
                       event_id, unix_micros(cast(ts as timestamp)) AS ts_us,
                       event_type
                FROM (
                  SELECT user_id, date_trunc('day', ts) AS dt, event_id, ts,
                         event_type,
                         row_number() OVER (
                           PARTITION BY user_id, date_trunc('day', ts)
                           ORDER BY ts, event_id) AS rn
                  FROM {events}
                ) WHERE rn = 1
                """,
                events=events,
            ).toPandas()
            assert len(got) == len(want)
            pd.testing.assert_frame_equal(_canon(got), _canon(want))
        finally:
            q.stop()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_checkpoint_restart_recovery(spark):
    """W9 exactly-once across a RESTART: run the stateful UV-dedup
    stream over the first half of the data with a checkpointed parquet
    sink, stop the query (simulated process death), land more files,
    start a fresh query on the SAME checkpoint, drain. The final sink
    contents must equal the batch first-per-(user,day) oracle exactly —
    duplicates would mean per-key state (applyInPandasWithState) was
    lost on restore; missing rows would mean source offsets replayed
    wrong."""
    import os

    from pyspark.sql import Window
    from gmall2021_flink_dw_spark.streaming.stateful import uv_dedup_ttl_stream

    events = load_table(spark, SF, "events")
    root = tempfile.mkdtemp(prefix="ckpt_restart_")
    src = os.path.join(root, "src")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ck")
    os.makedirs(src)
    try:
        ntile = F.ntile(6).over(Window.orderBy("ts", "event_id"))
        parts = events.withColumn("part", ntile)
        def land(i):
            parts.filter(F.col("part") == i).drop("part").coalesce(1).write.parquet(
                os.path.join(src, f"b{i}")
            )
        for i in range(1, 4):
            land(i)
        schema = spark.read.parquet(os.path.join(src, "b1")).schema

        def start():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(src, "b*"))
            )
            q = (
                uv_dedup_ttl_stream(stream)
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.processAllAvailable()
            return q

        q1 = start()
        q1.stop()  # simulated failure/redeploy after half the input
        for i in range(4, 7):
            land(i)
        q2 = start()
        q2.stop()

        got = spark.read.parquet(out).toPandas()
        want = spark.sql(
            """
            SELECT user_id, date_format(dt, 'yyyy-MM-dd') AS dt,
                   event_id, unix_micros(cast(ts as timestamp)) AS ts_us,
                   event_type
            FROM (
              SELECT user_id, date_trunc('day', ts) AS dt, event_id, ts,
                     event_type,
                     row_number() OVER (
                       PARTITION BY user_id, date_trunc('day', ts)
                       ORDER BY ts, event_id) AS rn
              FROM {events}
            ) WHERE rn = 1
            """,
            events=events,
        ).toPandas()
        assert len(got) == len(want), (
            f"restart broke exactly-once: {len(got)} vs {len(want)}"
        )
        pd.testing.assert_frame_equal(_canon(got), _canon(want))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("form", ["per_key", "bucketed"])
def test_jump_cep_equivalence(spark, events_stream, form):
    """W7: applyInPandasWithState streaming CEP == lag/lead batch oracle.
    With watermark 0s and a single replay batch, timers for pendings
    flush in the trailing no-data micro-batch; any still-pending entries
    (no successor AND watermark never passed their bound) are the only
    legal difference. Both state layouts (see the uv multibatch test)."""
    from gmall2021_flink_dw_spark.streaming.stateful import (
        jump_detect_stream_bucketed,
    )

    ctor = jump_detect_stream if form == "per_key" else (
        lambda st: jump_detect_stream_bucketed(st, n_buckets=7)
    )
    q = run_to_memory(ctor(events_stream), "jump_stream")
    try:
        got = spark.sql("select * from jump_stream").toPandas()
        want = (
            detect_jumps(load_table(spark, SF, "events"))
            .select(
                "user_id",
                "event_id",
                F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            )
            .toPandas()
        )
        got_set = {tuple(r) for r in got.itertuples(index=False)}
        want_set = {tuple(r) for r in want.itertuples(index=False)}
        # streaming must never emit a non-jump
        assert got_set <= want_set
        missing = want_set - got_set
        # only tail-pending entries may be missing (watermark cannot pass
        # the last event); bound the gap tightly
        assert len(missing) <= want.user_id.nunique(), (
            f"missing {len(missing)} of {len(want_set)}"
        )
        assert len(got_set) >= 0.8 * len(want_set)
    finally:
        q.stop()


@pytest.mark.parametrize("form", ["per_key", "bucketed"])
def test_new_user_state_equivalence(spark, events_stream, form):
    """W5/P11: keyed-ValueState new-user correction under streaming must
    exactly match the batch min-struct oracle on replay. Both state
    layouts (see the uv multibatch test)."""
    from gmall2021_flink_dw_spark.operators.dedup import correct_new_user_flag
    from gmall2021_flink_dw_spark.streaming.stateful import (
        correct_new_user_stream,
        correct_new_user_stream_bucketed,
    )

    ctor = correct_new_user_stream if form == "per_key" else (
        lambda st: correct_new_user_stream_bucketed(st, n_buckets=7)
    )
    q = run_to_memory(ctor(events_stream), "nu_stream")
    try:
        got = spark.sql("select * from nu_stream").toPandas()
        want = (
            correct_new_user_flag(load_table(spark, SF, "events"))
            .select(
                "user_id",
                "event_id",
                F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
                "is_new",
            )
            .toPandas()
        )
        assert len(got) == len(want)
        pd.testing.assert_frame_equal(_canon(got), _canon(want))
        assert (got.groupby("user_id").is_new.apply(lambda s: (s == "1").sum()) == 1).all()
    finally:
        q.stop()


def test_foreach_batch_router(spark):
    """K2/K4: one foreachBatch pass fans records out per sink_table."""
    out = tempfile.mkdtemp(prefix="router_")
    try:
        cl = route(orders_changelog(spark, SF), routing_config(spark))
        writer = foreach_batch_router(out)
        writer(cl, epoch_id=0)  # batch DataFrame through the same code path
        writer(cl, epoch_id=0)  # retried epoch must be idempotent (W9)
        written = spark.read.parquet(f"{out}/epoch=0")
        assert written.count() == cl.count(), (
            "a replayed micro-batch must overwrite its epoch, not append"
        )
        routed = {
            r.sink_table
            for r in written.select("sink_table").distinct().collect()
        }
        assert routed == {"dwd_order_info"}
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_dynamic_routing_config_update(spark):
    """W6 dynamic broadcast state: routing rules change BETWEEN
    micro-batches and the router must pick up the new rules at the next
    epoch without a restart (BaseDBApp's broadcast rule stream). Batch 1
    routes inserts+updates; the rules then drop the update route; batch
    2 must route inserts only."""
    import os

    from gmall2021_flink_dw_spark.streaming.pipelines import (
        dynamic_foreach_batch_router,
    )

    root = tempfile.mkdtemp(prefix="dynroute_")
    src = os.path.join(root, "src")
    out = os.path.join(root, "out")
    os.makedirs(src)
    try:
        cl = orders_changelog(spark, SF)
        half = cl.filter(F.col("id") % 2 == 0)
        other = cl.filter(F.col("id") % 2 == 1)
        half.coalesce(1).write.parquet(os.path.join(src, "b1"))

        rules_v1 = [
            ("order_info", "insert", "kafka", "dwd_order_info", "id"),
            ("order_info", "update", "kafka", "dwd_order_info", "id"),
        ]
        rules_v2 = rules_v1[:1]  # update route removed mid-stream
        current = {"rules": rules_v1}

        def provider(sess):
            return sess.createDataFrame(
                current["rules"],
                "source_table string, operate_type string, sink_type string, "
                "sink_table string, sink_columns string",
            )

        schema = spark.read.parquet(os.path.join(src, "b1")).schema

        def start():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(src, "b*"))
            )
            q = (
                stream.writeStream.foreachBatch(
                    dynamic_foreach_batch_router(out, provider)
                )
                .option("checkpointLocation", os.path.join(root, "ck"))
                .start()
            )
            q.processAllAvailable()
            return q

        q = start()
        # rule change lands between micro-batches
        current["rules"] = rules_v2
        other.coalesce(1).write.parquet(os.path.join(src, "b2"))
        q.processAllAvailable()
        q.stop()

        e0 = spark.read.parquet(os.path.join(out, "epoch=0"))
        e1 = spark.read.parquet(os.path.join(out, "epoch=1"))
        ops0 = {r.op for r in e0.select("op").distinct().collect()}
        ops1 = {r.op for r in e1.select("op").distinct().collect()}
        assert "update" in ops0 and "insert" in ops0
        assert ops1 == {"insert"}, f"new rules not applied: {ops1}"
        # routed counts match the rule set in force at each epoch
        want0 = half.filter(F.col("op") != "delete").count()
        want1 = other.filter(F.col("op") == "insert").count()
        assert e0.count() == want0
        assert e1.count() == want1
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_stream_stream_interval_join(spark):
    """J2 streaming twin: purchase stream x click stream with event-time
    range bounds and watermarks — same pairs as the batch interval join."""
    from gmall2021_flink_dw_spark.plans.order_pipeline import dwm_payment_wide

    ev = stream_table(spark, SF, "events")
    pay = (
        ev.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "16 minutes")
        .select(
            F.col("event_id").alias("pay_event_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    click = (
        stream_table(spark, SF, "events")
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "16 minutes")
        .select(
            F.col("event_id").alias("src_event_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = pay.join(
        click,
        F.expr(
            "p_user = c_user AND "
            "c_ts >= p_ts - interval 15 minutes AND "
            "c_ts <= p_ts + interval 5 seconds"
        ),
    ).select("pay_event_id", "src_event_id")
    q = run_to_memory(joined, "pw_stream")
    try:
        got = spark.sql("select * from pw_stream").toPandas()
        want = dwm_payment_wide(spark, SF).select(
            "pay_event_id", "src_event_id"
        ).toPandas()
        assert _canon(got).equals(_canon(want))
    finally:
        q.stop()


def test_hopping_window_equivalence(spark, events_stream):
    """W3 extension: native sliding window under streaming — each event in
    3 overlapping 30min/10min windows; emitted (closed) windows must
    agree with the batch aggregation."""
    def transform(df):
        return (
            df.groupBy(F.window("ts", "30 minutes", "10 minutes"), "event_type")
            .agg(F.count(F.lit(1)).alias("pv"))
            .select(
                F.col("window.start").alias("ws"), "event_type", "pv"
            )
        )

    q = run_to_memory(
        transform(events_stream.withWatermark("ts", "1 minute")),
        "hop_stream",
        output_mode="append",
    )
    try:
        got = spark.sql("select * from hop_stream").toPandas()
        want = transform(load_table(spark, SF, "events")).toPandas()
        assert len(got) > 0
        want_sub = want[want.ws.isin(set(got.ws))]
        pd.testing.assert_frame_equal(_canon(got), _canon(want_sub))
    finally:
        q.stop()


def test_session_window_equivalence(spark, events_stream):
    """Session windows (30 min gap) under streaming: closed sessions must
    agree with the batch session_window aggregation."""
    def transform(df):
        return (
            df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("session_window.start").alias("ss"),
                "user_id",
                "n_events",
            )
        )

    q = run_to_memory(
        transform(events_stream.withWatermark("ts", "1 minute")),
        "sess_stream",
        output_mode="append",
    )
    try:
        got = spark.sql("select * from sess_stream").toPandas()
        want = transform(load_table(spark, SF, "events")).toPandas()
        assert len(got) > 0
        # closed sessions only; key by (user, session start)
        merged = got.merge(want, on=["ss", "user_id"], suffixes=("_s", "_b"))
        assert len(merged) == len(got)
        assert (merged.n_events_s == merged.n_events_b).all()
    finally:
        q.stop()


def test_streaming_keyword_stats_multibatch(spark):
    """A5+D1 multi-batch: replay the documents corpus in 5 time-ordered
    files so the watermark advances BETWEEN micro-batches and windows
    close incrementally; the union of appended rows must still equal the
    single-batch closure set (what the registered query's oracle pins).
    Proves window state survives batch boundaries and late-window
    eviction emits each window exactly once."""
    import os

    from pyspark.sql import Window
    from gmall2021_flink_dw_spark.functions.tokenizer import tokenize
    from gmall2021_flink_dw_spark.registry import load_all

    reg = load_all()
    single = reg["streaming_keyword_stats"].fn(spark, SF).toPandas()

    docs = load_table(spark, SF, "documents").filter(F.col("lang") == "en")
    ts = F.timestamp_seconds(
        F.unix_timestamp(
            F.lit("2024-01-01 00:00:00"), "yyyy-MM-dd HH:mm:ss"
        )
        + F.col("doc_id")
    )
    d = tempfile.mkdtemp(prefix="kw_multi_")
    try:
        ntile = F.ntile(5).over(Window.orderBy("doc_id"))
        parts = docs.withColumn("ts", ts).withColumn("part", ntile)
        for i in range(1, 6):
            parts.filter(F.col("part") == i).drop("part").coalesce(
                1
            ).write.parquet(os.path.join(d, f"b{i}"))
        schema = spark.read.parquet(os.path.join(d, "b1")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(d, "b*"))
            .withWatermark("ts", "11 seconds")
        )
        agg = (
            stream.select("ts", F.explode(tokenize("text")).alias("keyword"))
            .groupBy(F.window("ts", "60 seconds"), "keyword")
            .agg(F.count(F.lit(1)).alias("ct"))
            .select(
                F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "stt"
                ),
                F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias(
                    "edt"
                ),
                "keyword",
                "ct",
            )
        )
        q = run_to_memory(agg, "kw_multi")
        try:
            got = spark.sql("select * from kw_multi").toPandas()
            assert len(got) == len(single)
            pd.testing.assert_frame_equal(_canon(got), _canon(single))
        finally:
            q.stop()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_late_data_drop_empty_bulk_group(spark, tmp_path):
    """VERDICT r14 item 4 guard: when every on-time row sits exactly at
    the max ts, the staged write never creates the bulk group (batch0)
    and the mtime anchor must fall through to the heartbeat dir instead
    of raising FileNotFoundError. The replay then emits nothing (the
    only on-time window never closes), matching the oracle's closure
    rule on the same degenerate input."""
    from gmall2021_flink_dw_spark.plans.streaming_queries import (
        streaming_late_data_drop,
    )

    rows = [
        # on-time rows, ALL at one instant (>= the 2024-01-16 cutoff)
        (1, "2024-01-20 12:00:00", 10, "click", 1.0, "{}"),
        (2, "2024-01-20 12:00:00", 11, "view", 2.0, "{}"),
        # stragglers before the cutoff
        (3, "2024-01-02 08:00:00", 12, "click", 3.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, "
        "event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sf_dir = str(tmp_path / "sf_degenerate")
    import os

    os.makedirs(sf_dir, exist_ok=True)
    df.coalesce(1).write.parquet(os.path.join(sf_dir, "events.parquet"))
    out = streaming_late_data_drop(spark, sf_dir)
    assert out.count() == 0


def test_stream_table_schema_matches_batch_loader(spark):
    """stream_table no longer builds the batch frame per invocation
    (r15: one footer read); pin the schema parity the removed runtime
    assert used to check — names AND types after ts normalization."""
    for t in ("events", "orders", "documents"):
        s = stream_table(spark, SF, t).schema
        b = load_table(spark, SF, t).schema
        assert [f.name for f in s.fields] == [f.name for f in b.fields], t
        assert [f.dataType for f in s.fields] == [
            f.dataType for f in b.fields
        ], t


def test_uv_dedup_no_final_flush_parity(spark):
    """r15: streaming_uv_dedup skips the trailing no-data micro-batch
    (final_flush=False). The TTL timer only evicts state, never emits,
    so the emitted row set must be identical with and without the
    final flush — and the session conf must be restored afterwards."""
    from gmall2021_flink_dw_spark.streaming.stateful import (
        uv_dedup_ttl_stream_bucketed,
    )

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(key)
    out = {}
    for flush in (True, False):
        stream = uv_dedup_ttl_stream_bucketed(stream_table(spark, SF, "events"))
        q = run_to_memory(stream, f"uvflush_{int(flush)}", final_flush=flush)
        try:
            out[flush] = _canon(
                spark.table(f"uvflush_{int(flush)}").toPandas()
            )
        finally:
            q.stop()
    assert spark.conf.get(key) == before
    assert len(out[True]) > 0
    pd.testing.assert_frame_equal(out[True], out[False])


def test_run_to_memory_keeps_running_queries_checkpoints(spark):
    """run_to_memory reclaims only checkpoints of stopped queries: a
    second call must not delete the first, still-running query's
    checkpoint. Both queries then take a newly landed file."""
    import os

    events = load_table(spark, SF, "events").select("event_id", "user_id")
    src = tempfile.mkdtemp(prefix="memckpt_live_")
    queries = []
    try:
        events.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
            os.path.join(src, "b1")
        )
        schema = spark.read.parquet(os.path.join(src, "b1")).schema
        for name in ("memlive_a", "memlive_b"):
            stream = spark.readStream.schema(schema).parquet(
                os.path.join(src, "b*")
            )
            queries.append(run_to_memory(stream, name))
        events.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
            os.path.join(src, "b2")
        )
        for q in queries:
            q.processAllAvailable()
        assert all(q.isActive for q in queries)
        want = _canon(events.toPandas())
        for name in ("memlive_a", "memlive_b"):
            pd.testing.assert_frame_equal(
                _canon(spark.table(name).toPandas()), want
            )
    finally:
        for q in queries:
            q.stop()
        shutil.rmtree(src, ignore_errors=True)
