"""Batch-vs-streaming equivalence (SURVEY §5 strategy item (c)).

Each streaming pipeline replays the same parquet through readStream and
must agree with the identical transform applied to the static DataFrame.
Uses the sf0.001 slice — streaming drains synchronously per test.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall2021_flink_dw_spark.operators.cep import detect_jumps
from gmall2021_flink_dw_spark.operators.dedup import correct_new_user_flag
from gmall2021_flink_dw_spark.operators.routing import route, routing_config
from gmall2021_flink_dw_spark.sources.batch import (
    _ensure_session_confs,
    load_table,
    register_views,
    table_schema,
)
from gmall2021_flink_dw_spark.sources.cdc import orders_changelog
from gmall2021_flink_dw_spark.streaming.pipelines import (
    foreach_batch_router,
    product_stats_transform,
    run_to_memory,
    visitor_stats_transform,
)
from gmall2021_flink_dw_spark.streaming.sources import _as_stream_dir, stream_table
from gmall2021_flink_dw_spark.streaming.stateful import (
    correct_new_user_stream_bucketed,
    jump_detect_stream_bucketed,
    uv_dedup_ttl_stream_bucketed,
)

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


def _uv_oracle(spark, events):
    """Batch first-per-(user, day) oracle, in the UV kernel's schema."""
    return spark.sql(
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


def _new_user_oracle(events):
    """Batch min-struct new-user oracle, in the kernel's schema."""
    return (
        correct_new_user_flag(events)
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "is_new",
        )
        .toPandas()
    )


def _jump_oracle(events):
    """Batch lag/lead bounces, in the kernel's schema."""
    return (
        detect_jumps(events)
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        .toPandas()
    )


def _time_ordered_writer(events, root):
    """Return land(i): write the i-th of six (ts, event_id)-ordered
    slices of `events` as one parquet file under `root`. Read with
    maxFilesPerTrigger=1, each file is one micro-batch, so day
    boundaries fall between micro-batches and timers fire."""
    ntile = F.ntile(6).over(Window.orderBy("ts", "event_id"))
    parts = events.withColumn("part", ntile)

    def land(i):
        parts.filter(F.col("part") == i).drop("part").coalesce(1).write.parquet(
            os.path.join(root, f"b{i}")
        )

    return land


def _one_file_per_trigger(spark, root):
    """File stream over the files landed under `root`."""
    schema = spark.read.parquet(os.path.join(root, "b1")).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(root, "b*"))
    )


@pytest.mark.parametrize("n_buckets", [7], ids=["bucketed"])
def test_uv_dedup_ttl_multibatch(spark, n_buckets):
    """W4 + 24 h TTL (UniqueVisitApp.java:51-53 parity): replay the
    events in multiple time-ordered micro-batches so watermarks advance
    and the per-day timers actually fire between batches; the emitted
    set must STILL equal the batch first-per-(user,day) oracle exactly —
    i.e. TTL cleanup neither re-emits a day nor swallows a new one.
    The run also round-trips ArrayType bucket state through the real
    state store across triggers — the surface the FakeState property
    tests cannot reach."""
    events = load_table(spark, SF, "events")
    d = tempfile.mkdtemp(prefix="uv_ttl_")
    try:
        land = _time_ordered_writer(events, d)
        for i in range(1, 7):
            land(i)
        stream = _one_file_per_trigger(spark, d)
        q = run_to_memory(
            uv_dedup_ttl_stream_bucketed(stream, n_buckets=n_buckets),
            "uv_ttl_stream",
        )
        try:
            got = spark.sql("select * from uv_ttl_stream").toPandas()
            want = _uv_oracle(spark, events)
            assert len(got) == len(want)
            pd.testing.assert_frame_equal(_canon(got), _canon(want))
        finally:
            q.stop()
    finally:
        shutil.rmtree(d, ignore_errors=True)


_RESTART_KERNELS = {
    "uv": uv_dedup_ttl_stream_bucketed,
    "new_user": correct_new_user_stream_bucketed,
    "jump": jump_detect_stream_bucketed,
}


@pytest.mark.parametrize("kernel", list(_RESTART_KERNELS))
def test_checkpoint_restart_recovery(spark, kernel):
    """W9 exactly-once across a RESTART, for each stateful kernel: run
    the stream over the first half of the data with a checkpointed
    parquet sink, stop the query (simulated process death), land more
    files, start a fresh query on the SAME checkpoint, drain.
    Duplicates would mean bucket state (RocksDB, restored from its
    changelog checkpoints) was lost on restore; missing rows would mean
    source offsets replayed wrong.

    uv and new_user emit on arrival, so the sink must equal the batch
    oracle exactly. A jump entry with no successor stays pending until
    the watermark passes its bound, which the last one never does; so
    the jump sink must equal an uninterrupted run of the same kernel
    over the same files, hold no duplicates, and be a subset of the
    batch lag/lead oracle."""
    ctor = _RESTART_KERNELS[kernel]
    events = load_table(spark, SF, "events")
    root = tempfile.mkdtemp(prefix="ckpt_restart_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    try:
        land = _time_ordered_writer(events, src)

        def drain(name):
            out = os.path.join(root, name)
            q = (
                ctor(_one_file_per_trigger(spark, src))
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", os.path.join(root, f"ck_{name}"))
                .start()
            )
            q.processAllAvailable()
            q.stop()
            return out

        for i in range(1, 4):
            land(i)
        drain("out")  # simulated failure/redeploy after half the input
        for i in range(4, 7):
            land(i)
        got = spark.read.parquet(drain("out")).toPandas()

        if kernel == "jump":
            whole = spark.read.parquet(drain("whole")).toPandas()
            assert not got.duplicated().any()
            pd.testing.assert_frame_equal(_canon(got), _canon(whole))
            want = _jump_oracle(events)
            got_set = set(got.itertuples(index=False, name=None))
            assert got_set <= set(want.itertuples(index=False, name=None))
            return
        if kernel == "uv":
            want = _uv_oracle(spark, events)
        else:
            want = _new_user_oracle(events)
        assert len(got) == len(want), (
            f"restart broke exactly-once: {len(got)} vs {len(want)}"
        )
        pd.testing.assert_frame_equal(_canon(got), _canon(want))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize("n_buckets", [7], ids=["bucketed"])
def test_jump_cep_equivalence(spark, events_stream, n_buckets):
    """W7: applyInPandasWithState streaming CEP == lag/lead batch oracle.
    With watermark 0s and a single replay batch, timers for pendings
    flush in the trailing no-data micro-batch; any still-pending entries
    (no successor AND watermark never passed their bound) are the only
    legal difference."""
    q = run_to_memory(
        jump_detect_stream_bucketed(events_stream, n_buckets=n_buckets),
        "jump_stream",
    )
    try:
        got = spark.sql("select * from jump_stream").toPandas()
        want = _jump_oracle(load_table(spark, SF, "events"))
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


@pytest.mark.parametrize("n_buckets", [7], ids=["bucketed"])
def test_new_user_state_equivalence(spark, events_stream, n_buckets):
    """W5/P11: keyed-ValueState new-user correction under streaming must
    exactly match the batch min-struct oracle on replay."""
    q = run_to_memory(
        correct_new_user_stream_bucketed(events_stream, n_buckets=n_buckets),
        "nu_stream",
    )
    try:
        got = spark.sql("select * from nu_stream").toPandas()
        want = _new_user_oracle(load_table(spark, SF, "events"))
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


def test_session_gap_boundary_matches_oracles(spark, tmp_path):
    """Spark's session_window merges an event that lands EXACTLY one gap
    (1800 s) after the previous one; one microsecond later opens a new
    session. No testdata pair sits exactly one gap apart, so the two
    session queries are checked against their oracles on a crafted
    events table: user 1 has events 1800 s apart, user 2 events
    1800 s + 1 us apart, and user 3 a late event that moves the
    watermark past every other session so the stream emits them."""
    from datetime import datetime, timedelta

    import duckdb

    from gmall2021_flink_dw_spark.registry import load_all

    t0 = datetime(2024, 1, 1)
    gap = timedelta(seconds=1800)
    events = [
        (1, t0, 1),
        (2, t0 + gap, 1),
        (3, t0 + gap + timedelta(seconds=1799), 1),
        (4, t0, 2),
        (5, t0 + gap + timedelta(microseconds=1), 2),
        (6, t0 + timedelta(days=1), 3),
    ]
    sf_dir = tmp_path / "sf_session_gap"
    sf_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([e[0] for e in events], pa.int64()),
                "ts": pa.array([e[1] for e in events], pa.timestamp("us")),
                "user_id": pa.array([e[2] for e in events], pa.int64()),
                "event_type": ["click"] * len(events),
                "value": [1.5] * len(events),
                "props": ["{}"] * len(events),
            }
        ),
        str(sf_dir / "events.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir / 'events.parquet'}')"
    )
    registry = load_all()
    for name in ("dws_session_window", "streaming_session_window"):
        got = registry[name].fn(spark, str(sf_dir)).toPandas()
        want = con.execute(registry[name].oracle).df()
        per_user = got.groupby("user_id").n_events.apply(sorted).to_dict()
        assert per_user[1] == [3], f"{name}: exact-gap events must merge"
        assert per_user[2] == [1, 1], f"{name}: gap + 1 us must split"
        pd.testing.assert_frame_equal(_canon(got), _canon(want), obj=name)
    con.close()


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


def test_stream_table_schema_matches_batch_loader(spark, tmp_path):
    """The driver-side footer schema equals Spark's own inference for
    every single-file table, and stream_table and load_table agree on
    names AND types after ts normalization. A TIMESTAMP(NANOS) ts reads
    as long nanos and both loaders turn it into TIMESTAMP."""
    paths = sorted(
        p
        for sf in ("sf0.001", "sf0.01", "sf0.1")
        for p in glob.glob(os.path.join(os.path.dirname(SF), sf, "*.parquet"))
    )
    assert len(paths) == 30
    for p in paths:
        assert os.path.isfile(p), p
        assert table_schema(spark, p).json() == spark.read.parquet(p).schema.json(), p
    for t in ("events", "orders", "documents"):
        s = stream_table(spark, SF, t).schema
        b = load_table(spark, SF, t).schema
        assert [f.name for f in s.fields] == [f.name for f in b.fields], t
        assert [f.dataType for f in s.fields] == [
            f.dataType for f in b.fields
        ], t

    sf_dir = tmp_path / "sf_nanos"
    sf_dir.mkdir()
    nanos = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
        }),
        str(sf_dir / "events.parquet"),
        version="2.6",
    )
    raw = table_schema(spark, str(sf_dir / "events.parquet"))
    assert raw["ts"].dataType == T.LongType()
    assert raw.json() == spark.read.parquet(str(sf_dir / "events.parquet")).schema.json()
    batch = load_table(spark, str(sf_dir), "events")
    stream = stream_table(spark, str(sf_dir), "events")
    assert batch.schema["ts"].dataType == T.TimestampType()
    assert stream.schema["ts"].dataType == T.TimestampType()
    assert [r.us for r in batch.select(F.unix_micros("ts").alias("us"))
            .orderBy("event_id").collect()] == [n // 1000 for n in nanos]


def test_stream_dir_link_follows_current_sf_dir(tmp_path):
    """Two sf dirs with one basename share a stream dir: the link must
    point at the sf dir of the latest call, not at an earlier one."""
    links = []
    for parent in ("a", "b"):
        sf_dir = tmp_path / parent / "sf_same_name"
        sf_dir.mkdir(parents=True)
        (sf_dir / "events.parquet").write_bytes(b"")
        d = _as_stream_dir(str(sf_dir), "events")
        links.append(os.readlink(os.path.join(d, "events.parquet")))
    assert links == [
        str(tmp_path / p / "sf_same_name" / "events.parquet") for p in "ab"
    ]


def test_session_conf_failure_raises():
    """A loader conf that cannot be set raises instead of leaving the
    session reading ts with the wrong type."""

    class RefusingConf:
        def set(self, key, value):
            raise RuntimeError(f"cannot set {key}")

    class Session:
        conf = RefusingConf()

    with pytest.raises(RuntimeError, match="nanosAsLong"):
        _ensure_session_confs(Session())


def test_single_file_loaders_start_no_spark_job(spark):
    """load_table, register_views and stream_table on single-file tables
    read each schema from the parquet footer on the driver: no Spark
    job. A sentinel job in a second group is seen by the status tracker
    only after every earlier job start, so an empty first group means
    none ran."""
    sc = spark.sparkContext
    group, sentinel = "loaders:no_jobs", "loaders:sentinel"
    sc.setJobGroup(group, "schema reads")
    try:
        load_table(spark, SF, "events")
        register_views(spark, SF, ("orders", "lineitem", "events"))
        stream_table(spark, SF, "events")
        sc.setJobGroup(sentinel, "sentinel")
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        for t in ("orders", "lineitem", "events"):
            spark.catalog.dropTempView(t)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "sentinel job never seen"
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(group) == []


def test_uv_dedup_no_final_flush_parity(spark):
    """r15: streaming_uv_dedup skips the trailing no-data micro-batch
    (final_flush=False). The TTL timer only evicts state, never emits,
    so the emitted row set must be identical with and without the
    final flush — and the session conf must be restored afterwards."""
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


@pytest.mark.parametrize(
    "name", ["streaming_visitor_stats", "streaming_uv_dedup"]
)
def test_replay_state_width_is_policy_not_session(spark, name):
    """Registered replays clone the state-store width of
    plans/streaming_queries.py::_stream_state_partitions (8 at sf0.001)
    into the query at start, whatever the session's streaming width."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    from gmall2021_flink_dw_spark.registry import load_all

    class StateWidths(StreamingQueryListener):
        def __init__(self) -> None:
            self.widths: list[tuple[str, int]] = []
            self.ended: list[str] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.widths += [
                (str(p.id), op.numShufflePartitions) for op in p.stateOperators
            ]

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.ended.append(str(event.id))

    listener = StateWidths()
    key = "spark.sql.shuffle.partitions"
    orig = spark.conf.get(key)
    spark.conf.set(key, "1")
    spark.streams.addListener(listener)
    try:
        load_all()[name].fn(spark, SF).count()
        # listener events arrive asynchronously; a query's progress
        # reports all precede its termination event
        deadline = time.time() + 60
        while not {q for q, _ in listener.widths} & set(listener.ended):
            assert time.time() < deadline, "no terminated replay reported"
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, orig)
    ended = set(listener.ended)
    widths = [w for q, w in listener.widths if q in ended]
    assert widths and set(widths) == {8}, widths
