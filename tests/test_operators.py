"""Unit tests on synthetic micro-tables (SURVEY §5 strategy (a)).

The CEP cases reproduce the reference's inline expected-behavior
transcript (UserJumpDetailAppBak.java:28-43): entry followed quickly by
another entry -> bounce; entry followed by a continuation -> not a
bounce; entry then silence past the timeout -> bounce (timeout output).
Times are scaled to this engine's parameters (session gap 30 min, jump
timeout 10 min) but the case structure is the reference's.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.operators.cep import detect_jumps, mark_sessions
from gmall2021_flink_dw_spark.operators.dedup import (
    correct_new_user_flag,
    first_visit_per_day,
)
from gmall2021_flink_dw_spark.operators.joins import enrich_dims, interval_join
from gmall2021_flink_dw_spark.operators.routing import upsert_snapshot


def ts(minute: int, second: int = 0):
    return datetime(2024, 1, 1, minute // 60, minute % 60, second)


def ev(spark, rows):
    return spark.createDataFrame(
        [(i, t, u) for i, (t, u) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long",
    )


class TestCepTranscript:
    """UserJumpDetailAppBak.java:28-43 case structure."""

    def test_entry_then_silence_is_bounce(self, spark):
        # mid: one entry event, nothing after -> timeout bounce
        df = ev(spark, [(ts(0), 1)])
        jumps = detect_jumps(df).select("event_id").collect()
        assert [r.event_id for r in jumps] == [0]

    def test_entry_with_quick_continuation_is_not_bounce(self, spark):
        # entry at t0, next event 5 min later (inside 10-min timeout):
        # the visit continued -> entry is NOT a bounce; the continuation
        # is not an entry (gap < 30 min) and has no successor within
        # timeout, but only ENTRIES can bounce.
        df = ev(spark, [(ts(0), 1), (ts(5), 1)])
        jumps = detect_jumps(df).collect()
        assert jumps == []

    def test_entry_then_late_event_is_bounce_and_new_entry(self, spark):
        # entry at t0; next event 40 min later: t0 bounces (timeout),
        # the 40-min event starts a new session (gap > 30 min) and itself
        # bounces (nothing follows).
        df = ev(spark, [(ts(0), 1), (ts(40), 1)])
        jumps = sorted(r.event_id for r in detect_jumps(df).collect())
        assert jumps == [0, 1]

    def test_two_users_independent_state(self, spark):
        df = ev(spark, [(ts(0), 1), (ts(5), 1), (ts(0), 2)])
        jumps = [(r.user_id, r.event_id) for r in detect_jumps(df).collect()]
        assert jumps == [(2, 2)]

    def test_session_ids_increment_on_gap(self, spark):
        df = ev(spark, [(ts(0), 1), (ts(5), 1), (ts(60), 1)])
        got = {
            r.event_id: r.session_id for r in mark_sessions(df).collect()
        }
        assert got == {0: 1, 1: 1, 2: 2}


class TestStatefulBatchForms:
    def test_first_visit_per_day_ties_break_by_event_id(self, spark):
        df = ev(spark, [(ts(0), 1), (ts(0), 1), (ts(10), 1)])
        got = first_visit_per_day(df).select("event_id").collect()
        assert [r.event_id for r in got] == [0]

    def test_new_user_flag_once_ever(self, spark):
        df = ev(spark, [(ts(0), 1), (ts(10), 1), (ts(0), 2)])
        got = {
            r.event_id: r.is_new for r in correct_new_user_flag(df).collect()
        }
        assert got == {0: "1", 1: "0", 2: "1"}

    def test_upsert_snapshot_delete_wins(self, spark):
        cl = spark.createDataFrame(
            [
                (1, "insert", "a", 100),
                (1, "update", "b", 200),
                (2, "insert", "c", 100),
                (2, "delete", None, 300),
            ],
            "id long, op string, after_status string, ts_us long",
        )
        got = {r.id: r.after_status for r in upsert_snapshot(cl).collect()}
        assert got == {1: "b"}


class TestJoins:
    def test_interval_join_bounds_inclusive(self, spark):
        left = spark.createDataFrame(
            [(1, datetime(2024, 1, 1, 12, 0, 0))], "lid long, lts timestamp"
        )
        mk = lambda sec: (1, datetime(2024, 1, 1, 12, 0, sec))
        right = spark.createDataFrame(
            [mk(0), mk(5), mk(6)], "rid long, rts timestamp"
        )
        out = interval_join(
            left,
            right,
            key=F.col("lid") == F.col("rid"),
            left_ts=F.col("lts"),
            right_ts=F.col("rts"),
            lower_s=0,
            upper_s=5,
        )
        secs = sorted(r.rts.second for r in out.collect())
        assert secs == [0, 5]  # 6 is outside the inclusive upper bound

    def test_enrich_dims_left_vs_missdrop(self, spark):
        fact = spark.createDataFrame([(1, 10), (2, 99)], "fid long, dim_id long")
        dim = spark.createDataFrame([(10, "x")], "id long, name string")
        cond = F.col("dim_id") == F.col("id")
        left = enrich_dims(fact, [(dim, cond)])
        assert left.count() == 2
        assert left.filter(F.col("name").isNull()).count() == 1
        dropped = enrich_dims(fact, [(dim, cond)], drop_on_miss=True)
        assert dropped.count() == 1  # DimUtil.java:27 drop semantics


class TestAsofSubsecond:
    def test_asof_join_subsecond_timestamp_precision(self, spark):
        """Timestamp-typed as-of inputs must order at MICROSECOND
        precision (ADVICE r02: cast('long') truncated to seconds,
        collapsing a version and fact inside the same second). A
        version 1 us after the fact must NOT be picked; 1 us before
        must."""
        import datetime as dt

        from gmall2021_flink_dw_spark.operators.joins import asof_join

        base = dt.datetime(2024, 1, 1, 0, 0, 1, 500_000)
        facts = spark.createDataFrame(
            [(1, base)], "k long, ts timestamp"
        )
        versions = spark.createDataFrame(
            [
                (1, base - dt.timedelta(microseconds=1), "before"),
                (1, base + dt.timedelta(microseconds=1), "after"),
            ],
            "k long, vts timestamp, tag string",
        )
        out = asof_join(
            facts, versions, key="k", fact_ts="ts", version_ts="vts",
            version_cols=["tag"],
        ).collect()
        assert len(out) == 1
        assert out[0].tag == "before"
