"""Sessionization + CEP-style bounce ("user jump") detection — batch form.

Parity target W7: the reference runs a Flink CEP NFA per `mid` with strict
contiguity and a 10 s within-timeout (``UserJumpDetailApp.java:77-89``,
timeout side-output ``:104-134``): an entry-page event followed
immediately by another entry event, OR by silence past the timeout, marks
a bounce ("jump"). Its own expected-behavior transcript is at
``UserJumpDetailAppBak.java:28-43``.

Spark-first batch realization: `lag`/`lead` over a per-key event-time
window — one shuffle on the key, no NFA, and the same answer:

- entry      := event with no predecessor within `session_gap`
- jump/bounce:= entry whose successor is absent or more than
                `jump_timeout` away

The streaming twin (true per-event emission with event-time timers) is
``streaming/stateful.py::jump_detect_stream_bucketed`` via
applyInPandasWithState; this batch operator is its oracle, mirroring how
the reference's CEP variant and its commented transcript validate each
other.

Scale: one hash shuffle on the key; window sort is per-key (bounded by a
user's event count); AQE handles skewed hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.streaming.stateful import JUMP_TIMEOUT_S, SESSION_GAP_S


def mark_sessions(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    order_tiebreak: str = "event_id",
    session_gap_s: int = SESSION_GAP_S,
) -> DataFrame:
    """Add `is_entry` (session-entry flag) and `session_id` (count of
    entries so far per key — a deterministic session surrogate)."""
    w = Window.partitionBy(key).orderBy(F.col(ts), F.col(order_tiebreak))
    ts_us = F.unix_micros(F.col(ts).cast("timestamp"))
    prev_us = F.lag(ts_us).over(w)
    is_entry = prev_us.isNull() | (ts_us - prev_us > session_gap_s * 1_000_000)
    return df.withColumn("is_entry", is_entry).withColumn(
        "session_id",
        F.sum(F.col("is_entry").cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


def detect_jumps(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    order_tiebreak: str = "event_id",
    session_gap_s: int = SESSION_GAP_S,
    jump_timeout_s: int = JUMP_TIMEOUT_S,
) -> DataFrame:
    """W7: rows that are session entries with no follow-up event within
    `jump_timeout_s` (bounce by timeout) or whose immediate successor is
    itself an entry (bounce by contiguous entry — impossible here when
    jump_timeout <= session_gap, kept for parity with the CEP union of
    match + timeout outputs)."""
    w = Window.partitionBy(key).orderBy(F.col(ts), F.col(order_tiebreak))
    ts_us = F.unix_micros(F.col(ts).cast("timestamp"))
    next_us = F.lead(ts_us).over(w)
    marked = mark_sessions(df, key, ts, order_tiebreak, session_gap_s)
    timeout = next_us.isNull() | (next_us - ts_us > jump_timeout_s * 1_000_000)
    return marked.withColumn("__timeout", timeout).filter(
        F.col("is_entry") & F.col("__timeout")
    ).drop("__timeout")
