"""Event-time window rules, written once for the DuckDB oracles.

The reference's DWS layer aggregates in 10 s tumbling event-time windows
(``VisitorStatsApp.java:128``, ``ProductStatsApp.java:204``,
``ProvinceStatsSqlApp.java:54-72``) and stamps `stt`/`edt` window bounds
formatted 'yyyy-MM-dd HH:mm:ss' (``ProductStatsApp.java:229-242``).

The Spark side of each rule is a native operator (F.window,
F.session_window, date_format with FMT). Each helper here is its DuckDB
twin, shared by every oracle of that window shape, so two oracles cannot
drift apart on one rule. Window start = floor(epoch/width)*width —
identical math in both engines, no timezone involvement (testdata
timestamps are naive).
"""

from __future__ import annotations

FMT = "yyyy-MM-dd HH:mm:ss"
DUCK_FMT = "%Y-%m-%d %H:%M:%S"


def duck_window_bounds(ts_col: str, seconds: int) -> tuple[str, str]:
    """DuckDB SQL for the same (stt, edt). make_timestamp takes epoch
    micros and returns a naive timestamp — no tz conversion."""
    start = (
        f"make_timestamp(cast(floor(epoch({ts_col})/{seconds})*{seconds} "
        f"as bigint)*1000000)"
    )
    end = (
        f"make_timestamp((cast(floor(epoch({ts_col})/{seconds})*{seconds} "
        f"as bigint)+{seconds})*1000000)"
    )
    return (
        f"strftime({start}, '{DUCK_FMT}') as stt",
        f"strftime({end}, '{DUCK_FMT}') as edt",
    )


# Per user in (ts, event_id) order: the ordering half of the session rule.
_DUCK_USER_W = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"


def duck_is_entry(gap_s: int) -> str:
    """DuckDB 1/0 flag of the session-entry rule over `events`: an event
    opens a session when it is the user's first or comes MORE than
    `gap_s` seconds after the previous one. Spark merges an event exactly
    one gap later into the open session (measured on 4.1 in batch and in
    a memory-sink stream)."""
    prev_us = f"lag(epoch_us(ts)) {_DUCK_USER_W}"
    return (
        f"CASE WHEN {prev_us} IS NULL OR epoch_us(ts) - {prev_us} > {gap_s}*1000000 "
        "THEN 1 ELSE 0 END"
    )


def duck_sessions_ctes(gap_s: int) -> str:
    """DuckDB CTEs `marked` and `sessions` rebuilding F.session_window
    over `events`: per user in (ts, event_id) order, each entry
    (duck_is_entry) opens the next session. `sessions` carries
    (user_id, ts, value, sid)."""
    return f"""marked AS (
      SELECT user_id, ts, event_id, value, {duck_is_entry(gap_s)} AS is_entry
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(is_entry) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )"""


def duck_jumps_cte(gap_s: int, timeout_s: int) -> str:
    """DuckDB CTE `jumps` replaying operators/cep.py::detect_jumps over
    `events`: (user_id, event_id, ts_us) of each session entry whose next
    event is absent or more than `timeout_s` seconds later."""
    return f"""jumps AS (
      SELECT user_id, event_id, ts_us FROM (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               {duck_is_entry(gap_s)} AS is_entry,
               lead(epoch_us(ts)) {_DUCK_USER_W} AS next_us
        FROM events
      )
      WHERE is_entry = 1
        AND (next_us IS NULL OR next_us - ts_us > {timeout_s}*1000000)
    )"""


# The hopping window: 30 min long, a new one every 10 min.
HOP_SIZE_S = 1800
HOP_SLIDE_S = 600
_SLIDE_US = HOP_SLIDE_S * 1_000_000
_BACK_US = (HOP_SIZE_S - HOP_SLIDE_S) * 1_000_000  # earliest start's lag

# DuckDB CTEs `e` and `w` replaying F.window(ts, HOP_SIZE_S, HOP_SLIDE_S)
# over `events`: each event lands in the 3 epoch-aligned windows whose
# start `ws` (epoch micros) is within one window size before it.
DUCK_HOPPING_CTES = f"""e AS (
      SELECT event_type, value, epoch_us(ts) AS te FROM events
    ), w AS (
      SELECT event_type, value,
             unnest(generate_series((te // {_SLIDE_US}) * {_SLIDE_US} - {_BACK_US},
                                    (te // {_SLIDE_US}) * {_SLIDE_US},
                                    {_SLIDE_US})) AS ws
      FROM e
    )"""
