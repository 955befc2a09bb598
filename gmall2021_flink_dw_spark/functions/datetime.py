"""Scalar datetime helpers (SURVEY §2.9 F2-F8, F11).

The reference's datetime surface, re-expressed as thin wrappers over
built-in (codegen'd) functions so they appear by name in plans and can
be unit-tested once:

- F2 ``TO_TIMESTAMP(FROM_UNIXTIME(ts/1000))`` (KeywordStatsApp.java:40)
- F3 ``TO_TIMESTAMP(create_time)``          (ProvinceStatsSqlApp.java:47)
- F4 ``DATE_FORMAT(x, 'yyyy-MM-dd HH:mm:ss')``
- F6 string datetime <-> epoch millis       (DateTimeUtil.java:10-18;
  the reference pins +08:00 — here the session timezone decides, UTC in
  tests)
- F7 date / hour derivation by string split (OrderWideApp.java:43-45)
- F11 ``toYYYYMMDD(stt)``                   (ProductStatsMapper.java:16-37)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.functions.windows import FMT


def epoch_millis_to_ts(ms: Column | str) -> Column:
    """F2: epoch millis -> timestamp."""
    c = F.col(ms) if isinstance(ms, str) else ms
    return F.timestamp_millis(c.cast("long"))


def parse_datetime(s: Column | str, fmt: str = FMT) -> Column:
    """F3/F6: 'yyyy-MM-dd HH:mm:ss' string -> timestamp.

    try_ variant on purpose: under ANSI mode (Spark 4 default) a plain
    to_timestamp THROWS on a malformed string — one dirty row would kill
    a whole job at scale. NULL-on-corrupt feeds the P1 dirty-split
    pattern instead (BaseLogApp.java:35-48)."""
    c = F.col(s) if isinstance(s, str) else s
    return F.try_to_timestamp(c, F.lit(fmt))


def format_datetime(ts: Column | str, fmt: str = FMT) -> Column:
    """F4/F6: timestamp -> formatted string."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_format(c, fmt)


def ts_to_epoch_millis(ts: Column | str) -> Column:
    """F6 reverse: timestamp -> epoch millis."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return (F.unix_micros(c.cast("timestamp")) / 1000).cast("long")


def derive_date_hour(create_time: Column | str) -> tuple[Column, Column]:
    """F7/P8: (create_date 'yyyy-MM-dd', create_hour int) — the
    reference splits the string on ' '; same result via date functions
    so it works on timestamps too."""
    c = F.col(create_time) if isinstance(create_time, str) else create_time
    return (
        F.date_format(c, "yyyy-MM-dd").alias("create_date"),
        F.date_format(c, "HH").cast("int").alias("create_hour"),
    )


def to_yyyymmdd(ts: Column | str) -> Column:
    """F11: ClickHouse toYYYYMMDD — int like 20240101 (partition key)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_format(c, "yyyyMMdd").cast("int")
