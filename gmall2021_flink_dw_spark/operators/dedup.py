"""Stateful dedup / first-seen operators (SURVEY §2.10 W4, §2.3 P11).

Parity targets:
- W4 daily unique-visit dedup: per-mid ValueState with 24h TTL keeps only
  the first entry event per device per day (``UniqueVisitApp.java:43-78``).
  Batch form: ``row_number() over (partition by key, day order by ts) = 1``
  — a single shuffle on (key, day), no external state store.
- P11 new/old-user flag correction: per-mid ValueState rewrites a lying
  ``is_new='1'`` to ``'0'`` for any event after the first
  (``BaseLogApp.java:52-77``). Batch form: ``ts > min(ts) over key``.

Streaming twins live in ``streaming/stateful.py`` (dropDuplicates with
watermark / applyInPandasWithState); these batch forms are the oracle.

Scale note: the window shuffle partitions by the state key exactly like
Flink's keyBy; with AQE skew-join/partition-coalescing enabled a hot key
splits at runtime. min/row_number aggregation is partial-aggregated
map-side by Catalyst where possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def first_visit_per_day(
    df: DataFrame, key: str = "user_id", ts: str = "ts"
) -> DataFrame:
    """W4: keep each key's first event per calendar day, stamped `dt`."""
    day = F.to_date(F.col(ts)).alias("dt")
    w = Window.partitionBy(F.col(key), F.to_date(F.col(ts))).orderBy(
        F.col(ts), F.col("event_id")
    )
    return (
        df.withColumn("dt", day)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def correct_new_user_flag(
    df: DataFrame, key: str = "user_id", ts: str = "ts"
) -> DataFrame:
    """P11: `is_new='1'` only on a key's first-ever event (by ts, tie-broken
    by event_id), else '0'. Deterministic batch semantics of the
    reference's state-based correction."""
    w = Window.partitionBy(key)
    first_ts = F.min(F.struct(F.col(ts), F.col("event_id"))).over(w)
    return df.withColumn(
        "is_new",
        F.when(F.struct(F.col(ts), F.col("event_id")) == first_ts, F.lit("1")).otherwise(
            F.lit("0")
        ),
    )
