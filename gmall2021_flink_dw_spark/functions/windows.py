"""Tumbling event-time window helpers, emitted for BOTH engines.

The reference's DWS layer aggregates in 10 s tumbling event-time windows
(``VisitorStatsApp.java:128``, ``ProductStatsApp.java:204``,
``ProvinceStatsSqlApp.java:54-72``) and stamps `stt`/`edt` window bounds
formatted 'yyyy-MM-dd HH:mm:ss' (``ProductStatsApp.java:229-242``).

To keep the Spark query and the DuckDB oracle in lock-step, each helper
here produces the Spark Column AND the equivalent DuckDB SQL text from one
definition. Window start = floor(epoch/width)*width — identical math in
both engines, no timezone involvement (testdata timestamps are naive).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FMT = "yyyy-MM-dd HH:mm:ss"
DUCK_FMT = "%Y-%m-%d %H:%M:%S"


def window_bounds(ts_col: str, seconds: int) -> tuple[Column, Column]:
    """Spark: (stt, edt) formatted-string bounds of the `seconds`-wide
    tumbling window containing ts. Uses F.window so streaming reuses the
    same expression."""
    w = F.window(F.col(ts_col), f"{seconds} seconds")
    return (
        F.date_format(w.start, FMT).alias("stt"),
        F.date_format(w.end, FMT).alias("edt"),
    )


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
