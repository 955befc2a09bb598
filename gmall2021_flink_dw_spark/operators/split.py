"""Row-level parse / split operators (SURVEY §2.3 P1-P3).

Parity targets:
- P1 dirty-record parse: the reference try-parses each Kafka record and
  routes failures to a ``Dirty`` side output (``BaseLogApp.java:35-48``).
  Spark-first form: ``from_json`` yields NULL on corrupt input, so a
  query keeps or drops rows with a filter on the parsed column; no
  per-record exception control flow.
- P3 page/start/display split: one parsed stream fanned out into N
  filtered DataFrames (``BaseLogApp.java:84-121``) — side outputs become
  plain filters (all pushed to the parquet scan when possible).

All functions are pure DataFrame -> DataFrame and work identically on
batch and streaming inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Schema of the `events.props` JSON payload (schema-on-read pinned to a
# StructType, per SURVEY §1.2 — the reference keeps raw JSONObjects).
PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType(), True)])


def parse_props(events: DataFrame) -> DataFrame:
    """P1: parse the JSON `props` payload; corrupt rows get NULL `props_k`.

    Mirrors ``BaseLogApp.java:37-48`` (fastjson parse with Dirty side
    output) as a single vectorized ``from_json``.
    """
    return events.withColumn(
        "parsed", F.from_json(F.col("props"), PROPS_SCHEMA)
    ).withColumn("props_k", F.col("parsed.k")).drop("parsed")


def split_by_type(events: DataFrame) -> dict[str, DataFrame]:
    """P3: fan one stream out into per-kind streams (side-output analog,
    ``BaseLogApp.java:84-121``). `start` ~ signup, `page` ~ view/click/
    purchase, `error` separate — the driver testdata's event_type plays
    the role of the log record kind."""
    return {
        "start": events.filter(F.col("event_type") == "signup"),
        "page": events.filter(F.col("event_type").isin("view", "click", "purchase")),
        "error": events.filter(F.col("event_type") == "error"),
    }


def filter_cdc_deletes(changelog: DataFrame) -> DataFrame:
    """P2: keep everything except deletes (``BaseDBApp.java:39-45``)."""
    return changelog.filter(F.col("op") != "delete")
