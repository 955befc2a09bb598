"""Central query registry.

Every capability claimed from SURVEY.md §2 registers here as a
:class:`QuerySpec`: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus
(where SQL-expressible) the equivalent DuckDB oracle SQL over the same
parquet tables. ``__spark_entry__.py`` exposes this registry to the
driver; ``tests/test_oracle_parity.py`` runs the identical comparison
locally, so the pytest suite and the driver's correctness gate are the
same check.

Determinism rules (so value-hashes match across engines):
- money/double aggregates are computed in exact decimal (order
  independent) then cast to DOUBLE in BOTH engines; functions/money.py
  holds the money types and each rule as a Spark/DuckDB pair;
- timestamps in outputs are formatted 'yyyy-MM-dd HH:mm:ss' strings;
- every computed column is explicitly aliased identically on both sides;
- ORDER BY ... LIMIT queries use a total order (tie-broken by key).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from gmall2021_flink_dw_spark.cache import open_cache_epoch
from gmall2021_flink_dw_spark.session import ensure_workers_can_import

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}

# Modules that register queries on import; load_all() returns the
# registry in the order these imports register it.
_QUERY_MODULES = (
    "gmall2021_flink_dw_spark.plans.datapipe",
    "gmall2021_flink_dw_spark.plans.bpe",
    "gmall2021_flink_dw_spark.plans.cdc_routing",
    "gmall2021_flink_dw_spark.plans.streaming_queries",
    "gmall2021_flink_dw_spark.plans.keyword",
    "gmall2021_flink_dw_spark.plans.stats",
    "gmall2021_flink_dw_spark.plans.union_stats",
    "gmall2021_flink_dw_spark.plans.log_pipeline",
    "gmall2021_flink_dw_spark.plans.order_pipeline",
    "gmall2021_flink_dw_spark.plans.ads",
    "gmall2021_flink_dw_spark.plans.advanced",
    "gmall2021_flink_dw_spark.plans.tpch",
    "gmall2021_flink_dw_spark.plans.tpch_extra",
    "gmall2021_flink_dw_spark.plans.tpch_full",
)


def register(
    name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def entry(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Every query entry opens a new cache epoch — releases what
            # the previous query on this thread left behind (see
            # cache.py); that result is consumed by the time the next
            # query runs. It then ships the package to the executors'
            # Python workers (once per context; a list lookup after),
            # so a query that runs a Python UDF needs no call of its own.
            open_cache_epoch()
            ensure_workers_can_import(spark)
            return fn(spark, sf_dir)

        entry.__name__ = fn.__name__
        entry.__doc__ = fn.__doc__
        REGISTRY[name] = QuerySpec(
            name=name, fn=entry, oracle=oracle, doc=doc, tags=tags
        )
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return dict(REGISTRY)
