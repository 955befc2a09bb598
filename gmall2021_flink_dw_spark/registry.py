"""Central query registry.

Every capability claimed from SURVEY.md §2 registers here as a
:class:`QuerySpec`: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus
(where SQL-expressible) the equivalent DuckDB oracle SQL over the same
parquet tables. ``__spark_entry__.py`` exposes this registry to the
driver; ``tests/test_oracle_parity.py`` runs the identical comparison
locally, so the pytest suite and the driver's correctness gate are the
same check.

Determinism rules (so value-hashes match across engines):
- money/double aggregates are computed in DECIMAL(18,2) (exact, order
  independent) then cast to DOUBLE in BOTH engines;
- timestamps in outputs are formatted 'yyyy-MM-dd HH:mm:ss' strings;
- every computed column is explicitly aliased identically on both sides;
- ORDER BY ... LIMIT queries use a total order (tie-broken by key).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}

# Modules that register queries on import. Import order no longer
# drives driver visibility — _DRIVER_WINDOW below explicitly orders the
# correctness-gate prefix each round; modules just need to all load.
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
            # Every query entry opens a new cache epoch — reclaims the
            # previous query's tracked persists (see cache.py); that
            # result is consumed by the time the next query runs.
            from gmall2021_flink_dw_spark.cache import open_cache_epoch

            open_cache_epoch()
            return fn(spark, sf_dir)

        entry.__name__ = fn.__name__
        entry.__doc__ = fn.__doc__
        REGISTRY[name] = QuerySpec(
            name=name, fn=entry, oracle=oracle, doc=doc, tags=tags
        )
        return fn

    return deco


# Driver-visibility rotation (VERDICT r02 item 2): the driver's
# correctness gate records a bounded PREFIX of the order queries()
# returns (50 entries per round), so every round this list is rebuilt
# to front-load (a) queries whose newest driver row is oldest, (b)
# brand-new queries and queries whose plan changed since their latest
# CORRECTNESS row, then (c) oldest-first among the rest. Names listed
# here are surfaced first, in order; everything else follows in
# registration order.
#
# _WINDOW_ROUND pins the round this window was built FOR. CATALOG.md and
# the rotation tests (tests/test_catalog.py) read only driver artifacts
# from rounds < _WINDOW_ROUND, so the tree stays green by construction
# when the driver drops CORRECTNESS_r{_WINDOW_ROUND}.json after the last
# commit (VERDICT r04 item 1: the handover state must be green; the
# forcing function moves to the start-of-round bump, asserted by
# test_window_round_is_bumped).
_WINDOW_ROUND = 15

# r15 window, rebuilt late: round 15 ran on the r14 window, so the 9
# names spilled from r14 still lead. Census 159 registered queries;
# staleness bound ceil(159/50) - 1 = 3 successful driver rounds.
#
# Layout: (a) the 9 names whose newest driver row is r11, over the
# bound without a slot; (b) the r12 cohort in registration order, 41
# of its 50 names. The 9 r12 names that do not fit sit at effective
# staleness 3 (exactly the bound) and MUST lead the next rebuild:
# dwm_session_stats, dwm_order_wide, dwm_order_wide_missdrop,
# dwm_payment_wide, ads_gmv_by_day, ads_top_brands, ads_top_types,
# ads_top_parts, dws_sales_cube.
_DRIVER_WINDOW = (
    # (a) newest driver row r11
    "cdc_scd2",
    "streaming_visitor_stats",
    "streaming_exact_distinct",
    "streaming_interval_join",
    "streaming_session_window",
    "streaming_keyword_stats",
    "dws_keyword_stats",
    "dws_visitor_stats",
    "dws_product_stats",
    # (b) the r12 cohort, registration order; the 9 spilled names
    # listed above MUST lead the next rebuild
    "multimodal_decode_jpeg_ac",
    "multimodal_audio_features",
    "multimodal_image_stats",
    "dedup_substring_spans",
    "dedup_substring_clean",
    "sample_weighted",
    "dedup_substring_clean_keepfirst",
    "source_jsonl_events",
    "source_orc_events",
    "source_csv_docs",
    "text_normalize",
    "shard_balance",
    "source_schema_evolution",
    "lake_compact_events",
    "dws_event_pivot",
    "ads_gmv_trailing_7d",
    "source_variant_props",
    "text_heavy_hitters",
    "vocab_coverage",
    "lake_zorder_layout",
    "embedding_gram",
    "cdc_incremental_agg",
    "streaming_hopping_stats",
    "streaming_topic_router",
    "streaming_late_data_drop",
    "streaming_dws_sink",
    "streaming_gmv_dashboard",
    "streaming_gmv_update_log",
    "dws_keyword_stats_udf",
    "dws_province_stats",
    "dws_product_stats_approx",
    "dws_order_quantiles_approx",
    "dws_promo_window_stats",
    "dws_visitor_stats_compat",
    "dws_event_measures",
    "dwd_clean_events",
    "kafka_wire_events",
    "dwd_event_split_counts",
    "dwm_unique_visit",
    "dwd_new_user_flag",
    "dwm_user_jump",
)

# Queries registered AFTER the upcoming round's 50-slot window filled.
# These carry local oracle parity but zero driver evidence yet, and
# MUST be the first (b)-section entries of the NEXT window rebuild.
# tests/test_catalog.py projects them to round _WINDOW_ROUND + 1 and
# caps how many may wait. New r12 queries appended as they land.
_PENDING_FIRST_WINDOW: tuple[str, ...] = ()


def load_all() -> dict[str, QuerySpec]:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    missing = [n for n in _DRIVER_WINDOW if n not in REGISTRY]
    if missing:  # not assert: must survive python -O (ADVICE r03)
        raise ValueError(f"_DRIVER_WINDOW names not registered: {missing}")
    ordered = {n: REGISTRY[n] for n in _DRIVER_WINDOW}
    ordered.update((n, s) for n, s in REGISTRY.items() if n not in ordered)
    return ordered
