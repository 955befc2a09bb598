"""DWS windowed aggregate queries (SURVEY §2.5 A1-A5, §2.10 W3).

The reference's DWS layer aggregates unioned DWD/DWM streams in 10 s
tumbling event-time windows keyed by dimensions, stamping stt/edt window
bounds (VisitorStatsApp, ProductStatsApp, ProvinceStatsSqlApp). Batch
re-expression: groupBy(window(ts, W), dims) — Catalyst splits it into
partial + final HashAggregate automatically (the reference hand-builds
this as reduce-then-windowfunction, ProductStatsApp.java:203-242).

Window widths here are hourly/daily (the testdata spans weeks/years, so
10 s windows would degenerate to one row per event); the width is a
parameter of the same operator the reference fixes at 10 s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.functions.money import (
    disc_price,
    duck_disc_price_sum,
    duck_money,
    duck_money_sum,
    money,
)
from gmall2021_flink_dw_spark.functions.windows import (
    FMT,
    duck_is_entry,
    duck_window_bounds,
)
from gmall2021_flink_dw_spark.registry import register
from gmall2021_flink_dw_spark.sources.batch import load_table
from gmall2021_flink_dw_spark.streaming.stateful import SESSION_GAP_S

_HOUR = 3600
_DAY = 86400

_VS_STT, _VS_EDT = duck_window_bounds("ts", _HOUR)


@register(
    "dws_visitor_stats",
    oracle=f"""
    SELECT {_VS_STT}, {_VS_EDT}, event_type,
           count(*) AS pv_ct,
           count(DISTINCT user_id) AS uv_ct,
           count(DISTINCT CASE WHEN event_type = 'signup' THEN user_id END) AS new_uv_ct,
           {duck_money_sum("value")} AS dur_sum
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="A2/W3 VisitorStats: tumbling-window multi-measure aggregate "
    "(VisitorStatsApp.java:128-149). Implements the intended sum-all-"
    "measures semantics; the reference's reduce quirk (only dur_sum "
    "summed, VisitorStatsApp.java:129-134) is documented, not replicated.",
    tags=("dws", "agg", "window"),
)
def dws_visitor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Two-phase exact distinct (the dws_product_stats single-shuffle
    # pattern): TWO countDistincts mixed with plain aggregates would
    # plan a 3-branch Expand — triple the shuffled event rows. Instead
    # pre-aggregate per (window, event_type, user_id) and derive both
    # distinct counts by counting/filtering the user groups; the
    # explicit repartition keys are a subset of both clusterings, so
    # everything stacks on ONE shuffle.
    pre = (
        ev.withColumn("w", F.window("ts", f"{_HOUR} seconds"))
        .repartition(F.col("w"), F.col("event_type"))
        .groupBy("w", "event_type", "user_id")
        .agg(
            F.count(F.lit(1)).alias("_pv"),
            F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias(
                "_signup"
            ),
            F.sum(money("value")).alias("_dur"),
        )
    )
    return (
        pre.groupBy("w", "event_type")
        .agg(
            F.sum("_pv").alias("pv_ct"),
            F.count(F.lit(1)).alias("uv_ct"),
            F.sum("_signup").alias("new_uv_ct"),
            F.sum("_dur").cast("double").alias("dur_sum"),
        )
        .withColumn("window", F.col("w"))
        .select(
            F.date_format("window.start", FMT).alias("stt"),
            F.date_format("window.end", FMT).alias("edt"),
            "event_type",
            "pv_ct",
            "uv_ct",
            "new_uv_ct",
            "dur_sum",
        )
    )


_PS_STT, _PS_EDT = duck_window_bounds("l_shipdate", _DAY)


@register(
    "dws_product_stats",
    oracle=f"""
    SELECT {_PS_STT}, {_PS_EDT}, l_partkey, p_brand,
           {duck_money_sum("l_quantity")} AS sku_num,
           {duck_disc_price_sum()} AS order_amount,
           count(DISTINCT l_orderkey) AS order_ct,
           count(*) AS line_ct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1, 2, 3, 4
    """,
    doc="A1/A3 ProductStats: per-sku tumbling-window aggregate with exact "
    "distinct order count (ProductStatsApp.java:203-242 reduce + HashSet "
    "union, ProductStats.java:74-84). collect_set-size == countDistinct; "
    "broadcast part dim replaces the per-row sku lookup.",
    tags=("dws", "agg", "window", "distinct"),
)
def dws_product_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # Exact distinct-order count via two-phase aggregation: pre-aggregate
    # on (day, sku, orderkey), then count the orderkey groups. Avoids
    # Catalyst's Expand (which doubles the shuffled rows when countDistinct
    # mixes with plain aggregates). ONE shuffle for both phases: the
    # explicit repartition on (day, sku) is a HashPartitioning whose keys
    # are a subset of both groupBy clusterings, so EnsureRequirements
    # inserts no further exchange — measured 2.1x over the naive two-
    # shuffle form at sf0.1, and strictly half the shuffle IO at 100 TB.
    # (Partial map-side agg is useless here anyway: (day, sku, orderkey)
    # is nearly unique per fact row.) A day-wide tumbling window is the
    # calendar day of l_shipdate (time of day dropped), so the window
    # struct reduces to that date with edt = date_add(1).
    # The part dim joins AFTER both phases: p_brand is functionally
    # dependent on l_partkey, so enriching the (day, sku) result rows
    # beats dragging the brand string through the fact-row shuffle.
    pre = (
        li.withColumn("day", F.to_date("l_shipdate"))
        .repartition(F.col("day"), F.col("l_partkey"))
        .groupBy("day", "l_partkey", "l_orderkey")
        .agg(
            F.sum(money("l_quantity")).alias("_qty"),
            F.sum(disc_price()).alias("_amount"),
            F.count(F.lit(1)).alias("_lines"),
        )
    )
    return (
        pre.groupBy("day", "l_partkey")
        .agg(
            F.sum("_qty").cast("double").alias("sku_num"),
            F.sum("_amount").cast("double").alias("order_amount"),
            F.count(F.lit(1)).alias("order_ct"),
            F.sum("_lines").alias("line_ct"),
        )
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select(
            F.date_format("day", FMT).alias("stt"),
            F.date_format(F.date_add("day", 1), FMT).alias("edt"),
            "l_partkey",
            "p_brand",
            "sku_num",
            "order_amount",
            "order_ct",
            "line_ct",
        )
    )


_PR_STT, _PR_EDT = duck_window_bounds("o_orderdate", 7 * _DAY)


@register(
    "dws_province_stats",
    oracle=f"""
    SELECT {_PR_STT}, {_PR_EDT}, n_name AS province_name, r_name AS area_code,
           count(DISTINCT o_orderkey) AS order_count,
           {duck_money_sum("o_totalprice")} AS order_amount
    FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN nation   ON c_nationkey = n_nationkey
                JOIN region   ON n_regionkey = r_regionkey
    GROUP BY 1, 2, 3, 4
    """,
    doc="A4 ProvinceStats SQL app (ProvinceStatsSqlApp.java:53-72): "
    "windowed GROUP BY dims + COUNT(DISTINCT order_id) + SUM(amount); "
    "nation/region stand in for province dims; weekly tumble.",
    tags=("dws", "agg", "window", "distinct", "sql"),
)
def dws_province_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # Two-phase exact distinct (same single-shuffle pattern as
    # dws_product_stats): pre-aggregate on (window, dims, orderkey),
    # then count the orderkey groups. Mixing countDistinct with sum in
    # one agg plans an Expand that doubles the shuffled fact rows — at
    # 100 TB the Expand on the orders fact is the dominant shuffle. The
    # explicit repartition keys are a subset of both groupBy
    # clusterings, so EnsureRequirements inserts no further exchange:
    # ONE shuffle total, and the broadcast dim joins stay narrow.
    enriched = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .withColumn("w", F.window("o_orderdate", f"{7 * _DAY} seconds"))
    )
    pre = (
        enriched.repartition(F.col("w"), F.col("n_name"), F.col("r_name"))
        .groupBy("w", "n_name", "r_name", "o_orderkey")
        .agg(F.sum(money("o_totalprice")).alias("_amt"))
    )
    return (
        pre.groupBy("w", "n_name", "r_name")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.sum("_amt").cast("double").alias("order_amount"),
        )
        .withColumn("window", F.col("w"))
        .select(
            F.date_format("window.start", FMT).alias("stt"),
            F.date_format("window.end", FMT).alias("edt"),
            F.col("n_name").alias("province_name"),
            F.col("r_name").alias("area_code"),
            "order_count",
            "order_amount",
        )
    )


@register(
    "dws_product_stats_approx",
    oracle="""
    SELECT l_partkey,
           count(DISTINCT l_orderkey) AS order_ct,
           count(*) AS line_ct,
           TRUE AS approx_ok
    FROM lineitem GROUP BY l_partkey
    """,
    doc="A3 scale path: approx_count_distinct (HLL, rsd=0.02) replaces "
    "the exact HashSet union for 100 TB-scale distinct counting (SURVEY "
    "A3 note). The HLL value itself has no SQL oracle, so the query "
    "emits the exact count (two-phase, no Expand) PLUS approx_ok = "
    "|hll - exact| <= max(1, 10% of exact) — the oracle pins the exact "
    "columns and expects approx_ok TRUE everywhere, making the sketch's "
    "error bound driver-checkable instead of rows-only. The tighter "
    "rsd-level bound stays asserted in pytest.",
    tags=("dws", "agg", "approx"),
)
def dws_product_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # pre-collapse to distinct (partkey, orderkey): HLL is duplicate-
    # insensitive, so sketching the deduped rows gives the identical
    # estimate while the same pre-aggregate feeds the exact count —
    # one shuffle, no Expand.
    pre = (
        li.repartition(F.col("l_partkey"))
        .groupBy("l_partkey", "l_orderkey")
        .agg(F.count(F.lit(1)).alias("_lines"))
    )
    agg = pre.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("order_ct"),
        F.sum("_lines").alias("line_ct"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("_approx"),
    )
    return agg.select(
        "l_partkey",
        "order_ct",
        "line_ct",
        (
            F.abs(F.col("_approx") - F.col("order_ct"))
            <= F.greatest(F.lit(1), F.round(F.col("order_ct") * 0.1))
        ).alias("approx_ok"),
    )


@register(
    "dws_order_quantiles_approx",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 6) AS p50_exact,
           round(quantile_cont(o_totalprice, 0.99), 6) AS p99_exact,
           count(*) AS n,
           TRUE AS sketch_ok
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Quantile sketch path for 100 TB (companion to the exact "
    "ads_order_quantiles): percentile_approx (t-digest-style mergeable "
    "sketch, single pass, bounded memory) replaces the per-group sort "
    "that exact percentile needs. Same driver-checkable treatment as "
    "the HLL query: emit the exact percentiles plus sketch_ok = both "
    "approx values within 2% of exact — the oracle pins the exact "
    "columns and expects sketch_ok TRUE everywhere.",
    tags=("dws", "agg", "quantile", "approx"),
)
def dws_order_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("_e50"),
        F.expr("percentile(o_totalprice, 0.99)").alias("_e99"),
        F.expr("percentile_approx(o_totalprice, 0.5, 10000)").alias("_a50"),
        F.expr("percentile_approx(o_totalprice, 0.99, 10000)").alias("_a99"),
        F.count(F.lit(1)).alias("n"),
    )
    ok = (
        (F.abs(F.col("_a50") - F.col("_e50")) <= 0.02 * F.col("_e50"))
        & (F.abs(F.col("_a99") - F.col("_e99")) <= 0.02 * F.col("_e99"))
    )
    return agg.select(
        "o_orderpriority",
        F.round("_e50", 6).alias("p50_exact"),
        F.round("_e99", 6).alias("p99_exact"),
        "n",
        ok.alias("sketch_ok"),
    )


_PROMO_W_US = 2 * _DAY * 1_000_000  # promo duration == bin width


@register(
    "dws_promo_window_stats",
    oracle=f"""
    WITH bounds AS (
      SELECT epoch_us(date_trunc('day', min(ts))) AS t0,
             epoch_us(max(ts)) AS t1
      FROM events
    ), promos AS (
      SELECT unnest(range(0, cast(ceil((t1 - t0)::double
                                       / {7 * _DAY * 1_000_000}) as bigint)))
               AS promo_id, t0
      FROM bounds
    ), p AS (
      SELECT promo_id,
             t0 + promo_id * {7 * _DAY * 1_000_000} AS start_us,
             t0 + promo_id * {7 * _DAY * 1_000_000} + {_PROMO_W_US} AS end_us
      FROM promos
    )
    SELECT p.promo_id, p.start_us,
           count(e.event_id) AS n_events,
           count(DISTINCT e.user_id) AS n_users
    FROM p LEFT JOIN events e
      ON epoch_us(e.ts) >= p.start_us AND epoch_us(e.ts) < p.end_us
    GROUP BY 1, 2
    """,
    doc="Range join WITHOUT an equi key, done the scale way: promo "
    "windows (first 2 days of each week, generated deterministically "
    "from the event span) match events by ts containment. The naive "
    "plan is a BroadcastNestedLoopJoin — O(rows x ranges). Here both "
    "sides are BINNED at the max range width (each range spans <= 2 "
    "bins, each event exactly 1), the join becomes an equi join on the "
    "bin id plus a residual containment filter, and the plan audit "
    "asserts no nested loop survives. This is the standard range-join "
    "binning rewrite (Databricks' range-join hint does the same under "
    "the hood). Left join keeps empty promos at zero.",
    tags=("dws", "join", "range-join", "agg"),
)
def dws_promo_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    week_us = 7 * _DAY * 1_000_000
    bounds = ev.agg(
        F.unix_micros(
            F.date_trunc("day", F.timestamp_micros(F.min("ts_us")))
        ).alias("t0"),
        F.max("ts_us").alias("t1"),
    )
    promos = (
        bounds.select(
            "t0",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil((F.col("t1") - F.col("t0")) / F.lit(week_us)) - 1,
                )
            ).alias("promo_id"),
        )
        .select(
            "promo_id",
            (F.col("t0") + F.col("promo_id") * week_us).alias("start_us"),
            (
                F.col("t0") + F.col("promo_id") * week_us + _PROMO_W_US
            ).alias("end_us"),
        )
    )
    # bin at the max range width: a range spans <= 2 bins, an event 1
    p_binned = promos.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(F.col("start_us") / _PROMO_W_US),
                F.floor((F.col("end_us") - 1) / _PROMO_W_US),
            )
        ),
    )
    e_binned = ev.withColumn("bin", F.floor(F.col("ts_us") / _PROMO_W_US))
    joined = e_binned.join(F.broadcast(p_binned), "bin", "inner")
    matched = joined.filter(
        (F.col("ts_us") >= F.col("start_us")) & (F.col("ts_us") < F.col("end_us"))
    )
    # two-phase distinct users per promo; left join back to keep empty
    # promos at zero
    pre = matched.groupBy("promo_id", "start_us", "user_id").agg(
        F.count(F.lit(1)).alias("_n")
    )
    counts = pre.groupBy("promo_id", "start_us").agg(
        F.sum("_n").alias("n_events"), F.count(F.lit(1)).alias("n_users")
    )
    return (
        promos.join(counts.drop("start_us"), "promo_id", "left")
        .select(
            "promo_id",
            "start_us",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("n_users", F.lit(0)).alias("n_users"),
        )
    )


_CVS_STT, _CVS_EDT = duck_window_bounds("ts", _HOUR)


@register(
    "dws_visitor_stats_compat",
    oracle=f"""
    WITH measures AS (
      SELECT ts, event_id, event_type,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, date_trunc('day', ts)
                    ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS uv_ct,
             0 AS pv_ct,
             {duck_is_entry(SESSION_GAP_S)} AS sv_ct,
             {duck_money("value")} AS dur
      FROM events
    ), ranked AS (
      SELECT {_CVS_STT}, {_CVS_EDT}, event_type, uv_ct, pv_ct, sv_ct, dur,
             row_number() OVER (
               PARTITION BY floor(epoch(ts)/{_HOUR}), event_type
               ORDER BY ts, event_id) AS rn
      FROM measures
    )
    SELECT stt, edt, event_type,
           max(CASE WHEN rn = 1 THEN uv_ct END) AS uv_ct,
           max(CASE WHEN rn = 1 THEN pv_ct END) AS pv_ct,
           max(CASE WHEN rn = 1 THEN sv_ct END) AS sv_ct,
           cast(sum(dur) as double) AS dur_sum
    FROM ranked
    GROUP BY stt, edt, event_type
    """,
    doc="COMPAT MODE: faithful replication of the reference's two "
    "VisitorStats quirks — P7: the pv stream hands the reduce a pv_ct of "
    "0 (VisitorStats constructor arg 8 gets 0L, VisitorStatsApp.java:86); "
    "A2: the window reduce sums ONLY dur_sum, so every other measure "
    "keeps the first-arriving element's value (VisitorStatsApp.java:"
    "129-134). Batch-deterministic form: first element = first by "
    "(ts, event_id). Default semantics live in dws_visitor_stats.",
    tags=("dws", "agg", "window", "compat"),
)
def dws_visitor_stats_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w_day = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(ts_us).over(w_user)
    measures = ev.select(
        "ts",
        "event_id",
        "event_type",
        F.when(F.row_number().over(w_day) == 1, 1).otherwise(0).alias("uv_ct"),
        F.lit(0).alias("pv_ct"),
        F.when(
            prev_us.isNull() | (ts_us - prev_us > SESSION_GAP_S * 1_000_000), 1
        )
        .otherwise(0)
        .alias("sv_ct"),
        money("value").alias("dur"),
    ).withColumn("w", F.window("ts", f"{_HOUR} seconds"))
    w_grp = Window.partitionBy("w", "event_type").orderBy("ts", "event_id")
    ranked = measures.withColumn("rn", F.row_number().over(w_grp))
    return (
        ranked.groupBy("w", "event_type")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("uv_ct"))).alias("uv_ct"),
            F.max(F.when(F.col("rn") == 1, F.col("pv_ct"))).alias("pv_ct"),
            F.max(F.when(F.col("rn") == 1, F.col("sv_ct"))).alias("sv_ct"),
            F.sum("dur").cast("double").alias("dur_sum"),
        )
        .select(
            F.date_format("w.start", FMT).alias("stt"),
            F.date_format("w.end", FMT).alias("edt"),
            "event_type",
            "uv_ct",
            "pv_ct",
            "sv_ct",
            "dur_sum",
        )
    )
