"""Advanced operator queries: as-of join, native session windows,
skew-salted aggregation, and deeper TPC-H shapes (correlated max,
bi-national volume, returned-items top-N).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.functions.windows import (
    DUCK_HOPPING_CTES,
    HOP_SIZE_S,
    HOP_SLIDE_S,
    duck_sessions_ctes,
)
from gmall2021_flink_dw_spark.functions.money import (
    disc_price_sum,
    duck_disc_price_sum,
    duck_money_sum,
    money,
    money_sum,
)
from gmall2021_flink_dw_spark.operators.joins import asof_join, salted_aggregate
from gmall2021_flink_dw_spark.registry import register
from gmall2021_flink_dw_spark.sources.batch import load_table
from gmall2021_flink_dw_spark.sources.cdc import (
    ORDERS_CHANGELOG_ORACLE,
    orders_changelog,
)
from gmall2021_flink_dw_spark.streaming.stateful import SESSION_GAP_S


@register(
    "cdc_asof_enrich",
    oracle=f"""
    WITH cl AS ({ORDERS_CHANGELOG_ORACLE}),
    timeline AS (
      SELECT l_orderkey AS k, epoch_us(l_shipdate) AS ts, 1 AS is_fact,
             l_orderkey, l_linenumber, NULL AS after_status
      FROM lineitem
      UNION ALL
      SELECT id AS k, ts_us AS ts, 0 AS is_fact,
             NULL, NULL, after_status
      FROM cl
    ), carried AS (
      SELECT is_fact, l_orderkey, l_linenumber, ts,
             last_value(after_status IGNORE NULLS) OVER (
               PARTITION BY k ORDER BY ts, is_fact
               ROWS UNBOUNDED PRECEDING) AS status_asof
      FROM timeline
    )
    SELECT l_orderkey, l_linenumber, ts AS ship_ts_us, status_asof
    FROM carried WHERE is_fact = 1
    """,
    doc="As-of join (no native Spark operator): each lineitem gets the "
    "order's CDC status version effective at its shipdate — union of "
    "both keyed timelines + one last-non-null window pass (single "
    "shuffle on the key; the scale-correct SCD2/versioned-dim lookup, "
    "vs the reference's point-in-time-less Phoenix point query "
    "DimUtil.java:23-26).",
    tags=("join", "asof", "cdc"),
)
def cdc_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("ship_ts_us"),
    )
    versions = orders_changelog(spark, sf_dir).select(
        "id", "ts_us", F.col("after_status").alias("status_asof")
    )
    out = asof_join(
        li.withColumnRenamed("l_orderkey", "k"),
        versions.withColumnRenamed("id", "k"),
        key="k",
        fact_ts="ship_ts_us",
        version_ts="ts_us",
        version_cols=["status_asof"],
    )
    return out.select(
        F.col("k").alias("l_orderkey"), "l_linenumber", "ship_ts_us", "status_asof"
    )


@register(
    "dws_session_window",
    oracle=f"""
    WITH {duck_sessions_ctes(SESSION_GAP_S)}
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) + {SESSION_GAP_S}*1000000 AS session_end_us,
           count(*) AS n_events,
           {duck_money_sum("value")} AS sv_value
    FROM sessions GROUP BY user_id, sid
    """,
    doc="W3 extension: Spark's NATIVE session_window (gap 30 min) — "
    "dynamic-gap windows the reference cannot express (Flink session "
    "windows unused there); oracle reconstructs the identical sessions "
    "via lag+cumsum.",
    tags=("dws", "session", "window"),
)
def dws_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", f"{SESSION_GAP_S} seconds"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum("value").alias("sv_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start").cast("timestamp")).alias(
                "session_start_us"
            ),
            F.unix_micros(F.col("session_window.end").cast("timestamp")).alias(
                "session_end_us"
            ),
            "n_events",
            "sv_value",
        )
    )


@register(
    "dws_salted_agg",
    oracle=f"""
    SELECT event_type,
           count(*) AS n,
           {duck_money_sum("value")} AS total
    FROM events GROUP BY event_type
    """,
    doc="Skew-resistant aggregation: pre-aggregate on (key, salt) then "
    "merge partials — a hot key spreads across 16 partial groups. "
    "Result provably salt-independent (exact decomposable aggregates); "
    "oracle is the plain aggregation.",
    tags=("agg", "skew"),
)
def dws_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = salted_aggregate(
        ev,
        keys=["event_type"],
        aggs={
            "n": (F.count(F.lit(1)), "sum"),
            "total": (F.sum(money("value")), "sum"),
        },
        salt_buckets=16,
    )
    return out.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("total").cast("double").alias("total"),
    )


@register(
    "tpch_q10_returns",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {duck_disc_price_sum()} AS revenue
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= timestamp '1996-01-01'
      AND o_orderdate <  timestamp '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="Q10 returned-item losses: 4-way join + top-20 with total order.",
    tags=("join", "agg", "topn", "bench"),
)
def tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(disc_price_sum().alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_q15_topsupplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {duck_disc_price_sum()} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= timestamp '1996-01-01'
        AND l_shipdate <  timestamp '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    doc="Q15 top supplier: aggregate-then-correlated-max (scalar subquery "
    "against the derived view).",
    tags=("join", "agg", "subquery", "bench"),
)
def tpch_q15_topsupplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        disc_price_sum().alias("total_revenue")
    )
    supp = load_table(spark, sf_dir, "supplier")
    mx = revenue.agg(F.max("total_revenue").alias("__mx"))
    return (
        supp.join(revenue, supp.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("__mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q7_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           strftime(l_shipdate, '%Y') AS l_year,
           {duck_disc_price_sum()} AS revenue
    FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                  JOIN orders   ON o_orderkey = l_orderkey
                  JOIN customer ON c_custkey = o_custkey
                  JOIN nation n1 ON s_nationkey = n1.n_nationkey
                  JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_3')
        OR (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_9'))
      AND l_shipdate >= timestamp '1996-01-01'
      AND l_shipdate <  timestamp '1998-01-01'
    GROUP BY 1, 2, 3
    """,
    doc="Q7 bi-national shipping volume: 6-way join with a dual-aliased "
    "dim (nation x2) and a disjunctive cross-nation predicate.",
    tags=("join", "agg", "bench"),
)
def tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_3")
    ) | ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_9"))
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.date_format("l_shipdate", "yyyy").alias("l_year"),
        )
        .agg(disc_price_sum().alias("revenue"))
    )


@register(
    "dws_hopping_stats",
    oracle=f"""
    WITH {DUCK_HOPPING_CTES}
    SELECT ws, event_type, count(*) AS pv,
           {duck_money_sum("value")} AS sv
    FROM w GROUP BY 1, 2
    """,
    doc="W3 extension: HOPPING window (size 30 min, slide 10 min) — each "
    "event lands in 3 overlapping epoch-aligned windows. Native "
    "F.window(size, slide); oracle replays the identical assignment "
    "with generate_series over window starts. At scale the 3x row "
    "expansion happens map-side inside the partial aggregate, so the "
    "shuffle carries (window, key) partials, not exploded events.",
    tags=("dws", "window", "hopping"),
)
def dws_hopping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", f"{HOP_SIZE_S} seconds", f"{HOP_SLIDE_S} seconds"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("pv"),
            money_sum("value").alias("sv"),
        )
        .select(
            F.unix_micros(F.col("window.start").cast("timestamp")).alias("ws"),
            "event_type",
            "pv",
            "sv",
        )
    )


@register(
    "dws_uv_sketch_rollup",
    oracle="""
    WITH du AS (
      SELECT date_trunc('week', ts) AS wk, date_trunc('day', ts) AS dy,
             user_id
      FROM events GROUP BY 1, 2, 3
    )
    SELECT strftime(wk, '%Y-%m-%d') AS week,
           count(DISTINCT dy) AS n_days,
           count(DISTINCT user_id) AS uv_exact,
           TRUE AS rollup_ok
    FROM du GROUP BY wk
    """,
    doc="Mergeable-sketch rollup — the pattern a 100 TB UV pipeline "
    "actually runs: per-DAY HLL sketches built once (hll_sketch_agg), "
    "then RE-AGGREGATED to weeks by sketch union (hll_union_agg) "
    "without touching the raw events again. approx_count_distinct "
    "cannot do this (its partial is query-scoped); persisted daily "
    "sketches answer any date-range UV query by merging a handful of "
    "KB-sized binaries. Driver-checkable form: rows carry the exact "
    "weekly UV (oracle-reproducible, two-phase distinct) and "
    "rollup_ok = |estimate(union of daily sketches) - exact| within "
    "5% (HLL lgConfigK=12 => ~1.6% rsd; 5% is the loud-failure "
    "bound), pinned TRUE by the oracle.",
    tags=("dws", "agg", "approx", "sketch"),
)
def dws_uv_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("week", "ts").alias("wk"),
        F.date_trunc("day", "ts").alias("dy"),
        "user_id",
    )
    # phase 1: one pass builds per-day sketches (at scale: persisted
    # daily; here: in-plan). repartition on the coarser rollup key so
    # phase 2 re-aggregates without a second exchange.
    daily = (
        ev.repartition(F.col("wk"))
        .groupBy("wk", "dy")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    merged = daily.groupBy("wk").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_est"),
        F.count(F.lit(1)).alias("n_days"),
    )
    # exact weekly UV via two-phase distinct on the same partitioning
    pre = ev.repartition(F.col("wk")).groupBy("wk", "user_id").agg(
        F.count(F.lit(1)).alias("_c")
    )
    exact = pre.groupBy("wk").agg(F.count(F.lit(1)).alias("uv_exact"))
    return exact.join(merged, "wk").select(
        F.date_format("wk", "yyyy-MM-dd").alias("week"),
        "n_days",
        "uv_exact",
        (
            F.abs(F.col("_est") - F.col("uv_exact"))
            <= F.greatest(F.lit(5), F.round(F.col("uv_exact") * 0.05))
        ).alias("rollup_ok"),
    )


@register(
    "dws_funnel_conversion",
    oracle="""
    WITH ev AS (
      SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS dt,
             event_type, ts
      FROM events
    ),
    s1 AS (
      SELECT user_id, dt, min(ts) AS t1 FROM ev
      WHERE event_type = 'view' GROUP BY 1, 2
    ),
    s2 AS (
      SELECT e.user_id, e.dt, min(e.ts) AS t2
      FROM ev e JOIN s1 USING (user_id, dt)
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY 1, 2
    ),
    s3 AS (
      SELECT e.user_id, e.dt, min(e.ts) AS t3
      FROM ev e JOIN s2 USING (user_id, dt)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY 1, 2
    )
    SELECT s1.dt,
           count(*)::BIGINT AS n_view,
           count(s2.t2)::BIGINT AS n_view_click,
           count(s3.t3)::BIGINT AS n_view_click_purchase
    FROM s1
    LEFT JOIN s2 USING (user_id, dt)
    LEFT JOIN s3 USING (user_id, dt)
    GROUP BY 1
    """,
    doc="Ordered funnel conversion — the step-sequence dashboard the "
    "reference's ADS/publisher layer serves over its visitor tables "
    "(the CEP-adjacent batch shape: UserJumpDetailApp.java matches "
    "event SEQUENCES; this measures ordered view -> click -> purchase "
    "progression per user-day). Strictly-ordered semantics via staged "
    "minima: t1 = first view, t2 = first click AFTER t1, t3 = first "
    "purchase AFTER t2 — each stage an equi-join on (user, day) plus a "
    "range filter, never a nested loop. Each stage shuffles only its "
    "OWN event-type slice (a fraction of the corpus, filter pushed to "
    "the scan) on the shared (user, day) key, and Catalyst de-dupes "
    "the repeated stage sub-plans via ReusedExchange (verified in the "
    "physical plan); counts are exact integers. "
    "At 100 TB this beats the collect_list-and-fold form: no per-group "
    "array materialization, no skew amplification on hot users — the "
    "biggest group costs one min() per stage.",
    tags=("dws", "agg", "join", "funnel"),
)
def dws_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("dt"),
        "event_type",
        "ts",
    )
    key = ["user_id", "dt"]
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy(*key)
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, key)
        .where(F.col("ts") > F.col("t1"))
        .groupBy(*key)
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, key)
        .where(F.col("ts") > F.col("t2"))
        .groupBy(*key)
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.join(s2, key, "left")
        .join(s3, key, "left")
        .groupBy("dt")
        .agg(
            F.count(F.lit(1)).alias("n_view"),
            F.count("t2").alias("n_view_click"),
            F.count("t3").alias("n_view_click_purchase"),
        )
    )


@register(
    "dws_retention_cohorts",
    oracle="""
    WITH f AS (
      SELECT user_id, min(date_trunc('day', ts)) AS cohort
      FROM events GROUP BY 1
    ),
    act AS (
      SELECT DISTINCT e.user_id, f.cohort,
             date_diff('day', f.cohort, date_trunc('day', e.ts)) AS offs
      FROM events e JOIN f USING (user_id)
    )
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort_dt,
           CAST(offs AS BIGINT) AS offs,
           count(*)::BIGINT AS n_users
    FROM act WHERE offs <= 7 GROUP BY 1, 2
    """,
    doc="Retention cohort matrix — day-0 cohort (a user's first-seen "
    "day) by activity offset, the other standing dashboard of the "
    "reference's visitor-stats layer (VisitorStatsApp's new-vs-"
    "returning quirk flag is the degenerate 2-cell form of this "
    "matrix). Two-phase: per-user first day (one shuffle on user_id), "
    "join back to events on the SAME key (co-partitioned, no extra "
    "exchange), distinct (user, cohort, offset) via pre-aggregation, "
    "count per cell. Offsets capped at 7 — the matrix is "
    "days x offsets, METADATA-sized, while both heavy steps stay "
    "linear scans; exact integer counts on both engines.",
    tags=("dws", "agg", "join", "retention"),
)
def dws_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("dy")
    )
    first = ev.groupBy("user_id").agg(F.min("dy").alias("cohort"))
    act = (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort",
            F.datediff("dy", "cohort").cast("bigint").alias("offs"),
        )
        .where(F.col("offs") <= 7)
        .distinct()
    )
    return act.groupBy(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_dt"), "offs"
    ).agg(F.count(F.lit(1)).alias("n_users"))
