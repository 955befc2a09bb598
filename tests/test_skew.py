"""AQE skew-join handling: the runtime half of the skew story.

The catalog's static answer to skew is salting (dws_salted_agg,
operators/joins.py::salted_aggregate). The runtime answer — what a 100 TB
job actually leans on — is AQE's OptimizeSkewedJoin: at stage boundary,
a partition far larger than its siblings is split into multiple reducer
tasks and the other side's matching partition is replicated. This test
manufactures a join where one key owns ~90% of the left side, tightens
the skew thresholds so the tiny local dataset qualifies, executes, and
asserts the FINAL adaptive plan marks the join `isSkew=true` — i.e. the
engine config this repo ships (AQE on, session.py) really does re-plan
skew at runtime, it's not just a docstring claim.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

_SKEW_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # the dataset is KBs, not GBs: shrink every threshold so a 90%-hot
    # partition is "skewed" by the same RELATIVE rules production uses
    # (factor x median AND above absolute threshold)
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.shuffle.partitions": "8",
}


@pytest.fixture()
def skew_confs(spark):
    orig = {k: spark.conf.get(k, None) for k in _SKEW_CONFS}
    for k, v in _SKEW_CONFS.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in orig.items():
            if v is not None:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join(spark, skew_confs):
    # left: 40k rows, 90% on key 0, with a fat payload column so the hot
    # partition crosses the (shrunk) byte threshold. Eight splits at any
    # core count: AQE cannot split a skewed partition that comes from a
    # single map task, and one core would otherwise give one split.
    left = spark.range(0, 40_000, 1, 8).select(
        F.when(F.col("id") % 10 < 9, F.lit(0))
        .otherwise(F.col("id") % 1000)
        .alias("k"),
        F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pay"),
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # sum(length(pay)) keeps the payload live: otherwise column pruning
    # drops it before the shuffle, and at a few map splits the hot
    # partition compresses under the skew threshold
    joined = left.join(right, "k").groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.length("pay")).alias("pay_len"),
    )
    [row] = joined.collect()  # execute so AQE finalizes the plan
    assert row.n == 40_000
    final_plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final_plan
    # SortMergeJoin/ShuffledHashJoin nodes print `skew=true` once
    # OptimizeSkewedJoin has split the hot partition
    assert "skew=true" in final_plan, (
        "AQE did not mark the join skewed:\n" + final_plan[:2000]
    )


def test_boilerplate_hot_chunk_correct_under_skew(spark, skew_confs):
    """text_boilerplate's shuffle key is the chunk hash, and boilerplate
    is BY DEFINITION the hot key (a navigation header appears in every
    doc). Build a corpus where one 5-token chunk is in all 2000 docs
    (plus one unique chunk each) under the shrunk AQE skew thresholds,
    and assert exact per-doc ratios: the hot key must change the plan,
    never the answer."""
    from pyspark.sql import functions as F

    from gmall2021_flink_dw_spark.plans.datapipe import boilerplate_stats

    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("shared header tokens repeat everywhere "),
            # unique tail chunk per doc: 5 distinct tokens
            F.concat_ws(
                " ",
                F.concat(F.lit("u"), F.col("id")),
                F.concat(F.lit("v"), F.col("id")),
                F.concat(F.lit("w"), F.col("id")),
                F.concat(F.lit("x"), F.col("id")),
                F.concat(F.lit("y"), F.col("id")),
            ),
        ).alias("text"),
    )
    from gmall2021_flink_dw_spark.datapipe.text import with_tokens

    out = boilerplate_stats(with_tokens(docs)).toPandas()
    assert len(out) == 2000
    # every doc: 2 chunks, exactly 1 shared (the header), ratio 0.5
    assert (out.n_chunks == 2).all()
    assert (out.n_shared == 1).all()
    assert (out.boilerplate_ratio == 0.5).all()
