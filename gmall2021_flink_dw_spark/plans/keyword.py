"""Keyword stats: tokenizer UDTF + windowed word counts (SURVEY A5/D1/P10).

Re-expresses KeywordStatsApp: SQL filter on the page stream
(KeywordStatsApp.java:45-52), word segmentation via UDTF lateral join
(:56-61), then count(*) per word per window (:64-75). Here the
`documents` table is the text source; the lateral UDTF becomes
explode(tokenize(text)); the nondeterministic UNIX_TIMESTAMP() stamp
(:71) is replaced by a deterministic per-source grouping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.functions.tokenizer import (
    TOKEN_RE,
    tokenize,
    tokenize_udf,
)
from gmall2021_flink_dw_spark.registry import register
from gmall2021_flink_dw_spark.sources.batch import load_table


@register(
    "dws_keyword_stats",
    oracle=f"""
    SELECT word AS keyword, 'search' AS source,
           count(*) AS ct,
           count(DISTINCT doc_id) AS doc_ct
    FROM (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS word
      FROM documents
      WHERE lang = 'en'
    )
    GROUP BY word
    """,
    doc="A5+D1: filter (P10, KeywordStatsApp.java:45-52) -> tokenizer "
    "UDTF lateral (D1, :56-61) -> per-word count agg (:64-75). JVM-side "
    "regexp tokenizer (whole-stage codegen) — no Python in the hot path.",
    tags=("dws", "udtf", "agg", "text"),
)
def dws_keyword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    # two-phase distinct: pre-aggregate on (word, doc_id) then count the
    # doc groups — no Expand doubling the exploded-token shuffle, and
    # both phases stack on the explicit repartition (one shuffle).
    pre = (
        docs.select("doc_id", F.explode(tokenize("text")).alias("word"))
        .repartition(F.col("word"))
        .groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        pre.groupBy("word")
        .agg(
            F.sum("_c").alias("ct"),
            F.count(F.lit(1)).alias("doc_ct"),
        )
        .select(
            F.col("word").alias("keyword"),
            F.lit("search").alias("source"),
            "ct",
            "doc_ct",
        )
    )


@register(
    "dws_keyword_stats_udf",
    oracle=f"""
    SELECT word AS keyword, count(*) AS ct
    FROM (
      SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS word
      FROM documents
      WHERE lang = 'en'
    )
    GROUP BY word
    """,
    doc="D1 slow-path variant: the same tokenization through the Arrow-"
    "batched pandas UDF (SplitFunction.java parity incl. on-error emit-"
    "input). Same oracle as the codegen path — proves both agree.",
    tags=("dws", "udtf", "udf", "text"),
)
def dws_keyword_stats_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    return (
        docs.select(F.explode(tokenize_udf("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("ct"))
        .select(F.col("word").alias("keyword"), "ct")
    )


# CJK corpus for the segmentation query: the driver's documents table is
# lowercase-English synthetic text, in which the Chinese-segmentation
# path contributes zero tokens — so this query carries its own corpus,
# inlined identically on both engines (Spark createDataFrame here, a
# VALUES-pinned expectation in the oracle). Mixed-script rows exercise
# the run splitter (ASCII alnum runs bypass the segmenter).
_ZH_CORPUS = (
    (1, "小米手机大优惠今天包邮"),
    (2, "政府宣布新的经济政策支持科技创新"),
    (3, "我在朋友圈给他的照片点赞"),
    (4, "记者采访了这位著名科学家"),
    (5, "昨天晚上他们在餐厅吃饭聊天"),
    (6, "人工智能技术正在改变我们的生活"),
    (7, "学生们认真复习准备明天的考试"),
    (8, "大数据实时数仓项目用户行为分析"),
    (9, "华为笔记本电脑质量很好价格便宜"),
    (10, "iPhone15 去年双11秒杀五折包邮"),
)

# Hand-pinned FMM output for _ZH_CORPUS (reviewed token by token): the
# oracle is a golden EXPECTATION, not a recomputation — DuckDB cannot
# run the segmenter, so a drift in dictionary, matcher, or the Arrow
# UDF plumbing shows up as a driver hash mismatch.
_ZH_EXPECTED = (
    ("11", 1), ("iphone15", 1), ("了", 1), ("五", 1), ("人工智能", 1),
    ("今天", 1), ("他", 1), ("他们", 1), ("们", 1), ("价格", 1),
    ("优惠", 1), ("便宜", 1), ("准备", 1), ("分析", 1), ("创新", 1),
    ("包邮", 2), ("华为", 1), ("去年", 1), ("双", 1),
    ("吃饭", 1), ("在", 2), ("复习", 1), ("大", 1), ("大数据", 1),
    ("学生", 1), ("实时", 1), ("宣布", 1), ("小米", 1), ("很好", 1),
    ("我", 1), ("我们", 1), ("手机", 1), ("技术", 1), ("折", 1),
    ("支持", 1), ("改变", 1), ("政府", 1), ("政策", 1), ("数仓", 1),
    ("新", 1), ("明天", 1), ("昨天", 1), ("晚上", 1), ("朋友圈", 1),
    ("正在", 1), ("点赞", 1), ("照片", 1), ("生活", 1), ("用户", 1),
    ("电脑", 1), ("的", 4), ("科学家", 1), ("科技", 1), ("秒杀", 1),
    ("笔记本", 1), ("经济", 1), ("给", 1), ("考试", 1), ("聊天", 1),
    ("著名", 1), ("行为", 1), ("认真", 1), ("记者", 1), ("质量", 1),
    ("这位", 1), ("采访", 1), ("项目", 1), ("餐厅", 1),
    # r05: 这+位 -> 这位 (demonstrative+classifier fusion added to the
    # general lexicon; reviewed — jieba segments it the same way)
)

_ZH_VALUES = ",\n      ".join(f"('{w}', {n})" for w, n in _ZH_EXPECTED)


@register(
    "dws_keyword_stats_zh",
    oracle=f"""
    SELECT keyword, ct FROM (VALUES
      {_ZH_VALUES}
    ) AS t(keyword, ct)
    """,
    doc="D1 Chinese segmentation end-to-end under the driver's hash "
    "check (KeywordUtil.java:13-35 loads IK's dictionary; here the FMM "
    "re-implementation over the vendored domain+general lexicon, "
    "functions/segment_zh.py + zh_lexicon.py): inline CJK corpus -> "
    "Arrow pandas-UDF tokenizer (deterministic FMM on every "
    "deployment) -> explode -> per-word counts, "
    "compared against a hand-reviewed golden VALUES expectation. "
    "Mixed-script rows prove ASCII runs bypass the segmenter.",
    tags=("dws", "udtf", "udf", "text", "cjk"),
)
def dws_keyword_stats_zh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = spark.createDataFrame(
        list(_ZH_CORPUS), "doc_id long, text string"
    )
    return (
        corpus.select(F.explode(tokenize_udf("text")).alias("keyword"))
        .groupBy("keyword")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
