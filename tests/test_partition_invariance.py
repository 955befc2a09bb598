"""Partition-count invariance — the distributed-correctness property.

A plan that is correct on a 1000-executor cluster must produce the SAME
result under any shuffle partitioning. Anything that leaks
partition-local state into results (per-partition ids used as values,
first()/any_value() races resolved differently per layout, float sums
whose grouping depends on partitioning) breaks this. We re-run a
representative query per family with the shuffle width dropped from the
session's to 5 and require canonical equality. The width is set on both
confs that carry it: under AQE coalescing batch shuffles start at
spark.sql.adaptive.coalescePartitions.initialPartitionNum, while
streaming and non-AQE shuffles read spark.sql.shuffle.partitions.

(Float aggregates here are decimal-first per registry.py's determinism
rules, so even sums are layout-independent.)
"""

from __future__ import annotations

import pandas as pd
import pytest

from gmall2021_flink_dw_spark.registry import load_all
from tests.conftest import ORACLE_SF

REGISTRY = load_all()

# one representative per family: agg+window, exact-distinct two-phase,
# salted agg (uses monotonically_increasing_id internally — merge must
# erase it), dedup join, top-N, CC graph, asof union-window, sampling
INVARIANT_QUERIES = [
    "dws_product_stats",
    "dws_province_stats",
    "dws_salted_agg",
    "dedup_exact",
    "ads_top_brands",
    "dedup_clusters",
    "cdc_asof_enrich",
    "sample_stratified",
    "tfidf_top_terms",
    # r04: the 5-stage composed DAG (two windows + two agg phases), the
    # cross-doc chunk-frequency join, and the range-partitioned global
    # rank (whose sampled range boundaries must not leak into ranks)
    "corpus_train_pipeline",
    "text_boilerplate",
    "sample_curriculum_rank",
    # r05: the wire round trip (per-partition offset synthesis must not
    # depend on layout), the (doc,gram) pre-agg, PQ (codebook fit +
    # encode argmins must be layout-independent), and the two
    # file-round-trip sinks (routed/partitioned trees re-read).
    # streaming_dws_sink starts its query inside _stream_state_partitions,
    # which sets the state width to 8 whatever the session says: the
    # width-5 run changes only its batch read-back width, not its
    # state-store count.
    "kafka_wire_events",
    "text_repetition",
    "ann_pq",
    "streaming_topic_router",
    "streaming_dws_sink",
    # late-r05: k-means assignment + per-cluster GEMM (centroid means
    # are float avgs — the recall FLAG must absorb any layout drift in
    # assignments while the exact output rows stay identical), the
    # df-capped fingerprint join, the integer-exact classifier, and the
    # bigram-LM score (integer counts, one divide, ln at the edge)
    "dedup_semantic",
    "dedup_winnow_pairs",
    "quality_classifier",
    "text_perplexity",
    "corpus_ngram_novelty",
    # the composed funnel: gate flags, LM mean, and min_by survivor
    # attribution must all be layout-independent
    "corpus_filter_pipeline",
    # r06: iterative BPE — every round's argmax is an exact integer
    # total with a total-order tie-break, so the learned merge sequence
    # (and hence the final tokenization) must not depend on layout
    "tokenizer_train_bpe",
    "tokenizer_apply_bpe",
    # r06: first-occurrence-wins needs the (doc_id, idx) total order to
    # hold under any layout; reassembly must re-sort per doc
    "dedup_paragraphs",
    # r07: real-codec lane — per-row encode/decode through two chained
    # mapInPandas stages must be batch-boundary-independent
    "multimodal_decode_real",
    # r07: integer-exact broadcast-join apply — counts must not depend
    # on layout
    "tokenizer_tokenize_docs",
    # r09: gram explode behind an explicit pre-explode repartition +
    # running-max window span merge — span numbering must be identical
    # under any layout (pos is unique per doc, so the window order is
    # total)
    "dedup_substring_spans_hashed",
    # r09: full cleaned-TEXT reassembly (array_sort'd fold over
    # collect_list segments) must be byte-identical under any layout
    "dedup_substring_clean_hashed",
    # keep-first: the per-gram first-occurrence election orders by the
    # packed (doc_id, pos) — a total order — so the surviving copy must
    # not depend on layout
    "dedup_substring_keepfirst_hashed",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
            drop=True
        )
    return df


WIDTH_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
)


@pytest.mark.parametrize("name", INVARIANT_QUERIES)
def test_partition_count_invariance(spark, name):
    fn = REGISTRY[name].fn
    base = canon(fn(spark, ORACLE_SF).toPandas())
    orig = {k: spark.conf.get(k, None) for k in WIDTH_CONFS}
    for k in WIDTH_CONFS:
        spark.conf.set(k, "5")
    try:
        # the width batch shuffles really get, AQE or not
        assert spark._jsparkSession.sessionState().conf() \
            .numShufflePartitions() == 5
        narrow = canon(fn(spark, ORACLE_SF).toPandas())
    finally:
        for k, v in orig.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert base.columns.tolist() == narrow.columns.tolist()
    assert len(base) == len(narrow), f"{name}: row count changed with partitioning"
    assert (base.values == narrow.values).all(), (
        f"{name}: values depend on shuffle partition count"
    )
