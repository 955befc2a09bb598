"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]: one warm-up query,
then three full passes with the per-query min wall time. Prints the FULL
per-query JSON on an early stdout line (and writes BENCH_FULL.json, or
BENCH_FULL_sf{sf}.json at other scale factors), then a compact FINAL
line {"metric", "value", "unit", "queries": slowest-10, "probe", "sf",
"cpus", "n_queries", "full"} (+ "anchors_skipped"). The driver captures
only a ~2KB stdout tail, so the last line must stay under 1500 chars
(r03's full-map final line overflowed the tail and the artifact
recorded parsed=null); `final_line` enforces that.

Each query is materialized through the noop sink — full execution, no
driver-side collect (what a cluster run would do writing to object
storage). Stdout stays clean for the JSON line; Spark logs go to stderr.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gmall2021_flink_dw_spark.registry import load_all
from gmall2021_flink_dw_spark.session import get_spark


HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q4_semi",
    "tpch_q12_caseagg",
    "tpch_q14_promo",
    "tpch_q18_bigorders",
    "tpch_q19_disjunct",
    "tpch_q2_mincost",
    "tpch_q7_volume",
    "tpch_q8_marketshare",
    "tpch_q9_profit",
    "tpch_q10_returns",
    "tpch_q11_importance",
    "tpch_q13_custdist",
    "tpch_q15_topsupplier",
    "tpch_q17_smallqty",
    "tpch_q21_waiting",
    "tpch_q22_inactive",
    "cdc_asof_enrich",
    "dws_session_window",
    "dws_hopping_stats",
    "dwm_order_wide",
    "dwm_payment_wide",
    "dwm_unique_visit",
    "dwm_user_jump",
    "dws_visitor_stats",
    "dws_product_stats",
    "dws_province_stats",
    "dws_keyword_stats",
    "dws_event_measures",
    "ads_top_brands",
    "ads_top_parts",
    "ads_order_quantiles",
    "dws_sales_cube",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "ann_topk",
    "ann_bucketed",
    "ann_ivf",
    "text_stats",
    "text_quality",
    "text_redact",
    "sample_hash_bucket",
    "sample_stratified",
    "vocab_top_tokens",
    "doc_winnow_fingerprint",
    "corpus_clean",
    "multimodal_frame_sample",
    # added r02 (headline totals are not comparable to BENCH_r01 — use
    # per-query minima for round-over-round comparisons, BASELINE.md):
    "dedup_clusters",
    "corpus_contamination",
    "tfidf_top_terms",
    "dedup_embedding_lsh",
    "streaming_uv_dedup",
    "cdc_snapshot_at",
    "streaming_interval_join",
    "pack_sequences",
    "dws_promo_window_stats",
    "dws_order_quantiles_approx",
    # added r03 (totals again not comparable across rounds — compare
    # per-query minima; the six pre-r03 sketch queries now embed their
    # exact ground truth, see BASELINE.md r03 notes):
    "cdc_scd2",
    "dws_uv_sketch_rollup",
    "dws_keyword_stats_zh",
    "multimodal_embed",
    "streaming_session_window",
    "streaming_hopping_stats",
    "multimodal_resize",
    "text_token_counts",
    "streaming_cdc_upsert",
    "sample_training_mix",
    "corpus_summary",
    # added r04:
    "corpus_train_pipeline",
    "sample_mix_allocator",
    "text_boilerplate",
    "streaming_keyword_stats",
    "sample_curriculum_rank",
    "sample_ccnet_buckets",
    # added r05:
    "kafka_wire_events",
    "text_repetition",
    "streaming_dedup_ingest",
    "ann_pq",
    "streaming_topic_router",
    "streaming_late_data_drop",
    "streaming_dws_sink",
    "streaming_gmv_dashboard",
    "streaming_gmv_update_log",
    "dedup_semantic",
    "dedup_winnow_pairs",
    "quality_classifier",
    "text_perplexity",
    "corpus_length_histogram",
    "corpus_ngram_novelty",
    "corpus_filter_pipeline",
    # added r06:
    "tokenizer_train_bpe",
    "tokenizer_apply_bpe",
    "dedup_paragraphs",
    # added r07:
    "multimodal_decode_real",
    "multimodal_decode_mixed",
    "tokenizer_tokenize_docs",
    # added r09:
    "multimodal_audio_features",
    "multimodal_image_stats",
    "dedup_substring_spans_hashed",
    "dedup_substring_clean_hashed",
    "dedup_substring_keepfirst_hashed",
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
    "cdc_incremental_agg",
    "text_heavy_hitters",
    "sample_dsir",
    "lake_zorder_layout",
    "embedding_gram",
    "embedding_pca_power",
    "sample_leakage_free_split",
    "dws_funnel_conversion",
    "dws_retention_cohorts",
    "streaming_heavy_hitters",
    # added r11:
    "multimodal_decode_jpeg_ac",
    "vocab_coverage",
    "sample_weighted",
    # added r13 (the bucketed-state replans get artifact evidence;
    # totals remain incomparable across rounds — per-query minima are
    # the lens):
    "streaming_new_user_flag",
    "streaming_jump_detect",
]


# Quadratic-BY-ROLE exact anchor (VERDICT r10 item 4): the all-pairs
# cosine GEMM is the deliberately-exact ground truth for the LSH ANN
# scale paths. Its cost is quadratic BY ROLE, so it carries the
# suite's worst decade ratio by design and must not ride a rising
# suite sf: anchor CORRECTNESS does not need the full corpus.
# The gate below drops it from any bench run at sf > ANCHOR_SF_CAP
# and records the drop in the artifact (no silent caps). Arithmetic
# pinned by tests/test_bench_contract.py: at the cap the cosine
# anchor's GEMM is N_EMB_AT_CAP^2 * EMB_DIM = 2.56e8 multiply-adds
# (sub-second, measured 11.4x per decade); one decade up it is 2.56e10
# — past ANCHOR_MAC_CEILING and growing 100x per decade.
QUADRATIC_ANCHORS = ("dedup_embedding_cosine",)
ANCHOR_SF_CAP = 0.1
N_EMB_AT_CAP = 2_000  # embeddings rows at sf0.1 (TESTDATA.md)
EMB_DIM = 64
ANCHOR_MAC_CEILING = 1 << 30


# Box-state probe (VERDICT r14 item 1): a single-threaded CPU burn that
# measures the box, never the queries. As a function-local loop the
# calibrated bands are ~0.17-0.25 s on a quiet box of the r14 VM class
# and ~0.35+ s with hypervisor steal / co-tenant pressure. It runs
# before the suite and after every pass; every reading is stamped into
# BENCH_FULL.json (`box_probe_sec`, with session-relative timestamps)
# and the min/max pair rides the compact final line (`probe`), so the
# artifact classifies its own ambience. perfbench copies PROBE_ITERS.
PROBE_ITERS = 5_000_000

FINAL_LINE_MAX = 1500


def box_probe(iters: int = PROBE_ITERS) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(iters):
        x += i
    if x < 0:  # unreachable; keeps the loop from being optimized away
        print(x, file=sys.stderr)
    return round(time.perf_counter() - t0, 3)


def final_line(
    times: dict[str, float],
    probes: list[dict],
    sf: float,
    cpus: int,
    anchors_skipped: list[str],
    full_name: str,
) -> str:
    """The compact last stdout line: headline total, the slowest 10
    queries and the probe min/max; the full per-query map and probe
    series live in `full_name`. Raises when the line would outgrow the
    driver's stdout tail."""
    slowest = dict(sorted(times.items(), key=lambda kv: kv[1], reverse=True)[:10])
    final = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": slowest,
        "probe": [min(p["sec"] for p in probes), max(p["sec"] for p in probes)],
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(times),
        "full": full_name,
    }
    if anchors_skipped:
        final["anchors_skipped"] = anchors_skipped
    line = json.dumps(final, separators=(",", ":"))
    if len(line) >= FINAL_LINE_MAX:  # not assert: must survive python -O
        raise RuntimeError(f"final bench line too long ({len(line)} chars)")
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    registry = load_all()
    spark = get_spark("bench")
    # every number states its core count: the N of the local[N] master
    # get_spark built the session with
    cpus = int(re.fullmatch(r"local\[(\d+)\]", spark.sparkContext.master)[1])

    # Warm the JVM/parquet footers once with a trivial action so the first
    # timed query doesn't pay session startup.
    registry["tpch_q6"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # A renamed/typo'd headline entry must fail loudly, not silently
    # shrink the benchmark (which would read as a speedup).
    unknown = [n for n in HEADLINE if n not in registry]
    if unknown:  # not assert: must survive python -O (ADVICE r04)
        raise RuntimeError(f"HEADLINE names missing from registry: {unknown}")

    # Quadratic-anchor gate (see QUADRATIC_ANCHORS above): at any sf
    # past the cap the exact anchors are excluded and the exclusion is
    # carried in the artifact — a reader comparing totals across sfs
    # sees exactly which queries were dropped and why.
    run_list = list(HEADLINE)
    anchors_skipped: list[str] = []
    if sf > ANCHOR_SF_CAP:
        anchors_skipped = [n for n in HEADLINE if n in QUADRATIC_ANCHORS]
        run_list = [n for n in HEADLINE if n not in QUADRATIC_ANCHORS]
        print(
            f"anchors skipped at sf {sf} > cap {ANCHOR_SF_CAP}: "
            f"{anchors_skipped}",
            file=sys.stderr,
        )

    # Three full passes, per-query min across passes: the first execution
    # of each generated-code class pays multi-second JIT compilation
    # stalls (measured: 2-4s of compiler time on cold queries); later
    # passes run warm and reflect the steady-state cost a cluster would
    # see. Back-to-back repeats of one query do NOT escape the stall,
    # full passes do. min-of-3 also damps co-tenant contention.
    times: dict[str, float] = {}
    session_t0 = time.perf_counter()
    probes: list[dict] = []

    def take_probe(label: str) -> None:
        p = box_probe()
        probes.append(
            {"at_sec": round(time.perf_counter() - session_t0, 1),
             "sec": p, "label": label}
        )
        print(f"[bench] box_probe {label}: {p}s", file=sys.stderr, flush=True)

    take_probe("pre_suite")
    for _pass in range(3):
        for name in run_list:
            t0 = time.perf_counter()
            # stderr progress marker (stdout stays clean for the JSON
            # contract): ties failures/disk spikes in long scale runs
            # to the query that caused them.
            print(
                f"[bench] pass={_pass} {name} "
                f"t={time.perf_counter() - session_t0:.1f}s",
                file=sys.stderr,
                flush=True,
            )
            registry[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            el = time.perf_counter() - t0
            times[name] = round(min(times.get(name, float("inf")), el), 3)
        # Cache epochs (cache.py) unpersist each query's intermediates
        # (shingle tables, simhash signatures, ...) when the next query
        # starts; only the pass's last query still holds its blocks, so
        # drop them here and every pass starts from an empty storage pool.
        spark.catalog.clearCache()
        take_probe(f"after_pass{_pass}")

    # The driver records only a ~2KB tail of stdout, so the FULL
    # per-query map goes to BENCH_FULL.json in the repo AND an earlier
    # stdout line, while the FINAL stdout line stays compact.
    full = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "anchors_skipped": anchors_skipped,
        "box_probe_sec": probes,
        "sf": sf,
        "cpus": cpus,
    }
    # dev runs at other scale factors must not clobber the committed
    # sf0.1 artifact
    full_name = "BENCH_FULL.json" if sf == 0.1 else f"BENCH_FULL_sf{sf}.json"
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           full_name), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(json.dumps(full, separators=(",", ":")))
    print(final_line(times, probes, sf, cpus, anchors_skipped, full_name))


if __name__ == "__main__":
    main()
