"""Physical-plan audit: structural scale properties of every query.

Correctness says the answer is right at sf0.01; this file says the PLAN
is the one you'd want at 100 TB. For each registered batch query we
compile (not execute) the physical plan at sf0.001 and assert:

1. No CartesianProduct / BroadcastNestedLoopJoin, except in the
   explicitly-allowlisted pairwise-similarity queries whose semantics
   ARE a bounded pair enumeration (bucketed self-joins keep an equi
   component; the allowlist documents which queries intentionally
   enumerate pairs after bucketing).
2. Small-dimension joins broadcast: a query that joins nation / region
   / part / supplier / customer must show a BroadcastHashJoin (or have
   Catalyst fold the join away) — never a shuffle join of a fact table
   against a tiny dim.
3. Scan hygiene for the flagship filter query (tpch_q6): filters reach
   the parquet scan as PushedFilters and the ReadSchema is pruned to
   the referenced columns only.
4. Hot batch paths stay in whole-stage codegen: every bench-tagged
   query's plan contains WholeStageCodegen spans, and TPC-H plans keep
   Python row UDFs (BatchEvalPython) out entirely; Arrow-batched
   stages (ArrowEvalPython / mapInPandas) are the only sanctioned
   Python entry points anywhere.
5. The package is what the engine runs: no top-level package function
   or class is reached from tests/ alone.
6. Each window constant and money type is written once: no package
   module but the two that own them spells out the session gap, the
   jump timeout, the hopping size or a DECIMAL money type again.
"""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

from gmall2021_flink_dw_spark.registry import load_all
from tests.conftest import UNIT_SF

REGISTRY = load_all()

# Streaming queries spin an actual query in fn(); audit batch plans only.
BATCH = {
    n: s for n, s in REGISTRY.items() if "streaming" not in s.tags
}

# Pairwise-similarity queries: the pair enumeration IS the operator.
# Each bounds the pair space before enumerating (band/bucket equi-join
# or block-local mapInPandas), so the nested-loop node ranges over a
# bucket, not the full table.
PAIRWISE_ALLOWED = {
    "dedup_embedding_cosine",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_topk",
    "ann_bucketed",
    "ann_ivf",
    "ann_pq",  # embeds the exact brute-force ground truth (cross join)
}

# Global-scalar-threshold queries: the build side is a 1-row aggregate
# (sum(...)*fraction, count+sum pair) compared by inequality — a
# BroadcastNestedLoopJoin over a single broadcast row is the canonical
# plan and costs O(n) regardless of scale.
SCALAR_THRESHOLD_ALLOWED = {
    "tpch_q11_importance",
    "tpch_q22_inactive",
    "tfidf_top_terms",  # corpus-size scalar: 1-row broadcast cross join
    "cdc_snapshot_at",  # time-travel cutoff: 1-row broadcast scalar
    "sample_mix_allocator",  # token-budget scalar over the 5-row lang table
    # driver-checkable sketch queries: the recall/precision flag is a
    # 1-row broadcast aggregate cross-joined onto the exact rows
    "dedup_embedding_lsh",
    "dedup_semantic",
    # 1-row corpus-size scalar for the df cap (ngram_jaccard pattern)
    "dedup_winnow_pairs",
    # vocab-size + corpus-mean 1-row broadcast scalars
    "text_perplexity",
    # inherits text_perplexity's 1-row vocab-size broadcast scalar
    "sample_ccnet_buckets",
    "corpus_filter_pipeline",
    # id-span bounds (1-row broadcast) for the two-level offset bucketing
    "kafka_wire_events",
    # 1-row broadcast scalars: corpus totals (r_tot/t_tot) for the DSIR
    # models; N + cover flag for the MG heavy-hitters guarantee check
    "sample_dsir",
    "text_heavy_hitters",
    # 1-row broadcast scalar: the leak_free invariant flag
    "sample_leakage_free_split",
    # 1-row corpus-total + 3-row coverage-target broadcast scalars
    "vocab_coverage",
}

DIM_TABLES = ("nation", "region", "part.parquet", "supplier", "customer")


def plan_of(spark, name: str) -> str:
    """Compile (don't execute) the physical plan with AQE off: the static
    Catalyst plan exposes WholeStageCodegen/join/scan nodes directly,
    where the unexecuted AQE wrapper hides them until runtime. AQE only
    re-optimizes this plan at stage boundaries, so the static structure
    is the right audit surface."""
    df = REGISTRY[name].fn(spark, UNIT_SF)
    # the table loader self-heals adaptive.enabled=true, so flip it off
    # only between DataFrame construction and (lazy) physical planning
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


@pytest.mark.parametrize("name", sorted(BATCH))
def test_no_accidental_cartesian(spark, name):
    plan = plan_of(spark, name)
    nested = ("CartesianProduct" in plan) or (
        "BroadcastNestedLoopJoin" in plan
    )
    if name in PAIRWISE_ALLOWED | SCALAR_THRESHOLD_ALLOWED:
        return  # pair enumeration / 1-row threshold build by design
    assert not nested, (
        f"{name}: unexpected cartesian/nested-loop join — "
        "an equi-join key was probably lost"
    )


@pytest.mark.parametrize(
    "name",
    sorted(
        n
        for n, s in BATCH.items()
        if ("join" in s.tags or n.startswith("tpch") or n.startswith("dws"))
    ),
)
def test_dim_joins_broadcast(spark, name):
    plan = plan_of(spark, name)
    scans = set(re.findall(r"FileScan parquet \[[^\]]*\]", plan))
    touches_dim = any(d in plan for d in DIM_TABLES) and "lineitem" in plan
    if not touches_dim or "Join" not in plan:
        pytest.skip("no fact-dim join in this plan")
    # A fact-dim query must broadcast at least one side somewhere.
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, (
        f"{name}: fact-dim join without any broadcast\n"
        + "\n".join(sorted(scans))
    )


def test_q6_scan_hygiene(spark):
    # toString truncates long FileScan lines; formatted explain keeps the
    # full PushedFilters / ReadSchema attributes
    df = REGISTRY["tpch_q6"].fn(spark, UNIT_SF)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), "tpch_q6: no filters pushed to scan"
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs is not None
    cols = [c.split(":")[0] for c in rs.group(1).split(",") if c]
    assert len(cols) <= 4, f"tpch_q6 reads too many columns: {cols}"
    assert "l_comment" not in cols, "column pruning failed"


@pytest.mark.parametrize(
    "name", sorted(n for n, s in BATCH.items() if "bench" in s.tags)
)
def test_bench_paths_codegen_no_python(spark, name):
    plan = plan_of(spark, name)
    # "*(N)" prefixes mark operators inside a WholeStageCodegen stage in
    # the physical plan's toString rendering
    assert "*(" in plan, f"{name}: no codegen span"
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in a bench path"
    )


@pytest.mark.parametrize(
    "name",
    [
        "dws_province_stats",
        "dws_product_stats",
        "dws_product_stats_approx",
        "dws_visitor_stats",
        "dws_keyword_stats",
    ],
)
def test_two_phase_distinct_no_expand(spark, name):
    """Exact/approx distinct queries use the two-phase pre-aggregate form:
    no Expand (which would double the shuffled fact rows), and the
    explicit repartition is the ONLY shuffle — both groupBy phases stack
    on it (broadcast exchanges for the dim joins don't count)."""
    plan = plan_of(spark, name)
    assert "Expand" not in plan, f"{name}: Expand doubles the fact shuffle"
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 1, (
        f"{name}: {n_shuffles} hash exchanges — phases not stacked on one shuffle"
    )


# Sanctioned Expands: grouping sets (one branch per set) and sliding
# windows (one copy per overlapping window) — in both, the replication
# IS the operator's semantics, not an implementation accident.
EXPAND_ALLOWED = {"dws_sales_rollup", "dws_sales_cube", "dws_hopping_stats"}


@pytest.mark.parametrize("name", sorted(BATCH))
def test_no_expand_outside_grouping_sets(spark, name):
    """Catalyst plans an Expand when COUNT(DISTINCT) mixes with plain
    aggregates — multiplying the shuffled fact rows by the branch count.
    Every such query in the catalog uses the two-phase pre-aggregate
    form instead; only rollup/cube (where Expand is the semantics) may
    carry one."""
    if name in EXPAND_ALLOWED:
        return
    plan = plan_of(spark, name)
    assert "Expand" not in plan, (
        f"{name}: Expand in plan — rewrite with the two-phase distinct"
    )


def test_ngram_df_cap_in_plan(spark):
    """The registered dedup_ngram_jaccard must carry the df cap: the hot
    shingles are removed by a broadcast LeftAnti join before the
    inverted-index self-join."""
    plan = plan_of(spark, "dedup_ngram_jaccard")
    assert "LeftAnti" in plan, "df-cap anti-join missing from the plan"


@pytest.mark.parametrize("name", sorted(BATCH))
def test_no_row_python_udfs_anywhere(spark, name):
    plan = plan_of(spark, name)
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF — use a pandas UDF "
        "(ArrowEvalPython) or mapInPandas instead"
    )


@pytest.mark.parametrize(
    "name,max_hash_exchanges",
    [
        # both window functions (lead + row_number) share one (id) sort
        ("cdc_scd2", 1),
        # changelog union + two-phase distinct stack on one op shuffle
        ("cdc_changelog", 1),
        # exact weekly two-phase + daily-sketch branch: one wk exchange
        # each; the join of the two 5-row aggregates broadcasts
        ("dws_uv_sketch_rollup", 2),
        # fingerprint window, source window, (source,seq_id) pre-agg,
        # source rollup — four stages, each pruning before the next
        ("corpus_train_pipeline", 4),
    ],
)
def test_exchange_budget(spark, name, max_hash_exchanges):
    """Single-shuffle claims made in docstrings, held mechanically: the
    plan may not exceed its documented hash-exchange budget (broadcast
    exchanges excluded — they ship KBs, not the fact table)."""
    plan = plan_of(spark, name)
    n = plan.count("Exchange hashpartitioning")
    assert n <= max_hash_exchanges, (
        f"{name}: {n} hash exchanges, budget {max_hash_exchanges}"
    )


def test_composed_pipeline_single_scan(spark):
    """corpus_train_pipeline chains five stages (quality gate, exact
    dedup, mix sampling, sequence packing, report) in one DAG; the point
    of composing them is that documents is read ONCE — the reference
    re-reads Kafka between its ODS->DWD->DWM->DWS layers
    (VisitorStatsApp.java:27-28), and a naive port would re-scan per
    stage."""
    plan = plan_of(spark, "corpus_train_pipeline")
    n_scans = plan.count("FileScan parquet")
    assert n_scans == 1, f"expected one documents scan, saw {n_scans}"


_ROOT = pathlib.Path(__file__).resolve().parents[1]
_PKG = _ROOT / "gmall2021_flink_dw_spark"


def test_package_defs_are_reached_outside_tests():
    """Every undecorated top-level def/class in the package is named in
    the package, perfbench/, tools/, bench.py or __spark_entry__.py.
    Only AST Name, Attribute and import-alias nodes count, so a mention
    in a docstring or comment does not. Decorated defs are skipped:
    @register and @atexit.register reach them. Test-only references
    belong in tests/."""
    files = [
        *sorted(_PKG.rglob("*.py")),
        *sorted((_ROOT / "perfbench").rglob("*.py")),
        *sorted((_ROOT / "tools").rglob("*.py")),
        _ROOT / "bench.py",
        _ROOT / "__spark_entry__.py",
    ]
    trees = {f: ast.parse(f.read_text(encoding="utf-8"), str(f)) for f in files}
    names = set()
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    unreached = [
        f"{f.relative_to(_ROOT)}::{node.name}"
        for f, tree in trees.items()
        if _PKG in f.parents
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.decorator_list
        and node.name not in names
    ]
    assert not unreached, f"package code only tests reach: {unreached}"


# The session gap (1800 s), the jump timeout (600 s) and the hopping
# size (1800 s) written out in micros, or as a default argument; and the
# money types DECIMAL(18,2), DECIMAL(4,2) and DECIMAL(18,4).
_BARE_SHARED_LITERAL = re.compile(
    r"\b(?:1800|600)\s*\*\s*1_?000_?000\b|\b1800000000\b|\bint = (?:1800|600)\b"
    r"|decimal\(\s*(?:18\s*,\s*[24]|4\s*,\s*2)\s*\)",
    re.IGNORECASE,
)


# The modules that own those constants.
_CONSTANT_OWNERS = {_PKG / "functions" / "money.py", _PKG / "functions" / "windows.py"}


def test_window_constants_are_written_once():
    """The package takes streaming/stateful.py's SESSION_GAP_S and
    JUMP_TIMEOUT_S, functions/windows.py's HOP_SIZE_S and HOP_SLIDE_S and
    functions/money.py's money types, so an oracle and its query cannot
    drift apart on a window bound or a money cast."""
    hits = [
        f"{f.relative_to(_ROOT)}:{i}: {line.strip()}"
        for f in sorted(_PKG.rglob("*.py"))
        if f not in _CONSTANT_OWNERS
        for i, line in enumerate(f.read_text(encoding="utf-8").splitlines(), 1)
        if _BARE_SHARED_LITERAL.search(line)
    ]
    assert not hits, f"shared constants written out again: {hits}"
