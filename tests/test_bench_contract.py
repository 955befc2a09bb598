"""bench.py output-contract tests (no Spark needed).

The driver records only a ~2KB tail of bench stdout. BENCH_r03.json
recorded parsed=null because the single output line (75 query entries)
outgrew that tail. These tests pin the fix: the FINAL line, built by the
same `bench.final_line` that `bench.main` prints, carries only the
slowest-10 queries, and even with the longest registered names and
maximal float widths it stays < 1500 chars.
"""

from __future__ import annotations

import json

import pytest

import bench


def _worst_case_final_line() -> str:
    # Adversarial inputs: the 10 longest headline names are the slowest
    # (so they ride the line), every float is wide, the sf is past the
    # anchor cap (so anchors_skipped rides too) and the artifact name
    # is the longest form.
    by_len = sorted(bench.HEADLINE, key=len, reverse=True)
    times = {n: 1.0 for n in bench.HEADLINE}
    times.update({n: 9999.999 for n in by_len[:10]})
    probes = [{"at_sec": 99999.9, "sec": 9999.999, "label": "pre_suite"}]
    return bench.final_line(
        times, probes, 100.0, 1024, list(bench.QUADRATIC_ANCHORS),
        "BENCH_FULL_sf100.0.json",
    )


def test_final_line_fits_driver_tail() -> None:
    line = _worst_case_final_line()
    assert len(line) < bench.FINAL_LINE_MAX, f"{len(line)} chars"
    # a line past the bound raises instead of printing
    long_names = {f"{'q' * 200}{i}": 1.0 for i in range(10)}
    with pytest.raises(RuntimeError, match="too long"):
        bench.final_line(long_names, [{"sec": 0.2}], 0.1, 4, [], "BENCH_FULL.json")


def test_final_line_parses_with_headline_total() -> None:
    parsed = json.loads(_worst_case_final_line())
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["value"] == round(
        10 * 9999.999 + (len(bench.HEADLINE) - 10) * 1.0, 3
    )
    assert len(parsed["queries"]) == 10
    assert parsed["n_queries"] == len(bench.HEADLINE)
    assert parsed["sf"] == 100.0 and parsed["cpus"] == 1024
    assert parsed["probe"] == [9999.999, 9999.999]
    assert parsed["anchors_skipped"] == list(bench.QUADRATIC_ANCHORS)


def test_quadratic_anchor_gate_arithmetic() -> None:
    """Pins the size-gate arithmetic for the quadratic-by-role exact
    anchors (VERDICT r10 item 4): at the cap sf the cosine anchor's
    all-pairs GEMM is under the ceiling; one decade up it is past it
    and growing 100x per decade — which is exactly why ANCHOR_SF_CAP
    sits at the committed suite sf and must not rise silently."""
    macs_at_cap = bench.N_EMB_AT_CAP**2 * bench.EMB_DIM
    assert macs_at_cap < bench.ANCHOR_MAC_CEILING
    n_next_decade = bench.N_EMB_AT_CAP * 10
    assert n_next_decade**2 * bench.EMB_DIM > bench.ANCHOR_MAC_CEILING
    assert bench.ANCHOR_SF_CAP == 0.1  # the committed suite sf


def test_quadratic_anchor_gate_names_are_registered_exact_forms() -> None:
    """Every gated name exists in the registry and is an exact form
    (not one of the hashed/LSH scale paths, which must keep riding
    the suite at every sf)."""
    from gmall2021_flink_dw_spark.registry import load_all

    reg = load_all()
    for n in bench.QUADRATIC_ANCHORS:
        assert n in reg, n
        assert "hashed" not in n and "lsh" not in n
    # the scale paths stay unconditionally in HEADLINE
    for scale_path in ("dedup_substring_spans_hashed", "dedup_embedding_lsh"):
        assert scale_path in bench.HEADLINE
        assert scale_path not in bench.QUADRATIC_ANCHORS


def test_box_probe_returns_positive_seconds() -> None:
    # VERDICT r14 item 1: the ambience probe must be a real measurement
    # (positive, sub-minute) and cheap enough to run between passes.
    p = bench.box_probe(iters=100_000)
    assert 0.0 <= p < 60.0
