"""Property-based tests for the generic custom operators.

The registered queries exercise one call-shape each; these drive the
operators over randomized micro-inputs (hypothesis) and compare against
brute-force Python references — the guard for edge cases the fixtures
never produce (empty sides, ties at the boundary, keys with no match,
single-node components).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.datapipe.dedup import connected_components
from gmall2021_flink_dw_spark.operators.joins import asof_join, interval_join

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# small domains on purpose: collisions (same key, same ts, boundary
# hits) are the interesting cases
_keys = st.integers(min_value=0, max_value=3)
_ts = st.integers(min_value=0, max_value=20)


@st.composite
def _asof_inputs(draw):
    facts = draw(
        st.lists(st.tuples(_keys, _ts), min_size=0, max_size=15)
    )
    raw_versions = draw(
        st.lists(st.tuples(_keys, _ts, st.integers(0, 99)), max_size=15)
    )
    # unique (key, ts) per version: two versions at the same instant have
    # no defined winner in any as-of semantics
    versions = list({(k, t): (k, t, v) for k, t, v in raw_versions}.values())
    return facts, versions


@given(_asof_inputs())
@settings(**_SETTINGS)
def test_asof_join_matches_bruteforce(spark, inputs):
    facts, versions = inputs
    fact_rows = [(k, t, i) for i, (k, t) in enumerate(facts)]
    fdf = spark.createDataFrame(
        fact_rows, "k long, ft long, fid long"
    ) if fact_rows else spark.createDataFrame([], "k long, ft long, fid long")
    vdf = spark.createDataFrame(
        versions, "k long, vt long, val long"
    ) if versions else spark.createDataFrame([], "k long, vt long, val long")
    got = {
        (r.fid, r.val)
        for r in asof_join(
            fdf, vdf, key="k", fact_ts="ft", version_ts="vt",
            version_cols=["val"],
        ).collect()
    }
    want = set()
    for k, t, fid in fact_rows:
        cand = [v for v in versions if v[0] == k and v[1] <= t]
        want.add((fid, max(cand, key=lambda v: v[1])[2] if cand else None))
    assert got == want


@given(
    st.lists(st.tuples(_keys, _ts), max_size=12),
    st.lists(st.tuples(_keys, _ts), max_size=12),
)
@settings(**_SETTINGS)
def test_interval_join_matches_bruteforce(spark, left, right):
    lo, hi = -3, 2
    lrows = [(k, t, i) for i, (k, t) in enumerate(left)]
    rrows = [(k, t, i) for i, (k, t) in enumerate(right)]
    ldf = spark.createDataFrame(
        lrows, "lk long, lt long, lid long"
    ) if lrows else spark.createDataFrame([], "lk long, lt long, lid long")
    rdf = spark.createDataFrame(
        rrows, "rk long, rt long, rid long"
    ) if rrows else spark.createDataFrame([], "rk long, rt long, rid long")
    joined = interval_join(
        ldf, rdf,
        key=F.col("lk") == F.col("rk"),
        left_ts=F.col("lt"), right_ts=F.col("rt"),
        lower_s=lo, upper_s=hi,
    )
    got = {(r.lid, r.rid) for r in joined.collect()}
    want = {
        (li, ri)
        for lk, lt, li in lrows
        for rk, rt, ri in rrows
        if lk == rk and lt + lo <= rt <= lt + hi
    }
    assert got == want


class _UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


@given(st.lists(st.tuples(_keys, st.integers(0, 9)), min_size=1, max_size=20))
@settings(**_SETTINGS)
def test_connected_components_matches_union_find(spark, raw_edges):
    edges = [(a, b) for a, b in raw_edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(df).collect()
    }
    uf = _UF()
    for a, b in edges:
        uf.union(a, b)
    nodes = {n for e in edges for n in e}
    # min node id per component == the union-find root under min-merge
    want = {(n, uf.find(n)) for n in nodes}
    assert got == want


# ------------------------------------------------------------- r09:
# the vectorized trigram kernel (datapipe/sketch.py)

_texts = st.lists(
    st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_characters="\x00"
        ),
        max_size=12,
    ),
    max_size=8,
)


@given(_texts)
@settings(**_SETTINGS)
def test_trigram_kernel_matches_python_reference(texts):
    """The packed-int64 UTF-32 window kernel must produce exactly the
    multiset of character trigrams a naive per-string Python slide
    produces — including boundary masking (no window crosses a doc) and
    multibyte codepoints."""
    from collections import Counter

    from gmall2021_flink_dw_spark.datapipe.sketch import (
        _trigram_ids,
        decode_trigram_id,
    )

    got = Counter(
        decode_trigram_id(int(t)) for t in _trigram_ids(texts)
    )
    want = Counter(
        t[i : i + 3] for t in texts for i in range(len(t) - 2)
    )
    assert got == want


def test_trigram_kernel_skips_null_texts():
    """NULL text rows yield zero trigrams instead of AttributeError
    (ADVICE r11) — matching the SQL oracles, where a NULL row simply
    contributes no rows to the trigram stream. Boundary masking must
    still hold around the skipped entry."""
    from gmall2021_flink_dw_spark.datapipe.sketch import _trigram_ids

    with_nulls = _trigram_ids(["abcd", None, "wxyz", None])
    without = _trigram_ids(["abcd", "wxyz"])
    assert with_nulls.tolist() == without.tolist()
    assert _trigram_ids([None]).size == 0
    assert _trigram_ids([None, "ab"]).size == 0


@given(
    st.lists(st.integers(0, 50), min_size=1, max_size=200),
    st.integers(2, 8),
)
@settings(**_SETTINGS)
def test_mg_shrink_never_evicts_heavy_keys(stream_ints, m):
    """Randomized MG property: after any interleaving of merges and
    shrinks, every key with true count > N/(m+1) survives with a lower
    bound within the textbook undercount."""
    from gmall2021_flink_dw_spark.datapipe.sketch import _mg_shrink

    exact: dict[int, int] = {}
    mg: dict[int, int] = {}
    for i, k in enumerate(stream_ints):
        exact[k] = exact.get(k, 0) + 1
        mg[k] = mg.get(k, 0) + 1
        if i % 7 == 0:
            _mg_shrink(mg, m)
            assert len(mg) <= m
    _mg_shrink(mg, m)
    n = len(stream_ints)
    for k, c in exact.items():
        assert mg.get(k, 0) <= c
        assert c - mg.get(k, 0) <= n / (m + 1)
