"""Chunk-boundary + multi-batch property tests for the bucketed
stateful streaming kernels (streaming/stateful.py).

The Spark-level equivalence tests (test_streaming.py) replay the whole
table in one micro-batch, so timers only fire in the trailing empty
batch and a key's rows arrive in one Arrow chunk. These tests drive
_jump_bucket_fn / _uv_bucket_fn / _new_user_bucket_fn DIRECTLY with a
fake GroupState under adversarial conditions neither fixture produces:

- a bucket's rows split across >= 3 Arrow chunks, shuffled within the
  chunk (the `pdfs` iterator contract: chunks are arbitrary slices);
- the stream cut into many micro-batches with state carried across,
  out-of-order WITHIN each batch (what a watermark admits), event-time
  timers fired exactly when the watermark passes their timestamp;
- many users sharing one bucket, so the kernels must segment correctly
  and merge per-member state without cross-talk. Every user in ONE
  bucket is the general case — Spark only routes rows;

and assert the emitted set equals the batch-oracle semantics computed
by a brute-force Python reference (the lag/lead rules of
operators/cep.py::detect_jumps, with its strict gap > timeout, and the
first-per-(key,day) rule of dwm_unique_visit).
"""

from __future__ import annotations

import random

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gmall2021_flink_dw_spark.streaming.stateful import (
    _DAY_US,
    JUMP_TIMEOUT_S,
    SESSION_GAP_S,
    _jump_bucket_fn,
    _new_user_bucket_fn,
    _uv_bucket_fn,
)

_GAP_US = SESSION_GAP_S * 1_000_000
_TIMEOUT_US = JUMP_TIMEOUT_S * 1_000_000

_SETTINGS = dict(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


class FakeState:
    """Minimal stand-in for pyspark.sql.streaming.state.GroupState
    implementing exactly the surface the bucketed kernels use."""

    def __init__(self):
        self._val = None
        self.hasTimedOut = False
        self.timeout_ms = None
        self.wm_ms = 0

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        assert self._val is not None
        return self._val

    def update(self, v):
        self._val = tuple(v)

    def remove(self):
        self._val = None
        self.timeout_ms = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms

    def getCurrentWatermarkMs(self):
        return self.wm_ms


def _chunked(rows: pd.DataFrame, rng: random.Random, n_chunks: int):
    """Split rows into >= n_chunks arbitrary slices, shuffled within —
    adversarial Arrow chunking (order within a micro-batch is NOT
    guaranteed; the machines must concat-then-sort)."""
    shuffled = rows.sample(frac=1, random_state=rng.randint(0, 2**31))
    n = max(1, min(n_chunks, len(shuffled)))
    bounds = sorted(rng.sample(range(1, len(shuffled)), n - 1)) if len(shuffled) > n else []
    pieces, prev = [], 0
    for b in bounds + [len(shuffled)]:
        pieces.append(shuffled.iloc[prev:b])
        prev = b
    return [p for p in pieces if len(p)] or [shuffled]


def _expected_jumps(ts_list):
    """Batch lag/lead oracle (dwm_user_jump): entry = no predecessor
    within the session gap; bounce = entry with no successor within the
    jump timeout."""
    srt = sorted(ts_list)
    out = []
    for i, ts in enumerate(srt):
        prev_gap = ts - srt[i - 1] if i > 0 else None
        nxt_gap = srt[i + 1] - ts if i + 1 < len(srt) else None
        if (prev_gap is None or prev_gap > _GAP_US) and (
            nxt_gap is None or nxt_gap > _TIMEOUT_US
        ):
            out.append(ts)
    return sorted(out)


def _expected_uv(ts_list):
    """First event per UTC day in (ts, event_id) order."""
    seen_days, out = set(), []
    for ts in sorted(ts_list):
        d = ts - ts % _DAY_US
        if d not in seen_days:
            seen_days.add(d)
            out.append(ts)
    return sorted(out)


def _run_bucket_machine(fn, batches):
    """Replay micro-batches of multi-user rows through a bucketed
    kernel with one FakeState; watermark = max event time of all
    PRIOR batches (Spark updates the watermark at batch end), timers
    fired whenever the new watermark passes them."""
    state = FakeState()
    out: list[pd.DataFrame] = []
    for chunks in batches:
        batch_max = max(int(ts) for c in chunks for ts in c["ts_us"])
        out.extend(fn((0,), iter(chunks), state))
        state.wm_ms = max(state.wm_ms, batch_max // 1000)
        if state.timeout_ms is not None and state.timeout_ms <= state.wm_ms:
            state.hasTimedOut = True
            state.timeout_ms = None
            out.extend(fn((0,), iter(()), state))
            state.hasTimedOut = False
    # end of stream: pending timers flush as if the watermark
    # eventually passed them, because the batch oracle counts an entry
    # with no successor as a bounce (no gap can be <= the timeout); the
    # kernels' sweeps are wm-checked, so advance the fake watermark to
    # infinity. The loop covers re-arming to a later member after a
    # partial flush.
    state.wm_ms = 2**60
    while state._val is not None and state.timeout_ms is not None:
        state.hasTimedOut = True
        state.timeout_ms = None
        out.extend(fn((0,), iter(()), state))
        state.hasTimedOut = False
    return pd.concat(out) if out else pd.DataFrame()


def _user_ts_pairs(step_us, max_steps):
    """(user, ts) pairs for five users on a grid of `step_us`: exact
    multiples land events on the gap/timeout/day boundaries."""
    return st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=0, max_value=max_steps).map(
                lambda m: m * step_us
            ),
        ),
        min_size=1,
        max_size=24,
        unique=True,
    )


# half-timeout steps up to 9000 s: session and bounce boundaries
_timeout_grid = _user_ts_pairs(_TIMEOUT_US // 2, 30)


def _mk_user_rows(pairs):
    return pd.DataFrame(
        {
            "user_id": [u for u, _ in pairs],
            "event_id": list(range(len(pairs))),
            "ts_us": [t for _, t in pairs],
            "event_type": ["pv"] * len(pairs),
        }
    )


def _cut_batches(pairs, n_batches, rng):
    """Sort by event time (stream arrival order), cut into micro-
    batches, chunk each adversarially."""
    srt = sorted(pairs, key=lambda p: (p[1], p[0]))
    cut = (
        sorted(rng.sample(range(1, len(srt)), min(n_batches - 1, len(srt) - 1)))
        if len(srt) > 1
        else []
    )
    batches, prev = [], 0
    for b in cut + [len(srt)]:
        rows = _mk_user_rows(srt[prev:b])
        rows["event_id"] = range(prev, b)
        batches.append(_chunked(rows, rng, 3))
        prev = b
    return batches


@given(_timeout_grid, st.integers(1, 4), st.randoms(use_true_random=False))
@settings(**_SETTINGS)
def test_jump_bucket_fn_multiuser_multibatch(pairs, n_batches, rng):
    """_jump_bucket_fn over a shared bucket must equal the per-user
    batch lag/lead oracle — every bounce of every member, no spurious
    ones, no cross-member state leakage."""
    got = _run_bucket_machine(_jump_bucket_fn, _cut_batches(pairs, n_batches, rng))
    got_pairs = (
        sorted(zip((int(u) for u in got["user_id"]), (int(t) for t in got["ts_us"])))
        if len(got)
        else []
    )
    want = []
    for u in {u for u, _ in pairs}:
        want.extend((u, t) for t in _expected_jumps([t for uu, t in pairs if uu == u]))
    assert got_pairs == sorted(want)


@given(
    # quarter-day steps up to 10 days: day boundaries fall inside and
    # between micro-batches, so new-day emits and TTL evictions happen
    # mid-stream
    st.one_of(_timeout_grid, _user_ts_pairs(_DAY_US // 4, 40)),
    st.integers(1, 5),
    st.randoms(use_true_random=False),
)
@settings(**_SETTINGS)
def test_uv_bucket_fn_multiuser_multibatch(pairs, n_batches, rng):
    """_uv_bucket_fn over a shared bucket must emit exactly the first
    event of each (member, day), with TTL eviction never re-emitting:
    a member is evicted only once the watermark (>= some later event's
    day) has passed its stored day's end."""
    got = _run_bucket_machine(_uv_bucket_fn, _cut_batches(pairs, n_batches, rng))
    got_pairs = (
        sorted(zip((int(u) for u in got["user_id"]), (int(t) for t in got["ts_us"])))
        if len(got)
        else []
    )
    want = []
    for u in {u for u, _ in pairs}:
        want.extend((u, t) for t in _expected_uv([t for uu, t in pairs if uu == u]))
    assert got_pairs == sorted(want)


@given(_timeout_grid, st.integers(1, 4), st.randoms(use_true_random=False))
@settings(**_SETTINGS)
def test_new_user_bucket_fn_multiuser_multibatch(pairs, n_batches, rng):
    """_new_user_bucket_fn: every row emits; exactly one '1' per member
    — the globally first (ts, event_id) row — across batch cuts."""
    got = _run_bucket_machine(
        _new_user_bucket_fn, _cut_batches(pairs, n_batches, rng)
    )
    assert len(got) == len(pairs)
    firsts = {}
    for u, t in pairs:
        if u not in firsts or t < firsts[u]:
            firsts[u] = t
    got_new = sorted(
        (int(r.user_id), int(r.ts_us))
        for r in got.itertuples()
        if r.is_new == "1"
    )
    assert got_new == sorted(firsts.items())


def test_jump_bucket_fn_exact_boundary_successor_cancels():
    """ADVICE r13 (stateful.py _flush_expired): at the EXACT boundary
    (watermark == pend + timeout) the sweep must NOT flush. The batch
    oracle's rule is strict (bounce iff successor gap > timeout), and a
    successor at ts == pend + timeout is not late at that watermark, so
    it may still arrive in a later micro-batch and must cancel the
    bounce.

    Staged so the property tests can't reach it (they cut batches in
    (ts, user) order): batch 1 = A's entry at 0 plus user 3's event at
    exactly TIMEOUT (watermark lands exactly on A's bound at batch
    end), batch 2 = user 2's row (its post-merge sweep runs with
    wm == A's bound and A's pending still live), batch 3 = A's
    on-time successor at ts == TIMEOUT. Old `<=` sweep flushed A in
    batch 2; strict `<` must not."""
    t = _TIMEOUT_US
    b1 = [_mk_user_rows([(1, 0), (3, t)])]
    b2 = _mk_user_rows([(2, t)])
    b2["event_id"] = [2]
    b3 = _mk_user_rows([(1, t)])
    b3["event_id"] = [3]
    got = _run_bucket_machine(_jump_bucket_fn, [b1, [b2], [b3]])
    got_pairs = (
        sorted(zip((int(u) for u in got["user_id"]), (int(x) for x in got["ts_us"])))
        if len(got)
        else []
    )
    # A (user 1): successor gap == timeout, not > timeout -> no bounce.
    # The old `<=` sweep emitted a spurious (1, 0) during batch 2's
    # post-merge sweep (wm == A's bound exactly, successor not yet
    # seen); strict `<` holds the pending until the successor cancels
    # it. A's successor sits within the session gap -> not an entry.
    # Users 2 and 3: lone entries -> bounce at end-of-stream.
    assert got_pairs == [(2, t), (3, t)]
