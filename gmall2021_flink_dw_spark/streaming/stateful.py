"""Keyed-state streaming kernels: UV dedup with a 24 h TTL (W4), the
new-user flag (W5) and CEP-style bounce detection (W7).

The reference keeps keyed Flink state for each: a per-device ValueState
with a 24 h TTL (``UniqueVisitApp.java:43-78``), an unbounded per-device
ValueState (``BaseLogApp.java:55-77``) and a CEP NFA per device with
strict contiguity and a within-timeout, unioning the matched and
timed-out side outputs (``UserJumpDetailApp.java:77-134``).

The Spark form is ``applyInPandasWithState`` over BUCKET state:

- rows group by a hash bucket of the key,
  ``pmod(xxhash64(user_id), n_buckets)``, not by the key itself;
- a bucket's state is a set of parallel int64 arrays: the sorted,
  unique member ids and one value per member in each other column;
- a kernel sorts its batch by (user_id, ts_us, event_id), so each
  member's rows form one contiguous segment, and runs the per-key
  recurrence segment-wise in numpy across all members at once;
- the per-key event-time timer becomes one bucket timer armed at the
  earliest member bound, plus a sweep on every call that expires the
  members whose own bound the current watermark has passed.

Framework overhead (Arrow round-trip, state-store get/commit, output
DataFrame ctor: ~1.3 ms per group, profiled r12) thus scales with
n_buckets, a knob, not with the key count. This is Flink's key-group
layout (keys hash into a fixed number of key groups and state is
tracked per group; Carbone et al., VLDB 2017), which the reference
inherits from Flink's runtime.

The batch oracles are operators/cep.py::detect_jumps (lag/lead),
operators/dedup.py::correct_new_user_flag and the first-per-(key, day)
row_number of dwm_unique_visit. tests/test_streaming.py asserts stream
== batch on replay and across a checkpoint restart;
tests/test_state_machines.py drives the kernels directly under
micro-batch cuts, Arrow chunking and timer firings.

Note on transformWithStateInPandas (Spark 4's state-v2 API with native
value-state TTL): it would express the 24 h OnCreateAndWrite TTL of
UniqueVisitApp.java:51-53 directly, but its Python state server needs
google.protobuf, which is absent from this image (verified: the
streaming runner crashes with ImportError on init). The
applyInPandasWithState + event-time-timer forms below implement the
same TTL semantics on the v1 API, which has no such dependency.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_S = 1800  # the engine's session gap (UserJumpDetailApp entry rule)
JUMP_TIMEOUT_S = 600

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
    ]
)

NEW_USER_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("is_new", T.StringType()),
    ]
)

_DAY_US = 86_400 * 1_000_000

UV_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("dt", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ]
)

# At 100 TB the bucket id is the shuffle/state-store key: n_buckets
# scales with key cardinality, buckets stay O(keys/n_buckets) and
# spill-free, and the state store round-trips n_buckets rows per batch
# instead of n_keys. The trade-off is write amplification — one
# member's update rewrites the bucket row — which pays off exactly when
# per-group overhead dominates state size (the measured regime here: 8
# state partitions beat 32 at sf0.1 AND 10x because state is small).
#
# Measured sweep (uv dedup, solo min-of-3, r13): at 10x (15k keys)
# 16 buckets 6.5 s (parallelism-starved: fewer buckets than the ~32
# state-store partitions), 32: 5.3, 64: 4.7, 128: 4.7, 256: 5.3,
# 1024: 5.4 — per-group overhead creeps back as buckets grow; at
# sf0.1, 64: 2.78 vs 256: 3.08. 64 wins both scales on this box
# (local[32]); on a real cluster the knob scales with executor-core
# count and key cardinality — per-bucket state must stay
# O(keys/n_buckets) memory-bounded, which every kernel below is.
N_STATE_BUCKETS = 64


def _bucket_sorted_batch(
    pdfs: Iterator[pd.DataFrame], extra: tuple[str, ...] = ()
) -> tuple:
    """Concat a bucket's Arrow chunks and sort by (user_id, ts_us,
    event_id), returning int64 numpy arrays (uid, ts, ev, *extra).
    Chunks are arbitrary slices in arbitrary order (the `pdfs` iterator
    contract), so concat-then-sort comes before any order-dependent
    logic. The user sort groups each member's rows into one contiguous
    segment so the per-key recurrences vectorize segment-wise. numpy
    lexsort on the int64 columns instead of DataFrame.sort_values: the
    latter's per-call overhead was 44% of a whole stateful query's
    Python time (profiled r12, 15k keys at 10x)."""
    chunks = list(pdfs)
    rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
    uid = rows["user_id"].to_numpy(np.int64)
    ts = rows["ts_us"].to_numpy(np.int64)
    ev = rows["event_id"].to_numpy(np.int64)
    order = np.lexsort((ev, ts, uid))
    cols = tuple(rows[c].to_numpy()[order] for c in extra)
    return (uid[order], ts[order], ev[order], *cols)


def _state_arrays(state: GroupState, n_cols: int) -> tuple:
    """Load a bucket's state as int64 arrays (users + n_cols-1 value
    columns), or empties when absent. users is sorted ascending and
    unique — the invariant every writer below maintains."""
    if state.exists:
        return tuple(np.asarray(c, dtype=np.int64) for c in state.get)
    return tuple(np.empty(0, dtype=np.int64) for _ in range(n_cols))


def _member_lookup(su: "np.ndarray", users: "np.ndarray") -> tuple:
    """(positions, found-mask) of `users` in the sorted state array."""
    if not len(su):
        return (
            np.zeros(len(users), dtype=np.int64),
            np.zeros(len(users), dtype=bool),
        )
    pos = np.minimum(np.searchsorted(su, users), len(su) - 1)
    return pos, su[pos] == users


def _merge_member_state(su, svals, bu, bvals):
    """Merge per-user state arrays: batch entries (bu, bvals) REPLACE
    state entries for the same user; both sides sorted unique; result
    sorted unique. svals/bvals are tuples of parallel arrays."""
    keep = ~np.isin(su, bu, assume_unique=True)
    u = np.concatenate([su[keep], bu])
    order = np.argsort(u, kind="stable")
    vals = tuple(
        np.concatenate([sv[keep], bv])[order]
        for sv, bv in zip(svals, bvals)
    )
    return u[order], vals


def _seg_bounds(uid: "np.ndarray") -> tuple:
    """(segment-start mask, segment-end mask) over user-sorted rows."""
    seg = np.empty(len(uid), dtype=bool)
    seg[0] = True
    seg[1:] = uid[1:] != uid[:-1]
    end = np.empty(len(uid), dtype=bool)
    end[:-1] = seg[1:]
    end[-1] = True
    return seg, end


UV_BUCKET_STATE = T.StructType(
    [
        T.StructField("users", T.ArrayType(T.LongType())),
        T.StructField("day_us", T.ArrayType(T.LongType())),
    ]
)


def _uv_bucket_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """W4 UV dedup: state = (sorted member ids, UTC day already emitted
    per member); the first event of a member's new day passes.

    TTL: the reference sets a 24 h OnCreateAndWrite TTL on its
    ValueState (UniqueVisitApp.java:51-53). Here a member is evicted
    once the watermark reaches its stored day's end: the same bound
    (<= 24 h after the write), and exactly when the value can no longer
    affect emission, since any later event is a different day and emits
    regardless. An event at the day end itself is the next day, so
    eviction at `day_end <= watermark` is safe. State stays O(members
    active within 24 h), not O(members ever). Eviction runs on the
    timer AND on every data call (the timer must be re-armed per
    invocation anyway, so the data path is also a correct eviction
    point)."""
    wm_us = state.getCurrentWatermarkMs() * 1000
    su, sd = _state_arrays(state, 2)

    def _store(u, d):
        keep = d + _DAY_US > wm_us  # TTL: day-end already passed -> drop
        u, d = u[keep], d[keep]
        if len(u):
            state.update((u.tolist(), d.tolist()))
            # one timer at the min day-end; re-armed every invocation
            state.setTimeoutTimestamp(
                max((int(d.min()) + _DAY_US) // 1000, wm_us // 1000 + 1)
            )
        else:
            state.remove()

    if state.hasTimedOut:
        _store(su, sd)
        return

    uid, ts, ev, et = _bucket_sorted_batch(pdfs, ("event_type",))
    # After the sort a member's UTC day is non-decreasing within its
    # segment, so "emit when the day differs from the last emitted one"
    # reduces to: emit the first row of each distinct-day run, except a
    # segment's first run when it equals the carried-in day. Consecutive
    # runs always differ, so no other run can be suppressed.
    d = ts - ts % _DAY_US
    seg, end = _seg_bounds(uid)
    emit = seg.copy()
    emit[1:] |= d[1:] != d[:-1]
    first_idx = np.flatnonzero(seg)
    pos, found = _member_lookup(su, uid[first_idx])
    same_day = found & (sd[pos] == d[first_idx]) if len(su) else found
    emit[first_idx[same_day]] = False
    idx = np.flatnonzero(emit)

    new_u, (new_d,) = _merge_member_state(su, (sd,), uid[end], (d[end],))
    _store(new_u, new_d)
    if len(idx):
        d_emit = d[idx]
        yield pd.DataFrame(
            {
                "user_id": uid[idx],
                "dt": (d_emit // _DAY_US).astype("datetime64[D]").astype(str),
                "event_id": ev[idx],
                "ts_us": ts[idx],
                "event_type": et[idx],
            }
        )


NEW_USER_BUCKET_STATE = T.StructType(
    [T.StructField("users", T.ArrayType(T.LongType()))]
)


def _new_user_bucket_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """W5/P11 new-user flag: state = sorted ids ever seen in this
    bucket. Every row emits; a member's first-ever row, in (ts,
    event_id) order, keeps is_new='1' and every later one is '0', so
    replay matches the batch min-struct oracle. Unbounded by contract
    (the reference configures no TTL on this ValueState —
    BaseLogApp.java:55-77)."""
    (su,) = _state_arrays(state, 1)
    uid, ts, ev = _bucket_sorted_batch(pdfs)
    seg, _ = _seg_bounds(uid)
    first_idx = np.flatnonzero(seg)
    _, found = _member_lookup(su, uid[first_idx])
    flags = np.full(len(uid), "0", dtype=object)
    flags[first_idx[~found]] = "1"
    state.update((np.union1d(su, uid[first_idx]).tolist(),))
    yield pd.DataFrame(
        {"user_id": uid, "event_id": ev, "ts_us": ts, "is_new": flags}
    )


JUMP_BUCKET_STATE = T.StructType(
    [
        T.StructField("users", T.ArrayType(T.LongType())),
        T.StructField("last_us", T.ArrayType(T.LongType())),
        T.StructField("pend_us", T.ArrayType(T.LongType())),
        T.StructField("pend_event", T.ArrayType(T.LongType())),
    ]
)

_NO_PEND = -1  # array-state sentinel for "no pending entry"


def _jump_bucket_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """W7 bounce detection: state = (sorted member ids, last event
    time, pending-entry time, pending-entry event), _NO_PEND when a
    member has no pending entry. On every event of a member:

    - a pending entry whose successor arrives later than the jump
      timeout is emitted as a bounce (the CEP timeout side-output);
    - a pending entry with a successor inside the timeout is discarded
      (strict contiguity: the visit continued);
    - an event starting a new session (gap > session gap) becomes the
      new pending entry.

    The recurrence flattens because a pending entry never survives past
    the member's NEXT event: it either bounces against its successor
    gap or is discarded, so the in-batch bounces are the entries whose
    successor gap exceeds the timeout, and only a segment's last row
    carries a pending entry out of the batch. A pending entry that
    never sees a successor is flushed once the watermark passes its
    bound — the reference's `within` timeout — by one bucket timer at
    the earliest pending bound plus a sweep on every call."""
    gap_us = SESSION_GAP_S * 1_000_000
    timeout_us = JUMP_TIMEOUT_S * 1_000_000
    wm_ms = state.getCurrentWatermarkMs()
    su, sl, sp, spe = _state_arrays(state, 4)
    out_u: list = []
    out_e: list = []
    out_t: list = []

    def _flush_expired(u, l, p, pe):
        """Emit + clear every pending entry whose bound the watermark
        passed. last_us is kept: dropping it would make a later event
        within the session gap of the member's previous activity look
        like a fresh session entry — a bounce the batch oracle never
        emits. The bound is STRICT: a pending entry expires only once
        the watermark is past (pend + timeout) in ms, because a
        successor at exactly ts == pend + timeout is not late at that
        watermark, may still arrive in a later micro-batch, and cancels
        the bounce under the batch oracle's strict gap > timeout rule
        (pinned by test_jump_bucket_fn_exact_boundary_successor_cancels)."""
        exp = (p != _NO_PEND) & ((p + timeout_us) // 1000 < wm_ms)
        if exp.any():
            out_u.append(u[exp])
            out_e.append(pe[exp])
            out_t.append(p[exp])
            p = np.where(exp, _NO_PEND, p)
            pe = np.where(exp, _NO_PEND, pe)
        return u, l, p, pe

    def _store(u, l, p, pe):
        if len(u):
            state.update((u.tolist(), l.tolist(), p.tolist(), pe.tolist()))
            pend = p != _NO_PEND
            if pend.any():
                # first ms at which the earliest pending entry expires
                state.setTimeoutTimestamp(
                    max(
                        (int(p[pend].min()) + timeout_us) // 1000 + 1,
                        wm_ms + 1,
                    )
                )
        else:
            state.remove()

    if state.hasTimedOut:
        _store(*_flush_expired(su, sl, sp, spe))
        if out_u:
            yield pd.DataFrame(
                {
                    "user_id": np.concatenate(out_u),
                    "event_id": np.concatenate(out_e),
                    "ts_us": np.concatenate(out_t),
                }
            )
        return

    uid, ts, ev = _bucket_sorted_batch(pdfs)
    seg, end = _seg_bounds(uid)
    first_idx = np.flatnonzero(seg)
    pos, found = _member_lookup(su, uid[first_idx])

    # carried-in last_us per segment (no state -> force row 0 an entry)
    prev = np.empty(len(ts), dtype=np.int64)
    prev[1:] = ts[:-1]
    carried_last = np.where(
        found, sl[pos] if len(su) else 0, ts[first_idx] - gap_us - 1
    )
    prev[first_idx] = carried_last
    is_entry = (ts - prev) > gap_us

    # carried-in pending vs each segment's first event (then cleared
    # either way — strict contiguity)
    if len(su):
        carried_pend = np.where(found, sp[pos], _NO_PEND)
        carried_pe = np.where(found, spe[pos], _NO_PEND)
    else:
        carried_pend = np.full(len(first_idx), _NO_PEND, dtype=np.int64)
        carried_pe = carried_pend
    expired = (carried_pend != _NO_PEND) & (
        ts[first_idx] - carried_pend > timeout_us
    )
    if expired.any():
        out_u.append(uid[first_idx[expired]])
        out_e.append(carried_pe[expired])
        out_t.append(carried_pend[expired])

    # in-batch bounces: entries (not segment-last) whose successor gap
    # exceeds the jump timeout
    gap_next = np.empty(len(ts), dtype=np.int64)
    gap_next[:-1] = ts[1:] - ts[:-1]
    gap_next[-1] = 0
    inb = is_entry & ~end & (gap_next > timeout_us)
    if inb.any():
        out_u.append(uid[inb])
        out_e.append(ev[inb])
        out_t.append(ts[inb])

    # per-member carry-out: last event time; segment-last entries pend
    ent_end = is_entry[end]
    bu = uid[end]
    bl = ts[end]
    bp = np.where(ent_end, ts[end], _NO_PEND)
    bpe = np.where(ent_end, ev[end], _NO_PEND)
    u2, (l2, p2, pe2) = _merge_member_state(
        su, (sl, sp, spe), bu, (bl, bp, bpe)
    )
    # members without data this batch whose pending the watermark
    # passed flush NOW: the first micro-batch whose carried-in
    # watermark passes a member's bound is the one that flushes it,
    # whether the call is the timer's or a data call
    _store(*_flush_expired(u2, l2, p2, pe2))

    if out_u:
        yield pd.DataFrame(
            {
                "user_id": np.concatenate(out_u),
                "event_id": np.concatenate(out_e),
                "ts_us": np.concatenate(out_t),
            }
        )


def _with_bucket(prepared: DataFrame, n_buckets: int) -> DataFrame:
    """Attach the state bucket id: pmod(xxhash64(user_id), n_buckets).
    xxhash64 (not raw modulo) so arithmetically-patterned key spaces
    still spread; pmod keeps the negative half in range."""
    return prepared.withColumn(
        "__bucket", F.pmod(F.xxhash64("user_id"), F.lit(n_buckets))
    )


def uv_dedup_ttl_stream_bucketed(
    events: DataFrame,
    watermark: str = "0 seconds",
    n_buckets: int = N_STATE_BUCKETS,
) -> DataFrame:
    """W4 UV dedup with a 24 h state TTL. `events` needs (user_id,
    event_id, ts, event_type). Emission is immediate (the first event
    of each (key, day)), so on in-order replay the emitted set equals
    the batch row_number oracle exactly; the TTL timer only bounds
    state size."""
    prepared = events.withWatermark("ts", watermark).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
        "ts",
    )
    return _with_bucket(prepared, n_buckets).groupBy(
        "__bucket"
    ).applyInPandasWithState(
        _uv_bucket_fn,
        UV_SCHEMA,
        UV_BUCKET_STATE,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def correct_new_user_stream_bucketed(
    events: DataFrame, n_buckets: int = N_STATE_BUCKETS
) -> DataFrame:
    """W5 streaming form of operators/dedup.py::correct_new_user_flag.
    `events` needs (user_id, event_id, ts). No timeout: the reference
    keeps this state forever (no TTL configured on the ValueState)."""
    prepared = events.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    return _with_bucket(prepared, n_buckets).groupBy(
        "__bucket"
    ).applyInPandasWithState(
        _new_user_bucket_fn,
        NEW_USER_SCHEMA,
        NEW_USER_BUCKET_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def jump_detect_stream_bucketed(
    events: DataFrame,
    watermark: str = "0 seconds",
    n_buckets: int = N_STATE_BUCKETS,
) -> DataFrame:
    """W7 streaming bounce detection; the batch oracle is
    operators/cep.py::detect_jumps. `events` needs (user_id, event_id,
    ts)."""
    prepared = events.withWatermark("ts", watermark).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "ts",
    )
    return _with_bucket(prepared, n_buckets).groupBy(
        "__bucket"
    ).applyInPandasWithState(
        _jump_bucket_fn,
        OUTPUT_SCHEMA,
        JUMP_BUCKET_STATE,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
