"""Misra-Gries heavy-hitters sketch as a two-pass exact top-k plan.

The reference's aggregation layer keeps exact per-key state for every
key it counts (e.g. the HashSet accumulators of ProductStats.java:74-84
and the keyed windowed reduces of ProductStatsApp.java) — which is fine
when the key space is dimensions, and fatal when it is an open token /
n-gram space at corpus scale: a plain ``groupBy(key).count()`` over
100 TB of character n-grams builds a hash table per map task whose size
is the local key cardinality, and the shuffle carries one record per
distinct key per task.

The classic fix (Misra & Gries 1982; merged-summary form per Agarwal et
al., "Mergeable Summaries", PODS 2012) bounds BOTH to ``m`` counters:

  pass 1  per-partition MG summary (capacity m) over the trigram
          stream, Arrow-batched: each batch is counted vectorized
          (``np.unique`` over packed trigram ids, ``trigram_mg_summaries``),
          merged into the running dict, and when the
          dict exceeds m the (len-m)-th smallest count q is subtracted
          from every counter and non-positive ones dropped.  Peak state
          during a merge is therefore O(m + distinct keys in the batch)
          — batch-bounded, collapsing back to <= m counters between
          batches (shrinking mid-merge would buy a strict m bound at
          the cost of re-sorting per insertion).  Subtracting
          q from >= m+1 counters removes >= q*(m+1) stream mass, so the
          TOTAL undercount of any key is <= N/(m+1) over the whole
          stream — the textbook MG bound survives batching.
  merge   union + sum of the per-partition summaries (<= parts*m rows).
          Summed lower bounds stay lower bounds; any key with true count
          > N/(m+1) has a positive merged count, so the merged summary
          is a guaranteed SUPERSET of every such key.
  pass 2  exact recount restricted to the candidate set (broadcast
          semi-join), so emitted counts are exact integers — the sketch
          decides WHICH keys to count, never the values.

Result: exact top-k whenever the k-th true count exceeds N/(m+1), with
state and shuffle bounded by m instead of the key cardinality.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

def _mg_shrink(counts: dict, m: int) -> None:
    """Decrement-and-drop so at most m counters remain (in place)."""
    excess = len(counts) - m
    if excess <= 0:
        return
    # q = the excess-th smallest counter value: subtracting q from all
    # counters zeroes out at least `excess` of them.
    q = sorted(counts.values())[excess - 1]
    for k in list(counts):
        nv = counts[k] - q
        if nv > 0:
            counts[k] = nv
        else:
            del counts[k]


# ---------------------------------------------------------------------
# Vectorized character-trigram kernel. Exploding trigrams JVM-side is
# LINEAR but alloc-bound: codegen materializes a 3-char UTF8String per
# trigram (measured: the explode alone costs 173 s at 150M trigrams /
# 500k docs, dwarfing the sketch). Shipping the RAW doc strings through
# Arrow (~150 MB, three orders of magnitude fewer rows) and windowing
# in numpy is ~10x cheaper end to end: each batch's text is decoded to
# UTF-32 (one uint32 per CHARACTER — identical semantics to DuckDB
# substr and Spark substring, which index characters, not bytes), and a
# trigram becomes three 21-bit codepoints packed into one int64
# (max 0x10FFFF < 2^21, so ids stay under 2^63). np.unique gives the
# per-batch counts. The same precedent as the simhash Arrow tile
# hasher: a vectorized kernel replacing a per-row-allocating codegen
# form, bit-identical by construction.


def _trigram_ids(texts) -> "np.ndarray":
    """int64 trigram ids for every character trigram in a batch of
    strings (windows never cross document boundaries). NULL/None
    entries yield no trigrams — matching the SQL oracles, where a NULL
    text row contributes zero rows to the trigram stream (ADVICE r11:
    None.encode used to raise, diverging from the DuckDB side)."""
    import numpy as np

    bufs = [t.encode("utf-32-le") for t in texts if t is not None]
    if not bufs:
        return np.empty(0, dtype=np.int64)
    cp = np.frombuffer(b"".join(bufs), dtype=np.uint32)
    if cp.size < 3:
        return np.empty(0, dtype=np.int64)
    ids = (
        cp[:-2].astype(np.int64)
        | (cp[1:-1].astype(np.int64) << 21)
        | (cp[2:].astype(np.int64) << 42)
    )
    # mask windows that straddle a document boundary: the last two
    # window positions of each doc (and every position of a doc
    # shorter than 3) are invalid
    ends = np.cumsum(np.fromiter((len(b) // 4 for b in bufs), dtype=np.int64))
    valid = np.ones(ids.size, dtype=bool)
    for off in (1, 2):
        idx = ends - off
        idx = idx[(idx >= 0) & (idx < ids.size)]
        valid[idx] = False
    return ids[valid]


def decode_trigram_id(tid: int) -> str:
    """Inverse of the 21-bit packing in _trigram_ids."""
    return (
        chr(tid & 0x1FFFFF)
        + chr((tid >> 21) & 0x1FFFFF)
        + chr(tid >> 42)
    )


def trigram_mg_summaries(docs: DataFrame, m: int) -> DataFrame:
    """Per-partition MG summaries over character trigrams of a 1-column
    string DataFrame, without ever materializing the trigram stream as
    rows. Emits (key bigint, c long) — key is the packed trigram id."""
    import numpy as np

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        for batch in batches:
            ids, n = np.unique(
                _trigram_ids(batch.iloc[:, 0].tolist()), return_counts=True
            )
            for key, k in zip(ids.tolist(), n.tolist()):
                counts[key] = counts.get(key, 0) + k
            _mg_shrink(counts, m)
        if counts:
            yield pd.DataFrame(
                {"key": list(counts.keys()), "c": list(counts.values())}
            )

    return docs.mapInPandas(summarize, schema="key bigint, c long")


def trigram_count_partials(docs: DataFrame) -> DataFrame:
    """Per-BATCH distinct (key, c) trigram-count partials over a
    1-column string DataFrame — the full-spectrum counterpart of
    `trigram_exact_counts` (no candidate filter). Emitting per batch
    (not per partition) keeps kernel state batch-bounded on an OPEN
    key space; Spark's map-side partial aggregation merges batch
    partials before the vocabulary-sized groupBy shuffle — the same
    output-reducing contract as bigram_model_partials (the rows that
    leave Python are bounded by distinct-per-batch, not by the
    trigram instance stream)."""
    import numpy as np

    def count(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            u, n = np.unique(
                _trigram_ids(batch.iloc[:, 0].tolist()), return_counts=True
            )
            if u.size:
                yield pd.DataFrame({"key": u, "c": n})

    return docs.mapInPandas(count, schema="key bigint, c long")


def trigram_exact_counts(docs: DataFrame, candidate_ids) -> DataFrame:
    """Exact per-partition partial counts restricted to the candidate
    trigram ids (same kernel, np.isin filter); sum the partials with a
    candidate-sized groupBy to get exact global counts."""
    import numpy as np

    cand = np.asarray(sorted(candidate_ids), dtype=np.int64)

    def count(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        for batch in batches:
            ids = _trigram_ids(batch.iloc[:, 0].tolist())
            ids = ids[np.isin(ids, cand)]
            u, n = np.unique(ids, return_counts=True)
            for key, k in zip(u.tolist(), n.tolist()):
                counts[key] = counts.get(key, 0) + k
        if counts:
            yield pd.DataFrame(
                {"key": list(counts.keys()), "c": list(counts.values())}
            )

    return docs.mapInPandas(count, schema="key bigint, c long")
