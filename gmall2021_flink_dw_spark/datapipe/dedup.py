"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant):
- exact: one hash-groupBy on a content fingerprint — linear, one shuffle.
- n-gram Jaccard (exact pairs): inverted-index self-join on shingles —
  cost ~ sum over shingles of df^2, NOT all-pairs n^2. At 100 TB add
  `max_df` to drop ubiquitous shingles (they can't certify high Jaccard
  but dominate join fan-out).
- MinHash+LSH: k=32 signature, b=8 bands x r=4 rows — candidate pairs
  only where a band collides; exact Jaccard verification on candidates.
  Tunable (b,r) trades recall vs cost; recall at j=0.8 is
  1-(1-0.8^4)^8 ~ 0.986.
- SimHash: 64-bit weighted token hash; near-dup = small Hamming
  distance; candidates via 4x16-bit block index (any exact-match block).

All hashing is xxhash64 (Spark built-in, deterministic across runs and
partitionings). The LSH/SimHash sketches have no direct SQL form, so
their registered queries (plans/datapipe.py) emit the exact
counterpart's rows plus pinned recall flags the DuckDB oracle checks;
tests/test_datapipe.py additionally bounds per-method recall against
the exact n-gram-Jaccard pairs.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.cache import tracked_persist

from gmall2021_flink_dw_spark.datapipe.text import shingle_hashes, with_tokens

# 31-bit Mersenne prime: keeps a*h + b within long range under Spark's
# default ANSI overflow checking (a,b < 2^30, h < 2^31 -> product < 2^61).
MERSENNE_PRIME = (1 << 31) - 1
NUM_PERM = 32
LSH_BANDS = 8
LSH_ROWS = 4  # NUM_PERM = LSH_BANDS * LSH_ROWS

# Fixed (a, b) parameters for the 32 universal-hash permutations,
# generated once from a pinned seed so signatures are stable across runs.
_rng = random.Random(20240813)

# Absolute ceiling on the RELATIVE df cap (r12-ext): a fractional cap
# alone (keep shingles with df <= frac*n) leaves the inverted-index
# self-join fan-out Sum(df^2) <= n_keys * (frac*n)^2 — QUADRATIC in the
# corpus. At 100x (500k docs, cap 5000) dedup_winnow_pairs' pair stage
# spilled ~70 GB of shuffle and filled the disk. The ceiling pins the
# per-key fan-out at its 10x level: ceil(0.01*n) at sf0.01/0.1/10x is
# 5/50/500, all <= the ceiling, so every measured result is unchanged;
# above 10x the cap stops growing — the standard production contract
# (MinHashLSH/ExactSubstr pipelines cap df absolutely, not
# fractionally). The matching DuckDB oracles interpolate this constant.
DF_CAP_CEIL = 500
PERM_PARAMS = [
    (_rng.randrange(1, 1 << 30), _rng.randrange(0, 1 << 30))
    for _ in range(NUM_PERM)
]


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash; survivor = min doc_id per group."""
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        docs.withColumn("fingerprint", F.md5(F.col("text")))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(Window.partitionBy("fingerprint")))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def doc_shingles(docs: DataFrame, n: int = 5) -> DataFrame:
    """(doc_id, shingle) exploded pairs + per-doc shingle count.

    `shingle` is the int64 xxhash64 identity, not the string (r12):
    every consumer — the inverted-index self-join, the df-cap, MinHash
    signatures, the contamination broadcast join — compares shingles
    only for equality, and the string form's concat+persist+shuffle
    was the measured 10x bottleneck (see text.py::shingle_hashes for
    the numbers and the collision contract).

    r15, two measured fixes at 10x (3.22 -> 1.17 s for this build):
    - the grams array goes through an explode-of-1-element-array
      Generate first, so it becomes a bound ATTRIBUTE and the
      ``size(grams)`` + ``explode(grams)`` pair downstream reads it
      instead of inlining the build — the previous projection shape
      collapsed into TWO evaluations of the whole shingle build per
      row (higher-order functions are excluded from codegen
      subexpression elimination, so only a Generate truncates
      projection collapse);
    - the input is spread to cluster parallelism first (the corpus
      scan is 1-2 tasks on a single-row-group file; guide §2.5)."""
    toks = with_tokens(docs).filter(F.size("__tokens") >= n)
    g = toks.select(
        "doc_id", F.explode(F.array(shingle_hashes("__tokens", n))).alias("grams")
    )
    return g.select(
        "doc_id", F.size("grams").alias("n_grams"), F.explode("grams").alias("shingle")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 5,
    threshold: float = 0.5,
    max_df: int | None = None,
    max_df_frac: float | None = None,
    df_floor: int = 5,
    exploded: DataFrame | None = None,
    per_doc: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs via inverted-index join on shingles.

    max_df / max_df_frac (scale knob): drop shingles appearing in more
    than max_df docs (or max_df_frac of the corpus, floored at df_floor
    docs so tiny corpora keep everything) before pairing. The join
    fan-out is sum over shingles of df^2 — one ubiquitous shingle is
    quadratic in corpus size, so at 100x data the cap is what keeps the
    plan bounded. High-Jaccard pairs share many RARE shingles, so the
    cap costs recall only for pairs near the threshold (measured in
    tests/test_datapipe.py); na/nb keep the uncapped shingle counts, so
    surviving pairs' Jaccard values are unchanged or lowered, never
    inflated.

    exploded (r11): callers that already materialized the per-doc
    shingle arrays (dedup_minhash_lsh persists them for the LSH side)
    pass their own (doc_id, n_grams, shingle) exploded table so the
    regexp tokenizer + shingle-array build runs ONCE per query, not
    once per side.
    """
    # Persist the exploded shingle table HASH-PARTITIONED ON THE JOIN
    # KEY: it feeds the df-count aggregate and BOTH sides of the
    # self-join, and Spark evaluates each DAG branch independently —
    # without the persist the tokenizer + shingle build runs three
    # times, and without the repartition each consumer re-exchanges the
    # cached rows on `shingle` (three shuffles of the same table on the
    # same key; the broadcast anti-join below preserves partitioning,
    # so with it the groupBy AND both self-join sides read co-located
    # cache blocks exchange-free — measured 8.3 -> 6.4 s at 10x, r12).
    # At 100 TB this is "materialize the inverted index partitioned by
    # term before joining" (a bucketed checkpoint); the in-memory
    # persist is the local form. Caller-supplied `exploded` tables are
    # NOT re-partitioned: they derive from an already-persisted grams
    # cache (dedup_minhash_lsh), where the extra exchange+persist costs
    # more than it saves (measured 8.7 -> 10.3 s at 10x before this
    # condition; 10.3 -> 8.4 s with it).
    e = tracked_persist(
        doc_shingles(docs, n).repartition("shingle")
        if exploded is None
        else exploded
    )
    if max_df is not None or max_df_frac is not None:
        df_counts = e.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        if max_df is not None:
            hot = df_counts.filter(F.col("__df") > max_df)
        else:
            # relative cap: greatest(df_floor, least(ceil(frac * n_docs),
            # DF_CAP_CEIL)) — the absolute ceiling bounds the self-join
            # fan-out (see DF_CAP_CEIL); n_docs computed lazily (1-row
            # agg, broadcast) so the builder stays action-free.
            # r15: count the PER-DOC side, not count_distinct over the
            # exploded index — distinct doc_id in e is exactly the docs
            # with >= n tokens (every such doc emits >= 1 shingle), and
            # a count over n_docs rows beats a distinct-shuffle over
            # ~50x more exploded rows (measured 1.0 -> <0.1 s warm at
            # 10x). Callers holding a per-doc frame (the grams cache)
            # pass it; otherwise one extra size-filtered tokenize pass
            # over `docs` is still cheaper than the distinct.
            if per_doc is None:
                per_doc = with_tokens(docs).filter(
                    F.size("__tokens") >= n
                )
            total = per_doc.agg(F.count(F.lit(1)).alias("__n"))
            hot = df_counts.crossJoin(F.broadcast(total)).filter(
                F.col("__df")
                > F.greatest(
                    F.lit(df_floor),
                    F.least(
                        F.ceil(F.lit(max_df_frac) * F.col("__n")),
                        F.lit(DF_CAP_CEIL),
                    ),
                )
            )
        # anti-join the HOT set (small by construction — only shingles
        # above the cap); broadcasting the kept set would ship nearly
        # the whole vocabulary to every executor. The hot set is
        # persisted: the anti-join result feeds BOTH self-join sides,
        # and without the persist each side re-runs the df-count
        # aggregate + corpus-count over the cached corpus (the AQE
        # final plan showed the whole cap sub-plan duplicated per
        # side); caching the tiny over-cap table dedupes that at the
        # cost of a vocabulary-independent handful of rows.
        e = e.join(
            F.broadcast(tracked_persist(hot.select("shingle"))),
            "shingle",
            "left_anti",
        )
    # Force a partitioned (shuffle-hash) self-join: Catalyst's size
    # estimate for exploded output is the pre-explode size, which makes
    # it broadcast the full shingle table — fatal at 100 TB. The equi key
    # (shingle) hash-partitions both sides identically; AQE still splits
    # skewed shingles.
    a = e.alias("a").hint("shuffle_hash")
    b = e.alias("b")
    # Length filter (PPJoin family, Xiao et al. 2008, public): jaccard
    # <= min(na,nb)/max(na,nb), so a pair whose size ratio is below the
    # threshold can NEVER qualify — pruning it inside the join condition
    # keeps those rows out of the pair-count aggregation entirely
    # (lossless by the bound above; at threshold 0.95 this drops most of
    # the candidate fan-out before the shuffle).
    len_ok = (
        F.col("a.n_grams") >= F.lit(threshold) * F.col("b.n_grams")
    ) & (F.col("b.n_grams") >= F.lit(threshold) * F.col("a.n_grams"))
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & len_ok,
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first(F.col("a.n_grams")).alias("na"),
            F.first(F.col("b.n_grams")).alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return pairs


def _signatures_from_exploded(e: DataFrame) -> DataFrame:
    """MinHash signatures from an exploded (doc_id, n_grams, shingle)
    table: 32 min-aggregations over universal-hashed shingle hashes."""
    e = e.withColumn(
        # reduce the signed 64-bit hash into [0, 2^31) so the universal
        # hash products stay within long range (ANSI overflow checking).
        "h",
        F.pmod(F.xxhash64("shingle"), F.lit(MERSENNE_PRIME)),
    )
    aggs = [
        F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MERSENNE_PRIME))).alias(
            f"s{i}"
        )
        for i, (a, b) in enumerate(PERM_PARAMS)
    ]
    return e.groupBy("doc_id").agg(F.first("n_grams").alias("n_grams"), *aggs)


def minhash_lsh_candidates(sigs: DataFrame) -> DataFrame:
    """Banded LSH: hash each band of r signature values; docs colliding in
    any band become a candidate pair (distinct)."""
    bands = []
    for band in range(LSH_BANDS):
        cols = [f"s{band * LSH_ROWS + r}" for r in range(LSH_ROWS)]
        bands.append(
            F.struct(
                F.lit(band).alias("band"),
                F.xxhash64(*[F.col(c) for c in cols]).alias("bhash"),
            )
        )
    exploded = sigs.select(
        "doc_id", F.explode(F.array(*bands)).alias("b")
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.bhash").alias("bhash"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def shingle_grams(docs: DataFrame, n: int = 5) -> DataFrame:
    """Persisted per-doc shingle-array table (doc_id, grams, n_grams) —
    the shared intermediate of the LSH and exact-Jaccard paths. Arrays
    hold int64 shingle identities (text.py::shingle_hashes): the
    array_intersect verify and the signature path are equality-only,
    and long arrays persist/exchange ~4x smaller than the strings."""
    # Single-eval grams build (r15): explode of a 1-element array is a
    # Generate, whose input expression runs ONCE per row; `grams` is
    # then a bound attribute, so size(grams) downstream cannot inline
    # the build. The previous select+withColumn pair collapsed into TWO
    # full shingle builds per row (struct-field and let forms simplify
    # back to the same thing; only a Generate truncates projection
    # collapse — measured with doc_shingles at 10x: 2.29 -> 1.04 s).
    # Input spread to cluster parallelism first (guide §2.5 tiny scan).
    return tracked_persist(
        with_tokens(docs)
        .filter(F.size("__tokens") >= n)
        .select(
            "doc_id",
            F.explode(F.array(shingle_hashes("__tokens", n))).alias("grams"),
        )
        .withColumn("n_grams", F.size("grams"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 5,
    threshold: float = 0.5,
    grams: DataFrame | None = None,
) -> DataFrame:
    """MinHash LSH candidates verified with exact Jaccard (computed only
    for candidates — the 100 TB-scale near-dup path).

    The (doc_id, grams) table is built ONCE and persisted: the signature
    path and both sides of the candidate-verify join consume it, and
    Spark recomputes unshared DAG branches — without the persist the
    tokenizer runs three times over the corpus. At 100 TB the same
    intermediate is a checkpointed table. Callers that also need the
    shingle arrays (dedup_minhash_lsh's exact side) build them once via
    `shingle_grams` and pass them in."""
    if grams is None:
        grams = shingle_grams(docs, n)
    exploded = grams.select(
        "doc_id", "n_grams", F.explode("grams").alias("shingle")
    )
    cand = minhash_lsh_candidates(_signatures_from_exploded(exploded))
    ga = grams.select(
        F.col("doc_id").alias("doc_a"), F.col("grams").alias("grams_a")
    )
    gb = grams.select(
        F.col("doc_id").alias("doc_b"), F.col("grams").alias("grams_b")
    )
    return (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("grams_a", "grams_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.size("grams_a") + F.size("grams_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def connected_components(edges: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Min-label connected components over undirected (doc_a, doc_b)
    edges — the standard post-pairing step of a dedup pipeline: near-dup
    PAIRS become near-dup CLUSTERS, and one survivor is kept per cluster.

    Each round runs (a) neighbor-min propagation (label(v) <- min of own
    and neighbors' labels) then (b) pointer jumping (label(v) <-
    label(label(v))), which at least doubles the distance a minimum has
    traveled — O(log diameter) rounds to the fixpoint. The loop runs to
    CONVERGENCE: labels only ever decrease, so sum(label) is a monotone
    convergence measure and one cheap scalar action per round detects
    the fixpoint exactly. Each round's result is localCheckpoint-ed —
    iterative DataFrame graphs MUST truncate lineage per round, or the
    self-referencing plan (and Catalyst analysis time) grows
    exponentially with the round count; materializing the frontier per
    round is precisely what a 100 TB CC job (GraphX/GraphFrames'
    large-star algorithm included) does, and the per-round state is one
    (node, label) row per vertex. Every step is an equi-join/groupBy on
    the node id or label.

    Returns (doc_id, cluster_id): one row per node appearing in edges,
    cluster_id = min doc_id of the component.
    """
    sym = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            edges.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
    )
    sym = tracked_persist(sym)
    labels = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    prev_sum = None
    for _ in range(max_rounds):
        nbr = (
            sym.join(labels, sym["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.join(
            nbr, labels["doc_id"] == nbr["src"], "left"
        ).select(
            labels["doc_id"],
            F.least(
                labels["label"], F.coalesce(nbr["nlabel"], labels["label"])
            ).alias("label"),
        )
        jump = stepped.select(
            F.col("doc_id").alias("pj_id"), F.col("label").alias("pj_label")
        )
        labels = (
            stepped.join(jump, stepped["label"] == jump["pj_id"], "left")
            .select(
                stepped["doc_id"],
                F.coalesce(jump["pj_label"], stepped["label"]).alias("label"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:  # no label decreased -> fixpoint
            break
        prev_sum = cur_sum
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


SIMHASH_BLOCKS = 8  # 8 blocks x 8 bits: pigeonhole guarantees any pair
SIMHASH_BLOCK_BITS = 8  # with hamming <= 7 shares at least one block


def _counted_token_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, cnt, __h): per-doc token occurrence counts with the
    token's xxhash64 — hashed AFTER the aggregation so the hash is
    materialized once per distinct (doc, token)."""
    toks = with_tokens(docs).select(
        "doc_id", F.explode("__tokens").alias("token")
    )
    return (
        toks.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("__h", F.xxhash64("token"))
        .select("doc_id", "cnt", "__h")
    )


_SIMHASH_SCHEMA = "doc_id long, " + ", ".join(
    f"block{i} long" for i in range(SIMHASH_BLOCKS)
)


def simhash(docs: DataFrame, bits: int = 64) -> DataFrame:
    """64-bit SimHash over token occurrence counts, emitted as 8 x 8-bit
    blocks (block index doubles as the LSH bucket key).

    The per-bit weighted sums are computed in an Arrow mapInPandas tile:
    each partition (repartitioned on doc_id, so a doc never splits)
    expands token hashes to a +-cnt bit matrix with one numpy broadcast
    and accumulates per-doc sums across its batches — vectorized per
    TILE, not per key (per-key applyInPandas measured 5x slower than
    even the codegen aggregate; this form is 3.4x FASTER than the
    64-conditional-sum codegen aggregate at sf0.1 and bit-identical to
    it — tests/test_datapipe.py keeps that aggregate as the reference
    and asserts the match). Same shuffle count as
    the aggregate form: one for the token count, one for the doc
    repartition."""
    import numpy as np
    import pandas as pd

    counted = _counted_token_hashes(docs).repartition("doc_id")
    shifts = np.arange(bits, dtype=np.int64)
    n_blocks, block_bits = SIMHASH_BLOCKS, SIMHASH_BLOCK_BITS

    def tile(batches):
        acc: dict[int, np.ndarray] = {}
        for pdf in batches:
            h = pdf["__h"].to_numpy(np.int64)
            cnt = pdf["cnt"].to_numpy(np.int64)
            # arithmetic >> then &1 reads bit i exactly like Spark's
            # shiftright(h, i) & 1, sign bit included
            bit = ((h[:, None] >> shifts) & 1) * 2 - 1
            part = (
                pd.DataFrame(bit * cnt[:, None])
                .groupby(pdf["doc_id"].to_numpy())
                .sum()
            )
            for d, row in zip(part.index, part.to_numpy()):
                if d in acc:
                    acc[d] += row
                else:
                    acc[d] = row.copy()
        if not acc:
            return
        ids = np.fromiter(acc.keys(), dtype=np.int64)
        sums = np.stack(list(acc.values()))
        pos = (sums > 0).astype(np.int64)
        out = {"doc_id": ids}
        for blk in range(n_blocks):
            vals = np.zeros(len(ids), dtype=np.int64)
            for j in range(block_bits):
                vals |= pos[:, blk * block_bits + j] << j
            out[f"block{blk}"] = vals
        yield pd.DataFrame(out)

    return counted.mapInPandas(tile, _SIMHASH_SCHEMA)


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share an exact COMBINATION
    of (nb - max_hamming) 8-bit blocks, verified by full Hamming
    distance. Pigeonhole: hamming <= k flips bits in at most k blocks,
    so at least nb-k blocks are equal and some size-(nb-k) combination
    matches on its concatenated key. This is exactly Manku et al.
    (WWW 2007)'s multi-table hamming-k lookup; k=3 at 64 bits is their
    production web-dedup operating point and the default here.

    Why combination keys, not single blocks (r05, measured at 10x
    sf0.1): with a single-block index the bucket key is 8 bits, so the
    candidate set grows ~ n^2/256 per position — the one super-linear
    term in the whole dedup family (4.3 s -> 58.5 s for 10x docs, with
    137M candidate pairs at k=6 pair-keys). Wider keys divide collision
    mass by 256 per extra block at the cost of C(nb, nb-k) index rows
    per doc — a linear explode traded against a quadratic join, the
    right trade at any scale (56 rows/doc at k=3)."""
    import itertools

    nb = SIMHASH_BLOCKS
    m = nb - max_hamming  # blocks per combination key
    if m < 2:
        raise ValueError(f"max_hamming {max_hamming} leaves combos < 2 blocks")
    sh = simhash(docs)

    # In-join verification (r12, measured): the r11 shape materialized
    # the raw candidate pairs, distinct-ed them (26.5M rows at 10x for
    # 553k true pairs — a 48:1 false-positive ratio on this correlated
    # corpus), then ran TWO signature joins to verify. Carrying the
    # full 64-bit signature IN the index rows (8 bytes — the 8 blocks
    # OR-packed into one long) lets the join condition compute the
    # exact hamming distance itself, so false positives die inside the
    # codegen'd join and the distinct dedupes only TRUE pairs (per-pair
    # combo multiplicity); the verify joins disappear entirely.
    # Same-box A/B at 10x, solo: 39.6-55.9 s -> 16.3-22.9 s, and with
    # the co-partitioned index below -> 7.7-9.6 s steady-state.
    sig = None
    for i in range(nb):
        term = F.shiftleft(F.col(f"block{i}"), 8 * i)
        sig = term if sig is None else sig.bitwiseOR(term)

    def combo_key(combo: tuple[int, ...]):  # concat m 8-bit blocks, <2^56
        val = F.lit(0).cast("long")
        for i in combo:
            val = val * 256 + F.col(f"block{i}")
        return val

    # posexplode of a flat long array (r15): the combo index as an
    # array of 56 structs generated ~1s of interpreted projection per
    # pass (the wide CreateStruct array defeats codegen) — emitting
    # just the combo VALUES and reading the combo index from the
    # position is the same rows 30% faster (1.19 -> 0.81 s measured at
    # sf0.1, bit-identical).
    blocks = sh.select(
        "doc_id",
        sig.alias("sig"),
        F.posexplode(
            F.array(
                *[
                    combo_key(c)
                    for c in itertools.combinations(range(nb), m)
                ]
            )
        ).alias("blk", "val"),
    )
    # Persist the index HASH-PARTITIONED ON THE JOIN KEY: both self-join
    # sides read co-located cache blocks exchange-free in the AQE final
    # plan (same pattern, same audit as the jaccard inverted index) —
    # and the persist keeps the signature pipeline from running twice.
    blocks = tracked_persist(blocks.repartition("blk", "val"))
    a = blocks.alias("a")
    b = blocks.alias("b")
    ham = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (ham <= max_hamming),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


# ------------------------------------ substring-span dedup (ExactSubstr)


def merged_duplicate_spans_hashed(
    docs: DataFrame, min_len: int = 50
) -> DataFrame:
    """Substring-level dedup spans (the ExactSubstr operator of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every position whose ``min_len``-char substring occurs
    more than once ANYWHERE in the corpus (cross-doc or self-repeat),
    merged per doc into maximal contiguous duplicated spans. Returns
    the span table itself — (doc_id, s, e) half-open char intervals —
    consumed by the per-doc span counts and by the span removers.

    The corpus-wide frequency key is xxhash64 of the gram (8 bytes,
    computed in the same projection that builds the substring, so NO
    gram string is ever shuffled or persisted), not the gram itself.
    Why the key is hashed (measured, BASELINE.md r09): at the third
    decade (126M grams) an aggregation keyed on the 50-char string
    goes sort-based and spill-bound — 189.9 s, a 45x decade ratio,
    against 36.7 s for the hashed key (that r09 form still persisted
    the stream; see the plan shape below). A fixed-width long key cuts
    the shuffled bytes ~3x and sorts by an 8-byte radix prefix.
    Collision contract: a 64-bit collision would mark a unique
    position as duplicated — odds n^2/2^65 (~5e-4 at 126M grams,
    negligible below ~1e9 grams; swap in a 128-bit hash — e.g. both
    halves of md5 — beyond that). The driver's oracle for this query
    is the EXACT SQL recomputation, so any collision at checked scale
    would surface as a hash mismatch, not hide.

    Plan shape (r10 — the VERDICT r09 "persist-bound" fix, two parts):
    (1) ONE shuffle of the gram stream by k, then count() OVER
    (PARTITION BY k) inside the sorted partition and a c > 1 filter.
    The r09 form persisted the 126M-row gram stream and consumed it
    twice (groupBy-agg shuffle + hit-join shuffle); the persist itself
    was the measured third-decade bound (36.7 s, 14x for 10x data).
    The window form shuffles the stream ONCE, persists nothing, and
    the in-partition sort is an 8-byte-prefix radix sort over longs.
    (2) The shuffled row is exactly TWO longs: (doc_id, pos) packs
    into one (dp = doc_id << 32 | pos; both fit 31 bits at every
    generated scale) next to the 8-byte key. Measured (solo, min-of-3,
    BASELINE.md r10): sf1 2.59 -> 2.09 s, g10 36.7 -> 15.8 s — decade
    ratio 14x -> 7.5x, back under linear.

    Road not taken (measured r10): generating the keys in an Arrow
    rolling-hash kernel (the trigram-kernel precedent) LOST to the
    JVM explode+substr+xxhash64 path here — 33.2 vs 24.0 s at g10 —
    because unlike the MG sketch the kernel's OUTPUT is the full
    126M-row stream, and shipping it back across Arrow costs more
    than the JVM's per-window string allocs.
    """
    hits = (
        _gram_stream(docs, min_len)
        .withColumn("c", F.count(F.lit(1)).over(Window.partitionBy("k")))
        .where(F.col("c") > 1)
    )
    return _merge_hit_positions(hits, min_len)


def remove_duplicate_spans_keepfirst_hashed(
    docs: DataFrame, min_len: int = 50
) -> DataFrame:
    """Lee et al.'s ExactSubstr contract: keep the globally FIRST
    occurrence of each duplicated ``min_len``-char substring and cut
    the rest, emitting (doc_id, clean_text, removed_chars) for every
    doc. First = min (doc_id, pos) over the gram's occurrences — a
    total order, so the election is layout-independent. Spans are
    built only from non-first hit positions and cut exactly as in
    remove_duplicate_spans_hashed. A corpus whose every doc is a copy
    keeps ONE readable copy (the remove-all form would empty them all).

    The election runs over xxhash64 keys in ONE shuffle —
    row_number() and count() share the same (k)-partitioned sort,
    ordering by the packed dp = doc_id << 32 | pos (identical total
    order to (doc_id, pos) since both fit 31 bits), so no gram string
    is ever shuffled and nothing is persisted. Collision
    contract as merged_duplicate_spans_hashed; the driver oracle is the
    exact-string recomputation."""
    w_first = Window.partitionBy("k").orderBy("dp")
    ranked = _gram_stream(docs, min_len).select(
        "dp",
        F.row_number().over(w_first).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("k")).alias("c"),
    )
    hits = ranked.where((F.col("c") > 1) & (F.col("rn") > 1))
    spans = _merge_hit_positions(hits, min_len)
    return _cut_spans(docs, spans)


def _gram_stream(docs: DataFrame, min_len: int) -> DataFrame:
    """Every gram start position of docs.text as (dp, k): the packed
    dp = doc_id << 32 | pos and k = xxhash64 of the ``min_len``-char
    gram there.

    Repartition BEFORE the explode: the gram stream is ~min_len x the
    input, so parallelism must track the OUTPUT volume, not the scan's
    file-split count (locally one small parquet file = one task doing
    the whole 50x expansion). Shuffling 1 unit of input to parallelize
    50 units of expansion work is the right trade at every scale. The
    partition count is explicit — an advisory repartition("doc_id")
    lets AQE coalesce the tiny pre-explode shuffle right back to one
    partition, which is exactly the skew being fixed."""
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    # dp-pack guard (ADVICE r10): the hashed downstream forms pack
    # (doc_id, pos) as doc_id << 32 | pos, which silently sign-flips
    # into the long's sign bit once doc_id reaches 2^31, corrupting
    # the keep-first election and the shiftright unpack. One compare
    # per DOC row (pre-explode, so ~min_len x cheaper than guarding
    # the gram stream) makes a generator change fail loudly. Folded
    # into the doc_id projection via when(assert.isNull(), ...) so
    # column pruning cannot eliminate the assert.
    guarded_doc_id = F.when(
        F.assert_true(
            (F.col("doc_id") >= 0) & (F.col("doc_id") < F.lit(1 << 31)),
            F.lit("doc_id outside [0, 2^31): dp-pack would sign-flip"),
        ).isNull(),
        F.col("doc_id"),
    ).alias("doc_id")
    return (
        docs.where(F.length("text") >= min_len)
        .select(guarded_doc_id, "text")
        .repartition(n_part, "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.length("text") - min_len)
            ).alias("pos"),
            "text",
        )
        .select(
            F.shiftleft(F.col("doc_id").cast("long"), 32)
            .bitwiseOR(F.col("pos").cast("long"))
            .alias("dp"),
            F.xxhash64(
                F.col("text").substr(F.col("pos") + 1, F.lit(min_len))
            ).alias("k"),
        )
    )


def _merge_hit_positions(hits: DataFrame, min_len: int) -> DataFrame:
    """Unpack the `dp` of duplicate-gram hits to (doc_id, pos) and merge
    them into maximal per-doc spans [s, e): running max of span end
    over preceding rows; a position beyond it starts a new span;
    cumulative sum numbers the spans. Interval-union correctness: every interval in a merged
    group starts at or before the running union end, so the union
    stays one contiguous interval [min(pos), max(pos) + min_len)."""
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run_end = F.max(F.col("pos") + min_len).over(w_prev)
    marked = hits.select(
        F.shiftright(F.col("dp"), 32).alias("doc_id"),
        F.col("dp").bitwiseAND(F.lit(4294967295)).cast("int").alias("pos"),
    ).withColumn(
        "is_start",
        F.when(F.col("pos") > F.coalesce(run_end, F.lit(-1)), 1).otherwise(0),
    )
    w_cum = Window.partitionBy("doc_id").orderBy("pos")
    numbered = marked.withColumn("span_id", F.sum("is_start").over(w_cum))
    spans = numbered.groupBy("doc_id", "span_id").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + min_len).alias("e"),
    )
    return spans.select("doc_id", "s", "e")


def remove_duplicate_spans_hashed(
    docs: DataFrame, min_len: int = 50
) -> DataFrame:
    """ExactSubstr's actionable half: CUT the merged duplicated spans
    out of each doc, emitting (doc_id, clean_text, removed_chars) for
    EVERY doc (removed_chars = 0 when nothing matched).

    Contract: removes every occurrence of a duplicated span — the
    strictest form, right for contamination scrubbing. Lee et al.'s
    keep-one-occurrence form, right for dedup, is
    remove_duplicate_spans_keepfirst_hashed. Spans come from
    merged_duplicate_spans_hashed — the persist-free single-shuffle
    xxhash64 plan, 7.5x per decade (BASELINE.md r10). The driver
    oracle is the exact-string SQL recomputation, so a 64-bit key
    collision (odds n^2/2^65) surfaces as a mismatch rather than
    hiding.

    100 TB shape: the span table is tiny relative to the corpus (only
    duplicated regions), so the reassembly join shuffles spans + one
    copy of the affected docs; unaffected docs pass through untouched
    on the null side of the left join. Reassembly (_cut_spans) is all
    string/integer ops, bit-exact."""
    return _cut_spans(docs, merged_duplicate_spans_hashed(docs, min_len))


def _cut_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Cut (doc_id, s, e) spans out of docs.text: lag-window segments
    between consecutive spans, concatenated in span order plus the
    tail after the last span."""
    w = Window.partitionBy("doc_id").orderBy("s")
    seg = spans.withColumn(
        "seg_start", F.coalesce(F.lag("e").over(w), F.lit(0))
    )
    pieces = seg.join(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        "s",
        "e",
        F.expr("substring(text, seg_start + 1, s - seg_start)").alias(
            "piece"
        ),
    )
    per_doc = pieces.groupBy("doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("s", "piece"))),
            F.lit(""),
            lambda acc, x: F.concat(acc, x["piece"]),
        ).alias("head"),
        F.max("e").alias("max_e"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("removed_chars"),
    )
    return (
        docs.select("doc_id", "text")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("head").isNull(), F.col("text")
            )
            .otherwise(
                F.concat(
                    F.col("head"),
                    F.expr("substring(text, max_e + 1)"),
                )
            )
            .alias("clean_text"),
            F.coalesce(F.col("removed_chars"), F.lit(0).cast("long")).alias(
                "removed_chars"
            ),
        )
    )
