"""Similarity search over embedding columns.

- brute_force_topk: exact cosine top-k — the bounded query set collects
  to a numpy artifact and one Arrow mapInPandas pass scores the corpus,
  emitting only per-batch top-k. Float operation order reproduces the
  SQL folds exactly (dimension-ordered multiply-adds, seq_sq_norms /
  seq_dots), so sims stay bit-identical to the DuckDB oracle's list
  fold; the interpreted zip_with/aggregate per-pair form it replaced
  (r12) survives in bucketed_topk/pq_refine_topk where the pair space
  is already pruned.
- bucketed_topk: sign-bucket ANN (the scale path): hash each vector to a
  2^d bucket by the signs of its first d dims; queries search only their
  bucket. At 100 TB the bucket id is the partition key, so a query scans
  one partition instead of the corpus. Recall measured in tests (no SQL
  oracle — approximate by construction).
- ivf_topk / pq_adc_topk / pq_refine_topk: the inverted-file and
  product-quantization indexes.

The three Arrow kernels (brute force, IVF, PQ-ADC) share one skeleton:
_collect_queries (bounded collect), _scan_topk (spread + mapInPandas
scan emitting per-batch _batch_top rows) and _rank_topk (the global
rank-<=k window all five top-k kernels end in). Their scan closures
reference module-level helpers, so the Python workers import this
module; the registry entry ships the package to them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.cache import tracked_persist
from gmall2021_flink_dw_spark.sources.batch import spread_scan

SIGN_BITS = 4  # 16 buckets; multi-probe widens recall


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm2(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)


def norm(a: Column) -> Column:
    return F.sqrt(_norm2(a))


def as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


# Bounded-collect cap shared by the ANN kernels that broadcast the
# query set as a numpy artifact (brute_force_topk, ivf_topk,
# pq_adc_topk): the per-batch (n_queries x batch) sim matrix is
# worker-memory-resident, so the query side must stay a
# lookup-table-sized artifact, never a second corpus. Registered plans
# pass 10 queries.
_MAX_ANN_QUERIES = 4096


def _empty_topk(base: DataFrame) -> DataFrame:
    """The empty (q_id, vec_id, rank, sim) result: an empty query set
    or an empty corpus short-circuits to it on the driver, as the lazy
    DataFrame forms the Arrow kernels replaced returned (ADVICE r12)."""
    return base.sparkSession.createDataFrame(
        [], "q_id long, vec_id long, rank int, sim double"
    )


def _collect_queries(queries: DataFrame, who: str):
    """Collect the bounded query set to (q_ids int64[n], q_e
    float64[n, dim]); raise before a corpus-sized query set reaches
    the driver."""
    q_rows = queries.limit(_MAX_ANN_QUERIES + 1).collect()
    if len(q_rows) > _MAX_ANN_QUERIES:
        raise ValueError(
            f"{who} query set exceeds the bounded-collect cap "
            f"({_MAX_ANN_QUERIES}); the query side must be a "
            "broadcastable artifact, not a corpus"
        )
    q_ids = np.array([r["q_id"] for r in q_rows], dtype=np.int64)
    q_e = np.array([r["q_emb"] for r in q_rows], dtype=np.float64)
    return q_ids, q_e


def seq_sq_norms(m):
    """Row L2 norms with the SAME float operation order as the SQL fold
    `aggregate(a, 0.0, (acc, x) -> acc + x*x)`: one scalar multiply-add
    per dimension, accumulated in index order. Vectorizing ACROSS rows
    keeps each row's accumulation sequence unchanged (IEEE754 ops are
    elementwise-deterministic)."""
    acc = np.zeros(len(m), dtype=np.float64)
    for d in range(m.shape[1]):
        acc += m[:, d] * m[:, d]
    return np.sqrt(acc)


def seq_dots(m, v):
    """Row dots m @ v folded in dimension order — bit-identical to
    aggregate(zip_with(a, b, x*y), 0.0, acc + x)."""
    acc = np.zeros(len(m), dtype=np.float64)
    for d in range(m.shape[1]):
        acc += m[:, d] * v[d]
    return acc


def _batch_vectors(pdf: pd.DataFrame):
    """(vec_id int64[n], emb float64[n, dim]) of one Arrow batch."""
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    e = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
    return ids, e


def _batch_top(q_id, ids, sim, k: int) -> pd.DataFrame:
    """One query's top-k rows of one scored batch in (desc sim, asc
    vec_id) order; non-finite sims (the -inf self match) drop out."""
    top = np.lexsort((ids, -sim))[:k]
    top = top[np.isfinite(sim[top])]
    return pd.DataFrame(
        {"q_id": np.full(len(top), q_id), "vec_id": ids[top], "sim": sim[top]}
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per query, the k best (desc sim, asc vec_id) candidates with
    their rank, sim presented at 6 places as the oracle rounds it."""
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank", F.round("sim", 6).alias("sim"))
    )


def _scan_topk(base: DataFrame, scan, k: int) -> DataFrame:
    """Run an Arrow scoring kernel over the corpus and rank its
    per-batch top-k rows globally."""
    # spread the tiny scan before the scoring kernel (r15, guide §2.5)
    part_top = spread_scan(base.select("vec_id", "emb")).mapInPandas(
        scan, "q_id long, vec_id long, sim double"
    )
    return _rank_topk(part_top, k)


def brute_force_topk(
    base: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k neighbors per query by cosine; ties broken by vec_id.
    queries: (q_id, q_emb array<double>); base: (vec_id, emb array<double>).

    One Arrow mapInPandas pass over the corpus: the bounded query set
    collects to a numpy artifact (cap asserted), each batch scores all
    queries with dimension-ordered multiply-add loops, and only the
    batch's top-k per query leaves the worker, so the global re-rank
    window sees partitions * k * n_queries narrow rows — never the
    corpus. BIT-PARITY CONTRACT: dot, norm, and sim reproduce the SQL
    folds' float operation order exactly (seq_sq_norms, seq_dots; then
    sim = dot / (bn * qn) in that association), so `sim` is
    bit-identical to the DuckDB oracle and to the interpreted
    zip_with/aggregate form this replaced — the r12 kernel is a plan
    replan, not a semantics change (the fold form measured 2.0 s at
    10x, ~all of it interpreted per-pair lambda evaluation).

    PRECONDITION (ADVICE r12): embeddings must have non-zero norm. A
    zero-norm vector yields sim = 0/0 = NaN; this kernel drops
    non-finite sims (np.isfinite) while Spark's and DuckDB's descending
    ORDER BY rank NaN FIRST, so a zero-norm row would diverge from the
    oracle. The testdata embeddings are random-gaussian (zero norm has
    probability 0); at ingest, a norm > 0 filter restores the contract."""
    q_ids, q_e = _collect_queries(queries, "brute_force_topk")
    if not len(q_ids):
        return _empty_topk(base)
    q_n = seq_sq_norms(q_e)

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, e = _batch_vectors(pdf)
            b_n = seq_sq_norms(e)
            outs = []
            for qi, q_id in enumerate(q_ids):
                sim = seq_dots(e, q_e[qi]) / (b_n * q_n[qi])
                sim[ids == q_id] = -np.inf
                outs.append(_batch_top(q_id, ids, sim, k))
            yield pd.concat(outs, ignore_index=True)

    return _scan_topk(base, scan, k)


def sign_bucket(emb: Column, bits: int = SIGN_BITS) -> Column:
    """Deterministic LSH-style bucket: bit j set iff emb[j] > 0."""
    expr = F.lit(0)
    for j in range(bits):
        expr = expr + F.when(emb[j] > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return expr.cast("int")


def probe_buckets(emb: Column, bits: int = SIGN_BITS) -> Column:
    """Multi-probe LSH: the query's own bucket plus every bucket at
    sign-Hamming distance 1 (flip each of the `bits` sign bits). Cuts the
    near-boundary recall loss of single-bucket probing while still
    scanning only (bits+1)/2^bits of the corpus."""
    own = sign_bucket(emb, bits)
    probes = [own] + [
        own.bitwiseXOR(F.lit(1 << j)) for j in range(bits)
    ]
    return F.array(*probes)


def bucketed_topk(base: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """ANN: search only the query's probe buckets. Equi-join on bucket id
    replaces the cross join — the join key IS the partition key at scale."""
    b = base.withColumn("bucket", sign_bucket(F.col("emb"))).withColumn(
        "__bn", norm(F.col("emb"))
    )
    q = queries.withColumn(
        "bucket", F.explode(probe_buckets(F.col("q_emb")))
    ).withColumn("__qn", norm(F.col("q_emb")))
    pairs = b.join(F.broadcast(q), "bucket").filter(
        F.col("vec_id") != F.col("q_id")
    )
    scored = pairs.withColumn(
        "sim", _dot(F.col("emb"), F.col("q_emb")) / (F.col("__bn") * F.col("__qn"))
    )
    return _rank_topk(scored, k)


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    emb_col: str,
    n_lists: int,
) -> DataFrame:
    """Assign each vector to its max-cosine centroid (`__list`) via a
    broadcast cross join + max_by — one pass, no shuffle of the corpus
    beyond the final aggregation on the vector id."""
    scored = vectors.crossJoin(F.broadcast(centroids)).withColumn(
        "__csim",
        _dot(F.col(emb_col), F.col("__c_emb")) / (F.col("__vn") * F.col("__c_n")),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.max_by("__c_id", "__csim").alias("__list"),
            F.first(emb_col).alias(emb_col),
            F.first("__vn").alias("__vn"),
        )
    )


def kmeans_centroids(
    b: DataFrame,
    n_lists: int,
    n_iter: int = 1,
    sample_cap: int = 256,
) -> DataFrame:
    """Deterministic mini k-means for the IVF coarse quantizer, expressed
    entirely as lazy DataFrame ops (no driver-side collect):

    - sample: the `sample_cap` vectors with the smallest md5(vec_id) — a
      content-independent deterministic sample (TakeOrdered, no shuffle
      of the corpus);
    - init: the first n_lists of that sample (seeded-init equivalent);
    - n_iter Lloyd rounds: assign sample to max-cosine centroid
      (broadcast cross join over <= sample_cap rows), recompute each
      list's centroid as the element-wise mean via posexplode +
      avg + rebuild (array_sort(collect_list(struct(pos, v)))).

    Defaults tuned at sf0.01/sf0.1: (n_iter=1, sample_cap=256) matches
    or beats (2, 512) on recall (0.58/0.68 vs 0.58/0.64) at half the
    latency — one good round over a tighter sample separates clusters
    enough for a 4-probe scan; more rounds mostly move centroids within
    clusters.

    Everything after the sample operates on <= sample_cap rows, so the
    fit cost is independent of corpus size — the standard trick for
    training a coarse quantizer at 100 TB (fit on a bounded sample,
    assign the full corpus once). Empty clusters simply drop out
    (fewer, better-used lists)."""
    sample = tracked_persist(
        b.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(sample_cap)
        .select("vec_id", "emb", "__vn")
    )
    cent = sample.limit(n_lists).select(
        F.col("vec_id").alias("__c_id"),
        F.col("emb").alias("__c_emb"),
        F.col("__vn").alias("__c_n"),
    )
    for _ in range(n_iter):
        assigned = ivf_assign(sample, F.broadcast(cent), "vec_id", "emb", n_lists)
        means = (
            assigned.select("__list", F.posexplode("emb").alias("pos", "v"))
            .groupBy("__list", "pos")
            .agg(F.avg("v").alias("v"))
            .groupBy("__list")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "v"))),
                    lambda s: s["v"],
                ).alias("__c_emb")
            )
        )
        cent = means.select(
            F.col("__list").alias("__c_id"),
            "__c_emb",
            norm(F.col("__c_emb")).alias("__c_n"),
        )
    return cent


def ivf_topk(
    base: DataFrame,
    queries: DataFrame,
    n_lists: int = 16,
    n_probe: int = 4,
    k: int = 5,
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer partitions the corpus
    into n_lists inverted lists; each query probes only its n_probe
    closest lists.

    The coarse quantizer is a mini k-means trained on a deterministic
    bounded sample (kmeans_centroids, shared with the SemDeDup cluster
    path — its DataFrame fit is untouched); the centroid table is a
    bounded fit artifact (<= n_lists rows), so it collects to numpy and
    assign + probe + score run in ONE Arrow mapInPandas pass over the
    corpus (the r12-ext2 brute-force/PQ kernel layout): per batch,
    vectors assign to their max-cosine list, each query scores only the
    batch rows in its n_probe closest lists, and only per-batch top-k
    per query leaves the worker. This replaced the r05 row form
    (interpreted-fold crossJoin assign + groupBy on the vector id +
    probe join + corpus-sized window input). At 100 TB the list id is
    still the partition/bucket key — the kernel preserves the
    n_probe/n_lists touched fraction per query. BIT-PARITY: member
    sims accumulate in dimension order (brute_force_topk's contract),
    so reported sims equal the brute-force sims for the same pairs;
    non-finite sims drop out as in the other Arrow kernels (see
    brute_force_topk's zero-norm precondition). Recall vs brute force
    is asserted in tests.
    """
    q_ids, q_e = _collect_queries(queries, "ivf_topk")
    if not len(q_ids):
        return _empty_topk(base)
    b = base.withColumn("__vn", norm(F.col("emb")))
    c_rows = kmeans_centroids(b, n_lists).collect()  # bounded: <= n_lists
    if not c_rows:
        # empty/near-empty corpus: no centroids fit, and seq_dots would
        # index a 0-d array on the driver (ADVICE r12)
        return _empty_topk(base)
    c_ids = np.array([r["__c_id"] for r in c_rows], dtype=np.int64)
    c_e = np.array([r["__c_emb"] for r in c_rows], dtype=np.float64)
    c_n = np.array([r["__c_n"] for r in c_rows], dtype=np.float64)

    q_n = seq_sq_norms(q_e)
    # per query: the n_probe max-cosine lists (ties -> lowest c_id,
    # matching the row form's (desc sim, asc c_id) window order)
    probe_sets = []
    for qi in range(len(q_ids)):
        cs = seq_dots(c_e, q_e[qi]) / (q_n[qi] * c_n)
        order = np.lexsort((c_ids, -cs))[:n_probe]
        probe_sets.append(c_ids[order])

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, e = _batch_vectors(pdf)
            b_n = seq_sq_norms(e)
            # assign: max-cosine centroid per vector (ties -> lowest
            # c_id via lexsort-equivalent argmax on (-sim, c_id))
            csims = np.empty((len(e), len(c_ids)), dtype=np.float64)
            for ci in range(len(c_ids)):
                csims[:, ci] = seq_dots(e, c_e[ci]) / (b_n * c_n[ci])
            # argmax with lowest-c_id tie-break: c_rows come from the
            # fit in arbitrary order, so sort columns by c_id once
            col_order = np.argsort(c_ids, kind="stable")
            lists = c_ids[col_order][
                np.argmax(csims[:, col_order], axis=1)
            ]
            outs = []
            for qi, q_id in enumerate(q_ids):
                member = np.isin(lists, probe_sets[qi]) & (ids != q_id)
                if not member.any():
                    continue
                sim = seq_dots(e[member], q_e[qi]) / (b_n[member] * q_n[qi])
                outs.append(_batch_top(q_id, ids[member], sim, k))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return _scan_topk(base, scan, k)


def bucketed_cosine_pairs(
    emb: DataFrame, threshold: float, bits: int = SIGN_BITS + 2
) -> DataFrame:
    """Embedding near-dup pairs, the 100 TB path: multi-probe sign-bucket
    LSH bounds the pair space, then one numpy GEMM per bucket scores the
    candidates (Arrow in, BLAS, Arrow out — same tile kernel layout as
    blocked_cosine_pairs, but over a bucket instead of the full corpus).

    Every vector is replicated to its own bucket plus each 1-bit-flip
    bucket (bits+1 probes); two vectors whose leading-sign patterns
    differ in <= 2 bits share at least one probe bucket (flip one of the
    two differing bits), so recall degrades only for pairs whose signs
    disagree on 3+ leading dims — measured against the exact GEMM pairs
    in tests/test_datapipe.py. Work per bucket is (n*(bits+1)/2^bits)^2
    — quadratic only WITHIN a bucket, and the bucket id is the partition
    key at scale. Pairs surfacing in several shared buckets dedup via
    groupBy min-sim-carrying distinct.
    """
    probed = emb.withColumn(
        "bucket", F.explode(probe_buckets(F.col("emb"), bits))
    ).select("bucket", "vec_id", "emb")
    pairs = probed.groupBy("bucket").applyInPandas(
        _cosine_tile(threshold), PAIR_SCHEMA
    )
    # a pair can collide in up to two shared probe buckets — dedup; sim
    # is identical in each, so first() is exact.
    return pairs.groupBy("vec_a", "vec_b").agg(F.first("sim").alias("sim"))


def _cosine_tile(threshold: float, strip: int | None = None):
    """Per-group GEMM kernel shared by the bucketed (LSH) and clustered
    (SemDeDup) pair builders: BLAS matmul over the group's vectors,
    threshold applied before anything leaves the worker, i<j pairs only.

    The matmul runs in row strips so peak memory is strip * group_size
    doubles, not group_size^2 — an oversized group (a hot LSH bucket,
    or a SemDeDup cluster when n_clusters lags the corpus growth)
    degrades to more strips instead of an executor OOM (a 500k-doc
    group at fixed k=16 materialized a ~31 GB sims matrix before this;
    the n_clusters knob still governs COMPUTE — see
    clustered_cosine_pairs — strips only bound MEMORY). The strip is
    sized ADAPTIVELY to the group width (~64 MB of sims per strip,
    r12-ext): a fixed row count re-introduces the OOM one decade later
    because strip memory is strip * GROUP_SIZE — 4096 rows against a
    500k-wide group is a 16 GB strip. An explicit `strip` overrides
    (tests pin chunking invariance with it)."""
    def tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"vec_a": pd.Series(dtype="int64"),
             "vec_b": pd.Series(dtype="int64"),
             "sim": pd.Series(dtype="float64")}
        )
        if len(pdf) < 2:
            return empty
        ea = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
        na = np.sqrt((ea * ea).sum(axis=1))
        ids = pdf["vec_id"].to_numpy()
        outs = []
        step = strip if strip else max(1, (64 << 20) // (8 * len(ea)))
        for s in range(0, len(ea), step):
            e = slice(s, s + step)
            sims = (ea[e] @ ea.T) / np.outer(na[e], na)
            ia, ib = np.nonzero(sims >= threshold)
            keep = ids[e][ia] < ids[ib]
            outs.append(
                pd.DataFrame(
                    {"vec_a": ids[e][ia][keep], "vec_b": ids[ib][keep],
                     "sim": sims[ia, ib][keep]}
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return tile


def clustered_cosine_pairs(
    emb: DataFrame,
    threshold: float,
    n_clusters: int = 16,
    n_assign: int = 2,
    sample_cap: int = 256,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): k-means cluster the embedding space, then score
    pairs only WITHIN a cluster — pairwise work drops from n^2 to
    sum(cluster_size^2), and the cluster id is the shuffle/partition key
    at 100 TB.

    Differs from the sign-bucket LSH path (bucketed_cosine_pairs) in how
    the candidate space is bounded: LSH buckets are data-independent
    hyperplane signs; k-means centroids ADAPT to the corpus, so on real
    (clustered) embeddings the same candidate budget yields higher
    recall. Each vector joins its n_assign closest centroids' lists
    (soft assignment) so near-boundary pairs — whose members' nearest
    centroids differ — still meet in the second-choice list; with
    n_assign=2 a pair is missed only when the two top-2 centroid sets
    are disjoint. The coarse quantizer is the same corpus-size-
    independent bounded-sample fit ann_ivf uses (kmeans_centroids).
    Per-cluster scoring reuses the shared GEMM tile; pairs meeting in
    several shared lists dedup exactly (sim identical in each).

    SCALE KNOB: per-cluster work is (n_assign * n / n_clusters)^2, so
    n_clusters must grow linearly with the corpus to hold cluster size
    (and the per-task GEMM) constant — exactly how IVF's n_lists
    scales, and what SemDeDup does at pretraining scale (tens of
    thousands of clusters for web-scale corpora). The registered query
    pins n_clusters=16 for the sf0.01 oracle config; knob-scaled 100x
    behavior is measured in BASELINE.md. The strip-chunked tile bounds
    MEMORY even when the knob lags the corpus (see _cosine_tile)."""
    b = emb.withColumn("__vn", norm(F.col("emb")))
    # sample_cap must keep pace with n_clusters (init takes the first
    # n_clusters sample rows); the fit stays corpus-size-independent
    centroids = F.broadcast(
        kmeans_centroids(b, n_clusters, sample_cap=max(sample_cap, n_clusters))
    )
    if n_clusters > 64:
        # Flat assignment is n_clusters dot products PER VECTOR — with
        # the knob scaled linearly in the corpus that term is O(n*k) =
        # O(n^2/cluster_size), and it dominated a measured 100x run
        # (390 s, 52x ratio — BASELINE.md). Two-level assignment cuts
        # it to O(n*sqrt(k)): route through super-clusters first.
        assigned = _hierarchical_assign(b, centroids, n_assign)
    else:
        scored = b.crossJoin(centroids).withColumn(
            "__csim",
            _dot(F.col("emb"), F.col("__c_emb"))
            / (F.col("__vn") * F.col("__c_n")),
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.desc("__csim"), F.asc("__c_id")
        )
        assigned = (
            scored.withColumn("__pr", F.row_number().over(w))
            .filter(F.col("__pr") <= n_assign)
            .select(F.col("__c_id").alias("__list"), "vec_id", "emb")
        )
    pairs = assigned.groupBy("__list").applyInPandas(
        _cosine_tile(threshold), PAIR_SCHEMA
    )
    return pairs.groupBy("vec_a", "vec_b").agg(F.first("sim").alias("sim"))


def _hierarchical_assign(
    b: DataFrame, centroids, n_assign: int, n_super: int = 0,
    n_probe: int = 4,
) -> DataFrame:
    """Two-level centroid assignment (the coarse-quantizer-over-the-
    quantizer trick FAISS's IVF trees use): cluster the CENTROIDS into
    ~sqrt(n_probe*k) super-clusters (driver-free, the centroid table is
    tiny), route each vector to its n_probe closest super-clusters,
    then rank only those super-clusters' member centroids —
    ~2*sqrt(n_probe*k) dots per vector vs flat assignment's k. The
    probe count bounds the routing recall loss the same way n_assign
    bounds the pair recall loss; measured vs flat assignment in
    tests/test_datapipe.py (r06: 2 probes recovered only ~0.5 of flat's
    candidate pairs on diffuse random embeddings — the hardest routing
    case, no cluster structure for the supers to exploit; 4 probes
    holds the measured floor while keeping the asymptotic win)."""
    cent = centroids.select(
        F.col("__c_id").alias("vec_id"),
        F.col("__c_emb").alias("emb"),
        F.col("__c_n").alias("__vn"),
    )
    # n_super ~ sqrt(n_probe*k) balances the two routing terms: per
    # vector, n_super super dots + n_probe*(k/n_super) member dots is
    # minimized at n_super = sqrt(n_probe*k)
    if not n_super:
        cnt = cent.count()  # tiny table; the fit needs a concrete k
        n_super = max(4, int((n_probe * cnt) ** 0.5))
    supers = F.broadcast(kmeans_centroids(cent, n_super, sample_cap=4096))
    # label each centroid with its super-cluster (k x n_super dots)
    c_labeled = F.broadcast(
        ivf_assign(cent, supers, "vec_id", "emb", n_super).select(
            F.col("vec_id").alias("__c_id"),
            F.col("emb").alias("__c_emb"),
            F.col("__vn").alias("__c_n"),
            F.col("__list").alias("__super"),
        )
    )
    # route vectors: 2 closest super-clusters each. The ranking rows
    # are NARROW — (vec_id, centroid id, sim) only, never the 64-dim
    # embedding: the window exchange moves k-ish copies of every
    # vector's rows, and carrying the embedding through it multiplied
    # shuffle bytes ~30x (measured: the wide form cost 113.7 s at 100x;
    # see BASELINE.md). Winners re-attach the embedding with ONE
    # equi-join on vec_id at the end.
    s_scored = b.crossJoin(supers).select(
        "vec_id",
        F.col("__c_id").alias("__super"),
        (
            _dot(F.col("emb"), F.col("__c_emb"))
            / (F.col("__vn") * F.col("__c_n"))
        ).alias("__ssim"),
    )
    ws = Window.partitionBy("vec_id").orderBy(
        F.desc("__ssim"), F.asc("__super")
    )
    routed_ids = (
        s_scored.withColumn("__sr", F.row_number().over(ws))
        .filter(F.col("__sr") <= n_probe)
        .select("vec_id", "__super")
    )
    routed = routed_ids.join(b, "vec_id")
    # rank only the routed super-clusters' member centroids — again on
    # narrow rows, re-attaching the embedding after the rank
    scored = routed.join(c_labeled, "__super").select(
        "vec_id",
        F.col("__c_id"),
        (
            _dot(F.col("emb"), F.col("__c_emb"))
            / (F.col("__vn") * F.col("__c_n"))
        ).alias("__csim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("__csim"), F.asc("__c_id"))
    winners = (
        scored.withColumn("__pr", F.row_number().over(w))
        .filter(F.col("__pr") <= n_assign)
        .select("vec_id", F.col("__c_id").alias("__list"))
    )
    return winners.join(b.select("vec_id", "emb"), "vec_id").select(
        "__list", "vec_id", "emb"
    )


PAIR_SCHEMA = "vec_a long, vec_b long, sim double"


def blocked_cosine_pairs(
    emb: DataFrame, threshold: float, n_blocks: int = 8
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via blocked matrix multiply.

    The O(n^2) pair space is tiled into (n_blocks choose 2)+n_blocks
    block pairs: every vector is replicated to the n_blocks groups its
    block participates in (replication factor = n_blocks ~ sqrt(2P) for
    P parallel tasks), then each group computes its tile with ONE numpy
    GEMM inside applyInPandas — Arrow in, BLAS for the dot products,
    Arrow out. This is the standard distributed all-pairs layout: work
    per task is a dense (n/B)^2 tile, memory per task is two blocks of
    vectors, and only above-threshold pairs leave the task. ~20x over
    the per-pair interpreted Catalyst fold at sf0.1 (2k x 64 vectors).

    Emits RAW sims (no rounding) so callers control the presentation
    rounding; the threshold is applied inside the tile, pre-shuffle.
    """
    def tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = int(key[0]), int(key[1])
        a = pdf[pdf["blk"] == lo]
        b = a if hi == lo else pdf[pdf["blk"] == hi]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame(
                {"vec_a": pd.Series(dtype="int64"),
                 "vec_b": pd.Series(dtype="int64"),
                 "sim": pd.Series(dtype="float64")}
            )
        ea = np.stack([np.asarray(v, dtype=np.float64) for v in a["emb"]])
        eb = ea if hi == lo else np.stack(
            [np.asarray(v, dtype=np.float64) for v in b["emb"]]
        )
        na = np.sqrt((ea * ea).sum(axis=1))
        nb = na if hi == lo else np.sqrt((eb * eb).sum(axis=1))
        va = a["vec_id"].to_numpy()
        vb = b["vec_id"].to_numpy()
        # STRIP the GEMM: a dense (n/B)^2 tile grows quadratically with
        # the corpus under a fixed block count — at 100x (25k-row
        # blocks) the full sim matrix is 5 GB/float64 per task and the
        # OS OOM-killer takes out the Python workers (measured r12-ext;
        # the skill's bound-the-kernel rule). Chunk rows of `a` so each
        # strip's sim matrix stays <= ~64 MB: identical FLOPs and
        # output, bounded memory — oversize groups degrade to more
        # strips, never to OOM.
        strip = max(1, (64 << 20) // (8 * max(1, len(eb))))
        parts_l, parts_r, parts_s = [], [], []
        for s0 in range(0, len(ea), strip):
            s1 = min(s0 + strip, len(ea))
            sims = (ea[s0:s1] @ eb.T) / np.outer(na[s0:s1], nb)
            ia, ib = np.nonzero(sims >= threshold)
            parts_l.append(va[s0 + ia])
            parts_r.append(vb[ib])
            parts_s.append(sims[ia, ib])
        left = np.concatenate(parts_l)
        right = np.concatenate(parts_r)
        s = np.concatenate(parts_s)
        if hi == lo:
            # diagonal tile enumerates the full square: each unordered
            # pair appears twice — keep the (a<b) orientation
            keep = left < right
            left, right, s = left[keep], right[keep], s[keep]
        else:
            # off-diagonal tile sees each cross-block pair exactly once,
            # in arbitrary id order — normalize instead of filtering
            lo_ids = np.minimum(left, right)
            right = np.maximum(left, right)
            left = lo_ids
        return pd.DataFrame({"vec_a": left, "vec_b": right, "sim": s})

    blk = (F.col("vec_id") % n_blocks).cast("int")
    partners = F.array(*[F.lit(i) for i in range(n_blocks)])
    expanded = (
        emb.withColumn("blk", blk)
        .withColumn("p", F.explode(partners))
        .withColumn("lo", F.least("blk", "p"))
        .withColumn("hi", F.greatest("blk", "p"))
        .select("lo", "hi", "blk", "vec_id", "emb")
    )
    return expanded.groupBy("lo", "hi").applyInPandas(tile, PAIR_SCHEMA)


# Parking value for PQ codes with no sample members after a Lloyd step:
# huge but FINITE so squared distances stay ordinary floats (inf would
# NaN the expansion formula) — argmin can never select a parked code.
_PQ_EMPTY_CODE = 1e30


def _fit_pq_codebooks(
    base: DataFrame,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    n_iter: int = 1,
    sample_cap: int = 256,
):
    """Product-quantization codebooks: an independent L2 k-means per
    subspace, fit on a deterministic bounded sample (md5-ordered
    limit — the kmeans_centroids sampling rule), so fit cost is
    corpus-size-independent (the 100 TB contract: train on a sample,
    encode the corpus in one pass). The sample is sample_cap rows BY
    CONSTRUCTION, so the collect is bounded and the Lloyd step runs
    driver-side in numpy — the r05 DataFrame fit spent ~1.1 s of
    stage-launch overhead shuffling 256 rows through six jobs per
    round. Init: the first n_codes sample rows in md5 order (every
    subspace, same rows). A code whose cluster empties parks at
    _PQ_EMPTY_CODE (the DataFrame form's inner join dropped it the
    same way). Returns an (n_sub, n_codes, sub_dim) float64 tensor."""
    rows = (
        base.select("vec_id", "emb")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(sample_cap)
        .collect()
    )
    subs = np.array([r["emb"] for r in rows], dtype=np.float64).reshape(
        len(rows), n_sub, sub_dim
    )
    cb = np.full((n_sub, n_codes, sub_dim), _PQ_EMPTY_CODE, dtype=np.float64)
    k0 = min(n_codes, len(rows))
    cb[:, :k0] = subs[:k0].transpose(1, 0, 2)
    for _ in range(n_iter):
        d = ((subs[:, :, None, :] - cb[None]) ** 2).sum(axis=3)
        assign = np.argmin(d, axis=2)  # ties -> lowest code
        new = np.full_like(cb, _PQ_EMPTY_CODE)
        for s in range(n_sub):
            for c in range(n_codes):
                members = assign[:, s] == c
                if members.any():
                    new[s, c] = subs[members, s].mean(axis=0)
        cb = new
    return cb


def pq_adc_topk(
    base: DataFrame,
    queries: DataFrame,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    k: int = 5,
) -> DataFrame:
    """Flat-PQ ANN with asymmetric distance computation (ADC), the
    memory-compression path (Jégou et al. 2011): each corpus vector is
    stored as n_sub code bytes (64 floats -> 8 bytes here) plus one
    exact norm; queries stay full-precision and score against a
    per-query lookup table of sub-dot-products, so the scan reads codes,
    never vectors.

    The codebooks (a bounded fit artifact: n_sub * n_codes rows by
    construction, fit on a 256-row sample) and the query set (capped at
    _MAX_ANN_QUERIES) collect to the driver; encode + ADC + per-batch
    shortlist then run in ONE Arrow mapInPandas pass over the corpus —
    nearest-code assignment is a batched einsum against the codebook
    tensor, the ADC sum is n_sub LUT gathers, and only each batch's
    top-k per query (k * n_queries narrow rows per batch) leaves the
    worker, so the global re-rank window sees partitions * k * n_queries
    rows, never the corpus. This replaced the r05 row form (subspace
    explode x broadcast code join = 128 rows and two interpreted
    higher-order-function folds per vector, then a corpus-sized
    partial-agg shuffle): measured 4.9 s -> sub-second on 20k x 64
    at 10x. At 100 TB the kernel reads each vector once, emits a
    per-query constant per batch, and shuffles nothing corpus-sized —
    the FAISS flat-PQ scan layout on Spark.

    Encode tie-break note (ADVICE r12): nearest-code assignment uses
    the expansion ||x||^2 + ||c||^2 - 2*x.c, whose rounding differs
    from the exact sum((x-y)^2) fold of the r05 row form, so EXACT
    distance ties near the boundary break on the expansion-formula
    distances (argmin -> lowest code), not exact L2. Only recall_ok is
    sensitive (measured 0.76 vs the 0.40 bound); oracle-hashed output
    is unaffected."""
    q_ids, q_e = _collect_queries(queries, "pq_adc_topk")
    if not len(q_ids):
        return _empty_topk(base)
    cb = _fit_pq_codebooks(base, n_sub, sub_dim, n_codes)
    n_q = len(q_ids)
    q_n = np.sqrt((q_e * q_e).sum(axis=1))
    # per-query LUT: dot(q_sub, codeword) per (q, s, code)
    lut = np.einsum(
        "nsd,scd->nsc", q_e.reshape(n_q, n_sub, sub_dim), cb
    )

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, e = _batch_vectors(pdf)
            vn = np.sqrt((e * e).sum(axis=1))
            subs = e.reshape(len(e), n_sub, sub_dim)
            # encode: argmin_c ||sub - cb[s,c]||^2 via the expansion
            # (ties -> lowest code, as the row form's min-struct)
            d = (
                (subs * subs).sum(axis=2)[:, :, None]
                + (cb * cb).sum(axis=2)[None]
                - 2.0 * np.einsum("bsd,scd->bsc", subs, cb)
            )
            codes_b = np.argmin(d, axis=2)  # (B, n_sub)
            acc = np.zeros((n_q, len(e)), dtype=np.float64)
            for s in range(n_sub):
                acc += lut[:, s, codes_b[:, s]]
            sim = acc / (q_n[:, None] * vn[None, :])
            outs = []
            for qi, q_id in enumerate(q_ids):
                s_q = sim[qi].copy()
                s_q[ids == q_id] = -np.inf
                outs.append(_batch_top(q_id, ids, s_q, k))
            yield pd.concat(outs, ignore_index=True)

    return _scan_topk(base, scan, k)


def pq_refine_topk(
    base: DataFrame,
    queries: DataFrame,
    shortlist: int = 100,
    k: int = 5,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
) -> DataFrame:
    """PQ-ADC shortlist + exact re-rank (the FAISS `IndexRefineFlat`
    pattern): the compressed ADC scan nominates `shortlist` candidates
    per query, then only those (shortlist x n_queries rows) are scored
    against full-precision vectors. The expensive exact math touches a
    fixed per-query candidate count — independent of corpus size — while
    the corpus-wide scan stays n_sub bytes/vector. On random 64-d
    gaussians (the no-structure worst case) this lifts recall@5 from
    0.24/0.12 (flat ADC, sf0.01/sf0.1) to 0.76/0.64 at shortlist=100."""
    cand = pq_adc_topk(
        base, queries, n_sub, sub_dim, n_codes, k=shortlist
    ).select("q_id", "vec_id")
    bn = base.withColumn("__vn", norm(F.col("emb")))
    qn = queries.withColumn("__qn", norm(F.col("q_emb")))
    rer = (
        cand.join(bn, "vec_id")
        .join(F.broadcast(qn), "q_id")
        .withColumn(
            "sim",
            _dot(F.col("emb"), F.col("q_emb")) / (F.col("__vn") * F.col("__qn")),
        )
    )
    return _rank_topk(rer, k)
