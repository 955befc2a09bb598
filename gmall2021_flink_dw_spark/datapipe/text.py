"""Text-analysis operators: shingling, quality, language-ID, fingerprints.

All JVM-side (codegen'd higher-order array functions) — no Python in the
hot path. Every helper has a term-for-term DuckDB translation used by the
oracles in plans/datapipe.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall2021_flink_dw_spark.functions.tokenizer import TOKEN_RE, tokenize

# Deterministic per-language marker words for the n-gram/stopword
# language-ID heuristic. Ties break by the MARKER order (en first).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("de", "le", "shi", "he", "zai"),
}

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the tokenized text as `__tokens`. Idempotent: a frame that
    already carries __tokens passes through unchanged, so a caller can
    tokenize (and persist) ONCE and feed several token-consuming
    operators — the regexp tokenizer is the dominant per-row cost in
    every text pipeline (see the projection-collapse note in `let`), and
    at 100 TB the pre-tokenized corpus is the intermediate you
    checkpoint.

    Tokenizing frames are spread to cluster parallelism first (r15,
    guide §2.5): the bench corpora are single-row-group parquet, so
    the tokenize stage — and every Arrow kernel and shingle build
    fused after it — otherwise runs on 1-2 of the cores. with_tokens
    is the one choke point every tokenizing batch query passes
    through (this module, plans/datapipe.py, dedup.py; no streaming
    consumer exists — spread_scan needs a batch frame)."""
    if "__tokens" in df.columns:
        return df
    from gmall2021_flink_dw_spark.sources.batch import spread_scan

    return spread_scan(df).withColumn("__tokens", tokenize(text_col))


def marker_hits(tokens: Column, markers: tuple[str, ...]) -> Column:
    """Occurrence count (not distinct) of marker words in the token list."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t))).cast("bigint")


def predict_lang(tokens: Column) -> Column:
    """Deterministic argmax over marker-hit counts, ties by declaration
    order. The reference has no language-ID; this is the standard n-gram
    heuristic of a training-data pipeline, kept trivially SQL-expressible.
    The token array is let-bound so the producing expression (regexp
    tokenizer) evaluates once, not once per marker comparison."""

    def body(t: Column) -> Column:
        expr = None
        best = None
        for lang, markers in LANG_MARKERS.items():
            hits = marker_hits(t, markers)
            if expr is None:
                expr, best = F.lit(lang), hits
            else:
                expr = F.when(hits > best, F.lit(lang)).otherwise(expr)
                best = F.when(hits > best, hits).otherwise(best)
        return expr

    return let(tokens, body)


def duck_marker_hits(tokens_sql: str, markers: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({tokens_sql}, t -> t IN ({lst})))"


def duck_predict_lang(tokens_sql: str) -> str:
    """DuckDB CASE chain mirroring predict_lang's fold order exactly."""
    expr = None
    best = None
    for lang, markers in LANG_MARKERS.items():
        hits = duck_marker_hits(tokens_sql, markers)
        if expr is None:
            expr, best = f"'{lang}'", hits
        else:
            expr = f"CASE WHEN {hits} > {best} THEN '{lang}' ELSE {expr} END"
            best = f"CASE WHEN {hits} > ({best}) THEN {hits} ELSE ({best}) END"
    return expr


def let(value: Column, body) -> Column:
    """Bind `value` to a lambda variable so `body` can reference it many
    times with ONE evaluation per row. Catalyst's projection collapse
    otherwise inlines the producing expression into every reference —
    for shingling that meant re-running the regexp tokenizer per array
    subscript (~n_tokens*n times per row, an 11x slowdown measured at
    sf0.1). transform over a 1-element array is the pure-projection
    equivalent of a let-binding: no shuffle, streaming-safe."""
    return F.transform(F.array(value), body)[0]


def max_token_repetition(tokens: Column) -> Column:
    """Max occurrence count of any single token: sort the array, then one
    run-length fold — O(n log n) + O(n) lambda evals per row, vs the
    naive distinct x filter scan at O(distinct * n). Same exact integer
    either way (the DuckDB oracles keep the naive form; only the Spark
    hot path changes). Matters for long documents: a 10k-token doc costs
    ~10k fold steps here vs ~10^7 comparisons naively."""
    st = F.array_sort(tokens)
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def merge(acc: Column, x: Column) -> Column:
        run = F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.best, run).alias("best"),
        )

    return F.aggregate(st, acc0, merge, lambda acc: acc.best)


def quality_gate(tokens: Column) -> Column:
    """The Gopher-style document quality gate over a token array: at
    least 10 tokens, type-token ratio >= 0.3, top-token repetition
    share <= 0.2. Both ratios are exact integers divided once in
    double, so the gate agrees with duck_quality_gate bit for bit."""
    n = F.size(tokens)
    return (
        (n >= 10)
        & (F.size(F.array_distinct(tokens)).cast("double") / n >= 0.3)
        & (max_token_repetition(tokens).cast("double") / n <= 0.2)
    )


def duck_quality_gate(w: str) -> str:
    """DuckDB twin of quality_gate over the list expression `w` (the
    naive distinct x filter repetition count; same integer)."""
    return (
        f"(len({w}) >= 10"
        f" AND len(list_distinct({w}))::double / len({w}) >= 0.3"
        f" AND list_max(list_transform(list_distinct({w}),"
        f" d -> len(list_filter({w}, x -> x = d))))::double / len({w})"
        f" <= 0.2)"
    )


def md5_u32(col: Column) -> Column:
    """The first 32 bits of md5(cast(col as string)) as a bigint in
    [0, 2^32): the deterministic draw behind every hash sampling gate,
    split bucket and hash-trick weight. No RNG state, so the value is
    stable under re-runs, retries and repartitioning."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 8), 16, 10
    ).cast("bigint")


def duck_md5_u32(sql: str) -> str:
    """DuckDB twin of md5_u32 over the VARCHAR expression `sql`."""
    return f"('0x' || substr(md5({sql}), 1, 8))::BIGINT"


def classifier_numerator(tokens: Column) -> Column:
    """The hash-trick quality classifier's integer score numerator,
    2*sum_w + 1000*n_stop: each token weighs md5_u32(token) % 2001 -
    1000, an integer in [-1000, 1000], and n_stop counts STOPWORDS
    hits. The doc score is this over 2000*n_tokens, one exact integer
    ratio in both engines. The weight sum is an integer fold, so it is
    exactly associative."""
    sum_w = F.aggregate(
        F.transform(tokens, lambda x: md5_u32(x) % 2001 - 1000),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.lit(2) * sum_w + F.lit(1000) * marker_hits(tokens, STOPWORDS)


def duck_classifier_numerator(w: str) -> str:
    """DuckDB twin of classifier_numerator over the list expression `w`."""
    weights = f"list_transform({w}, t -> {duck_md5_u32('t')} % 2001 - 1000)"
    return (
        f"(2 * list_sum({weights})"
        f" + 1000 * {duck_marker_hits(w, STOPWORDS)})"
    )


def shingle_hashes(tokens: Column | str, n: int = 5) -> Column:
    """Distinct word n-gram IDENTITIES as int64 xxhash64 values, for
    consumers that only ever compare shingles for equality
    (inverted-index joins, distinct, MinHash), which is every
    dedup-family consumer.

    Why (r12, measured at 10x sf0.1): building 2.56M concat_ws string
    shingles and persisting/shuffling them cost 9.5-12.6 s of
    ngram_jaccard_pairs' 16-22 s — the alloc-bound-explode trap (same
    lesson as the UTF-32 trigram kernel). Hashing the n tokens DIRECTLY
    (multi-arg xxhash64 is length-delimited per field, so token
    boundaries stay unambiguous without ever building the joined
    string) means no shingle string exists at any point: the explode,
    the persist, the df-cap, and the self-join all carry 8-byte longs.

    Collision contract: what correctness needs is no collision WITHIN
    one doc pair's shingle union (it would perturb that pair's
    inter/union counts); for unions of ~10^3 shingles that probability
    is ~1e-13 per pair at 64 bits — negligible at any corpus scale
    (corpus-WIDE collisions merely alias two unrelated index keys,
    which the verify/groupBy stage already tolerates). Same documented
    trade as the *_hashed ExactSubstr family."""
    t_in = F.col(tokens) if isinstance(tokens, str) else tokens

    def body(t: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(t) - n)
        built = F.array_distinct(
            F.transform(
                idx,
                lambda i: F.xxhash64(
                    *[F.element_at(t, i + j + 1) for j in range(n)]
                ),
            )
        )
        empty = F.array().cast(T.ArrayType(T.LongType()))
        return F.when(F.size(t) >= n, built).otherwise(empty)

    return let(t_in, body)


def duck_shingles(n: int = 5) -> str:
    """DuckDB translation over a 1-based list column `w`:
    list_distinct(list_transform(range(1, len(w)-(n-2)), i -> ...))."""
    parts = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    return f"list_distinct(list_transform(range(1, len(w)-{n - 2}), i -> {parts}))"


DUCK_BIGRAMS_SQL = (
    "list_transform(range(1, len(w)), "
    "i -> struct_pack(w1 := w[i], w2 := w[i+1]))"
)


def winnow_fingerprints(tokens: Column) -> Column:
    """Winnowing-selected hash set over a tokens array (MOSS / Schleimer
    et al. 2003): md5 each token 3-gram in order, slide a window of 3
    over the hash sequence, keep the min per window, distinct+sort.
    Shared by the per-doc fingerprint query (doc_winnow_fingerprint) and
    the cross-doc overlap pairs (dedup_winnow_pairs). Any shared run of
    >= window+gram tokens between two docs surfaces a shared selected
    hash — the property the pair join exploits. Caller guards
    size(tokens) >= 5 (gram + window - 1)."""

    def fp_of(t: Column) -> Column:
        hs = F.transform(
            F.sequence(F.lit(1), F.size(t) - 2),
            lambda i: F.md5(
                F.concat_ws(
                    " ",
                    F.element_at(t, i),
                    F.element_at(t, i + 1),
                    F.element_at(t, i + 2),
                )
            ),
        )
        return let(
            hs,
            lambda h: F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size(h) - 2),
                        lambda i: F.array_min(F.slice(h, i, 3)),
                    )
                )
            ),
        )

    return let(tokens, fp_of)


# DuckDB translation of winnow_fingerprints over a 1-based list column
# `w` (the `g`/`win` CTE pair used by both winnowing oracles).
DUCK_WINNOW_CTES = """
    g AS (
      SELECT doc_id, list_transform(range(1, len(w)-1),
             i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS hs
      FROM t WHERE len(w) >= 5
    ), win AS (
      SELECT doc_id, list_sort(list_distinct(list_transform(
               range(1, len(hs)-1),
               i -> list_aggregate(hs[i:i+2], 'min')))) AS fp
      FROM g
    )"""


TOKENS_SQL = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"


# ------------------------------------------------- Unicode normalization
#
# Canonical Unicode normalization (NFC) is the first step of every
# published corpus-prep pipeline (CCNet, GPT-2's byte-level BPE preamble,
# SentencePiece's default NMT-NFKC) — scraped text arrives with the same
# grapheme in composed and decomposed forms, and every downstream
# exact/near-dup hash treats them as different documents unless the
# corpus is normalized first. Spark has NO built-in NFC function
# (java.text.Normalizer is not exposed to SQL), so this is one of the
# few sanctioned Python stages in the repo: a scalar Arrow pandas_udf
# (ArrowEvalPython — the plan-audit gate bans only row-at-a-time
# BatchEvalPython). pandas' Series.str.normalize delegates to
# unicodedata.normalize per value but keeps the transfer Arrow-batched.
#
# DuckDB oracle counterparts: nfc_normalize() for nfc_text(), and
# strip_accents() (utf8proc) for strip_accents_text() — the NFD +
# drop-combining-marks form below agrees with utf8proc on Latin text
# (marks U+0300-U+036F), which is the contract the parity test pins.


def nfc_text(col: Column) -> Column:
    """NFC-compose a string column (Arrow-batched; see module note)."""

    @F.pandas_udf(T.StringType())
    def _nfc(s):  # pd.Series -> pd.Series
        return s.str.normalize("NFC")

    return _nfc(col)


def strip_accents_text(col: Column) -> Column:
    """Accent-strip a string column: NFD-decompose, drop the Latin
    combining-mark block U+0300-U+036F. Term-for-term DuckDB
    counterpart: strip_accents()."""

    @F.pandas_udf(T.StringType())
    def _strip(s):  # pd.Series -> pd.Series
        return s.str.normalize("NFD").str.replace(
            "[\u0300-\u036f]", "", regex=True
        )

    return _strip(col)


def winnow_fingerprint_rows(docs: DataFrame) -> DataFrame:
    """Exploded winnowing fingerprints — (doc_id, n_fp, h) with one row
    per selected hash — computed in an Arrow mapInPandas kernel.

    Bit-identical to exploding :func:`winnow_fingerprints` (asserted in
    tests/test_functions.py): md5 stays the gram hash because the
    winnow MIN selects by hash ORDER, and md5 is the hash both engines
    share — the DuckDB oracle must select the same fingerprints. What
    moves to Python is the ALLOCATION: the JVM form materializes a
    concat string + a 32-char hex string per gram and runs the window
    mins / distinct / sort over strings (measured 13.4-13.6 s of
    dedup_winnow_pairs' 17.5-19.8 s at 10x, r12 — the alloc-bound
    explode trap again); here hashlib.md5 digests (16 bytes, C speed)
    carry the comparisons and only the selected ~n_fp hex strings are
    ever built. Per-batch bounded state; rows leave Python already
    exploded, so no JVM array explode either.

    Input must carry (doc_id, __tokens); docs shorter than 5 tokens
    yield no rows (the callers' existing guard, applied here too so
    the kernel is total)."""
    import hashlib

    import pandas as pd

    def fps(batches):
        for batch in batches:
            out_doc: list = []
            out_n: list = []
            out_h: list = []
            for doc_id, toks in zip(
                batch["doc_id"].tolist(), batch["__tokens"].tolist()
            ):
                if toks is None or len(toks) < 5:
                    continue
                md5 = hashlib.md5
                hs = [
                    md5(
                        (" ".join(toks[i : i + 3])).encode("utf-8")
                    ).digest()
                    for i in range(len(toks) - 2)
                ]
                sel = sorted({
                    min(hs[i], hs[i + 1], hs[i + 2])
                    for i in range(len(hs) - 2)
                })
                out_doc.extend([doc_id] * len(sel))
                out_n.extend([len(sel)] * len(sel))
                out_h.extend(d.hex() for d in sel)
            if out_doc:
                yield pd.DataFrame(
                    {"doc_id": out_doc, "n_fp": out_n, "h": out_h}
                )

    # spread the tiny scan BEFORE the kernel (r15, guide §2.5): the
    # corpus parquet is single-row-group, so without this the md5
    # winnow loop — the dominant cost of dedup_winnow_pairs — runs on
    # 1-2 of the cores.
    return with_tokens(docs).select("doc_id", "__tokens").mapInPandas(
        fps, schema="doc_id long, n_fp bigint, h string"
    )


def doc_token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, token, tf) — per-document term frequencies in ONE Arrow
    pass, replacing tokenize -> explode -> groupBy(doc_id, token): the
    JVM explode generates n_tokens short-string rows per doc just to
    count them (alloc-bound even under codegen — the r12 trigram
    lesson), and the groupBy shuffles what the kernel can count
    in-batch. Per batch: one findall loop, one pd.factorize over the
    batch's flattened tokens, one np.unique over packed
    (doc, code) int64 keys — the bigram_lm dictionary-encoding layout.
    Measured 3.49 -> 1.65 s at 10x (50k docs) for the tf build.

    PARITY CONTRACT: Python re.findall("[a-z0-9]+", text.lower()) is
    character-identical to regexp_extract_all(lower(text), '[a-z0-9]+')
    — the pattern is ASCII-literal in both engines and both lower()
    implementations agree on every codepoint this pattern can match.
    NULL texts yield no rows (explode-of-empty semantics). Counts are
    exact integers, so every downstream aggregate is unaffected.

    The packed key doc_idx * n_codes + code stays < 2^63: doc_idx is
    batch-local (< ~10^5) and n_codes <= batch token count (< ~10^7).

    The closure is self-contained (stdlib re + numpy + pandas only), so
    executors never need the package import (no addPyFile dependency).

    PRECONDITION (ADVICE r12): doc_id must be UNIQUE across docs. The
    kernel keys term frequencies by batch-local row position, so a
    doc_id spanning multiple rows (within or across batches) emits
    multiple (doc_id, token) rows where explode+groupBy merged them —
    inflating df/n_docs in tfidf_top_terms and vocab_top_tokens.
    documents.doc_id is unique by construction; if a caller ever feeds
    duplicates, add .groupBy("doc_id", "token").agg(sum("tf")) after.

    docs: (doc_id long, text string). Output order is unspecified.
    """

    def scan(batches):
        import re

        import numpy as np
        import pandas as pd

        pat = re.compile(r"[a-z0-9]+")
        for pdf in batches:
            if not len(pdf):
                continue
            doc_ids = pdf["doc_id"].to_numpy()
            tok_lists = [
                pat.findall(t.lower()) if t is not None else []
                for t in pdf["text"]
            ]
            lens = np.fromiter(
                (len(x) for x in tok_lists),
                dtype=np.int64,
                count=len(tok_lists),
            )
            if lens.sum() == 0:
                continue
            flat = np.concatenate(
                [np.asarray(x, dtype=object) for x in tok_lists if x]
            )
            drep = np.repeat(np.arange(len(doc_ids)), lens)
            codes, uniq = pd.factorize(pd.Series(flat))
            key = drep.astype(np.int64) * len(uniq) + codes
            ukey, cnt = np.unique(key, return_counts=True)
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids[(ukey // len(uniq))],
                    "token": uniq.take(ukey % len(uniq)),
                    "tf": cnt.astype("int64"),
                }
            )

    # spread the tiny scan before the kernel (r15, guide §2.5 — the
    # same single-row-group fix as with_tokens)
    from gmall2021_flink_dw_spark.sources.batch import spread_scan

    return spread_scan(docs.select("doc_id", "text")).mapInPandas(
        scan, "doc_id long, token string, tf long"
    )
