"""Deterministic tokenization (SURVEY §2.11 D1).

The reference registers an IKAnalyzer-based Chinese-segmentation UDTF
(SplitFunction.java:13-31, KeywordUtil.java:13-35) applied via
``LATERAL TABLE(split_words(...))``. Spark-first replacement:

- the scale path is a pure-SQL tokenizer — lowercase + regexp_extract_all
  — which stays inside whole-stage codegen (no Python in the hot path)
  and is deterministic, so golden tests hold;
- ``tokenize_udf`` is the Arrow-batched pandas UDF form: the same regex
  for ASCII runs, and the deterministic vendored dictionary segmenter
  (functions/segment_zh.py) for Chinese runs. Error behavior mirrors
  the reference (SplitFunction.java:25-29: on failure emit the input
  row unchanged).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall2021_flink_dw_spark.functions.segment_zh import CJK_RUN_RE, fmm_segment

TOKEN_RE = "[a-z0-9]+"


def tokenize(col: Column | str) -> Column:
    """JVM-side tokenizer: lowercase, extract [a-z0-9]+ runs.
    Identical regex semantics in DuckDB: regexp_extract_all(lower(x), ...)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_RE), 0)


# alnum runs OR CJK runs, in document order; the CJK branch goes through
# the dictionary segmenter.
_RUN_RE = re.compile(f"({TOKEN_RE})|({CJK_RUN_RE.pattern})")


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(texts: pd.Series) -> pd.Series:
    """D1 as an Arrow-batched pandas UDF (the UDTF slow path, IKAnalyzer
    parity: KeywordUtil.java:13-35). ASCII alnum runs tokenize by the
    same regex as `tokenize`; Chinese runs segment by the vendored
    forward-maximum-matching segmenter (functions/segment_zh.py), so
    the output is the same on every deployment — the CJK golden oracle
    (dws_keyword_stats_zh) pins it token by token. On any per-row
    failure, emits the raw input as a single token (reference behavior,
    SplitFunction.java:25-29)."""

    def _one(t):
        if t is None:
            return []
        try:
            out = []
            for m in _RUN_RE.finditer(t.lower()):
                if m.group(1) is not None:
                    out.append(m.group(1))
                else:
                    out.extend(fmm_segment(m.group(2)))
            return out
        except Exception:
            return [t]

    return texts.map(_one)
