"""Spark-vs-DuckDB oracle parity — the same gate the driver runs.

For every registered query with an oracle, in registration order: run
the Spark plan and the DuckDB SQL on the same parquet tables,
canonicalize (columns sorted by name, rows sorted by all columns), and
require exact equality. Floats are compared exactly on purpose: the
determinism rules in registry.py are supposed to make them
bit-identical, and any drift should fail here before it fails at the
driver.
"""

from __future__ import annotations

import pandas as pd
import pytest

from gmall2021_flink_dw_spark.registry import load_all
from tests.conftest import ORACLE_SF

REGISTRY = load_all()
WITH_ORACLE = [n for n, s in REGISTRY.items() if s.oracle is not None]
ROWS_ONLY = [n for n, s in REGISTRY.items() if s.oracle is None]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
            drop=True
        )
    return df


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, duck, name):
    spec = REGISTRY[name]
    got = canon(spec.fn(spark, ORACLE_SF).toPandas())
    want = canon(duck.execute(spec.oracle).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: rowcount {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    # stricter stringified compare (what a value-hash sees): catches
    # dtype-representation drift that tolerant numeric equality hides,
    # e.g. DuckDB HUGEINT sums surfacing as float64 ('1.0' vs '1').
    gs = got.astype(str).sort_values(list(got.columns)).reset_index(drop=True)
    ws = want.astype(str).sort_values(list(want.columns)).reset_index(drop=True)
    assert (gs.values == ws.values).all(), f"{name}: stringified value drift"


def test_no_rows_only_queries():
    """As of r03 every registered query carries an oracle — the sketch
    family emits exact rows + pinned flags instead of going rows-only.
    Keep it that way: a new rows-only query needs an explicit decision."""
    assert ROWS_ONLY == [], f"queries without oracle: {ROWS_ONLY}"
