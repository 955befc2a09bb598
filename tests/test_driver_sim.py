"""Driver simulation: vanilla session, non-repo cwd, driver contract.

The grading driver does NOT use this repo's session factory or cwd: it
builds its own SparkSession and imports __spark_entry__ from wherever it
runs. Two real regression classes only reproduce under those conditions:

- loader conf self-healing (nanos-ts / NTZ / UTC) missing on a session
  the factory never touched;
- executor workers unable to import the package when the driver's cwd
  is not the repo (addPyFile shipping).

pytest's shared fixture session can't emulate either (one JVM per
process, repo on sys.path), so this test runs the driver sim in a
SUBPROCESS: vanilla builder, cwd=/tmp, smoke entry + one query per
execution family (codegen agg, pandas-UDF, stateful streaming) against
their DuckDB oracles at sf0.001/sf0.01.
"""

from __future__ import annotations

import subprocess
import sys

_SIM = r"""
import os, sys
sys.path.insert(0, "/root/repo")
import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as e

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .appName("driver-sim-test")
    .getOrCreate()
)

rows = e.entry(spark).collect()
assert len(rows) > 0, "smoke entry returned no rows"

qs, osql = e.queries(), e.oracle_sql()
assert set(osql) <= set(qs)

con = duckdb.connect()
for t in ("region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"):
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM "
        f"read_parquet('/root/testdata/sf0.01/{t}.parquet')"
    )

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    if len(df):
        df = df.astype(str).sort_values(list(df.columns)).reset_index(drop=True)
    return df

# one per execution family: codegen agg over events (ts handling),
# Arrow pandas-UDF (worker import), stateful streaming (watermark type),
# foreachBatch delta-log (temp-dir lifecycle), composed multi-window DAG
for name in ("dws_visitor_stats", "dws_keyword_stats_udf", "streaming_uv_dedup",
             "streaming_cdc_upsert", "corpus_train_pipeline"):
    got = canon(qs[name](spark, "/root/testdata/sf0.01").toPandas())
    want = canon(con.execute(osql[name]).df())
    assert list(got.columns) == list(want.columns), name
    assert len(got) == len(want), (name, len(got), len(want))
    assert (got.values == want.values).all(), f"{name}: value drift"

# (spark, sf_dir) signature honored at a second scale factor
assert qs["dedup_exact"](spark, "/root/testdata/sf0.001").count() > 0
spark.stop()
print("DRIVER-SIM-OK")
"""


def test_driver_contract_vanilla_session():
    res = subprocess.run(
        [sys.executable, "-c", _SIM],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=900,
        env=None,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "DRIVER-SIM-OK" in res.stdout
