"""tools/gen_scale_data.py contract: the scale-up twins must match the
driver data's schemas and measured distributions, deterministically —
the committed second-decade scaling numbers in BASELINE.md are only
reproducible if the generator is.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

from tools.gen_scale_data import (
    gen_documents,
    gen_embeddings,
    gen_lineitem,
    gen_orders,
    gen_part,
)


def test_documents_match_driver_distributions():
    rng = np.random.default_rng(71)
    t = gen_documents(rng, 5000)
    driver = pq.read_table("/root/testdata/sf0.1/documents.parquet")
    assert t.schema.names == driver.schema.names
    assert [str(f.type) for f in t.schema] == [
        str(driver.schema.field(n).type) for n in driver.schema.names
    ]
    texts = t.column("text").to_pylist()
    # vocab: exactly the driver's 30 words + the dup marker
    vocab = {w for s in texts for w in s.split()}
    driver_vocab = {
        w for s in driver.column("text").to_pylist()[:500] for w in s.split()
    }
    assert driver_vocab <= vocab
    # planted near-dup rate ~243/5000 (the "+ dup" suffix form)
    n_dup = sum(1 for s in texts if s.endswith(" dup"))
    assert 200 <= n_dup <= 290, n_dup
    # token counts in the driver band
    lens = [len(s.split()) for s in texts]
    assert min(lens) >= 10 and max(lens) <= 101
    # n_chars consistent
    assert all(
        n == len(s) for n, s in zip(t.column("n_chars").to_pylist(), texts)
    )


def test_embeddings_and_orders_shapes():
    rng = np.random.default_rng(71)
    e = gen_embeddings(rng, 500)
    assert all(len(v) == 64 for v in e.column("embedding").to_pylist()[:20])
    arr = np.array(e.column("embedding").to_pylist())
    assert abs(arr.mean()) < 0.01 and abs(arr.std() - 0.125) < 0.01
    o = gen_orders(rng, 1000, 100)
    assert o.schema.names == [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ]
    assert set(o.column("o_orderstatus").to_pylist()) <= {"O", "P", "F"}


def test_generator_is_deterministic():
    a = gen_documents(np.random.default_rng(71), 300)
    b = gen_documents(np.random.default_rng(71), 300)
    assert a.equals(b)


def test_product_stats_parity_on_generated_lineitem(spark, tmp_path):
    """gen_lineitem emits l_shipdate with a time of day (the driver data
    is all midnights): dws_product_stats must still bucket by calendar
    day, exactly as its DuckDB oracle does."""
    import duckdb

    from gmall2021_flink_dw_spark.registry import load_all
    from tests.test_oracle_parity import canon

    rng = np.random.default_rng(71)
    tables = {
        "lineitem": gen_lineitem(rng, 400, 5, 10),
        "part": gen_part(rng, 5),
    }
    shipdate = tables["lineitem"].column("l_shipdate").to_numpy()
    assert (shipdate != shipdate.astype("datetime64[D]")).any()
    con = duckdb.connect()
    for name, t in tables.items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(t, path)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    spec = load_all()["dws_product_stats"]
    got = canon(spec.fn(spark, str(tmp_path)).toPandas())
    want = canon(con.execute(spec.oracle).df())
    con.close()
    assert len(got) == len(want)
    assert (got.astype(str).values == want.astype(str).values).all()
