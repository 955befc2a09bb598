"""sources/batch.py::spread_scan input sizing and its env validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.sources.batch import spread_scan


def test_spread_scan_sizes_percent_encoded_paths(spark, tmp_path, monkeypatch):
    """inputFiles() returns URIs; a directory name with a space comes
    back percent-encoded and must still resolve to the file on disk."""
    out = str(tmp_path / "with space")
    spark.range(0, 20_000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("h")
    ).coalesce(1).write.parquet(out)
    df = spark.read.parquet(out)
    assert any("%20" in uri for uri in df.inputFiles())
    assert df.rdd.getNumPartitions() == 1
    # ~1 partition per 4 KB of input: far more than the core count
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_MB", str(4 / 1024))
    parallelism = spark.sparkContext.defaultParallelism
    assert spread_scan(df).rdd.getNumPartitions() == parallelism


@pytest.mark.parametrize("mb", ["0", "-1"])
def test_spread_scan_rejects_non_positive_mb(spark, monkeypatch, mb):
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_MB", mb)
    with pytest.raises(ValueError, match="SPARK_GRAFT_SPREAD_MB"):
        spread_scan(spark.range(10))
