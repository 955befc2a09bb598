"""sources/batch.py::spread_scan input sizing."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.sources import batch
from gmall2021_flink_dw_spark.sources.batch import spread_scan


def _one_file_scan(spark, path):
    spark.range(0, 20_000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("h")
    ).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def test_spread_scan_sizes_percent_encoded_paths(spark, tmp_path, monkeypatch):
    """inputFiles() returns URIs; a directory name with a space comes
    back percent-encoded and must still resolve to the file on disk."""
    df = _one_file_scan(spark, str(tmp_path / "with space"))
    assert any("%20" in uri for uri in df.inputFiles())
    assert df.rdd.getNumPartitions() == 1
    # ~1 partition per 4 KB of input: far more than the core count
    monkeypatch.setattr(batch, "SPREAD_BYTES_PER_PART", 4 << 10)
    parallelism = spark.sparkContext.defaultParallelism
    assert spread_scan(df).rdd.getNumPartitions() == parallelism


def test_spread_scan_falls_back_when_input_is_unsizable(
    spark, tmp_path, monkeypatch
):
    """A non-local or vanished input file (OSError from getsize) leaves
    the scan as it is, where it would otherwise be spread."""
    df = _one_file_scan(spark, str(tmp_path / "t"))
    monkeypatch.setattr(batch, "SPREAD_BYTES_PER_PART", 4 << 10)
    # a width of 2 spreads the one-file scan even on a 1-core session
    monkeypatch.setattr(
        type(spark.sparkContext), "defaultParallelism", property(lambda sc: 2)
    )
    assert spread_scan(df) is not df

    def vanished(path):
        raise FileNotFoundError(path)

    monkeypatch.setattr(os.path, "getsize", vanished)
    assert spread_scan(df) is df


def test_spread_scan_propagates_sizing_bugs(spark, tmp_path, monkeypatch):
    """Only OSError means "cannot size the input"; any other error is a
    bug and must not silently switch the spread off."""
    df = _one_file_scan(spark, str(tmp_path / "t"))

    def broken(path):
        raise TypeError("not a path")

    monkeypatch.setattr(os.path, "getsize", broken)
    with pytest.raises(TypeError, match="not a path"):
        spread_scan(df)
