"""Edges of the multimodal row stage (datapipe/multimodal.py::row_stage)
that no oracle reaches: empty and sparse partitions, 1->0 and 1->N
rows, nullable int columns and a payload no decoder accepts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmall2021_flink_dw_spark.datapipe.multimodal import (
    MIXED_DECODED_SCHEMA,
    attach_media,
    mixed_decode_row,
    mixed_payload,
    row_stage,
)
from gmall2021_flink_dw_spark.session import ensure_workers_can_import

_HASH = "ab" * 16  # stands in for md5(text)


@pytest.fixture(scope="module")
def wspark(spark):
    ensure_workers_can_import(spark)
    return spark


def _declared(spark, schema: str):
    return spark.createDataFrame([], schema).schema


def _mixed(docs):
    media = attach_media(docs, mixed_payload, F.lit(_HASH))
    return row_stage(media, mixed_decode_row, MIXED_DECODED_SCHEMA)


def test_all_empty_partitions_keep_the_schema(wspark):
    docs = wspark.range(0, 16, 1, 4).withColumnRenamed("id", "doc_id").filter(
        "doc_id < 0"
    )
    out = _mixed(docs)
    assert out.schema == _declared(wspark, MIXED_DECODED_SCHEMA)
    assert out.count() == 0
    assert out.collect() == []


def test_sparse_partitions_and_nullable_ints(wspark):
    """Eight partitions of two ids each, five ids kept: partitions 3-7
    are empty. Every lane of the mixed corpus appears (0 BMP, 1 PNG,
    2 WAV, 3 GIF, 4 JPEG); the WAV row carries null width/height and
    the image rows null sample_rate/n_samples in the same batch."""
    docs = wspark.range(0, 16, 1, 8).withColumnRenamed("id", "doc_id").filter(
        "doc_id < 5"
    )
    out = _mixed(docs)
    assert out.schema == _declared(wspark, MIXED_DECODED_SCHEMA)
    got = sorted(tuple(r) for r in out.collect())
    want = [
        row
        for d in range(5)
        for row in mixed_decode_row(d, mixed_payload(d, _HASH))
    ]
    assert got == want
    assert [r[:6] for r in got if r[1] == "wav"] == [
        (2, "wav", None, None, 16000, 12)
    ]
    assert all(r[4] is None and r[5] is None for r in got if r[1] != "wav")


def test_one_to_zero_and_one_to_many_rows(wspark):
    schema = "doc_id long, i int, tag string"
    src = wspark.createDataFrame(
        [(1, 0), (2, 3), (3, 1), (4, 0)], "doc_id long, n int"
    ).repartition(2)

    def fan_out(doc_id, n):
        return [(doc_id, i, f"{doc_id}:{i}") for i in range(n)]

    out = row_stage(src, fan_out, schema)
    assert out.schema == _declared(wspark, schema)
    assert sorted(tuple(r) for r in out.collect()) == [
        (2, 0, "2:0"), (2, 1, "2:1"), (2, 2, "2:2"), (3, 0, "3:0"),
    ]
    # non-empty batches whose every row maps to no output row
    assert row_stage(src.filter("n = 0"), fan_out, schema).collect() == []


def test_unknown_media_magic_raises_through_spark(wspark):
    src = wspark.createDataFrame(
        [(1, bytearray(b"NOTMEDIA"))],
        "doc_id long, payload binary",
    )
    out = row_stage(src, mixed_decode_row, MIXED_DECODED_SCHEMA)
    with pytest.raises(Exception, match="ValueError: unknown media magic"):
        out.collect()
