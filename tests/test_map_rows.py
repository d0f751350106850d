"""``functions.partitioning.map_rows``: the per-row Python map over
Arrow batches that the multimodal, CDC and contamination operators
share."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from dht11_data_pipeline_spark.functions.partitioning import (
    _map_batches,
    map_rows,
)

IN = "doc_id bigint, text string, payload binary"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "ab", b"\x00\x01"), (2, "", b""), (3, None, b"\xff")], IN)


def test_one_row_in_one_row_out(docs):
    def fn(doc_id, text, payload):
        yield doc_id, len(payload), payload[::-1]

    out = map_rows(docs, fn, "doc_id bigint, n int, rev binary")
    assert out.schema.simpleString() == \
        "struct<doc_id:bigint,n:int,rev:binary>"
    assert sorted(map(tuple, out.collect())) == [
        (1, 2, b"\x01\x00"), (2, 0, b""), (3, 1, b"\xff")]


def test_one_row_in_many_rows_out_and_none(docs):
    def fn(doc_id, text, payload):
        for i, ch in enumerate(text or ""):
            yield doc_id, i, ch

    out = map_rows(docs, fn, "doc_id bigint, pos int, ch string")
    assert sorted(map(tuple, out.collect())) == [(1, 0, "a"), (1, 1, "b")]


def test_null_input_arrives_as_none(docs):
    def fn(doc_id, text, payload):
        yield doc_id, text is None, text

    out = map_rows(docs, fn, "doc_id bigint, is_null boolean, text string")
    assert sorted(map(tuple, out.collect())) == [
        (1, False, "ab"), (2, False, ""), (3, True, None)]


def test_numpy_float32_array_fills_array_float(docs):
    def fn(doc_id, text, payload):
        yield doc_id, np.arange(3, dtype=np.float32) * doc_id

    out = map_rows(docs, fn, "doc_id bigint, emb array<float>")
    assert out.schema["emb"].dataType.simpleString() == "array<float>"
    rows = {r.doc_id: r.emb for r in out.collect()}
    assert rows == {1: [0.0, 1.0, 2.0], 2: [0.0, 2.0, 4.0],
                    3: [0.0, 3.0, 6.0]}


def test_empty_partitions_and_dropped_rows(spark, docs):
    def drop(doc_id, text, payload):
        return iter(())

    spread = docs.repartition(8)  # more partitions than rows
    assert map_rows(spread, drop, "doc_id bigint, x double").count() == 0
    out = map_rows(spread, lambda *row: [row], IN)
    assert sorted(r.doc_id for r in out.collect()) == [1, 2, 3]


def test_an_empty_batch_yields_a_typed_empty_batch():
    schema = pa.schema([("doc_id", pa.int64()), ("emb", pa.list_(pa.float32())),
                        ("h", pa.string())])
    empty = pa.RecordBatch.from_pylist([], schema=pa.schema(
        [("doc_id", pa.int64())]))
    dropped = pa.RecordBatch.from_pylist([{"doc_id": 7}], schema=pa.schema(
        [("doc_id", pa.int64())]))
    out = list(_map_batches(lambda doc_id: iter(()), schema,
                            iter([empty, dropped])))
    assert [b.num_rows for b in out] == [0, 0]
    assert all(b.schema == schema for b in out)
