"""Structured Streaming surface: ingest typing,
the stream-static join and the foreachBatch SCD2 sink (SURVEY §2.9 T1-T5).

Strategy: file-source streams over tmpdir JSON lines, drained with
``trigger(availableNow=True)`` into memory/parquet sinks; results are
asserted against the equivalent *batch* computation on the same data —
streaming and batch must agree (same engine, same semantics).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators.scd2 import SCD2Config
from dht11_data_pipeline_spark.streaming.historize import start_scd2_stream
from dht11_data_pipeline_spark.streaming.ingest import (
    READING_SCHEMA, read_reading_stream, typed_readings,
)

R1 = [
    {"device_id": "D1", "TimeZone": "IST", "Humidity": "61",
     "Temperature": "29", "Timestamp": "2024-05-05 11:30:35"},
    {"device_id": "D1", "TimeZone": "IST", "Humidity": "62",
     "Temperature": "30", "Timestamp": "2024-05-05 11:35:35"},
    {"device_id": "D1", "Humidity": "N/A",
     "Temperature": "31", "Timestamp": "2024-05-05 11:44:00"},
    {"device_id": "D2", "TimeZone": "UTC", "Humidity": "50",
     "Temperature": "20", "Timestamp": "2024-05-05 13:00:00"},
    {"device_id": "D2", "TimeZone": "UTC", "Humidity": "51",
     "Temperature": "21"},  # missing Timestamp -> epoch sentinel
]

R2 = [  # second file: one duplicate of R1[0], one changed, one new
    {"device_id": "D1", "TimeZone": "IST", "Humidity": "61",
     "Temperature": "29", "Timestamp": "2024-05-05 11:30:35"},
    {"device_id": "D1", "TimeZone": "IST", "Humidity": "99",
     "Temperature": "29", "Timestamp": "2024-05-05 11:35:35"},
    {"device_id": "D3", "TimeZone": "IST", "Humidity": "70",
     "Temperature": "31", "Timestamp": "2024-05-06 08:00:00"},
]


def _write_jsonl(dirpath: str, name: str, rows: list[dict]) -> None:
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _drain_to_memory(stream_df, spark, name: str) -> None:
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)


def _batch_readings(spark, src_dir: str):
    raw = spark.read.schema(READING_SCHEMA).json(src_dir)
    return typed_readings(raw, watermark=None)


def test_typed_reading_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "feed")
    _write_jsonl(src, "r1.json", R1)
    stream = typed_readings(read_reading_stream(spark, src))
    q = (stream.writeStream.format("memory").queryName("typed_feed")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.table("typed_feed").collect()}
    want = {tuple(r) for r in _batch_readings(spark, src).collect()}
    assert got == want and len(got) == 5
    # sentinel defaulting applied in-stream
    by_dev = {(r["device_id"], str(r["ts"])): r for r in spark.table("typed_feed").collect()}
    assert by_dev[("D1", "2024-05-05 11:44:00")]["timezone"] == "N/A"
    assert ("D2", "1970-01-01 00:00:00") in by_dev


def test_scd2_stream_two_batches(spark, tmp_path):
    """Two micro-batches through the foreachBatch SCD2 sink reproduce
    the reference's I/U/NC historization states (B5 scenario of
    tests/test_scd2.py, driven through streaming), with run-ledger rows
    written per batch."""
    from dht11_data_pipeline_spark.operators.control import ControlTable

    src = str(tmp_path / "feed")
    target = str(tmp_path / "hist_target")
    ckpt1 = str(tmp_path / "ckpt1")
    cfg = SCD2Config(natural_keys=["device_id", "ts"], ak_col="ak",
                     key_col="key", exclude_from_delta=["timezone"],
                     exclude_from_load=["load_key"])
    ctl = ControlTable(spark, str(tmp_path / "warehouse"))
    iface = ("DHT11_STREAM", "STG_STREAM")

    _write_jsonl(src, "b1.json", R1)
    readings = typed_readings(read_reading_stream(spark, src), watermark=None)
    q = start_scd2_stream(readings, target, ckpt1, cfg,
                          control=ctl, interface=iface)
    q.awaitTermination(120)

    state1 = spark.read.parquet(target)
    assert state1.count() == 5
    assert state1.filter(F.col("da_current_flag") == "Y").count() == 5
    # capture eagerly: the batch-2 swap replaces the files state1 points at
    hw1 = int(state1.agg(F.max("key")).first()[0])

    # ledger row for batch 0, completed
    run0 = ctl.previous_run("STG_STREAM")
    assert run0["load_status"] == "Success" and run0["load_key"] == 0

    # batch 2: the checkpoint makes the stream pick up only the new file
    _write_jsonl(src, "b2.json", R2)
    q = start_scd2_stream(readings, target, ckpt1, cfg,
                          control=ctl, interface=iface)
    q.awaitTermination(120)

    state2 = spark.read.parquet(target)
    cur = state2.filter(F.col("da_current_flag") == "Y")
    # 6 distinct natural keys live: 5 from B1 + new D3 row
    assert cur.count() == 6
    # the humidity change closed one old version
    closed = state2.filter(F.col("da_current_flag") == "N")
    assert closed.count() == 1
    assert closed.first()["humidity"] == "62"
    new_version = cur.filter(
        (F.col("device_id") == "D1") & (F.col("humidity") == "99"))
    assert new_version.count() == 1
    # surrogate keys minted above batch-1 high-water mark
    assert int(new_version.first()["key"]) > hw1
    # ledger has a completed row per micro-batch
    run1 = ctl.previous_run("STG_STREAM")
    assert run1["load_status"] == "Success" and run1["load_key"] == 1


def test_rate_limited_trigger_one_batch_per_file(spark, tmp_path):
    """maxFilesPerTrigger=1 + availableNow drains a backlog in bounded
    micro-batches (one file each) — the admission-control knob that
    keeps a 100 TB backfill from becoming one giant batch. A restart
    from the same checkpoint then processes ONLY a newly arrived file
    (exactly-once per batch, the reference's load_key ledger semantics,
    SURVEY §2.9 T4)."""
    src = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    for i in range(3):
        _write_jsonl(src, f"r{i}.json", [
            {"device_id": f"D{i}", "TimeZone": "IST", "Humidity": "50",
             "Temperature": "20", "Timestamp": f"2024-05-05 11:0{i}:00"},
            {"device_id": f"D{i}", "TimeZone": "IST", "Humidity": "51",
             "Temperature": "21", "Timestamp": f"2024-05-05 12:0{i}:00"},
        ])

    batches: list[tuple[int, int]] = []

    def _collect(df, bid):
        batches.append((bid, df.count()))

    def _drain():
        raw = read_reading_stream(spark, src, max_files_per_trigger=1)
        q = (typed_readings(raw, watermark=None).writeStream
             .foreachBatch(_collect)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    _drain()
    assert [bid for bid, _ in batches] == [0, 1, 2]  # one batch per file
    assert sum(n for _, n in batches) == 6

    # new file arrives; resume from checkpoint -> exactly one new batch
    _write_jsonl(src, "r3.json", [
        {"device_id": "D9", "TimeZone": "UTC", "Humidity": "40",
         "Temperature": "10", "Timestamp": "2024-05-06 09:00:00"}])
    batches.clear()
    _drain()
    assert [(bid, n) for bid, n in batches] == [(3, 1)]


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: each micro-batch is enriched against a
    static dimension (device -> site metadata) — the standard lookup
    pattern; the static side is re-resolved per batch and broadcast
    (no state, no watermark needed)."""
    src = str(tmp_path / "feed")
    _write_jsonl(src, "r1.json", R1)
    dim = spark.createDataFrame(
        [("D1", "lab", "IN"), ("D2", "roof", "US"), ("DX", "unused", "ZZ")],
        "device_id string, site string, country string")
    raw = read_reading_stream(spark, src)
    enriched = typed_readings(raw, watermark=None).join(dim, "device_id", "left")
    q = (enriched.writeStream.format("memory").queryName("enriched_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["device_id"], r["site"], r["country"])
           for r in spark.table("enriched_mem").collect()}
    batch = _batch_readings(spark, src).join(dim, "device_id", "left")
    want = {(r["device_id"], r["site"], r["country"]) for r in batch.collect()}
    assert got == want
    assert ("D1", "lab", "IN") in got and ("D2", "roof", "US") in got


def test_swap_target_crash_safety(spark, tmp_path):
    """Failure injection around the SCD2 target swap: a failed staged
    write leaves the live target untouched, and a crash between
    moving-aside and promotion is recovered from the _old dir on the
    next read (the reference's MERGE-then-INSERT crash window has no
    such recovery — SURVEY §4.2)."""
    import os
    import shutil

    import pytest as _pt
    from pyspark.sql import functions as F

    from dht11_data_pipeline_spark.streaming.historize import (
        read_target, swap_target)

    target = str(tmp_path / "hist")
    good = spark.createDataFrame([(1, "a")], "k long, v string")
    swap_target(good, target)

    # 1) staged write fails (ANSI raise inside the plan): target intact
    poison = spark.createDataFrame([(1,)], "k long").select(
        F.raise_error(F.lit("boom")).alias("k"))
    with _pt.raises(Exception):
        swap_target(poison, target)
    assert [tuple(r) for r in spark.read.parquet(target).collect()] == [(1, "a")]

    # 2) crash between rename-aside and promotion: _old exists, live gone
    os.rename(target, target + "_old")
    assert not os.path.exists(target)
    from dht11_data_pipeline_spark.operators.scd2 import SCD2Config
    cfg = SCD2Config(natural_keys=["k"])
    recovered = read_target(spark, target, good, cfg)
    assert [tuple(r) for r in recovered.collect()] == [(1, "a")]
    assert os.path.exists(target) and not os.path.exists(target + "_old")

    # 3) stray dirs from a post-promotion crash are cleaned by next swap
    shutil.copytree(target, target + "_old")
    newer = spark.createDataFrame([(2, "b")], "k long, v string")
    swap_target(newer, target)
    assert [tuple(r) for r in spark.read.parquet(target).collect()] == [(2, "b")]
    assert not os.path.exists(target + "_old")
    assert not os.path.exists(target + "_staged")


def test_scd2_logged_stream_matches_swap_sink(spark, tmp_path):
    """The txlog-backed streaming SCD2 sink produces exactly the state
    the swap-based sink does, one atomic commit per non-NC micro-batch,
    with per-batch time travel."""
    from dht11_data_pipeline_spark.operators import txlog
    from dht11_data_pipeline_spark.streaming.historize import (
        scd2_logged_batch_writer)

    src = str(tmp_path / "feed")
    swap_target_dir = str(tmp_path / "hist_swap")
    logged_dir = str(tmp_path / "hist_logged")
    cfg = SCD2Config(natural_keys=["device_id", "ts"], ak_col="ak",
                     key_col="key", exclude_from_delta=["timezone"],
                     exclude_from_load=["load_key"])

    _write_jsonl(src, "b1.json", R1)
    readings = typed_readings(read_reading_stream(spark, src), watermark=None)
    q = start_scd2_stream(readings, swap_target_dir,
                          str(tmp_path / "ck_swap"), cfg)
    q.awaitTermination(120)
    q = (readings.writeStream
         .foreachBatch(scd2_logged_batch_writer(logged_dir, cfg, n_buckets=16))
         .option("checkpointLocation", str(tmp_path / "ck_log"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    _write_jsonl(src, "b2.json", R2)
    q = start_scd2_stream(readings, swap_target_dir,
                          str(tmp_path / "ck_swap"), cfg)
    q.awaitTermination(120)
    q = (readings.writeStream
         .foreachBatch(scd2_logged_batch_writer(logged_dir, cfg, n_buckets=16))
         .option("checkpointLocation", str(tmp_path / "ck_log"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    # audit timestamps are current_timestamp() per sink run — compare
    # the deterministic surface: payload, flags, surrogate keys
    cols = ["device_id", "ts", "timezone", "humidity", "temperature",
            "ak", "key", "da_current_flag", "da_deleted_flag"]
    want = {tuple(r) for r in
            spark.read.parquet(swap_target_dir).select(*cols).collect()}
    got = {tuple(r) for r in
           txlog.read_table(spark, logged_dir).select(*cols).collect()}
    assert got == want
    # batch 1 state remains time-travelable
    assert txlog.current_version(logged_dir) == 2
    assert (txlog.read_table(spark, logged_dir, version=1)
            .filter(F.col("da_current_flag") == "Y").count() == 5)
