"""Streaming quality monitoring: per-batch audit rows, idempotent
replay by batch_id partition, alert filtering."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from dht11_data_pipeline_spark.streaming.ingest import (
    read_reading_stream, typed_readings,
)
from dht11_data_pipeline_spark.streaming.monitor import (
    alerts, audit_batch, audit_writer, default_reading_checks, read_audit,
)

GOOD = [
    {"device_id": "D1", "TimeZone": "IST", "Humidity": "61",
     "Temperature": "29", "Timestamp": "2024-05-05 11:30:35"},
    {"device_id": "D1", "TimeZone": "IST", "Humidity": "62",
     "Temperature": "30", "Timestamp": "2024-05-05 11:35:35"},
]

BAD = [
    {"device_id": "D2", "TimeZone": "UTC", "Humidity": "oops",
     "Temperature": "21", "Timestamp": "2024-05-05 12:00:00"},
    {"device_id": "D2", "TimeZone": "UTC", "Humidity": "50",
     "Temperature": "20"},  # missing Timestamp -> epoch sentinel
]


def _write_jsonl(dirpath: str, name: str, rows: list[dict]) -> None:
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_stream(spark, src, ckpt, audit_dir):
    stream = typed_readings(read_reading_stream(spark, src), watermark=None)
    q = (stream.writeStream
         .foreachBatch(audit_writer(audit_dir, default_reading_checks()))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)


def test_audit_rows_per_batch(spark, tmp_path):
    src = str(tmp_path / "feed")
    audit_dir = str(tmp_path / "audit")
    _write_jsonl(src, "r1.json", GOOD + BAD)
    _run_stream(spark, src, str(tmp_path / "ckpt"), audit_dir)

    audit = read_audit(spark, audit_dir)
    rows = {r["check_name"]: r for r in audit.collect()}
    assert set(rows) == set(default_reading_checks())
    assert all(r["rows_scanned"] == 4 for r in rows.values())
    assert rows["humidity_numeric"]["violations"] == 1      # "oops"
    assert rows["ts_not_epoch_sentinel"]["violations"] == 1  # missing ts
    assert rows["device_id_present"]["violations"] == 0
    assert rows["humidity_numeric"]["pass"] == "N"
    assert rows["device_id_present"]["pass"] == "Y"

    bad = alerts(spark, audit_dir)
    assert set(r["check_name"] for r in bad.collect()) == {
        "humidity_numeric", "ts_not_epoch_sentinel"}


def test_later_batches_append(spark, tmp_path):
    src = str(tmp_path / "feed")
    audit_dir = str(tmp_path / "audit")
    ckpt = str(tmp_path / "ckpt")
    _write_jsonl(src, "r1.json", GOOD)
    _run_stream(spark, src, ckpt, audit_dir)
    _write_jsonl(src, "r2.json", BAD)
    _run_stream(spark, src, ckpt, audit_dir)

    audit = read_audit(spark, audit_dir)
    assert audit.select("batch_id").distinct().count() == 2
    # per batch, one row per check
    n_checks = len(default_reading_checks())
    per_batch = audit.groupBy("batch_id").count().collect()
    assert all(r["count"] == n_checks for r in per_batch)
    # the clean batch is all-pass, the bad batch alerts
    flags = {r["batch_id"]: r["n_bad"] for r in
             audit.groupBy("batch_id")
             .agg(F.sum(F.when(F.col("pass") == "N", 1).otherwise(0))
                  .alias("n_bad")).collect()}
    assert sorted(flags.values()) == [0, 2]


def test_replay_same_batch_is_idempotent(spark, tmp_path):
    """Re-running a batch_id overwrites its own partition (dynamic
    partition overwrite) instead of double-counting — the same
    idempotency contract as the SCD2 sink."""
    audit_dir = str(tmp_path / "audit")
    df = spark.createDataFrame(
        [("D1", "IST", "61", "29", "2024-05-05 11:30:35")],
        "device_id string, timezone string, humidity string,"
        " temperature string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    writer = audit_writer(audit_dir, default_reading_checks())
    writer(df, 7)
    writer(df, 7)  # replay
    audit = read_audit(spark, audit_dir)
    assert audit.filter(F.col("batch_id") == 7).count() == len(
        default_reading_checks())


def test_audit_batch_empty_input(spark):
    df = spark.createDataFrame(
        [], "device_id string, timezone string, humidity string,"
        " temperature string, ts timestamp")
    rows = audit_batch(df, 0, default_reading_checks()).collect()
    assert len(rows) == len(default_reading_checks())
    assert all(r["violations"] == 0 and r["rows_scanned"] == 0 for r in rows)
