"""Driver-side run ledger (operators/control.py) and the SCD2 write
path's driver-sized metadata: upserts keyed by (interface_cd,
load_key), atomic staged replace, values that never pass through SQL
text, zero Spark jobs per ledger call, and no SQL cache entry left
behind by an SCD2 apply once its write has landed."""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators import control as C
from dht11_data_pipeline_spark.operators.control import ControlTable
from dht11_data_pipeline_spark.operators.scd2 import (
    SCD2Config, dense_rank_distributed,
)
from dht11_data_pipeline_spark.pipeline import bootstrap, run_batch

IFACE = ("DHT11_SENSOR_DATA_LOAD", "STG_1020")


def _ledger_rows(ctl: ControlTable) -> list[tuple]:
    return sorted((r["interface_cd"], r["load_key"], r["load_status"])
                  for r in ctl.control().collect())


@contextlib.contextmanager
def _job_count(spark):
    """Yields a list that receives the number of Spark jobs the block
    started (jobs tagged with a fresh job group on this thread)."""
    sc = spark.sparkContext
    group = f"ledger-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job pin")
    out: list[int] = []
    try:
        yield out
    finally:
        out.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


# -- upserts ---------------------------------------------------------------

def test_same_key_twice_is_one_row(spark, tmp_path):
    ctl = ControlTable(spark, str(tmp_path / "wh"))
    ctl.add_run_entry(*IFACE, 7, "APP SPECIFIC LOADING")
    ctl.add_run_entry(*IFACE, 7, "APP SPECIFIC LOADING")
    ctl.update_run_status(IFACE[1], 7, "Success", complete=True)
    ctl.update_run_status(IFACE[1], 7, "Success", complete=True)
    ctl.register_interface(IFACE[1], IFACE[0])
    ctl.register_interface(IFACE[1], IFACE[0])
    assert _ledger_rows(ctl) == [(IFACE[1], 7, "Success")]
    assert ctl.config().count() == 1
    # the same load_key under another interface is a different row
    ctl.add_run_entry("OTHER", "STG_9", 7, "X")
    assert len(_ledger_rows(ctl)) == 2


def test_update_of_missing_run_fails_on_the_driver(spark, tmp_path):
    ctl = ControlTable(spark, str(tmp_path / "wh"))
    ctl.add_run_entry(*IFACE, 1, "Success")
    with pytest.raises(LookupError, match="load_key 2"):
        ctl.update_run_status(IFACE[1], 2, "Success")


def test_streaming_replay_of_one_batch_id_keeps_one_ledger_row(spark, tmp_path):
    """foreachBatch re-runs a batch whose checkpoint commit was lost:
    the sink is called again with the same batch_id, and the ledger
    row for load_key = base + batch_id is updated, not duplicated."""
    from dht11_data_pipeline_spark.streaming.historize import scd2_batch_writer

    cfg = SCD2Config(natural_keys=["device_id", "ts"], ak_col="ak",
                     key_col="key", exclude_from_load=["load_key"])
    batch = spark.createDataFrame(
        [("D1", "61", "2024-05-05 11:30:35"), ("D2", "50", "2024-05-05 13:00:00")],
        "device_id string, humidity string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ctl = ControlTable(spark, str(tmp_path / "swh"))
    write = scd2_batch_writer(str(tmp_path / "target"), cfg, load_key_base=10,
                              control=ctl, interface=("DHT11_STREAM", "STG_S"))
    write(batch, 0)
    write(batch, 0)  # replay
    assert _ledger_rows(ctl) == [("STG_S", 10, "Success")]
    assert spark.read.parquet(str(tmp_path / "target")).count() == 2


# -- atomic replace --------------------------------------------------------

def test_failed_replace_leaves_previous_ledger_intact(spark, tmp_path, monkeypatch):
    wh = str(tmp_path / "wh")
    ctl = ControlTable(spark, wh)
    ctl.add_run_entry(*IFACE, 1, "Success")
    before = _ledger_rows(ctl)

    def boom(src, dst):
        raise OSError("injected crash before the replace")

    monkeypatch.setattr(C.os, "replace", boom)
    with pytest.raises(OSError, match="injected"):
        ctl.update_run_status(IFACE[1], 1, "FAILED")
    with pytest.raises(OSError, match="injected"):
        ctl.add_run_entry(*IFACE, 2, "APP SPECIFIC LOADING")
    monkeypatch.undo()

    assert _ledger_rows(ctl) == before
    assert sorted(os.listdir(ctl.control_path)) == [C.DATA_FILE]
    arrow = pq.read_table(ctl.control_path)
    assert arrow.column("load_status").to_pylist() == ["Success"]
    spark_rows = spark.read.parquet(ctl.control_path).collect()
    assert [(r.load_key, r.load_status) for r in spark_rows] == [(1, "Success")]


def test_readers_skip_a_staged_file_left_by_a_crash(spark, tmp_path):
    ctl = ControlTable(spark, str(tmp_path / "wh"))
    ctl.add_run_entry(*IFACE, 1, "Success")
    with open(os.path.join(ctl.control_path, "_staged-999.parquet"), "wb") as fh:
        fh.write(b"torn")
    assert ctl.previous_run(IFACE[1])["load_key"] == 1
    assert pq.read_table(ctl.control_path).num_rows == 1
    assert spark.read.parquet(ctl.control_path).count() == 1


def test_legacy_part_files_are_read_then_folded(spark, tmp_path):
    """A ledger directory written by Spark appends (several part files)
    reads as one table; the next write leaves one data file."""
    ctl = ControlTable(spark, str(tmp_path / "wh"))
    for key, status in ((1, "Success"), (2, "APP SPECIFIC LOADING")):
        spark.sql(
            "SELECT 'N' interface_name, 'CD' interface_cd, "
            f"'{status}' load_status, "
            "CAST('2024-01-02 03:04:05' AS TIMESTAMP) load_start_dt_tm, "
            "CAST(NULL AS TIMESTAMP) load_complete_dt_tm, "
            f"CAST({key} AS BIGINT) load_key"
        ).coalesce(1).write.mode("append").parquet(ctl.control_path)
    assert ctl.previous_run("CD")["load_key"] == 2
    assert ctl.previous_run("CD")["load_start_dt_tm"] == dt.datetime(2024, 1, 2, 3, 4, 5)

    ctl.update_run_status("CD", 2, "Success", complete=True)
    data = [f for f in os.listdir(ctl.control_path) if not f.startswith(("_", "."))]
    assert data == [C.DATA_FILE]
    assert _ledger_rows(ctl) == [("CD", 1, "Success"), ("CD", 2, "Success")]
    assert spark.read.parquet(ctl.control_path).count() == 2


# -- values, not SQL text --------------------------------------------------

def test_quotes_and_backslashes_round_trip(spark, tmp_path):
    name, cd = "it's a \\path\\ 'quoted'", "CD'\\1"
    ctl = ControlTable(spark, str(tmp_path / "wh"))
    ctl.register_interface(cd, name)
    ctl.add_run_entry(name, cd, 1, "St'at\\us")
    assert ctl.interface_exists(name, cd)
    prev = ctl.previous_run(cd)
    assert (prev["interface_name"], prev["interface_cd"], prev["load_status"]) == (
        name, cd, "St'at\\us")
    row = ctl.control().first()
    assert (row["interface_name"], row["interface_cd"]) == (name, cd)
    assert ctl.config().first()["interface_name"] == name


def test_bootstrap_seed_start_round_trips_as_utc(spark, tmp_path):
    wh = str(tmp_path / "wh")
    seed = "2024-03-10 02:30:00"
    bootstrap(spark, wh, seed_start_ts=seed)
    ctl = ControlTable(spark, wh)
    assert ctl.assert_previous_success(IFACE[1]) == (seed, 1)
    stored = pq.read_table(ctl.control_path).column("load_start_dt_tm")
    assert str(stored.type.tz) == "UTC"
    assert stored.to_pylist() == [
        dt.datetime(2024, 3, 10, 2, 30, tzinfo=dt.timezone.utc)]
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    got = ctl.control().selectExpr(
        "CAST(load_start_dt_tm AS STRING) AS s",
        "load_complete_dt_tm IS NOT NULL AS done").first()
    assert (got["s"], got["done"]) == (seed, True)


# -- noise-free counters ---------------------------------------------------

def test_ledger_calls_run_no_spark_jobs(spark, tmp_path):
    wh = str(tmp_path / "wh")
    bootstrap(spark, wh)
    ctl = ControlTable(spark, wh)
    calls = {
        "interface_exists": lambda: ctl.interface_exists(*IFACE),
        "previous_run": lambda: ctl.previous_run(IFACE[1]),
        "assert_previous_success": lambda: ctl.assert_previous_success(IFACE[1]),
        "add_run_entry": lambda: ctl.add_run_entry(*IFACE, 2, "APP SPECIFIC LOADING"),
        "update_run_status": lambda: ctl.update_run_status(
            IFACE[1], 2, "Success", complete=True),
    }
    jobs = {}
    for name, call in calls.items():
        with _job_count(spark) as n:
            call()
        jobs[name] = n[0]
    assert jobs == dict.fromkeys(calls, 0)
    # the pin is live: a Spark action in the same harness is counted
    with _job_count(spark) as n:
        spark.range(3).collect()
    assert n[0] >= 1


def _rdd_scan_lineages(df) -> list[str]:
    plan = df._jdf.queryExecution().sparkPlan()
    leaves = plan.collectLeaves()
    out = []
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "Scan ExistingRDD":
            out.append(leaf.rdd().toDebugString())
    return out


def test_dense_rank_offsets_need_no_python_rdd(spark):
    df = spark.range(0, 600, 1, 4).selectExpr("id % 37 AS k", "id")
    ranked = dense_rank_distributed(df, ["k", "id"], "rk")
    lineages = _rdd_scan_lineages(ranked)
    assert lineages  # the checkpointed input is scanned
    assert not any("PythonRDD" in s for s in lineages)
    assert "BroadcastExchange" not in ranked._jdf.queryExecution().sparkPlan().toString()
    got = [(r["k"], r["id"], r["rk"]) for r in ranked.collect()]
    want = sorted((i % 37, i) for i in range(600))
    assert sorted(got, key=lambda t: t[2]) == [
        (k, i, n + 1) for n, (k, i) in enumerate(want)]


# -- SCD2 delta cache ------------------------------------------------------

def _tree(humidity: str) -> dict:
    day = {t: {"TimeZone": "IST", "Humidity": h, "Temperature": "29",
               "Timestamp": f"2024-05-05 {t}"}
           for t, h in (("11:30:35", "61"), ("11:35:35", humidity))}
    return {"MCU_Data": {"DEV01": {"HIST_DHT11_DATA": {"2024-05-05": day}}}}


def test_run_batch_and_stream_drain_release_the_delta_cache(spark, tmp_path):
    from dht11_data_pipeline_spark.pipeline import HIST_CFG
    from dht11_data_pipeline_spark.streaming.historize import start_scd2_stream
    from dht11_data_pipeline_spark.streaming.ingest import (
        read_reading_stream, typed_readings)

    spark.catalog.clearCache()
    wh = str(tmp_path / "wh")
    tree = tmp_path / "b.json"
    bootstrap(spark, wh)
    for humidity in ("61", "99"):  # first load (txlog init), then a commit
        tree.write_text(json.dumps(_tree(humidity)))
        run_batch(spark, wh, str(tree), "DEV01", load_ts="2024-05-05 12:00:00",
                  since_ts="1970-01-01 00:00:00")
        assert _cache_empty(spark)

    src = tmp_path / "src"
    src.mkdir()
    for i in range(2):
        (src / f"r{i}.json").write_text(json.dumps(
            {"device_id": "D1", "TimeZone": "IST", "Humidity": str(50 + i),
             "Temperature": "20", "Timestamp": "2024-05-05 11:00:00"}) + "\n")
        readings = typed_readings(read_reading_stream(spark, str(src)),
                                  watermark=None)
        q = start_scd2_stream(readings, str(tmp_path / "target"),
                              str(tmp_path / "ckpt"), HIST_CFG)
        q.awaitTermination(120)
        assert q.exception() is None
        assert _cache_empty(spark)
    assert spark.read.parquet(str(tmp_path / "target")).count() == 2
