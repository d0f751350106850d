"""End-to-end pipeline replay (reference E1: main.py) over B1/B2-style
tree JSON batches: control gates, landing/intermediate layers, SCD2."""

from __future__ import annotations

import inspect
import json
import os

import pytest
from pyspark.sql import functions as F

from dht11_data_pipeline_spark import pipeline
from dht11_data_pipeline_spark.operators import txlog
from dht11_data_pipeline_spark.operators.control import ControlTable
from dht11_data_pipeline_spark.pipeline import bootstrap, read_history, run_batch
from tests.test_ledger import _job_count

BATCH1 = {"MCU_Data": {"DEV01": {"HIST_DHT11_DATA": {
    "2024-05-05": {
        "11:30:35": {"TimeZone": "IST", "Humidity": "61", "Temperature": "29",
                     "Timestamp": "2024-05-05 11:30:35"},
        "11:35:35": {"TimeZone": "IST", "Humidity": "62", "Temperature": "29",
                     "Timestamp": "2024-05-05 11:35:35"},
    }}}}}

BATCH2 = {"MCU_Data": {"DEV01": {"HIST_DHT11_DATA": {
    "2024-05-05": {
        "11:30:35": {"TimeZone": "IST", "Humidity": "61", "Temperature": "29",
                     "Timestamp": "2024-05-05 11:30:35"},      # unchanged
        "11:35:35": {"TimeZone": "IST", "Humidity": "99", "Temperature": "29",
                     "Timestamp": "2024-05-05 11:35:35"},      # humidity changed
    },
    "2024-05-06": {
        "08:00:00": {"TimeZone": "IST", "Humidity": "70", "Temperature": "30",
                     "Timestamp": "2024-05-06 08:00:00"},      # new
    }}}}}


def test_full_two_batch_lifecycle(spark, tmp_path, monkeypatch):
    wh = str(tmp_path / "wh")
    t1 = tmp_path / "b1.json"; t1.write_text(json.dumps(BATCH1))
    t2 = tmp_path / "b2.json"; t2.write_text(json.dumps(BATCH2))
    committed = []
    historize = pipeline.historize
    monkeypatch.setattr(pipeline, "historize",
                        lambda *a, **kw: committed.append(historize(*a, **kw)))

    bootstrap(spark, wh)

    r1 = run_batch(spark, wh, str(t1), "DEV01",
                   load_ts="2024-05-05 12:00:00", since_ts="1970-01-01 00:00:00")
    assert r1 == {"load_key": 2, "rows": 2, "skipped": False, "hist_rows": 2}

    r2 = run_batch(spark, wh, str(t2), "DEV01",
                   load_ts="2024-05-06 12:00:00", since_ts="1970-01-01 00:00:00")
    assert r2["load_key"] == 3 and r2["rows"] == 3
    # 2 originals + 1 closed-out replacement + 1 new = 4
    assert r2["hist_rows"] == 4

    hist = read_history(spark, wh)
    current = hist.filter(F.col("da_current_flag") == "Y").collect()
    assert len(current) == 3
    changed = hist.filter(F.col("humidity") == "62").collect()
    assert len(changed) == 1 and changed[0].da_current_flag == "N"

    ctl = ControlTable(spark, wh)
    prev = ctl.previous_run("STG_1020")
    assert prev["load_status"] == "Success" and prev["load_key"] == 3

    # the history contract: historize returns the version it committed,
    # the logged table keeps the empty-target DDL's schema, and there is
    # one historize path with nothing to select
    assert committed == [1, 2]
    assert committed[-1] == txlog.current_version(
        os.path.join(wh, "hist_dht11_data"))
    empty = read_history(spark, str(tmp_path / "no_history_yet"))
    assert ([(f.name, f.dataType) for f in hist.schema]
            == [(f.name, f.dataType) for f in empty.schema])
    params = inspect.signature(historize).parameters
    assert "mode" not in params and "n_buckets" not in params


def test_non_txlog_history_dir_fails_on_the_driver(spark, tmp_path):
    """A plain-parquet history directory (no _txlog) is refused before
    any Spark job reads it, and run_batch writes nothing into it: no
    txlog version is laid down over the foreign files."""
    wh = str(tmp_path / "wh")
    bootstrap(spark, wh)
    hist_path = os.path.join(wh, "hist_dht11_data")
    spark.range(3).write.parquet(hist_path)
    listing = sorted(os.listdir(hist_path))

    with _job_count(spark) as jobs:
        with pytest.raises(ValueError, match="not a transaction-logged table") as e:
            read_history(spark, wh)
    assert jobs == [0] and hist_path in str(e.value)

    t = tmp_path / "b1.json"; t.write_text(json.dumps(BATCH1))
    with pytest.raises(ValueError, match="not a transaction-logged table"):
        run_batch(spark, wh, str(t), "DEV01",
                  load_ts="2024-05-05 12:00:00", since_ts="1970-01-01 00:00:00")
    assert sorted(os.listdir(hist_path)) == listing
    assert txlog.current_version(hist_path) is None


def test_unpublished_first_commit_is_an_empty_history(spark, tmp_path):
    """A crash inside the first batch's txlog init leaves data files
    but no manifest; the replay treats the table as empty and commits
    version 1 over the orphans."""
    wh = str(tmp_path / "wh")
    bootstrap(spark, wh)
    hist_path = os.path.join(wh, "hist_dht11_data")
    orphan = os.path.join(hist_path, "data", "commit-00000001-1-1",
                          "da_key_bucket=0")
    spark.range(3).write.parquet(orphan)
    os.makedirs(os.path.join(hist_path, "_txlog"))

    assert read_history(spark, wh).count() == 0
    t = tmp_path / "b1.json"; t.write_text(json.dumps(BATCH1))
    r = run_batch(spark, wh, str(t), "DEV01",
                  load_ts="2024-05-05 12:00:00", since_ts="1970-01-01 00:00:00")
    assert r["hist_rows"] == 2 and txlog.current_version(hist_path) == 1
    assert read_history(spark, wh).count() == 2


def test_prev_failure_gate(spark, tmp_path):
    """Abort when the previous run isn't 'Success' (main.py:15-20)."""
    wh = str(tmp_path / "wh")
    bootstrap(spark, wh)
    ctl = ControlTable(spark, wh)
    ctl.add_run_entry("DHT11_SENSOR_DATA_LOAD", "STG_1020", 2, "FAILED")
    t = tmp_path / "b.json"; t.write_text(json.dumps(BATCH1))
    with pytest.raises(RuntimeError, match="!= 'Success'"):
        run_batch(spark, wh, str(t), "DEV01")


def test_unregistered_interface_gate(spark, tmp_path):
    wh = str(tmp_path / "wh")
    t = tmp_path / "b.json"; t.write_text(json.dumps(BATCH1))
    with pytest.raises(RuntimeError, match="not registered"):
        run_batch(spark, wh, str(t), "DEV01")


def test_empty_batch_short_circuit(spark, tmp_path):
    """Empty increment → skip load tasks, still mark Success
    (reference T3, Airflow-DAG.py:114-119,563-576)."""
    wh = str(tmp_path / "wh")
    bootstrap(spark, wh)
    t = tmp_path / "b.json"; t.write_text(json.dumps(BATCH1))
    r = run_batch(spark, wh, str(t), "DEV01", since_ts="2030-01-01 00:00:00")
    assert r["skipped"] is True and r["rows"] == 0
    ctl = ControlTable(spark, wh)
    assert ctl.previous_run("STG_1020")["load_status"] == "Success"


def test_historize_logged_prunes_nc_buckets(spark, tmp_path):
    """Default historize path is the transaction-logged table: batch 2
    commits ONE new manifest version where only buckets holding changed
    keys point at the new commit dir; NC-only buckets keep their
    original immutable directories (reference MERGE parity at 100 TB
    write-amplification cost, plus crash atomicity + time travel)."""
    from dht11_data_pipeline_spark.operators.scd2_partitioned import key_bucket
    from dht11_data_pipeline_spark.pipeline import HIST_CFG

    wh = str(tmp_path / "wh")
    t1 = tmp_path / "b1.json"; t1.write_text(json.dumps(BATCH1))
    t2 = tmp_path / "b2.json"; t2.write_text(json.dumps(BATCH2))
    bootstrap(spark, wh)
    run_batch(spark, wh, str(t1), "DEV01",
              load_ts="2024-05-05 12:00:00", since_ts="1970-01-01 00:00:00")

    hist_path = os.path.join(wh, "hist_dht11_data")
    assert txlog.current_version(hist_path) == 1
    before = txlog.read_manifest(hist_path)["buckets"]

    run_batch(spark, wh, str(t2), "DEV01",
              load_ts="2024-05-06 12:00:00", since_ts="1970-01-01 00:00:00")

    assert txlog.current_version(hist_path) == 2
    after = txlog.read_manifest(hist_path)["buckets"]

    # changed keys of batch 2: the U (11:35:35) and the I (2024-05-06)
    changed = spark.createDataFrame(
        [("DEV01", "2024-05-05 11:35:35"), ("DEV01", "2024-05-06 08:00:00")],
        "device_id string, ts string",
    ).select(F.col("device_id"), F.col("ts").cast("timestamp"))
    changed_buckets = {
        str(r["b"]) for r in changed.select(
            key_bucket(HIST_CFG, 64).alias("b")).collect()}

    moved = {b for b in after if after[b] != before.get(b)}
    assert moved == changed_buckets
    for b, path in before.items():
        if b not in changed_buckets:
            assert after[b] == path, f"NC-only bucket re-pointed: {b}"
    # batch-1 state remains time-travelable
    assert txlog.read_table(spark, hist_path, version=1).count() == 2

    hist = read_history(spark, wh)
    assert hist.filter(F.col("da_current_flag") == "Y").count() == 3
    assert hist.count() == 4


# -- the batch's staging read and row count -----------------------------------

def _two_batches(spark, tmp_path) -> tuple[str, list[dict]]:
    wh = str(tmp_path / "wh")
    bootstrap(spark, wh)
    out = []
    for i, batch in enumerate((BATCH1, BATCH2)):
        t = tmp_path / f"b{i}.json"; t.write_text(json.dumps(batch))
        out.append(run_batch(spark, wh, str(t), "DEV01",
                             load_ts=f"2024-05-0{5 + i} 12:00:00",
                             since_ts="1970-01-01 00:00:00"))
    return wh, out


def test_batch_rows_are_the_partition_footer_sum(spark, tmp_path):
    """``rows`` (summed from the batch partition's parquet footers)
    equals Spark's count of that intermediate partition; the empty
    batch still reports 0."""
    wh, results = _two_batches(spark, tmp_path)
    whole = spark.read.parquet(os.path.join(wh, "dht11_data_int"))
    for r in results:
        assert r["rows"] == whole.filter(
            F.col("load_key") == r["load_key"]).count()
    assert [r["rows"] for r in results] == [2, 3]
    t = tmp_path / "b0.json"
    r = run_batch(spark, wh, str(t), "DEV01", since_ts="2030-01-01 00:00:00")
    assert r["skipped"] is True and r["rows"] == 0


def test_read_intermediate_reads_only_its_partition(spark, tmp_path):
    """A batch's staging frame names its own ``load_key=k`` directory
    with the layer's fixed schema: the same schema and rows as the
    whole-directory read, 0 Spark jobs to build, and an empty frame for
    a load key without a partition."""
    from dht11_data_pipeline_spark.operators.layers import (
        INTERMEDIATE_SCHEMA, read_intermediate)

    wh, results = _two_batches(spark, tmp_path)
    keys = [r["load_key"] for r in results] + [99]
    with _job_count(spark) as jobs:
        frames = {k: read_intermediate(spark, wh, k) for k in keys}
    assert jobs == [0]
    whole = spark.read.schema(INTERMEDIATE_SCHEMA).parquet(
        os.path.join(wh, "dht11_data_int"))
    for k, df in frames.items():
        assert df.schema == whole.schema
        assert (sorted(map(tuple, df.collect()))
                == sorted(map(tuple, whole.filter(F.col("load_key") == k)
                              .collect())))
    assert frames[99].count() == 0


def _reading_tree(n: int, bumped=(), new: int = 0) -> dict:
    """``n`` readings of DEV01 one minute apart (plus ``new`` more);
    readings in ``bumped`` carry a changed humidity."""
    import datetime as dt
    t0 = dt.datetime(2024, 5, 5)
    days: dict = {}
    for i in range(n + new):
        t = t0 + dt.timedelta(minutes=i)
        days.setdefault(t.strftime("%Y-%m-%d"), {})[t.strftime("%H:%M:%S")] = {
            "TimeZone": "IST", "Temperature": "20",
            "Humidity": str(40 + i % 50 + (5 if i in bumped else 0)),
            "Timestamp": t.strftime("%Y-%m-%d %H:%M:%S")}
    return {"MCU_Data": {"DEV01": {"HIST_DHT11_DATA": days}}}


# Spark jobs of one snapshot run_batch on a 64-bucket history, as
# measured with the key mint inside classify (21 when the mint sorted,
# checkpointed and counted the insert set itself; 28 before one classify
# per commit, the fixed-schema partition read of the batch and its row
# count from the footers)
SNAPSHOT_BATCH_JOB_BUDGET = 13
# Spark jobs of the first run_batch (1000 readings) into a missing
# history: the job-free version-0 create, then the same commit as every
# later batch against an empty snapshot, measured with the key mint
# inside classify (17 with the sorting mint, 22 when the first batch
# had its own apply-then-write path)
FIRST_BATCH_JOB_BUDGET = 9


def test_snapshot_batch_job_budget(spark, tmp_path):
    """The first ``run_batch`` and one snapshot ``run_batch`` (1% of
    readings changed, 1% new) over the 64-bucket history it made stay
    within their measured job budgets, so a change that adds a Spark
    job to the write path fails here."""
    wh = str(tmp_path / "wh")
    bootstrap(spark, wh)
    base = tmp_path / "base.json"
    base.write_text(json.dumps(_reading_tree(1000)))
    with _job_count(spark) as first:
        run_batch(spark, wh, str(base), "DEV01", load_ts="2024-05-05 12:00:00",
                  since_ts="1970-01-01 00:00:00")
    assert first[0] <= FIRST_BATCH_JOB_BUDGET, first
    snap = tmp_path / "snap.json"
    snap.write_text(json.dumps(_reading_tree(1000, bumped=range(0, 1000, 100),
                                             new=10)))
    with _job_count(spark) as jobs:
        r = run_batch(spark, wh, str(snap), "DEV01",
                      load_ts="2024-05-06 12:00:00",
                      since_ts="1970-01-01 00:00:00")
    assert r["rows"] == 1010 and r["hist_rows"] == 1020
    assert jobs[0] <= SNAPSHOT_BATCH_JOB_BUDGET, jobs


# -- the first batch is an ordinary commit onto an empty version 0 --------------

def test_failed_first_commit_replays_as_version_1(spark, tmp_path, monkeypatch):
    """A first batch that fails between the create (version 0) and its
    commit leaves an empty history at version 0; the next ``run_batch``
    commits the readings as version 1 on top of it."""
    wh = str(tmp_path / "wh")
    bootstrap(spark, wh)
    hist_path = os.path.join(wh, "hist_dht11_data")
    t = tmp_path / "b1.json"; t.write_text(json.dumps(BATCH1))
    real = txlog._write_buckets

    def fail_once(*a, **kw):
        monkeypatch.setattr(txlog, "_write_buckets", real)
        raise OSError("write failed")

    monkeypatch.setattr(txlog, "_write_buckets", fail_once)
    with pytest.raises(OSError, match="write failed"):
        run_batch(spark, wh, str(t), "DEV01",
                  load_ts="2024-05-05 12:00:00", since_ts="1970-01-01 00:00:00")
    assert txlog.current_version(hist_path) == 0
    assert read_history(spark, wh).count() == 0

    # a stuck run has no resume path yet: clearing the ledger gate
    # stands in for the operator before the replay
    ControlTable(spark, wh).update_run_status("STG_1020", 2, "Success",
                                              complete=True)
    r = run_batch(spark, wh, str(t), "DEV01",
                  load_ts="2024-05-05 12:00:00", since_ts="1970-01-01 00:00:00")
    assert r == {"load_key": 3, "rows": 2, "skipped": False, "hist_rows": 2}
    assert txlog.current_version(hist_path) == 1
    assert txlog.read_manifest(hist_path, 0)["buckets"] == {}
    assert read_history(spark, wh).count() == 2


def test_failed_batch_marks_its_run_failed(spark, tmp_path, monkeypatch):
    """A step that raises leaves the batch's ledger row at 'FAILED' and
    the step's own exception reaches the caller; the next batch's
    previous-success gate refuses to start."""
    wh = str(tmp_path / "wh")
    bootstrap(spark, wh)
    t = tmp_path / "b1.json"; t.write_text(json.dumps(BATCH1))

    def fail(*a, **kw):
        raise OSError("write failed")

    monkeypatch.setattr(txlog, "_write_buckets", fail)
    with pytest.raises(OSError, match="write failed"):
        run_batch(spark, wh, str(t), "DEV01",
                  load_ts="2024-05-05 12:00:00", since_ts="1970-01-01 00:00:00")
    prev = ControlTable(spark, wh).previous_run("STG_1020")
    assert (prev["load_key"], prev["load_status"]) == (2, "FAILED")
    assert prev["load_complete_dt_tm"] is None
    with pytest.raises(RuntimeError, match="'FAILED' != 'Success'"):
        run_batch(spark, wh, str(t), "DEV01",
                  load_ts="2024-05-05 12:00:00", since_ts="1970-01-01 00:00:00")


def test_first_load_above_the_advisory_size_splits(spark, tmp_path):
    """The first load sizes its write from the batch's parquet footers:
    with an advisory size far below a bucket's bytes every bucket is
    written as several files, and the history holds the batch's
    readings, all current."""
    from dht11_data_pipeline_spark.operators.layers import read_intermediate

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    wh = str(tmp_path / "wh")
    bootstrap(spark, wh)
    base = tmp_path / "base.json"
    base.write_text(json.dumps(_reading_tree(1000)))
    old = spark.conf.get(key)
    spark.conf.set(key, "32b")
    try:
        r = run_batch(spark, wh, str(base), "DEV01", load_ts="2024-05-05 12:00:00",
                      since_ts="1970-01-01 00:00:00")
    finally:
        spark.conf.set(key, old)
    hist_path = os.path.join(wh, "hist_dht11_data")
    buckets = txlog.read_manifest(hist_path)["buckets"]
    assert len(buckets) == 64
    assert all(len([f for f in os.listdir(os.path.join(hist_path, rel))
                    if f.endswith(".parquet")]) >= 2
               for rel in buckets.values())
    cols = ["device_id", "ts", "timezone", "humidity", "temperature"]
    hist = read_history(spark, wh)
    assert hist.filter(F.col("da_current_flag") == "Y").count() == 1000
    assert (sorted(map(tuple, hist.select(*cols).collect()))
            == sorted(map(tuple, read_intermediate(spark, wh, r["load_key"])
                          .select(*cols).collect())))


def test_load_key_past_int_range_round_trips(spark, tmp_path):
    """``load_key`` is a bigint end to end: the intermediate layer
    stamps, partitions and reads back a key of 2^31."""
    from dht11_data_pipeline_spark.operators.layers import (
        intermediate_rows, load_to_intermediate, read_intermediate,
        write_landing)
    from dht11_data_pipeline_spark.sources.firebase_tree import (
        flatten_readings, read_tree)

    wh = str(tmp_path / "wh")
    t = tmp_path / "b1.json"; t.write_text(json.dumps(BATCH1))
    write_landing(flatten_readings(read_tree(spark, str(t)), device_id="DEV01"),
                  wh, "DEV01")
    load_to_intermediate(spark, wh, 2**31, "DEV01")
    rows = read_intermediate(spark, wh, 2**31).collect()
    assert [r["load_key"] for r in rows] == [2**31, 2**31]
    assert intermediate_rows(wh, 2**31) == 2


# -- a snapshot batch closes deletes only inside its device and watermark -------

def _history(spark, wh) -> list[tuple]:
    return sorted((r.device_id, str(r.ts), r.humidity, r.da_current_flag,
                   r.da_deleted_flag) for r in read_history(spark, wh).collect())


def test_second_device_batch_closes_none_of_the_firsts_rows(spark, tmp_path,
                                                           capsys):
    """A batch is a snapshot of its own device: DEV02's first batch adds
    DEV02's readings and leaves every DEV01 row current, and so does the
    ``historize`` CLI replaying that batch for its device and watermark."""
    from dht11_data_pipeline_spark.__main__ import main

    wh = str(tmp_path / "wh")
    bootstrap(spark, wh)
    t = tmp_path / "t.json"
    t.write_text(json.dumps(BATCH1))
    run_batch(spark, wh, str(t), "DEV01", load_ts="2024-05-05 12:00:00",
              since_ts="1970-01-01 00:00:00")
    dev1 = _history(spark, wh)
    t.write_text(json.dumps({"MCU_Data": {"DEV02": BATCH1["MCU_Data"]["DEV01"]}}))
    r = run_batch(spark, wh, str(t), "DEV02", load_ts="2024-05-06 12:00:00",
                  since_ts="1970-01-01 00:00:00")
    assert r["rows"] == 2 and r["hist_rows"] == 4
    hist = _history(spark, wh)
    assert [h for h in hist if h[0] == "DEV01"] == dev1
    assert all(h[3:] == ("Y", "N") for h in hist)
    assert main(["historize", "--warehouse", wh, "--load-key",
                 str(r["load_key"]), "--device", "DEV02",
                 "--since-ts", "1970-01-01 00:00:00"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"hist_rows": 4} and _history(spark, wh) == hist


def test_watermarked_batch_closes_only_changed_readings(spark, tmp_path):
    """A second DEV01 batch from a watermark holds the readings from
    that time on: a reading before it is not deleted, one exactly at it
    is compared (unchanged here), a changed one is re-versioned and a
    new one inserted."""
    wh = str(tmp_path / "wh")
    bootstrap(spark, wh)
    t = tmp_path / "t.json"
    t.write_text(json.dumps(_reading_tree(4)))
    run_batch(spark, wh, str(t), "DEV01", load_ts="2024-05-05 12:00:00",
              since_ts="1970-01-01 00:00:00")
    # readings 0-3 at 00:00-00:03; the watermark is reading 1's time
    t.write_text(json.dumps(_reading_tree(4, bumped={3}, new=1)))
    r = run_batch(spark, wh, str(t), "DEV01", load_ts="2024-05-06 12:00:00",
                  since_ts="2024-05-05 00:01:00")
    assert r["rows"] == 4 and r["hist_rows"] == 6
    assert _history(spark, wh) == [
        ("DEV01", "2024-05-05 00:00:00", "40", "Y", "N"),
        ("DEV01", "2024-05-05 00:01:00", "41", "Y", "N"),
        ("DEV01", "2024-05-05 00:02:00", "42", "Y", "N"),
        ("DEV01", "2024-05-05 00:03:00", "43", "N", "N"),
        ("DEV01", "2024-05-05 00:03:00", "48", "Y", "N"),
        ("DEV01", "2024-05-05 00:04:00", "44", "Y", "N"),
    ]
