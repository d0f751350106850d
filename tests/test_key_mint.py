"""The SCD2 surrogate-key mint: ``classify`` numbers the I/U rows of its
persisted delta within fixed mint partitions and ``build`` adds each
partition's offset and the high-water mark. Keys are unique, above the
high-water mark and dense, the same through ``apply_scd2`` and through
a txlog commit at any bucket count, and no batch or streaming commit
sorts, checkpoints or range-partitions to mint them."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators import txlog
from dht11_data_pipeline_spark.operators.scd2 import apply_scd2
from tests.test_scd2 import B1, CFG, _df, _empty_target
from tests.test_txlog_metadata import _batch

CHANGED = ("D1", "2024-05-05 11:35:35")  # humidity "62" in B1

# staging shapes that hold a key more than once
CASES = {
    # the same changed key twice, two payloads that differ: both are
    # new versions
    "two_payloads": ([(*CHANGED, "IST", "98", "29", 3),
                      (*CHANGED, "IST", "97", "29", 3)], 2),
    # a changed key twice, once identical to its current version: only
    # the changed payload is a new version (deliberate: the identical
    # row classifies NC and is not re-inserted beside its U sibling)
    "identical_to_current": ([(*CHANGED, "IST", "62", "29", 3),
                              (*CHANGED, "IST", "96", "29", 3)], 1),
    # exact duplicate rows, of a changed key and of a new key: one new
    # version per staging row
    "exact_duplicates": ([(*CHANGED, "IST", "95", "29", 3),
                          (*CHANGED, "IST", "95", "29", 3),
                          ("D9", "2024-05-07 09:00:00", "UTC", "40", "15", 3),
                          ("D9", "2024-05-07 09:00:00", "UTC", "40", "15", 3)], 4),
}


def _rows(df: DataFrame, cols: list[str]) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _assert_minted(rows: list, hw: int, inserted: int) -> None:
    """Keys above ``hw`` are exactly hw+1 .. hw+inserted (unique, dense),
    for both surrogate columns."""
    for col in ("ak", "key"):
        new = sorted(int(r[col]) for r in rows if int(r[col]) > hw)
        assert new == list(range(hw + 1, hw + inserted + 1)), (col, new)


@pytest.mark.parametrize("n_buckets", [4, 16, 64])
@pytest.mark.parametrize("case", sorted(CASES))
def test_keys_unique_dense_and_equal_on_both_paths(spark, tmp_path, case,
                                                   n_buckets):
    staged, inserted = CASES[case]
    t1 = apply_scd2(_df(spark, B1), _empty_target(spark), CFG,
                    load_ts="2024-05-05 12:00:00")
    table = str(tmp_path / "hist")
    txlog.init_table(table, _empty_target(spark).schema, n_buckets=n_buckets)
    txlog.apply_scd2_logged(spark, _df(spark, B1), table, CFG,
                            load_ts="2024-05-05 12:00:00")

    batch = _df(spark, staged)
    want = apply_scd2(batch, t1, CFG, load_ts="2024-05-06 12:00:00",
                      incremental=True)
    txlog.apply_scd2_logged(spark, batch, table, CFG,
                            load_ts="2024-05-06 12:00:00")
    got = txlog.read_table(spark, table)
    cols = want.columns
    assert _rows(got, cols) == _rows(want, cols)

    rows = want.collect()
    assert len(rows) == len(B1) + inserted
    _assert_minted(rows, hw=len(B1), inserted=inserted)
    # the changed key's current row is closed once, whatever the case
    closed = [r for r in rows if r.da_current_flag == "N"]
    assert [(r.device_id, str(r.ts), r.humidity) for r in closed] == [
        (*CHANGED, "62")]
    if case == "identical_to_current":
        current = sorted(r.humidity for r in rows if r.da_current_flag == "Y"
                         and (r.device_id, str(r.ts)) == CHANGED)
        assert current == ["96"]


def test_keys_dense_across_every_mint_partition(spark, tmp_path):
    """600 new keys and 120 changed ones spread over all 64 mint
    partitions: the commit's keys continue densely from the high-water
    mark and equal those of the plain apply."""
    table = str(tmp_path / "hist")
    txlog.init_table(table, _empty_target(spark).schema, n_buckets=16)
    txlog.apply_scd2_logged(spark, _batch(spark, range(600)), table, CFG,
                            load_ts="2024-05-05 12:00:00")
    before = txlog.read_table(spark, table)
    _assert_minted(before.collect(), hw=0, inserted=600)
    batch = _batch(spark, range(0, 1200, 5), bumped=range(0, 600, 5),
                   load_key=3)
    want = apply_scd2(batch, before, CFG, load_ts="2024-05-06 12:00:00",
                      incremental=True)
    cols = want.columns
    want_rows = _rows(want, cols)
    txlog.apply_scd2_logged(spark, batch, table, CFG,
                            load_ts="2024-05-06 12:00:00")
    assert _rows(txlog.read_table(spark, table), cols) == want_rows
    _assert_minted(want.collect(), hw=600, inserted=120 + 120)


def _forbid(spark, monkeypatch, names: list[str]) -> list[str]:
    """Record every call of the DataFrame methods ``names`` (on the
    session's concrete DataFrame class, which overrides the base's)."""
    cls = type(spark.range(1))
    calls: list[str] = []
    for name in names:
        real = getattr(cls, name)

        def spy(self, *a, _name=name, _real=real, **kw):
            calls.append(_name)
            return _real(self, *a, **kw)

        monkeypatch.setattr(cls, name, spy)
    return calls


def test_run_batch_neither_checkpoints_nor_range_partitions(spark, tmp_path,
                                                           monkeypatch):
    from dht11_data_pipeline_spark.pipeline import bootstrap, run_batch
    from tests.test_pipeline_e2e import _reading_tree

    calls = _forbid(spark, monkeypatch, ["localCheckpoint", "repartitionByRange"])
    wh = str(tmp_path / "wh")
    bootstrap(spark, wh)
    tree = tmp_path / "t.json"
    for load_ts, bumped, new in (("2024-05-05 12:00:00", (), 0),
                                 ("2024-05-06 12:00:00", range(0, 200, 20), 5)):
        tree.write_text(json.dumps(_reading_tree(200, bumped=bumped, new=new)))
        run_batch(spark, wh, str(tree), "DEV01", load_ts=load_ts,
                  since_ts="1970-01-01 00:00:00")
    assert calls == []


# Spark jobs of one swap-sink micro-batch (``start_scd2_stream``,
# availableNow) of 20 changed and 20 new readings into a 2,000-row
# whole-target history, as measured with the key mint inside classify
# (18 when the mint sorted, checkpointed and counted its insert set)
SWAP_SINK_BATCH_JOB_BUDGET = 12


def _write_feed(path: str, rows: list[tuple]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for dev, ts, hum in rows:
            fh.write(json.dumps({"device_id": dev, "TimeZone": "IST",
                                 "Humidity": hum, "Temperature": "20",
                                 "Timestamp": ts}) + "\n")


def test_swap_sink_micro_batch_job_budget(spark, tmp_path, monkeypatch):
    """One swap-sink micro-batch stays within its measured job budget
    and neither checkpoints nor range-partitions."""
    from dht11_data_pipeline_spark.pipeline import HIST_CFG
    from dht11_data_pipeline_spark.streaming.historize import start_scd2_stream
    from dht11_data_pipeline_spark.streaming.ingest import (
        read_reading_stream, typed_readings)

    t0 = dt.datetime(2024, 5, 5)
    ts = [(t0 + dt.timedelta(minutes=i)).strftime("%Y-%m-%d %H:%M:%S")
          for i in range(2020)]
    base = [("D1", ts[i], str(40 + i % 50)) for i in range(2000)]
    target = str(tmp_path / "target")
    _write_feed(str(tmp_path / "base" / "b.json"), base)
    q = start_scd2_stream(
        typed_readings(read_reading_stream(spark, str(tmp_path / "base")),
                       watermark=None),
        target, str(tmp_path / "ck0"), HIST_CFG)
    q.awaitTermination(120)
    assert q.exception() is None

    feed = ([("D1", ts[i], "99") for i in range(0, 2000, 100)]
            + [("D1", ts[i], "50") for i in range(2000, 2020)])
    _write_feed(str(tmp_path / "src" / "f.json"), feed)
    calls = _forbid(spark, monkeypatch, ["localCheckpoint", "repartitionByRange"])
    q = start_scd2_stream(
        typed_readings(read_reading_stream(spark, str(tmp_path / "src")),
                       watermark=None),
        target, str(tmp_path / "ck1"), HIST_CFG)
    q.awaitTermination(120)
    assert q.exception() is None
    jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(
        str(q.runId)))
    assert calls == []
    assert 0 < jobs <= SWAP_SINK_BATCH_JOB_BUDGET, jobs
    out = spark.read.parquet(target)
    assert out.count() == 2000 + 20 + 20
    assert out.filter(F.col("da_current_flag") == "Y").count() == 2020
    _assert_minted(out.withColumnRenamed(HIST_CFG.ak_col, "ak")
                   .withColumnRenamed(HIST_CFG.key_col, "key").collect(),
                   hw=2000, inserted=40)
