"""The txlog manifest as the table's metadata: snapshot reads take the
manifest schema and run no Spark job, per-bucket stats (rows and the
surrogate-key maxima) match what Spark counts, each commit writes one
file per rewritten bucket, and a manifest without schema or stats
still reads and gains stats on its next commit.

Tables here have 64 buckets: a snapshot read then names 64
directories, above Spark's default parallel-listing threshold of 32,
so a listing job would show up in the job counts."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators import txlog
from dht11_data_pipeline_spark.operators.scd2_partitioned import key_bucket
from tests.test_ledger import _job_count
from tests.test_scd2 import CFG, _df, _empty_target

N_BUCKETS = 64
T0 = dt.datetime(2024, 5, 5)


def _batch(spark, ids, bumped=(), load_key=2):
    """Readings for keys ``ids``; keys in ``bumped`` carry a changed
    humidity. Spread over several input partitions so that, without
    the rebalance, one bucket would collect a file from each."""
    bumped = set(bumped)
    rows = [(f"D{i % 5}", (T0 + dt.timedelta(minutes=i)).isoformat(" "),
             "IST", str(50 + i % 40 + (7 if i in bumped else 0)), "20",
             load_key)
            for i in ids]
    return _df(spark, rows).repartition(6)


@pytest.fixture()
def table64(spark, tmp_path):
    table = str(tmp_path / "hist64")
    txlog.init_table(table, _empty_target(spark).schema, n_buckets=N_BUCKETS)
    assert txlog.apply_scd2_logged(spark, _batch(spark, range(600)), table, CFG,
                                   load_ts="2024-05-05 12:00:00") == 1
    return table


def _spark_stats(spark, table) -> dict:
    """Per bucket: Spark's row count and surrogate-key maxima, and the
    on-disk bytes of the parquet files the manifest names for it."""
    df = txlog.read_table(spark, table)
    dirs = txlog.read_manifest(table)["buckets"]

    def size(b):
        return sum(os.path.getsize(os.path.join(table, dirs[b], f))
                   for f in _parquet_files(table, dirs[b]))

    return {str(r["b"]): {"rows": r["n"], "bytes": size(str(r["b"])),
                          "max": {"ak": int(r["ak"]), "key": int(r["key"])}}
            for r in df.groupBy(key_bucket(CFG, N_BUCKETS).alias("b"))
            .agg(F.count(F.lit(1)).alias("n"), F.max("ak").alias("ak"),
                 F.max("key").alias("key")).collect()}


def _parquet_files(table, rel) -> list[str]:
    return [f for f in os.listdir(os.path.join(table, rel))
            if f.endswith(".parquet")]


def test_snapshot_reads_run_no_spark_job(spark, table64):
    m = txlog.read_manifest(table64)
    some = [m["buckets"][b] for b in sorted(m["buckets"])[:3]]
    with _job_count(spark) as full:
        snap = txlog.read_table(spark, table64)
    assert full == [0]
    with _job_count(spark) as part:
        txlog._read_bucket_paths(spark, table64, some, m["schema"])
    assert part == [0]
    inferred = spark.read.parquet(
        *[os.path.join(table64, p) for p in m["buckets"].values()])
    assert snap.schema == inferred.schema
    assert snap.count() == 600


def test_manifest_stats_match_spark_after_fold_with_delete(spark, table64):
    # snapshot batches: the ids left out are physical deletes (PD)
    txlog.apply_scd2_logged(
        spark, _batch(spark, [i for i in range(620) if i % 50],
                      bumped=range(0, 600, 7), load_key=3),
        table64, CFG, load_ts="2024-05-06 12:00:00", incremental=False)
    txlog.apply_scd2_logged(
        spark, _batch(spark, range(590, 640), bumped=range(590, 640, 3),
                      load_key=4),
        table64, CFG, load_ts="2024-05-07 12:00:00", incremental=True)
    assert txlog.current_version(table64) == 3
    hist = txlog.read_table(spark, table64)
    assert hist.filter(F.col("da_deleted_flag") == "Y").count() == 12
    m = txlog.read_manifest(table64)
    assert m["stats"] == _spark_stats(spark, table64)
    assert sorted(m["stats"]) == sorted(m["buckets"])
    assert txlog.table_rows(table64) == hist.count()
    top = hist.agg(F.max("ak"), F.max("key"),
                   F.countDistinct("key"), F.count(F.lit(1))).first()
    assert (max(s["max"]["ak"] for s in m["stats"].values()),
            max(s["max"]["key"] for s in m["stats"].values())) == (
        int(top[0]), int(top[1]))
    # the manifest high-water marks minted fresh, unique keys
    assert top[2] == top[3]


def test_one_file_per_rewritten_bucket(spark, table64):
    m1 = txlog.read_manifest(table64)
    assert all(len(_parquet_files(table64, rel)) == 1
               for rel in m1["buckets"].values())
    txlog.apply_scd2_logged(
        spark, _batch(spark, range(0, 600, 5), bumped=range(0, 600, 5),
                      load_key=3),
        table64, CFG, load_ts="2024-05-06 12:00:00")
    m2 = txlog.read_manifest(table64)
    moved = [b for b in m2["buckets"] if m2["buckets"][b] != m1["buckets"][b]]
    assert len(moved) > 30
    assert all(len(_parquet_files(table64, m2["buckets"][b])) == 1
               for b in moved)
    commit = m2["buckets"][moved[0]].rsplit("/", 1)[0]
    written = [f for _, _, fs in os.walk(os.path.join(table64, commit))
               for f in fs if f.endswith(".parquet")]
    assert len(written) == len(moved)


def test_manifest_without_schema_or_stats_reads_and_gains_stats(spark,
                                                                table64):
    m = txlog.read_manifest(table64)
    # the earlier manifest format: bucket map only
    txlog._commit(table64, {"n_buckets": m["n_buckets"],
                            "buckets": m["buckets"]})
    legacy = txlog.read_manifest(table64)
    assert "schema" not in legacy and "stats" not in legacy
    assert txlog.read_table(spark, table64).count() == 600
    assert txlog.table_rows(table64) == 600

    txlog.apply_scd2_logged(
        spark, _batch(spark, [3, 700], bumped=[3], load_key=3),
        table64, CFG, load_ts="2024-05-06 12:00:00")
    m3 = txlog.read_manifest(table64)
    assert m3["version"] == 3
    assert m3["schema"] == m["schema"]
    assert sorted(m3["stats"]) == sorted(m3["buckets"])
    assert m3["stats"] == _spark_stats(spark, table64)
    keys = txlog.read_table(spark, table64).agg(
        F.countDistinct("key"), F.count(F.lit(1)), F.max("key")).first()
    assert keys[0] == keys[1] == 602 and int(keys[2]) == 602


def test_history_rows_come_from_the_manifest(spark, tmp_path, capsys):
    """``run_batch``'s ``hist_rows`` and the ``historize`` CLI report
    the manifest's row sum; it equals Spark's count of the history."""
    from dht11_data_pipeline_spark.__main__ import main
    from dht11_data_pipeline_spark.pipeline import (
        bootstrap, read_history, run_batch)
    from tests.test_pipeline_e2e import BATCH1, BATCH2

    wh = str(tmp_path / "wh")
    bootstrap(spark, wh)
    for i, batch in enumerate((BATCH1, BATCH2)):
        tree = tmp_path / f"b{i}.json"
        tree.write_text(json.dumps(batch))
        r = run_batch(spark, wh, str(tree), "DEV01",
                      load_ts=f"2024-05-0{5 + i} 12:00:00",
                      since_ts="1970-01-01 00:00:00")
        assert r["hist_rows"] == read_history(spark, wh).count()
    # 2 loaded; batch 2 adds a new version of one key and one new key
    assert r["hist_rows"] == 4
    # the CLI replays the last load key: all NC, no commit, same rows
    assert main(["historize", "--warehouse", wh,
                 "--load-key", str(r["load_key"]), "--device", "DEV01",
                 "--since-ts", "1970-01-01 00:00:00"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"hist_rows": 4}
