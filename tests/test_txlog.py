"""Manifest transaction log: atomic multi-bucket SCD2 commits,
snapshot isolation / time travel, crash safety, vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators import txlog
from dht11_data_pipeline_spark.operators.scd2 import apply_scd2
from tests.test_scd2 import B1, B2, CFG, _df, _empty_target
from tests.test_txlog_metadata import _batch, _parquet_files, table64  # noqa: F401


@pytest.fixture()
def logged(spark, tmp_path):
    table = str(tmp_path / "hist_logged")
    t1 = apply_scd2(_df(spark, B1), _empty_target(spark), CFG,
                    load_ts="2024-05-05 12:00:00")
    txlog.init_table(table, _empty_target(spark).schema, n_buckets=16)
    v = txlog.apply_scd2_logged(spark, _df(spark, B1), table, CFG,
                                load_ts="2024-05-05 12:00:00")
    assert v == 1
    return table, t1


def test_logged_apply_matches_plain(spark, logged):
    table, t1 = logged
    batch = _df(spark, [B2[1], B2[3]])  # one U + one I
    v = txlog.apply_scd2_logged(spark, batch, table, CFG,
                                load_ts="2024-05-06 12:00:00")
    assert v == 2
    got = txlog.read_table(spark, table)
    want = apply_scd2(batch, t1, CFG, load_ts="2024-05-06 12:00:00", incremental=True)
    cols = want.columns
    assert ({tuple(r) for r in got.select(*cols).collect()}
            == {tuple(r) for r in want.select(*cols).collect()})


def test_time_travel_and_snapshot_stability(spark, logged):
    table, t1 = logged
    old_snapshot = txlog.read_table(spark, table)  # resolved at v1
    batch = _df(spark, [B2[1], B2[3]])
    txlog.apply_scd2_logged(spark, batch, table, CFG,
                            load_ts="2024-05-06 12:00:00")
    # v1 readable by version pin AND via the pre-commit DataFrame
    # (files are immutable — no swap_target FILE_NOT_EXIST hazard)
    assert txlog.read_table(spark, table, version=1).count() == 4
    assert old_snapshot.count() == 4
    assert txlog.read_table(spark, table).count() == 6  # 4 + closed + new


def test_nc_only_batch_commits_nothing(spark, logged):
    table, _ = logged
    nc = _df(spark, [B1[0]])
    v = txlog.apply_scd2_logged(spark, nc, table, CFG,
                                load_ts="2024-05-07 12:00:00")
    assert v == 1 and txlog.current_version(table) == 1


def _parquet_mtimes(bucket_dir: str) -> dict[str, float]:
    return {os.path.join(bucket_dir, f): os.path.getmtime(os.path.join(bucket_dir, f))
            for f in os.listdir(bucket_dir) if f.endswith(".parquet")}


def test_unchanged_buckets_keep_their_dirs(spark, logged):
    table, _ = logged
    before = txlog.read_manifest(table)["buckets"]
    files_before = {b: _parquet_mtimes(os.path.join(table, rel))
                    for b, rel in before.items()}
    batch = _df(spark, [B2[3]])  # single new key
    txlog.apply_scd2_logged(spark, batch, table, CFG,
                            load_ts="2024-05-06 12:00:00")
    after = txlog.read_manifest(table)["buckets"]
    changed = {b for b in after if after[b] != before.get(b)}
    assert len(changed) == 1
    for b, path in before.items():
        if b not in changed:
            assert after[b] == path
            # the commit never rewrote an untouched bucket's files
            assert _parquet_mtimes(os.path.join(table, path)) == files_before[b]


def test_crash_before_manifest_is_invisible(spark, logged):
    table, _ = logged
    # simulate: data files written for a commit but manifest never
    # published (crash between write and rename)
    orphan = os.path.join(table, "data", "commit-99999999")
    _df(spark, [B2[3]]).write.mode("overwrite").parquet(orphan)
    assert txlog.current_version(table) == 1
    assert txlog.read_table(spark, table).count() == 4
    removed = txlog.vacuum(table, retain_versions=2)
    assert "data/commit-99999999" in removed


def test_crash_between_tmp_manifest_and_publish(spark, logged):
    """Torn commit one step later than the data-only crash: the tmp
    manifest was written and fsynced but the atomic os.link never ran.
    The stale .tmp must be invisible to version resolution and readers,
    must not block the NEXT committer from taking that version number,
    and vacuum must leave every file of the surviving manifests."""
    table, _ = logged
    # orphaned data + a fully-written tmp manifest for would-be v2
    orphan = os.path.join(table, "data", "commit-00000002-dead-0")
    _df(spark, [B2[3]]).write.mode("overwrite").parquet(orphan)
    m = txlog.read_manifest(table)
    import json
    tmp = os.path.join(table, "_txlog", "v00000002.json.tmp.99999")
    with open(tmp, "w") as fh:
        json.dump({**m, "version": 2,
                   "buckets": {"0": "data/commit-00000002-dead-0"}}, fh)
    # reader sees v1 only; the torn artifacts are invisible
    assert txlog.current_version(table) == 1
    assert txlog.read_table(spark, table).count() == 4
    # the next real committer claims v2 without conflict
    v = txlog.apply_scd2_logged(spark, _df(spark, [B2[1]]), table, CFG,
                                load_ts="2024-05-06 12:00:00")
    assert v == 2
    assert txlog.read_table(spark, table).count() == 5
    # vacuum collects the orphan dir but keeps every live manifest file
    removed = txlog.vacuum(table, retain_versions=2)
    assert "data/commit-00000002-dead-0" in removed
    assert txlog.read_table(spark, table, version=1).count() == 4
    assert txlog.read_table(spark, table, version=2).count() == 5


def test_vacuum_retains_recent_versions(spark, logged):
    table, _ = logged
    txlog.apply_scd2_logged(spark, _df(spark, [B2[1]]), table, CFG,
                            load_ts="2024-05-06 12:00:00")
    txlog.apply_scd2_logged(spark, _df(spark, [B2[3]]), table, CFG,
                            load_ts="2024-05-07 12:00:00")
    assert txlog.current_version(table) == 3
    removed = txlog.vacuum(table, retain_versions=2)
    # v1 manifest dropped; latest two versions still fully readable
    assert any(r.startswith("_txlog/v00000001") for r in removed)
    # v2: 4 originals with one closed out + its new version = 5
    assert txlog.read_table(spark, table, version=2).count() == 5
    # v3: + one brand-new key
    assert txlog.read_table(spark, table, version=3).count() == 6
    with pytest.raises(FileNotFoundError):
        txlog.read_manifest(table, 1)


def test_concurrent_commit_detected(spark, logged, monkeypatch):
    table, _ = logged
    m = txlog.read_manifest(table)
    txlog._commit(table, {"n_buckets": m["n_buckets"],
                          "buckets": m["buckets"]})  # v2 committed
    # a racer that read the log BEFORE v2 landed tries to claim v2 too:
    # simulate its stale view of the latest version
    monkeypatch.setattr(txlog, "current_version", lambda d: 1)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        txlog._commit(table, {"n_buckets": m["n_buckets"],
                              "buckets": m["buckets"]})


def test_change_feed_between_versions(spark, logged):
    table, _ = logged
    batch = _df(spark, [B2[1], B2[3]])  # one U + one I
    txlog.apply_scd2_logged(spark, batch, table, CFG,
                            load_ts="2024-05-06 12:00:00")
    feed = txlog.change_feed(spark, table, from_version=1).collect()
    by_type = {}
    for r in feed:
        by_type.setdefault(r["_change_type"], []).append(r)
    # U: old current row deleted, replaced by its closed 'N' twin,
    # plus the new 'Y' version; I: one new 'Y' row
    assert len(by_type.get("delete", [])) == 1
    d = by_type["delete"][0]
    assert d["humidity"] == "62" and d["da_current_flag"] == "Y"
    ins = by_type["insert"]
    assert len(ins) == 3
    flags = sorted((r["humidity"], r["da_current_flag"]) for r in ins)
    assert flags == [("62", "N"), ("70", "Y"), ("99", "Y")]


def test_change_feed_empty_when_no_changes(spark, logged):
    table, _ = logged
    feed = txlog.change_feed(spark, table, from_version=1, to_version=1)
    assert feed.count() == 0
    assert "_change_type" in feed.columns


def test_multi_batch_fold_matches_plain_apply(spark, logged):
    """Four sequential batches through the log equal the plain
    apply_scd2 fold over the same batches, and per-step change feeds
    compose to the end-to-end diff."""
    table, state = logged
    batches = [
        [B2[1]],                 # U
        [B2[3]],                 # I
        [B2[1], B2[3]],          # NC + NC (replay shape)
        [("D1", "2024-05-05 11:30:35", "IST", "77", "29", 9),  # U again
         ("D4", "2024-05-07 09:00:00", "UTC", "40", "15", 9)], # new I
    ]
    ts = ["2024-05-06 12:00:00", "2024-05-07 12:00:00",
          "2024-05-08 12:00:00", "2024-05-09 12:00:00"]
    versions = [1]
    for rows, load_ts in zip(batches, ts):
        b = _df(spark, rows)
        txlog.apply_scd2_logged(spark, b, table, CFG, load_ts=load_ts)
        versions.append(txlog.current_version(table))
        state = apply_scd2(b, state, CFG, load_ts=load_ts, incremental=True)
    # NC-only batch minted no version
    assert versions == [1, 2, 3, 3, 4]
    got = {tuple(r) for r in
           txlog.read_table(spark, table).select(*state.columns).collect()}
    want = {tuple(r) for r in state.collect()}
    assert got == want

    # change feeds compose: folding per-step feeds onto v1 yields v4
    start = {tuple(r) for r in
             txlog.read_table(spark, table, version=1)
             .select(*state.columns).collect()}
    acc = set(start)
    for a, b in zip(versions[:-1], versions[1:]):
        if a == b:
            continue
        feed = txlog.change_feed(spark, table, a, b)
        dels = {tuple(r) for r in
                feed.filter(F.col("_change_type") == "delete")
                .select(*state.columns).collect()}
        ins = {tuple(r) for r in
               feed.filter(F.col("_change_type") == "insert")
               .select(*state.columns).collect()}
        assert dels <= acc
        acc = (acc - dels) | ins
    assert acc == want


# -- one classify per commit, a write sized from the manifest -------------

def test_logged_commit_classifies_once(spark, logged, monkeypatch):
    """The commit classifies the batch once: the changed buckets and the
    built slice both come from that one persisted delta."""
    from dht11_data_pipeline_spark.operators import scd2

    table, _ = logged
    calls = []
    real = scd2.detect_delta
    monkeypatch.setattr(scd2, "detect_delta",
                        lambda *a, **kw: calls.append(1) or real(*a, **kw))
    v = txlog.apply_scd2_logged(spark, _df(spark, [B2[1], B2[3]]), table, CFG,
                                load_ts="2024-05-06 12:00:00")
    assert v == 2 and calls == [1]


def _moved(before: dict, after: dict) -> list[str]:
    return [b for b in after["buckets"]
            if after["buckets"][b] != before["buckets"].get(b)]


def _writer_tasks(table: str, rels: list[str]) -> set[str]:
    """Task partition ids from the part-file names (part-<id>-...)."""
    return {f.split("-")[1] for rel in rels for f in _parquet_files(table, rel)}


def _bump_every_fifth(spark):
    return _batch(spark, range(0, 600, 5), bumped=range(0, 600, 5), load_key=3)


def test_commit_write_uses_several_tasks_one_file_per_bucket(spark, table64):
    m1 = txlog.read_manifest(table64)
    txlog.apply_scd2_logged(spark, _bump_every_fifth(spark), table64, CFG,
                            load_ts="2024-05-06 12:00:00")
    m2 = txlog.read_manifest(table64)
    rels = [m2["buckets"][b] for b in _moved(m1, m2)]
    assert len(rels) >= 4
    assert all(len(_parquet_files(table64, rel)) == 1 for rel in rels)
    assert len(_writer_tasks(table64, rels)) > 1


def test_bucket_above_the_advisory_size_splits(spark, table64):
    """With the advisory partition size below a bucket's bytes, the
    commit writes that bucket as several files, and the table reads the
    same rows as the plain apply."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    m1 = txlog.read_manifest(table64)
    cols = txlog.read_table(spark, table64).columns
    want = {tuple(r) for r in apply_scd2(
        _bump_every_fifth(spark), txlog.read_table(spark, table64), CFG,
        load_ts="2024-05-06 12:00:00",
        incremental=True).select(*cols).collect()}
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        txlog.apply_scd2_logged(spark, _bump_every_fifth(spark), table64, CFG,
                                load_ts="2024-05-06 12:00:00")
    finally:
        spark.conf.set(key, old)
    m2 = txlog.read_manifest(table64)
    # ~4 kB buckets get 4 hash slots each; a bucket of 8+ rows cannot
    # plausibly hash into one of them (a 3-row bucket may)
    big = [b for b in _moved(m1, m2) if m1["stats"][b]["bytes"] > 1024
           and m2["stats"][b]["rows"] >= 8]
    assert len(big) >= 4
    assert all(len(_parquet_files(table64, m2["buckets"][b])) >= 2
               for b in big)
    got = {tuple(r) for r in
           txlog.read_table(spark, table64).select(*cols).collect()}
    assert got == want


def test_large_batch_into_a_small_table_splits(spark, tmp_path):
    """Slots are sized from a bucket's bytes AFTER the commit: with the
    advisory size above every bucket's bytes before it, a batch that
    quadruples each bucket still writes each as several files, and the
    table reads the same rows as the plain apply."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    table = str(tmp_path / "hist4")
    txlog.init_table(table, _empty_target(spark).schema, n_buckets=4)
    txlog.apply_scd2_logged(spark, _batch(spark, range(400)), table, CFG,
                            load_ts="2024-05-05 12:00:00")
    m1 = txlog.read_manifest(table)
    big = _batch(spark, range(400, 1600), load_key=3)
    cols = _empty_target(spark).columns
    want = {tuple(r) for r in apply_scd2(
        big, txlog.read_table(spark, table), CFG, load_ts="2024-05-06 12:00:00", incremental=True).select(*cols).collect()}
    old = spark.conf.get(key)
    spark.conf.set(key, f"{max(s['bytes'] for s in m1['stats'].values()) + 1}b")
    try:
        txlog.apply_scd2_logged(spark, big, table, CFG,
                                load_ts="2024-05-06 12:00:00")
    finally:
        spark.conf.set(key, old)
    m2 = txlog.read_manifest(table)
    assert sorted(_moved(m1, m2)) == ["0", "1", "2", "3"]
    assert all(len(_parquet_files(table, rel)) >= 2
               for rel in m2["buckets"].values())
    got = {tuple(r) for r in txlog.read_table(spark, table).select(*cols).collect()}
    assert got == want


def test_stats_without_bytes_still_commit(spark, table64):
    """A manifest whose stats predate the ``bytes`` field commits (each
    such bucket counts as one slot) and its written buckets gain it."""
    m = txlog.read_manifest(table64)
    txlog._commit(table64, {
        "n_buckets": m["n_buckets"], "buckets": m["buckets"],
        "schema": m["schema"],
        "stats": {b: {"rows": s["rows"], "max": s["max"]}
                  for b, s in m["stats"].items()}})
    m2 = txlog.read_manifest(table64)
    assert not any("bytes" in s for s in m2["stats"].values())
    v = txlog.apply_scd2_logged(spark, _bump_every_fifth(spark), table64, CFG,
                                load_ts="2024-05-06 12:00:00")
    m3 = txlog.read_manifest(table64)
    moved = _moved(m2, m3)
    assert v == 3 and len(moved) >= 4
    assert all(len(_parquet_files(table64, m3["buckets"][b])) == 1
               and m3["stats"][b]["bytes"] > 0 for b in moved)
    assert txlog.read_table(spark, table64).count() == 720


# -- version 0: the empty create ----------------------------------------------

def test_version_0_is_an_empty_table(spark, tmp_path):
    """``init_table`` publishes version 0 without a Spark job: the
    schema, no bucket and no data file. It reads as an empty frame with
    that schema, counts 0 rows, vacuums to nothing, and the first batch
    is commit 1, which the change feed from version 0 returns as
    inserts."""
    from tests.test_ledger import _job_count

    table = str(tmp_path / "hist_v0")
    schema = _empty_target(spark).schema
    with _job_count(spark) as jobs:
        assert txlog.init_table(table, schema, n_buckets=16) == 0
    assert jobs == [0]
    m = txlog.read_manifest(table, 0)
    assert (m["n_buckets"], m["buckets"], m["stats"]) == (16, {}, {})
    assert not os.path.exists(os.path.join(table, "data"))
    v0 = txlog.read_table(spark, table, version=0)
    assert v0.schema == schema and v0.count() == 0
    assert txlog.table_rows(table) == 0
    assert txlog.vacuum(table) == []
    assert txlog.current_version(table) == 0

    assert txlog.apply_scd2_logged(spark, _df(spark, B1), table, CFG,
                                   load_ts="2024-05-05 12:00:00") == 1
    feed = txlog.change_feed(spark, table, from_version=0).collect()
    assert len(feed) == 4
    assert {r["_change_type"] for r in feed} == {"insert"}
    assert txlog.vacuum(table, retain_versions=1) == ["_txlog/v00000000.json"]
    assert txlog.read_table(spark, table).count() == 4
