"""B5 scenario batches: SCD2 delta detection + apply
(SURVEY §5 item 3 — the reference's end-to-end historization semantics,
Delta_detection_query_gen.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators.scd2 import (
    SCD2Config, apply_scd2, detect_delta, delta_columns,
)

CFG = SCD2Config(
    natural_keys=["device_id", "ts"],
    ak_col="ak", key_col="key",
    exclude_from_delta=["timezone"],
    exclude_from_load=["load_key"],
)

SCHEMA = "device_id string, ts timestamp, timezone string, humidity string, temperature string, load_key bigint"

B1 = [  # initial batch — 4 records
    ("D1", "2024-05-05 11:30:35", "IST", "61", "29", 2),
    ("D1", "2024-05-05 11:35:35", "IST", "62", "29", 2),
    ("D1", "2024-05-05 11:40:35", "IST", "63", "30", 2),
    ("D2", "2024-05-05 10:00:00", "UTC", "50", "20", 2),
]

B2 = [  # unchanged / humidity changed / timezone-only changed / brand new
    ("D1", "2024-05-05 11:30:35", "IST", "61", "29", 3),   # NC
    ("D1", "2024-05-05 11:35:35", "IST", "99", "29", 3),   # U (humidity)
    ("D1", "2024-05-05 11:40:35", "PST", "63", "30", 3),   # NC (tz excluded)
    ("D3", "2024-05-06 08:00:00", "IST", "70", "31", 3),   # I
]


def _df(spark, rows):
    df = spark.createDataFrame(
        [(d, ts, tz, h, t, k) for d, ts, tz, h, t, k in rows],
        "device_id string, ts string, timezone string, humidity string, temperature string, load_key bigint",
    )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _empty_target(spark):
    return spark.createDataFrame([], SCHEMA.replace(", load_key bigint", "") +
        ", ak decimal(18,0), key decimal(18,0), da_current_flag string, da_deleted_flag string,"
        " da_valid_from_date timestamp, da_valid_to_date timestamp,"
        " da_inserted_datetime timestamp, da_updated_datetime timestamp")


def test_delta_columns_discovery():
    import pyspark.sql.types as T
    # metadata-driven column sets (reference all_tab_cols scans)
    class Fake:  # minimal duck-type with .columns
        columns = ["device_id", "ts", "timezone", "humidity", "temperature", "load_key"]
    assert delta_columns(Fake, CFG) == ["humidity", "temperature"]


def test_initial_load_all_inserts(spark):
    tgt = _empty_target(spark)
    delta = detect_delta(_df(spark, B1), tgt, CFG)
    assert {r.upsert_cd for r in delta.collect()} == {"I"}

    new_state = apply_scd2(_df(spark, B1), tgt, CFG,
                           load_ts="2024-05-05 12:00:00")
    rows = new_state.collect()
    assert len(rows) == 4
    assert all(r.da_current_flag == "Y" for r in rows)
    assert all(str(r.da_valid_to_date) == "3000-01-01 00:00:00" for r in rows)
    keys = sorted(int(r.key) for r in rows)
    assert keys == [1, 2, 3, 4]  # dense, above high-water 0


def test_second_batch_classification(spark):
    tgt = apply_scd2(_df(spark, B1), _empty_target(spark), CFG,
                     load_ts="2024-05-05 12:00:00")
    delta = detect_delta(_df(spark, B2), tgt.filter(F.col("da_current_flag") == "Y"), CFG)
    by_key = {(r.device_id, str(r.ts)): r.upsert_cd for r in delta.collect()}
    assert by_key[("D1", "2024-05-05 11:30:35")] == "NC"
    assert by_key[("D1", "2024-05-05 11:35:35")] == "U"
    assert by_key[("D1", "2024-05-05 11:40:35")] == "NC"   # timezone excluded
    assert by_key[("D3", "2024-05-06 08:00:00")] == "I"
    assert by_key[("D2", "2024-05-05 10:00:00")] == "PD"   # absent from batch 2


def test_second_batch_apply_versions(spark):
    t1 = apply_scd2(_df(spark, B1), _empty_target(spark), CFG,
                    load_ts="2024-05-05 12:00:00")
    t2 = apply_scd2(_df(spark, B2), t1, CFG,
                    load_ts="2024-05-06 12:00:00")
    rows = t2.collect()
    # 4 originals + 1 new version (U) + 1 brand new (I) = 6
    assert len(rows) == 6

    changed = [r for r in rows if r.device_id == "D1" and str(r.ts) == "2024-05-05 11:35:35"]
    old = next(r for r in changed if r.da_current_flag == "N")
    new = next(r for r in changed if r.da_current_flag == "Y")
    assert old.humidity == "62" and str(old.da_valid_to_date) == "2024-05-06 12:00:00"
    assert new.humidity == "99" and str(new.da_valid_to_date) == "3000-01-01 00:00:00"
    assert int(new.key) > int(old.key)  # above high-water mark

    deleted = next(r for r in rows if r.device_id == "D2")
    assert deleted.da_current_flag == "N" and deleted.da_deleted_flag == "Y"

    brand_new = next(r for r in rows if r.device_id == "D3")
    assert brand_new.da_current_flag == "Y"

    # timezone-only change stayed NC: still exactly one D1@11:40:35 row
    tz_rows = [r for r in rows if r.device_id == "D1" and str(r.ts) == "2024-05-05 11:40:35"]
    assert len(tz_rows) == 1 and tz_rows[0].da_current_flag == "Y"


def test_replay_idempotency(spark):
    """Re-running a batch yields NC for every surviving key — the
    reference's idempotency-by-content-hash design (SURVEY §2.9 T2)."""
    t1 = apply_scd2(_df(spark, B1), _empty_target(spark), CFG,
                    load_ts="2024-05-05 12:00:00")
    t2 = apply_scd2(_df(spark, B2), t1, CFG,
                    load_ts="2024-05-06 12:00:00")
    delta = detect_delta(_df(spark, B2), t2.filter(F.col("da_current_flag") == "Y"), CFG)
    assert {r.upsert_cd for r in delta.collect()} == {"NC"}


def test_incremental_mode_never_deletes(spark):
    """incremental=True (streaming micro-batch semantics): keys absent
    from staging are untouched — no PD, no closed rows."""
    t1 = apply_scd2(_df(spark, B1), _empty_target(spark), CFG,
                    load_ts="2024-05-05 12:00:00")
    b2_partial = _df(spark, [B2[1], B2[3]])  # only the U and the I rows
    delta = detect_delta(b2_partial, t1.filter(F.col("da_current_flag") == "Y"),
                         CFG, incremental=True)
    assert {r.upsert_cd for r in delta.collect()} == {"U", "I"}
    t2 = apply_scd2(b2_partial, t1, CFG, load_ts="2024-05-06 12:00:00", incremental=True)
    cur = t2.filter(F.col("da_current_flag") == "Y")
    # all 4 original keys still current (one re-versioned) + 1 new
    assert cur.count() == 5
    assert t2.filter(F.col("da_deleted_flag") == "Y").count() == 0


def test_empty_staging_snapshot_deletes_all(spark):
    """Snapshot mode with an empty batch = everything deleted (the
    full-outer diff semantics); incremental mode = no-op."""
    t1 = apply_scd2(_df(spark, B1), _empty_target(spark), CFG,
                    load_ts="2024-05-05 12:00:00")
    empty = _df(spark, B1).limit(0)
    snap = apply_scd2(empty, t1, CFG, load_ts="2024-05-06 12:00:00")
    assert snap.filter(F.col("da_current_flag") == "Y").count() == 0
    assert snap.filter(F.col("da_deleted_flag") == "Y").count() == 4
    inc = apply_scd2(empty, t1, CFG, load_ts="2024-05-06 12:00:00", incremental=True)
    assert {tuple(r) for r in inc.collect()} == {tuple(r) for r in t1.collect()}


def test_schema_gate(spark):
    """Insert-vs-target schema equality gate (reference
    Delta_detection_query_gen.py:312-316)."""
    bad_staging = _df(spark, B1).drop("temperature")
    with pytest.raises(ValueError, match="missing target columns"):
        apply_scd2(bad_staging, _empty_target(spark), CFG,
                   load_ts="2024-05-05 12:00:00")


def test_schema_drift_warns_but_proceeds(spark):
    """A new staging column must trigger the drift warning (SURVEY §7.4
    risk 6) while the run still completes with the mass-'U' wave the
    hash semantics imply."""
    import warnings as _w

    from dht11_data_pipeline_spark.operators.scd2 import (
        SCD2Config, detect_delta)

    cfg = SCD2Config(natural_keys=["k"])
    stg = spark.createDataFrame([(1, "a", "x")], "k long, v string, extra string")
    tgt = spark.createDataFrame(
        [(1, "a", "Y", "N", None, None, None, None, 1, 1)],
        "k long, v string, da_current_flag string, da_deleted_flag string, "
        "da_valid_from_date timestamp, da_valid_to_date timestamp, "
        "da_inserted_datetime timestamp, da_updated_datetime timestamp, "
        "hist_ak long, hist_key long")
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        out = detect_delta(stg, tgt, cfg)
        rows = out.collect()
    assert any("drift" in str(w.message) for w in caught)
    # same key, hash changed by the extra column -> classified U
    assert [r["upsert_cd"] for r in rows] == ["U"]


def test_no_drift_warning_for_excluded_target_columns(spark):
    """An excluded column legitimately present on the TARGET side must
    not warn (round-1 false positive: 'missing=[timezone]' on every
    run while timezone was in exclude_from_delta)."""
    import warnings as _w

    stg = _df(spark, B1)
    tgt = _empty_target(spark)  # carries timezone (excluded from delta)
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        detect_delta(stg, tgt, CFG).collect()
    drift = [w for w in caught if "drift" in str(w.message)]
    assert not drift, [str(w.message) for w in drift]


def _scan_leaves(df) -> list[str]:
    """Node names of the leaves of ``df``'s physical plan (the initial
    adaptive plan, exchanges included). A persisted delta is ONE
    InMemoryTableScan leaf; the scans inside its cached plan are not
    leaves of this plan."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    leaves = plan.collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def test_apply_classifies_once_and_scans_the_target_once(spark, tmp_path,
                                                        monkeypatch):
    """``apply_scd2`` = ``build(classify(...))``: one ``detect_delta``
    call, and the new state reads the target relation once — closed and
    unchanged rows come from one left join with the changed keys, not
    from an anti-join plus an inner join plus a history filter."""
    from dht11_data_pipeline_spark.operators import scd2

    path = str(tmp_path / "t1")
    apply_scd2(_df(spark, B1), _empty_target(spark), CFG,
               load_ts="2024-05-05 12:00:00").write.parquet(path)
    calls = []
    real = scd2.detect_delta
    monkeypatch.setattr(scd2, "detect_delta",
                        lambda *a, **kw: calls.append(1) or real(*a, **kw))

    out = apply_scd2(_df(spark, B2), spark.read.parquet(path), CFG,
                     load_ts="2024-05-06 12:00:00")
    assert calls == [1]
    leaves = _scan_leaves(out)
    assert sum(n.startswith("Scan parquet") for n in leaves) == 1, leaves
    assert "LeftAnti" not in out._jdf.queryExecution().executedPlan().toString()
    # U closed + its new version, D2 closed as a physical delete, D3 new
    rows = out.collect()
    assert sorted((r.humidity, r.da_current_flag, r.da_deleted_flag)
                  for r in rows) == [
        ("50", "N", "Y"), ("61", "Y", "N"), ("62", "N", "N"),
        ("63", "Y", "N"), ("70", "Y", "N"), ("99", "Y", "N")]


def test_build_never_duplicates_a_row_for_repeated_keys(spark):
    """Staging holding the same changed key twice (two differing
    payloads) still closes the target row ONCE and inserts one version
    per staging row: the changed-key set both joins read is one row per
    natural key."""
    t1 = apply_scd2(_df(spark, B1), _empty_target(spark), CFG,
                    load_ts="2024-05-05 12:00:00")
    dup = [("D1", "2024-05-05 11:35:35", "IST", "98", "29", 3),
           ("D1", "2024-05-05 11:35:35", "IST", "97", "29", 3)]
    out = apply_scd2(_df(spark, dup), t1, CFG, load_ts="2024-05-06 12:00:00",
                     incremental=True)
    closed = out.filter(F.col("humidity") == "62").collect()
    assert [(r.da_current_flag, str(r.da_valid_to_date)) for r in closed] == [
        ("N", "2024-05-06 12:00:00")]
    assert out.filter(F.col("da_current_flag") == "N").count() == 1
    current = out.filter((F.col("device_id") == "D1")
                         & (F.col("ts") == "2024-05-05 11:35:35")
                         & (F.col("da_current_flag") == "Y")).collect()
    assert sorted(r.humidity for r in current) == ["97", "98"]


@pytest.mark.parametrize("via", ["detect_delta", "apply_scd2",
                                 "apply_scd2_logged"])
def test_drift_warning_names_the_callers_line(spark, tmp_path, via):
    """The drift warning points at the caller's code, however deep in
    the package the classify ran (direct, through ``classify``, through
    a txlog commit)."""
    import warnings as _w

    from dht11_data_pipeline_spark.operators import txlog

    stg = _df(spark, B1).withColumn("extra", F.lit("x"))
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        if via == "detect_delta":
            detect_delta(stg, _empty_target(spark), CFG)
        elif via == "apply_scd2":
            apply_scd2(stg, _empty_target(spark), CFG,
                       load_ts="2024-05-05 12:00:00")
        else:
            table = str(tmp_path / "t")
            txlog.init_table(table, _empty_target(spark).schema, n_buckets=4)
            txlog.apply_scd2_logged(spark, stg, table, CFG,
                                    load_ts="2024-05-05 12:00:00")
    drift = [w for w in caught if "drift" in str(w.message)]
    assert drift and {w.filename for w in drift} == {__file__}
