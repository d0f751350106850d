"""End-to-end batch pipeline — reference E1 lifecycle (main.py:25-82)
rebuilt as one Spark driver program.

Flow (reference stage → here):
  interface existence gate      → ControlTable.interface_exists
  previous-run 'Success' gate   → ControlTable.assert_previous_success
  mint load_key, run-row upsert → ControlTable.next_load_key/add_run_entry
  Firebase subtree fetch+flatten→ sources.firebase_tree (distributed)
  landing delete+reload         → layers.write_landing (atomic overwrite)
  landing→intermediate + stamp  → layers.load_to_intermediate
  SCD2 historization            → historize: operators.txlog one-commit
                                  apply (atomic manifest publish)
  status updates                → ControlTable.update_run_status

The ledger steps (gates, run-row upsert, status updates) run on the
driver against a one-file parquet ledger (operators/control.py): no
Spark job, no Python worker, atomic staged replace per write.

The XCom dataset hand-off and the cross-DAG trigger (reference E2,
Airflow-DAG.py:299-307,529-555) disappear: every stage passes lazy
DataFrames inside one process, and 'trigger historization' is a
function call.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from dht11_data_pipeline_spark.operators.control import ControlTable
from dht11_data_pipeline_spark.operators.layers import (
    load_to_intermediate, read_intermediate, write_landing,
)
from dht11_data_pipeline_spark.operators.scd2 import (
    SCD2Config, apply_scd2, delta_cache,
)
from dht11_data_pipeline_spark.operators.scd2_partitioned import (
    BUCKET_COL, apply_scd2_partitioned, init_partitioned_target,
)
from dht11_data_pipeline_spark.sources.firebase_tree import flatten_readings, read_tree

HIST_CFG = SCD2Config(
    natural_keys=["device_id", "ts"],
    ak_col="hist_dht11_data_ak",
    key_col="hist_dht11_data_key",
    exclude_from_delta=["timezone"],
    exclude_from_load=["load_key"],
)


def _hist_path(warehouse_dir: str) -> str:
    return os.path.join(warehouse_dir, "hist_dht11_data")


def read_history(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    path = _hist_path(warehouse_dir)
    if os.path.exists(os.path.join(path, "_txlog")):
        # transaction-logged layout (default historize path)
        from dht11_data_pipeline_spark.operators import txlog
        return txlog.read_table(spark, path)
    if os.path.exists(path):
        df = spark.read.parquet(path)
        # legacy bucket-partitioned layout carries the physical bucket
        # column; hide it from the logical schema
        return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df
    # empty target with the full SCD2 schema
    landing_like = "device_id string, timezone string, humidity string, temperature string, ts timestamp"
    audit = (f"{HIST_CFG.ak_col} decimal(18,0), {HIST_CFG.key_col} decimal(18,0), "
             "da_current_flag string, da_deleted_flag string, "
             "da_valid_from_date timestamp, da_valid_to_date timestamp, "
             "da_inserted_datetime timestamp, da_updated_datetime timestamp")
    return spark.createDataFrame([], f"{landing_like}, {audit}")


def historize(spark: SparkSession, warehouse_dir: str, load_key: int,
              load_ts: str | None = None, mode: str = "logged",
              n_buckets: int = 64) -> DataFrame:
    """SCD2 apply over the intermediate batch (reference Historization
    DAG, Delta_detection_query_gen.py:335-351).

    Default ``mode="logged"``: the target is a transaction-logged,
    bucket-partitioned table (operators/txlog). Each batch classifies
    changed keys with a narrow join, writes ONLY the changed buckets to
    an immutable commit dir, and publishes the whole batch as ONE
    atomic manifest commit — MERGE-equivalent write amplification AND
    full crash atomicity (a crash anywhere leaves the previous version
    intact; no torn buckets, no reader ever sees a mix), plus time
    travel per batch for free.

    ``mode="partitioned"``: the unlogged dynamic-partition-overwrite
    apply — same pruning, but bucket dirs commit one by one (a crash
    mid-commit can tear the target); kept for layouts without a log.

    ``mode="swap"``: the original whole-target atomic swap — full
    rewrite per batch, single-rename atomicity (replaces the
    reference's non-atomic MERGE-then-INSERT two-phase commit,
    SURVEY §7.4.2).
    """
    staging = read_intermediate(spark, warehouse_dir, load_key)
    final = _hist_path(warehouse_dir)
    if mode == "logged":
        from dht11_data_pipeline_spark.operators import txlog
        if txlog.current_version(final) is None:
            target = read_history(spark, warehouse_dir)
            with delta_cache() as cache:
                new_state = apply_scd2(staging, target, HIST_CFG,
                                       load_ts=load_ts, deterministic_keys=True,
                                       cache=cache)
                txlog.init_table(new_state, final, HIST_CFG,
                                 n_buckets=n_buckets)
        else:
            txlog.apply_scd2_logged(
                spark, staging, final, HIST_CFG, load_ts=load_ts,
                deterministic_keys=True, incremental=False)
        return read_history(spark, warehouse_dir)
    if mode == "partitioned":
        target = read_history(spark, warehouse_dir)
        if not os.path.exists(final):
            # first batch: full apply on the empty target, then lay the
            # result down in the bucket-partitioned format
            with delta_cache() as cache:
                new_state = apply_scd2(staging, target, HIST_CFG,
                                       load_ts=load_ts, deterministic_keys=True,
                                       cache=cache)
                init_partitioned_target(new_state, final, HIST_CFG, n_buckets)
        else:
            apply_scd2_partitioned(
                spark, staging, final, HIST_CFG, n_buckets=n_buckets,
                load_ts=load_ts, deterministic_keys=True, incremental=False)
        return read_history(spark, warehouse_dir)
    if mode != "swap":
        raise ValueError(f"unknown historize mode {mode!r}")
    target = read_history(spark, warehouse_dir)
    tmp = final + "_staged"
    with delta_cache() as cache:
        new_state = apply_scd2(staging, target, HIST_CFG, load_ts=load_ts,
                               deterministic_keys=True, cache=cache)
        new_state.write.mode("overwrite").parquet(tmp)
    import shutil
    if os.path.exists(final):
        shutil.rmtree(final)
    os.replace(tmp, final)
    return spark.read.parquet(final)


def run_batch(spark: SparkSession, warehouse_dir: str, tree_json_path: str,
              device_id: str, interface_nm: str = "DHT11_SENSOR_DATA_LOAD",
              interface_cd: str = "STG_1020",
              load_ts: str | None = None,
              since_ts: str | None = None) -> dict:
    """One full incremental batch (reference `python main.py`).

    ``since_ts`` overrides the watermark (normally the previous
    successful run's start time — reference main.py:7-23); the
    reference exposes the same override through the DAG conf payload.
    """
    ctl = ControlTable(spark, warehouse_dir)

    if not ctl.interface_exists(interface_nm, interface_cd):
        raise RuntimeError(f"interface {interface_cd}/{interface_nm} not registered")
    prev_ts, prev_key = ctl.assert_previous_success(interface_cd)
    if since_ts is not None:
        prev_ts = since_ts
    load_key = prev_key + 1

    ctl.add_run_entry(interface_nm, interface_cd, load_key, "APP SPECIFIC LOADING")

    tree = read_tree(spark, tree_json_path)
    readings = flatten_readings(tree, device_id=device_id, since_ts=prev_ts)

    if readings.isEmpty():  # empty-batch short-circuit (reference T3)
        ctl.update_run_status(interface_cd, load_key, "Success", complete=True)
        return {"load_key": load_key, "rows": 0, "skipped": True}

    write_landing(readings, warehouse_dir, device_id)
    ctl.update_run_status(interface_cd, load_key, "APP SPECIFIC LOADING COMPLETED")

    load_to_intermediate(spark, warehouse_dir, load_key, device_id)
    ctl.update_run_status(interface_cd, load_key, "INTEGRATION LOAD COMPLETED")

    hist = historize(spark, warehouse_dir, load_key, load_ts=load_ts)
    ctl.update_run_status(interface_cd, load_key, "Success", complete=True)

    n = read_intermediate(spark, warehouse_dir, load_key).count()
    return {"load_key": load_key, "rows": n, "skipped": False,
            "hist_rows": hist.count()}


def run_dedup_batch(spark: SparkSession, warehouse_dir: str,
                    corpus: DataFrame, new_docs: DataFrame,
                    batch_key: str,
                    interface_nm: str = "DOC_DEDUP_SIGNATURE_LOAD",
                    interface_cd: str = "STG_1030",
                    threshold: float = 0.5) -> dict:
    """One ingestion batch of the DEPLOYED incremental-dedup path: the
    durable signature store (operators/sigstore) driven under the same
    control-ledger discipline as the sensor pipeline — interface
    registration, previous-run Success gate, monotonic load keys,
    status progression (reference CheckInterface_Metadata.py:68-121 +
    STG_to_INT.py:16-29, applied to a dedup signature table instead of
    a landing table).

    Cost contract (the reason the store exists): the batch is sketched
    ONCE, the store is only PROBED (its committed signatures scanned,
    never its documents re-shingled), so batch N+1 does the same
    sketch work however many batches preceded it —
    tests/test_pipeline_e2e asserts this on the physical plan (sketch
    stages don't grow with store size). Replay of the same
    ``batch_key`` is idempotent at both layers: the ledger appends a
    new run row, the store re-points the key at a fresh commit and
    emits identical pairs.

    Returns {"load_key", "store_version", "pairs", "pairs_df"} —
    the frame stays valid after the commit (it reads only immutable
    store files) and carries the probe's physical plan for the
    cost-contract assertion.
    """
    from dht11_data_pipeline_spark.operators import sigstore, txlog

    ctl = ControlTable(spark, warehouse_dir)
    if not ctl.interface_exists(interface_nm, interface_cd):
        ctl.register_interface(interface_cd, interface_nm)
    prev = ctl.previous_run(interface_cd)
    if prev is not None and prev["load_status"] != "Success":
        raise RuntimeError(
            f"previous dedup run (load_key={prev['load_key']}) status "
            f"{prev['load_status']!r} != 'Success' — aborting")
    load_key = ctl.next_load_key(interface_cd)
    ctl.add_run_entry(interface_nm, interface_cd, load_key,
                      "DEDUP PROBE")

    store = os.path.join(warehouse_dir, "dedup_sig_store")
    if txlog.current_version(store) is None:
        sigstore.init_signature_store(spark, store)
    version, pairs = sigstore.update_signature_store(
        spark, store, corpus=corpus, new_docs=new_docs,
        batch_key=batch_key, threshold=threshold)
    ctl.update_run_status(interface_cd, load_key,
                          "SIGNATURES COMMITTED")
    n_pairs = pairs.count()
    ctl.update_run_status(interface_cd, load_key, "Success",
                          complete=True)
    return {"load_key": load_key, "store_version": version,
            "pairs": n_pairs, "pairs_df": pairs}


def bootstrap(spark: SparkSession, warehouse_dir: str,
              interface_nm: str = "DHT11_SENSOR_DATA_LOAD",
              interface_cd: str = "STG_1020",
              seed_start_ts: str = "1970-01-01 00:00:00") -> None:
    """Seed the control plane: register the interface and write the
    initial 'Success' row the prev-run gate requires (FIXTURES.md B4)."""
    ctl = ControlTable(spark, warehouse_dir)
    ctl.register_interface(interface_cd, interface_nm)
    ctl.add_run_entry(interface_nm, interface_cd, 1, "Success",
                      start_ts=seed_start_ts)
    ctl.update_run_status(interface_cd, 1, "Success", complete=True)
