"""End-to-end batch pipeline — reference E1 lifecycle (main.py:25-82)
rebuilt as one Spark driver program.

Flow (reference stage → here):
  interface existence gate      → ControlTable.interface_exists
  previous-run 'Success' gate   → ControlTable.assert_previous_success
  mint load_key, run-row upsert → ControlTable.add_run_entry
  Firebase subtree fetch+flatten→ sources.firebase_tree (distributed)
  landing delete+reload         → layers.write_landing (atomic overwrite)
  landing→intermediate + stamp  → layers.load_to_intermediate
  SCD2 historization            → historize: one txlog commit per
                                  batch onto an empty version 0 (one
                                  classify, deletes only inside the
                                  batch's device and watermark, one
                                  slice scan, atomic manifest publish)
  status updates                → ControlTable.update_run_status
  batch row count               → layers.intermediate_rows (footers)
  history row count             → history_rows: summed from the txlog
                                  manifest's per-bucket stats

The ledger steps (gates, run-row upsert, status updates) run on the
driver against a one-file parquet ledger (operators/control.py): no
Spark job, no Python worker, atomic staged replace per write. The
history table's metadata steps do the same against the txlog manifest:
snapshot reads take its schema (no inference job), the commit takes
its surrogate-key high-water marks from its stats (no target scan) and
the batch's history row count is their sum (no count job).

The XCom dataset hand-off and the cross-DAG trigger (reference E2,
Airflow-DAG.py:299-307,529-555) disappear: every stage passes lazy
DataFrames inside one process, and 'trigger historization' is a
function call.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators import txlog
from dht11_data_pipeline_spark.operators.control import ControlTable
from dht11_data_pipeline_spark.operators.layers import (
    intermediate_rows, load_to_intermediate, read_intermediate,
    write_landing,
)
from dht11_data_pipeline_spark.operators.scd2 import SCD2Config
from dht11_data_pipeline_spark.sources.firebase_tree import flatten_readings, read_tree
from dht11_data_pipeline_spark.streaming.historize import empty_target

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
    if txlog.current_version(path) is not None:
        return txlog.read_table(spark, path)
    # a first commit that never published leaves only orphaned data/
    # (and maybe _txlog/ without a version): still an empty table
    if os.path.exists(path) and not set(os.listdir(path)) <= {"data", "_txlog"}:
        raise ValueError(
            f"{path} exists but is not a transaction-logged table (no "
            f"committed _txlog manifest); refusing to read or overwrite it")
    # empty target with the full SCD2 schema
    landing = spark.createDataFrame([], "device_id string, timezone string, "
                                    "humidity string, temperature string, ts timestamp")
    return empty_target(spark, landing, HIST_CFG)


def history_rows(warehouse_dir: str) -> int:
    """Rows in the logged history table, from its manifest — no Spark
    job."""
    return txlog.table_rows(_hist_path(warehouse_dir))


def historize(spark: SparkSession, warehouse_dir: str, load_key: int,
              device_id: str, since_ts: str,
              load_ts: str | None = None) -> int:
    """SCD2 apply over the intermediate batch (reference Historization
    DAG, Delta_detection_query_gen.py:335-351). Returns the committed
    txlog version of the history table.

    The target is a transaction-logged, bucket-partitioned table
    (operators/txlog). Each batch classifies its keys once against the
    current rows, writes ONLY the changed buckets to an immutable commit
    dir, and publishes the whole batch as ONE atomic manifest commit —
    MERGE-equivalent write amplification AND full crash atomicity (a
    crash anywhere leaves the previous version intact; no torn buckets,
    no reader ever sees a mix), plus time travel per batch for free.
    A missing table is first created empty (version 0), so the first
    batch is the same commit as every later one.

    The batch is a snapshot of ``device_id``'s readings from ``since_ts``
    on (``flatten_readings``' filters, so every staging row lies inside
    it): only current rows in that scope are compared, so only they can
    be closed as deletes.
    """
    scope = (F.col("device_id") == device_id) & (F.col("ts") >= F.lit(since_ts))
    staging = read_intermediate(spark, warehouse_dir, load_key)
    final = _hist_path(warehouse_dir)
    if txlog.current_version(final) is None:
        txlog.init_table(final, read_history(spark, warehouse_dir).schema,
                         n_buckets=64)
    return txlog.apply_scd2_logged(spark, staging, final, HIST_CFG,
                                   load_ts=load_ts, incremental=False,
                                   scope=scope)


def run_batch(spark: SparkSession, warehouse_dir: str, tree_json_path: str,
              device_id: str, interface_nm: str = "DHT11_SENSOR_DATA_LOAD",
              interface_cd: str = "STG_1020",
              load_ts: str | None = None,
              since_ts: str | None = None) -> dict:
    """One full incremental batch (reference `python main.py`).

    ``since_ts`` overrides the watermark (normally the previous
    successful run's start time — reference main.py:7-23); the
    reference exposes the same override through the DAG conf payload.
    A step that raises sets the run's status to ``'FAILED'`` (reference
    main.py:58) and the exception propagates; the next run's
    previous-success gate then refuses to start.
    """
    ctl = ControlTable(spark, warehouse_dir)

    if not ctl.interface_exists(interface_nm, interface_cd):
        raise RuntimeError(f"interface {interface_cd}/{interface_nm} not registered")
    prev_ts, prev_key = ctl.assert_previous_success(interface_cd)
    if since_ts is not None:
        prev_ts = since_ts
    load_key = prev_key + 1

    ctl.add_run_entry(interface_nm, interface_cd, load_key, "APP SPECIFIC LOADING")

    try:
        tree = read_tree(spark, tree_json_path)
        readings = flatten_readings(tree, device_id=device_id, since_ts=prev_ts)

        if readings.isEmpty():  # empty-batch short-circuit (reference T3)
            ctl.update_run_status(interface_cd, load_key, "Success",
                                  complete=True)
            return {"load_key": load_key, "rows": 0, "skipped": True}

        write_landing(readings, warehouse_dir, device_id)
        ctl.update_run_status(interface_cd, load_key,
                              "APP SPECIFIC LOADING COMPLETED")

        load_to_intermediate(spark, warehouse_dir, load_key, device_id)
        ctl.update_run_status(interface_cd, load_key,
                              "INTEGRATION LOAD COMPLETED")

        historize(spark, warehouse_dir, load_key, device_id, prev_ts,
                  load_ts=load_ts)
    except Exception:
        ctl.update_run_status(interface_cd, load_key, "FAILED")
        raise
    ctl.update_run_status(interface_cd, load_key, "Success", complete=True)

    return {"load_key": load_key, "rows": intermediate_rows(warehouse_dir, load_key),
            "skipped": False, "hist_rows": history_rows(warehouse_dir)}


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
