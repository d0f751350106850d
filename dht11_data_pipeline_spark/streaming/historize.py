"""Streaming SCD2 sinks: ``foreachBatch`` → one SCD2 apply per micro-batch.

This is the reference's whole daily pipeline (cron → landing →
intermediate → historization trigger, Airflow-DAG.py:476-577) collapsed
into one streaming query. Per SURVEY §7.4.5 the SCD2 logic stays batch
(each micro-batch is a complete staging set) rather than using stateful
operators — identical semantics to the reference's per-day run, just on
a faster trigger.

Exactly-once story (SURVEY §2.9 T4): Spark's checkpoint guarantees each
source offset range maps to one ``batch_id``; a replayed batch (crash
between sink write and checkpoint commit) re-runs the apply, whose
hash-compare classifies every row NC — the same content-hash idempotency
the reference relies on (Delta_detection_query_gen.py:56). The control
ledger row per batch (load_key = batch_id + base) preserves the
reference's run-ledger surface (CheckInterface_Metadata.py:68-121); the
ledger upserts on (interface_cd, load_key), so a replayed batch rewrites
its row rather than appending a second one.

The target swap is staged-write + atomic rename, replacing the
reference's non-atomic MERGE-then-INSERT (SURVEY §4.2). On a real
cluster the same function body becomes a Delta Lake ``MERGE`` — the
foreachBatch seam is exactly where that swap happens; the logged sink
makes each micro-batch, the first included, one txlog commit.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from dht11_data_pipeline_spark.operators.scd2 import (
    SCD2Config, apply_scd2, delta_cache,
)


def empty_target(spark: SparkSession, staging: DataFrame,
                 cfg: SCD2Config) -> DataFrame:
    """Empty SCD2 target with the schema ``apply_scd2`` will produce for
    this staging shape: payload columns (minus load exclusions) + the
    audit columns — the metadata-driven column discovery of the
    reference (Delta_detection_query_gen.py:217-245) run in reverse."""
    drop = {c.lower() for c in cfg.exclude_from_load}
    fields = [f for f in staging.schema.fields if f.name.lower() not in drop]
    dec = T.DecimalType(18, 0)
    fields += [
        T.StructField(cfg.ak_col, dec), T.StructField(cfg.key_col, dec),
        T.StructField(cfg.current_flag, T.StringType()),
        T.StructField(cfg.deleted_flag, T.StringType()),
        T.StructField(cfg.valid_from, T.TimestampType()),
        T.StructField(cfg.valid_to, T.TimestampType()),
        T.StructField(cfg.inserted_at, T.TimestampType()),
        T.StructField(cfg.updated_at, T.TimestampType()),
    ]
    # limit(0): an empty LocalRelation the optimizer can prune against
    return spark.createDataFrame([], T.StructType(fields)).limit(0)


def read_target(spark: SparkSession, target_path: str, staging: DataFrame,
                cfg: SCD2Config) -> DataFrame:
    _recover_target(target_path)
    if os.path.exists(target_path):
        return spark.read.parquet(target_path)
    return empty_target(spark, staging, cfg)


def _recover_target(target_path: str) -> None:
    """If a previous swap crashed between moving the live dir aside and
    promoting the staged one, the ``_old`` dir is the last committed
    state — restore it. (The staged dir may be incomplete; committed
    beats newer-but-unverified.)"""
    old = target_path + "_old"
    if os.path.exists(old) and not os.path.exists(target_path):
        os.replace(old, target_path)


def swap_target(new_state: DataFrame, target_path: str) -> None:
    """Materialize the complete new target state, then promote it over
    the live path. Failure ordering (the reference's MERGE-then-INSERT
    leaves a half-applied table on a crash between its two commits —
    SURVEY §4.2; this replaces that with recoverable states only):

    - crash during the staged write -> live target untouched;
    - crash after the live dir moves to ``_old`` but before promotion ->
      ``_recover_target`` (called by every read) restores ``_old``;
    - crash after promotion -> only a stray ``_old``/``_staged`` dir
      remains, cleaned up by the next swap.

    On a cluster the same seam is a Delta/Iceberg transactional commit;
    the local parquet engine gets the strongest ordering a filesystem
    rename gives.
    """
    tmp = target_path + "_staged"
    old = target_path + "_old"
    new_state.write.mode("overwrite").parquet(tmp)  # fails => target intact
    _recover_target(target_path)
    if os.path.exists(old):
        shutil.rmtree(old)  # stale leftover from a post-promotion crash
    if os.path.exists(target_path):
        os.rename(target_path, old)
    os.replace(tmp, target_path)
    if os.path.exists(old):
        shutil.rmtree(old)


def scd2_batch_writer(target_path: str, cfg: SCD2Config,
                      load_key_base: int = 0,
                      control=None,
                      interface: tuple[str, str] | None = None):
    """Build the ``foreachBatch`` function: micro-batch = one reference
    daily run. Empty batches short-circuit (reference T3 branch,
    Airflow-DAG.py:563-569).

    SCD2 runs in *incremental* mode: a micro-batch carries only the keys
    that arrived, so absence is "no news", never a physical delete —
    the snapshot/PD mode of the batch pipeline doesn't apply here.

    ``control`` (a ControlTable) + ``interface`` (name, cd) add the
    reference's run-ledger rows per micro-batch: inserted as
    'HISTORIZATION' when the batch starts, updated to 'Success' on
    commit — the same status progression the batch pipeline writes
    (CheckInterface_Metadata.py:68-121), keyed by load_key =
    base + batch_id so replays update the same ledger row instead of
    duplicating it."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        load_key = load_key_base + batch_id
        if control is not None and interface is not None:
            nm, cd = interface
            control.add_run_entry(nm, cd, load_key, "HISTORIZATION")
        staging = batch_df.withColumn(
            "load_key", F.lit(load_key).cast("bigint"))
        target = read_target(spark, target_path, staging, cfg)
        with delta_cache() as cache:
            new_state = apply_scd2(staging, target, cfg,
                                   incremental=True, cache=cache)
            swap_target(new_state, target_path)
        if control is not None and interface is not None:
            control.update_run_status(interface[1], load_key, "Success",
                                      complete=True)

    return _write


def scd2_logged_batch_writer(table_dir: str, cfg: SCD2Config,
                             load_key_base: int = 0,
                             n_buckets: int = 64):
    """``foreachBatch`` SCD2 sink on the manifest transaction log
    (operators/txlog.py) instead of the whole-target swap: each
    micro-batch is ONE atomic commit that rewrites only the buckets its
    keys hash into. Strictly better at scale than ``scd2_batch_writer``
    — no full-target rewrite per batch, readers keep consistent
    snapshots across commits, time travel per batch for free. Replays
    converge exactly as in the swap path (hash-compare classifies a
    replayed batch NC → no changed buckets → no new version). A missing
    table is first created empty, with the ``empty_target`` schema."""
    from dht11_data_pipeline_spark.operators import txlog

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        staging = batch_df.withColumn(
            "load_key", F.lit(load_key_base + batch_id).cast("bigint"))
        if txlog.current_version(table_dir) is None:
            txlog.init_table(table_dir, empty_target(spark, staging, cfg).schema,
                             n_buckets=n_buckets)
        txlog.apply_scd2_logged(spark, staging, table_dir, cfg,
                                incremental=True)

    return _write


def start_scd2_stream(readings: DataFrame, target_path: str,
                      checkpoint_dir: str, cfg: SCD2Config,
                      available_now: bool = True,
                      control=None,
                      interface: tuple[str, str] | None = None) -> StreamingQuery:
    """Wire a readings stream into the SCD2 sink.

    ``available_now=True`` drains everything currently in the source
    then stops — the cron-batch replacement; ``False`` runs continuous
    micro-batches."""
    writer = (
        readings.writeStream
        .foreachBatch(scd2_batch_writer(target_path, cfg,
                                        control=control, interface=interface))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
