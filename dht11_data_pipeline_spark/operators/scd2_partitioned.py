"""Partition-selective SCD2 apply: O(changed partitions) per batch
instead of O(target).

The base ``apply_scd2`` returns the complete new target state — simple
and atomic, but writing it back rewrites the WHOLE target every batch.
At 100 TB with a 0.1% daily delta that's a 1000x write amplification.

Fix, with plain parquet (no Delta required): store the target
partitioned by a hash bucket of the natural key
(``pmod(xxhash64(keys), n_buckets)``). A batch's changed keys touch a
subset of buckets; rows in other buckets cannot change (same key ⇒
same bucket). So the apply:

1. computes the incoming batch's bucket set (driver-side list of ints,
   O(n_buckets) small),
2. reads ONLY those partitions of the target (partition pruning),
3. runs the normal SCD2 merge on that slice,
4. writes back with dynamic partition overwrite — untouched buckets'
   files are never rewritten.

Atomicity is per-partition (the dynamic overwrite commits each bucket
directory); a retry of the same batch is idempotent because re-applying
yields NC for every key (the reference's content-hash idempotency,
SURVEY §2.9 T2). Delta Lake MERGE gives the same selective-write via
file-level pruning; this is the engine's parquet-native equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators.scd2 import (
    SCD2Config, apply_scd2, delta_cache, detect_delta,
)

BUCKET_COL = "da_key_bucket"


def key_bucket(cfg: SCD2Config, n_buckets: int) -> F.Column:
    cols = [F.col(k).cast("string") for k in cfg.natural_keys]
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")


def init_partitioned_target(target: DataFrame, path: str, cfg: SCD2Config,
                            n_buckets: int = 64) -> None:
    """Materialize (or re-shard) a target as a bucket-partitioned layout."""
    (target.withColumn(BUCKET_COL, key_bucket(cfg, n_buckets))
     .write.mode("overwrite").partitionBy(BUCKET_COL).parquet(path))


def apply_scd2_partitioned(spark: SparkSession, staging: DataFrame,
                           target_path: str, cfg: SCD2Config,
                           n_buckets: int = 64,
                           load_ts: str | None = None,
                           deterministic_keys: bool = False,
                           incremental: bool = True) -> list[int]:
    """SCD2 apply rewriting ONLY the buckets whose keys actually
    changed (I/U/PD). Returns the list of bucket ids rewritten.

    Two-phase, the MERGE-on-parquet pattern (Delta Lake does the same
    with files instead of buckets): a cheap classification join over
    keys+hashes finds the changed keys; their bucket set prunes both
    the payload read and the rewrite. NC-only buckets are never
    rewritten — in either mode.

    Read scope of the classification: ``incremental=True`` (partial
    feed, no deletes) only needs target currents in the STAGING
    buckets; snapshot-compare (``incremental=False``) must see every
    current row, because a deleted key's bucket may hold no staging
    rows at all — classification reads all currents (keys and hash
    inputs only), but the rewrite still touches just changed buckets."""
    stg = staging.withColumn(BUCKET_COL, key_bucket(cfg, n_buckets))
    full_target = spark.read.parquet(target_path)

    # phase 1: classify (keys + delta hash only — the narrow join)
    if incremental:
        stg_buckets = sorted(
            r[BUCKET_COL] for r in stg.select(BUCKET_COL).distinct().collect())
        if not stg_buckets:
            return []
        class_scope = full_target.filter(F.col(BUCKET_COL).isin(stg_buckets))
    else:
        class_scope = full_target
    current = class_scope.filter(F.col(cfg.current_flag) == "Y").drop(BUCKET_COL)
    delta = detect_delta(staging, current, cfg, incremental=incremental)
    buckets = sorted(
        r[BUCKET_COL]
        for r in delta.filter(F.col("upsert_cd") != "NC")
        .select(key_bucket(cfg, n_buckets).alias(BUCKET_COL))
        .distinct().collect())
    if not buckets:
        return []

    # GLOBAL high-water marks: slice-local maxima would collide with
    # surrogate keys living in unread buckets. Parquet column stats make
    # this a metadata-mostly scan.
    hw = full_target.agg(
        F.coalesce(F.max(F.col(cfg.ak_col)), F.lit(0)),
        F.coalesce(F.max(F.col(cfg.key_col)), F.lit(0)),
    ).first()

    # phase 2: full SCD2 apply restricted to changed buckets. The bucket
    # function partitions keys consistently on both sides, so the
    # sub-slice classification agrees with phase 1 restricted to it.
    target_slice = (
        full_target
        .filter(F.col(BUCKET_COL).isin(buckets))  # partition pruning
        .drop(BUCKET_COL)
    )
    stg_slice = stg.filter(F.col(BUCKET_COL).isin(buckets)).drop(BUCKET_COL)
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        with delta_cache() as cache:
            new_slice = apply_scd2(stg_slice, target_slice, cfg,
                                   load_ts=load_ts,
                                   deterministic_keys=deterministic_keys,
                                   incremental=incremental,
                                   high_water=(int(hw[0]), int(hw[1])),
                                   cache=cache)
            (new_slice.withColumn(BUCKET_COL, key_bucket(cfg, n_buckets))
             .write.mode("overwrite").partitionBy(BUCKET_COL)
             .parquet(target_path))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    return buckets


def read_partitioned_target(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop(BUCKET_COL)
