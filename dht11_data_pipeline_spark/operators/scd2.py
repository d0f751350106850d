"""SCD2 historization — the reference's crown jewel, rebuilt Spark-first.

Reference semantics (all in /root/reference/Delta_detection_query_gen.py):
- delta columns discovered as source-cols − natural-keys − exclusions (:161-173)
- content hash = SHA256 over normalized column concat (:42-44,66,77)
- FULL OUTER JOIN staging×target-current on the natural key, classify
  each row I / U / NC (plus PD for physical deletes) (:46-59,83-102)
- temp-table materialization of the delta (:140-155) → ``classify``
  `.persist()`s it instead (read by ``build``'s branches and by txlog)
- MERGE closes changed rows (da_current_flag='N', valid_to=now) (:187-213)
- INSERT opens new versions with surrogate keys minted as
  max + ROW_NUMBER() OVER (ORDER BY <const>) (:250-296)

Differences, deliberate and documented:
- The reference's MERGE-then-INSERT is two separate commits — a crash
  between them loses rows (SURVEY §7.4.2). We build the complete new
  target state as ONE DataFrame (target with U/PD rows closed ∪ new)
  and the caller publishes it in one atomic step (a txlog manifest
  commit; the streaming sink's staged swap) — same end state, no
  crash window.
- The reference's surrogate allocator sorts every insert row into one
  partition (ORDER BY a constant). Downstream only relies on keys being
  UNIQUE and > the previous high-water mark. ``classify`` numbers each
  I/U row inside its persisted delta, within a fixed mint partition
  (``key_bucket(cfg, MINT_PARTS)``) by (natural key, content hash);
  ``build`` adds that partition's offset (prefix sums of per-partition
  insert counts) and the high-water mark. Keys are dense, and the same
  batch always gets the same keys, with no global sort, no checkpoint
  and no Spark job of the mint's own.

Scale design: the full outer join shuffles on the natural key — bucket
staging and target by the natural key in real deployments and it becomes
a zero-shuffle sort-merge join; AQE skew handling splits hot keys. The
hash keeps the compare O(1)-width regardless of payload width. The build
reads the target once, left-joined with the U/PD keys (copy-on-write MERGE).
"""

from __future__ import annotations

import contextlib
import itertools
import os
import sys
import warnings
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.functions.hashing import delta_hash
from dht11_data_pipeline_spark.operators.scd2_partitioned import key_bucket

FAR_FUTURE = "3000-01-01 00:00:00"
# key-mint partitions: fixed, so a table's n_buckets never changes its
# keys. classify's rank window is keyed on (mint partition, PD flag), so
# its exchange has at most 2 * MINT_PARTS non-empty tasks whatever the
# batch or cluster size; raising it changes every key minted after.
MINT_PARTS = 64
_PKG_DIR = os.path.dirname(os.path.dirname(__file__)) + os.sep


@contextlib.contextmanager
def delta_cache():
    """Yields the list to pass as ``apply_scd2(cache=...)`` and
    unpersists what it holds when the block exits. Put the apply AND
    the write or commit that consumes its result inside the block: the
    cached delta serves that write and must not outlive it (one leaked
    SQL cache entry per micro-batch otherwise)."""
    held: list[DataFrame] = []
    try:
        yield held
    finally:
        for df in held:
            df.unpersist()


@dataclass
class SCD2Config:
    """Historization parameters — mirrors the reference's runtime params
    (historization_module.py:72-83 / Airflow-DAG.py:532-548)."""

    natural_keys: list[str]
    ak_col: str = "hist_ak"
    key_col: str = "hist_key"
    exclude_from_delta: list[str] = field(default_factory=list)
    exclude_from_load: list[str] = field(default_factory=list)
    current_flag: str = "da_current_flag"
    deleted_flag: str = "da_deleted_flag"
    valid_from: str = "da_valid_from_date"
    valid_to: str = "da_valid_to_date"
    inserted_at: str = "da_inserted_datetime"
    updated_at: str = "da_updated_datetime"

    def audit_cols(self) -> list[str]:
        return [self.ak_col, self.key_col, self.current_flag, self.deleted_flag,
                self.valid_from, self.valid_to, self.inserted_at, self.updated_at]


def delta_columns(staging: DataFrame, cfg: SCD2Config) -> list[str]:
    """Metadata-driven delta-column discovery: source columns minus
    natural keys minus exclusions, sorted for hash stability (reference
    catalog scan + ORDER BY COLUMN_NAME, Delta_detection_query_gen.py:161-173).
    Schema drift caveat: a new source column changes every row's hash →
    mass 'U' on the next run. Same behavior as the reference; callers
    get the discovered list back so they can warn."""
    drop = {c.lower() for c in cfg.natural_keys}
    drop |= {c.lower() for c in cfg.exclude_from_delta}
    drop |= {c.lower() for c in cfg.exclude_from_load}
    return sorted(c for c in staging.columns if c.lower() not in drop)


def _warn_on_schema_drift(staging_dcols: list[str], target: DataFrame,
                          cfg: SCD2Config) -> None:
    """SURVEY §7.4 risk 6: metadata-driven column discovery silently
    absorbs new/renamed source columns into the delta hash, flipping
    every row to 'U' on the next run (the reference has the same
    behavior and no warning). We keep the behavior — it is what makes
    the module generic — but surface it."""
    audit = {c.lower() for c in cfg.audit_cols()}
    keys = {c.lower() for c in cfg.natural_keys}
    # drop the exclusion lists on the target side too: an excluded column
    # legitimately present on the target must not warn on every run
    excl = ({c.lower() for c in cfg.exclude_from_delta}
            | {c.lower() for c in cfg.exclude_from_load})
    tgt_dcols = sorted(c for c in target.columns
                       if c.lower() not in audit | keys | excl)
    if [c.lower() for c in staging_dcols] != [c.lower() for c in tgt_dcols]:
        added = set(c.lower() for c in staging_dcols) - set(tgt_dcols)
        gone = set(tgt_dcols) - set(c.lower() for c in staging_dcols)
        warnings.warn(
            "SCD2 delta-column drift between staging and target "
            f"(added={sorted(added)}, missing={sorted(gone)}): every "
            "existing row's hash changes — expect a full-table 'U' wave "
            "this run. Align schemas or extend exclude_from_delta.",
            stacklevel=_caller_stacklevel())


def _caller_stacklevel() -> int:
    """``warnings.warn`` stack level, from the function calling this
    one, of the first frame outside this package."""
    frame, level = sys._getframe(1), 1
    while frame is not None and frame.f_code.co_filename.startswith(_PKG_DIR):
        frame, level = frame.f_back, level + 1
    return level


def detect_delta(staging: DataFrame, target_current: DataFrame,
                 cfg: SCD2Config, incremental: bool = False) -> DataFrame:
    """Hash-based delta detection (reference phase 1, the composed FULL
    OUTER JOIN query at Delta_detection_query_gen.py:87-102).

    Returns one row per natural key seen on either side with
    ``upsert_cd`` ∈ {I, U, NC, PD}, the key columns, and the staging
    row's other columns and content hash ``_stg_hash`` (null on PD).

    ``incremental=True`` switches to incremental-batch semantics: the
    staging set is a partial feed (only keys that arrived this batch),
    so a key absent from staging means "no news", never a delete — the
    join becomes a LEFT join from staging and PD is never emitted.
    This is the correct mode for streaming micro-batches
    (streaming/historize.py); the default full-outer/PD mode matches
    the reference's snapshot-compare (which can classify deletes).
    """
    dcols = delta_columns(staging, cfg)
    _warn_on_schema_drift(dcols, target_current, cfg)
    rest = [c for c in staging.columns if c not in cfg.natural_keys]
    stg = staging.select(
        *cfg.natural_keys, *rest, delta_hash(dcols).alias("_stg_hash")
    ).alias("stg")
    # drift tolerance: a staging-only column hashes as null ('') on the
    # target side — the run proceeds (with the warning above) instead of
    # failing resolution; existing rows re-hash => the documented 'U' wave
    tgt_cols = {c.lower() for c in target_current.columns}
    tgt_hash_inputs = [
        F.col(c) if c.lower() in tgt_cols else F.lit(None).cast("string")
        for c in dcols
    ]
    tgt = target_current.select(
        *cfg.natural_keys, delta_hash(tgt_hash_inputs).alias("_tgt_hash")
    ).alias("tgt")

    cond = None
    for k in cfg.natural_keys:
        c = F.col(f"stg.{k}").eqNullSafe(F.col(f"tgt.{k}"))
        cond = c if cond is None else cond & c

    joined = stg.join(tgt, cond, "left_outer" if incremental else "full_outer")
    first_key = cfg.natural_keys[0]
    upsert = (
        F.when(F.col(f"tgt.{first_key}").isNull(), F.lit("I"))
        .when(F.col(f"stg.{first_key}").isNull(), F.lit("PD"))
        .when(F.col("_stg_hash") != F.col("_tgt_hash"), F.lit("U"))
        .otherwise(F.lit("NC"))
    )
    return joined.select(
        *[F.coalesce(F.col(f"stg.{k}"), F.col(f"tgt.{k}")).alias(k)
          for k in cfg.natural_keys],
        upsert.alias("upsert_cd"),
        *[F.col(f"stg.{c}") for c in rest], "_stg_hash",
    )


def int_map(pairs: dict[int, int]) -> Column:
    """``pairs`` as a literal map<int, bigint> column, built from one SQL
    expression: one driver-to-JVM call, not three per entry."""
    return F.expr(f"map({', '.join(f'{k}, {v}L' for k, v in pairs.items())})")


def mint_part(cfg: SCD2Config) -> Column:
    """A row's key-mint partition: a hash of its natural key."""
    return key_bucket(cfg, MINT_PARTS)


def classify(staging: DataFrame, target: DataFrame, cfg: SCD2Config,
             incremental: bool = False, scope: Column | None = None,
             cache: list[DataFrame] | None = None) -> DataFrame:
    """``detect_delta`` against ``target``'s current rows minus NC (nothing
    reads it), persisted (the reference's temp-table CTAS, :140-155) into
    ``cache`` (from ``delta_cache``) if given; ``build`` and txlog share it.
    A ``scope`` (a predicate over target columns) bounds what a snapshot
    covers: current rows outside it are not compared, so none becomes
    PD. Every staging row must lie inside it, or its match outside would
    stay current beside a second current version.
    Each row gains ``_rank``, its row number within its ``mint_part`` by
    natural key, then content hash, counting I/U and PD rows apart (a
    tie is two rows equal in every hashed column).
    """
    current = target.filter((F.col(cfg.current_flag) == "Y")
                            & (F.lit(True) if scope is None else scope))
    by_part = (Window.partitionBy(mint_part(cfg), F.col("upsert_cd") == "PD")
               .orderBy(*cfg.natural_keys, "_stg_hash"))
    delta = (detect_delta(staging, current, cfg, incremental=incremental)
             .filter(F.col("upsert_cd") != "NC")
             .withColumn("_rank", F.row_number().over(by_part)).persist())
    if cache is not None:
        cache.append(delta)
    return delta


def build(target: DataFrame, delta: DataFrame, cfg: SCD2Config,
          load_ts: str | None = None,
          high_water: tuple[int, int] | None = None,
          part_counts: dict[int, int] | None = None) -> DataFrame:
    """The COMPLETE new target state from ``delta``, in ONE target scan:

    new_target = target LEFT JOIN U/PD keys (one row per key): matched
                 current rows closed out (flag 'N', valid_to/updated_at
                 = load_ts, deleted flag 'Y' for PD — reference CASE at
                 :198-201), every other row as-is
               ∪ new versions for the I/U rows of ``delta`` (payload
                 from staging, minted surrogate keys, far-future
                 valid_to — reference insert select :250-304)

    ``target`` may be a slice holding every changed key.
    ``load_ts`` is captured once per batch (reference SYSTIMESTAMP,
    frozen here for determinism — SURVEY §2.7 F8).
    """
    ts = F.lit(load_ts).cast("timestamp") if load_ts else F.current_timestamp()
    nk = cfg.natural_keys
    is_insert = F.col("upsert_cd").isin("I", "U")

    # high-water marks (reference A2 cross-join clause :37-41).
    # ``high_water`` lets callers operating on a SLICE of the target
    # (txlog.apply_scd2_logged, from its manifest stats) pass the
    # GLOBAL maxima — slice-local maxima would mint keys that collide
    # with rows outside the slice.
    if high_water is not None:
        hw_ak, hw_key = high_water
    else:
        hw_row = target.agg(
            F.coalesce(F.max(F.col(cfg.ak_col)), F.lit(0)).alias("ak"),
            F.coalesce(F.max(F.col(cfg.key_col)), F.lit(0)).alias("key"),
        ).first()
        hw_ak, hw_key = int(hw_row["ak"]), int(hw_row["key"])
    # key = high-water + offset of the row's mint partition + its rank
    # there; the offsets (prefix sums of I/U rows per partition, or
    # ``part_counts`` from a caller that already counted them) go into
    # the plan as a literal map
    if part_counts is None:
        part_counts = dict(delta.filter(is_insert).groupBy(mint_part(cfg))
                           .count().collect())
    parts = sorted(part_counts)
    offsets = dict(zip(parts, itertools.accumulate(
        [part_counts[p] for p in parts], initial=0)))
    rank = F.col("_rank") + (int_map(offsets)[mint_part(cfg)] if parts
                             else F.lit(0).cast("long"))

    # one row per closed key: a repeated key duplicates nothing
    closing = (delta.filter(F.col("upsert_cd").isin("U", "PD"))
               .select(*nk, F.col("upsert_cd").alias("_cd")).dropDuplicates(nk))
    close = (F.col(cfg.current_flag) == "Y") & F.col("_cd").isNotNull()
    rewrite = {cfg.current_flag: F.lit("N"), cfg.valid_to: ts, cfg.updated_at: ts,
               cfg.deleted_flag: F.when(F.col("_cd") == "PD", F.lit("Y"))
               .otherwise(F.col(cfg.deleted_flag))}
    kept = target.join(closing, nk, "left").select(*[
        F.when(close, rewrite[c]).otherwise(F.col(c)).alias(c)
        if c in rewrite else F.col(c) for c in target.columns])

    audit = {c.lower(): v for c, v in {
        cfg.key_col: (rank + F.lit(hw_key)).cast("decimal(18,0)"),
        cfg.ak_col: (rank + F.lit(hw_ak)).cast("decimal(18,0)"),
        cfg.current_flag: F.lit("Y"), cfg.deleted_flag: F.lit("N"),
        cfg.valid_from: ts, cfg.valid_to: F.lit(FAR_FUTURE).cast("timestamp"),
        cfg.inserted_at: ts, cfg.updated_at: ts}.items()}
    # schema-equality gate before the final union (reference
    # Delta_detection_query_gen.py:312-316)
    missing = ({c.lower() for c in target.columns} - set(audit)
               - {c.lower() for c in delta.columns})
    if missing:
        raise ValueError(f"insert select is missing target columns: {sorted(missing)}")
    inserts = delta.filter(is_insert).select(*[
        audit[c.lower()].alias(c) if c.lower() in audit else F.col(c)
        for c in target.columns])
    return kept.unionByName(inserts)


def apply_scd2(staging: DataFrame, target: DataFrame, cfg: SCD2Config,
               load_ts: str | None = None,
               incremental: bool = False,
               cache: list[DataFrame] | None = None) -> DataFrame:
    """Full SCD2 apply, ``build(classify(...))``: returns the COMPLETE
    new target state (formula at ``build``; ``cache`` at ``classify``)."""
    delta = classify(staging, target, cfg, incremental=incremental, cache=cache)
    return build(target, delta, cfg, load_ts=load_ts)
