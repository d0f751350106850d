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
  UNIQUE and > the previous high-water mark; ``build`` mints them dense
  and in natural-key order with ``dense_rank_distributed`` — a range
  shuffle plus per-partition offsets, no single-partition sort — so the
  same batch always gets the same keys.

Scale design: the full outer join shuffles on the natural key — bucket
staging and target by the natural key in real deployments and it becomes
a zero-shuffle sort-merge join; AQE skew handling splits hot keys. The
hash keeps the compare O(1)-width regardless of payload width. The build
reads the target once, left-joined with the U/PD keys (copy-on-write MERGE).
"""

from __future__ import annotations

import contextlib
import os
import sys
import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.functions.hashing import delta_hash

FAR_FUTURE = "3000-01-01 00:00:00"
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
    ``upsert_cd`` ∈ {I, U, NC, PD} plus the key columns.

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
    stg = staging.select(
        *cfg.natural_keys, delta_hash(dcols).alias("_stg_hash")
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
    )


def dense_rank_distributed(df: DataFrame, order_cols: list[str],
                           rank_col: str = "_rank") -> DataFrame:
    """Global dense 1..N numbering by ``order_cols`` WITHOUT a
    single-partition sort: range-repartition on the keys, sort within
    each partition, number each row from ``monotonically_increasing_id``
    (partition index in the upper 31 bits, row position in the lower
    33) and add driver-computed partition offsets (the zipWithIndex
    pattern, DataFrame-native). Each task sorts only its slice; the
    driver folds the O(partitions) offsets into the plan as a literal
    map, and no second shuffle regroups the rows by partition. Ties
    across a range boundary get an arbitrary-but-valid order — same
    contract as a global ROW_NUMBER over non-unique keys.

    The sorted range partitions have two consumers (the offset count
    and the final numbering); they are ``localCheckpoint``ed rather
    than ``persist``ed so the materialized copy is RELEASED by the
    context cleaner once unreferenced — a ``persist`` here would pin
    one SQL cache entry per call forever, a real leak on the
    per-micro-batch streaming SCD2 path. The numbering reads the
    checkpoint directly, so each row's partition index is its range
    partition's.

    The INPUT is also checkpointed first: ``repartitionByRange`` runs a
    sampling job to pick range bounds, which would otherwise evaluate
    the upstream plan twice (sample + shuffle) — for an expensive
    upstream (the SCD2 full-outer delta feeding the key mint) that
    doubled the whole query. Both checkpoints hold only the narrow
    numbered projection, not the upstream plan.
    """
    spark = df.sparkSession
    narrow = df.localCheckpoint()
    # size the range shuffle from the ACTUAL row count (free: narrow is
    # already materialized): ~250k rows per range keeps task sort memory
    # bounded at any scale, and a small insert set collapses to 2 tasks
    # instead of paying shuffle_partitions-many task launches across the
    # sampling/count/number jobs that follow.
    n_rows = narrow.count()
    cap = max(2, int(spark.conf.get("spark.sql.shuffle.partitions")))
    n_parts = max(2, min(cap, -(-n_rows // 250_000)))
    staged = (narrow.repartitionByRange(n_parts, *order_cols)
              .sortWithinPartitions(*order_cols)
              .localCheckpoint())
    counts = {r["pid"]: r["cnt"] for r in
              staged.groupBy(F.spark_partition_id().alias("pid"))
              .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    # partition offsets as a literal map: O(partitions) entries folded
    # into the plan, so no offset table, join, job or Python worker
    off, pairs = 0, []
    for pid in sorted(counts):
        pairs += [F.lit(pid), F.lit(off).cast("long")]
        off += counts[pid]
    row_id = F.col("_dr_id")
    offset = (F.create_map(*pairs)[F.shiftright(row_id, 33).cast("int")]
              if pairs else F.lit(0).cast("long"))
    return (staged.withColumn("_dr_id", F.monotonically_increasing_id())
            .withColumn(rank_col,
                        row_id.bitwiseAND(2**33 - 1) + 1 + offset)
            .drop("_dr_id"))


def classify(staging: DataFrame, target: DataFrame, cfg: SCD2Config,
             incremental: bool = False,
             cache: list[DataFrame] | None = None) -> DataFrame:
    """``detect_delta`` against ``target``'s current rows minus NC (nothing
    reads it), persisted (the reference's temp-table CTAS, :140-155) into
    ``cache`` (from ``delta_cache``) if given; ``build`` and txlog share it."""
    current = target.filter(F.col(cfg.current_flag) == "Y")
    delta = (detect_delta(staging, current, cfg, incremental=incremental)
             .filter(F.col("upsert_cd") != "NC").persist())
    if cache is not None:
        cache.append(delta)
    return delta


def build(staging: DataFrame, target: DataFrame, delta: DataFrame,
          cfg: SCD2Config, load_ts: str | None = None,
          high_water: tuple[int, int] | None = None) -> DataFrame:
    """The COMPLETE new target state from ``delta``, in ONE target scan:

    new_target = target LEFT JOIN U/PD keys (one row per key): matched
                 current rows closed out (flag 'N', valid_to/updated_at
                 = load_ts, deleted flag 'Y' for PD — reference CASE at
                 :198-201), every other row as-is
               ∪ new versions for I/U keys (payload from staging,
                 minted surrogate keys, far-future valid_to — reference
                 insert select :250-304)

    ``staging``/``target`` may be slices holding every changed key.
    ``load_ts`` is captured once per batch (reference SYSTIMESTAMP,
    frozen here for determinism — SURVEY §2.7 F8).
    """
    ts = F.lit(load_ts).cast("timestamp") if load_ts else F.current_timestamp()
    nk = cfg.natural_keys

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

    # one row per closed key, a semi join for inserts: a repeated key duplicates nothing
    closing = (delta.filter(F.col("upsert_cd").isin("U", "PD"))
               .select(*nk, F.col("upsert_cd").alias("_cd")).dropDuplicates(nk))
    close = (F.col(cfg.current_flag) == "Y") & F.col("_cd").isNotNull()
    rewrite = {cfg.current_flag: F.lit("N"), cfg.valid_to: ts, cfg.updated_at: ts,
               cfg.deleted_flag: F.when(F.col("_cd") == "PD", F.lit("Y"))
               .otherwise(F.col(cfg.deleted_flag))}
    kept = target.join(closing, nk, "left").select(*[
        F.when(close, rewrite[c]).otherwise(F.col(c)).alias(c)
        if c in rewrite else F.col(c) for c in target.columns])

    payload_cols = [c for c in staging.columns
                    if c.lower() not in {x.lower() for x in cfg.exclude_from_load}]
    inserts_src = staging.select(*payload_cols).join(
        delta.filter(F.col("upsert_cd").isin("I", "U")).select(*nk), nk, "left_semi")
    # both surrogate columns from ONE numbering pass (the same rank
    # offset by each high-water mark) — halves the minting work versus
    # two independent allocations
    inserts = (
        dense_rank_distributed(inserts_src, nk, "_sk_rank")
        .withColumn(cfg.key_col, (F.col("_sk_rank") + F.lit(hw_key)).cast("decimal(18,0)"))
        .withColumn(cfg.ak_col, (F.col("_sk_rank") + F.lit(hw_ak)).cast("decimal(18,0)"))
        .drop("_sk_rank")
        .withColumn(cfg.current_flag, F.lit("Y"))
        .withColumn(cfg.deleted_flag, F.lit("N"))
        .withColumn(cfg.valid_from, ts)
        .withColumn(cfg.valid_to, F.lit(FAR_FUTURE).cast("timestamp"))
        .withColumn(cfg.inserted_at, ts)
        .withColumn(cfg.updated_at, ts)
    )

    target_cols = target.columns
    # schema-equality gate before the final union (reference
    # Delta_detection_query_gen.py:312-316)
    missing = set(c.lower() for c in target_cols) - set(c.lower() for c in inserts.columns)
    if missing:
        raise ValueError(f"insert select is missing target columns: {sorted(missing)}")

    return kept.unionByName(inserts.select(*target_cols))


def apply_scd2(staging: DataFrame, target: DataFrame, cfg: SCD2Config,
               load_ts: str | None = None,
               incremental: bool = False,
               cache: list[DataFrame] | None = None) -> DataFrame:
    """Full SCD2 apply, ``build(classify(...))``: returns the COMPLETE
    new target state (formula at ``build``; ``cache`` at ``classify``)."""
    delta = classify(staging, target, cfg, incremental=incremental, cache=cache)
    return build(staging, target, delta, cfg, load_ts=load_ts)
