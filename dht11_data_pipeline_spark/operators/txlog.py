"""Manifest-based transaction log for parquet tables — atomic
multi-bucket commits, snapshot isolation, and time travel without an
external table format.

Why: the bucket-partitioned SCD2 apply (scd2_partitioned.py) commits
per partition directory, so a crash mid-write can expose some buckets
at the new state and others at the old; and a reader holding a lazy
DataFrame over the target breaks when a swap deletes the files under
it (the swap_target FILE_NOT_EXIST hazard). Both are solved the way
Delta Lake / Iceberg solve them: DATA FILES ARE IMMUTABLE, and the
only mutable thing is a tiny manifest naming the live files. Commit =
one atomic manifest rename; readers resolve a manifest once and keep a
consistent snapshot no matter what commits afterwards.

Layout:
    <table>/data/commit-<n>/<bucket-col>=<id>/*.parquet   (immutable)
    <table>/_txlog/v<n>.json     manifest: bucket id -> commit dir
    <table>/_txlog/v<n>.json.tmp staged then os.rename'd (atomic POSIX)

A manifest maps every bucket to the commit directory holding its
current rows, so a commit that rewrites buckets {3, 17} publishes a
manifest where those two entries point at the new commit dir and every
other entry is carried over — old readers keep old files, new readers
see the complete new state, and a crash before the rename leaves the
table at the previous version with some orphaned (never-referenced)
data files for vacuum to collect.

At 100 TB the manifest is O(buckets) — kilobytes — and commit cost is
independent of table size. The same design scales to file-level
manifests (what Iceberg does); bucket grain keeps it readable here.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from dht11_data_pipeline_spark.operators.scd2 import (
    SCD2Config, apply_scd2, delta_cache, detect_delta,
)
from dht11_data_pipeline_spark.operators.scd2_partitioned import (
    BUCKET_COL, key_bucket,
)

from pyspark.sql import functions as F


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_txlog")


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_log_dir(table_dir), f"v{version:08d}.json")


def current_version(table_dir: str) -> int | None:
    """Latest committed version, or None for an uninitialized table."""
    d = _log_dir(table_dir)
    if not os.path.isdir(d):
        return None
    versions = [int(f[1:9]) for f in os.listdir(d)
                if f.startswith("v") and f.endswith(".json")]
    return max(versions) if versions else None


def read_manifest(table_dir: str, version: int | None = None) -> dict:
    v = current_version(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version in {table_dir}")
    with open(_manifest_path(table_dir, v)) as fh:
        return json.load(fh)


def _commit(table_dir: str, manifest: dict,
            base_version: int | None = None) -> int:
    """Atomically publish ``manifest`` as the version after
    ``base_version`` (default: the latest on disk at call time).
    Optimistic concurrency in the Delta style: the fully-written
    manifest is published with ``os.link`` — one syscall that both
    creates the version file WITH its content (no empty-file crash
    window) and fails if a concurrent committer already took the
    number. A conflict means the caller's snapshot is stale; it must
    re-run its transaction against the new latest version (blind retry
    here would silently drop the winner's bucket updates)."""
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    if base_version is None:
        base_version = current_version(table_dir) or 0
    v = base_version + 1
    manifest = {**manifest, "version": v, "committed_at": time.time()}
    target = _manifest_path(table_dir, v)
    tmp = target + f".tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, target)  # atomic create-with-content + exclusivity
    except FileExistsError:
        os.unlink(tmp)
        raise RuntimeError(
            f"concurrent commit detected at version {v} in {table_dir}; "
            "re-run the transaction against the latest snapshot") from None
    os.unlink(tmp)
    return v


def _commit_dir_name(version: int) -> str:
    """Unique per writer+attempt: two committers racing toward the same
    version number must never share a data directory (the loser's
    mode-overwrite write would destroy the winner's committed files —
    the manifest conflict alone can't protect a shared path)."""
    return f"commit-{version:08d}-{os.getpid()}-{int(time.time() * 1000)}"


def init_table(df: DataFrame, table_dir: str, cfg: SCD2Config,
               n_buckets: int = 64) -> int:
    """Materialize ``df`` as version 1 of a logged, bucket-partitioned
    table."""
    name = _commit_dir_name(1)
    commit_dir = os.path.join(table_dir, "data", name)
    (df.withColumn(BUCKET_COL, key_bucket(cfg, n_buckets))
     .write.mode("overwrite").partitionBy(BUCKET_COL).parquet(commit_dir))
    written = {int(d.split("=", 1)[1])
               for d in os.listdir(commit_dir) if d.startswith(f"{BUCKET_COL}=")}
    buckets = {str(b): f"data/{name}/{BUCKET_COL}={b}" for b in written}
    return _commit(table_dir, {"n_buckets": n_buckets, "buckets": buckets},
                   base_version=0)


def read_table(spark: SparkSession, table_dir: str,
               version: int | None = None) -> DataFrame:
    """Snapshot read at ``version`` (default: latest). The returned
    DataFrame stays valid even if the table commits afterwards — data
    files are immutable and vacuum retains recent versions."""
    m = read_manifest(table_dir, version)
    return _read_bucket_paths(spark, table_dir,
                              sorted(m["buckets"].values()))


def _read_bucket_paths(spark: SparkSession, table_dir: str,
                       rel_paths: list[str]) -> DataFrame:
    """Read bucket directories directly — no partition inference (the
    commit-level dir isn't key=value, and the bucket id is always
    derivable from the natural keys via key_bucket, so the path-encoded
    value is never needed)."""
    if not rel_paths:
        raise ValueError(f"empty table manifest in {table_dir}")
    paths = [os.path.join(table_dir, p) for p in rel_paths]
    return spark.read.parquet(*paths)


def apply_scd2_logged(spark: SparkSession, staging: DataFrame,
                      table_dir: str, cfg: SCD2Config,
                      load_ts: str | None = None,
                      deterministic_keys: bool = False,
                      incremental: bool = True) -> int:
    """SCD2 apply as ONE atomic commit: classify changed keys, write
    the changed buckets' new state to an immutable commit dir, publish
    a manifest pointing those buckets at it (all other buckets carry
    their existing dirs). Crash anywhere before the final rename leaves
    version N fully intact; readers of any version never see a mix.

    Returns the committed version (current version if no keys changed).
    """
    m = read_manifest(table_dir)
    n_buckets = int(m["n_buckets"])
    target = read_table(spark, table_dir)

    stg = staging.withColumn(BUCKET_COL, key_bucket(cfg, n_buckets))
    current = target.filter(F.col(cfg.current_flag) == "Y")
    delta = detect_delta(staging, current, cfg, incremental=incremental)
    changed = sorted(
        r[BUCKET_COL]
        for r in delta.filter(F.col("upsert_cd") != "NC")
        .select(key_bucket(cfg, n_buckets).alias(BUCKET_COL))
        .distinct().collect())
    if not changed:
        return int(m["version"])

    hw = target.agg(
        F.coalesce(F.max(F.col(cfg.ak_col)), F.lit(0)),
        F.coalesce(F.max(F.col(cfg.key_col)), F.lit(0)),
    ).first()
    # payload read touches ONLY the changed buckets' directories
    changed_rel = [m["buckets"][str(b)] for b in changed
                   if str(b) in m["buckets"]]
    tgt_slice = (_read_bucket_paths(spark, table_dir, changed_rel)
                 if changed_rel else target.limit(0))
    stg_slice = stg.filter(F.col(BUCKET_COL).isin(changed)).drop(BUCKET_COL)
    next_v = int(m["version"]) + 1
    commit_name = _commit_dir_name(next_v)
    commit_dir = os.path.join(table_dir, "data", commit_name)
    with delta_cache() as cache:
        new_slice = apply_scd2(stg_slice, tgt_slice, cfg, load_ts=load_ts,
                               deterministic_keys=deterministic_keys,
                               incremental=incremental,
                               high_water=(int(hw[0]), int(hw[1])),
                               cache=cache)
        (new_slice.withColumn(BUCKET_COL, key_bucket(cfg, n_buckets))
         .write.mode("overwrite").partitionBy(BUCKET_COL).parquet(commit_dir))
    written = {int(d.split("=", 1)[1])
               for d in os.listdir(commit_dir) if d.startswith(f"{BUCKET_COL}=")}

    buckets = dict(m["buckets"])
    for b in changed:
        key = str(b)
        if b in written:
            buckets[key] = f"data/{commit_name}/{BUCKET_COL}={b}"
        else:
            # bucket emptied (e.g. all rows deleted AND history empty)
            buckets.pop(key, None)
    # base pinned to the snapshot this transaction READ: a committer
    # working off a stale manifest must conflict, not clobber
    return _commit(table_dir, {"n_buckets": n_buckets, "buckets": buckets},
                   base_version=int(m["version"]))


def change_feed(spark: SparkSession, table_dir: str,
                from_version: int, to_version: int | None = None) -> DataFrame:
    """Row-level change feed between two committed versions (the
    Delta/Iceberg CDF shape): every row removed since ``from_version``
    comes back with ``_change_type='delete'``, every row added with
    ``'insert'`` (an SCD2 close-out therefore appears as the old
    current row deleted + its flag-'N' replacement inserted, plus the
    new 'Y' version inserted — exactly the events a downstream
    consumer replays).

    Cost is O(changed buckets): the manifests name which bucket dirs
    differ, so unchanged buckets are never read — at 100 TB a
    small-batch commit's feed reads megabytes, not the table. The
    full-row EXCEPT is exact because data files are immutable and both
    snapshots resolve independently."""
    m_from = read_manifest(table_dir, from_version)
    m_to = read_manifest(table_dir, to_version)
    changed_keys = ({k for k in m_from["buckets"]
                     if m_to["buckets"].get(k) != m_from["buckets"][k]}
                    | {k for k in m_to["buckets"]
                       if k not in m_from["buckets"]})
    if not changed_keys:
        schema_src = read_table(spark, table_dir, from_version).limit(0)
        return schema_src.withColumn("_change_type", F.lit("insert")).limit(0)
    old_paths = sorted(m_from["buckets"][k] for k in changed_keys
                       if k in m_from["buckets"])
    new_paths = sorted(m_to["buckets"][k] for k in changed_keys
                       if k in m_to["buckets"])
    empty = read_table(spark, table_dir, from_version).limit(0)
    old = (_read_bucket_paths(spark, table_dir, old_paths)
           if old_paths else empty)
    new = (_read_bucket_paths(spark, table_dir, new_paths)
           if new_paths else empty)
    deletes = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
    inserts = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
    return deletes.unionByName(inserts)


def vacuum(table_dir: str, retain_versions: int = 2) -> list[str]:
    """Delete commit dirs referenced by NO retained manifest, and
    manifests older than the retained window. Returns removed paths.
    Readers of retained versions are unaffected (their files live);
    pinning older versions requires a larger ``retain_versions``."""
    import shutil

    latest = current_version(table_dir)
    if latest is None:
        return []
    keep_versions = [v for v in range(max(1, latest - retain_versions + 1),
                                      latest + 1)
                     if os.path.exists(_manifest_path(table_dir, v))]
    live_dirs: set[str] = set()
    for v in keep_versions:
        m = read_manifest(table_dir, v)
        for rel in m["buckets"].values():
            live_dirs.add(rel.split("/" + BUCKET_COL + "=", 1)[0])
    removed = []
    data_root = os.path.join(table_dir, "data")
    for d in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
        rel = f"data/{d}"
        if rel not in live_dirs:
            shutil.rmtree(os.path.join(data_root, d))
            removed.append(rel)
    for f in sorted(os.listdir(_log_dir(table_dir))):
        if f.startswith("v") and f.endswith(".json"):
            if int(f[1:9]) < keep_versions[0]:
                os.unlink(os.path.join(_log_dir(table_dir), f))
                removed.append(f"_txlog/{f}")
    return removed
