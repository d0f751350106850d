"""Manifest-based transaction log for parquet tables — atomic
multi-bucket commits, snapshot isolation, and time travel without an
external table format.

Why: the batch history table once had two unlogged write modes, both
since removed. A bucket-partitioned apply committed per partition
directory, so a crash mid-write could expose some buckets at the new
state and others at the old. A whole-target swap deleted the target
before renaming the staged copy in, so a crash between the two lost
it, and a reader holding a lazy DataFrame over the target broke when
the swap deleted the files under it (the FILE_NOT_EXIST hazard the
streaming swap_target sink still has). Both are solved the way
Delta Lake / Iceberg solve them: DATA FILES ARE IMMUTABLE, and the
only mutable thing is a tiny manifest naming the live files. Commit =
one atomic manifest rename; readers resolve a manifest once and keep a
consistent snapshot no matter what commits afterwards.

Layout:
    <table>/data/commit-<n>/<bucket-col>=<id>/part-*.parquet  (immutable,
                                 ONE file per bucket slot per commit)
    <table>/_txlog/v<n>.json     manifest (fields below)
    <table>/_txlog/v<n>.json.tmp staged then os.link'd (atomic POSIX)

Version 0 is the create (``init_table``): schema and bucket count, no
data, as a Delta table's first log entry. Every batch after it, the
first included, is an ordinary commit.

Manifest fields:
    n_buckets   bucket count of the key hash (fixed at init)
    buckets     bucket id -> commit dir holding its current rows
    schema      the table's Spark schema (``StructType.jsonValue()``),
                carried forward by every commit
    stats       bucket id -> {"rows": n, "bytes": n, "max": {<ak_col>:
                v, <key_col>: v}} from that bucket's parquet footers and
                file sizes (``max`` is null for an all-null column)

A manifest maps every bucket to the commit directory holding its
current rows, so a commit that rewrites buckets {3, 17} publishes a
manifest where those two entries (and their stats) point at the new
commit dir and every other entry is carried over — old readers keep
old files, new readers see the complete new state, and a crash before
the publish leaves the table at the previous version with some
orphaned (never-referenced) data files for vacuum to collect.

The manifest is the table's metadata, so resolving a snapshot and
committing a batch run no Spark job that only reads metadata: reads
pass the manifest schema (no parquet schema-inference job), the
surrogate-key high-water marks are maxima over ``stats`` (no
high-water max() scan over every bucket of the target), the key-mint
offsets come from the one collect that finds the changed buckets (no
sort, checkpoint or count job of the mint's own), the row count is
a sum over ``stats`` (no count job), and the stats of a commit come
from the footers of the files it just wrote, read on the driver —
O(files written). A commit's write is sized from ``bytes``: bucket b
gets max(1, ceil(est_b / advisory partition size)) hash slots, est_b =
(its rows + the rows the commit inserts) x the table's mean bytes per
row (tiny files over-estimate it), and rows hash-partition on (bucket,
slot) over min(Σ slots, max(defaultParallelism, ceil(Σ est / advisory)))
tasks; with no ``bytes`` yet (version 0), from the staging's parquet
footers. A manifest without ``schema``/``stats`` still reads, with
schema inference; its next commit computes stats from the footers (no
``bytes`` anywhere, no parquet staging: one slot each).

At 100 TB the manifest is O(buckets) — kilobytes — and commit cost is
independent of table size. The same design scales to file-level
manifests (what Iceberg does); bucket grain keeps it readable here.
"""

from __future__ import annotations

import json
import math
import os
import re
import time
from collections import Counter
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dht11_data_pipeline_spark.operators.scd2 import (
    SCD2Config, build, classify, delta_cache, int_map, mint_part,
)
from dht11_data_pipeline_spark.operators.scd2_partitioned import (
    BUCKET_COL, key_bucket,
)


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


def _bucket_stats(bucket_dir: str, cols: list[str]) -> dict:
    """Rows, file bytes and the maxima of the integer columns ``cols``
    over one bucket directory, from the parquet footers and sizes of its
    files — read on the driver, no Spark job. ``max_raw`` rather than
    ``max``: pyarrow cannot convert the statistics of an INT64-backed
    decimal(18,0) (the surrogate-key type) but returns its raw integer."""
    rows, size, maxima = 0, 0, dict.fromkeys(cols)
    for f in sorted(os.listdir(bucket_dir)):
        if not f.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(bucket_dir, f))
        rows += md.num_rows
        size += os.path.getsize(os.path.join(bucket_dir, f))
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in cols:
                chunk = rg.column(names.index(c))
                st = chunk.statistics
                if st is None or not st.has_min_max:
                    if st is None or st.null_count < chunk.num_values:
                        raise ValueError(
                            f"{bucket_dir}/{f}: no max statistic for {c}")
                    continue  # all-null chunk
                v = st.max_raw
                maxima[c] = v if maxima[c] is None else max(maxima[c], v)
    return {"rows": rows, "bytes": size, "max": maxima}


def _live_stats(table_dir: str, m: dict, cols: list[str]) -> dict:
    """The manifest's per-bucket stats for every live bucket. A bucket
    without an entry (a manifest written before stats existed) gets
    its stats from the footers of its files."""
    have = m.get("stats", {})
    return {b: have[b] if b in have
            else _bucket_stats(os.path.join(table_dir, rel), cols)
            for b, rel in m["buckets"].items()}


def table_rows(table_dir: str, version: int | None = None) -> int:
    """Row count of a snapshot, summed from the manifest — no Spark
    job."""
    m = read_manifest(table_dir, version)
    return sum(s["rows"] for s in _live_stats(table_dir, m, []).values())


def _staging_bytes_per_row(staging: DataFrame) -> float:
    """Mean bytes per row of ``staging``'s parquet input files, from
    their footers on the driver (no Spark job); 0 without any. As the
    width of a first load's table it errs low (audit columns, a footer
    per bucket file): 5k-20k readings took 7.8-7.9 B/row as staging and
    72-32 B/row as the 64-bucket history."""
    rows = size = 0
    for uri in staging.inputFiles():
        if uri.startswith("file:") and uri.endswith(".parquet"):
            path = unquote(urlparse(uri).path)
            rows += pq.read_metadata(path).num_rows
            size += os.path.getsize(path)
    return size / max(1, rows)


def _write_buckets(df: DataFrame, table_dir: str, commit_name: str,
                   cfg: SCD2Config, n_buckets: int,
                   sizes: dict) -> tuple[dict, dict]:
    """Write ``df`` bucket-partitioned under a new commit dir; returns
    (bucket id -> rel dir, bucket id -> footer stats) for the buckets
    written. ``sizes`` (bucket id -> estimated bytes) sizes it:
    see the module docstring."""
    commit_dir = os.path.join(table_dir, "data", commit_name)
    spark = df.sparkSession
    num, unit = re.fullmatch(r"(\d+)([kmgtp]?)b?", spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes").strip().lower()).groups()
    adv = int(num) * 1024 ** " kmgtp".index(unit or " ")
    slots = {b: max(1, math.ceil(n / adv)) for b, n in sizes.items()}
    n_tasks = min(sum(slots.values()), max(spark.sparkContext.defaultParallelism,
                                           math.ceil(sum(sizes.values()) / adv)))
    # literal map of slot counts; murmur3 keeps slots independent of buckets
    slot = F.pmod(F.hash(*cfg.natural_keys), int_map(slots)[F.col(BUCKET_COL)])
    df = (df.withColumn(BUCKET_COL, key_bucket(cfg, n_buckets))
          .repartition(n_tasks, BUCKET_COL, slot))
    df.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(commit_dir)
    cols = [cfg.ak_col, cfg.key_col]
    buckets, stats = {}, {}
    for d in os.listdir(commit_dir):
        if d.startswith(f"{BUCKET_COL}="):
            b = str(int(d.split("=", 1)[1]))
            buckets[b] = f"data/{commit_name}/{d}"
            stats[b] = _bucket_stats(os.path.join(commit_dir, d), cols)
    return buckets, stats


def init_table(table_dir: str, schema: StructType,
               n_buckets: int = 64) -> int:
    """Create a logged, bucket-partitioned table as version 0: the
    schema and bucket count, no data file, no Spark job."""
    return _commit(table_dir, {"n_buckets": n_buckets, "buckets": {},
                               "schema": schema.jsonValue(), "stats": {}},
                   base_version=-1)


def read_table(spark: SparkSession, table_dir: str,
               version: int | None = None) -> DataFrame:
    """Snapshot read at ``version`` (default: latest). The returned
    DataFrame stays valid even if the table commits afterwards — data
    files are immutable and vacuum retains recent versions."""
    m = read_manifest(table_dir, version)
    return _read_bucket_paths(spark, table_dir,
                              sorted(m["buckets"].values()), m.get("schema"))


def _read_bucket_paths(spark: SparkSession, table_dir: str,
                       rel_paths: list[str],
                       schema: dict | None = None) -> DataFrame:
    """Read bucket directories directly — no partition inference (the
    commit-level dir isn't key=value, and the bucket id is always
    derivable from the natural keys via key_bucket, so the path-encoded
    value is never needed). ``schema`` (the manifest's) skips the
    parquet schema-inference job and reads no path as an empty frame."""
    struct = None if schema is None else StructType.fromJson(schema)
    if not rel_paths:
        if struct is None:
            raise ValueError(f"empty table manifest in {table_dir}")
        # limit(0): an empty LocalRelation, which the optimizer prunes
        # joins against; createDataFrame alone is an opaque RDD scan
        return spark.createDataFrame([], struct).limit(0)
    reader = spark.read if struct is None else spark.read.schema(struct)
    return reader.parquet(*[os.path.join(table_dir, p) for p in rel_paths])


def apply_scd2_logged(spark: SparkSession, staging: DataFrame,
                      table_dir: str, cfg: SCD2Config,
                      load_ts: str | None = None,
                      incremental: bool = True,
                      scope: Column | None = None) -> int:
    """SCD2 apply as ONE atomic commit: classify the batch once, build
    the changed buckets' new state from that same delta, write it to an
    immutable commit dir, publish a manifest pointing those buckets at
    it (all other buckets carry their existing dirs and stats). Crash
    anywhere before the final publish leaves version N fully intact;
    readers of any version never see a mix. The surrogate-key high-water
    marks come from the manifest's stats, not from a scan of the target,
    and the key-mint offsets from the same collect that finds the
    changed buckets. ``scope`` as at ``scd2.classify``.

    Returns the committed version (current version if no keys changed).
    """
    m = read_manifest(table_dir)
    n_buckets = int(m["n_buckets"])
    schema = m.get("schema")
    target = _read_bucket_paths(spark, table_dir,
                                sorted(m["buckets"].values()), schema)
    bucket = key_bucket(cfg, n_buckets)
    with delta_cache() as cache:
        delta = classify(staging, target, cfg, incremental=incremental,
                         scope=scope, cache=cache)
        # changed buckets, the rows each gains and the rows each key-mint
        # partition gains, in one collect
        inserts, part_counts = Counter(), Counter()
        for b, p, n in delta.groupBy(bucket, mint_part(cfg)).agg(
                F.count_if(F.col("upsert_cd").isin("I", "U"))).collect():
            inserts[b] += n
            part_counts[p] += n
        changed = sorted(inserts)
        if not changed:
            return int(m["version"])

        stats = _live_stats(table_dir, m, [cfg.ak_col, cfg.key_col])
        sized = [s for s in stats.values() if "bytes" in s]  # mean bytes per row
        width = (sum(s["bytes"] for s in sized) / max(1, sum(s["rows"] for s in sized))
                 if sized else _staging_bytes_per_row(staging))
        high_water = tuple(
            max((s["max"][c] for s in stats.values()
                 if s["max"][c] is not None), default=0)
            for c in (cfg.ak_col, cfg.key_col))
        # payload read touches ONLY the changed buckets' directories
        changed_rel = [m["buckets"][str(b)] for b in changed
                       if str(b) in m["buckets"]]
        tgt_slice = _read_bucket_paths(spark, table_dir, changed_rel,
                                       target.schema.jsonValue())
        new_slice = build(tgt_slice, delta, cfg, load_ts=load_ts,
                          high_water=high_water, part_counts=part_counts)
        written, written_stats = _write_buckets(
            new_slice, table_dir, _commit_dir_name(int(m["version"]) + 1),
            cfg, n_buckets, {b: width * (stats.get(str(b), {}).get("rows", 0) + inserts[b])
                             for b in changed})

    buckets = dict(m["buckets"])
    for b in map(str, changed):
        if b in written:
            buckets[b], stats[b] = written[b], written_stats[b]
        else:
            # bucket emptied (e.g. all rows deleted AND history empty)
            buckets.pop(b, None)
            stats.pop(b, None)
    # base pinned to the snapshot this transaction READ: a committer
    # working off a stale manifest must conflict, not clobber
    return _commit(table_dir, {"n_buckets": n_buckets, "buckets": buckets,
                               "schema": schema or new_slice.schema.jsonValue(),
                               "stats": stats},
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
    # both sides read with the from-snapshot's schema; a side without a
    # changed bucket is an empty frame
    schema = read_table(spark, table_dir, from_version).schema.jsonValue()
    old, new = (_read_bucket_paths(spark, table_dir, sorted(
        m["buckets"][k] for k in changed_keys if k in m["buckets"]), schema)
        for m in (m_from, m_to))
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
    keep_versions = [v for v in range(max(0, latest - retain_versions + 1),
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
