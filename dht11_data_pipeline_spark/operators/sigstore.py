"""Durable minhash signature store on the manifest transaction log.

``plans/ext_queries.dedup_incremental`` proves the incremental-dedup
MATH (new batch vs signature store, pair output equal to the one-shot
run) but — because the driver contract is stateless — it rebuilds the
store in-line on every call, and BENCH_NOTES_r09's stage decomposition
showed that rebuild is ~40% of its wall clock. This module is the
deployment shape: the store is a txlog-committed table (operators/
txlog machinery: atomic manifest publish, optimistic concurrency,
time travel, vacuum), paid for ONCE per document, and each ingestion
batch only probes it and appends its own signatures.

Layout under ``store_dir``:

    _txlog/v0000000N.json        manifest: {"kind", "params",
                                 "buckets": {batch_key: rel_path}}
    data/commit-...-pid-ts/      one immutable parquet dir per batch

Semantics:

- ``init_signature_store`` commits version 1 — either empty (every doc
  then arrives through updates) or pre-sketched from an existing
  corpus (no pairs are emitted for it, matching "the store is already
  built").
- ``update_signature_store`` sketches ONLY the new batch, emits the
  near-dup pairs touching it (dedup.minhash_incremental_pairs: band
  join vs store ∪ batch, verify by point lookups), and commits the
  batch's signatures as a new manifest version. Batch cost is
  O(|batch| + candidates), independent of corpus size — the 100 TB
  contract.
- Replay-idempotent by batch key: a re-run of batch key K reads the
  store WITHOUT K's previous entry (so it cannot pair against itself),
  emits the identical pairs, and re-points K at its fresh dir; the
  orphaned dir is reclaimed by ``txlog.vacuum``-style retention (the
  manifest no longer references it).
- Pair-completeness invariant (tested in tests/test_sigstore.py):
  starting from an EMPTY store, the union of all batches' pairs equals
  ``dedup.minhash_near_duplicates`` over the full corpus, kept in a
  durable, atomically-committed store.
- The manifest records the sketch parameters (n, num_hashes,
  hash-family version); an update with different parameters REFUSES —
  signatures from different hash families silently never match (the
  ADVICE-r9 failure mode), so mixing them must be loud.

Reference parity note: this is the same exactly-once-per-batch ledger
discipline as the reference's HIST_LOAD_CONTROL / load_key bookkeeping
(STG_to_INT.py:16-29), applied to a dedup signature table instead of a
sensor landing table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators import txlog
from dht11_data_pipeline_spark.operators.dedup import (
    minhash_incremental_pairs, minhash_signature)

SIG_SCHEMA = "doc_id long, signature array<bigint>"

# Bumped whenever the minhash rule changes (MINHASH_* constants or the
# base-hash derivation in operators/dedup.minhash_signature). Stores
# written under a different family version refuse to update.
HASH_FAMILY = "sha256-mulmod-v1"


def _params(n: int, num_hashes: int) -> dict:
    return {"n": n, "num_hashes": num_hashes, "hash_family": HASH_FAMILY}


def init_signature_store(spark: SparkSession, store_dir: str,
                         docs: DataFrame | None = None,
                         text_col: str = "text", id_col: str = "doc_id",
                         n: int = 3, num_hashes: int = 8) -> int:
    """Commit version 1 of the store: empty (``docs=None``) or
    pre-sketched from an existing corpus. Returns the version."""
    name = txlog._commit_dir_name(1)
    rel = f"data/{name}"
    if docs is None:
        sigs = spark.createDataFrame([], SIG_SCHEMA)
    else:
        sigs = minhash_signature(docs, text_col, id_col, n, num_hashes)
    sigs.write.mode("overwrite").parquet(os.path.join(store_dir, rel))
    return txlog._commit(
        store_dir,
        {"kind": "minhash_sig_store", "params": _params(n, num_hashes),
         "buckets": {"__init__": rel}},
        base_version=0)


def read_signature_store(spark: SparkSession, store_dir: str,
                         version: int | None = None,
                         exclude_batch: str | None = None) -> DataFrame:
    """Snapshot read (default: latest). ``exclude_batch`` drops one
    batch key's entry — the replay-idempotency seam: a re-run of batch
    K must probe the store as it stood WITHOUT K."""
    m = txlog.read_manifest(store_dir, version)
    rels = [p for k, p in sorted(m["buckets"].items())
            if k != exclude_batch]
    if not rels:
        return spark.createDataFrame([], SIG_SCHEMA)
    return txlog._read_bucket_paths(spark, store_dir, rels).select(
        "doc_id", "signature")


def update_signature_store(spark: SparkSession, store_dir: str,
                           corpus: DataFrame, new_docs: DataFrame,
                           batch_key: str,
                           text_col: str = "text", id_col: str = "doc_id",
                           n: int = 3, num_hashes: int = 8,
                           band_size: int = 2,
                           threshold: float = 0.5,
                           check_duplicate_ids: bool = True)\
        -> tuple[int, DataFrame]:
    """Probe + append for one ingestion batch.

    ``corpus`` must contain the text of every doc the store has seen
    plus the batch (verify re-shingles only candidate docs out of it —
    a semi-join point lookup, never a full pass). Returns
    ``(committed_version, pairs)``; the pairs DataFrame reads only
    immutable store files, so it stays valid after the commit (and
    after later commits — txlog files are never rewritten).

    Batch keys must PARTITION doc ids: replay of the SAME batch key is
    idempotent (its old entry is excluded from the probe and
    re-pointed), but re-ingesting a doc id under a DIFFERENT key would
    leave two signatures for that id — read_signature_store never
    dedupes, so the one-signature-per-doc and pair-completeness
    invariants would silently break on later updates. That is enforced
    here: a semi-join of the store's ids against the (broadcast) batch
    ids REFUSES the update if any overlap, naming an offender. Cost is
    one store scan with a broadcast probe per batch — no shuffle;
    callers whose keying discipline already guarantees the partition
    may pass ``check_duplicate_ids=False`` to skip the scan."""
    m = txlog.read_manifest(store_dir)
    if m.get("kind") != "minhash_sig_store":
        raise ValueError(f"{store_dir} is not a minhash signature store")
    want = _params(n, num_hashes)
    if m.get("params") != want:
        raise ValueError(
            f"signature store {store_dir} was built with params "
            f"{m.get('params')}, update called with {want}; signatures "
            f"from different hash families never match — rebuild the "
            f"store instead of mixing them")
    store_sigs = read_signature_store(spark, store_dir,
                                      exclude_batch=batch_key)
    if check_duplicate_ids:
        clash = (store_sigs
                 .join(F.broadcast(new_docs.select(id_col).distinct()
                                   .withColumnRenamed(id_col, "doc_id")),
                       "doc_id", "left_semi")
                 .select("doc_id").limit(1).collect())
        if clash:
            raise ValueError(
                f"update_signature_store: doc_id {clash[0][0]} in batch "
                f"{batch_key!r} is already committed under a different "
                f"batch key; batch keys must partition doc ids (replay "
                f"the ORIGINAL batch key to re-ingest, or rebuild the "
                f"store) — two signatures per id would silently break "
                f"the pair-completeness invariant")
    pairs = minhash_incremental_pairs(
        corpus, store_sigs, new_docs, text_col, id_col,
        n=n, num_hashes=num_hashes, band_size=band_size,
        threshold=threshold)

    next_v = int(m["version"]) + 1
    name = txlog._commit_dir_name(next_v)
    rel = f"data/{name}"
    minhash_signature(new_docs, text_col, id_col, n, num_hashes).write \
        .mode("overwrite").parquet(os.path.join(store_dir, rel))
    buckets = {**m["buckets"], batch_key: rel}
    v = txlog._commit(
        store_dir,
        {"kind": "minhash_sig_store", "params": m["params"],
         "buckets": buckets},
        base_version=int(m["version"]))
    return v, pairs
