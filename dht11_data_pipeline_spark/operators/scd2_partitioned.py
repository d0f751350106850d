"""Bucket layout of the transaction-logged SCD2 table (operators/txlog).

The logged table is stored partitioned by a hash bucket of the natural
key, ``pmod(xxhash64(keys), n_buckets)`` in the column ``BUCKET_COL``.
Same key ⇒ same bucket, so a batch's changed keys touch a subset of
buckets and rows in every other bucket cannot change: a commit
rewrites only the changed buckets and the manifest carries the rest
over (MERGE-equivalent write amplification on plain parquet — Delta
Lake gets the same from file-level pruning).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import functions as F

if TYPE_CHECKING:  # scd2 imports key_bucket for its key mint
    from dht11_data_pipeline_spark.operators.scd2 import SCD2Config

BUCKET_COL = "da_key_bucket"


def key_bucket(cfg: SCD2Config, n_buckets: int) -> F.Column:
    cols = [F.col(k).cast("string") for k in cfg.natural_keys]
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")
