"""Small-files compaction — the operational tail of every streaming
sink: ``foreachBatch`` writes one-or-more files per micro-batch, and a
day of 5-minute batches leaves hundreds of KB-sized parquet files whose
open/footer cost dominates later scans.

``compact`` rewrites a parquet directory into ~``target_mb`` files,
optionally sorted so parquet min/max column stats become selective
(sorting clusters each file's value range — the poor man's Z-order for
a single dominant filter column). Rewrite is staged + atomic rename,
same pattern as the SCD2 target swap.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def parquet_file_count(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(f.endswith(".parquet") for f in files)
    return n


def compact(spark: SparkSession, path: str, target_mb: float = 128,
            sort_by: list[str] | None = None,
            zorder_by: list[str] | None = None,
            quantile_bits: int = 0) -> int:
    """Rewrite ``path`` into ceil(bytes/target_mb) files (``target_mb``
    may be fractional); returns the new file count. ``sort_by`` orders
    rows within (and across) the new files so min/max stats prune
    reads on those columns; ``zorder_by``
    clusters on the Morton curve instead so min/max stats prune on
    EVERY listed column (operators/layout) — compaction time is when a
    100 TB deployment applies layout, so the two compose here."""
    if sort_by and zorder_by:
        raise ValueError("choose one of sort_by / zorder_by")
    n_files = max(1, int(-(-dir_bytes(path) // (target_mb * 1024 * 1024))))
    df = spark.read.parquet(path)
    if zorder_by:
        from dht11_data_pipeline_spark.operators.layout import zorder_key

        key = zorder_key(df, zorder_by, quantile_bits=quantile_bits)
        out = (df.withColumn("_zkey", key)
               .repartitionByRange(n_files, "_zkey")
               .sortWithinPartitions("_zkey").drop("_zkey"))
    elif sort_by:
        out = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(*sort_by)
    else:
        out = df.repartition(n_files)
    staged = path.rstrip("/") + "_compacting"
    out.write.mode("overwrite").parquet(staged)
    shutil.rmtree(path)
    os.replace(staged, path)
    return parquet_file_count(path)
