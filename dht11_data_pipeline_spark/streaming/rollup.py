"""Streaming continuous aggregate: ``foreachBatch`` → rollup partials.

The batch operator (operators/rollup.py) proved merge-of-partials ==
full recompute; this sink exploits it with an LSM-shaped state layout:

    state_dir/partials/b<N>/   one partial-aggregate parquet dir per
                               micro-batch, written mode=overwrite

- **Per-batch cost is O(batch)**: only the new micro-batch is
  aggregated; history is never rescanned (same economics as the
  reference's `WHERE LOAD_KEY = n` incremental reads,
  Delta_detection_query_gen.py:79).
- **Replay-safe without transactions**: a crash between sink write and
  checkpoint commit replays the batch into the SAME b<N> directory
  (overwrite) — idempotent, like the dedup stream's signature store.
- **Merge-on-read**: ``current_rollup`` re-reduces all partials via a
  recursive file lookup (each partial is grain-sized, so this is
  dim-scale work, not fact-scale).
- **Compaction** folds the partial pile into one flat generation via
  the historize staged-write + atomic-swap (bounding read
  amplification — run every K batches, like any LSM); post-compaction
  batches nest new b<N> dirs beside the flat files and the recursive
  read sees both.

On a cluster the partials directory becomes a Delta table and
compaction becomes OPTIMIZE; the seams are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from dht11_data_pipeline_spark.operators.rollup import merge_rollups, read_rollup, rollup_batch
from dht11_data_pipeline_spark.streaming.historize import _recover_target, swap_target
from dht11_data_pipeline_spark.streaming.ingest import _read_json_stream

EVENT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.StringType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])

DEFAULT_KEYS = ["day", "event_type"]


def _with_grain(events: DataFrame) -> DataFrame:
    return events.withColumn(
        "day",
        F.date_trunc("day", F.to_timestamp("ts")).cast("date").cast("string"),
    )


def start_rollup_stream(spark: SparkSession, source_path: str,
                        state_dir: str, checkpoint_dir: str,
                        keys: list[str] | None = None,
                        max_files_per_trigger: int | None = 1,
                        available_now: bool = True) -> StreamingQuery:
    """readStream JSON-lines events → one rollup partial per micro-batch."""
    keys = keys or DEFAULT_KEYS

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        rollup_batch(_with_grain(batch_df), keys).write.mode("overwrite").parquet(
            f"{state_dir}/partials/b{batch_id}")

    writer = (_read_json_stream(spark, EVENT_SCHEMA, source_path,
                                max_files_per_trigger)
              .writeStream.foreachBatch(_process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_partials(spark: SparkSession, state_dir: str) -> DataFrame:
    """All partial generations as one relation (recursive lookup picks
    up both per-batch dirs and compacted flat files)."""
    path = f"{state_dir}/partials"
    _recover_target(path)  # heal a crashed compaction swap before reading
    return spark.read.option("recursiveFileLookup", "true").parquet(path)


_partials = read_partials  # internal alias


def current_rollup(spark: SparkSession, state_dir: str,
                   keys: list[str] | None = None) -> DataFrame:
    """Merge-on-read view over every partial generation."""
    keys = keys or DEFAULT_KEYS
    parts = _partials(spark, state_dir)
    # re-reduce the pile: merging onto an empty frame degenerates to a
    # single groupBy over the unioned partials, which is exactly this
    return read_rollup(merge_rollups(parts.limit(0), parts, keys))


def compact_rollup(spark: SparkSession, state_dir: str,
                   keys: list[str] | None = None) -> None:
    """Fold all partials into one flat generation (staged write +
    atomic swap — crash-safe, same seam as the SCD2 target)."""
    keys = keys or DEFAULT_KEYS
    try:
        parts = _partials(spark, state_dir)
    except AnalysisException:
        return
    # swap_target stages (materializes) the merge while the partials
    # dir is still live, then promotes by rename — no lazy re-read of
    # the swapped-away path can occur afterwards
    merged = merge_rollups(parts.limit(0), parts, keys)
    swap_target(merged, f"{state_dir}/partials")


def affinity_over_rollup(spark: SparkSession, state_dir: str) -> DataFrame:
    """Continuously-maintained item-item affinity: the (user, item)
    interaction-count matrix is a sum monoid, so the rollup stream
    keeps it incrementally (per-batch partials, O(batch) cost) and the
    cosine affinities re-derive from the merged matrix on read — no
    history rescan, the streaming twin of cooccur.item_affinity."""
    from dht11_data_pipeline_spark.operators.cooccur import (
        item_affinity_from_counts)
    counts = current_rollup(spark, state_dir,
                            keys=["user_id", "event_type"]).select(
        "user_id", "event_type", F.col("n_events").alias("n"))
    return item_affinity_from_counts(counts, "user_id", "event_type", "n")
