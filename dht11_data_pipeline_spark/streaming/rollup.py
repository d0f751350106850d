"""Continuous-aggregate state: rollup partials, merge-on-read and LSM
compaction.

The batch operator (operators/rollup.py) proved merge-of-partials ==
full recompute; the state directory exploits it with an LSM-shaped
layout:

    state_dir/partials/b<N>/   one partial-aggregate parquet dir per
                               build batch, written mode=overwrite

- **Per-batch cost is O(batch)**: ``rollup build`` (the CLI) only
  aggregates the new batch; history is never rescanned (same economics
  as the reference's `WHERE LOAD_KEY = n` incremental reads,
  Delta_detection_query_gen.py:79).
- **Replay-safe without transactions**: rebuilding a batch rewrites
  the SAME b<N> directory (overwrite) — idempotent.
- **Merge-on-read**: ``read_partials`` unions every generation via a
  recursive file lookup (each partial is grain-sized, so re-reducing
  it is dim-scale work, not fact-scale); ``mv_router.route`` serves
  queries from it.
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
from pyspark.sql.utils import AnalysisException

from dht11_data_pipeline_spark.operators.rollup import merge_rollups
from dht11_data_pipeline_spark.streaming.historize import _recover_target, swap_target

DEFAULT_KEYS = ["day", "event_type"]


def read_partials(spark: SparkSession, state_dir: str) -> DataFrame:
    """All partial generations as one relation (recursive lookup picks
    up both per-batch dirs and compacted flat files)."""
    path = f"{state_dir}/partials"
    _recover_target(path)  # heal a crashed compaction swap before reading
    return spark.read.option("recursiveFileLookup", "true").parquet(path)


def compact_rollup(spark: SparkSession, state_dir: str,
                   keys: list[str] | None = None) -> None:
    """Fold all partials into one flat generation (staged write +
    atomic swap — crash-safe, same seam as the SCD2 target)."""
    keys = keys or DEFAULT_KEYS
    try:
        parts = read_partials(spark, state_dir)
    except AnalysisException:
        return
    # swap_target stages (materializes) the merge while the partials
    # dir is still live, then promotes by rename — no lazy re-read of
    # the swapped-away path can occur afterwards
    merged = merge_rollups(parts.limit(0), parts, keys)
    swap_target(merged, f"{state_dir}/partials")
