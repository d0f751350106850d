"""Continuous-aggregate state: partial-per-batch builds, merge-on-read
and LSM compaction."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators.rollup import (
    merge_rollups, read_rollup, rollup_batch)
from dht11_data_pipeline_spark.sources.tables import load_table
from dht11_data_pipeline_spark.streaming import rollup as SR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date").cast("string"))


def _build(events, state, batch_id):
    """One partial the way ``rollup build`` writes it."""
    rollup_batch(events, SR.DEFAULT_KEYS).write.mode("overwrite").parquet(
        f"{state}/partials/b{batch_id}")


def _merged(spark, state):
    parts = SR.read_partials(spark, state)
    return read_rollup(merge_rollups(parts.limit(0), parts, SR.DEFAULT_KEYS))


def test_post_compaction_batches_coexist(spark, sf_dir, tmp_path):
    """Compaction folds the per-batch partials into one flat generation
    with the same answer; a batch built after it nests beside the flat
    files and the recursive merge-on-read sees both."""
    state = str(tmp_path / "state")
    ev = _events(spark, sf_dir)
    for b in range(2):
        _build(ev.filter(F.col("event_id") % 3 == b), state, b)
    SR.compact_rollup(spark, state)
    assert not any(d.startswith("b")
                   for d in os.listdir(os.path.join(state, "partials")))
    assert _rows(_merged(spark, state)) == _rows(read_rollup(rollup_batch(
        ev.filter(F.col("event_id") % 3 != 2), SR.DEFAULT_KEYS)))

    _build(ev.filter(F.col("event_id") % 3 == 2), state, 2)
    assert _rows(_merged(spark, state)) == _rows(
        read_rollup(rollup_batch(ev, SR.DEFAULT_KEYS)))
