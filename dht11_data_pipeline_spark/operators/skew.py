"""Skew mitigation: salting for hot keys.

AQE's skew-join splitting (on in session.py) handles skewed joins at
runtime, but a groupBy where one key holds a double-digit percent of
all rows still needs explicit salting at 100 TB — AQE can't split a
single hash-aggregate key.

The helper is deterministic given the salt count and preserves exact
results (salting only re-routes rows; the final combine undoes it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt(n_salts: int) -> Column:
    # deterministic per-row salt: cheap hash of a monotonic id spreads
    # rows uniformly without an RNG (reproducible across retries of the
    # same partition layout; any uniform spread works — the combine
    # stage is salt-agnostic)
    return F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))


def salted_aggregate(df: DataFrame, keys: list[str], aggs: dict[str, str],
                     n_salts: int = 16) -> DataFrame:
    """Two-phase aggregation for skewed grouping keys.

    Phase 1 groups by (keys + salt) — a hot key becomes ``n_salts``
    parallel partial groups; phase 2 combines the partials per key.
    Supported aggs (value: 'sum' | 'count' | 'min' | 'max') compose
    exactly across phases. Spark's own map-side partial aggregation
    does this per-partition already; salting extends it across the
    shuffle, which matters when one key's partials alone overwhelm a
    single reducer.
    """
    fns = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    partial = df.withColumn("_salt", _salt(n_salts)).groupBy(*keys, "_salt").agg(
        *[fns[how](c).alias(f"_p_{c}_{how}") for c, how in aggs.items()])
    recombine = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    return partial.groupBy(*keys).agg(
        *[recombine[how](f"_p_{c}_{how}").alias(f"{c}_{how}")
          for c, how in aggs.items()])
