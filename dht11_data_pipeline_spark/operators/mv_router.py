"""Materialized-view routing: answer aggregate queries from a rollup
instead of the fact table when the rollup's grain covers them.

The rollup (operators/rollup.py) stores commutative-monoid partials at
grain G. Any aggregate query grouping by keys ⊆ G whose measures are
derivable from those monoids can be answered by RE-REDUCING the rollup
— grain-sized input — instead of scanning the fact. At 100 TB that is
the difference between a dashboard query reading GBs and reading the
lake; it is the same contract Druid/Materialize/Timescale continuous
aggregates offer, expressed as a planning function over DataFrames.

Routing rules (``route``):
- requested group keys must be a subset of the rollup keys;
- every requested measure must be one of the derivable ops below;
- otherwise return None — the caller falls back to the fact scan
  (the ``rollup query`` CLI reports the grain as not servable).

Derivable measures and their re-reductions:
  count_rows  -> SUM(n_events)        sum_value -> SUM(total_value)
  min_value   -> MIN(min_value)       max_value -> MAX(max_value)
  avg_value   -> SUM(total)/SUM(n)    approx_users -> hll_union+estimate
(avg re-derives from the two monoids — averaging averages would be
wrong; exact distinct users is NOT derivable and correctly refuses.)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DERIVABLE: dict[str, Callable[[], Column]] = {
    "count_rows": lambda: F.sum("n_events").cast("long"),
    "sum_value": lambda: F.sum("total_value").cast("double"),
    "min_value": lambda: F.min("min_value").cast("double"),
    "max_value": lambda: F.max("max_value").cast("double"),
    "avg_value": lambda: (F.sum("total_value").cast("double")
                          / F.sum("n_events")),
    "approx_users": lambda: F.hll_sketch_estimate(F.hll_union_agg("users_sk")),
}


def route(rollup_partials: DataFrame, rollup_keys: list[str],
          group_keys: list[str], measures: dict[str, str]) -> DataFrame | None:
    """Rollup-backed answer for GROUP BY ``group_keys`` with
    ``measures`` {out_col: op}, or None if the rollup can't serve it."""
    if not set(group_keys) <= set(rollup_keys):
        return None
    if not all(op in _DERIVABLE for op in measures.values()):
        return None
    aggs = [_DERIVABLE[op]().alias(out) for out, op in measures.items()]
    return rollup_partials.groupBy(*group_keys).agg(*aggs)
