"""Partition right-sizing for CPU-heavy narrow operators, and the one
per-row Python map they share.

A small parquet table arrives as ONE input split, so per-row-expensive
work (shingling, hashing, vector math) runs on one core no matter how
many the session has. On a real cluster a 100 TB input has thousands of
splits and this helper is a no-op; locally it buys full parallelism for
one cheap shuffle of the raw rows.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql.types import DataType


def right_size(df: DataFrame, factor: int = 1) -> DataFrame:
    """Repartition a bare scan up to ``factor × defaultParallelism`` iff
    it has fewer partitions than cores; runs no Spark job. An input whose
    plan holds an exchange keeps its partitioning: counting it would
    execute the query stages below it."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if re.search(r"^\W*(AdaptiveSparkPlan|\w*Exchange) ", plan, re.M):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def map_rows(df: DataFrame, fn: Callable[..., Iterable[tuple]],
             schema: str) -> DataFrame:
    """Per-row Python transform over Arrow batches (``mapInArrow``).

    ``fn`` is called once per input row with that row's values, in
    ``df``'s column order, as plain Python values (``None`` for null,
    ``bytes`` for binary), and yields zero or more output tuples in the
    column order of the DDL ``schema`` — so 1:1, 1:N and dropped rows
    share one contract. Every output batch, an empty one included, is
    built with the Arrow types of ``schema``, so ``fn`` need not type
    its values (a numpy ``float32`` array fills an ``array<float>``).
    Payloads stream through the executors; nothing reaches the driver.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    out = to_arrow_schema(DataType.fromDDL(schema))
    return df.mapInArrow(partial(_map_batches, fn, out), schema)


def _map_batches(fn, out, batches):
    import pyarrow as pa

    for batch in batches:
        cols = [c.to_pylist() for c in batch.columns]
        rows = [r for row in zip(*cols) for r in fn(*row)]
        vals = list(zip(*rows)) or [()] * len(out)
        yield pa.RecordBatch.from_arrays(
            [pa.array(v, type=f.type) for v, f in zip(vals, out)], schema=out)
