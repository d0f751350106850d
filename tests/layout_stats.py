"""File-pruning measurements for layout tests: the per-file min/max
stats that parquet footers carry, and the share of files a range
predicate must open."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def file_minmax(spark: SparkSession, path: str, cols: list[str]) -> DataFrame:
    """Per-file min/max of ``cols`` — the same stats parquet footers
    carry, surfaced as a DataFrame."""
    df = spark.read.parquet(path).withColumn("_f", F.input_file_name())
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return df.groupBy("_f").agg(*aggs)


def overlap_fraction(stats: DataFrame, col: str, lo, hi) -> float:
    """Fraction of files whose [min,max] for ``col`` intersects
    [lo, hi] — an upper bound on the files a reader must open."""
    total = stats.count()
    hit = stats.filter(
        (F.col(f"min_{col}") <= F.lit(hi)) & (F.col(f"max_{col}") >= F.lit(lo))
    ).count()
    return hit / max(total, 1)
