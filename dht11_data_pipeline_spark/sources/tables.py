"""Parquet table catalog (reference S3/S4 parity).

The reference discovers tables/columns from Oracle's ``all_tab_cols``
(Delta_detection_query_gen.py:22-29,161-167,217-238); here the catalog
is the parquet directory plus ``df.schema`` — schema-on-read, no DDL.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table. Column pruning + predicate pushdown are
    Catalyst's job — callers express filters/projections declaratively.

    Schema inference is a Spark job (a footer read), so its result is
    memoized per file identity (``_read``): only the first load of a
    table file pays it, and a rewritten file is inferred again.

    ``events.ts`` is nanosecond-precision parquet, which Spark's reader
    rejects; we read nanos as long and rebuild a microsecond timestamp
    with integer division (``div`` keeps full int64 precision — a double
    divide would lose up to ~256ns on 2024 epochs and break the DuckDB
    differential compare, whose oracle casts TIMESTAMP_NS → TIMESTAMP
    with the same truncation). The nanos-as-long conf is set before
    every read, not only the events one, so every memoized schema is
    inferred under the same setting.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the inferred schema memoized on
    the identity of the path's files. A path the driver cannot stat is
    inferred on every read."""
    try:
        files = _file_identity(path)
    except OSError:
        return spark.read.parquet(path)
    return spark.read.schema(_inferred(spark, path, files)).parquet(path)


def _file_identity(path: str) -> tuple:
    """(path, size, mtime_ns, inode) of a file, or of every file under a
    table directory."""
    paths = (sorted(os.path.join(root, n)
                    for root, _, names in os.walk(path) for n in names)
             if os.path.isdir(path) else [path])
    return tuple((p, st.st_size, st.st_mtime_ns, st.st_ino)
                 for p, st in ((p, os.stat(p)) for p in paths))


@functools.lru_cache(maxsize=256)
def _inferred(spark: SparkSession, path: str, files: tuple) -> StructType:
    """The schema Spark infers for ``path``; ``files`` is memo key
    only."""
    return spark.read.parquet(path).schema


def columns(spark: SparkSession, sf_dir: str, name: str) -> list[str]:
    """Runtime column discovery — replaces the reference's all_tab_cols
    catalog scans (SURVEY §2.1 S4)."""
    return load_table(spark, sf_dir, name).schema.fieldNames()
