"""Parquet table catalog (reference S3/S4 parity).

The reference discovers tables/columns from Oracle's ``all_tab_cols``
(Delta_detection_query_gen.py:22-29,161-167,217-238); here the catalog
is the parquet directory plus ``df.schema`` — schema-on-read, no DDL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table. Column pruning + predicate pushdown are
    Catalyst's job — callers express filters/projections declaratively.

    ``events.ts`` is nanosecond-precision parquet, which Spark's reader
    rejects; we read nanos as long and rebuild a microsecond timestamp
    with integer division (``div`` keeps full int64 precision — a double
    divide would lose up to ~256ns on 2024 epochs and break the DuckDB
    differential compare, whose oracle casts TIMESTAMP_NS → TIMESTAMP
    with the same truncation).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        from pyspark.sql import functions as F
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def columns(spark: SparkSession, sf_dir: str, name: str) -> list[str]:
    """Runtime column discovery — replaces the reference's all_tab_cols
    catalog scans (SURVEY §2.1 S4)."""
    return load_table(spark, sf_dir, name).schema.fieldNames()
