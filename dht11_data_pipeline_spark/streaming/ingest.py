"""Structured Streaming ingest of the sensor feed — the streaming twin
of ``sources/firebase_tree`` (reference S1+N1+P1).

The reference polls the whole Firebase subtree once a day on a cron
(Airflow-DAG.py:39 ``30 09 * * *``) and filters client-side on the
previous run's timestamp (STG_Firebase2Oracle.py:52-58) — hand-rolled
micro-batching. Spark-native, the feed is a stream: each new reading
(or file of readings) arrives as a JSON line; ``readStream`` assigns
it to a micro-batch, the checkpoint replaces the control-table cursor,
and ``withWatermark`` replaces the manual ``Timestamp >=`` filter
(SURVEY §2.9 T1).

Scale: the file source lists and splits input in parallel; schema is
fixed (no inference pass); the typed projection is narrow — no shuffle
until an aggregation asks for one. A production deployment would swap
the directory for a Kafka topic — same downstream code, the source is
the only line that changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dht11_data_pipeline_spark.sources.firebase_tree import EPOCH_SENTINEL

# one reading per JSON line: the flattened leaf record plus its device —
# what a Firebase change-feed / Kafka bridge would emit per update
READING_SCHEMA = T.StructType([
    T.StructField("device_id", T.StringType()),
    T.StructField("TimeZone", T.StringType()),
    T.StructField("Humidity", T.StringType()),
    T.StructField("Temperature", T.StringType()),
    T.StructField("Timestamp", T.StringType()),
])


def read_reading_stream(spark: SparkSession, path: str,
                        max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of JSON-line readings (micro-batch per file
    group). ``maxFilesPerTrigger`` bounds batch size — the streaming
    analogue of the reference's one-day batch window."""
    reader = spark.readStream.schema(READING_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def typed_readings(raw: DataFrame, watermark: str | None = "1 hour") -> DataFrame:
    """Apply the reference's sentinel defaulting + typing to a reading
    stream (missing field → 'N/A'/epoch, STG_Firebase2Oracle.py:57,80-83)
    and declare the event-time watermark (replaces the manual
    ``Timestamp >= prev_run_ts`` cursor, SURVEY §2.9 T1)."""
    out = raw.select(
        "device_id",
        F.coalesce(F.col("TimeZone"), F.lit("N/A")).alias("timezone"),
        F.coalesce(F.col("Humidity"), F.lit("N/A")).alias("humidity"),
        F.coalesce(F.col("Temperature"), F.lit("N/A")).alias("temperature"),
        F.to_timestamp(
            F.coalesce(F.col("Timestamp"), F.lit(EPOCH_SENTINEL)),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("ts"),
    )
    if watermark is not None:
        out = out.withWatermark("ts", watermark)
    return out
