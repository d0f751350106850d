"""Hierarchical sensor-tree JSON source (reference S1 + N1 + P1).

The reference fetches ``MCU_Data/<DEVICE_ID>/HIST_DHT11_DATA/<date>/
<time>/{TimeZone,Humidity,Temperature,Timestamp}`` — a map-of-maps of
leaf records — and flattens it with two nested Python loops, filtering
client-side on the Timestamp cursor (STG_Firebase2Oracle.py:45-59).

Here the tree is a DataFrame from byte one: the file parses into typed
nested MapTypes, two ``explode``s flatten it (distributed — each device
subtree can land on a different task), and the watermark filter is a
Catalyst predicate. Missing leaf fields become NULLs by schema, then
get the reference's sentinel defaults ('N/A', epoch) applied explicitly
(STG_Firebase2Oracle.py:57,80-83).

Scale: one 100 TB tree would arrive as many JSON files; `spark.read
.json(dir)` distributes per-file, and the explodes are narrow (no
shuffle). Nothing is ever collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LEAF = T.StructType([
    T.StructField("TimeZone", T.StringType()),
    T.StructField("Humidity", T.StringType()),
    T.StructField("Temperature", T.StringType()),
    T.StructField("Timestamp", T.StringType()),
])

# MCU_Data -> device -> node -> date -> time -> leaf
TREE = T.MapType(  # device
    T.StringType(),
    T.MapType(      # node name (HIST_DHT11_DATA)
        T.StringType(),
        T.MapType(  # date
            T.StringType(),
            T.MapType(T.StringType(), LEAF),  # time -> leaf
        ),
    ),
)

EPOCH_SENTINEL = "1970-01-01 00:00:00"


def read_tree(spark: SparkSession, path: str) -> DataFrame:
    """Parse tree-JSON file(s) → (device_id, date_key, time_key, leaf)."""
    raw = spark.read.option("wholetext", True).text(path)
    parsed = raw.select(
        F.from_json(F.col("value"), T.StructType([T.StructField("MCU_Data", TREE)]))
        .alias("root")
    )
    return (
        parsed.select(F.explode_outer("root.MCU_Data").alias("device_id", "nodes"))
        .select("device_id", F.explode_outer("nodes").alias("node", "dates"))
        .filter(F.col("node") == "HIST_DHT11_DATA")
        .select("device_id", F.explode_outer("dates").alias("date_key", "times"))
        .select("device_id", "date_key", F.explode_outer("times").alias("time_key", "leaf"))
    )


def flatten_readings(tree: DataFrame, device_id: str | None = None,
                     since_ts: str | None = None) -> DataFrame:
    """Leaf records → typed landing rows with reference defaulting:
    missing Timestamp → epoch sentinel (STG_Firebase2Oracle.py:57),
    missing TimeZone/Humidity/Temperature → 'N/A' (:80-83), incremental
    ``Timestamp >= since_ts`` watermark filter (:52-58)."""
    df = tree
    if device_id is not None:
        df = df.filter(F.col("device_id") == device_id)
    out = df.select(
        "device_id",
        F.coalesce(F.col("leaf.TimeZone"), F.lit("N/A")).alias("timezone"),
        F.coalesce(F.col("leaf.Humidity"), F.lit("N/A")).alias("humidity"),
        F.coalesce(F.col("leaf.Temperature"), F.lit("N/A")).alias("temperature"),
        F.to_timestamp(
            F.coalesce(F.col("leaf.Timestamp"), F.lit(EPOCH_SENTINEL)),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("ts"),
    )
    if since_ts is not None:
        out = out.filter(F.col("ts") >= F.lit(since_ts))
    return out
