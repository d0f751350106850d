"""Layer moves: landing → intermediate → (SCD2 target).

Reference physical behaviors consciously replaced (SURVEY §4.2):
- landing delete+reload per device (S6+S5 row loop) → one atomic
  ``mode("overwrite")`` partition write
- row-at-a-time INSERT → set-oriented columnar parquet write
- INSERT..SELECT with load_key stamp (S10, STG_to_INT.py:16-20) →
  ``withColumn(lit(load_key))`` + append, partitioned BY load_key so
  every downstream ``WHERE load_key = k`` is partition pruning, not a
  scan (SURVEY §4.1 partition-pruning row).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# fixed layer schemas (no inference job); load_key is the ledger's bigint
# end to end (an int partition column rejects keys from 2^31 on)
LANDING_SCHEMA = "timezone string, humidity string, temperature string, ts timestamp, device_id string"
INTERMEDIATE_SCHEMA = LANDING_SCHEMA + ", load_key bigint"


def write_landing(df: DataFrame, warehouse_dir: str, device_id: str) -> str:
    """Delete+reload landing for one device, as one atomic overwrite of
    the device's partition directory."""
    path = os.path.join(warehouse_dir, "dht11_data", f"device_id={device_id}")
    df.drop("device_id").write.mode("overwrite").parquet(path)
    return path


def read_landing(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    return spark.read.schema(LANDING_SCHEMA) \
        .option("basePath", os.path.join(warehouse_dir, "dht11_data")) \
        .parquet(os.path.join(warehouse_dir, "dht11_data"))


def load_to_intermediate(spark: SparkSession, warehouse_dir: str,
                         load_key: int, device_id: str) -> str:
    """Landing→intermediate copy stamping the batch's load_key
    (reference S10). Append-only, partitioned by load_key."""
    landing = read_landing(spark, warehouse_dir).filter(
        F.col("device_id") == device_id)
    path = os.path.join(warehouse_dir, "dht11_data_int")
    (landing.withColumn("load_key", F.lit(load_key).cast("bigint"))
        .write.mode("append").partitionBy("load_key").parquet(path))
    return path


def read_intermediate(spark: SparkSession, warehouse_dir: str,
                      load_key: int) -> DataFrame:
    """Batch ``load_key``'s partition alone, fixed schema; empty if absent."""
    base = os.path.join(warehouse_dir, "dht11_data_int")
    part = os.path.join(base, f"load_key={load_key}")
    if not os.path.isdir(part):
        # limit(0): an empty LocalRelation the optimizer can prune against
        return spark.createDataFrame([], INTERMEDIATE_SCHEMA).limit(0)
    return (spark.read.schema(INTERMEDIATE_SCHEMA).option("basePath", base)
            .parquet(part))


def intermediate_rows(warehouse_dir: str, load_key: int) -> int:
    """Rows of batch ``load_key`` in the intermediate layer, summed
    from its parquet footers on the driver — no Spark job."""
    part = os.path.join(warehouse_dir, "dht11_data_int", f"load_key={load_key}")
    files = os.listdir(part) if os.path.isdir(part) else []
    return sum(pq.read_metadata(os.path.join(part, f)).num_rows
               for f in files if f.endswith(".parquet"))
