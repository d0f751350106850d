"""dht11_data_pipeline_spark — a PySpark-native incremental ETL + SCD2
analytics engine with the query/data-processing capabilities of the
reference pipeline (omkara96/DHT11-Data-Pipeline), rebuilt Spark-first.

Layout:
    session     SparkSession builder tuned for local[N] and cluster scale
    config      PipelineConfig (reference params.py parity)
    sources/    Firebase-tree JSON, Firestore-style docs, parquet catalog
    functions/  hashing (delta hash, hex-min), text metrics, vector math
    operators/  control ledger, layer moves, SCD2, dedup, similarity, text
    plans/      named reference-parity queries + DuckDB oracle SQL
    streaming/  Structured Streaming ingest, foreachBatch SCD2, rollups
"""

from dht11_data_pipeline_spark.session import get_spark  # noqa: F401
