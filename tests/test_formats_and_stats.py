"""Source/sink format matrix (SURVEY §2.1 S1-S3 generalized): the same
relation must round-trip losslessly through every batch format the
engine serves — parquet, ORC, JSON lines, CSV — plus the approximate
frequent-items sketch contract backing a_heavy_hitters."""

from __future__ import annotations

from pyspark.sql import functions as F

from dht11_data_pipeline_spark.sources.tables import load_table


def _canon(df):
    # CSV/JSON carry timestamps as strings; compare on a formatted view
    out = df.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
        "o_orderpriority",
    )
    return sorted(tuple(r) for r in out.collect())


def test_format_round_trips(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    want = _canon(orders)
    schema = orders.schema
    for fmt, writer_opts, reader_opts in [
        ("parquet", {}, {}),
        ("orc", {}, {}),
        ("json", {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"},
                 {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"}),
        ("csv", {"header": "true", "timestampFormat": "yyyy-MM-dd HH:mm:ss"},
                {"header": "true", "timestampFormat": "yyyy-MM-dd HH:mm:ss"}),
    ]:
        path = str(tmp_path / f"orders_{fmt}")
        orders.write.format(fmt).options(**writer_opts).save(path)
        back = spark.read.format(fmt).options(**reader_opts).schema(schema).load(path)
        assert _canon(back) == want, f"{fmt} round-trip drifted"


def test_partitioned_sink_then_pruned_source(spark, sf_dir, tmp_path):
    """The layer-write layout: partitionBy column comes back as a
    partition column and filters on it prune (S10 + P2 semantics)."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "load_key", (F.col("o_orderkey") % 3).cast("int"))
    path = str(tmp_path / "orders_by_key")
    orders.write.partitionBy("load_key").parquet(path)
    back = spark.read.parquet(path)
    one = back.filter(F.col("load_key") == 1)
    assert one.count() == orders.filter(F.col("load_key") == 1).count()
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "load_key" in plan.split("PartitionFilters", 1)[1][:160]


def test_freq_items_sketch_covers_exact_heavy_hitters(spark, sf_dir):
    """df.stat.freqItems (one-pass, mergeable) must return a SUPERSET
    of the exact >0.8% heavy hitters — the property that makes
    sketch-then-exact-recount sound at 100 TB."""
    import __spark_entry__ as E

    exact = {r["user_id"] for r in E.queries()["a_heavy_hitters"](spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    approx = set(ev.stat.freqItems(["user_id"], support=0.008).collect()[0][0])
    assert exact <= approx, exact - approx


def test_merge_schema_read_across_generations(spark, sf_dir, tmp_path):
    """Parquet mergeSchema: v1 files (no priority) and v2 files (extra
    channel) read as one relation with null-filled drift — the storage
    twin of o_union_evolved_schemas."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority")
    path = str(tmp_path / "evolved")
    o.filter(F.col("o_orderkey") % 2 == 0).drop("o_orderpriority") \
        .write.parquet(path + "/gen=1")
    o.filter(F.col("o_orderkey") % 2 == 1).withColumn("o_channel", F.lit("web")) \
        .write.parquet(path + "/gen=2")
    back = spark.read.option("mergeSchema", "true").parquet(path)
    assert {"o_orderkey", "o_orderstatus", "o_orderpriority", "o_channel", "gen"} == set(back.columns)
    assert back.count() == o.count()
    v1 = back.filter(F.col("gen") == 1)
    assert v1.filter(F.col("o_orderpriority").isNull()).count() == v1.count()
    assert back.filter(F.col("o_channel") == "web").count() == o.filter(F.col("o_orderkey") % 2 == 1).count()
