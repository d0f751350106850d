"""MV routing: servable queries re-reduce the rollup (no fact scan)
and equal a direct aggregate of the fact; unservable ones refuse, so
the caller falls back to the fact."""

from __future__ import annotations

from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators import rollup as R
from dht11_data_pipeline_spark.operators.mv_router import route
from dht11_data_pipeline_spark.sources.tables import load_table

KEYS = ["day", "event_type"]
MEASURES = {"n": "count_rows", "tot": "sum_value", "avg": "avg_value"}


def _fixtures(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date").cast("string"))
    return ev, R.rollup_batch(ev, KEYS)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_routed_equals_fact_at_coarser_grain(spark, sf_dir):
    ev, partials = _fixtures(spark, sf_dir)
    routed = route(partials, KEYS, ["event_type"], MEASURES)
    dec = F.col("value").cast("decimal(18,2)")  # rollup_batch's cast
    fact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec).cast("double").alias("tot"),
        (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("avg"))
    assert _rows(routed) == _rows(fact)


def test_routed_plan_never_scans_the_fact(spark, sf_dir, tmp_path):
    ev, partials = _fixtures(spark, sf_dir)
    store = str(tmp_path / "partials")
    partials.write.parquet(store)
    routed = route(spark.read.parquet(store), KEYS, ["day"], MEASURES)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "events.parquet" not in plan, plan
    assert "n_events" in plan  # the scan reads rollup partials, not raw events


def test_unservable_grain_refuses(spark, sf_dir):
    _, partials = _fixtures(spark, sf_dir)
    assert route(partials, KEYS, ["user_id"], MEASURES) is None


def test_unservable_measure_falls_back_to_fact(spark, sf_dir):
    _, partials = _fixtures(spark, sf_dir)
    assert route(partials, KEYS, ["event_type"], {"u": "exact_users"}) is None


def test_approx_users_routed_matches_direct_sketch(spark, sf_dir):
    """hll_union of per-grain sketches re-reduced to a coarser grain
    must estimate like a direct sketch over the same rows."""
    ev, partials = _fixtures(spark, sf_dir)
    routed = {r["event_type"]: r["au"] for r in route(
        partials, KEYS, ["event_type"], {"au": "approx_users"}).collect()}
    direct = {r["event_type"]: r["au"] for r in ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("au")).collect()}
    assert routed == direct
