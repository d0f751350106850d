"""Empty-relation robustness: every core operator must no-op cleanly
on zero rows (first run of a pipeline, empty micro-batch, fully
filtered partition) — the reference guards these with explicit
row-count branches (Delta_detection_query_gen.py:32-33,63,74,182-184);
the engine must get the same safety from plain dataflow semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators import rollup as R
from dht11_data_pipeline_spark.operators.dedup import exact_duplicates, minhash_near_duplicates
from dht11_data_pipeline_spark.operators.scd2 import SCD2Config, apply_scd2, detect_delta
from dht11_data_pipeline_spark.sources.tables import load_table
from dht11_data_pipeline_spark.streaming.historize import empty_target


def _empty_like(df):
    return df.limit(0)


def test_scd2_with_empty_staging_keeps_target(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    cfg = SCD2Config(natural_keys=["o_orderkey"])
    target = apply_scd2(orders, empty_target(spark, orders, cfg), cfg,
                        load_ts="2024-01-01 00:00:00")
    after = apply_scd2(_empty_like(orders), target, cfg,
                       load_ts="2024-01-02 00:00:00")
    # empty staging = every existing key absent -> the delete policy may
    # close rows, but no rows may be LOST and no new versions minted
    assert target.count() <= after.count() <= 2 * target.count()
    assert after.filter(F.col("da_valid_from_date") > "2024-01-01 12:00:00") \
                .filter(F.col("da_current_flag") == "Y").count() == 0


def test_scd2_delta_of_two_empties_is_empty(spark, sf_dir):
    orders = _empty_like(load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"))
    cfg = SCD2Config(natural_keys=["o_orderkey"])
    empty_cur = empty_target(spark, orders, cfg).filter(F.col(cfg.current_flag) == "Y")
    assert detect_delta(orders, empty_cur, cfg).count() == 0


def test_rollup_merge_with_empty_delta_is_identity(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date").cast("string"))
    keys = ["day", "event_type"]
    base = R.rollup_batch(ev, keys)
    merged = R.merge_rollups(base, R.rollup_batch(_empty_like(ev), keys), keys)
    a = sorted(tuple(r) for r in R.read_rollup(base).collect())
    b = sorted(tuple(r) for r in R.read_rollup(merged).collect())
    assert a == b


def test_dedup_on_empty_corpus(spark, sf_dir):
    docs = _empty_like(load_table(spark, sf_dir, "documents"))
    assert exact_duplicates(docs).count() == 0
    assert minhash_near_duplicates(docs).count() == 0


def test_queries_tolerate_empty_grouped_input(spark, sf_dir):
    """Global aggregates over zero matching rows: one row of nulls (SQL
    semantics), never an exception — probed on the scan-heavy shapes."""
    import __spark_entry__ as E
    qs = E.queries()
    row = qs["q6_forecast_revenue"](spark, sf_dir).collect()
    assert len(row) == 1  # sum over possibly-empty match set is 1 row


def test_new_operators_on_empty_inputs(spark, sf_dir):
    """The PQ encoder, layout key, funnel, cohort, audit, and temporal
    queries must all no-op cleanly on zero-row inputs."""
    from dht11_data_pipeline_spark.operators import layout, pq

    emb = _empty_like(load_table(spark, sf_dir, "embeddings"))
    # codebooks from a NON-empty corpus, applied to an empty one
    full = load_table(spark, sf_dir, "embeddings")
    cbs = pq.train_pq(spark, full, m=8, code_mod=25, iters=1)
    assert pq.encode_pq(emb, cbs, m=8).count() == 0

    orders = _empty_like(load_table(spark, sf_dir, "orders"))
    # zorder bounds of an empty frame: min/max are null -> must raise a
    # clear error, not emit a broken key
    try:
        layout.zorder_key(orders, ["o_custkey", "o_totalprice"])
        bounds_ok = True
    except (TypeError, ValueError):
        bounds_ok = False
    assert not bounds_ok, "empty-frame zorder_key should fail loudly"


def test_analytics_queries_on_empty_events(spark, tmp_path):
    """Funnel/cohort/mode run end-to-end over an empty events table."""
    import os
    from dht11_data_pipeline_spark.plans import ext_queries as X
    from dht11_data_pipeline_spark.plans import queries as Q

    src = str(tmp_path / "sf_empty")
    os.makedirs(src, exist_ok=True)
    for t in ("events",):
        load_table(spark, "/root/testdata/sf0.001", t).limit(0) \
            .write.parquet(f"{src}/{t}.parquet")
    funnel = X.t_funnel_conversion(spark, src).collect()
    assert {r["stage"]: r["n_users"] for r in funnel} == {
        "view": 0, "click_after_view": 0, "purchase_after_click": 0}
    assert Q.a_mode_event_type(spark, src).count() == 0
    assert X.t_cohort_retention(spark, src).count() == 0


def test_write_path_empty_frames_are_local_relations(spark, tmp_path):
    """The empty history, the streaming sink's empty target and an absent
    intermediate partition are empty ``LocalRelation``s the optimizer
    can prune against, not opaque RDD scans."""
    from dht11_data_pipeline_spark.operators.layers import read_intermediate
    from dht11_data_pipeline_spark.pipeline import HIST_CFG, read_history

    staging = read_intermediate(spark, str(tmp_path / "wh"), 7)
    frames = {"read_history": read_history(spark, str(tmp_path / "wh")),
              "empty_target": empty_target(spark, staging, HIST_CFG),
              "read_intermediate": staging}
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan()
        assert plan.nodeName() == "LocalRelation", (name, plan.toString())
        assert df.count() == 0
