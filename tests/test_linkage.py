"""Unit tests for entity-resolution fuzzy joins and co-occurrence
affinity."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators import cooccur, linkage


def test_blocked_fuzzy_pairs_basics(spark):
    df = spark.createDataFrame(
        [
            (1, "B1", "red widget"),
            (2, "B1", "red widgets"),   # dist 1 to id 1
            (3, "B1", "blue gear"),     # far from both
            (4, "B2", "red widget"),    # same name, other block: no pair
            (5, "B2", "red widget"),    # exact within B2
        ],
        "id long, brand string, name string")
    out = linkage.blocked_fuzzy_pairs(df, ["brand"], "name", "id", max_dist=2)
    rows = {(r["id_a"], r["id_b"]): r for r in out.collect()}
    assert set(rows) == {(1, 2), (4, 5)}
    assert rows[(1, 2)]["dist"] == 1 and rows[(1, 2)]["match_grade"] == "near"
    assert rows[(4, 5)]["dist"] == 0 and rows[(4, 5)]["match_grade"] == "exact"


def test_length_prefilter_is_pure_optimization(spark, sf_dir):
    """The |len(a)-len(b)| <= d pre-filter must never change results
    (edit distance >= length difference)."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    a = part.selectExpr("p_brand", "p_partkey AS id_a", "p_name AS text_a")
    b = part.selectExpr("p_brand", "p_partkey AS id_b", "p_name AS text_b")
    unfiltered = (
        a.join(b, "p_brand").filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("text_a", "text_b"))
        .filter(F.col("dist") <= 2)
        .select("id_a", "id_b", "dist"))
    fast = linkage.blocked_fuzzy_pairs(
        part, ["p_brand"], "p_name", "p_partkey", max_dist=2
    ).select("id_a", "id_b", "dist")
    assert fast.exceptAll(unfiltered).count() == 0
    assert unfiltered.exceptAll(fast).count() == 0


def test_item_affinity_exact_small_case(spark):
    # u1: A x2, B x1; u2: A x1, B x1; u3: B x1, C x1
    df = spark.createDataFrame(
        [(1, "A"), (1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "B"), (3, "C")],
        "user_id long, event_type string")
    out = {(r["item_a"], r["item_b"]): r
           for r in cooccur.item_affinity(df).collect()}
    ab = out[("A", "B")]
    assert ab["n_users"] == 2 and ab["dot"] == 2 * 1 + 1 * 1
    na = math.sqrt(4 + 1)
    nb = math.sqrt(1 + 1 + 1)
    assert abs(ab["affinity"] - round(3 / (na * nb), 4)) < 1e-9
    bc = out[("B", "C")]
    assert bc["n_users"] == 1 and bc["dot"] == 1
    assert ("A", "C") not in out  # no shared user


def test_item_affinity_cap_noop_on_fixture_and_binds_on_power_user(spark, sf_dir):
    """The default max_items_per_user cap must be invisible on organic
    data (capped == uncapped on the events fixture) while actually
    truncating a synthetic power user's pair fan-out."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    capped = cooccur.item_affinity(events).collect()
    uncapped = cooccur.item_affinity(events, max_items_per_user=None).collect()
    key = lambda r: (r["item_a"], r["item_b"])  # noqa: E731
    assert sorted(map(tuple, capped), key=str) == sorted(map(tuple, uncapped), key=str)
    assert len(capped) > 0

    # one bot user interacting with 40 items: cap=5 bounds its fan-out
    # to C(5,2)=10 pairs instead of C(40,2)=780
    bot = spark.createDataFrame(
        [(99, f"item_{i:02d}") for i in range(40)],
        "user_id long, event_type string")
    out = cooccur.item_affinity(bot, max_items_per_user=5)
    assert out.count() == 10
    # determinism: the same 5 items survive on every run
    again = cooccur.item_affinity(bot, max_items_per_user=5)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_entity_clusters_transitive(spark):
    """A~B and B~C must land A, C in one entity even when
    dist(A, C) > max_dist — the closure over fuzzy pairs."""
    from dht11_data_pipeline_spark.operators import graph

    df = spark.createDataFrame(
        [
            (1, "B1", "red widget"),
            (2, "B1", "red widgets"),    # 1 edit from id 1
            (3, "B1", "red widgetsxx"),  # 2 edits from id 2, 3 from id 1
            (4, "B1", "blue gear"),      # singleton
        ],
        "id long, brand string, name string")
    pairs = linkage.blocked_fuzzy_pairs(
        df, ["brand"], "name", "id", max_dist=2
    ).selectExpr("id_a AS doc_a", "id_b AS doc_b")
    out = {r["id"]: r for r in
           graph.cluster_documents(df, pairs, id_col="id").collect()}
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"] == 1
    assert out[4]["cluster_id"] == 4
    assert out[1]["is_canonical"] == "Y" and out[3]["is_canonical"] == "N"
