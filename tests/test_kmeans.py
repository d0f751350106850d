"""Lloyd k-means: objective non-increasing, deterministic, exhaustive
partition of the corpus, and refinement over the raw IVF sample."""

from __future__ import annotations

from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators.kmeans import (
    assign_clusters, inertia, lloyd_kmeans, select_centroids)
from dht11_data_pipeline_spark.sources.tables import load_table


def _corpus(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_objective_non_increasing_and_refines_ivf_sample(spark, sf_dir):
    emb = _corpus(spark, sf_dir)
    init = select_centroids(emb, k=50)
    start = inertia(assign_clusters(emb, init))
    assigned, centroids = lloyd_kmeans(spark, emb, k=50, max_iter=3)
    end = inertia(assigned)
    assert end <= start + 1e-9, (start, end)
    assert end < start, "3 Lloyd rounds should strictly refine this data"
    assert len(centroids) == len(init)


def test_select_centroids_fixed_k_matches_sql_oracle(spark, sf_dir):
    """The fixed-k sample is (a) exactly k rows however big the corpus,
    (b) bit-identical to the DuckDB ORDER BY hash, id LIMIT k twin the
    oracles use — the cross-engine contract behind every fixed-k
    seeding (kmeans / IVF / PQ / IVF-PQ)."""
    import duckdb

    emb = _corpus(spark, sf_dir)
    got = select_centroids(emb, k=13)
    assert len(got) == 13
    want_ids = [r[0] for r in duckdb.sql(
        f"SELECT vec_id FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY ((vec_id % 1000000007) * 2654435761) % 1000000007, vec_id "
        "LIMIT 13").fetchall()]
    assert sorted(c for c, _ in got) == sorted(want_ids)
    # legacy mod seeding still reproduces the old oracle-twin behavior
    _, c_mod = lloyd_kmeans(spark, emb, centroid_mod=40, max_iter=1)
    n_mod = emb.filter(F.col("vec_id") % 40 == 0).count()
    assert len(c_mod) == n_mod


def test_assignment_partitions_corpus(spark, sf_dir):
    emb = _corpus(spark, sf_dir)
    assigned, centroids = lloyd_kmeans(spark, emb, max_iter=2)
    assert assigned.count() == emb.count()
    assert assigned.select("vec_id").distinct().count() == emb.count()
    valid = {cid for cid, _ in centroids}
    got = {r["cluster_id"] for r in assigned.select("cluster_id").distinct().collect()}
    assert got <= valid


def test_deterministic_across_runs(spark, sf_dir):
    emb = _corpus(spark, sf_dir)
    a1, c1 = lloyd_kmeans(spark, emb, max_iter=2)
    a2, c2 = lloyd_kmeans(spark, emb, max_iter=2)
    assert c1 == c2
    r1 = sorted((r["vec_id"], r["cluster_id"]) for r in a1.collect())
    r2 = sorted((r["vec_id"], r["cluster_id"]) for r in a2.collect())
    assert r1 == r2


def test_zero_centroids_fail_on_the_driver(spark):
    """No centroid to assign to is a caller error: it must raise the
    same driver-side ValueError as ``assign_clusters``, before any
    Lloyd round launches a job, not a numpy error inside a task."""
    import uuid

    import pytest

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 4)],
        "vec_id long, embedding array<float>")
    sc = spark.sparkContext
    group = f"kmeans-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "zero-centroid pin")
    try:
        with pytest.raises(ValueError, match="need at least one centroid"):
            lloyd_kmeans(spark, corpus, init_centroids=[])
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    # the legacy id-modulo seeding matching no id takes the same exit
    with pytest.raises(ValueError, match="need at least one centroid"):
        lloyd_kmeans(spark, corpus, centroid_mod=100)
