"""Connected-components fixpoint + incremental-dedup equivalence."""

from __future__ import annotations

from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators import dedup
from dht11_data_pipeline_spark.operators.graph import (
    cluster_documents, connected_components)


def test_connected_components_chain_and_triangle(spark):
    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long")
    out = {r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_cluster_documents_includes_singletons(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "doc_a long, doc_b long")
    out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in cluster_documents(docs, pairs).collect()}
    assert out[0] == (0, "Y") and out[3] == (0, "N") and out[5] == (0, "N")
    for single in (1, 2, 4):
        assert out[single] == (single, "Y")


def test_incremental_equals_full_restricted(spark, sf_dir):
    """The incremental batch run must emit exactly the full run's pairs
    that touch a new doc — no extra pairs, none missed."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 4 == 0)
    old = docs.filter(F.col("doc_id") % 4 != 0)
    store = dedup.minhash_signature(old)
    inc = dedup.minhash_incremental_pairs(docs, store, new, threshold=0.5)
    full = dedup.minhash_near_duplicates(docs, threshold=0.5).filter(
        (F.col("doc_a") % 4 == 0) | (F.col("doc_b") % 4 == 0))
    assert inc.exceptAll(full).count() == 0
    assert full.exceptAll(inc).count() == 0


def test_batchwise_incremental_pairs_equal_oneshot(spark, sf_dir, tmp_path,
                                                    monkeypatch):
    """Four batches, each probing the stored signatures of the batches
    before it, emit together exactly the one-shot run's pairs. The
    probe never re-sketches the store: with the checkpoints off, so the
    whole lazy plan shows, a store of one batch and a store of three
    give plans with the same sketch (sha2), exchange and scan counts."""
    from dht11_data_pipeline_spark.plans.audit import (
        normalize_plan, physical_plan)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def stored_sigs(b):
        path = str(tmp_path / f"sigs{b}")
        dedup.minhash_signature(docs.filter(F.col("doc_id") % 4 < b)) \
            .write.parquet(path)
        return spark.read.parquet(path)

    got = set()
    for b in range(4):
        pairs = dedup.minhash_incremental_pairs(
            docs.filter(F.col("doc_id") % 4 <= b), stored_sigs(b),
            docs.filter(F.col("doc_id") % 4 == b), threshold=0.5)
        got |= {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    want = {(r["doc_a"], r["doc_b"]) for r in
            dedup.minhash_near_duplicates(docs, threshold=0.5).collect()}
    assert got == want and want

    # patch the CONCRETE DataFrame class (Spark 4: pyspark.sql.classic
    # subclasses the pyspark.sql.DataFrame ABC and overrides the method)
    monkeypatch.setattr(type(docs), "localCheckpoint",
                        lambda self, eager=True: self)

    def probe_plan(b):
        return normalize_plan(physical_plan(dedup.minhash_incremental_pairs(
            docs, spark.read.parquet(str(tmp_path / f"sigs{b}")),
            docs.filter(F.col("doc_id") % 4 == b))))

    p_small, p_large = probe_plan(1), probe_plan(3)
    assert p_small.count("sha2") == p_large.count("sha2") > 0
    for metric in ("Exchange hash", "Scan parquet", "MapInPandas"):
        assert p_small.count(metric) == p_large.count(metric), metric
    assert p_small.count("MapInPandas") == 0


def test_distributed_path_matches_union_find(spark):
    """Force the iterative propagation path (small_edge_limit=0) and
    pin that it matches the driver-side union-find on the same graph:
    a 5-chain, a triangle, and an isolated pair."""
    edges = [(1, 2), (2, 3), (3, 4), (4, 5),
             (10, 11), (11, 12), (10, 12),
             (20, 21)]
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    dist = {r["node"]: r["cluster_id"]
            for r in connected_components(pairs, small_edge_limit=0).collect()}
    uf = {r["node"]: r["cluster_id"]
          for r in connected_components(pairs).collect()}
    assert dist == uf
    assert dist[5] == 1 and dist[12] == 10 and dist[21] == 20


def test_star_components_long_chain(spark):
    """A 60-hop path graph: diameter 60 converges in O(log^2 n) star
    rounds (min-label propagation would need 60 rounds and trip the
    iteration cap). Every node must label to the chain minimum."""
    edges = [(i, i + 1) for i in range(60)]
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    out = {r["node"]: r["cluster_id"]
           for r in connected_components(pairs, max_iterations=25,
                                         small_edge_limit=0).collect()}
    assert len(out) == 61
    assert set(out.values()) == {0}


def test_star_components_random_graph_matches_union_find(spark):
    """Deterministic pseudo-random graph: the distributed star path and
    the driver union-find agree exactly."""
    edges = [((i * 7919) % 211, (i * 104729) % 211) for i in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    dist = {r["node"]: r["cluster_id"]
            for r in connected_components(pairs, small_edge_limit=0).collect()}
    uf = {r["node"]: r["cluster_id"]
          for r in connected_components(pairs).collect()}
    assert dist == uf


def test_pagerank_integer_laws(spark):
    from pyspark.sql import functions as F

    from dht11_data_pipeline_spark.operators.graph import pagerank_integer

    nodes = spark.createDataFrame([(i,) for i in range(8)], "node long")
    #   0-1-2 triangle-ish chain, 3 isolated, 4-5 pair, 6-7 pair
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5), (6, 7)], "id_a long, id_b long")
    out = {r["node"]: r for r in pagerank_integer(nodes, pairs).collect()}
    assert len(out) == 8
    # isolated node at the baseline
    assert out[3]["rank_ppm"] == 150000 and out[3]["degree"] == 0
    # symmetric pairs get identical ranks
    assert out[4]["rank_ppm"] == out[5]["rank_ppm"] == out[6]["rank_ppm"]
    # chain middle (node 1, degree 2) outranks the endpoints
    assert out[1]["degree"] == 2
    assert out[1]["rank_ppm"] > out[0]["rank_ppm"] == out[2]["rank_ppm"]
    # determinism across re-runs (integer arithmetic end-to-end)
    again = {r["node"]: r["rank_ppm"]
             for r in pagerank_integer(nodes, pairs).collect()}
    assert again == {k: v["rank_ppm"] for k, v in out.items()}
