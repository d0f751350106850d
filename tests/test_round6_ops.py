"""Round-6 operators: k-core peeling, Adamic-Adar, and the Matryoshka
rerank."""

from __future__ import annotations

from pyspark.sql import functions as F


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_kcore_peel_clique_plus_chain(spark):
    from dht11_data_pipeline_spark.operators.graph import kcore_peel
    # 4-clique (1..4) is the 3-core; the chain 4-5-6-7 and the
    # triangle 8-9-10 (a 2-core only) must peel away at k=3
    edges = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                           (4, 5), (5, 6), (6, 7),
                           (8, 9), (9, 10), (8, 10)])
    got = {r["node"]: (r["in_kcore"], r["core_degree"])
           for r in kcore_peel(edges, k=3).collect()}
    assert {n for n, (f, _) in got.items() if f == "Y"} == {1, 2, 3, 4}
    assert all(d == 3 for n, (f, d) in got.items() if f == "Y")
    assert all(d == 0 for n, (f, d) in got.items() if f == "N")
    assert set(got) == set(range(1, 11))


def test_kcore_peel_cascading_chain_converges(spark):
    from dht11_data_pipeline_spark.operators.graph import kcore_peel
    # k=2 peel of a pure path must cascade from both ends, one hop per
    # round, and end empty — exercises the multi-round fixpoint exit
    path = _edges(spark, [(i, i + 1) for i in range(1, 12)])
    got = kcore_peel(path, k=2, max_rounds=30).collect()
    assert all(r["in_kcore"] == "N" and r["core_degree"] == 0 for r in got)
    # a cycle is its own 2-core: nothing peels
    cycle = _edges(spark, [(i, i + 1) for i in range(1, 6)] + [(6, 1)])
    got = kcore_peel(cycle, k=2).collect()
    assert all(r["in_kcore"] == "Y" and r["core_degree"] == 2 for r in got)


def test_adamic_adar_hand_example(spark):
    from dht11_data_pipeline_spark.operators.graph import adamic_adar
    # star center 1 with leaves 2,3,4 plus edge 2-3: every leaf pair
    # shares center 1 (deg 3 -> weight 333333); pair (2,3) additionally
    # IS an edge, and 4 shares no low-degree neighbor with anyone else
    edges = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3)])
    got = {(r["id_a"], r["id_b"]): (r["n_common"], r["aa_ppm"], r["is_edge"])
           for r in adamic_adar(edges).collect()}
    assert got[(2, 3)] == (1, 333333, "Y")
    assert got[(2, 4)] == (1, 333333, "N")
    assert got[(3, 4)] == (1, 333333, "N")
    # pair (1, 2) shares neighbor 3 (deg 2 -> 500000); (1, 4) shares none
    assert got[(1, 2)] == (1, 500000, "Y")
    assert (1, 4) not in got


def test_adamic_adar_center_cap(spark):
    from dht11_data_pipeline_spark.operators.graph import adamic_adar
    edges = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3)])
    # cap below the star center's degree: only centers of deg <= 2
    # (nodes 2 and 3) enumerate wedges, so leaf pairs through center 1
    # disappear and only the wedges 3-(2)-1 and 2-(3)-1 remain
    got = {(r["id_a"], r["id_b"]): r["aa_ppm"]
           for r in adamic_adar(edges, max_center_degree=2).collect()}
    assert set(got) == {(1, 2), (1, 3)}
    assert got[(1, 2)] == 500000 and got[(1, 3)] == 500000


def test_matryoshka_rerank_shape_and_exactness(spark):
    import math

    from dht11_data_pipeline_spark.operators.similarity import (
        cosine_topk, matryoshka_topk)
    # vectors whose 4-dim prefix ranks DIFFERENTLY from the full 8 dims:
    # the rerank stage must restore the exact full-dim order within the
    # candidate set
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0, 3.0, 0.0, 0.0, 0.0]),   # prefix-close, full-far
        (2, [0.7, 0.3, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),   # prefix-mid, full-close
        (3, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (4, [0.6, 0.4, 0.0, 0.0, 0.1, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 0)
    got = (matryoshka_topk(emb, q, k=2, prefix_dim=4, overfetch=2)
           .orderBy("rank").collect())
    assert [r["rank"] for r in got] == [1, 2]
    # full-dim order must match the exact brute-force ranking (all 4
    # neighbors are candidates at k*overfetch=4)
    exact = (cosine_topk(emb, q, k=2).orderBy("rank").collect())
    assert [(r["neighbor_id"], r["sim"]) for r in got] == \
        [(r["neighbor_id"], r["sim"]) for r in exact]
    # prefix_sim really is the prefix-slice cosine
    for r in got:
        a = rows[0][1][:4]
        b = rows[r["neighbor_id"]][1][:4]
        dp = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        assert abs(r["prefix_sim"] - round(dp / (na * nb), 4)) <= 1e-4


def test_kcore_tiers_agree(spark):
    from dht11_data_pipeline_spark.operators.graph import kcore_peel
    # clique + chain + triangle, forced down BOTH execution tiers —
    # the distributed capped-round loop must equal the driver peel
    edges = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                           (4, 5), (5, 6), (6, 7),
                           (8, 9), (9, 10), (8, 10)])
    drv = sorted(map(tuple, kcore_peel(edges, k=3).collect()))
    dist = sorted(map(tuple,
                      kcore_peel(edges, k=3, small_edge_limit=0).collect()))
    assert drv == dist
    # and under a binding round cap both tiers stop at the same
    # intermediate state: one k=2 round on a path only trims the ends
    path = _edges(spark, [(i, i + 1) for i in range(1, 6)])
    drv = sorted(map(tuple, kcore_peel(path, k=2, max_rounds=1).collect()))
    dist = sorted(map(tuple, kcore_peel(path, k=2, max_rounds=1,
                                        small_edge_limit=0).collect()))
    assert drv == dist
    survivors = {n for n, f, _ in drv if f == "Y"}
    assert survivors == {2, 3, 4, 5}
