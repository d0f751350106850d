"""Round-14 optimization equivalence pins: every operator whose
internals changed this round is pinned against its previous form —
bit-identical where the arithmetic is integer/lookup-identical, tight
float tolerance where only summation order moved (kmeans means)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators import dedup, pq, textops
from dht11_data_pipeline_spark.operators.dedup import (
    MINHASH_A, MINHASH_B, MINHASH_P, _doc_shingles)
from dht11_data_pipeline_spark.sources.tables import load_table


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------------------
# minhash: shuffle-free HOF signature == explode+groupBy-min reference
# ---------------------------------------------------------------------------

def _minhash_signature_explode_ref(df, text_col="text", id_col="doc_id",
                                   n=3, num_hashes=8):
    """The pre-r14 explode + groupBy-min form, kept as the reference."""
    base = F.pmod(
        F.conv(F.substring(F.sha2(F.col("shingle"), 256), 1, 15), 16, 10)
        .cast("bigint"), F.lit(MINHASH_P))
    inv = (_doc_shingles(df, text_col, id_col, n)
           .select(F.col(id_col), F.explode("shingle_set").alias("shingle"))
           .select(F.col(id_col), base.alias("_base")))
    mins = [
        F.min((F.col("_base") * MINHASH_A[s] + MINHASH_B[s]) % MINHASH_P)
        .alias(f"_h{s}")
        for s in range(num_hashes)
    ]
    return (inv.groupBy(id_col).agg(*mins)
            .select(F.col(id_col),
                    F.array(*[F.col(f"_h{s}")
                              for s in range(num_hashes)])
                    .alias("signature")))


def test_minhash_hof_signature_matches_explode_form(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    new = dedup.minhash_signature(docs)
    ref = _minhash_signature_explode_ref(docs)
    assert new.exceptAll(ref).count() == 0
    assert ref.exceptAll(new).count() == 0
    # short docs (< n tokens) are absent from BOTH forms
    n_short = docs.filter(
        F.size(F.split("text", " ")) < 3).count()
    assert new.count() == docs.count() - n_short


# ---------------------------------------------------------------------------
# kmeans: partial-sum recompute ≈ the posexplode/avg form (order-only drift)
# ---------------------------------------------------------------------------

def _recompute_explode_ref(assigned, vec_col):
    """The pre-r14 posexplode → (cluster, dim) avg → collect form."""
    dims = assigned.select(
        "cluster_id", F.posexplode(vec_col).alias("dim", "val"))
    means = (dims.groupBy("cluster_id", "dim")
             .agg(F.avg(F.col("val").cast("double")).alias("m")))
    rows = (means.groupBy("cluster_id")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m")))
                 .alias("dm"))
            .select("cluster_id", F.col("dm.m").alias("vec"))
            .collect())
    return sorted((r["cluster_id"], list(r["vec"])) for r in rows)


def test_kmeans_partial_sum_recompute_matches_explode_form(spark, sf_dir):
    from dht11_data_pipeline_spark.operators.kmeans import (
        _recompute, assign_clusters, select_centroids)
    emb = _emb(spark, sf_dir)
    init = select_centroids(emb, k=10)
    assigned = assign_clusters(emb, init).localCheckpoint()
    got = _recompute(assigned, "embedding")
    ref = _recompute_explode_ref(assigned, "embedding")
    assert [c for c, _ in got] == [c for c, _ in ref]
    for (_, gv), (_, rv) in zip(got, ref):
        np.testing.assert_allclose(gv, rv, rtol=1e-12, atol=0)


def test_fused_assign_recompute_matches_two_pass(spark, sf_dir):
    """The fused one-job Lloyd round must reproduce the two-pass
    assign_clusters -> _recompute centroids (bit-identical per-row
    arithmetic; only Arrow batch boundaries may move the addition
    tree, bounded at 1e-12 relative like the partial-sum pin)."""
    from dht11_data_pipeline_spark.operators.kmeans import (
        _assign_recompute, _recompute, assign_clusters, select_centroids)
    emb = _emb(spark, sf_dir).localCheckpoint()
    cents = select_centroids(emb, k=10)
    ref = _recompute(assign_clusters(emb, cents), "embedding")
    got = _assign_recompute(emb, cents, "vec_id", "embedding")
    assert [c for c, _ in got] == [c for c, _ in ref]
    for (_, gv), (_, rv) in zip(got, ref):
        np.testing.assert_allclose(gv, rv, rtol=1e-12, atol=0)


def test_fused_assign_recompute_matches_two_pass_on_double_vectors(spark):
    """An array<double> corpus: assign_clusters hands _recompute the
    vectors as array<float>, so the fused pass must round them the same
    way; on one Arrow batch per partition the centroids are then
    exactly equal."""
    from dht11_data_pipeline_spark.operators.kmeans import (
        _assign_recompute, _recompute, assign_clusters)
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=4) / 3.0])
            for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, rows[0][1]), (1, rows[1][1]), (2, rows[2][1])]
    ref = _recompute(assign_clusters(emb, cents), "embedding")
    got = _assign_recompute(emb, cents, "vec_id", "embedding")
    assert got == ref


def test_lloyd_rejects_assigned_without_centroids(spark, sf_dir):
    import pytest
    from dht11_data_pipeline_spark.operators.kmeans import (
        assign_clusters, lloyd_kmeans, select_centroids)
    emb = _emb(spark, sf_dir)
    a0 = assign_clusters(emb, select_centroids(emb, k=5))
    with pytest.raises(ValueError, match="init_assigned requires"):
        lloyd_kmeans(spark, emb, k=5, init_assigned=a0)


# ---------------------------------------------------------------------------
# PQ: fused encode+ADC == the two-pass encode_pq → remap-lookup reference
# ---------------------------------------------------------------------------

def _pq_scored_two_pass_ref(emb, queries, cbs, m, id_col="vec_id",
                            vec_col="embedding"):
    """The pre-r14 two-pass scoring (encode_pq frame + remap lookups),
    reproduced driver-side in numpy for an exact row-level reference."""
    q_rows = sorted(queries.select(id_col, vec_col).collect(),
                    key=lambda r: r[id_col])
    qids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    qmat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    qnorm = np.sqrt((qmat ** 2).sum(axis=1))
    subdim = qmat.shape[1] // m
    remap, dot_tabs, normsq_tabs = {}, [], []
    for s in range(m):
        cb = sorted(cbs[s])
        remap[s] = {code: i for i, (code, _) in enumerate(cb)}
        cmat = np.array([v for _, v in cb], dtype=np.float64)
        dot_tabs.append(qmat[:, s * subdim:(s + 1) * subdim] @ cmat.T)
        normsq_tabs.append((cmat ** 2).sum(axis=1))
    codes = {r[id_col]: r["codes"]
             for r in pq.encode_pq(emb, cbs, m, id_col, vec_col).collect()}
    out = {}
    for nid, cs in codes.items():
        idx = [remap[s][cs[s]] for s in range(m)]
        nsq = sum(normsq_tabs[s][idx[s]] for s in range(m))
        dots = np.zeros(len(qids))
        for s in range(m):
            dots = dots + dot_tabs[s][:, idx[s]]
        cos = dots / (np.sqrt(nsq) * qnorm)
        for qi, qid in enumerate(qids):
            out[(int(qid), int(nid))] = float(cos[qi])
    return out


def test_pq_fused_scoring_matches_two_pass_reference(spark):
    emb = _emb(spark, "/root/testdata/sf0.001")
    cbs = pq.train_pq(spark, emb, m=8, n_codes=16, iters=1, train_mod=2)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    got = pq.pq_topk(emb, queries, cbs, m=8, k=5)
    ref = _pq_scored_two_pass_ref(emb, queries, cbs, m=8)
    rows = got.collect()
    assert rows
    for r in rows:
        key = (int(r["query_id"]), int(r["neighbor_id"]))
        assert key in ref
        assert r["approx_cos"] == ref[key], key  # bit-identical lookups


def test_ivfpq_fused_cell_assign_matches_assign_clusters(spark):
    """The fused pass's cell argmin must equal assign_clusters' for
    every corpus row (same float64 arithmetic, same tie rule)."""
    from dht11_data_pipeline_spark.operators.kmeans import (
        assign_clusters, select_centroids)
    emb = _emb(spark, "/root/testdata/sf0.001")
    cents = select_centroids(emb, k=10)
    ref = {r["vec_id"]: r["cluster_id"]
           for r in assign_clusters(emb, cents).collect()}
    cmat = np.array([v for _, v in cents], dtype=np.float64)
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    for r in emb.select("vec_id", "embedding").collect():
        x = np.array(r["embedding"], dtype=np.float64)
        d2 = ((x[None, :] - cmat) ** 2).sum(axis=1)
        assert int(cids[d2.argmin()]) == int(ref[r["vec_id"]]), r["vec_id"]


# ---------------------------------------------------------------------------
# BPE driver tier: Java-dot padding parity + the k·n_words gate
# ---------------------------------------------------------------------------

def test_bpe_tiers_agree_on_carriage_return_token(spark):
    """ADVICE r13: a word carrying a bare CR pads differently under
    Python's dot (matches \\r) vs Java's (excludes all line
    terminators). The driver tier now mirrors Java's complement —
    both tiers must emit identical merges on a CRLF-ish corpus."""
    df = spark.createDataFrame(
        [(1, "ab\rab ab\rab cd cd cd"), (2, "ab\rab xx yy")],
        "doc_id long, text string")
    drv = textops.bpe_vocab(df, k=3).collect()
    dist = textops.bpe_vocab(df, k=3, driver_vocab_limit=None).collect()
    assert sorted(map(tuple, drv)) == sorted(map(tuple, dist))


def test_bpe_kn_gate_falls_through_to_distributed(spark, monkeypatch):
    """k·n_words over BPE_DRIVER_KN_LIMIT must run the distributed
    tier even when the vocabulary is under the size gate — pinned by
    shrinking the budget so the fixture corpus exceeds it."""
    df = spark.createDataFrame(
        [(1, "aa bb cc dd"), (2, "aa bb ee ff")],
        "doc_id long, text string")
    ref = textops.bpe_vocab(df, k=2).collect()
    monkeypatch.setattr(textops, "BPE_DRIVER_KN_LIMIT", 1)
    got = textops.bpe_vocab(df, k=2).collect()  # now distributed
    assert sorted(map(tuple, got)) == sorted(map(tuple, ref))


# ---------------------------------------------------------------------------
# graph: numpy wedge kernel == the dict center loop, row for row
# ---------------------------------------------------------------------------

def _wedge_frames_equal(pdf_a, pdf_b):
    assert list(pdf_a.columns) == list(pdf_b.columns)
    assert len(pdf_a) == len(pdf_b)
    for col in pdf_a.columns:
        av = list(pdf_a[col])
        bv = list(pdf_b[col])
        assert av == bv, col


def test_wedge_numpy_kernel_matches_dict_loop():
    """Dense random-ish graph with hubs past the center cap: the
    vectorized kernel must reproduce the dict loop's rows, values AND
    row order for both flavors (AA weights / jaccard)."""
    import numpy as np
    from dht11_data_pipeline_spark.operators import graph
    rng = [(a * 7919 + b * 104729) % 97 for a in range(40) for b in range(3)]
    edges = set()
    nodes = list(range(1, 30)) + [1000, 2000]  # 2 hub ids
    for i, r in enumerate(rng):
        a = nodes[r % len(nodes)]
        b = nodes[(r // 7 + i) % len(nodes)]
        if a != b:
            edges.add((min(a, b), max(a, b)))
    # wire the hubs to most nodes so the cap actually excludes them
    for m in nodes[:20]:
        edges.add((min(m, 1000), max(m, 1000)))
        edges.add((min(m, 2000), max(m, 2000)))
    edge_rows = sorted(edges)
    for aa in (True, False):
        for cap in (None, 10):
            ref = graph._pair_similarity_dicts(edge_rows, cap, aa)
            got = graph._pair_similarity_numpy(
                np.asarray(edge_rows, dtype=np.int64), cap, aa)
            _wedge_frames_equal(got, ref)


def test_wedge_driver_falls_back_to_dicts_for_string_ids():
    from dht11_data_pipeline_spark.operators import graph
    from pyspark.sql.types import StringType
    edge_rows = [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d")]
    got = graph._pair_similarity_driver(edge_rows, None, False, StringType())
    ref = graph._pair_similarity_dicts(edge_rows, None, False)
    _wedge_frames_equal(got, ref)


def test_wedge_kernels_agree_on_a_duplicated_edge(spark):
    """Under ``assume_canonical=True`` nothing deduplicates the edge
    list, so a repeated edge reaches the driver kernel. An int-id graph
    (numpy kernel) and the same graph with string ids (dict loop) give
    the same pairs, and both equal the graph without the repeat."""
    from dht11_data_pipeline_spark.operators import graph
    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (2, 4), (4, 5)]
    name = {i: chr(ord("a") + i) for i in range(1, 6)}

    def run(op, rows, typ):
        df = spark.createDataFrame(rows, f"id_a {typ}, id_b {typ}")
        return sorted(tuple(r) for r in
                      op(df, assume_canonical=True).collect())

    for op in (graph.neighbor_jaccard, graph.adamic_adar):
        dup = edges + [(1, 2), (3, 4)]
        ints = run(op, dup, "bigint")
        strs = run(op, [(name[a], name[b]) for a, b in dup], "string")
        assert [(name[r[0]], name[r[1]]) + r[2:] for r in ints] == strs
        assert ints == run(op, edges, "bigint")


def test_wedge_numpy_respects_wedge_limit(monkeypatch):
    import numpy as np
    from dht11_data_pipeline_spark.operators import graph
    edge_rows = [(1, 2), (1, 3), (1, 4), (2, 3)]
    monkeypatch.setattr(graph, "DRIVER_WEDGE_LIMIT", 1)
    assert graph._pair_similarity_numpy(
        np.asarray(edge_rows, dtype=np.int64), None, True) is None
    assert graph._pair_similarity_dicts(edge_rows, None, True) is None


# ---------------------------------------------------------------------------
# contamination: the shared flagged-docs frame changes no rows
# ---------------------------------------------------------------------------

def _sdg_expression_ref(df, n=7, group_col="source", text_col="text",
                        id_col="doc_id"):
    """The pre-r14 expression form of the index's (src, doc, gram)
    explode — kept as the reference the Arrow pass must match."""
    from dht11_data_pipeline_spark.functions.text import shingles
    from dht11_data_pipeline_spark.operators.textops import tokens
    return (df.select(F.col(group_col).alias("src"),
                      F.col(id_col).alias("doc"),
                      F.explode(shingles(tokens(text_col), n)).alias("gram"))
            .distinct())


def test_contamination_index_gram_pass_matches_expression_form(spark, sf_dir):
    """The Python split/join gram builder must emit exactly the rows
    the zip_with/concat_ws expression form emits — on the fixture
    corpus AND on split()-semantics edge cases (multi-space runs,
    leading/trailing spaces, empty text, short docs)."""
    from dht11_data_pipeline_spark.operators import textops
    docs = _docs(spark, sf_dir)
    idx = textops.contamination_index(docs)
    # the index's sdg rows are (src, doc, gram) of the banded join —
    # compare at the raw explode level instead, via a tiny shim of the
    # same _sdg_pass wiring: rebuild the index from the reference
    # explode and require identical output rows
    from dht11_data_pipeline_spark.operators.textops import (
        MAX_SOURCES_PER_GRAM)
    sdg_ref = _sdg_expression_ref(docs)
    stats = (sdg_ref.groupBy("gram")
             .agg(F.count_distinct("src").alias("_n_src"),
                  F.count(F.lit(1)).alias("n_docs_gram")))
    ref = sdg_ref.join(
        stats.filter(F.col("_n_src").between(2, MAX_SOURCES_PER_GRAM))
        .select("gram", "n_docs_gram"), "gram")
    assert idx.exceptAll(ref).count() == 0
    assert ref.exceptAll(idx).count() == 0

    edge = spark.createDataFrame(
        [(1, "A", "a  b c d e f g h"),      # double space -> empty token
         (2, "A", " a b c d e f g"),         # leading space
         (3, "B", "a b c d e f g "),         # trailing space
         (4, "B", ""),                        # empty text
         (5, "C", "a b c"),                   # shorter than n
         (6, "C", "a b c d e f g"),           # exactly n
         (7, "A", "a b c d e f g")],          # duplicate-content doc
        "doc_id long, source string, text string")
    got = textops.contamination_index(edge, n=7)
    sdg_e = _sdg_expression_ref(edge, n=7)
    stats_e = (sdg_e.groupBy("gram")
               .agg(F.count_distinct("src").alias("_n_src"),
                    F.count(F.lit(1)).alias("n_docs_gram")))
    ref_e = sdg_e.join(
        stats_e.filter(F.col("_n_src").between(2, MAX_SOURCES_PER_GRAM))
        .select("gram", "n_docs_gram"), "gram")
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, ref_e.collect()))


def test_pos_spans_keep_docs_variant_is_row_identical(spark):
    copy = "c1 c2 c3 c4 c5 c6 c7 c8"
    df = spark.createDataFrame(
        [(1, "A", f"x1 x2 {copy} y1"),
         (2, "B", f"z1 {copy} w1 w2")],
        "doc_id long, source string, text string")
    plain = textops.contamination_pos_spans(df)
    runs, fdocs = textops._pos_spans_runs(
        df, n=7, top_k=5, runs_per_pair=10, group_col="source",
        text_col="text", id_col="doc_id",
        max_sources_per_gram=textops.MAX_SOURCES_PER_GRAM,
        max_docs_per_gram=textops.MAX_DOCS_PER_GRAM,
        index=None, keep_docs=True)
    assert {tuple(r) for r in plain.collect()} \
        == {tuple(r) for r in runs.collect()}
    # fdocs carries exactly the flagged docs with their text
    assert {(r["doc_id"], r["text"]) for r in fdocs.collect()} \
        == {(r["doc_id"], r["text"]) for r in df.collect()}
