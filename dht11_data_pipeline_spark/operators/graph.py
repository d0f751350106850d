"""Iterative graph operators — connected components for dedup
clustering.

Near-duplicate pairs are edges; the duplicate *groups* a curation
pipeline actually needs are the transitive closure (A~B, B~C puts A
and C in one group even if they never matched directly). Component id
= the minimum doc id reachable, so the canonical representative of a
cluster is its smallest id — deterministic in any engine.

Algorithm, two tiers:
- small graphs (edge list under ``SMALL_EDGE_LIMIT``): driver-side
  union-find — near-dup edge lists are the reduced OUTPUT of a dedup
  pass, usually tiny next to the corpus;
- large graphs: alternating large-star / small-star rounds (Kiveris
  et al., "Connected Components in MapReduce and Beyond") — O(log² n)
  rounds on ANY graph, where plain min-label propagation needs
  diameter-many rounds (a 100-hop chain of near-dups would stall it).
``localCheckpoint`` truncates the lineage each round so the plan
doesn't grow with the iteration count (the classic
iterative-algorithm trap on Spark).

This is deliberately a driver-side loop over declarative steps — the
reference has no iterative computation at all (SURVEY §4.3); this is
the one extension operator whose control flow can't be a single plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Hub-center cap for wedge enumeration (neighbor_jaccard): centers with
# degree above this are excluded from common-neighbor counting — the
# Adamic-Adar truncation. Shared with the SQL oracle (plans/ext_oracles)
# so both sides compute the same capped semantics.
MAX_CENTER_DEGREE = 10_000


def _union_find_components(edge_rows: list[tuple], spark,
                           node_type) -> DataFrame:
    """Driver-side union-find over a collected edge list; returns the
    same (node, cluster_id=min member) frame as the distributed path,
    typed after the caller's id column (ids only need to be orderable).
    O(E α(E)) — microseconds per edge — versus one Spark job round per
    graph-diameter step."""
    from pyspark.sql import types as T
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    rows = [(n, comp_min[find(n)]) for n in parent]
    schema = T.StructType([T.StructField("node", node_type),
                           T.StructField("cluster_id", node_type)])
    return spark.createDataFrame(rows, schema)


# near-dup edge lists are the REDUCED output of a dedup pass — usually
# tiny next to the corpus. Below this count union-find on the driver
# beats log²-many Spark job rounds. Budget honestly for the ARROW
# collect path (toPandas of two primitive columns): 1M int64 pairs are
# 16 MB over the wire; the tuple list + parent/min dicts peak at a few
# hundred MB of Python heap — safe under the 8 GB driver (the old
# Row-object collect measured ~10× that, which is why the previous
# limit sat at 200k). Above the limit the star rounds run fully
# distributed.
SMALL_EDGE_LIMIT = 1_000_000


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b",
                         max_iterations: int = 25,
                         small_edge_limit: int = SMALL_EDGE_LIMIT) -> DataFrame:
    """Resolve undirected edges (a, b) to (node, cluster_id) where
    cluster_id = min node id in the component. Only nodes that appear
    in at least one edge are returned (callers union in singletons).

    Hybrid execution: if the count of DISTINCT RAW PAIRS (undirected —
    not the doubled symmetrized edge set, which is what the driver
    would actually collect anyway) is under ``small_edge_limit`` the
    closure runs as driver-side union-find over one Arrow collect (the
    same O(small) driver contract as kmeans centroids / PQ codebooks);
    otherwise the large-star/small-star rounds run fully distributed."""
    # the deduped pair projection feeds either the collect or both
    # symmetrize branches — persist or the (possibly expensive: LSH
    # bucket joins) pair computation runs twice
    und = pairs.select(a_col, b_col).distinct().persist()
    n_pairs = und.count()
    if n_pairs <= small_edge_limit:
        node_type = und.schema[a_col].dataType
        spark = und.sparkSession
        pdf = und.toPandas()  # Arrow: two primitive columns, no Rows
        und.unpersist()
        rows = list(zip(pdf[a_col].tolist(), pdf[b_col].tolist()))
        return _union_find_components(rows, spark, node_type)
    fwd = und.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    rev = und.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    edges = fwd.union(rev).distinct()
    labels = _star_components(edges, max_iterations)
    und.unpersist()
    return labels


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every neighbor STRICTLY LARGER than u re-links to
    min(N(u) ∪ {u}). Halves long chains each round."""
    mn = (edges.groupBy("src")
          .agg(F.least(F.min("dst"), F.first("src")).alias("mn")))
    return (edges.join(mn, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("a"), F.col("mn").alias("b")))


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: u and its ≤-neighbors all re-link to the minimum of
    that closed neighborhood."""
    le = edges.filter(F.col("dst") <= F.col("src"))
    mn = (le.groupBy("src")
          .agg(F.least(F.min("dst"), F.first("src")).alias("mn")))
    nbr_links = (le.join(mn, "src")
                 .filter(F.col("dst") != F.col("mn"))
                 .select(F.col("dst").alias("a"), F.col("mn").alias("b")))
    self_links = (mn.filter(F.col("src") != F.col("mn"))
                  .select(F.col("src").alias("a"), F.col("mn").alias("b")))
    return nbr_links.union(self_links)


def _symmetrize(und: DataFrame) -> DataFrame:
    fwd = und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    rev = und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    return fwd.union(rev).filter(F.col("src") != F.col("dst")).distinct()


def _star_components(edges: DataFrame, max_iterations: int) -> DataFrame:
    """Alternating large-star / small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): converges in
    O(log² n) rounds on ANY graph — unlike plain min-label propagation,
    whose round count is the graph DIAMETER (a 100-hop near-dup chain
    would need 100 rounds). Each round is two groupBy-min + join
    passes; ``localCheckpoint`` truncates lineage per round. Fixpoint =
    the undirected edge set stops changing; at that point every node
    points at its component minimum (a star). The convergence test is
    EXACT but pays at most one anti-semi job per round: equal counts +
    empty exceptAll ⟺ equal multisets, and the exceptAll is skipped
    entirely while the counts still differ (every round but the last)."""
    cur = edges.localCheckpoint()
    nodes = cur.select(F.col("src").alias("node")).distinct().localCheckpoint()
    cur_n = cur.count()
    for _ in range(max_iterations):
        nxt = (_symmetrize(_small_star(_symmetrize(_large_star(cur))))
               .localCheckpoint(eager=False))
        nxt_n = nxt.count()
        converged = nxt_n == cur_n and nxt.exceptAll(cur).isEmpty()
        cur, cur_n = nxt, nxt_n
        if converged:
            break
    else:
        raise RuntimeError(
            f"star components did not converge in {max_iterations} rounds")
    # stars: each non-root node has exactly one neighbor = component min
    roots = cur.groupBy("src").agg(F.min("dst").alias("label"))
    return (nodes.join(roots, nodes.node == roots.src, "left")
            .select("node",
                    F.when(F.col("label") < F.col("node"), F.col("label"))
                    .otherwise(F.col("node")).alias("cluster_id")))


def cluster_documents(docs: DataFrame, pairs: DataFrame,
                      id_col: str = "doc_id") -> DataFrame:
    """Assign every document a cluster id: transitive near-dup closure
    for matched docs, own id for singletons; flag the canonical
    (minimum-id) member per cluster."""
    comp = connected_components(pairs)
    return (
        docs.select(id_col)
        .join(comp, docs[id_col] == comp.node, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
        .withColumn(
            "is_canonical",
            F.when(F.col(id_col) == F.col("cluster_id"), "Y").otherwise("N"))
    )


def _collect_canonical(pairs: DataFrame, a_col: str, b_col: str,
                       assume_canonical: bool,
                       small_edge_limit: int):
    """Shared small-graph gate: canonicalize + persist + count the pair
    list; if it fits the driver budget, Arrow-collect it and return
    (edge_rows, node_type, spark) — else return (None, persisted_und).
    Every graph operator's driver tier starts here, so the collect
    contract (two primitive columns, 16 MB/1M edges) is in one place."""
    und = _canonical_edges(pairs, a_col, b_col, assume_canonical).persist()
    n_pairs = und.count()
    if n_pairs > small_edge_limit:
        return None, und
    node_type = und.schema["x"].dataType
    spark = und.sparkSession
    pdf = und.toPandas()  # Arrow: two primitive columns, no Rows
    und.unpersist()
    return list(zip(pdf["x"].tolist(), pdf["y"].tolist())), (node_type, spark)


def _adjacency(edge_rows: list[tuple]) -> dict:
    adj: dict = {}
    for x, y in edge_rows:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    return adj


def _triangle_counter(edge_rows: list[tuple], adj: dict) -> dict:
    """Per-node triangle counts by the same degree-ordered enumeration
    the distributed path runs: each triangle found exactly once at the
    edge between its two lowest-rank corners, closed by a common
    higher-rank neighbor."""
    rank = {n: (len(adj[n]), n) for n in adj}
    hi = {n: {m for m in adj[n] if rank[m] > rank[n]} for n in adj}
    tri: dict = {}
    for x, y in edge_rows:
        u, v = (x, y) if rank[x] < rank[y] else (y, x)
        for w in hi[u] & hi[v]:
            tri[u] = tri.get(u, 0) + 1
            tri[v] = tri.get(v, 0) + 1
            tri[w] = tri.get(w, 0) + 1
    return tri


# wedge-budget for the driver-side pair-similarity tiers: Σ deg² of a
# collected graph can be huge even under the EDGE limit (a few massive
# hubs), and the Python loops below walk every wedge — past this many
# wedge steps the distributed tier is the right engine even though the
# edge list fit in memory.
DRIVER_WEDGE_LIMIT = 5_000_000


def pagerank_integer(nodes: DataFrame, pairs: DataFrame, iters: int = 5,
                     node_col: str = "node", a_col: str = "id_a",
                     b_col: str = "id_b",
                     small_edge_limit: int = SMALL_EDGE_LIMIT) -> DataFrame:
    """Fixed-point-integer PageRank over an undirected pair list — the
    corpus-quality / centrality signal web-scale curation pipelines
    attach to documents (a la harmonic-centrality weighting of crawl
    graphs). All arithmetic is integer (ranks scaled by 1e6, damping
    0.85 as *850 DIV 1000, per-edge shares as p DIV deg), so every
    engine reproduces the exact same ranks — no float ever enters.

    Law: p0 = 1_000_000 for every node; p_{k+1}(n) = 150_000 +
    (850 * Σ_{m→n} (p_k(m) DIV deg(m))) DIV 1000. Nodes with no edges
    settle at the 150_000 baseline; connected hubs accumulate shares.

    Scale: the pair list is scanned ONCE — symmetrization is an
    explode of the two directions, not a self-union that would run the
    (possibly expensive) pair-generation lineage twice. The
    degree-annotated edge list persists across all rounds; each
    iteration is one join keyed on the source node + one aggregate
    keyed on the destination — two shuffles per round on the node id,
    the minimum for message passing. Pre-bucketing ranks and edges by
    node id makes the join side shuffle-free in production. EAGER
    ``localCheckpoint`` every round truncates lineage (the plan stays
    O(1) across iterations) and guarantees each round computes exactly
    once — a lazy checkpoint would let the final action re-derive
    every round after the persisted edges are released.

    Hybrid: under ``small_edge_limit`` (edges AND node list) the same
    integer recurrence runs driver-side — 5 rounds over a collected
    adjacency dict cost milliseconds where 5 eager-checkpointed
    distributed rounds cost seconds of job scheduling on a reduced
    near-dup graph.
    """
    collected, rest = _collect_canonical(pairs, a_col, b_col, False,
                                         small_edge_limit)
    if collected is not None:
        node_type_e, spark = rest
        base_df = nodes.select(F.col(node_col).alias("node")).distinct().persist()
        if base_df.count() <= small_edge_limit:
            node_type = base_df.schema["node"].dataType
            base = base_df.toPandas()["node"].tolist()
            base_df.unpersist()
            adj = _adjacency(collected)
            deg = {n: len(adj[n]) for n in adj}
            p = {n: 1000000 for n in base}
            for _ in range(iters):
                c: dict = {}
                for u, nbrs in adj.items():
                    pu = p.get(u)
                    if pu is None:
                        continue
                    share = pu // deg[u]
                    for m in nbrs:
                        c[m] = c.get(m, 0) + share
                p = {n: 150000 + (850 * c.get(n, 0)) // 1000 for n in p}
            from pyspark.sql import types as T
            schema = T.StructType([
                T.StructField("node", node_type, False),
                T.StructField("degree", T.IntegerType(), False),
                T.StructField("rank_ppm", T.LongType(), False)])
            return spark.createDataFrame(
                [(n, deg.get(n, 0), p[n]) for n in sorted(p)], schema)
        # node list too big for the driver: rebuild the distributed input
        base_df.unpersist()
        und_small = spark.createDataFrame(
            collected, f"x {node_type_e.simpleString()}, "
                       f"y {node_type_e.simpleString()}")
        pairs = und_small.select(F.col("x").alias(a_col),
                                 F.col("y").alias(b_col))
        und_src = None
    else:
        # big graph: the persisted canonical projection becomes the
        # distributed input — its cache feeds the edges build, released
        # with the other persists at the end
        und_src = rest
        pairs = rest.select(F.col("x").alias(a_col), F.col("y").alias(b_col))
    edges = (
        pairs.select(F.explode(F.array(
            F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
            F.struct(F.col(b_col).alias("src"), F.col(a_col).alias("dst")),
        )).alias("e"))
        .select("e.src", "e.dst").distinct()
    ).persist()  # feeds both deg and the join: without this the pair-
    # generation lineage (possibly an expensive LSH self-join) plans
    # twice — deg's exchange child is the partial agg, so ReuseExchange
    # cannot dedup it against the join side
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = edges.join(deg, "src").persist()
    base = nodes.select(F.col(node_col).alias("node")).distinct().persist()
    p = base.select("node", F.lit(1000000).cast("bigint").alias("p"))
    for _ in range(iters):
        contrib = (
            ed.join(p, ed["src"] == p["node"])
            .select("dst", F.expr("p DIV deg").alias("share"))
            .groupBy("dst").agg(F.sum("share").alias("c"))
        )
        p = (
            base.join(contrib, base["node"] == contrib["dst"], "left")
            .select("node",
                    F.expr("CAST(150000 + (850 * coalesce(c, CAST(0 AS BIGINT)))"
                           " DIV 1000 AS BIGINT)").alias("p"))
        ).localCheckpoint(eager=True)
    dd = ed.select("src", "deg").distinct()
    out = (
        p.join(dd, p["node"] == dd["src"], "left")
        .select("node",
                F.coalesce("deg", F.lit(0)).cast("int").alias("degree"),
                F.col("p").alias("rank_ppm"))
    ).localCheckpoint(eager=True)
    ed.unpersist()
    edges.unpersist()
    base.unpersist()
    if und_src is not None:
        und_src.unpersist()
    return out


def triangle_counts(pairs: DataFrame, a_col: str = "id_a",
                    b_col: str = "id_b",
                    assume_canonical: bool = False,
                    small_edge_limit: int = SMALL_EDGE_LIMIT) -> DataFrame:
    """Per-node triangle counts over an undirected pair list — the
    clustering-coefficient numerator, the standard "tightly-knit
    duplicate community" signal over a near-dup graph (a boilerplate
    family whose members all match EACH OTHER is a much stronger
    removal candidate than a chain of pairwise matches).

    Distributed shape (the Cohen / Suri-Vassilvitskii node-ordering
    trick): orient every edge from the LOWER-(degree, id) endpoint to
    the higher, so each wedge is enumerated at its lowest-rank corner
    exactly once. The wedge self-join fans out to sum(out-degree²),
    and out-degree under degree-ordering is bounded by O(sqrt(|E|))
    even for hub nodes — a star's hub emits 0 wedges because every
    edge points INTO it. Two shuffle joins + one aggregate; no
    iteration. Counts are identical to the naive a<b<c enumeration
    (each triangle found exactly once at its unique rank-minimum
    corner), which is what the SQL oracle runs.

    Hybrid: under ``small_edge_limit`` the SAME degree-ordered
    enumeration runs driver-side over one Arrow collect (the near-dup
    edge list is the reduced output of a dedup pass — set
    intersections over a 14k-edge graph cost milliseconds where the
    two shuffle joins cost seconds of scheduling); the distributed
    shape above is the big-graph tier.
    """
    collected, rest = _collect_canonical(pairs, a_col, b_col,
                                         assume_canonical, small_edge_limit)
    if collected is not None:
        node_type, spark = rest
        tri = _triangle_counter(collected, _adjacency(collected))
        from pyspark.sql import types as T
        schema = T.StructType([
            T.StructField("node", node_type, False),
            T.StructField("n_triangles", T.LongType(), False)])
        return spark.createDataFrame(sorted(tri.items()), schema)
    und = rest
    out = _triangles_per_node(und, _degrees(und))  # eager-checkpointed
    und.unpersist()
    return out


def clustering_coefficient(pairs: DataFrame, a_col: str = "id_a",
                           b_col: str = "id_b",
                           assume_canonical: bool = False,
                           small_edge_limit: int = SMALL_EDGE_LIMIT) -> DataFrame:
    """Local clustering coefficient per node (deg >= 2):
    cc_ppm = 2·T·1e6 DIV (deg·(deg−1)) — how close each node's
    neighborhood is to a clique, in exact integer ppm. The near-dup
    curation read: cc ≈ 1e6 marks a boilerplate FAMILY (all members
    mutually matching — drop all but one), cc ≈ 0 marks a hub whose
    matches are unrelated to each other (often a template false
    positive worth auditing). Shares the one persisted edge scan and
    the degree table with the triangle machinery — no extra pass
    over the pair generator. Same driver tier as ``triangle_counts``
    under ``small_edge_limit``."""
    collected, rest = _collect_canonical(pairs, a_col, b_col,
                                         assume_canonical, small_edge_limit)
    if collected is not None:
        node_type, spark = rest
        adj = _adjacency(collected)
        tri = _triangle_counter(collected, adj)
        rows = [(n, len(adj[n]), tri.get(n, 0),
                 2 * tri.get(n, 0) * 1000000 // (len(adj[n]) * (len(adj[n]) - 1)))
                for n in sorted(adj) if len(adj[n]) >= 2]
        from pyspark.sql import types as T
        schema = T.StructType([
            T.StructField("node", node_type, False),
            T.StructField("deg", T.LongType(), False),
            T.StructField("n_triangles", T.LongType(), False),
            T.StructField("cc_ppm", T.LongType(), False)])
        return spark.createDataFrame(rows, schema)
    und = rest
    deg = _degrees(und)
    tri = _triangles_per_node(und, deg)
    out = (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "node", "left")
        .select(
            "node", "deg",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"))
        .withColumn(
            "cc_ppm",
            F.expr("2 * n_triangles * 1000000 DIV (deg * (deg - 1))"))
        .localCheckpoint(eager=True))
    und.unpersist()
    return out


def _canonical_edges(pairs: DataFrame, a_col: str, b_col: str,
                     assume_canonical: bool) -> DataFrame:
    """x<y distinct edge projection. ``assume_canonical``: caller
    guarantees the input is already x<y distinct (true for every
    near-dup generator in this repo) — skips one shuffle."""
    if assume_canonical:
        return pairs.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
    return (pairs.select(F.least(a_col, b_col).alias("x"),
                         F.greatest(a_col, b_col).alias("y"))
            .filter(F.col("x") != F.col("y"))
            .distinct())


def _degrees(und: DataFrame) -> DataFrame:
    return (und.select(F.col("x").alias("node"))
            .unionAll(und.select(F.col("y").alias("node")))
            .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))


def _triangles_per_node(und: DataFrame, deg: DataFrame) -> DataFrame:
    """(node, n_triangles) via degree-ordered wedge enumeration over a
    PERSISTED canonical edge frame."""
    dx = deg.select(F.col("node").alias("x"), F.col("deg").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("deg").alias("dy"))
    # orient by (degree, id): src = rank-lower endpoint. Degrees are
    # an O(|V|)-row table; the joins broadcast when small and shuffle
    # on the edge key otherwise — never a cartesian.
    oriented = (
        und.join(dx, "x").join(dy, "y")
        .select(
            F.when((F.col("dx") < F.col("dy"))
                   | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))),
                   F.col("x")).otherwise(F.col("y")).alias("src"),
            F.when((F.col("dx") < F.col("dy"))
                   | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))),
                   F.col("y")).otherwise(F.col("x")).alias("dst"))
        .persist())
    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    # wedges at the rank-minimum corner u (v != w canonicalized v < w),
    # closed by the edge between the two higher-rank corners in EITHER
    # orientation (rank order between v and w is not known here).
    wedges = e1.join(e2, "u").filter(F.col("v") < F.col("w"))
    closing = oriented.select(
        F.least("src", "dst").alias("v"), F.greatest("src", "dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    out = (tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
           .groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
           .localCheckpoint(eager=True))
    oriented.unpersist()
    return out


def _pair_similarity_driver(edge_rows: list[tuple],
                            cap: int | None,
                            aa_weights: bool,
                            node_type) -> list[tuple] | None:
    """Driver-side wedge enumeration shared by ``neighbor_jaccard``
    (aa_weights=False) and ``adamic_adar`` (True) — the identical
    capped center loop as the distributed self-join, returned as a
    pandas frame (columns v, w, ...) so the caller rides the Arrow
    createDataFrame path. Returns None when the capped wedge volume
    exceeds ``DRIVER_WEDGE_LIMIT`` (the caller falls back to
    distributed).

    r14 (guide §4.2): integer node ids (``node_type``, the edge
    columns' Spark type) take a VECTORIZED numpy kernel (segment-pairs
    wedge enumeration + bincount aggregation — all exact
    int64/float64-integer arithmetic, bit-identical multisets to the
    dict loop, pinned in tests/test_r14_optimizations.py); any other
    id type keeps the dict loop below."""
    from pyspark.sql.types import IntegralType
    if edge_rows and isinstance(node_type, IntegralType):
        import numpy as np
        return _pair_similarity_numpy(
            np.asarray(edge_rows, dtype=np.int64), cap, aa_weights)
    return _pair_similarity_dicts(edge_rows, cap, aa_weights)


def _pair_similarity_numpy(e, cap: int | None, aa_weights: bool):
    """Vectorized wedge enumeration over an (m, 2) int64 canonical
    edge array. Same semantics as ``_pair_similarity_dicts``, kernel
    by kernel:

    - degrees: bincount over the symmetrized endpoint list == len of
      each adjacency set. The rows are deduplicated first, as the
      dict loop's sets do: ``assume_canonical=True`` skips the
      ``distinct`` of ``_canonical_edges``, so a repeated edge can
      arrive here;
    - eligible centers (deg <= cap) and the identical wedge-volume
      budget check against ``DRIVER_WEDGE_LIMIT``;
    - all i<j neighbor pairs per center via the segment-pairs
      construction (repeat/cumsum index arithmetic — no Python loop);
      neighbors are pre-sorted ascending inside each center block, so
      pair keys come out (v < w) by node value exactly like the dict
      loop's sorted(adjacency) iteration;
    - aggregation by np.unique on the composite key v_idx·n + w_idx
      (ids remapped to 0..n-1; n ≤ 2·SMALL_EDGE_LIMIT so the key fits
      int64 with 10 orders of magnitude to spare). unique returns keys
      ASCENDING, which is the dict form's sorted(cn) output order.
    - Adamic-Adar sums via bincount(weights=1e6 DIV deg(center)):
      every partial sum is an integer ≤ DRIVER_WEDGE_LIMIT · 1e6
      (5·10¹²) < 2⁵³, so the float64 accumulation is EXACT and the
      int64 cast is lossless. Jaccard ppm is pure int64 arithmetic.
    """
    import numpy as np
    import pandas as pd
    e = np.unique(e, axis=0)
    xs, ys = e[:, 0], e[:, 1]
    nodes, u_idx = np.unique(np.concatenate([xs, ys]), return_inverse=True)
    n = int(len(nodes))
    v_idx = np.concatenate([u_idx[len(xs):], u_idx[:len(xs)]])
    deg = np.bincount(u_idx, minlength=n).astype(np.int64)
    elig = np.ones(n, dtype=bool) if cap is None else (deg <= int(cap))
    dd = deg[elig]
    if int((dd * (dd - 1) // 2).sum()) > DRIVER_WEDGE_LIMIT:
        return None
    mask = elig[u_idx]
    cu = u_idx[mask]
    cv = v_idx[mask]
    order = np.lexsort((cv, cu))
    cu = cu[order]
    cv = cv[order]
    mrows = int(len(cu))
    _, starts, seg = np.unique(cu, return_index=True, return_counts=True)
    block_of = np.repeat(np.arange(len(seg)), seg)
    local = np.arange(mrows, dtype=np.int64) - starts[block_of]
    reps = (seg[block_of] - 1 - local).astype(np.int64)
    total = int(reps.sum())
    first = np.repeat(np.arange(mrows, dtype=np.int64), reps)
    run_starts = (np.concatenate(([0], np.cumsum(reps)[:-1]))
                  if mrows else np.zeros(0, dtype=np.int64))
    second = (np.arange(total, dtype=np.int64)
              - np.repeat(run_starts, reps) + first + 1)
    a_i = cv[first]
    b_i = cv[second]
    ukeys, kinv, cn = np.unique(a_i * n + b_i,
                                return_inverse=True, return_counts=True)
    cn = cn.astype(np.int64)
    va = ukeys // n
    wb = ukeys % n
    flag = np.where(
        np.isin(ukeys, u_idx[:len(xs)] * n + u_idx[len(xs):]), "Y", "N")
    if aa_weights:
        w_pair = (1_000_000 // deg)[cu[first]]
        aa = np.bincount(kinv, weights=w_pair,
                         minlength=len(ukeys)).astype(np.int64)
        return pd.DataFrame({"v": nodes[va], "w": nodes[wb],
                             "n_common": cn, "aa_ppm": aa,
                             "is_edge": flag})
    da = deg[va]
    db = deg[wb]
    return pd.DataFrame({"v": nodes[va], "w": nodes[wb], "n_common": cn,
                         "deg_a": da, "deg_b": db,
                         "jaccard_ppm": cn * 1_000_000 // (da + db - cn),
                         "is_edge": flag})


def _pair_similarity_dicts(edge_rows: list[tuple],
                           cap: int | None,
                           aa_weights: bool):
    """The plain-dict center loop (pre-r14 form, kept as the
    non-integer-id tier and as the equivalence reference in tests)."""
    adj = _adjacency(edge_rows)
    deg = {n: len(adj[n]) for n in adj}
    centers = [n for n in adj if cap is None or deg[n] <= cap]
    if sum(deg[n] * (deg[n] - 1) // 2 for n in centers) > DRIVER_WEDGE_LIMIT:
        return None
    cn: dict = {}
    aa: dict = {}
    for u in centers:
        nb = sorted(adj[u])
        w_u = 1000000 // deg[u]
        for i in range(len(nb)):
            for j in range(i + 1, len(nb)):
                key = (nb[i], nb[j])
                cn[key] = cn.get(key, 0) + 1
                if aa_weights:
                    aa[key] = aa.get(key, 0) + w_u
    edges = set(edge_rows)
    # pandas output: the pair table can be 100k+ rows, and the Arrow
    # createDataFrame path is ~10x the tuple-list path at that size
    import pandas as pd
    keys = sorted(cn)
    va = [k[0] for k in keys]
    wa = [k[1] for k in keys]
    c = [cn[k] for k in keys]
    flag = ["Y" if k in edges else "N" for k in keys]
    if aa_weights:
        return pd.DataFrame({"v": va, "w": wa, "n_common": c,
                             "aa_ppm": [aa[k] for k in keys],
                             "is_edge": flag})
    da = [deg[k[0]] for k in keys]
    db = [deg[k[1]] for k in keys]
    return pd.DataFrame({
        "v": va, "w": wa, "n_common": c, "deg_a": da, "deg_b": db,
        "jaccard_ppm": [ci * 1000000 // (dai + dbi - ci)
                        for ci, dai, dbi in zip(c, da, db)],
        "is_edge": flag})


def neighbor_jaccard(pairs: DataFrame, a_col: str = "id_a",
                     b_col: str = "id_b",
                     assume_canonical: bool = False,
                     max_center_degree: int | None = MAX_CENTER_DEGREE,
                     small_edge_limit: int = SMALL_EDGE_LIMIT) -> DataFrame:
    """Node-pair similarity by neighbor-set Jaccard — the classic
    link-prediction / "second-order dedup" signal: two docs whose
    near-dup NEIGHBORHOODS overlap heavily belong to the same template
    family even when they don't match each other directly (is_edge =
    'N' rows with high jaccard_ppm are exactly the missed-pair
    candidates an LSH pass should be re-probed on).

    Common-neighbor counts are wedge counts: one symmetrized self-join
    keyed on the center node, aggregated per endpoint pair — two
    shuffles. The fan-out is Σ deg(center)², so hub centers are the
    skew hazard; ``max_center_degree`` EXCLUDES centers above the cap
    from wedge enumeration (the Adamic-Adar insight — a node connected
    to everything certifies nothing about any specific pair; standard
    link-prediction truncation). The default cap is far above any
    organic near-dup degree, so fixture results equal the exact form
    (pinned in tests); the SQL oracle mirrors the SAME cap, so capped
    semantics are what gets verified at every scale. Pass None for
    exact semantics. jaccard_ppm = 1e6·cn DIV (deg_a + deg_b − cn), exact
    integers end to end.

    Hybrid: a collected edge list under ``small_edge_limit`` whose
    capped wedge volume also fits ``DRIVER_WEDGE_LIMIT`` runs the SAME
    center-loop driver-side (dict counters beat two shuffle joins by
    seconds at reduced-pair-list scale); otherwise distributed."""
    collected, rest = _collect_canonical(pairs, a_col, b_col,
                                         assume_canonical, small_edge_limit)
    if collected is not None:
        node_type, spark = rest
        pdf = _pair_similarity_driver(collected, max_center_degree,
                                      False, node_type)
        if pdf is not None:
            from pyspark.sql import types as T
            schema = T.StructType([
                T.StructField(a_col, node_type, False),
                T.StructField(b_col, node_type, False),
                T.StructField("n_common", T.LongType(), False),
                T.StructField("deg_a", T.LongType(), False),
                T.StructField("deg_b", T.LongType(), False),
                T.StructField("jaccard_ppm", T.LongType(), False),
                T.StructField("is_edge", T.StringType(), False)])
            pdf.columns = [a_col, b_col, "n_common", "deg_a", "deg_b",
                           "jaccard_ppm", "is_edge"]
            return spark.createDataFrame(pdf, schema)
        # wedge budget exceeded: rebuild the distributed input
        und = spark.createDataFrame(collected, f"x {node_type.simpleString()}, "
                                    f"y {node_type.simpleString()}").persist()
    else:
        und = rest
    deg = _degrees(und)
    sym = (und.select(F.col("x").alias("u"), F.col("y").alias("n"))
           .unionAll(und.select(F.col("y").alias("u"), F.col("x").alias("n"))))
    if max_center_degree is not None:
        ok = deg.filter(F.col("deg") <= max_center_degree).select(
            F.col("node").alias("u"))
        sym = sym.join(F.broadcast(ok), "u", "left_semi")
    e1 = sym.select("u", F.col("n").alias("v"))
    e2 = sym.select("u", F.col("n").alias("w"))
    cn = (e1.join(e2, "u").filter(F.col("v") < F.col("w"))
          .groupBy("v", "w").agg(F.count(F.lit(1)).alias("n_common")))
    da = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("w"), F.col("deg").alias("deg_b"))
    edge_flag = und.select(F.col("x").alias("v"), F.col("y").alias("w"),
                           F.lit("Y").alias("_e"))
    out = (
        cn.join(da, "v").join(db, "w")
        .join(edge_flag, ["v", "w"], "left")
        .select(
            F.col("v").alias(a_col), F.col("w").alias(b_col),
            "n_common", "deg_a", "deg_b",
            F.expr("n_common * 1000000 DIV (deg_a + deg_b - n_common)")
            .alias("jaccard_ppm"),
            F.coalesce(F.col("_e"), F.lit("N")).alias("is_edge"))
        .localCheckpoint(eager=True))
    und.unpersist()
    return out


def adamic_adar(pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b",
                assume_canonical: bool = False,
                max_center_degree: int | None = MAX_CENTER_DEGREE,
                small_edge_limit: int = SMALL_EDGE_LIMIT) -> DataFrame:
    """Adamic-Adar link prediction in exact integer arithmetic: each
    common neighbor z of a node pair contributes 1e6 DIV deg(z) — a
    low-degree common neighbor certifies the pair far more strongly
    than a hub that neighbors everything (the classic AA insight,
    log-free integer form so every engine reproduces it bit-for-bit).

    Same wedge-enumeration shape as ``neighbor_jaccard`` (one
    symmetrized self-join keyed on the wedge center, two shuffles);
    the center's degree rides the wedge row so the weight needs no
    extra join. ``max_center_degree`` caps hub fan-out exactly as in
    ``neighbor_jaccard`` — the SQL oracle mirrors the same cap, and the
    same driver tier runs the loop in dicts under the edge + wedge
    budgets. Output: (a_col, b_col, n_common, aa_ppm, is_edge)."""
    collected, rest = _collect_canonical(pairs, a_col, b_col,
                                         assume_canonical, small_edge_limit)
    if collected is not None:
        node_type, spark = rest
        pdf = _pair_similarity_driver(collected, max_center_degree,
                                      True, node_type)
        if pdf is not None:
            from pyspark.sql import types as T
            schema = T.StructType([
                T.StructField(a_col, node_type, False),
                T.StructField(b_col, node_type, False),
                T.StructField("n_common", T.LongType(), False),
                T.StructField("aa_ppm", T.LongType(), False),
                T.StructField("is_edge", T.StringType(), False)])
            pdf.columns = [a_col, b_col, "n_common", "aa_ppm", "is_edge"]
            return spark.createDataFrame(pdf, schema)
        und = spark.createDataFrame(collected, f"x {node_type.simpleString()}, "
                                    f"y {node_type.simpleString()}").persist()
    else:
        und = rest
    deg = _degrees(und)
    sym = (und.select(F.col("x").alias("u"), F.col("y").alias("n"))
           .unionAll(und.select(F.col("y").alias("u"), F.col("x").alias("n"))))
    degc = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    # no forced broadcast: deg is O(|V|) — tiny for fixture graphs (AQE
    # broadcasts it at runtime) but a billion-node graph must fall back
    # to the same u-keyed shuffle the wedge join pays anyway
    symd = sym.join(degc, "u")
    if max_center_degree is not None:
        symd = symd.filter(F.col("deg_u") <= max_center_degree)
    e1 = symd.select("u", "deg_u", F.col("n").alias("v"))
    e2 = symd.select("u", F.col("n").alias("w"))
    cn = (e1.join(e2, "u").filter(F.col("v") < F.col("w"))
          .groupBy("v", "w")
          .agg(F.count(F.lit(1)).alias("n_common"),
               F.sum(F.expr("1000000 DIV deg_u")).alias("aa_ppm")))
    edge_flag = und.select(F.col("x").alias("v"), F.col("y").alias("w"),
                           F.lit("Y").alias("_e"))
    out = (
        cn.join(edge_flag, ["v", "w"], "left")
        .select(
            F.col("v").alias(a_col), F.col("w").alias(b_col),
            "n_common", F.col("aa_ppm").cast("bigint").alias("aa_ppm"),
            F.coalesce(F.col("_e"), F.lit("N")).alias("is_edge"))
        .localCheckpoint(eager=True))
    und.unpersist()
    return out


def _kcore_driver(edge_rows: list[tuple], k: int, max_rounds: int,
                  spark, node_type) -> DataFrame:
    """Driver-side round-synchronous k-core peel — semantics IDENTICAL
    to the distributed loop in ``kcore_peel`` (simultaneous removal of
    all sub-k nodes per round, capped at ``max_rounds``), so the two
    tiers are interchangeable and both match the unrolled SQL oracle."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    adj: dict = {}
    for x, y in edge_rows:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    all_nodes = list(adj)
    alive = set(all_nodes)
    deg = {n: len(adj[n]) for n in all_nodes}
    for _ in range(max_rounds):
        drop = [n for n in alive if deg[n] < k]
        if not drop:
            break
        # round-synchronous: degrees update only AFTER the whole
        # round's removals (matches the per-round recompute upstream)
        alive.difference_update(drop)
        for n in drop:
            for m in adj[n]:
                if m in alive:
                    deg[m] -= 1
    core_deg = {n: sum(1 for m in adj[n] if m in alive)
                for n in alive}
    out_rows = [(n, "Y" if n in alive else "N",
                 core_deg.get(n, 0) if n in alive else 0)
                for n in all_nodes]
    schema = StructType([
        StructField("node", node_type, False),
        StructField("in_kcore", StringType(), False),
        StructField("core_degree", IntegerType(), False),
    ])
    return spark.createDataFrame(out_rows, schema)


def kcore_peel(pairs: DataFrame, k: int = 3, max_rounds: int = 30,
               a_col: str = "id_a", b_col: str = "id_b",
               assume_canonical: bool = False,
               small_edge_limit: int = SMALL_EDGE_LIMIT) -> DataFrame:
    """k-core decomposition by iterative peeling: each round drops
    every node whose degree within the surviving induced subgraph is
    below ``k``, then recomputes degrees. At the fixpoint the survivor
    set is exactly the k-core (the maximal subgraph with min degree
    >= k) — the dense-community signal a dedup pipeline uses to find
    template FAMILIES that pairwise near-dup edges only hint at (a
    k-core of mutual near-dups is a stronger removal unit than any
    single edge).

    Engine parity without run-to-convergence nondeterminism: the SQL
    oracle unrolls exactly ``max_rounds`` rounds; here the loop exits
    EARLY once the survivor count stops shrinking (the set shrinks
    monotonically, so a stable count IS a stable set, and every
    skipped round would have been an exact no-op) — and if the peel is
    still moving at round ``max_rounds`` both engines stop at the same
    identical 30-round state, so results match converged or not. Peel
    chains move one hop per round (the sf0.001 fixture needs ~18), so
    the cap buys slack without costing converged inputs anything.

    Hybrid execution, same two tiers as ``connected_components``: an
    edge list under ``small_edge_limit`` (the usual case — near-dup
    pairs are the reduced OUTPUT of a dedup pass) is peeled DRIVER-SIDE
    over one Arrow collect, round-synchronously with the identical cap
    (bit-exact to the distributed loop in every case, converged or
    not) — a ~20-round chain peel that costs 20 tiny Spark jobs
    distributed costs microseconds in a dict. Above the budget the
    distributed loop runs: per round, two broadcast semi-joins restrict
    the persisted edge list to survivors + one degree aggregate —
    the survivor set is O(|V|) and shrinks monotonically, so each
    round is one shuffle on the edge key. EAGER localCheckpoint per
    round keeps the plan O(1) in the round count (the
    iterative-algorithm trap); the checkpoint also makes the
    convergence count() a metadata-cheap action.

    Output: (node, in_kcore Y/N, core_degree) for every endpoint of
    the input pair list — core_degree is the node's degree within the
    survivor-induced subgraph (0 for peeled nodes)."""
    und = _canonical_edges(pairs, a_col, b_col, assume_canonical).persist()
    n_pairs = und.count()
    if n_pairs <= small_edge_limit:
        node_type = und.schema["x"].dataType
        spark = und.sparkSession
        pdf = und.toPandas()  # Arrow: two primitive columns, no Rows
        und.unpersist()
        rows = list(zip(pdf["x"].tolist(), pdf["y"].tolist()))
        return _kcore_driver(rows, k, max_rounds, spark, node_type)
    nodes = (und.select(F.col("x").alias("node"))
             .unionAll(und.select(F.col("y").alias("node")))
             .distinct().persist())
    s = nodes
    prev_n = nodes.count()
    for _ in range(max_rounds):
        # survivor sets are O(|V|): no forced broadcast (AQE broadcasts
        # the checkpointed set while it is small, shuffles when it isn't)
        e = (und.join(s.select(F.col("node").alias("x")), "x", "left_semi")
             .join(s.select(F.col("node").alias("y")), "y", "left_semi"))
        s = (_degrees(e).filter(F.col("deg") >= k).select("node")
             .localCheckpoint(eager=True))
        n = s.count()
        if n == prev_n:
            break
        prev_n = n
    ef = (und.join(s.select(F.col("node").alias("x")), "x", "left_semi")
          .join(s.select(F.col("node").alias("y")), "y", "left_semi"))
    df = _degrees(ef)
    out = (
        nodes.join(s.withColumn("_in", F.lit("Y")), "node", "left")
        .join(df.withColumnRenamed("deg", "_cd"), "node", "left")
        .select(
            "node",
            F.coalesce(F.col("_in"), F.lit("N")).alias("in_kcore"),
            F.coalesce(F.col("_cd"), F.lit(0)).cast("int")
            .alias("core_degree"))
        .localCheckpoint(eager=True))
    und.unpersist()
    nodes.unpersist()
    return out


def degree_assortativity(pairs: DataFrame, a_col: str = "id_a",
                         b_col: str = "id_b",
                         assume_canonical: bool = False) -> DataFrame:
    """Degree assortativity (Newman's r): the Pearson correlation of
    endpoint degrees over all edges, both orientations counted — one
    number separating hub-and-spoke near-dup graphs (r < 0: templates
    matching many unrelated docs) from clique-y ones (r > 0:
    boilerplate families).

    Everything up to the final division is EXACT integer moments
    (degrees are ints; Σd, Σd², Σ d_a·d_b accumulate as BIGINT), so
    the emitted double is one identical expression on both engines —
    no float accumulation order to drift. One degree aggregation, two
    joins of the O(|V|) degree table onto the edge list, one global
    aggregate: never more than the edge list in flight, no driver
    collect."""
    und = _canonical_edges(pairs, a_col, b_col, assume_canonical)
    deg = _degrees(und)
    dx = deg.select(F.col("node").alias("x"), F.col("deg").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("deg").alias("dy"))
    e = und.join(dx, "x").join(dy, "y")
    m = e.agg(
        (F.count(F.lit(1)) * 2).cast("bigint").alias("n_points"),
        F.sum(F.col("dx") + F.col("dy")).cast("bigint").alias("s_x"),
        F.sum(F.col("dx") * F.col("dx")
              + F.col("dy") * F.col("dy")).cast("bigint").alias("s_xx"),
        (F.sum(F.col("dx") * F.col("dy")) * 2).cast("bigint")
        .alias("s_xy"))
    # the final products move to double BEFORE multiplying: bigint
    # moments are exact and identical on both engines, and double
    # products of identical ints are identical too — while a bigint
    # n·Σxy overflows ANSI arithmetic on billion-edge graphs
    n_d = F.col("n_points").cast("double")
    num = n_d * F.col("s_xy").cast("double") \
        - F.col("s_x").cast("double") * F.col("s_x").cast("double")
    den = n_d * F.col("s_xx").cast("double") \
        - F.col("s_x").cast("double") * F.col("s_x").cast("double")
    return m.select(
        (F.col("n_points") / 2).cast("bigint").alias("n_edges"),
        "s_x", "s_xx", "s_xy",
        F.when(den != 0.0, F.round(num / den, 4)).alias("assortativity"))
