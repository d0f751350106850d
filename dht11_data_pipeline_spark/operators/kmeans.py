"""Lloyd k-means over an embedding column — iterative refinement as
plain DataFrame ops (no MLlib), the clustering counterpart of the
iterative min-label propagation in operators/graph.py.

Feeds similarity.ivf_topk: its deterministic sampled centroids skip
Lloyd refinement (similarity.py:118-122); running a few rounds here
first tightens the inverted lists, which is exactly how production IVF
indexes are trained (coarse quantizer = k-means of a sample).

Per-iteration dataflow (all deterministic — ties break on centroid id):
  assign : corpus × broadcast(centroids) → nearest centroid per row
           (squared-L2 argmin via one zip_with/aggregate pass)
  update : posexplode vector dims → groupBy (cluster, dim) mean →
           re-assemble arrays (shuffle carries N·d scalar rows)
  stop   : max centroid shift < tol, or max_iter

Scale: centroids broadcast (k·d floats — KBs to MBs); the assign pass
is narrow/codegen'd over the fact; the update shuffles N·d scalars on
(cluster, dim) with map-side partial means. Each round materializes
the new centroids to the driver (k rows) — the loop state is tiny, so
no lineage growth / checkpoint problem like the components loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.functions.partitioning import right_size

# Knuth-style multiplicative scatter over a Mersenne-ish prime field,
# kept in BIGINT range at every step (max product ~2.6e18 < 2^63) so
# Spark longs and DuckDB BIGINTs compute the identical value — the
# cross-engine deterministic "random" order behind fixed-k sampling.
CENTROID_HASH_SQL = "(({id} % 1000000007) * 2654435761) % 1000000007"


def select_centroids(corpus: DataFrame, k: int, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """Deterministic FIXED-SIZE centroid sample: the k vectors first in
    multiplicative-hash order (id tiebreak). Replaces the old
    ``id % centroid_mod == 0`` convention whose centroid count grew
    with the corpus (k = N/mod ⇒ the driver collect, the broadcast and
    the per-row assignment all scaled with N — quadratic total work at
    100 TB). Here k is constant: assignment stays O(N·k), the collect
    is k rows no matter the corpus size, and the physical plan is a
    TakeOrderedAndProject (per-partition top-k, no global sort). The
    hash order is engine-portable, so a SQL oracle reproduces the exact
    same sample with ``ORDER BY <hash>, id LIMIT k``.
    """
    if k < 1:
        raise ValueError("need k >= 1 centroids")
    h = F.expr(CENTROID_HASH_SQL.format(id=id_col))
    rows = (right_size(corpus)
            .select(F.col(id_col).cast("long").alias(id_col), vec_col)
            .orderBy(h, F.col(id_col)).limit(k).collect())
    return sorted((int(r[id_col]), [float(x) for x in r[vec_col]])
                  for r in rows)


def assign_clusters(corpus: DataFrame, centroids: list[tuple[int, list[float]]],
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, cluster_id, sq_dist) — nearest centroid per row.

    Vectorized mapInPandas: the centroid matrix ships in the task
    closure (the broadcast — k·d float64s) and each Arrow batch scores
    all rows against all centroids in one numpy broadcast op. A pure
    expression version (k chained zip_with/aggregate trees) is
    interpreted per element and measured ~20× slower at sf0.1 — this
    is exactly the "Arrow-batched Pandas when built-ins can't express
    it efficiently" seam (cf. functions/vectors.py cosine). Ties break
    to the lowest centroid id (centroids sorted; argmin takes the
    first minimum).
    """
    if not centroids:
        raise ValueError("need at least one centroid")
    import numpy as np

    centroids = sorted(centroids)
    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    cmat = np.array([v for _, v in centroids], dtype=np.float64)  # (k, d)

    out_schema = f"{id_col} long, {vec_col} array<float>, cluster_id int, sq_dist double"

    def _assign(batches):
        for pdf in batches:
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)  # (n, d)
            d2 = ((x[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)  # (n, k)
            idx = d2.argmin(axis=1)
            pdf = pdf[[id_col, vec_col]].copy()
            pdf["cluster_id"] = cids[idx].astype("int32")
            pdf["sq_dist"] = d2[np.arange(len(idx)), idx]
            yield pdf

    return right_size(corpus).select(id_col, vec_col).mapInPandas(
        _assign, schema=out_schema)


def assign_clusters_exact(corpus: DataFrame,
                          centroids: list[tuple[int, list[float]]],
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          quant: int = 1000) -> DataFrame:
    """(id, cluster_id) — nearest centroid under INTEGER-quantized
    squared L2: every component is ``floor(x * quant)`` as int64 before
    the distance sum, ties break to the lowest centroid id.

    The point of the quantization is ENGINE-EXACTNESS, not speed:
    ``x * quant`` is the same IEEE double in every engine and ``floor``
    is exact, so the int64 distances — and therefore the argmin — are
    bit-identical in Spark, numpy and a SQL engine's BIGINT arithmetic.
    Float argmin (``assign_clusters``) legally moves boundary points
    across engines/partitionings; this one never does, which is what
    lets a cluster-conditioned downstream decision (e.g. the balanced
    sampling gate in operators/curation.py) be replayed exactly by a
    SQL oracle.

    Scale: same shape as ``assign_clusters`` — centroid matrix in the
    task closure (k·d int64s), one Arrow pass over the corpus, narrow.
    Overflow headroom: |floor(x·quant)| ≤ Q ⇒ d2 ≤ d·(2Q)² — with
    quant=1000, unit-scale embeddings and d=4096 that is ~1.6e13,
    far inside int64.
    """
    if not centroids:
        raise ValueError("need at least one centroid")
    import numpy as np

    centroids = sorted(centroids)
    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    cmat = np.floor(
        np.array([v for _, v in centroids], dtype=np.float64) * quant
    ).astype(np.int64)

    out_schema = f"{id_col} long, cluster_id long"

    def _assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.floor(
                np.array(pdf[vec_col].tolist(), dtype=np.float64) * quant
            ).astype(np.int64)
            d2 = ((x[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
            idx = d2.argmin(axis=1)  # first minimum → lowest cid
            out = pdf[[id_col]].copy()
            out["cluster_id"] = cids[idx]
            yield out

    # right_size probes df.rdd, which streaming frames reject — a
    # stream's micro-batches already carry the source's parallelism
    base = corpus if corpus.isStreaming else right_size(corpus)
    return base.select(id_col, vec_col).mapInPandas(
        _assign, schema=out_schema)


def _recompute(assigned: DataFrame, vec_col: str) -> list[tuple[int, list[float]]]:
    """New centroid = element-wise mean per cluster, via per-task numpy
    partial sums (r14, guide §4.2): one narrow Arrow pass over
    (cluster_id, vec) yields ≤ k rows of (partition, cluster, count,
    sum-vector) per task, and the driver merges partials in partition
    order and divides — deterministic given the input partitioning.

    This replaces the posexplode-N·d-rows form (explode → (cluster,
    dim) hash aggregate → per-cluster collect_list sort → collect): the
    N·d row fan-out, both shuffles and the JVM hash-agg per element are
    gone; what crosses the Python boundary back is k·n_tasks bounded
    rows. Float note: summation order changes (numpy per-partition
    partials vs Spark's Average merge), so centroids can move in the
    last ulps — sim_kmeans_clusters' declared output is invariant
    verdicts (monotonicity with 1e-9 headroom), which hold under any
    summation order; equivalence vs the explode form is pinned to
    1e-12 relative in tests/test_r14_optimizations.py."""
    import numpy as np

    def _psum(batches):
        import pandas as pd
        from pyspark import TaskContext
        acc_n: dict[int, int] = {}
        acc_s: dict[int, object] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cs = pdf["cluster_id"].to_numpy()
            for cid in np.unique(cs):
                mask = cs == cid
                s = x[mask].sum(axis=0)
                c = int(cid)
                if c in acc_s:
                    acc_s[c] = acc_s[c] + s
                    acc_n[c] += int(mask.sum())
                else:
                    acc_s[c] = s
                    acc_n[c] = int(mask.sum())
        ctx = TaskContext.get()
        pid = int(ctx.partitionId()) if ctx is not None else 0
        cids = sorted(acc_s)
        yield pd.DataFrame({
            "pid": [pid] * len(cids),
            "cluster_id": [int(c) for c in cids],
            "n": [acc_n[c] for c in cids],
            "s": [acc_s[c].tolist() for c in cids],
        })

    partials = assigned.select("cluster_id", vec_col).mapInPandas(
        _psum, schema="pid int, cluster_id long, n long, s array<double>")
    return _merge_partials(partials.collect())


def _merge_partials(rows) -> list[tuple[int, list[float]]]:
    """Driver merge shared by ``_recompute`` and ``_assign_recompute``:
    partials added in (cluster, partition) order, then one divide."""
    import numpy as np

    totals: dict[int, tuple[int, object]] = {}
    for r in sorted(rows, key=lambda r: (r["cluster_id"], r["pid"])):
        cid = int(r["cluster_id"])
        s = np.array(r["s"], dtype=np.float64)
        if cid in totals:
            n0, s0 = totals[cid]
            totals[cid] = (n0 + int(r["n"]), s0 + s)
        else:
            totals[cid] = (int(r["n"]), s)
    return sorted((cid, (s / n).tolist()) for cid, (n, s) in totals.items())


def _assign_recompute(corpus: DataFrame,
                      centroids: list[tuple[int, list[float]]],
                      id_col: str, vec_col: str
                      ) -> list[tuple[int, list[float]]]:
    """Fused Lloyd round (r14, guide §4/§5): ONE Arrow pass computes
    each row's nearest centroid — the same float64 broadcast op,
    argmin and lowest-id tie rule as ``assign_clusters`` — and folds
    it straight into the per-partition partial sums ``_recompute``
    would take over the materialized assignment. The intermediate
    (id, vec, cluster, dist) frame never exists, so each intermediate
    Lloyd round costs ONE sequential job instead of two (this operator
    is the registry's most driver-latency-sensitive; round-11 verdict).

    Arithmetic parity: ``assign_clusters`` echoes the vector column as
    array<float>, so the fused pass casts it to array<float> too (a
    no-op on a float corpus; an array<double> corpus is rounded the
    same way) and sees the bit-same values the two-pass chain fed
    ``_recompute``; per-row
    assignment is bit-identical, partitioning identical (mapInPandas
    preserves partitions). The only freedom left is Arrow batch
    boundaries (the two-pass chain re-batches between its two Python
    stages), which can move the float addition tree by last-ulps —
    the same caveat class as the r14 partial-sum change, pinned at
    1e-12 relative in tests; the declared sim_kmeans_clusters outputs
    are invariant verdicts with 1e-9 headroom."""
    if not centroids:
        raise ValueError("need at least one centroid")
    import numpy as np

    centroids = sorted(centroids)
    cid_arr = np.array([c for c, _ in centroids], dtype=np.int64)
    cmat = np.array([v for _, v in centroids], dtype=np.float64)

    def _pass(batches):
        import pandas as pd
        from pyspark import TaskContext
        acc_n: dict[int, int] = {}
        acc_s: dict[int, object] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            d2 = ((x[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
            cs = cid_arr[d2.argmin(axis=1)]
            for cid in np.unique(cs):
                mask = cs == cid
                s = x[mask].sum(axis=0)
                c = int(cid)
                if c in acc_s:
                    acc_s[c] = acc_s[c] + s
                    acc_n[c] += int(mask.sum())
                else:
                    acc_s[c] = s
                    acc_n[c] = int(mask.sum())
        ctx = TaskContext.get()
        pid = int(ctx.partitionId()) if ctx is not None else 0
        cids = sorted(acc_s)
        yield pd.DataFrame({
            "pid": [pid] * len(cids),
            "cluster_id": [int(c) for c in cids],
            "n": [acc_n[c] for c in cids],
            "s": [acc_s[c].tolist() for c in cids],
        })

    vecs = F.col(vec_col).cast("array<float>").alias(vec_col)
    partials = right_size(corpus).select(id_col, vecs).mapInPandas(
        _pass, schema="pid int, cluster_id long, n long, s array<double>")
    return _merge_partials(partials.collect())


def lloyd_kmeans(spark: SparkSession, corpus: DataFrame,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 k: int = 50, centroid_mod: int | None = None,
                 max_iter: int = 5,
                 tol: float = 1e-6,
                 init_centroids: list[tuple[int, list[float]]] | None = None,
                 init_assigned: DataFrame | None = None,
                 ) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Returns (assignments, centroids) after convergence or max_iter.

    Init = the same deterministic FIXED-k hash-ordered sample IVF uses
    (``select_centroids``), so round 0 of this IS similarity.ivf_topk's
    index — every further round strictly refines it (objective is
    non-increasing; pinned in tests/test_kmeans.py). ``centroid_mod``
    keeps the legacy ``id % mod == 0`` seeding for oracle twins and
    back-compat tests; its k grows with the corpus, so it is NOT the
    scale path.

    ``init_centroids`` hands in an init the CALLER already computed
    (round-11 verdict: this operator is the registry's most driver-
    latency-sensitive — every Lloyd round is a sequential driver
    round-trip, so a duplicate ``select_centroids`` job is pure added
    wall-clock). A caller that needs the init for its own bookkeeping
    (sim_kmeans_clusters measures the initial inertia against it)
    passes it back here instead of paying the sample job twice; the
    result is bit-identical because the sample is deterministic.
    Callers are likewise expected to hand in a PINNED corpus
    (localCheckpointed / persisted) when they run more than one pass
    over it — every Lloyd round re-reads the input, and re-scanning
    source parquet per round is the dominant avoidable cost.

    ``init_assigned`` (r13, same driver-round-trip economy): the
    round-0 assignment under ``init_centroids``, if the caller already
    materialized it (sim_kmeans_clusters computes the initial inertia
    from exactly this frame). Round 1 consumes it instead of
    re-scoring the corpus against the identical centroids — one full
    N×k Arrow pass saved per call, bit-identical because
    ``assign_clusters`` is deterministic given (corpus, centroids).
    Only meaningful together with ``init_centroids``; the caller owns
    the persist/unpersist of the handed-in frame.
    """
    if init_assigned is not None and init_centroids is None:
        # ADVICE r13: a handed-in assignment is only meaningful as the
        # round-0 frame OF the handed-in centroids — without them it
        # would be silently ignored (or worse, trusted against a
        # different init). Fail loudly instead.
        raise ValueError(
            "lloyd_kmeans: init_assigned requires init_centroids — the "
            "assignment must be the round-0 frame computed under "
            "exactly those centroids")
    if init_centroids is not None:
        centroids = sorted((int(c), [float(x) for x in v])
                           for c, v in init_centroids)
    elif centroid_mod is not None:
        init = (right_size(corpus).filter(F.col(id_col) % centroid_mod == 0)
                .select(F.col(id_col).cast("long"), vec_col).collect())
        centroids = sorted(
            (int(r[id_col]), [float(x) for x in r[vec_col]]) for r in init)
    else:
        centroids = select_centroids(corpus, k, id_col, vec_col)
    for it in range(max_iter):
        if it == 0 and init_assigned is not None and init_centroids is not None:
            # the caller's persisted round-0 frame: partial-sum it
            # directly (cache read, no assign pass)
            new_centroids = _recompute(init_assigned, vec_col)
        else:
            # fused assign+partial-sum: one sequential job per round
            # instead of assign_clusters -> _recompute's two
            new_centroids = _assign_recompute(corpus, centroids,
                                              id_col, vec_col)
        kept = dict(centroids)
        shift = max(
            (sum((a - b) ** 2 for a, b in zip(kept[cid], vec))
             for cid, vec in new_centroids if cid in kept),
            default=0.0,
        )
        # empty clusters keep their old centroid (deterministic, no re-seed)
        merged = {**kept, **dict(new_centroids)}
        centroids = sorted(merged.items())
        if shift < tol:
            break
    return assign_clusters(corpus, centroids, id_col, vec_col), centroids


def inertia(assigned: DataFrame) -> float:
    """Within-cluster sum of squared distances (the Lloyd objective)."""
    return float(assigned.agg(F.sum("sq_dist")).first()[0])
