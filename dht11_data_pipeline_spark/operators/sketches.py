"""Mergeable frequency / cardinality sketches with engine-exact
semantics: count-min frequency estimation and KMV (bottom-k) set
similarity.

Both sketches are built from DETERMINISTIC integer hashes (multiply-
mod arithmetic over BIGINT — no engine-specific hash function), so a
SQL engine replays the identical sketch bit-for-bit and the estimates
are exactly reproducible — the same design rule as the minhash /
hyperplane families (reference has no sketches at all; extension
operators for the LLM-pipeline tier).

Scale notes:
- count-min: the sketch build is ONE partial-agg-friendly groupBy over
  (row, bucket) — d·w cells total (a few hundred rows) regardless of
  corpus size; estimation joins the tiny sketch back broadcast-style.
  This is the 100 TB shape: the sketch is mergeable across partitions
  by construction (sum of cell counts).
- KMV: per-set bottom-k over a hash order — one shuffle on the set
  key with a window top-k (k rows kept per set); pairwise estimates
  then touch only k rows per set, independent of corpus size.

Hash: h_j(u) = ((u mod P)·A_j + B_j) mod P, P = 1e9+7. |u mod P| < 1e9
and A_j < 2^20, so the product stays < 2^50 — exact in any BIGINT
engine (no 128-bit intermediate needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# multiply-mod hash constants, shared with the SQL oracles
HASH_P = 1_000_000_007
CM_ROWS = 4
CM_WIDTH = 64
CM_A = (754_851, 424_577, 995_189, 616_819)
CM_B = (162_347, 899_221, 313_981, 527_623)
KMV_K = 64
KMV_A, KMV_B = 48_271, 11_213


def _mmhash(col, a: int, b: int):
    """((col mod P)·a + b) mod P as a BIGINT column expression.

    Negative keys are REFUSED at runtime (row-level raise_error):
    Spark's ``pmod`` and the replay oracles' plain ``%`` agree only at
    key >= 0, so a negative key would not error — it would silently
    hash-mismatch differential verification (round-5 ADVICE). The
    guard is a codegen'd comparison per row, noise next to the hash
    arithmetic itself.

    NULL keys pass through as NULL hashes (NULL buckets drop out of
    the groupBy counts on both engines), the pre-guard behavior: the
    guard exists solely for the sign divergence, and ``NULL >= 0``
    evaluating to NULL must not reroute NULLs into the error branch
    with a misleading 'is negative' message (round-6 ADVICE)."""
    k = F.col(col).cast("bigint")
    k = F.when(k.isNull() | (k >= 0), k).otherwise(F.raise_error(F.concat(
        F.lit(f"sketch key column '{col}' is negative ("),
        F.col(col).cast("string"),
        F.lit("): pmod/% divergence — sketch keys must be non-negative"),
    )).cast("bigint"))
    return (F.pmod(k, F.lit(HASH_P)) * a + b) % HASH_P


def _cm_check_grid(d: int, w: int) -> None:
    if d > CM_ROWS:
        raise ValueError(f"d <= {CM_ROWS} (fixed hash family); got {d}")
    if w != CM_WIDTH:
        # The hash family AND the replay oracles are fixed to the module
        # constants; a non-default width would run fine here but silently
        # fail differential verification — reject it up front.
        raise ValueError(
            f"w must equal CM_WIDTH={CM_WIDTH} (oracle-fixed grid); got {w}")


def _cm_buckets(truth: DataFrame, d: int, w: int) -> DataFrame:
    """Explode each (key, true_n) row into its d (j, bucket) sketch
    coordinates."""
    return truth.select(
        "key", "true_n",
        F.posexplode(F.array(*[
            (_mmhash("key", CM_A[j], CM_B[j]) % w).cast("int")
            for j in range(d)
        ])).alias("j", "bucket"),
    )


def countmin_frequencies(df: DataFrame, key_col: str,
                         d: int = CM_ROWS, w: int = CM_WIDTH) -> DataFrame:
    """Count-min sketch over ``key_col`` occurrences, then the point
    estimate for every distinct key next to its true count.

    est(u) = min_j sketch[j][h_j(u) mod w] — always >= true count
    (collisions only ADD), with the classic (eps = e/w, delta = e^-d)
    guarantee. Output: (key, true_n, cm_est, overcount).

    Shape: ONE pass builds the per-key truth table, and the sketch is
    derived from it — a cell's count is the SUM of true_n over the
    keys hashing into it, identical to counting raw occurrences but
    exploding d rows per DISTINCT key instead of d per input row (and
    sparing the second raw scan; the key aggregate's exchange is
    shared by both consumers). At corpus scale this is the difference
    between a d·rows shuffle and a d·keys one.
    """
    _cm_check_grid(d, w)
    keyed = df.select(F.col(key_col).cast("bigint").alias("key"))
    truth = keyed.groupBy("key").agg(F.count(F.lit(1)).alias("true_n"))
    probes = _cm_buckets(truth, d, w)
    cells = (probes.groupBy("j", "bucket")
             .agg(F.sum("true_n").alias("cell_n")))
    return (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("key", "true_n")
        .agg(F.min("cell_n").alias("cm_est"))
        .select(
            "key", "true_n", "cm_est",
            (F.col("cm_est") - F.col("true_n")).alias("overcount"))
    )


def kmv_signatures(df: DataFrame, set_col: str, member_col: str,
                   k: int = KMV_K) -> DataFrame:
    """Bottom-k distinct member hashes per set — the KMV sketch.
    One distinct + one windowed top-k on the hash order; ties are
    impossible within a set (distinct hashes of distinct members mod a
    prime far above the member count collide only by pigeonhole, and a
    collision collapses into the distinct)."""
    hashed = df.select(
        F.col(set_col).alias("set_key"),
        _mmhash(member_col, KMV_A, KMV_B).alias("mh"),
    ).distinct()
    w = Window.partitionBy("set_key").orderBy("mh")
    return (hashed.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= k).select("set_key", "mh"))


def kmv_pairwise_jaccard(df: DataFrame, set_col: str, member_col: str,
                         k: int = KMV_K,
                         max_sets: int | None = 1_000) -> DataFrame:
    """Estimated Jaccard for every pair of sets from their KMV sketches
    (Beyer et al.: bottom-k of the UNION is a uniform sample of the
    union, so the fraction also present in both sketches estimates
    J). All arithmetic integer: jaccard_ppm = 1e6·overlap DIV used_k.

    Output per set pair (a < b): sketch sizes, the union-sample size
    actually used, overlap within it, and the ppm estimate.

    Cost model: pairwise output is all-pairs BY DEFINITION, so the real
    cost is S²·k rows (S = distinct sets, k rows per sketch) — fine for
    its event-type use (S≈10), quadratic if pointed at a high-cardinality
    set column. Refuses past ``max_sets`` distinct sets (pass None to
    force, or pre-filter to a candidate set list), mirroring the
    ``brute_limit`` refusal on brute-force cosine.
    """
    sig = kmv_signatures(df, set_col, member_col, k).persist()
    sizes = sig.groupBy("set_key").agg(F.count(F.lit(1)).alias("sk_n"))
    if max_sets is not None:
        # the guard rides the sizes aggregate the estimate needs anyway
        # (one job over the persisted sketch) instead of a separate
        # distinct-count pass over the raw input — the sketch build
        # itself is linear (two shuffles), so building it before
        # refusing is safe; only the S^2 pair stage is quadratic. The
        # blocking unpersist keeps the refusal path cache-clean
        # (ADVICE r5 contract, pinned by the refusal test).
        s = sizes.count()
        if s > max_sets:
            sig.unpersist(True)
            raise ValueError(
                f"kmv_pairwise_jaccard over {s} sets is {s}^2 pairs x {k} "
                f"sketch rows (limit {max_sets}); pre-filter the set "
                "column to a candidate list or pass max_sets=None to force")
    pairs = (sizes.select(F.col("set_key").alias("set_a"),
                          F.col("sk_n").alias("sk_a"))
             .crossJoin(sizes.select(F.col("set_key").alias("set_b"),
                                     F.col("sk_n").alias("sk_b")))
             .filter(F.col("set_a") < F.col("set_b")))
    a = sig.select(F.col("set_key").alias("set_a"),
                   "mh", F.lit(1).alias("in_a"))
    b = sig.select(F.col("set_key").alias("set_b"),
                   "mh", F.lit(1).alias("in_b"))
    # union of the two sketches per pair, deduped on hash
    u = (
        pairs.join(a, "set_a")
        .select("set_a", "set_b", "sk_a", "sk_b", "mh", "in_a",
                F.lit(None).cast("int").alias("in_b"))
        .unionByName(
            pairs.join(b, "set_b")
            .select("set_a", "set_b", "sk_a", "sk_b", "mh",
                    F.lit(None).cast("int").alias("in_a"), "in_b"))
        .groupBy("set_a", "set_b", "sk_a", "sk_b", "mh")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("set_a", "set_b").orderBy("mh")
    sampled = u.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= k)
    out = (
        sampled.groupBy("set_a", "set_b", "sk_a", "sk_b")
        .agg(
            F.count(F.lit(1)).cast("int").alias("used_k"),
            F.sum(F.when(F.col("in_a").isNotNull()
                         & F.col("in_b").isNotNull(), 1)
                  .otherwise(0)).cast("int").alias("overlap"),
        )
        .select(
            "set_a", "set_b",
            F.col("sk_a").cast("int").alias("sk_a"),
            F.col("sk_b").cast("int").alias("sk_b"),
            "used_k", "overlap",
            F.expr("CAST(overlap AS BIGINT) * 1000000 DIV used_k")
            .alias("jaccard_ppm"),
        )
        .localCheckpoint(eager=True))  # pairwise rows are max_sets^2-
    # bounded; the checkpoint lets the signature cache release instead
    # of leaking one pinned entry per call
    sig.unpersist()
    return out
