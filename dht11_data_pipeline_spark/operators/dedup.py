"""Deduplication operators for LLM training-data pipelines.

Four tiers, cheapest first — the standard cascade at 100 TB is
exact → minhash-LSH candidates → verify, with simhash as the
bit-sketch alternative:

- exact: sha256 content hash → groupBy — one shuffle on a 64-char key,
  map-side partial agg; canonical = min doc_id.
- n-gram Jaccard: inverted-index self-join on distinct shingles →
  per-pair intersection counts → Jaccard. Exact but O(pairs-sharing-a-
  shingle); used as the verify stage.
- minhash-LSH: k seeded min-hashes per doc (narrow, no shuffle), bands
  of r rows → bucket join. Only docs sharing a band bucket become
  candidate pairs (sub-quadratic); pairs are then verified with true
  Jaccard. At 100 TB: the band explode is xB rows, the bucket join
  shuffles on (band, bucket-hash) — skew-safe because buckets are
  hash-random by construction.
- simhash: 16-bit sign sketch of the token multiset; near-dups =
  pairs within Hamming distance d (bit_count(xor)). Joined by sketch
  chunks at scale (pigeonhole); brute pair compare at test scale.

All pure column expressions + joins; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dht11_data_pipeline_spark.functions.partitioning import map_rows, right_size
from dht11_data_pipeline_spark.functions.text import distinct_shingles, tokens

# Stop-shingle document-frequency cap for inverted-index self-joins
# (jaccard_pairs / containment_pairs): shingles appearing in more docs
# than this are dropped from the JOIN side only (per-doc set sizes stay
# exact). Shared with the SQL oracles (plans/ext_oracles) so the capped
# semantics are what gets verified.
MAX_SHINGLE_DF = 100_000


def _trim_hot_shingles(inv: DataFrame, docs: DataFrame,
                       max_shingle_df: int | None) -> DataFrame:
    """Drop stop-shingles (document frequency > cap) from the join side
    of an inverted index. Pigeonhole short-circuit: a shingle's df is
    bounded by the number of documents, so when the corpus itself is
    no larger than the cap the trim pass provably removes nothing —
    skip its df-aggregation + broadcast anti-join entirely (they cost
    real stages: adding them inert at fixture scale doubled the
    jaccard/containment wall time between bench rounds 5 and 6). The
    one count() job here is metadata-cheap next to the shingle join,
    and at real corpus sizes the condition is false and the cap
    engages as designed — identically on the SQL-oracle side, whose
    HAVING df <= cap trims nothing in exactly the same regime."""
    if max_shingle_df is None or docs.count() <= max_shingle_df:
        return inv
    hot = (inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") > max_shingle_df).select("shingle"))
    return inv.join(F.broadcast(hot), "shingle", "left_anti")


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Group identical content by sha256; emit one row per content
    group with the canonical (min) id and the multiplicity."""
    return (
        df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _doc_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    df = right_size(df)
    # filter on token count (cheap split), NOT on size(shingle_set):
    # a filter over the projected set makes Catalyst evaluate the whole
    # shingle expression twice (once for the predicate, once for the
    # projection) — measured 3x slower at sf0.1
    return df.filter(F.size(F.split(F.col(text_col), " ")) >= n).select(
        F.col(id_col), distinct_shingles(text_col, n).alias("shingle_set")
    )


def jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, threshold: float = 0.2,
                  max_shingle_df: int | None = MAX_SHINGLE_DF) -> DataFrame:
    """Exact pairwise n-gram Jaccard via inverted-index self-join.

    Explode distinct shingles → join on shingle (pairs that share ≥1
    shingle) → count common → J = common / (|A|+|B|-common).

    ``max_shingle_df`` caps the self-join fan-out: a "stop shingle"
    shared by f documents contributes f² join rows, so ONE boilerplate
    shingle common to 10⁶ docs would alone produce 10¹² rows. Shingles
    with document frequency > cap are dropped from the JOIN side only
    (per-doc set sizes stay exact). Pairs whose overlap is entirely
    stop-shingles are missed and counted overlap shrinks by the dropped
    shingles — the standard corpus-dedup trade; with the default cap
    nothing triggers at fixture scale, so results are exact there (the
    DuckDB oracle pins that). The hot list is found with one groupBy on
    the SAME key the self-join shuffles on (exchange reuse) and is
    broadcast-size by construction (≤ |shingles|/cap entries).
    """
    # materialize the inverted index once: it feeds the self-join twice
    # plus the per-doc sizes — without persist every branch re-runs the
    # shingle expression (the CTAS-parity pattern, SURVEY §4.1)
    inv = _doc_shingles(df, text_col, id_col, n).select(
        F.col(id_col), F.explode("shingle_set").alias("shingle")
    ).persist()
    sizes = inv.groupBy(F.col(id_col).alias("sid")).agg(
        F.count(F.lit(1)).cast("int").alias("set_size"))
    joinable = _trim_hot_shingles(inv, df, max_shingle_df)
    a, b = joinable.alias("a"), joinable.alias("b")
    common = (
        a.join(b, (F.col(f"a.shingle") == F.col(f"b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.withColumnRenamed("sid", "doc_a").withColumnRenamed("set_size", "size_a")
    sb = sizes.withColumnRenamed("sid", "doc_b").withColumnRenamed("set_size", "size_b")
    out = (
        common.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard",
                    F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")
        # eager checkpoint of the REDUCED pair list lets the inverted
        # index release immediately — a lazy return would pin inv's
        # cache forever (one leaked SQL-cache entry per call; enough of
        # them evicted the storage pool mid-bench)
        .localCheckpoint(eager=True))
    inv.unpersist()
    return out


# Minhash seeded-hash family: ONE sha256 per shingle (the strong base
# hash), then k universal multiply-mod hashes of the base — the
# standard "one cryptographic hash + k universal hashes" minhash
# construction, 8x less hashing than sha256-per-seed at identical
# statistical quality. Same arithmetic contract as operators/sketches:
# base < P ~ 1e9, A < 2^20, so A·base + B < 2^50 — exact BIGINT in any
# engine, no 128-bit intermediate. Shared with plans/ext_oracles so
# the SQL twin replays the identical signatures.
MINHASH_P = 1_000_000_007
MINHASH_A = (604_171, 335_731, 771_019, 260_817,
             918_463, 123_377, 557_941, 804_509)
MINHASH_B = (402_653, 718_063, 194_867, 633_305,
             85_661, 941_099, 369_743, 250_021)


def minhash_signature(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      n: int = 3, num_hashes: int = 8) -> DataFrame:
    """k min-hashes per document: h_s(doc) = min over shingles of
    ``(A_s · base + B_s) mod P`` with ``base`` = the first 15 hex
    chars of sha256(shingle) reduced mod P — one sha256 per shingle
    total, with the k seeded values derived by exact integer
    arithmetic (see MINHASH_* constants).

    Shape (r14): SHUFFLE-FREE per-row fold — the base hashes are
    projected ONCE as their own array column (a separate Project, so
    CollapseProject cannot inline the sha256 into the k lambdas), then
    each of the k signatures is ``array_min`` of a cheap integer
    ``transform`` over that array. The earlier explode + groupBy-min
    form paid an id-keyed exchange plus a k-way hash-agg update per
    shingle; with the hash OUTSIDE the lambdas the interpreted integer
    transforms are far cheaper than that aggregate (measured 1.56 s →
    0.44 s at sf0.1, bit-identical — min over the same integer
    multiset; an earlier fused attempt WITH the hash inside the lambda
    was 4× slower, which is why this was explode-shaped until now)."""
    if num_hashes > len(MINHASH_A):
        raise ValueError(f"num_hashes <= {len(MINHASH_A)} (fixed "
                         f"oracle-shared hash family); got {num_hashes}")

    # 15 hex chars = 60 bits: always positive in BIGINT (ANSI-safe)
    def _base(s: Column) -> Column:
        return F.pmod(
            F.conv(F.substring(F.sha2(s, 256), 1, 15), 16, 10)
            .cast("bigint"), F.lit(MINHASH_P))

    def _seeded(s: int):
        return lambda b: (b * MINHASH_A[s] + MINHASH_B[s]) % MINHASH_P

    staged = (_doc_shingles(df, text_col, id_col, n)
              .select(F.col(id_col),
                      F.transform("shingle_set", _base).alias("_bases")))
    return staged.select(
        F.col(id_col),
        F.array(*[F.array_min(F.transform("_bases", _seeded(s)))
                  for s in range(num_hashes)]).alias("signature"))


def _band_rows(signatures: DataFrame, id_col: str,
               band_size: int) -> DataFrame:
    """(id, band_idx, band_key) rows: the signature cut into bands of
    ``band_size`` rows, each band serialized to one join key."""
    sig_len = F.size("signature")
    return signatures.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (sig_len / band_size).cast("int") - 1),
                lambda b: F.concat_ws(
                    "|", F.transform(
                        F.slice(F.col("signature"), b * band_size + 1,
                                band_size),
                        lambda v: v.cast("string"))),
            )
        ).alias("band_idx", "band_key"),
    )


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        band_size: int = 2) -> DataFrame:
    """Band the signature (r rows/band), bucket-join: docs agreeing on
    ALL rows of any band become candidates. P(candidate) ≈ 1-(1-J^r)^b.
    One shuffle on (band_idx, band_key); dedup pairs found in >1 band."""
    bands = _band_rows(signatures, id_col, band_size)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def minhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3,
                            num_hashes: int = 8, band_size: int = 2,
                            threshold: float = 0.5) -> DataFrame:
    """Full cascade: LSH candidates → exact-Jaccard verify ≥ threshold.

    The verify re-shingles ONLY documents that appear in a candidate
    pair, via a semi-join point lookup — the same O(|batch| +
    candidates) shape as minhash_incremental_pairs; before round 10 it
    re-shingled the FULL corpus on both join sides.

    Materialization choices (measured round 10): the band self-join's
    two aliases end in IDENTICAL sketch subplans (same pruning), which
    AQE's runtime query-stage reuse deduplicates — so `sigs` is NOT
    checkpointed (an eager pin here serializes an extra job and, in
    composite queries like mm_cross_modal_audit, blocks overlap with
    independent branches; measured +1.8 s there). `cands` IS
    checkpointed: its three consumers prune different column sets, so
    their exchanges are not identical and stage reuse cannot fire —
    unmaterialized, the band join re-runs per consumer (the 3×-shuffle
    measurement in SCALE.md round 1)."""
    sigs = minhash_signature(df, text_col, id_col, n, num_hashes)
    cands = lsh_candidate_pairs(sigs, id_col, band_size).localCheckpoint()
    touched = (cands.select(F.col("doc_a").alias("cid"))
               .union(cands.select(F.col("doc_b").alias("cid"))).distinct())
    needed = df.join(touched, df[id_col] == touched.cid, "left_semi")
    sh = _doc_shingles(needed, text_col, id_col, n).localCheckpoint()
    sa = sh.select(F.col(id_col).alias("doc_a"), F.col("shingle_set").alias("set_a"))
    sb = sh.select(F.col(id_col).alias("doc_b"), F.col("shingle_set").alias("set_b"))
    common = F.size(F.array_intersect("set_a", "set_b"))
    return (
        cands.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard",
                    common / (F.size("set_a") + F.size("set_b") - common))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_incremental_pairs(corpus: DataFrame, sig_store: DataFrame,
                              new_docs: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", n: int = 3,
                              num_hashes: int = 8, band_size: int = 2,
                              threshold: float = 0.5) -> DataFrame:
    """Continuous-ingestion dedup: check NEW documents against an
    existing signature store without re-sketching the corpus.

    This is the shape that matters at 100 TB: the store is an
    append-only (id, signature) table built once per doc; each
    ingestion batch (a) sketches only its own docs, (b) band-joins
    new-vs-(store ∪ new) — old×old pairs are never regenerated —
    and (c) verifies true Jaccard by re-shingling ONLY the documents
    that appear in a candidate pair (a semi-join point lookup into the
    corpus, not a full pass). Batch cost scales with |new| and the
    candidate count, independent of corpus size. Emits the same
    (doc_a, doc_b, jaccard) rows the full run would emit for any pair
    touching a new doc.
    """
    # localCheckpoint (not persist): the new batch's signatures feed
    # BOTH join sides, and a caller runs this once per ingestion batch
    # — a persist would pin one SQL cache entry per batch forever,
    # while a checkpointed copy is released by the context cleaner
    # once the batch's DataFrames go out of scope
    new_sigs = minhash_signature(
        new_docs, text_col, id_col, n, num_hashes).localCheckpoint()
    all_sigs = sig_store.unionByName(new_sigs)
    ba = _band_rows(all_sigs, id_col, band_size)
    bb = _band_rows(new_sigs, id_col, band_size)
    cands = (
        ba.alias("a").join(
            bb.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")))
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_b"))
        .distinct()
    )
    # checkpoint: cands feeds THREE consumers (both unions of `touched`
    # and the final verify join) — unmaterialized, the band self-join
    # re-runs per consumer (~3x the shuffles, measured in SCALE.md
    # round 1); checkpointed so per-batch state is GC-reclaimable
    cands = cands.localCheckpoint()
    touched = (cands.select(F.col("doc_a").alias("cid"))
               .union(cands.select(F.col("doc_b").alias("cid"))).distinct())
    needed = corpus.join(touched, corpus[id_col] == touched.cid).drop("cid")
    # checkpoint: the candidate docs' shingle sets feed both join sides
    sh = _doc_shingles(needed, text_col, id_col, n).localCheckpoint()
    sa = sh.select(F.col(id_col).alias("doc_a"), F.col("shingle_set").alias("set_a"))
    sb = sh.select(F.col(id_col).alias("doc_b"), F.col("shingle_set").alias("set_b"))
    common = F.size(F.array_intersect("set_a", "set_b"))
    return (
        cands.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard",
                    common / (F.size("set_a") + F.size("set_b") - common))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def cascade_keep_decision(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 3,
                          num_hashes: int = 8, band_size: int = 2,
                          threshold: float = 0.5) -> DataFrame:
    """The full curation verdict: run the exact → minhash-LSH cascade
    and emit one row per document with keep/drop and why.

    Kill rules (standard corpus-dedup policy, deterministic):
    - exact_dup: content identical to a lower-id document.
    - near_dup: verified Jaccard ≥ threshold against a lower-id doc
      (the lower id of each pair survives, so the canonical copy of a
      near-dup cluster chain is kept).
    Exact beats near when both apply. Shape: the exact pass is one
    groupBy on the 64-char hash; the near pass is the LSH pipeline
    (sub-quadratic); the final assembly is two left joins against
    small kill-lists — at 100 TB both lists are broadcast-size
    relative to the corpus (dup fraction ≪ 1)."""
    hashed = df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("content_hash"))
    canon = hashed.groupBy("content_hash").agg(F.min(id_col).alias("canonical_id"))
    exact_kill = (
        hashed.join(canon, "content_hash")
        .filter(F.col(id_col) != F.col("canonical_id"))
        .select(F.col(id_col).alias("kill_id"))
    )
    near_kill = (
        minhash_near_duplicates(df, text_col, id_col, n, num_hashes,
                                band_size, threshold)
        .select(F.col("doc_b").alias("kill_id")).distinct()
    )
    ek = exact_kill.withColumn("is_exact", F.lit(1))
    nk = near_kill.withColumn("is_near", F.lit(1))
    return (
        df.select(id_col)
        .join(ek, F.col(id_col) == ek.kill_id, "left").drop("kill_id")
        .join(nk, F.col(id_col) == nk.kill_id, "left").drop("kill_id")
        .select(
            F.col(id_col),
            F.when(F.col("is_exact") == 1, "exact_dup")
            .when(F.col("is_near") == 1, "near_dup")
            .otherwise("kept").alias("reason"),
            F.when(F.col("is_exact").isNull() & F.col("is_near").isNull(), "Y")
            .otherwise("N").alias("keep_flag"),
        )
    )


def _content_key(text_col: str) -> Column:
    """60-bit integer content key: first 15 hex chars of sha256,
    parsed base-16. Fits a signed long in ANY engine (DuckDB:
    CAST('0x'||substr(sha256(t),1,15) AS BIGINT)), so the bloom
    arithmetic below is bit-for-bit portable."""
    return F.conv(F.substring(F.sha2(F.col(text_col), 256), 1, 15), 16, 10).cast("long")


def _bloom_positions(h: Column, num_bits: int, num_hashes: int) -> Column:
    """k bloom bit positions via double hashing (Kirsch–Mitzenmacher):
    pos_j = (h mod m + j·(1 + h mod (m-1))) mod m. Pure integer modular
    arithmetic — no per-j rehash, and identical in SQL on any engine."""
    h1 = h % F.lit(num_bits)
    h2 = h % F.lit(num_bits - 1) + F.lit(1)
    return F.array(*[(h1 + F.lit(j) * h2) % F.lit(num_bits)
                     for j in range(num_hashes)])


def bloom_build_words(store: DataFrame, text_col: str = "text",
                      num_bits: int = 65536, num_hashes: int = 4) -> DataFrame:
    """Build a Bloom filter over the store's content keys as 64-bit
    words: (word_idx, word). ONE aggregation pass over the store
    (explode k positions → groupBy word index → bitwise-OR of masks);
    the result is ≤ num_bits/64 rows — kilobytes, broadcast-size, no
    matter how large the store is. This is the incremental-dedup
    accelerator shape at 100 TB: the filter is built once (or OR-merged
    per partition/batch — bitwise OR is associative and commutative),
    and each ingestion batch probes it map-side instead of joining
    against the full store."""
    pos = store.select(
        F.explode(_bloom_positions(_content_key(text_col),
                                   num_bits, num_hashes)).alias("pos")
    ).distinct()
    # shift amounts are data-dependent → SQL expr form (the Python
    # F.shiftleft binding takes only literal shift counts)
    return (
        pos.select(F.shiftright("pos", 6).alias("word_idx"),
                   F.expr("shiftleft(1L, int(pos % 64))").alias("mask"))
        .groupBy("word_idx").agg(F.bit_or("mask").alias("word"))
    )


def bloom_probe_new_docs(store: DataFrame, batch: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         num_bits: int = 65536,
                         num_hashes: int = 4) -> DataFrame:
    """Probe a new batch against the store's Bloom filter and classify
    every batch document:

    - ``bloom_hit = 'N'`` → provably unseen (no false negatives): the
      doc skips the expensive exact/near-dup join entirely.
    - ``bloom_hit = 'Y'`` → candidate; an exact content-hash join
      against the store (only for the hit subset) splits ``dup`` from
      ``false_positive``.

    Scale shape: filter build is one store pass producing a broadcast-
    size word table; the probe is explode(k) → broadcast join on
    word_idx → per-doc AND (groupBy on id, map-side partials). The
    exact-verify join runs ONLY on bloom hits — with a 1% FP rate the
    join input shrinks 100× versus joining the whole batch. Cited
    reference parity: the reference dedups via hash compare inside its
    MERGE (Delta_detection_query_gen.py:187-213); the bloom stage is
    the standard 100 TB front-door that makes that check batch-local."""
    words = bloom_build_words(store, text_col, num_bits, num_hashes)
    bpos = batch.select(
        F.col(id_col),
        F.explode(_bloom_positions(_content_key(text_col),
                                   num_bits, num_hashes)).alias("pos"),
    ).select(
        id_col,
        F.shiftright("pos", 6).alias("word_idx"),
        F.expr("shiftleft(1L, int(pos % 64))").alias("mask"),
    )
    probed = (
        bpos.join(F.broadcast(words), "word_idx", "left")
        .select(
            id_col,
            F.when(F.col("word").isNotNull()
                   & (F.col("word").bitwiseAND(F.col("mask")) != 0), 1)
            .otherwise(0).alias("bit_set"))
        .groupBy(id_col).agg(F.min("bit_set").alias("all_hit"))
    )
    store_hashes = store.select(
        F.sha2(F.col(text_col), 256).alias("_ch")).distinct()
    batch_hashed = batch.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("_bh"))
    dup = (
        batch_hashed.join(store_hashes,
                          batch_hashed._bh == store_hashes._ch, "left")
        .select(id_col,
                F.when(F.col("_ch").isNotNull(), 1).otherwise(0).alias("is_dup"))
    )
    return (
        probed.join(dup, id_col)
        .select(
            id_col,
            F.when(F.col("all_hit") == 1, "Y").otherwise("N").alias("bloom_hit"),
            F.when((F.col("all_hit") == 1) & (F.col("is_dup") == 1), "dup")
            .when(F.col("all_hit") == 1, "false_positive")
            .otherwise("clean").alias("verdict"),
        )
    )


def simhash16(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash over the token multiset: token → 16-bit hash
    (first 4 hex chars of sha256); sketch bit b = sign of Σ_tokens
    (±1 per token's bit b). Integer-exact → engine-portable.

    Shape: explode tokens → hash once per token in codegen → ONE
    groupBy with 16 signed-bit sums (map-side partial agg, single
    shuffle on id). The array-aggregate variant re-evaluated the
    sha256 transform for each of the 16 bits — 16x the hashing."""
    tok_rows = right_size(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tk"))
    h = F.conv(F.substring(F.sha2(F.col("tk"), 256), 1, 4), 16, 10).cast("int")
    sums = [
        F.sum(F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"_s{b}")
        for b in range(16)
    ]
    agg = tok_rows.groupBy(id_col).agg(*sums)
    sketch = None
    for b in range(16):
        term = F.when(F.col(f"_s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        sketch = term if sketch is None else sketch + term
    return agg.select(F.col(id_col), sketch.cast("int").alias("simhash"))


def simhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            max_hamming: int = 3) -> DataFrame:
    """Pairs within Hamming distance d of the 16-bit sketch, via the
    pigeonhole chunk-join: split the sketch into d+1 bit-chunks — a
    pair differing in ≤ d bits must agree EXACTLY on at least one
    chunk — equi-join per chunk, then verify bit_count(xor) on the
    (much smaller) candidate set. Exact: same pairs as the brute
    O(n²) theta-join (the DuckDB oracle), but the only non-equi
    condition left is the cheap id ordering, so the join is a hash
    join on (chunk_idx, chunk_val) instead of a nested-loop over all
    pairs. At 100 TB the same shape holds with a 64/128-bit sketch
    (more chunk entropy); chunk buckets are hash-random → no skew."""
    n_chunks = max_hamming + 1
    if n_chunks > 16:
        raise ValueError("max_hamming must be < 16 for a 16-bit sketch")
    # contiguous chunks, as even as possible: first (16 % k) chunks one bit wider
    base, extra = divmod(16, n_chunks)
    spec, off = [], 0
    for i in range(n_chunks):
        w = base + (1 if i < extra else 0)
        spec.append((off, w))
        off += w
    # persist the per-doc sketches: both sides of the self-join (and the
    # verify) reuse them — without it the token-explode aggregate runs twice
    sk = simhash16(df, text_col, id_col).persist()
    chunk_rows = sk.select(
        F.col(id_col), F.col("simhash"),
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), o).bitwiseAND(F.lit((1 << w) - 1))
            for o, w in spec
        ])).alias("chunk_idx", "chunk_val"),
    )
    a, b = chunk_rows.alias("a"), chunk_rows.alias("b")
    cands = (
        a.join(b, (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
               & (F.col("a.chunk_val") == F.col("b.chunk_val"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
                F.col("a.simhash").alias("sim_a"),
                F.col("b.simhash").alias("sim_b"))
        .distinct()  # a pair can match in more than one chunk
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    out = (
        cands.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .localCheckpoint(eager=True))  # release sk (see jaccard_pairs)
    sk.unpersist()
    return out


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      threshold: float = 0.5,
                      max_shingle_df: int | None = MAX_SHINGLE_DF) -> DataFrame:
    """ASYMMETRIC n-gram containment: C(A in B) = |A∩B| / |A| — the
    quotation / subset-duplication detector Jaccard misses. A short doc
    fully embedded in a long one scores J = |A|/|B| (tiny) but
    containment 1.0; LLM corpus curation flags exactly this shape
    (quoted boilerplate, excerpt pages, truncated re-crawls).

    Same inverted-index self-join as ``jaccard_pairs`` — ONE join with
    the a<b canonicalization, then each unordered pair is emitted in
    both directions with its own denominator, so the asymmetry costs
    projection, not a second shuffle. ``max_shingle_df`` caps the
    stop-shingle fan-out the same way (join side only; per-doc set
    sizes stay exact). Output: (doc_a contained-in doc_b, n_common,
    size_a, containment) for every directed pair at or above the
    threshold.
    """
    inv = _doc_shingles(df, text_col, id_col, n).select(
        F.col(id_col), F.explode("shingle_set").alias("shingle")
    ).persist()
    sizes = inv.groupBy(F.col(id_col).alias("sid")).agg(
        F.count(F.lit(1)).cast("int").alias("set_size"))
    joinable = _trim_hot_shingles(inv, df, max_shingle_df)
    a, b = joinable.alias("a"), joinable.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("lo"), F.col(f"b.{id_col}").alias("hi"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    both = common.select(
        F.explode(F.array(
            F.struct(F.col("lo").alias("doc_a"), F.col("hi").alias("doc_b")),
            F.struct(F.col("hi").alias("doc_a"), F.col("lo").alias("doc_b")),
        )).alias("d"), "n_common",
    ).select(F.col("d.doc_a"), F.col("d.doc_b"), "n_common")
    sa = sizes.select(F.col("sid").alias("doc_a"), F.col("set_size").alias("size_a"))
    out = (
        both.join(sa, "doc_a")
        .withColumn("containment", F.col("n_common") / F.col("size_a"))
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "n_common", "size_a", "containment")
        .localCheckpoint(eager=True))  # release inv (see jaccard_pairs)
    inv.unpersist()
    return out


def phash_hamming_pairs(ph: DataFrame, id_col: str = "doc_id",
                        hi_col: str = "phash_hi", lo_col: str = "phash_lo",
                        max_hamming: int = 3,
                        other: DataFrame | None = None,
                        block_cols: tuple[str, ...] = ()) -> DataFrame:
    """Image near-dup pairs from 64-bit perceptual hashes (two 32-bit
    halves) within ``max_hamming`` bits — the multimodal twin of
    ``simhash_near_duplicates``, same pigeonhole: split the 64 bits
    into 4 chunks of 16; any pair within Hamming distance 3 must agree
    EXACTLY on at least one chunk, so candidates come from 4 equi-joins
    on (chunk_idx, chunk_value) instead of an N² scan, then the exact
    ``bit_count(xor)`` verifies. Requires ``max_hamming < 4`` (the
    chunk count); raise it by adding chunks, not by weakening the join.
    Expected bucket sizes are ~N/2^16 per chunk value — hash-random, no
    skew; at 100 TB pre-bucket the hash table by chunk value and the
    candidate join is shuffle-free.

    ``other``: when given, the join runs A×B (``other`` supplies the
    doc_a side — a hash STORE probed by the new frame ``ph``) with no
    id-ordering filter — the incremental/streaming probe shape, batch
    cost independent of store size.

    ``block_cols``: extra equality keys for the candidate join (e.g.
    audio duration / n_frames) — pairs must agree on every block
    column, which both tightens semantics (different-length
    fingerprints never pair) and shrinks buckets. Block columns ride
    along in the output."""
    if max_hamming >= 4:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the 4-chunk pigeonhole "
            "guarantee (needs max_hamming < 4); add chunks instead")

    blocks = list(block_cols)

    def _chunks(df: DataFrame, out_id: str, hi: str, lo: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id), F.col(hi_col).alias(hi),
            F.col(lo_col).alias(lo), *[F.col(c) for c in blocks],
            F.posexplode(F.array(
                F.expr(f"shiftright({hi_col}, 0) & 65535"),
                F.expr(f"shiftright({hi_col}, 16) & 65535"),
                F.expr(f"shiftright({lo_col}, 0) & 65535"),
                F.expr(f"shiftright({lo_col}, 16) & 65535"),
            )).alias("chunk_idx", "chunk_val"))

    b = _chunks(ph, "doc_b", "hb", "lb")
    a = _chunks(other if other is not None else ph, "doc_a", "ha", "la")
    cand = a.join(b, ["chunk_idx", "chunk_val", *blocks])
    if other is None:
        cand = cand.filter(F.col("doc_a") < F.col("doc_b"))
    cand = (cand.select("doc_a", "doc_b", "ha", "hb", "la", "lb", *blocks)
            .distinct())
    return (cand.withColumn(
                "hamming",
                F.expr("CAST(bit_count(ha ^ hb) + bit_count(la ^ lb) AS INT)"))
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", *blocks, "hamming"))


# Content-defined chunking (CDC) constants, shared with the SQL oracle:
# a chunk boundary is declared wherever a gear rolling hash of the
# trailing CDC_WINDOW chars lands in a 1/CDC_DIVISOR sliver, so
# boundaries depend only on LOCAL content — an insertion early in a
# document shifts every fixed-stride shingle but leaves all later CDC
# cut points (and therefore their chunk hashes) intact. That shift
# immunity is why file-level dedup stores (and training-corpus delta
# dedup) chunk this way rather than at fixed offsets.
CDC_WINDOW = 16
CDC_DIVISOR = 32  # expected chunk length ~= CDC_DIVISOR chars

# Gear table for the rolling boundary hash: 256 pseudo-random 16-bit
# constants, one per byte value, derived deterministically from public
# arithmetic (first 2 bytes of sha256 of the byte) so the Spark scan
# and the DuckDB oracle share the identical table without shipping
# state. 16 bits suffice because the boundary test only ever reads the
# low CDC_WINDOW bits of the hash.
import hashlib as _hashlib  # noqa: E402 — table built at import, once

CDC_GEAR = tuple(
    int.from_bytes(_hashlib.sha256(bytes([v])).digest()[:2], "big")
    for v in range(256))


def _cdc_masks(window: int, divisor: int) -> tuple[int, int]:
    """(rolling mask, boundary mask) for the gear rule. The rolling
    hash is kept mod 2**window so it depends on exactly the trailing
    ``window`` chars; the boundary test reads its TOP log2(divisor)
    bits (a spread mask, FastCDC-style), firing with probability
    1/divisor while every one of the ``window`` chars still influences
    the decision."""
    if divisor <= 0 or divisor & (divisor - 1):
        raise ValueError(f"CDC divisor must be a power of two: {divisor}")
    shift = window - (divisor.bit_length() - 1)
    if shift < 0:
        raise ValueError(f"divisor {divisor} too large for window {window}")
    return (1 << window) - 1, (divisor - 1) << shift


def cdc_chunks(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id",
               window: int = CDC_WINDOW,
               divisor: int = CDC_DIVISOR) -> DataFrame:
    """Content-defined chunk extraction: one (doc_id, n_chars,
    chunk_len, chunk_hash) row per chunk: the front half of
    ``cdc_chunk_stats``.

    Boundary rule (gear rolling hash, mirrored in the DuckDB oracle):
    let ``h_i = ((h_{i-1} << 1) + GEAR[cp_i & 255]) mod 2**window``
    over the document's codepoints. Position ``i`` (1-based) ends a
    chunk iff ``i == length`` or ``i >= window`` and the top
    ``log2(divisor)`` bits of ``h_i`` are all zero — one
    add-shift-mask per char, versus the one-sha256-per-position rule
    this replaced (~100x the arithmetic per byte, the dominant cost of
    the chunking stage at corpus scale). Because ``h mod 2**window``
    depends on exactly the trailing ``window`` chars
    (``h_i = Σ_{j<window} GEAR[cp_{i-j}] << j``), the rule is also a
    pure per-position expression — which is what lets the SQL oracle
    state it as a ``window``-term weighted sum with no recursion.
    Empty (or NULL) documents produce no chunk rows and therefore no
    output row — same contract as the oracle, whose ``range(1, n+1)``
    is empty for ``n = 0``.

    The boundary scan is ONE Arrow pass per document (map_rows),
    vectorized: codepoints come from a utf-32 reinterpret, the rolling
    hash at every position is one numpy convolution with the
    ``[1, 2, 4, ...]`` kernel, and the boundary test is a masked
    compare — no per-position Python bytecode at all. Each task
    streams its documents once, emitting (doc_id, n_chars, chunk_len,
    chunk_hash) rows directly — no O(total chars) row explode, no
    per-doc lag-window shuffle. The pass is embarrassingly parallel
    and narrow; the chunk-hash shuffle — the only part that has to be
    global — is unchanged: one exchange on a 64-char key with map-side
    distinct, exactly the dedup_exact shape. Chunk hashes stay sha256
    (one per ~divisor chars, not per char).
    """
    import numpy as np  # noqa: PLC0415

    wmask, bmask = _cdc_masks(window, divisor)
    id_type = docs.schema[id_col].dataType.simpleString()
    gear = np.asarray(CDC_GEAR, dtype=np.int64)
    kernel = np.left_shift(np.int64(1), np.arange(window, dtype=np.int64))

    def scan(doc_id, text):
        if not text:  # empty or NULL: no chunks, no output row
            return
        n = len(text)
        cps = (np.frombuffer(text.encode("utf-32-le"),
                             dtype="<u4").astype(np.int64)) & 255
        # conv[i] = Σ_j gear[cp_{i-j}] << j  — the rolling hash at
        # 1-based position i+1 (exact: ≤ window·2^16·2^15, far under
        # int64; & wmask is the mod 2**window)
        h = np.convolve(gear[cps], kernel)[:n] & wmask
        idx = np.nonzero((h & bmask) == 0)[0]
        cuts = (idx[idx >= window - 1] + 1).tolist()
        if not cuts or cuts[-1] != n:
            cuts.append(n)
        s = 0
        for e in cuts:
            yield (doc_id, n, e - s,
                   _hashlib.sha256(text[s:e].encode("utf-8")).hexdigest())
            s = e

    d = right_size(docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text")))
    return map_rows(d, scan, f"doc_id {id_type}, n_chars bigint, "
                             "chunk_len bigint, chunk_hash string")


def cdc_chunk_stats(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    window: int = CDC_WINDOW,
                    divisor: int = CDC_DIVISOR) -> DataFrame:
    """Content-defined-chunking dedup: split every document at
    content-derived cut points (``cdc_chunks``), hash the chunks, and
    report per document how many of its chars live in chunks shared
    with at least one OTHER document.
    """
    chunks = cdc_chunks(docs, text_col, id_col, window, divisor)
    # The chunk stream is scanned exactly ONCE (it's a Python stage —
    # re-materializing it per consumer would triple the corpus pass),
    # and exchanged exactly TWICE: one repartition on chunk_hash that
    # both the (chunk_hash, doc_id) aggregation and the per-hash count
    # window reuse (HashPartitioning(chunk_hash) satisfies clustering
    # on the superset key), then the final groupBy doc_id. Rows at the
    # (chunk_hash, doc_id) grain are distinct docs, so the window's
    # count(*) ≡ countDistinct(doc_id) without building a set —
    # skew-safe even when one chunk is shared by millions of docs.
    g = chunks.repartition("chunk_hash").groupBy("chunk_hash", "doc_id").agg(
        F.sum("chunk_len").alias("chars"),
        F.count(F.lit(1)).alias("k"),
        F.first("n_chars").alias("n_chars"))
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("chunk_hash"))
    g = g.withColumn("dup_chars",
                     F.when(n_docs >= 2, F.col("chars")).otherwise(F.lit(0)))
    return (g.groupBy("doc_id")
            .agg(F.sum("k").cast("bigint").alias("n_chunks"),
                 F.first("n_chars").cast("bigint").alias("n_chars"),
                 F.sum("dup_chars").cast("bigint").alias("dup_chunk_chars"))
            .select(
                "doc_id", "n_chunks", "n_chars", "dup_chunk_chars",
                F.round(F.col("dup_chunk_chars") / F.col("n_chars"), 4)
                .alias("dup_ratio")))
