"""Round-11 operators: declared-weights linear quality classifier and
capped-round BPE vocabulary induction."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.operators import textops


def _bucket(word: str, salt: str = "qcls1", buckets: int = 128) -> int:
    return int(hashlib.sha256(f"{salt}\x1f{word}".encode())
               .hexdigest()[:8], 16) % buckets


# ---------------------------------------------------------------------------
# quality classifier
# ---------------------------------------------------------------------------

def test_declared_weight_buckets_matches_engine_hash(spark):
    """The pure-Python bucket fold must land words in the SAME buckets
    the Spark-side _hash_bucket computes — otherwise a deployment's
    declared word weights would silently score different tokens."""
    from dht11_data_pipeline_spark.operators.curation import _hash_bucket

    words = ["the", "data", "dup", "zq", "query"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    engine = {r["word"]: r["b"] for r in df.select(
        "word", _hash_bucket(F.col("word"), "qcls1", 128).alias("b"))
        .collect()}
    for w in words:
        assert engine[w] == _bucket(w), w
    # collisions accumulate, zero-weight buckets are dropped
    folded = textops.declared_weight_buckets({"the": 5, "data": -5})
    b_the, b_data = _bucket("the"), _bucket("data")
    if b_the == b_data:
        assert folded == {}
    else:
        assert folded == {b_the: 5, b_data: -5}


def test_quality_classifier_score_exact(spark):
    """Hand-computed scores on a tiny corpus: per-token weight lookup,
    bias, and the multiply-compare threshold (integer-exact, no
    division — scores are legitimately negative)."""
    w = textops.declared_weight_buckets({"good": 100, "bad": -300})
    df = spark.createDataFrame(
        [(1, "good good neutral"),   # 200 over 3 tokens
         (2, "bad good"),            # -200 over 2 tokens
         (3, "neutral neutral")],    # 0 over 2 tokens
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["score_sum"], r["keep_flag"])
           for r in textops.quality_classifier_score(
               df, w, threshold_milli=50).collect()}
    # keep iff 1000*score >= 50*n
    assert got[1] == (3, 200, "Y")    # 200000 >= 150
    assert got[2] == (2, -200, "N")
    assert got[3] == (2, 0, "N")      # 0 >= 100 is false
    # bias shifts every score; threshold 0 keeps exactly score>=0
    got_b = {r["doc_id"]: r["score_sum"] for r in
             textops.quality_classifier_score(df, w, bias=1000).collect()}
    assert got_b == {1: 1200, 2: 800, 3: 1000}


def test_quality_classifier_validates_inputs(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        textops.quality_classifier_score(df, {})
    with pytest.raises(ValueError, match="outside"):
        textops.quality_classifier_score(df, {128: 5}, buckets=128)
    with pytest.raises(ValueError, match="buckets"):
        textops.quality_classifier_score(df, {0: 5}, buckets=0)


def test_quality_classifier_shuffle_free(spark, sf_dir):
    """The scoring plan must stay a pure projection — no Exchange, no
    aggregation: that is the property that makes the 100 TB cost one
    linear scan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = textops.declared_weight_buckets(textops.QUALITY_WORD_WEIGHTS_V1)
    plan = textops.quality_classifier_score(docs, w)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Aggregate" not in plan


# ---------------------------------------------------------------------------
# BPE vocab induction
# ---------------------------------------------------------------------------

def _ref_bpe(word_freqs: dict[str, int], k: int):
    """Pure-Python reference: overlapping pair counts, (count desc,
    pair asc) tie-break, merge applied as non-overlapping left-to-right
    string replace on the padded symbol string — the documented
    engine-shared semantics."""
    words = {f" {' '.join(w)} ": f for w, f in word_freqs.items()}
    out = []
    for rank in range(1, k + 1):
        counts: dict[str, int] = {}
        for syms, f in words.items():
            toks = syms.split()
            for a, b in zip(toks, toks[1:]):
                counts[f"{a} {b}"] = counts.get(f"{a} {b}", 0) + f
        if not counts:
            break
        pair = min(counts, key=lambda p: (-counts[p], p))
        merged = pair.replace(" ", "")
        out.append((rank, pair, merged, counts[pair]))
        words = {s.replace(f" {pair} ", f" {merged} "): f
                 for s, f in words.items()}
    return out


def test_bpe_vocab_matches_reference(spark):
    corpus = [(1, "banana bandana"), (2, "banana"), (3, "ana banana")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    freqs = {"banana": 3, "bandana": 1, "ana": 1}
    got = [(r["merge_rank"], r["pair"], r["merged"], r["pair_count"])
           for r in textops.bpe_vocab(df, k=4).collect()]
    assert got == _ref_bpe(freqs, 4)
    assert got[0][1] == "a n"  # 'an' dominates this corpus


def test_bpe_vocab_repeated_symbol_run_semantics(spark):
    """The documented replace() variant on runs: 'aaaaa' under merge
    (a,a) becomes [aa, a, aa] (non-overlapping scan of the ORIGINAL
    string), not HF-BPE's greedy [aa, aa, a] — pinned so both the
    Spark plan and the DuckDB oracle keep agreeing on it."""
    df = spark.createDataFrame([(1, "aaaaa aaaaa ba")],
                               "doc_id long, text string")
    got = [(r["merge_rank"], r["pair"], r["merged"], r["pair_count"])
           for r in textops.bpe_vocab(df, k=2).collect()]
    # round 1: pairs are (a,a)x4 per 'aaaaa' word (x2 freq=2 -> 8)
    # and (b,a)x1
    assert got[0] == (1, "a a", "aa", 8)
    # after the replace-variant merge each 'aaaaa' is [aa, a, aa]:
    # pairs (aa,a) and (a,aa) once per word -> count 2 each;
    # tie-break lexicographic: 'a aa' < 'aa a'
    assert got[1] == (2, "a aa", "aaa", 2)


def test_bpe_vocab_early_stop_and_validation(spark):
    # single-char words only: no pairs -> empty merge table
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert textops.bpe_vocab(df, k=3).count() == 0
    with pytest.raises(ValueError, match="k must be"):
        textops.bpe_vocab(df, k=0)
    with pytest.raises(ValueError, match="k must be"):
        textops.bpe_vocab(df, k=65)


def test_bpe_vocab_weighted_by_word_frequency(spark):
    """Pair counts weight by corpus word frequency, not distinct-word
    occurrence: 'xy' appearing in 10 docs must beat 'zw' in 1."""
    rows = [(i, "xy") for i in range(10)] + [(100, "zw zq")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    top = textops.bpe_vocab(df, k=1).collect()[0]
    assert (top["pair"], top["pair_count"]) == ("x y", 10)


def test_bpe_encode_statistics_exact(spark):
    """Encode stats replay the learned merges exactly: hand-computed
    symbol counts on a corpus whose 2 merges are forced."""
    df = spark.createDataFrame(
        [(1, "banana banana"), (2, "ana nab")],
        "doc_id long, text string")
    # merges on this corpus (count desc, pair asc):
    #   r1: 'a n' (banana 2x2 + ana 1 + nab 1 = 6) -> an
    #   r2: 'an a' (banana: [b,an,an,a] -> (an,a)x1 each? compute below)
    got = {r["doc_id"]: (r["n_tokens"], r["n_chars"], r["n_symbols"],
                         r["compression_ppm"])
           for r in textops.bpe_encode(df, k=2).collect()}
    merges = [(r["pair"], r["merged"]) for r in
              textops.bpe_vocab(df, k=2).orderBy("merge_rank").collect()]

    def encode(word):
        s = " " + " ".join(word) + " "
        for pair, merged in merges:
            s = s.replace(f" {pair} ", f" {merged} ")
        return len(s.split())

    for doc_id, text in [(1, "banana banana"), (2, "ana nab")]:
        words = text.split()
        n_chars = sum(len(w) for w in words)
        n_syms = sum(encode(w) for w in words)
        assert got[doc_id] == (len(words), n_chars, n_syms,
                               n_syms * 1_000_000 // n_chars), doc_id
    # merging strictly compresses this corpus
    assert all(v[3] < 1_000_000 for v in got.values())


# ---------------------------------------------------------------------------
# corpus forensics: source divergence + contamination matrix
# ---------------------------------------------------------------------------

def test_source_divergence_exact_and_bounds(spark):
    """Hand-computed TV on a two-source corpus, plus the invariants:
    a source identical to the corpus mix scores 0-ish (floor noise
    only), and tv_ppm is always in [0, 1e6]."""
    df = spark.createDataFrame(
        [(1, "a a b", "s1"), (2, "a b b b", "s2")],
        "doc_id long, text string, source string")
    got = {r["source"]: (r["n_tokens"], r["vocab_size"], r["tv_ppm"])
           for r in textops.source_divergence(df).collect()}
    # corpus: a=3/7, b=4/7 -> q_a=428571, q_b=571428 (floors)
    # s1: p_a=666666, p_b=333333 -> |d|a=238095, |d|b=238095
    # tv = (238095+238095) DIV 2 = 238095; same for s2 by symmetry:
    # s2: p_a=250000, p_b=750000 -> 178571 + 178572 = 357143 DIV 2
    assert got["s1"] == (3, 2, (abs(666666-428571)+abs(333333-571428))//2)
    assert got["s2"] == (4, 2, (abs(250000-428571)+abs(750000-571428))//2)

    one = spark.createDataFrame([(1, "x y z", "only")],
                                "doc_id long, text string, source string")
    sole = textops.source_divergence(one).collect()[0]
    assert sole["tv_ppm"] == 0  # the sole source IS the corpus

    # absent-word tail: a source missing a corpus word pays its q mass
    df2 = spark.createDataFrame(
        [(1, "a", "s1"), (2, "b", "s2")],
        "doc_id long, text string, source string")
    got2 = {r["source"]: r["tv_ppm"]
            for r in textops.source_divergence(df2).collect()}
    # q_a=q_b=500000; s1: p_a=1e6 -> |d|=500000 present + 500000 absent
    assert got2 == {"s1": 500_000, "s2": 500_000}


def test_contamination_matrix_exact_and_hub_cap(spark):
    shared = "w1 w2 w3 w4 w5 w6 w7"          # exactly one 7-gram
    df = spark.createDataFrame(
        [(1, shared + " xa", "sA"), (2, shared + " xb", "sB"),
         (3, "u1 u2 u3 u4 u5 u6 u7 u8", "sC")],
        "doc_id long, text string, source string")
    got = {(r["source_a"], r["source_b"]): r["shared_grams"]
           for r in textops.contamination_matrix(df).collect()}
    assert got == {("sA", "sB"): 1}  # sC shares nothing

    # hub cap: a gram in MORE sources than the cap is boilerplate and
    # produces no pairs
    rows = [(i, shared, f"s{i:02d}") for i in range(5)]
    df_hub = spark.createDataFrame(
        rows, "doc_id long, text string, source string")
    assert textops.contamination_matrix(
        df_hub, max_sources_per_gram=4).count() == 0
    assert textops.contamination_matrix(
        df_hub, max_sources_per_gram=5).count() == 10  # C(5,2)
    with pytest.raises(ValueError, match="gram width"):
        textops.contamination_matrix(df, n=1)
