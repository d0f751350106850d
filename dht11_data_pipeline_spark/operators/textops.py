"""Document-level text analysis: quality scoring, language ID,
token statistics, content fingerprinting. Pure column expressions —
one codegen'd map stage, no shuffle, linear scan at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.functions.hashing import stable_hex_hash
from dht11_data_pipeline_spark.functions.partitioning import map_rows, right_size
from dht11_data_pipeline_spark.functions.text import (
    LANG_MARKERS, distinct_shingles, marker_score, punct_count,
    stopword_count, token_count, tokens,
)


def quality_metrics(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation / stopword quality signals. Ratios are
    single IEEE divisions of exact ints — deterministic cross-engine."""
    n_tok = token_count(text_col)
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        n_tok.alias("n_tokens"),
        ((F.length(text_col) - n_tok + 1) / n_tok).alias("avg_token_len"),
        (stopword_count(text_col) / n_tok).alias("stopword_ratio"),
        (punct_count(text_col) / F.length(text_col)).alias("punct_ratio"),
        F.size(F.array_distinct(tokens(text_col))).alias("n_unique_tokens"),
        (F.size(F.array_distinct(tokens(text_col))) / n_tok).alias("ttr"),
    )


def language_id(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Heuristic n-gram/marker language ID: score the text against each
    language's marker profile, pick the argmax (ties break in fixed
    profile order). Integer scores → engine-portable."""
    scores = {lang: marker_score(text_col, m) for lang, m in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    best = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        cond = scores[lang] > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return df.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
        best.alias("predicted_lang"),
        best_score.cast("int").alias("predicted_score"),
    )


def token_stats(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Token counting two ways (the LLM-pipeline budget signals):
    whitespace tokens, BPE-ish regex tokens (word / non-space-punct
    splits — the GPT-2 pre-tokenizer shape), plus a subword-budget
    estimate (ceil(wordlen/4) per word ≈ bytes-per-token heuristic).
    All codegen'd regex + higher-order array math — no shuffle."""
    ws = F.split(F.col(text_col), " ")
    bpe = F.regexp_extract_all(F.col(text_col), F.lit(r"\w+|[^\w\s]"), 0)
    subword = F.aggregate(
        ws, F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.ceil(F.length(t) / 4).cast("bigint"),
    )
    return df.select(
        F.col(id_col),
        F.size(ws).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        subword.alias("est_subword_tokens"),
        (F.length(text_col) / F.size(bpe)).alias("chars_per_token"),
    )


def winnowing_fingerprint(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 3,
                          w: int = 4) -> DataFrame:
    """Winnowing document fingerprint (the MOSS scheme): hash every
    k-gram along the token stream, slide a window of ``w`` consecutive
    hashes, keep each window's minimum — guaranteeing any shared run of
    ≥ w+k-1 tokens between two documents shares a fingerprint hash.

    The classic char-level formulation uses a Rabin-Karp ROLLING hash so
    each next k-gram costs O(1); in a vectorized engine every k-gram is
    hashed independently in one codegen pass, so the rolling recurrence
    buys nothing — the selection semantics (windowed minima) are what
    matter and are preserved exactly.

    Shape: posexplode tokens → per-position k-gram hash → sliding min
    via a window frame (one shuffle on doc id) → distinct. Output: one
    row per (doc, fingerprint hash) with its first selection position.
    """
    from pyspark.sql.window import Window

    toks = right_size(df).filter(
        F.size(F.split(F.col(text_col), " ")) >= k + w - 1
    ).select(F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "tk"))
    wlead = Window.partitionBy(id_col).orderBy("pos")
    gram = F.concat_ws(" ", F.col("tk"),
                       *[F.lead("tk", i).over(wlead) for i in range(1, k)])
    grams = toks.select(
        F.col(id_col), F.col("pos"), gram.alias("gram")
    ).filter(F.size(F.split(F.col("gram"), " ")) == k)
    hashed = grams.select(
        F.col(id_col), F.col("pos"),
        stable_hex_hash(F.col("gram")).alias("gh"))
    frame = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    # only full windows select (standard winnowing): last start = n-k-w+2
    selected = (
        hashed.withColumn("win_min", F.min("gh").over(frame))
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
        .filter(F.col("pos") <= F.col("_n") - w)
    )
    return (
        selected.groupBy(id_col, F.col("win_min").alias("fingerprint"))
        .agg(F.min("pos").alias("first_pos"))
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                n: int = 3) -> DataFrame:
    """Content fingerprint: min/max hex-hash over the document's word
    n-gram set (winnowing-lite). Two docs sharing the min-hash very
    likely share content — a join key for fast near-dup blocking."""
    # explode → codegen'd sha256 → one groupBy (map-side partial min/
    # max/count): the HOF-transform variant hashes in the interpreted
    # expression walker — 2-3x slower at sf0.1
    exploded = right_size(df).filter(
        F.size(F.split(F.col(text_col), " ")) >= n
    ).select(
        F.col(id_col),
        F.explode(distinct_shingles(text_col, n)).alias("_sh"),
    )
    return (
        exploded.groupBy(id_col)
        .agg(
            F.min(stable_hex_hash(F.col("_sh"))).alias("fp_min"),
            F.max(stable_hex_hash(F.col("_sh"))).alias("fp_max"),
            F.count(F.lit(1)).cast("int").alias("n_shingles"),
        )
    )


def duplicated_spans(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """Cross-document duplicated k-token spans — the substring-level
    dedup signal (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): a span of ≥ k tokens shared verbatim by
    two different documents marks boilerplate / templated content that
    document-level dedup misses. The full suffix-array construction is
    replaced by the vectorized equivalent for fixed k: every k-gram,
    grouped, kept where ≥ 2 DISTINCT documents contain it (any shared
    run of length L ≥ k appears here as L-k+1 overlapping grams, so no
    run is missed).

    Shape: row-local k-gram build (zip_with fold over token-array
    slices — no explode until the grams exist, no window/shuffle for
    gram construction) → ONE shuffle on the gram for the group count.
    Map-side partial aggregation collapses within-partition repeats, so
    a hot boilerplate gram arrives at the reducer as one partial row
    per partition — count aggregation is skew-proof where a join on the
    gram would not be."""
    from dht11_data_pipeline_spark.functions.text import shingles

    grams = right_size(df).filter(
        F.size(F.split(F.col(text_col), " ")) >= k
    ).select(
        F.col(id_col),
        F.explode(shingles(tokens(text_col), k)).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("n_docs"),
             F.count(F.lit(1)).alias("n_occurrences"),
             F.min(id_col).alias("min_doc_id"),
             F.max(id_col).alias("max_doc_id"))
        .filter(F.col("n_docs") >= 2)
    )


def span_coverage(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of a doc's
    tokens lying inside some k-token span that also appears verbatim in
    ANOTHER document — the span-level drop signal (RefinedWeb-style
    dedup scoring) built on duplicated_spans' gram table. Exact integer
    output (covered token count + ppm ratio) for engine-portable
    hashing.

    Shape: gram build is row-local; ONE shuffle on the gram finds the
    cross-doc duplicated grams; occurrences of those grams explode to
    their k covered token indices and reduce per doc (countDistinct —
    overlapping spans counted once). The duplicated-gram side of the
    join is corpus-dup-fraction sized; the final left join restores
    never-covered docs at zero."""
    from dht11_data_pipeline_spark.functions.text import shingles

    base = df.select(F.col(id_col),
                     F.size(tokens(text_col)).cast("int").alias("n_tokens"))
    grams = right_size(df).filter(
        F.size(F.split(F.col(text_col), " ")) >= k
    ).select(
        F.col(id_col),
        F.posexplode(shingles(tokens(text_col), k)).alias("pos", "gram"),
    )
    dup = (grams.groupBy("gram")
           .agg(F.countDistinct(id_col).alias("_nd"))
           .filter(F.col("_nd") >= 2).select("gram"))
    covered = (
        grams.join(dup, "gram")
        .select(F.col(id_col),
                F.explode(F.sequence(F.col("pos"),
                                     F.col("pos") + (k - 1))).alias("ti"))
        .groupBy(id_col)
        .agg(F.countDistinct("ti").cast("int").alias("covered_tokens"))
    )
    return (
        base.join(covered, id_col, "left")
        .select(
            id_col, "n_tokens",
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.expr("CAST(coalesce(covered_tokens, 0) AS BIGINT) * 1000000 "
                   "DIV n_tokens").alias("coverage_ppm"),
            F.when(F.coalesce("covered_tokens", F.lit(0)) * 2
                   >= F.col("n_tokens"), "Y").otherwise("N").alias("drop_flag"),
        )
    )


def dsir_weights(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", target_col: str = "lang",
                 target_value: str = "en", buckets: int = 128,
                 salt: str = "dsir1") -> DataFrame:
    """DSIR-style importance weights (hashed-bigram importance
    resampling, Xie et al. 2023): bigrams hash into ``buckets`` feature
    buckets; each bucket's target-vs-raw frequency ratio (in ppm,
    integer arithmetic) is the feature weight, and a document's
    importance score is the mean ratio over its bigram occurrences.
    Documents that look like the target slice (here: target_col ==
    target_value) score near 1e6; off-distribution ones score low.

    Shape: ONE shuffle builds the bucket statistics table (map-side
    partial counts; ``buckets`` rows out), which broadcasts back onto
    the per-doc gram stream; the per-doc reduce is the second shuffle.
    Integer ppm ratios end-to-end — no float enters the output."""
    from dht11_data_pipeline_spark.functions.text import shingles
    from dht11_data_pipeline_spark.operators.curation import _hash_bucket

    base = df.select(F.col(id_col))
    grams = right_size(df).filter(F.size(tokens(text_col)) >= 2).select(
        F.col(id_col),
        (F.col(target_col) == target_value).alias("is_target"),
        F.explode(shingles(tokens(text_col), 2)).alias("gram"),
    ).withColumn("bucket", _hash_bucket(F.col("gram"), salt, buckets))
    stats = (
        grams.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("raw_n"),
             F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("tgt_n"))
        .select("bucket",
                F.expr("tgt_n * 1000000 DIV raw_n").alias("ratio_ppm"))
    )
    per_doc = (
        grams.join(F.broadcast(stats), "bucket")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum("ratio_ppm").alias("w"))
    )
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("int").alias("n_bigrams"),
            F.coalesce("w", F.lit(0)).cast("bigint").alias("weight_ppm_sum"),
            F.when(F.coalesce("n_bigrams", F.lit(0)) == 0, F.lit(0))
            .otherwise(F.expr("w DIV n_bigrams"))
            .cast("bigint").alias("score_ppm"),
        )
    )


def bigram_rarity(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Character-bigram LM surprisal proxy — the classic cheap
    "perplexity-style" quality filter (a KenLM stand-in that needs no
    external model): train character-bigram statistics on the corpus
    itself, then score each document by how RARE its transitions are
    under that model. Gibberish / mojibake / base64 blobs light up;
    fluent text scores low.

    All INTEGER arithmetic so every engine reproduces it exactly: with
    C2(ab) = corpus count of bigram ab and C1(a) = corpus count of
    bigrams starting at a, the per-occurrence rarity is
    C1(a)*1_000_000 DIV C2(ab)  (= 1e6 / p(b|a), floored) and the doc
    score is SUM(rarity) DIV n_bigrams. No log, no float.

    Shape: the bigram build is one zip_with over two offset slices of
    the char array — O(len) per document. (The previous
    ``transform(sequence(1, len-1), i -> substring(text, i, 2))`` form
    was O(len²) per doc: UTF8String ``substring`` walks bytes from the
    START to find the code-point offset, so position i costs O(i) —
    the r13 optimization round measured the fix and it produces the
    identical bigram multiset, since ``concat(chars[i], chars[i+1]) ==
    substring(text, i, 2)`` code point for code point.) The model is
    ONE groupBy on the bigram key whose output is vocabulary-sized
    (≤ charset², ~10⁴ for ASCII) → broadcast back onto the stream; the
    doc score is one aggregate keyed by doc id. At 100 TB: train the
    model with a partial-aggregated pass (map-side combine makes it
    charset²-bounded per task), broadcast it, and the scoring pass is
    embarrassingly parallel.
    """
    chars = F.split(F.col(text_col), "")
    m = F.char_length(F.col(text_col)) - 1
    bg = (right_size(df)
          .filter(F.char_length(F.col(text_col)) >= 2)
          .select(
              F.col(id_col),
              F.explode(F.zip_with(
                  F.slice(chars, 1, m), F.slice(chars, 2, m),
                  lambda a, b: F.concat(a, b))).alias("bigram"))
          .withColumn("pre", F.substring(F.col("bigram"), 1, 1))
          .persist())
    c2 = (bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c2"))
          .withColumn("pre", F.substring("bigram", 1, 1)))
    c1 = bg.groupBy("pre").agg(F.count(F.lit(1)).alias("c1"))
    model = (c2.join(c1, "pre")
             .select("bigram",
                     F.expr("c1 * 1000000 DIV c2").alias("rarity")))
    out = (
        bg.join(F.broadcast(model), "bigram")
        .groupBy(F.col(id_col))
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum("rarity").alias("rarity_sum"))
        .select(F.col(id_col),
                F.col("n_bigrams").cast("int").alias("n_bigrams"),
                F.expr("rarity_sum DIV n_bigrams").alias("rarity_score"))
        .localCheckpoint(eager=True)
    )
    bg.unpersist()
    return out


def ngram_novelty(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Per-document n-gram novelty against everything EARLIER in the
    corpus (doc-id order = ingestion order): what fraction of a doc's
    distinct n-grams first appear in that doc. The dataset-growth
    curve every crawl pipeline watches — novelty collapsing toward 0
    means new data is re-crawl, not new content; high-novelty docs are
    the ones worth keeping when the token budget bites.

    Shape: one inverted explode of the distinct-shingle sets, one
    groupBy(gram) for the global first-occurrence (min doc id), one
    broadcast-or-shuffle join back, one per-doc aggregate — the same
    two-shuffle inverted-index pattern as the dedup family, integer
    ppm output."""
    inv = (right_size(df)
           .filter(F.size(tokens(text_col)) >= n)
           .select(F.col(id_col),
                   F.explode(distinct_shingles(text_col, n)).alias("gram")))
    first = inv.groupBy("gram").agg(F.min(id_col).alias("first_doc"))
    return (
        inv.join(first, "gram")
        .groupBy(F.col(id_col))
        .agg(F.count(F.lit(1)).alias("_n"),
             F.count(F.when(F.col("first_doc") == F.col(id_col), 1))
             .alias("_novel"))
        .select(F.col(id_col),
                F.col("_n").cast("int").alias("n_grams"),
                F.col("_novel").cast("int").alias("n_novel"),
                F.expr("_novel * 1000000 DIV _n").alias("novelty_ppm"))
    )


def kn_trigram(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", top_n: int = 100) -> DataFrame:
    """Kneser-Ney smoothed trigram LM statistics in EXACT integer
    arithmetic — the self-trained n-gram model a curation pipeline
    scores fluency with (the full-strength sibling of the
    char-bigram ``bigram_rarity`` proxy). With c = trigram count,
    ctx_n = context total c(w1 w2), n_follow = |{w3' : c(w1 w2 w3')>0}|,
    n_prec = |{(w1',w2') : c(w1' w2' w3)>0}| and T = distinct trigram
    types, the discounted probability (D = 0.75, everything scaled to
    ppm and floored — no float, engine-exact) is

        pkn_ppm = GREATEST(c*1e6 - 750000, 0) DIV ctx_n
                  + ((750000 * n_follow DIV ctx_n)
                     * (1e6 * n_prec DIV T)) DIV 1e6

    — absolute-discount mass re-routed through the CONTINUATION
    unigram (how many contexts a word completes), the KN insight that
    distinguishes versatile words from frequent-but-glued ones.

    Shape: trigrams via arrays_zip over three shifted slices (never
    element_at-in-a-lambda, which re-evaluates the token array per
    element); three vocabulary-sized aggregates; the scalar T joins
    back as a broadcast 1-row aggregate of the PERSISTED type table
    (window-over-everything would single-partition a 100 TB type
    table; re-aggregating persisted c3 is one cheap pass). Output is
    the top ``top_n`` trigrams via TakeOrderedAndProject — never a
    global sort."""
    toks = (right_size(df)
            .select(F.col(id_col),
                    F.expr(f"filter(split({text_col}, ' '), "
                           "t -> t != '')").alias("tk"))
            .filter(F.size("tk") >= 3))
    tri = toks.select(F.explode(F.arrays_zip(
        F.slice("tk", 1, F.size("tk") - 2).alias("w1"),
        F.slice("tk", 2, F.size("tk") - 2).alias("w2"),
        F.slice("tk", 3, F.size("tk") - 2).alias("w3"),
    )).alias("g")).select("g.w1", "g.w2", "g.w3")
    c3 = (tri.groupBy("w1", "w2", "w3")
          .agg(F.count(F.lit(1)).alias("c")).persist())
    ctx = (c3.groupBy("w1", "w2")
           .agg(F.sum("c").alias("ctx_n"),
                F.count(F.lit(1)).alias("n_follow")))
    cont = c3.groupBy("w3").agg(F.count(F.lit(1)).alias("n_prec"))
    total = c3.agg(F.count(F.lit(1)).alias("t"))
    from pyspark.sql.window import Window
    out = (
        c3.join(ctx, ["w1", "w2"])
        .join(cont, "w3")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2", "w3", "c",
            F.col("ctx_n").cast("bigint").alias("ctx_n"),
            "n_follow", "n_prec",
            (F.expr("GREATEST(c * 1000000 - 750000, 0) DIV ctx_n")
             + F.expr("((750000 * n_follow DIV ctx_n) * "
                      "(1000000 * n_prec DIV t)) DIV 1000000"))
            .cast("bigint").alias("pkn_ppm"))
        .orderBy(F.col("c").desc(), "w1", "w2", "w3")
        .limit(top_n))
    ranked = (out.withColumn(
        "rk", F.row_number().over(
            Window.orderBy(F.col("c").desc(), "w1", "w2", "w3"))
        .cast("int"))
        .localCheckpoint(eager=True))  # bounded top_n rows; lets c3 release
    c3.unpersist()
    return ranked


def doc_lm_score(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-DOCUMENT fluency score under the corpus's own trigram LM —
    the "score every document with an n-gram model trained on the
    corpus itself" curation stage (kn_trigram surfaces the model's
    top trigrams; this turns the model into a per-doc quality signal
    an LM-filtering gate can threshold on).

    All-integer and engine-exact: for each trigram occurrence,
    ``p_ppm = (1e6 · c3) DIV c2`` with c3 the corpus count of the
    trigram and c2 its context total c(w1 w2) — the trigram MLE floored
    to ppm — and the document score is the integer mean
    ``SUM(k · p_ppm) DIV SUM(k)`` over the doc's trigram types (k =
    in-doc occurrences). Docs with < 3 tokens have no trigrams and are
    absent from the output (mirrored in the oracle).

    Shape (the decorrelation-window rule, never a join-back): one
    token scan → an explicit (w1,w2) repartition whose subset-key
    clustering satisfies EVERYTHING at the trigram grain — the
    per-(trigram, doc) count, the c3 window on (w1,w2,w3) AND the c2
    window on (w1,w2) all run on that ONE exchange (HashPartitioning
    on a subset of the required keys co-locates the superset groups).
    The per-doc mean is the only other shuffle: TWO exchanges total,
    zero re-scans of the raw text, no persist/checkpoint state. The
    subset keys trade a little context skew for the saved shuffle;
    (w1,w2) cardinality is vocabulary², so hot contexts stay far
    below a partition.
    """
    from pyspark.sql.window import Window

    toks = (right_size(df)
            .select(F.col(id_col),
                    F.expr(f"filter(split({text_col}, ' '), "
                           "t -> t != '')").alias("tk"))
            .filter(F.size("tk") >= 3))
    tri = toks.select(F.col(id_col), F.explode(F.arrays_zip(
        F.slice("tk", 1, F.size("tk") - 2).alias("w1"),
        F.slice("tk", 2, F.size("tk") - 2).alias("w2"),
        F.slice("tk", 3, F.size("tk") - 2).alias("w3"),
    )).alias("g")).select(id_col, "g.w1", "g.w2", "g.w3")
    dt = (tri.repartition("w1", "w2")
          .groupBy("w1", "w2", "w3", id_col)
          .agg(F.count(F.lit(1)).cast("bigint").alias("k")))
    w3w = Window.partitionBy("w1", "w2", "w3")
    w2w = Window.partitionBy("w1", "w2")
    scored = (dt
              .withColumn("c3", F.sum("k").over(w3w).cast("bigint"))
              .withColumn("c2", F.sum("k").over(w2w).cast("bigint"))
              .withColumn("p_ppm",
                          F.expr("(1000000 * c3) DIV c2").cast("bigint")))
    return (scored.groupBy(id_col)
            .agg(F.sum("k").cast("bigint").alias("n_trigrams"),
                 F.expr("SUM(k * p_ppm) DIV SUM(k)")
                 .cast("bigint").alias("lm_score_ppm")))


def oov_rate(df: DataFrame, vocab_size: int = 1000,
             text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Vocabulary-coverage audit: per document, how much of it falls
    outside the corpus's own top-``vocab_size`` token vocabulary — the
    "will the tokenizer shred this doc into bytes" signal a curation
    pipeline thresholds before training (high OOV ⇒ boilerplate,
    code-as-prose, wrong language, or OCR noise).

    Vocabulary = the ``vocab_size`` tokens ranked by (corpus count
    DESC, token) — a TOTAL order, so the cut is deterministic and the
    SQL twin reproduces it exactly. The rank is the DISTRIBUTED
    ranking operator (operators/ranking.global_row_number), never a
    single-partition window: the token-TYPE frame is vocabulary-sized
    (easily 1e9 rows at 100 TB with web tokenization).

    Shape: one token scan → (token, doc) counts on an explicit token
    repartition; the corpus count per token is a WINDOW sum on that
    same exchange and the type frame is a dropDuplicates on it too
    (three consumers, one exchange). The type frame is checkpointed
    before ranking (it feeds the ranked vocab AND keeps the doc-grain
    frame's lineage shallow); the chosen vocab is ``vocab_size`` rows
    → broadcast left join, then one per-doc aggregate.

    Output: (id, n_tokens, n_oov, oov_ppm) with
    ``oov_ppm = 1e6·n_oov DIV n_tokens`` — exact integers end-to-end.
    """
    from dht11_data_pipeline_spark.operators.ranking import (
        global_row_number)
    from pyspark.sql.window import Window

    toks = (right_size(df)
            .select(F.col(id_col),
                    F.explode(F.expr(
                        f"filter(split({text_col}, ' '), t -> t != '')"))
                    .alias("token")))
    dt = (toks.repartition("token")
          .groupBy("token", id_col)
          .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
          .withColumn("c", F.sum("k").over(Window.partitionBy("token"))
                      .cast("bigint"))
          .localCheckpoint(eager=True))
    types = dt.select("token", "c").dropDuplicates(["token"])
    vocab = (global_row_number(
        types, [F.col("c").desc(), F.col("token")], "rk")
        .filter(F.col("rk") <= vocab_size)
        .select("token", F.lit(1).alias("_in_vocab")))
    return (dt.join(F.broadcast(vocab), "token", "left")
            .groupBy(id_col)
            .agg(F.sum("k").cast("bigint").alias("n_tokens"),
                 F.sum(F.when(F.col("_in_vocab").isNull(), F.col("k"))
                       .otherwise(F.lit(0)))
                 .cast("bigint").alias("n_oov"))
            .select(id_col, "n_tokens", "n_oov",
                    F.expr("(1000000 * n_oov) DIV n_tokens")
                    .cast("bigint").alias("oov_ppm")))


def rake_keywords(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", top_n: int = 3) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword/punctuation-free word runs; a word's score is
    deg/freq over its phrase occurrences (deg = summed length of the
    phrases it appears in); a phrase's score is the sum of its word
    scores; emit each document's ``top_n`` distinct phrases.

    All scoring is integer ppm (deg·1e6 DIV freq, summed as BIGINT) so
    there is no float accumulation order to drift cross-engine, and
    the final ranking ties on the phrase text. Shape (r14, guide
    §2.1/§2.2): ONE hash shuffle of the UNEXPLODED docs on doc_id up
    front — every downstream window, aggregation and self-join below
    is keyed on a doc_id-superset, so HashPartitioning(doc_id)
    satisfies all of their required distributions and the plan runs
    exchange-free after the explodes. Before r14 the first shuffle sat
    AFTER the word explode and each of the six doc_id-subset
    operations re-shuffled (6 Exchanges moving exploded words; now 1
    Exchange moving whole docs — hundreds of times fewer shuffle
    rows)."""
    from dht11_data_pipeline_spark.functions.text import STOPWORDS
    from pyspark.sql.window import Window

    # hash-repartition REPLACES right_size here: one shuffle both
    # spreads the single-split small-parquet read across cores AND
    # establishes the doc_id clustering every downstream op reuses
    d = df.select(F.col(id_col).alias("doc_id"),
                  F.lower(F.col(text_col)).alias("t")).repartition("doc_id")
    segs = d.select(
        "doc_id",
        F.posexplode(F.split(F.col("t"), "[^a-z0-9 ]+"))
        .alias("seg_idx", "seg"))
    words = (segs.select(
        "doc_id", "seg_idx",
        F.posexplode(F.split(F.col("seg"), " +")).alias("word_idx", "word"))
        .filter(F.col("word") != ""))
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    w_seg = (Window.partitionBy("doc_id", "seg_idx").orderBy("word_idx")
             .rowsBetween(Window.unboundedPreceding, 0))
    grouped = (words
               .withColumn("is_break",
                           F.array_contains(stop, F.col("word"))
                           .cast("int"))
               .withColumn("bucket", F.sum("is_break").over(w_seg))
               .filter(F.col("is_break") == 0))
    occ = (grouped.groupBy("doc_id", "seg_idx", "bucket")
           .agg(F.expr("array_join(transform(array_sort("
                       "collect_list(struct(word_idx, word))),"
                       " s -> s.word), ' ')").alias("phrase"),
                F.count(F.lit(1)).alias("phrase_len")))
    members = occ.select(
        "doc_id", "seg_idx", "bucket", "phrase", "phrase_len",
        F.explode(F.split("phrase", " ")).alias("word"))
    wstats = (members.groupBy("doc_id", "word")
              .agg(F.count(F.lit(1)).alias("freq"),
                   F.sum("phrase_len").alias("deg")))
    scored = (members.join(wstats, ["doc_id", "word"])
              .groupBy("doc_id", "seg_idx", "bucket", "phrase",
                       "phrase_len")
              .agg(F.sum(F.expr("deg * 1000000 DIV freq"))
                   .alias("score_ppm")))
    distinct_phrases = (scored.groupBy("doc_id", "phrase")
                        .agg(F.first("phrase_len").alias("n_words"),
                             F.first("score_ppm").alias("score_ppm")))
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("score_ppm").desc(), F.col("phrase"))
    return (distinct_phrases
            .withColumn("rank", F.row_number().over(w_rank).cast("int"))
            .filter(F.col("rank") <= top_n)
            .select("doc_id", "phrase",
                    F.col("n_words").cast("bigint").alias("n_words"),
                    F.col("score_ppm").cast("bigint").alias("score_ppm"),
                    "rank"))


# ---------------------------------------------------------------------------
# Declared-weights linear quality classifier (fastText-style gate)
# ---------------------------------------------------------------------------
#
# The quality-filter stage every production corpus pipeline runs: a tiny
# linear model over hashed token features scores each document, and a
# threshold gates it. Sits beside DSIR (importance relative to a TARGET
# distribution) as quality-ABSOLUTE scoring — the model's weights are a
# DECLARED parameter (trained elsewhere, shipped with the pipeline), so
# scoring is a pure per-row projection: no shuffle, no state. Reference
# need: the same classify-then-filter role as the reference's metadata
# quality gates (CheckInterface_Metadata.py:31-38), applied to document
# text.

def declared_weight_buckets(word_weights: dict[str, int],
                            buckets: int = 128,
                            salt: str = "qcls1") -> dict[int, int]:
    """Fold a word→weight table into the hashed feature space the
    classifier scores in (the hashing trick): bucket(word) accumulates
    the word's weight, colliding words add. Pure Python twin of
    operators/curation._hash_bucket — same sha256(salt <US> word)
    first-8-hex-chars arithmetic, asserted equal in tests — so a
    deployment can declare weights by WORD and ship buckets."""
    import hashlib
    out: dict[int, int] = {}
    for word, wt in word_weights.items():
        b = int(hashlib.sha256(f"{salt}\x1f{word}".encode())
                .hexdigest()[:8], 16) % buckets
        out[b] = out.get(b, 0) + int(wt)
    return {b: w for b, w in sorted(out.items()) if w != 0}


# The driver query's declared model (v1): favors structured analytic
# prose (the corpus's query/data vocabulary), penalizes the junk
# markers ("dup" tags the synthetic near-duplicate spam family). Any
# real deployment swaps this table; the MECHANISM is the operator.
QUALITY_WORD_WEIGHTS_V1: dict[str, int] = {
    "the": 150, "a": 100, "data": 120, "query": 80, "table": 60,
    "join": 40, "fast": 30, "slow": -60, "big": -30, "dup": -800,
}


def quality_classifier_score(df: DataFrame, weights: dict[int, int],
                             buckets: int = 128,
                             bias: int = 0,
                             threshold_milli: int = 0,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             salt: str = "qcls1") -> DataFrame:
    """Score = bias + Σ_tokens weight[bucket(token)] (missing buckets
    weigh 0), keep iff the MEAN token weight clears the threshold:
    1000·score ≥ threshold_milli·n_tokens — a multiply-compare, never
    a division, because Spark's DIV truncates toward zero while
    DuckDB's // floors, and classifier scores are legitimately
    NEGATIVE (the one place the repo's integer-DIV idiom would drift
    between engines).

    All-integer and deterministic: the verdict for a row depends only
    on (text, declared weights), never on partitioning, corpus
    composition, or a seed — so replays and backfills keep the
    identical subset. Scale: one codegen'd-scan map stage plus an
    interpreted fold over the token array per row (higher-order
    functions don't codegen); zero shuffles, zero Python, linear at
    any corpus size.

    NULL text coalesces to '' BEFORE tokenizing (round-11 ADVICE):
    Spark's size(split(NULL)) is -1 with a NULL score while DuckDB's
    len(string_split(NULL)) is NULL with a 0 score — the one
    degenerate row where the two engines would read the same document
    differently. Coalesced, both sides see the single-empty-token
    document (n_tokens=1, score=bias) and the verdict is defined
    identically; the oracle mirrors the coalesce.

    Returns (id, n_tokens, score_sum, keep_flag).
    """
    from dht11_data_pipeline_spark.operators.curation import _hash_bucket

    if not weights:
        raise ValueError("quality_classifier_score: need a non-empty "
                         "bucket-weight table")
    if not 1 <= int(buckets) <= 1_000_000:
        raise ValueError("quality_classifier_score: buckets must be in "
                         "[1, 1e6]")
    bad = {b for b in weights if not 0 <= int(b) < int(buckets)}
    if bad:
        raise ValueError(f"quality_classifier_score: weight buckets "
                         f"{sorted(bad)} outside [0, {buckets})")
    wmap = F.map_from_arrays(
        F.array(*[F.lit(int(b)) for b in sorted(weights)]),
        F.array(*[F.lit(int(weights[b])).cast("bigint")
                  for b in sorted(weights)]))
    tok = tokens(F.coalesce(F.col(text_col), F.lit("")))
    per_token = F.transform(
        tok, lambda t: F.coalesce(
            F.element_at(wmap, _hash_bucket(t, salt, int(buckets))
                         .cast("int")),
            F.lit(0).cast("bigint")))
    score = F.aggregate(per_token, F.lit(int(bias)).cast("bigint"),
                        lambda acc, x: acc + x)
    n_tok = F.size(tok).cast("int")
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        score.alias("score_sum"),
        F.when(score * 1000 >= F.lit(int(threshold_milli)) * n_tok, "Y")
        .otherwise("N").alias("keep_flag"))


# ---------------------------------------------------------------------------
# Capped-round distributed BPE vocabulary induction
# ---------------------------------------------------------------------------

# Vocabulary-size gate for the driver-tier merge loop: the k merge
# rounds run on the DISTINCT-WORD frequency table, which is bounded by
# vocabulary, not corpus — under this many distinct words the rounds
# run driver-side over one Arrow collect (the graph/kmeans hybrid-tier
# contract: a bounded collect replacing a chain of tiny sequential
# jobs), above it the distributed per-round loop runs unchanged.
BPE_DRIVER_VOCAB_LIMIT = 1_000_000

# Work-budget companion to the vocab gate (ADVICE r13): the driver
# rounds cost O(k · total symbols) single-threaded Python, so a large
# vocabulary is only driver-eligible when k is small — gate on the
# PRODUCT k·n_words, not the vocabulary size alone (at the cap below,
# worst-case driver work is ~10⁸ char ops ≈ a couple of seconds; the
# distributed tier takes over beyond it).
BPE_DRIVER_KN_LIMIT = 8_000_000


def _bpe_merges_driver(word_freqs: list[tuple[str, int]],
                       k: int) -> list[tuple[int, str, str, int]]:
    """Driver-side BPE merge rounds — semantics IDENTICAL to the
    distributed loop in ``bpe_vocab`` (and to the ``_ref_bpe`` test
    reference): overlapping pair counts weighted by word frequency,
    ties (count DESC, pair lexicographic ASC — UTF-8 byte order equals
    code-point order, which is what both Spark's binary string
    comparison and Python ``str`` comparison implement), merges applied
    as non-overlapping left-to-right string replaces on the padded
    symbol string (Python ``str.replace`` == Spark/DuckDB ``replace``).
    Cost is O(k · total symbols) dict work, bounded by the k·n_words
    gate in ``bpe_vocab``.

    The symbol padding mirrors JAVA regex dot semantics (ADVICE r13):
    the distributed tier pads with ``regexp_replace(word, '(.)', ...)``
    whose dot excludes ALL line terminators (\\n \\r \\x85 \\u2028
    \\u2029), while Python's ``.`` excludes only \\n — a word carrying
    a bare CR (CRLF corpora survive ``tokens``' space-only split)
    would otherwise pad differently per tier and break the documented
    bit-identical-tiers contract. The negated class below is exactly
    Java's default-dot complement."""
    import re
    _java_dot = "([^\\n\\r\\x85\\u2028\\u2029])"
    cur = [(" " + re.sub(_java_dot, r"\1 ", w), int(f))
           for w, f in word_freqs]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, k + 1):
        counts: dict[str, int] = {}
        for syms, freq in cur:
            parts = syms.strip(" ").split(" ")
            for i in range(len(parts) - 1):
                p = parts[i] + " " + parts[i + 1]
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        pair = min(counts, key=lambda p: (-counts[p], p))
        merged = pair.replace(" ", "")
        merges.append((rank, pair, merged, counts[pair]))
        pat, rep = f" {pair} ", f" {merged} "
        cur = [(s.replace(pat, rep), f) for s, f in cur]
    return merges


def bpe_vocab(df: DataFrame, k: int = 6,
              text_col: str = "text", id_col: str = "doc_id",
              driver_vocab_limit: int | None = BPE_DRIVER_VOCAB_LIMIT,
              ) -> DataFrame:
    """Byte-pair-encoding vocabulary induction, capped at ``k`` merge
    rounds — the tokenizer-side operator between the text statistics
    and ``curation.chunk_tokens``: each round counts every adjacent
    symbol pair across the corpus (weighted by word frequency), merges
    the single most frequent pair everywhere, and records the rule.
    Deterministic ties: count DESC, then pair lexicographic ASC.

    Exactness/portability design (so a SQL oracle replays the same k
    merges bit-for-bit):

    - Words live as PADDED SYMBOL STRINGS (``' h e l l o '``), built
      with ``regexp_replace(word, '(.)', '$1 ')`` — a regex both RE2
      (DuckDB) and Java regex execute identically (no lookaround).
    - A merge applies as a literal string replace of ``' l r '`` with
      ``' lr '``: both engines scan left to right replacing
      NON-OVERLAPPING occurrences of the original string, so on runs
      of repeated symbols (``a a a a a``) the result is the shared
      replace() semantics rather than reference-BPE's greedy
      resymbolization ([aa, a, aa] here vs HF-BPE's [aa, aa, a]) —
      a deliberate, documented variant chosen because BOTH engines
      implement it natively; pair COUNTS still count overlapping
      occurrences like reference BPE.
    - Pair extraction reuses ``functions.text.shingles`` (zip_with
      over pre-sliced arrays — the O(n) idiom, never element_at).

    Scale: the corpus is scanned ONCE (the word-frequency shuffle —
    map-side partials, vocabulary-sized output); every merge round
    then runs on the vocabulary frame only: one pair-count shuffle
    (pair-vocabulary-sized) plus a 1-row collect, with the frame
    localCheckpointed per round so round r+1 never recomputes rounds
    1..r from the corpus (the graph_kcore lineage discipline). The
    driver holds exactly k (merge, count) tuples. Stops early if no
    pairs remain (every word fully merged).

    Hybrid tiers (r13): the merge rounds are vocabulary-bounded work,
    so under the driver gate the k rounds run DRIVER-SIDE over one
    collect of the (word, freq) table (``_bpe_merges_driver`` —
    bit-identical semantics, pinned against the distributed tier in
    tests), replacing 2 driver-round-trip jobs per round (pair-count
    collect + eager checkpoint) with one collect. The gate (ADVICE
    r13) is two-sided: ``driver_vocab_limit`` bounds the collect size
    AND ``BPE_DRIVER_KN_LIMIT`` bounds the single-threaded merge work
    k·n_words — a 1M-word vocabulary is driver-eligible at k=6 but
    not at k=64. The gate is the collect itself: at most cap + 1 rows
    come back (cap = the tighter of the two bounds), and cap + 1 rows
    mean the vocabulary is over the gate. Above the gate the
    distributed loop below runs unchanged — the 100 TB path when the
    vocabulary itself outgrows the driver; its first checkpoint
    computes the word table again, since nothing is persisted for a
    gate that the driver tier usually passes. Pass
    ``driver_vocab_limit=None`` to force the distributed tier.

    Returns one row per merge: (merge_rank, pair, merged, pair_count).
    """
    return df.sparkSession.createDataFrame(
        _bpe_merges(df, k, text_col, driver_vocab_limit),
        "merge_rank int, pair string, merged string, pair_count bigint")


def _bpe_merges(df: DataFrame, k: int, text_col: str,
                driver_vocab_limit: int | None,
                ) -> list[tuple[int, str, str, int]]:
    """The k (merge_rank, pair, merged, pair_count) rules of
    ``bpe_vocab``, in rank order, as a driver-side list."""
    from dht11_data_pipeline_spark.functions.text import shingles

    if not 1 <= int(k) <= 64:
        raise ValueError(f"bpe_vocab: k must be in [1, 64], got {k} — "
                         f"each round is a corpus-wide aggregate; cap "
                         f"the vocabulary, don't loop unbounded")
    words = (df.select(F.explode(tokens(text_col)).alias("word"))
             .filter(F.col("word") != "")
             .groupBy("word")
             .agg(F.count(F.lit(1)).cast("bigint").alias("freq")))
    if driver_vocab_limit is not None:
        cap = min(driver_vocab_limit, BPE_DRIVER_KN_LIMIT // int(k))
        pdf = words.limit(cap + 1).toPandas()  # Arrow: two narrow columns
        if len(pdf) <= cap:
            return _bpe_merges_driver(
                list(zip(pdf["word"].tolist(), pdf["freq"].tolist())),
                int(k))
    cur = words.select(
        F.concat(F.lit(" "), F.regexp_replace("word", "(.)", "$1 "))
        .alias("syms"),
        "freq").localCheckpoint(eager=True)

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, int(k) + 1):
        arr = F.split(F.trim(F.col("syms")), " ")
        top = (cur.select(F.explode(shingles(arr, 2)).alias("pair"),
                          "freq")
               .groupBy("pair")
               .agg(F.sum("freq").alias("pair_count"))
               .orderBy(F.desc("pair_count"), F.asc("pair"))
               .limit(1).collect())
        if not top:
            break
        pair = top[0]["pair"]
        merged = pair.replace(" ", "")
        merges.append((rank, pair, merged, int(top[0]["pair_count"])))
        cur = cur.select(
            F.replace(F.col("syms"), F.lit(f" {pair} "),
                      F.lit(f" {merged} ")).alias("syms"),
            "freq").localCheckpoint(eager=True)
    return merges


def _bpe_word_table(df: DataFrame, k: int, text_col: str) -> DataFrame:
    """(word, n_chars_w, n_syms_w) over the corpus's distinct words, the
    k merges of ``_bpe_merges`` chained as literal string replaces
    (codegen'd; the non-overlapping semantics ``bpe_vocab`` documents)."""
    merges = _bpe_merges(df, k, text_col, BPE_DRIVER_VOCAB_LIMIT)
    vocab = (df.select(F.explode(tokens(text_col)).alias("word"))
             .filter(F.col("word") != "").distinct())
    syms = F.concat(F.lit(" "), F.regexp_replace("word", "(.)", "$1 "))
    for _, pair, merged, _ in merges:
        syms = F.replace(syms, F.lit(f" {pair} "), F.lit(f" {merged} "))
    return vocab.select(
        "word",
        F.length("word").cast("bigint").alias("n_chars_w"),
        F.size(F.split(F.trim(syms), " ")).cast("bigint").alias("n_syms_w"))


def bpe_encode(df: DataFrame, k: int = 6,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The encode half of the tokenizer pair: learn ``k`` BPE merges
    (``bpe_vocab``'s driver-side merge list — no round trip through a
    DataFrame) and apply them to the corpus, reporting per-doc symbol
    statistics — the pass a training pipeline runs to budget sequence
    lengths under a learned vocabulary.

    Merge application happens ONCE PER DISTINCT WORD, never per token
    occurrence (``_bpe_word_table``): the vocabulary frame then
    broadcast-joins onto the exploded token stream. Scale: the merge
    chain is vocabulary-sized work; the corpus is touched by one
    explode + per-doc aggregate (one shuffle). A vocabulary too large
    to broadcast (~>100M words) would swap the broadcast for a shuffle
    join on ``word`` — semantics identical.

    Returns (id, n_tokens, n_chars, n_symbols, compression_ppm) with
    compression_ppm = n_symbols·1e6 DIV n_chars (integer; 1e6 when the
    doc has no characters).
    """
    wtab = _bpe_word_table(df, k, text_col)
    tok = (df.select(F.col(id_col), F.explode(tokens(text_col)).alias("word"))
           .filter(F.col("word") != ""))
    return (tok.join(F.broadcast(wtab), "word")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("int").alias("n_tokens"),
                 F.sum("n_chars_w").cast("bigint").alias("n_chars"),
                 F.sum("n_syms_w").cast("bigint").alias("n_symbols"))
            .select(
                id_col, "n_tokens", "n_chars", "n_symbols",
                F.when(F.col("n_chars") == 0, F.lit(1_000_000))
                .otherwise(F.expr("n_symbols * 1000000 DIV n_chars"))
                .cast("bigint").alias("compression_ppm")))


def bpe_fertility(df: DataFrame, k: int = 6,
                  group_col: str = "source",
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-source tokenizer fertility under the learned vocabulary:
    symbols-per-token (×1e6, integer) and symbols-per-character after
    applying the k BPE merges — the fairness audit a multilingual /
    multi-source corpus runs before trusting a token budget, because a
    vocabulary trained on the mixture systematically over-segments
    under-represented sources (their documents then cost more sequence
    length per word, skewing both packing and per-source epoch
    budgets). Pairs with ``source_divergence``: that flags WHICH
    source drifted; this quantifies what the drift costs at the
    tokenizer.

    Same shape as ``bpe_encode`` (whose per-word merge table it
    reuses): merge application is vocabulary-sized work broadcast onto
    one exploded corpus pass, then ONE (source)-keyed aggregate —
    fertility_ppm = Σsymbols·1e6 DIV Σtokens, compression_ppm =
    Σsymbols·1e6 DIV Σchars, all integer so the SQL twin replays
    bit-for-bit. Returns (group, n_docs, n_tokens, n_symbols,
    fertility_ppm, compression_ppm).
    """
    wtab = _bpe_word_table(df, k, text_col)
    tok = (df.select(F.col(group_col), F.col(id_col),
                     F.explode(tokens(text_col)).alias("word"))
           .filter(F.col("word") != ""))
    return (tok.join(F.broadcast(wtab), "word")
            .groupBy(group_col)
            .agg(F.count_distinct(F.col(id_col)).cast("bigint")
                 .alias("n_docs"),
                 F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.sum("n_syms_w").cast("bigint").alias("n_symbols"),
                 F.sum("n_chars_w").cast("bigint").alias("_n_chars"))
            .select(group_col, "n_docs", "n_tokens", "n_symbols",
                    F.expr("n_symbols * 1000000 DIV n_tokens")
                    .cast("bigint").alias("fertility_ppm"),
                    F.when(F.col("_n_chars") == 0, F.lit(1_000_000))
                    .otherwise(F.expr("n_symbols * 1000000 DIV _n_chars"))
                    .cast("bigint").alias("compression_ppm")))


def source_divergence(df: DataFrame, group_col: str = "source",
                      text_col: str = "text") -> DataFrame:
    """Per-source distribution drift: the total-variation distance (in
    integer ppm) between each source's unigram distribution and the
    whole corpus's — the "which source is off-distribution" monitor a
    mix builder runs before trusting per-source quality stats. TV
    rather than KL because it needs no log: with p_w = source ppm and
    q_w = corpus ppm (both integer floors), TV·2e6 = Σ_w |p_w − q_w|,
    exactly replayable in SQL.

    The absent-word tail is closed WITHOUT a source×vocab grid: words
    the source never emits contribute q_w each, so their sum is
    Q_tot − Σ_{w∈source} q_w with Q_tot = Σ_all q_w a global scalar —
    per-source work stays proportional to the source's OWN vocabulary.

    Scale: one corpus shuffle to (group, word) counts; corpus word
    totals derive from that frame (vocab-sized, never a second corpus
    pass); the two global scalars (N_tot token count, Q_tot floored
    ppm mass) are 1-row aggregates crossJoin-broadcast back onto the
    vocab frame — the same semantics as a whole-frame window but with
    NO single-partition stage: an unpartitioned window funnels the
    entire vocabulary through one task, which at a 1e8-word vocabulary
    is a real serialization point (round-12 verdict item 6; the plan
    is asserted window-free in tests/test_round13_ops.py). The
    (group, word) frame feeds TWO aggregate consumers (the corpus
    totals and the per-source side), and exchange reuse does not
    rescue two aggregate consumers of one subplan — verified on the
    executed plan (0 ReusedExchange, 2 corpus scans unpinned) — so it
    is localCheckpointed: at 100 TB the second corpus pass is the
    whole cost; the scalar-agg re-reads below run on the pinned frame.
    Returns (group, n_tokens, vocab_size, tv_ppm) with
    tv_ppm = (Σ|p−q| + absent tail) DIV 2, in [0, 1e6].
    """
    from pyspark.sql.window import Window

    sw = (df.select(F.col(group_col),
                    F.explode(tokens(text_col)).alias("word"))
          .filter(F.col("word") != "")
          .groupBy(group_col, "word")
          .agg(F.count(F.lit(1)).cast("bigint").alias("c_sw"))
          .localCheckpoint())
    w_cnt = (sw.groupBy("word")
             .agg(F.sum("c_sw").cast("bigint").alias("c_w")))
    n_tot = w_cnt.agg(F.sum("c_w").cast("bigint").alias("_n_tot"))
    w_q = (w_cnt.crossJoin(F.broadcast(n_tot))
           .select("word",
                   F.expr("c_w * 1000000 DIV _n_tot").alias("q_ppm")))
    q_tot = w_q.agg(F.sum("q_ppm").cast("bigint").alias("_q_tot"))
    w_tot = w_q.crossJoin(F.broadcast(q_tot))
    per = (sw
           .withColumn("_n_s",
                       F.sum("c_sw").over(
                           Window.partitionBy(group_col)
                           .rowsBetween(Window.unboundedPreceding,
                                        Window.unboundedFollowing)))
           .withColumn("p_ppm", F.expr("c_sw * 1000000 DIV _n_s"))
           .join(w_tot, "word"))
    return (per.groupBy(group_col)
            .agg(F.sum("c_sw").cast("bigint").alias("n_tokens"),
                 F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
                 F.sum(F.abs(F.col("p_ppm") - F.col("q_ppm")))
                 .alias("_present"),
                 F.first("_q_tot").alias("_q_tot"),
                 F.sum("q_ppm").alias("_q_present"))
            .select(group_col, "n_tokens", "vocab_size",
                    F.expr("(_present + _q_tot - _q_present) DIV 2")
                    .cast("bigint").alias("tv_ppm")))


# The registry query's declared reference profile (v1): the corpus's
# high-frequency analytic vocabulary with integer-ppm target masses
# (a PARTIAL profile — mass not covered by the table is implicitly
# "everything else", so tv_ppm reads as drift against the declared
# head, the useful monitor form). Any real deployment refreshes this
# table from a periodic full `source_divergence` audit; the MECHANISM
# is the operator.
REFERENCE_UNIGRAM_PPM_V1: dict[str, int] = {
    "the": 120_000, "a": 80_000, "data": 60_000, "query": 40_000,
    "table": 30_000, "join": 20_000, "fast": 15_000, "slow": 15_000,
    "big": 10_000, "dup": 5_000,
}


def source_divergence_declared(df: DataFrame, ref_ppm: dict[str, int],
                               group_col: str = "source",
                               text_col: str = "text") -> DataFrame:
    """Per-source TV drift against a DECLARED reference unigram
    profile — the between-audits form of ``source_divergence``: the
    full monitor computes the corpus distribution itself (a second
    corpus-wide aggregate); here the reference is a PARAMETER (the
    profile a prior batch audit published, or any target mix), so the
    whole computation is one (source, word) shuffle plus a literal
    map lookup — no global scalar, no second pass, and therefore
    runnable on each new batch between full audits. The same
    declared-parameter discipline as the quality gate's weights:
    profile refreshes enter through a redeploy, never through
    in-flight corpus statistics, so a replayed batch flags identical
    sources.

    TV·2e6 = Σ_{w∈source} |p_w − q_w| + (Q_tot − Σ_{w∈source∩ref} q_w)
    with p_w the source's integer-ppm unigram mass, q_w the declared
    mass (0 for undeclared words), and Q_tot = Σ_ref q a Python-side
    scalar of the declared table — the same absent-word-tail closure
    as the full monitor, against the declared distribution. A partial
    profile (Q_tot < 1e6) is allowed and documented: tv_ppm then reads
    as drift against the declared head mass.

    Returns (group, n_tokens, vocab_size, tv_ppm), tv_ppm in [0, 1e6].
    """
    from pyspark.sql.window import Window

    if not ref_ppm:
        raise ValueError("source_divergence_declared: need a non-empty "
                         "declared profile")
    bad = {w: p for w, p in ref_ppm.items()
           if not 0 <= int(p) <= 1_000_000}
    if bad:
        raise ValueError(f"source_divergence_declared: profile masses "
                         f"must be integer ppm in [0, 1e6]; got {bad}")
    q_tot = sum(int(p) for p in ref_ppm.values())
    if q_tot > 1_000_000:
        raise ValueError(f"source_divergence_declared: declared masses "
                         f"sum to {q_tot} ppm > 1e6 — not a (sub-)"
                         f"distribution")
    qmap = F.map_from_arrays(
        F.array(*[F.lit(w) for w in sorted(ref_ppm)]),
        F.array(*[F.lit(int(ref_ppm[w])).cast("bigint")
                  for w in sorted(ref_ppm)]))
    sw = (df.select(F.col(group_col),
                    F.explode(tokens(text_col)).alias("word"))
          .filter(F.col("word") != "")
          .groupBy(group_col, "word")
          .agg(F.count(F.lit(1)).cast("bigint").alias("c_sw")))
    per = (sw
           .withColumn("_n_s",
                       F.sum("c_sw").over(
                           Window.partitionBy(group_col)
                           .rowsBetween(Window.unboundedPreceding,
                                        Window.unboundedFollowing)))
           .withColumn("p_ppm", F.expr("c_sw * 1000000 DIV _n_s"))
           .withColumn("q_ppm",
                       F.coalesce(F.element_at(qmap, F.col("word")),
                                  F.lit(0).cast("bigint"))))
    return (per.groupBy(group_col)
            .agg(F.sum("c_sw").cast("bigint").alias("n_tokens"),
                 F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
                 F.sum(F.abs(F.col("p_ppm") - F.col("q_ppm")))
                 .alias("_present"),
                 F.sum("q_ppm").alias("_q_present"))
            .select(group_col, "n_tokens", "vocab_size",
                    F.expr(f"(_present + {q_tot} - _q_present) DIV 2")
                    .cast("bigint").alias("tv_ppm")))


# Grams shared by more sources than this are boilerplate, not
# contamination — and each one costs O(s²) pair rows in the matrix.
# Capped like graph.MAX_CENTER_DEGREE; mirrored in the SQL oracle.
MAX_SOURCES_PER_GRAM = 50


def contamination_matrix(df: DataFrame, n: int = 7,
                         group_col: str = "source",
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         max_sources_per_gram: int = MAX_SOURCES_PER_GRAM,
                         index: DataFrame | None = None,
                         ) -> DataFrame:
    """Cross-source leakage forensics: for every source pair, how many
    DISTINCT word n-grams they share — the matrix a corpus audit reads
    to find which sources copy from which (mirror sites, scraped
    re-posts, benchmark text leaking into a training slice) before
    per-source stats can be trusted. Span-level shingles (default 7,
    the ``dedup_common_spans`` width) rather than whole docs, so
    partial copies still light up.

    Shape: one corpus shingle pass to DISTINCT (source, gram) — the
    dedup inverted-index discipline — then a gram self-join producing
    each unordered pair once (source_a < source_b). Cost is
    Σ_gram s_g² with s_g = #sources sharing the gram, bounded by the
    ``max_sources_per_gram`` hub cap (a gram in more sources than the
    cap is boilerplate and is dropped, loudly countable by comparing
    vocab sizes); output is at most #sources² rows. Returns
    (source_a, source_b, shared_grams).

    ``index``: a pre-built ``contamination_index`` frame (already
    checkpointed, SAME n and source cap) — pass it when running the
    full matrix→pairs→spans drill-down so the corpus is scanned once
    for all levels; the (src, gram) projection of the doc-level index
    is exactly this operator's capped index. Standalone (index=None)
    keeps the narrower (src, gram) distinct, which never materializes
    doc ids at all.
    """
    from pyspark.sql.window import Window

    from dht11_data_pipeline_spark.functions.text import shingles

    if index is not None:
        sg = index.select("src", "gram").distinct()
        a = sg.select(F.col("src").alias("source_a"), "gram")
        b = sg.select(F.col("src").alias("source_b"), "gram")
        return (a.join(b, "gram")
                .filter(F.col("source_a") < F.col("source_b"))
                .groupBy("source_a", "source_b")
                .agg(F.count(F.lit(1)).cast("bigint")
                     .alias("shared_grams")))
    if n < 2:
        raise ValueError("contamination_matrix: gram width n must be >= 2")
    sg = (df.select(F.col(group_col).alias("src"),
                    F.explode(shingles(tokens(text_col), n)).alias("gram"))
          .distinct())
    hub = Window.partitionBy("gram")
    # localCheckpoint: the capped index feeds BOTH self-join sides and
    # exchange reuse does not fire for it (verified: 0 ReusedExchange,
    # 2 corpus scans unpinned) — pinning makes the corpus shingle pass
    # run once, the whole cost at scale
    sg = (sg.withColumn("_n_src", F.count(F.lit(1)).over(hub))
          .filter(F.col("_n_src").between(2, max_sources_per_gram))
          .drop("_n_src")
          .localCheckpoint())
    a = sg.select(F.col("src").alias("source_a"), "gram")
    b = sg.select(F.col("src").alias("source_b"), "gram")
    return (a.join(b, "gram")
            .filter(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams")))


# A gram carried by more DISTINCT DOCUMENTS than this is boilerplate,
# not a copy trail — and each one costs O(d²) doc-pair rows in the
# drill-down's self-join. Same discipline as MAX_SOURCES_PER_GRAM /
# graph.MAX_CENTER_DEGREE; mirrored in the SQL oracle.
MAX_DOCS_PER_GRAM = 50


def contamination_index(df: DataFrame, n: int = 7,
                        group_col: str = "source",
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        max_sources_per_gram: int = MAX_SOURCES_PER_GRAM,
                        ) -> DataFrame:
    """The shared substrate of the contamination drill-down (matrix →
    pairs → spans → positional spans): the DISTINCT (source, doc,
    gram) inverted index, restricted to grams in the cross-source band
    (2..``max_sources_per_gram`` distinct sources — below 2 a gram
    cannot witness leakage, above the cap it is boilerplate), each row
    carrying the gram's distinct-document count so downstream levels
    can apply their own doc cap WITHOUT re-aggregating. The frame is
    localCheckpointed before return: every consumer joins it at least
    twice (self-join sides, ranking + extraction), exchange reuse does
    not rescue multiple consumers of one subplan (the house
    discipline), and — the round-12 verdict's item 4 — a user running
    the natural matrix→pairs→spans sequence was paying THREE corpus
    shingle scans for one audit. Build the index once, pass it to
    each level, and the whole drill-down costs ONE corpus scan
    (pinned by tests/test_round13_ops.py's plan-level assertion).

    Returns (gram, src, doc, n_docs_gram); cost beyond the corpus
    scan is one vocab-sized gram aggregate joined back.

    Gram build (r14, guide §4): the (src, doc, gram) rows are emitted
    by ONE Arrow pass with a per-doc set dedup instead of the
    interpreted zip_with shingle fold + explode — Python builds the
    identical strings (``split(' ')``/``' '.join`` are exactly Spark's
    ``split(text, ' ')``/chained ``concat_ws(' ')`` on never-null
    tokens; docs shorter than n emit nothing in both forms; pinned
    row-for-row in tests/test_r14_optimizations.py, including
    multi-space/trailing-space/empty-text edges). The downstream
    ``.distinct()`` is kept so operator semantics under duplicate
    (src, doc) input rows are unchanged — it is nearly free once the
    map side is already per-doc deduped. Measured: the index build
    drops ~1 s at sf0.1, shared by all six contamination keys.
    """
    if n < 2:
        raise ValueError("contamination_index: gram width n must be >= 2")

    sdg_schema = (f"src {df.schema[group_col].dataType.simpleString()}, "
                  f"doc {df.schema[id_col].dataType.simpleString()}, "
                  f"gram string")

    def _sdg_row(src, doc, text):
        if text is None:
            return
        toks = text.split(" ")
        seen = set()
        for i in range(len(toks) - n + 1):
            g = " ".join(toks[i:i + n])
            if g not in seen:
                seen.add(g)
                yield src, doc, g

    sdg = map_rows(right_size(df).select(F.col(group_col).alias("src"),
                                         F.col(id_col).alias("doc"),
                                         F.col(text_col).alias("_t")),
                   _sdg_row, sdg_schema).distinct()
    stats = (sdg.groupBy("gram")
             .agg(F.count_distinct("src").alias("_n_src"),
                  F.count(F.lit(1)).alias("n_docs_gram")))
    return (sdg.join(stats.filter(
        F.col("_n_src").between(2, max_sources_per_gram))
        .select("gram", "n_docs_gram"), "gram")
        .localCheckpoint())


def contamination_pairs(df: DataFrame, n: int = 7, top_k: int = 5,
                        group_col: str = "source",
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        max_sources_per_gram: int = MAX_SOURCES_PER_GRAM,
                        max_docs_per_gram: int = MAX_DOCS_PER_GRAM,
                        index: DataFrame | None = None,
                        ) -> DataFrame:
    """Doc-level drill-down of ``contamination_matrix``: the matrix
    names WHICH source pairs leak; the operator a user reaches for
    next is WHICH DOCUMENTS carry the leak — for every source pair,
    the ``top_k`` cross-source document pairs ranked by the number of
    distinct n-grams they share (the concrete mirror pages / re-posts
    / leaked benchmark items to eyeball or feed to the dedup cascade).

    Shape: the matrix's distinct inverted index, carried down to
    (source, doc, gram); gram stats (distinct-source count, doc count)
    come from ONE vocab-sized aggregate joined back, and grams outside
    the ``2..max_sources_per_gram`` source band — or in more than
    ``max_docs_per_gram`` documents — are dropped as boilerplate
    before the self-join, bounding it at Σ_gram d_g² ≤ cap·Σd_g.
    The capped index feeds both join sides, so it is localCheckpointed
    (exchange reuse does not rescue two consumers of one subplan —
    the house discipline). The per-pair top-k is a window over the
    doc-pair aggregate, partitioned by (source_a, source_b): partition
    count = #flagged source pairs, rows per partition bounded by the
    caps — never corpus-sized. Ties break deterministically by
    (doc_a, doc_b) ascending.

    Returns (source_a, source_b, doc_a, doc_b, shared_grams,
    pair_rank) with pair_rank 1..top_k per source pair.

    ``index``: a pre-built ``contamination_index`` (same n / source
    cap) — the drill-down's one-corpus-scan seam; the doc cap is
    applied here as a cheap filter on the index's carried
    n_docs_gram column. Standalone, the operator builds (and pins)
    its own index.
    """
    from pyspark.sql.window import Window

    if top_k < 1:
        raise ValueError("contamination_pairs: top_k must be >= 1")
    if index is None:
        index = contamination_index(
            df, n=n, group_col=group_col, text_col=text_col,
            id_col=id_col, max_sources_per_gram=max_sources_per_gram)
    capped = (index.filter(F.col("n_docs_gram") <= max_docs_per_gram)
              .select("src", "doc", "gram"))
    a = capped.select(F.col("src").alias("source_a"),
                      F.col("doc").alias("doc_a"), "gram")
    b = capped.select(F.col("src").alias("source_b"),
                      F.col("doc").alias("doc_b"), "gram")
    pairs = (a.join(b, "gram")
             .filter(F.col("source_a") < F.col("source_b"))
             .groupBy("source_a", "source_b", "doc_a", "doc_b")
             .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams")))
    w = (Window.partitionBy("source_a", "source_b")
         .orderBy(F.desc("shared_grams"), F.asc("doc_a"), F.asc("doc_b")))
    return (pairs.withColumn("pair_rank",
                             F.row_number().over(w).cast("int"))
            .filter(F.col("pair_rank") <= top_k))


def contamination_spans(df: DataFrame, n: int = 7, top_k: int = 5,
                        grams_per_pair: int = 10,
                        group_col: str = "source",
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        max_sources_per_gram: int = MAX_SOURCES_PER_GRAM,
                        max_docs_per_gram: int = MAX_DOCS_PER_GRAM,
                        index: DataFrame | None = None,
                        ) -> DataFrame:
    """The gram-list level of the contamination drill-down (matrix → pairs
    → SPANS): for each flagged doc pair (``contamination_pairs``'s
    per-source-pair top-``top_k``), the first ``grams_per_pair``
    shared n-grams in lexicographic order — the literal leaked text a
    reviewer reads (or a span-dedup pass consumes) to adjudicate the
    leak. Lexicographic rather than positional order because the
    inverted index is DISTINCT (source, doc, gram): positions were
    deliberately dropped at the first shuffle, and re-deriving them
    would re-scan the corpus; adjacent grams of a copied span are
    lexicographically clustered enough for eyeballing.

    Shape: the shared ``contamination_index`` builds (and pins) once
    and feeds BOTH the pair ranking and the gram extraction; the spans
    join touches only the flagged pairs (≤ #source-pairs × top_k rows)
    against the capped index — never the corpus. Per-pair gram cap
    keeps the output human-sized and is mirrored in the oracle.
    Returns (source_a, source_b, doc_a, doc_b, pair_rank, gram_rank,
    gram). For token-offset runs instead of a lexicographic gram list,
    see ``contamination_pos_spans``.

    ``index``: a pre-built ``contamination_index`` (same n / source
    cap) — pass it to share one corpus scan across the drill-down.
    """
    from pyspark.sql.window import Window

    if grams_per_pair < 1:
        raise ValueError("contamination_spans: grams_per_pair must "
                         "be >= 1")
    if index is None:
        index = contamination_index(
            df, n=n, group_col=group_col, text_col=text_col,
            id_col=id_col, max_sources_per_gram=max_sources_per_gram)
    capped = (index.filter(F.col("n_docs_gram") <= max_docs_per_gram)
              .select("src", "doc", "gram"))
    a = capped.select(F.col("src").alias("source_a"),
                      F.col("doc").alias("doc_a"), "gram")
    b = capped.select(F.col("src").alias("source_b"),
                      F.col("doc").alias("doc_b"), "gram")
    shared = (a.join(b, "gram")
              .filter(F.col("source_a") < F.col("source_b")))
    pw = (Window.partitionBy("source_a", "source_b")
          .orderBy(F.desc("shared_grams"), F.asc("doc_a"), F.asc("doc_b")))
    flagged = (shared
               .groupBy("source_a", "source_b", "doc_a", "doc_b")
               .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
               .withColumn("pair_rank", F.row_number().over(pw).cast("int"))
               .filter(F.col("pair_rank") <= top_k)
               .select("source_a", "source_b", "doc_a", "doc_b",
                       "pair_rank"))
    gw = (Window.partitionBy("source_a", "source_b", "doc_a", "doc_b")
          .orderBy(F.asc("gram")))
    return (shared.join(flagged,
                        ["source_a", "source_b", "doc_a", "doc_b"])
            .withColumn("gram_rank", F.row_number().over(gw).cast("int"))
            .filter(F.col("gram_rank") <= grams_per_pair)
            .select("source_a", "source_b", "doc_a", "doc_b",
                    "pair_rank", "gram_rank", "gram"))


def contamination_pos_spans(df: DataFrame, n: int = 7, top_k: int = 5,
                            runs_per_pair: int = 10,
                            group_col: str = "source",
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            max_sources_per_gram: int = MAX_SOURCES_PER_GRAM,
                            max_docs_per_gram: int = MAX_DOCS_PER_GRAM,
                            index: DataFrame | None = None,
                            ) -> DataFrame:
    """POSITIONAL span extraction for the flagged contamination pairs —
    the reviewer-facing form ``contamination_spans`` approximates with
    a lexicographic gram list (its index drops positions at the first
    shuffle, documented there; round-12 verdict item 3): for each doc
    pair the pair ranking flags, the maximal runs of consecutively
    shared n-grams with their TOKEN OFFSETS in both documents —
    (start_a, start_b, run_tokens) is the literal copied span, ready
    for a span-dedup cut or a human diff.

    Shape — the key property is that positions are recovered WITHOUT a
    second corpus-sized shuffle: (1) the shared ``contamination_index``
    (one corpus scan, pinned) ranks the doc pairs exactly as
    ``contamination_pairs`` does; (2) the flagged doc ids — a tiny
    frame, ≤ 2·top_k·#source-pairs — are broadcast-semi-joined back to
    the corpus, so the re-read is a scan with a broadcast filter (at
    100 TB: a parquet scan whose join prunes everything but the
    flagged docs; no shuffle of corpus rows), and only the flagged
    docs' shingles are position-exploded; (3) matching positions join
    per flagged pair, and maximal runs fall out of the classic
    gaps-and-islands trick on the diagonal start_a − start_b (two
    positions extend one run iff both advance by exactly 1, i.e. the
    diagonal is constant and start_a is consecutive — window + group
    over the per-pair match frame, bounded by flagged-doc lengths,
    never corpus-sized). A run of L consecutive shared n-grams covers
    L + n − 1 tokens.

    Returns (source_a, source_b, doc_a, doc_b, pair_rank, start_a,
    start_b, run_tokens, run_rank): 1-based token offsets, runs ranked
    per pair by (run_tokens desc, start_a, start_b), capped at
    ``runs_per_pair``. Run extraction deliberately uses the docs' RAW
    grams, not the capped index: once a pair is flagged, the true
    copied span includes any boilerplate grams inside it — capping
    here would split runs at every common phrase.
    """
    runs, _ = _pos_spans_runs(
        df, n=n, top_k=top_k, runs_per_pair=runs_per_pair,
        group_col=group_col, text_col=text_col, id_col=id_col,
        max_sources_per_gram=max_sources_per_gram,
        max_docs_per_gram=max_docs_per_gram, index=index)
    return runs


def _pos_spans_runs(df: DataFrame, n: int, top_k: int,
                    runs_per_pair: int, group_col: str, text_col: str,
                    id_col: str, max_sources_per_gram: int,
                    max_docs_per_gram: int,
                    index: DataFrame | None,
                    keep_docs: bool = False,
                    ) -> tuple[DataFrame, DataFrame | None]:
    """Shared core of ``contamination_pos_spans`` / ``contamination_cut``
    (r14): returns (runs, fdocs) where ``runs`` is the positional-run
    frame and — under ``keep_docs`` — ``fdocs`` is the pinned
    (id, group, text) projection of the FLAGGED docs, so
    ``contamination_cut`` derives its affected-doc pass from it instead
    of re-reading the corpus a third time. With ``keep_docs=False`` the
    plan is the r13 shape unchanged (the flagged-doc read feeds the
    positional explode directly).

    Seam note (r14, measured): re-entering the collected flagged pairs
    as a createDataFrame local relation was TRIED and REVERTED — the
    parallelize + broadcast of a collected frame costs more than the
    eager checkpoint it replaced (the same collect+createDataFrame seam
    the graph driver tiers carry). Checkpoints stay; the wins kept are
    downstream in ``contamination_cut``.
    """
    from pyspark.sql.window import Window

    from dht11_data_pipeline_spark.functions.text import shingles

    if runs_per_pair < 1:
        raise ValueError("contamination_pos_spans: runs_per_pair must "
                         "be >= 1")
    flagged = (contamination_pairs(
        df, n=n, top_k=top_k, group_col=group_col, text_col=text_col,
        id_col=id_col, max_sources_per_gram=max_sources_per_gram,
        max_docs_per_gram=max_docs_per_gram, index=index)
        .select("source_a", "source_b", "doc_a", "doc_b", "pair_rank")
        # tiny (≤ top_k per source pair) and consumed twice below
        # (doc-id extraction + the match join) — pin it so the pair
        # ranking runs once
        .localCheckpoint())
    docids = (flagged.select(F.col("doc_a").alias(id_col))
              .union(flagged.select(F.col("doc_b").alias(id_col)))
              .distinct())
    fdocs = None
    if keep_docs:
        # pin the flagged-doc read once with (id, group, text) so the
        # caller's affected-doc pass is a filter over this frame
        fdocs = (df.join(F.broadcast(docids), id_col)
                 .select(id_col, group_col, text_col)
                 .localCheckpoint())
        pg_src = fdocs
    else:
        pg_src = df.join(F.broadcast(docids), id_col)
    pg = (pg_src
          .select(F.col(id_col).alias("doc"),
                  F.posexplode(shingles(tokens(text_col), n))
                  .alias("pos", "gram"))
          # 1-based token offset of the gram's first word (mirrors the
          # oracle's unnest(range(1, len-5)) generator)
          .withColumn("pos", (F.col("pos") + 1).cast("int"))
          # the positional frame feeds BOTH match-join sides; without
          # pinning, each side re-runs the interpreted shingle build
          # (the drill-down's only real per-row cost — measured +0.6 s
          # at sf0.1 when recomputed per side)
          .localCheckpoint())
    pa = pg.select(F.col("doc").alias("doc_a"),
                   F.col("pos").alias("start_a"), "gram")
    pb = pg.select(F.col("doc").alias("doc_b"),
                   F.col("pos").alias("start_b"), "gram")
    m = (flagged.join(pa, "doc_a")
         .join(pb, ["doc_b", "gram"])
         .withColumn("diag", F.col("start_a") - F.col("start_b")))
    iw = (Window.partitionBy("source_a", "source_b", "doc_a", "doc_b",
                             "diag")
          .orderBy("start_a"))
    runs = (m.withColumn("_isl",
                         F.col("start_a") - F.row_number().over(iw))
            .groupBy("source_a", "source_b", "doc_a", "doc_b",
                     "pair_rank", "diag", "_isl")
            .agg(F.min("start_a").cast("int").alias("start_a"),
                 F.min("start_b").cast("int").alias("start_b"),
                 (F.count(F.lit(1)) + F.lit(n - 1)).cast("bigint")
                 .alias("run_tokens")))
    rw = (Window.partitionBy("source_a", "source_b", "doc_a", "doc_b")
          .orderBy(F.desc("run_tokens"), F.asc("start_a"),
                   F.asc("start_b")))
    out = (runs.withColumn("run_rank",
                           F.row_number().over(rw).cast("int"))
           .filter(F.col("run_rank") <= runs_per_pair)
           .select("source_a", "source_b", "doc_a", "doc_b",
                   "pair_rank", "start_a", "start_b", "run_tokens",
                   "run_rank"))
    return out, fdocs


def contamination_cut(df: DataFrame, n: int = 7, top_k: int = 5,
                      runs_per_pair: int = 10,
                      group_col: str = "source",
                      text_col: str = "text",
                      id_col: str = "doc_id",
                      max_sources_per_gram: int = MAX_SOURCES_PER_GRAM,
                      max_docs_per_gram: int = MAX_DOCS_PER_GRAM,
                      protected: list[str] | None = None,
                      index: DataFrame | None = None,
                      ) -> DataFrame:
    """The SURGICAL end of the contamination drill-down (matrix →
    pairs → spans → gate → CUT): rather than quarantining whole
    documents (``contamination_gate``), remove exactly the copied
    token runs ``contamination_pos_spans`` located and keep the rest —
    the decontamination a data steward actually wants when a training
    doc embeds a benchmark item inside otherwise-good text.

    Victim policy, deterministic and mirrored in the oracle: for each
    flagged run, the cut falls on the doc whose source is NOT in
    ``protected`` (the benchmark/eval sources a deployment declares —
    the declared-parameter discipline); when only the b-side is
    protected the a-side pays, when NEITHER is protected the
    lexicographically LATER source pays (source_b — the ranking
    already orders source_a < source_b), and when BOTH are protected
    the run is kept (cutting a benchmark to protect a benchmark is a
    config error worth surfacing by count, not silent mutilation).

    Shape (r14 job-count restructure, guide §5): the flagged runs are
    tiny (≤ runs_per_pair × top_k × #source-pairs) — the cut list is
    COLLECTED once and re-enters the plan as a broadcast local
    relation; affected docs are a filter over the flagged-docs frame
    the positional pass already pinned (``_pos_spans_runs``'s
    ``fdocs``), so the corpus is scanned exactly TWICE end to end (the
    index build and the untouched pass-through; the flagged-doc read
    is a pushed-down IN-filter scan). Token positions are dropped by
    an anti-join against the cut ranges; text rebuilds with an ordered
    array_join. No corpus-sized shuffle anywhere. Returns the FULL
    cleaned corpus: (id, group, n_tokens, n_removed, clean_text),
    n_removed = 0 for untouched docs, clean_text = '' for a fully-cut
    doc.
    """
    if protected is not None and not all(
            isinstance(s, str) for s in protected):
        raise ValueError("contamination_cut: protected must be a list "
                         "of source names")
    runs, fdocs = _pos_spans_runs(
        df, n=n, top_k=top_k, runs_per_pair=runs_per_pair,
        group_col=group_col, text_col=text_col, id_col=id_col,
        max_sources_per_gram=max_sources_per_gram,
        max_docs_per_gram=max_docs_per_gram, index=index,
        keep_docs=True)
    prot = [s for s in (protected or [])]
    pa = F.col("source_a").isin(prot) if prot else F.lit(False)
    pb = F.col("source_b").isin(prot) if prot else F.lit(False)
    cuts = (runs
            .filter(~(pa & pb))
            .withColumn("_cut_b", ~pb)
            .select(F.when(F.col("_cut_b"), F.col("doc_b"))
                    .otherwise(F.col("doc_a")).alias("_cid"),
                    F.when(F.col("_cut_b"), F.col("start_b"))
                    .otherwise(F.col("start_a")).alias("_s"),
                    F.col("run_tokens").alias("_l"))
            # tiny; consumed twice below (affected-id pull + the
            # anti-join) — pin it so run extraction executes once
            .localCheckpoint())
    # affected ids pulled off the PINNED cuts frame (one tiny no-shuffle
    # job) — the distinct+broadcast exchange and the second
    # broadcast-filtered corpus read of the r13 shape are gone:
    # affected ⊆ flagged docs, so aff filters the already-pinned fdocs
    affected = sorted({r["_cid"]
                       for r in cuts.select("_cid").collect()})
    aff = fdocs.filter(F.col(id_col).isin(affected) if affected
                       else F.lit(False))
    toks = (aff.select(id_col, group_col,
                       F.posexplode(tokens(text_col))
                       .alias("_pos", "_tok"))
            .withColumn("_pos", (F.col("_pos") + 1).cast("int")))
    kept = toks.join(
        F.broadcast(cuts),
        (F.col(id_col) == F.col("_cid"))
        & (F.col("_pos") >= F.col("_s"))
        & (F.col("_pos") < F.col("_s") + F.col("_l")),
        "left_anti")
    clean = (kept.groupBy(id_col, group_col)
             .agg(F.count(F.lit(1)).cast("int").alias("_n_kept"),
                  F.array_sort(F.collect_list(
                      F.struct("_pos", "_tok"))).alias("_arr"))
             .select(id_col, group_col, "_n_kept",
                     F.expr("array_join(transform(_arr, x -> x._tok), "
                            "' ')").alias("_clean")))
    n_tok = F.size(tokens(text_col)).cast("int")
    out_aff = (aff.withColumn("_n_tokens", n_tok)
               .join(clean, [id_col, group_col], "left")
               .select(id_col, group_col,
                       F.col("_n_tokens").alias("n_tokens"),
                       (F.col("_n_tokens")
                        - F.coalesce(F.col("_n_kept"), F.lit(0)))
                       .cast("int").alias("n_removed"),
                       F.coalesce(F.col("_clean"), F.lit(""))
                       .alias("clean_text")))
    # untouched docs: a narrow NOT-IN filter over the corpus scan (the
    # affected list is bounded by the flagged-pair caps) — no broadcast
    # anti-join exchange. NULL-id rows coalesce to kept, matching the
    # anti-join this replaces (NULL never equals a cut id).
    untouched = (df.filter(F.coalesce(~F.col(id_col).isin(affected),
                                      F.lit(True)) if affected
                           else F.lit(True))
                 .select(id_col, group_col,
                         n_tok.alias("n_tokens"),
                         F.lit(0).cast("int").alias("n_removed"),
                         F.col(text_col).alias("clean_text")))
    return untouched.unionByName(out_aff)


def contamination_gate(df: DataFrame, n: int = 7, min_hits: int = 1,
                       group_col: str = "source",
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       max_sources_per_gram: int = MAX_SOURCES_PER_GRAM,
                       index: DataFrame | None = None,
                       ) -> DataFrame:
    """Audit-time contamination gate: every document flagged by how
    many cross-source-band grams it carries (the grams the drill-down
    index witnesses in 2..``max_sources_per_gram`` sources — the same
    flagged set the matrix/pairs/spans levels analyze), with verdict
    QUARANTINE when ``flagged_hits >= min_hits`` else PASS. This is
    the enforcement half of the audit: the matrix tells you WHICH
    sources leak, the pairs/spans WHAT leaked, the gate WHO gets held
    back — flag-don't-drop, so survivorship stays a caller decision
    (the curation-house rule).

    Shape: per-doc hits are read STRAIGHT off the shared index
    (rows-per-doc = distinct band grams the doc carries — no second
    shingle pass), left-joined onto a column-pruned (id, source)
    projection of the corpus so zero-hit docs appear with 0. Cost
    beyond the index build: one pruned corpus scan + one doc-keyed
    aggregate of the index.

    Returns (id, group, flagged_hits, gate_flag).
    """
    if min_hits < 1:
        raise ValueError("contamination_gate: min_hits must be >= 1")
    if index is None:
        index = contamination_index(
            df, n=n, group_col=group_col, text_col=text_col,
            id_col=id_col, max_sources_per_gram=max_sources_per_gram)
    hits = (index.groupBy(F.col("doc").alias(id_col))
            .agg(F.count(F.lit(1)).cast("bigint").alias("_hits")))
    return (df.select(id_col, group_col)
            .join(hits, id_col, "left")
            .select(id_col, group_col,
                    F.coalesce(F.col("_hits"), F.lit(0).cast("bigint"))
                    .alias("flagged_hits"),
                    F.when(F.coalesce(F.col("_hits"), F.lit(0))
                           >= min_hits, "QUARANTINE")
                    .otherwise("PASS").alias("gate_flag")))
