"""Streaming importance-sampling gate: ``operators/curation.
weighted_keep`` as a continuous filter over an arriving corpus.

The batch gate keeps a row iff ``bucket(id) × w_max < rate_ppm × w``
with ``w_max`` the corpus maximum. A stream cannot know the maximum of
an unbounded corpus, so the stream form takes ``w_max`` as the SCORER'S
DECLARED CEILING (every weight model has one — a max document length, a
max quality score) and the gate becomes completely STATELESS: pure
per-row integer hash arithmetic, no aggregation, no state store, no
watermark. That is the whole point of the hash-gate design — the
decision for a row depends only on (id, weight, w_max, rate), so batch
replays, stream restarts and out-of-order delivery all keep the
identical subset.

Drift-proofing: both forms project through the SAME
``weighted_gate_projection`` (operators/curation.py) — the stream only
swaps the corpus-max column for the declared-ceiling literal. Fed the
true corpus max as the ceiling, stream output == batch output row for
row (pinned in tests/test_streaming_curation.py).

The batch operator's enforced preconditions carry over and gain one:
weights must be non-negative integers AND must not exceed the declared
ceiling (a weight above ``w_max`` would silently keep with clamped
probability — loud failure instead, same rationale as the batch
NULL/negative guards).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from dht11_data_pipeline_spark.operators.curation import (
    _hash_bucket, weighted_gate_projection)
from dht11_data_pipeline_spark.streaming.ingest import start_file_stream

WEIGHTED_DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("weight", T.LongType()),
])


def weighted_keep_stream(df: DataFrame, w_max: int,
                         rate_ppm: int = 500_000,
                         id_col: str = "doc_id",
                         weight_col: str = "weight",
                         salt: str = "wkeep1") -> DataFrame:
    """Apply the weighted_keep gate with a declared weight ceiling.

    Works identically on a streaming or a batch frame (it is a pure
    projection) — the parity test runs it both ways. Returns the batch
    operator's exact schema: (id, weight, bucket, keep_ppm, keep_flag).
    """
    if w_max <= 0:
        raise ValueError("weighted_keep_stream: declared ceiling w_max "
                         "must be a positive integer")
    w = F.col(weight_col)
    w_checked = (
        F.when(w.isNull() | (w.cast("bigint") < 0)
               | (w.cast("bigint") > F.lit(int(w_max))),
               F.raise_error(F.format_string(
                   "weighted_keep_stream: weight must be an integer in "
                   f"[0, {int(w_max)}], got %s for id %s",
                   w.cast("string"), F.col(id_col).cast("string")))
               .cast("bigint"))
        .otherwise(w.cast("bigint")))
    staged = df.select(
        F.col(id_col),
        w_checked.alias("weight"),
        _hash_bucket(F.col(id_col), salt, 1_000_000)
        .cast("bigint").alias("bucket"),
        F.lit(int(w_max)).cast("bigint").alias("_w_max"))
    return weighted_gate_projection(staged, id_col, rate_ppm)


def cluster_balanced_stream(df: DataFrame,
                            centroids: list[tuple[int, list[float]]],
                            quotas: dict[int, int],
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            salt: str = "cbal1",
                            quant: int = 1000) -> DataFrame:
    """Streaming form of ``operators/curation.cluster_balanced_sample``:
    the same integer-exact nearest-prototype assignment and the same
    ``bucket < keep_ppm`` gate, with the per-cluster quotas passed IN
    (a stream cannot know corpus-wide cluster sizes; a deployment
    refreshes the quota map from a periodic batch pass — the same
    declared-parameter move as ``weighted_keep_stream``'s w_max).

    Stateless per row given (centroids, quotas): works identically on
    a streaming or batch frame. A vector assigned to a cluster absent
    from the quota map raises (quota maps must cover the prototype
    set) — silent drops would skew the mix unnoticed.

    Returns (id, cluster_id, keep_ppm, keep_flag).
    """
    from dht11_data_pipeline_spark.operators.kmeans import (
        assign_clusters_exact)

    if not quotas:
        raise ValueError("cluster_balanced_stream: need a non-empty "
                         "quota map")
    assigned = assign_clusters_exact(df, centroids, id_col, vec_col,
                                     quant)
    quota_expr = F.map_from_arrays(
        F.array(*[F.lit(int(c)) for c in sorted(quotas)]),
        F.array(*[F.lit(int(quotas[c])).cast("bigint")
                  for c in sorted(quotas)]))
    keep_ppm = F.element_at(quota_expr, F.col("cluster_id"))
    checked = (F.when(keep_ppm.isNull(),
                      F.raise_error(F.format_string(
                          "cluster_balanced_stream: cluster %s has no "
                          "quota", F.col("cluster_id").cast("string")))
                      .cast("bigint"))
               .otherwise(keep_ppm))
    bucket = _hash_bucket(F.col(id_col), salt, 1_000_000)
    return assigned.select(
        id_col, "cluster_id",
        checked.alias("keep_ppm"),
        F.when(bucket < checked, "Y").otherwise("N").alias("keep_flag"))


def source_temperature_stream(df: DataFrame, rates: dict[str, int],
                              id_col: str = "doc_id",
                              group_col: str = "source",
                              salt: str = "stemp1") -> DataFrame:
    """Streaming form of ``operators/curation.source_temperature_sample``:
    the same ``bucket(id) < keep_ppm_g`` gate with the per-source rates
    passed IN as the DECLARED MIX (a stream cannot know corpus-wide
    source sizes; a deployment refreshes the rate map from a periodic
    batch pass — the same declared-parameter move as
    ``weighted_keep_stream``'s w_max and ``cluster_balanced_stream``'s
    quotas).

    Stateless per row given the map: works identically on a streaming
    or batch frame, so batch replays / stream restarts keep the
    identical subset. A row from a source absent from the map RAISES
    (silent drops would skew the mix unnoticed) — new sources must
    enter through a rate-map refresh, not fall through a default.

    Returns (id, group, keep_ppm, keep_flag).
    """
    if not rates:
        raise ValueError("source_temperature_stream: need a non-empty "
                         "rate map")
    bad = {g: r for g, r in rates.items()
           if not 0 <= int(r) <= 1_000_000}
    if bad:
        raise ValueError(f"source_temperature_stream: rates must be "
                         f"integer ppm in [0, 1e6]; got {bad}")
    rate_expr = F.map_from_arrays(
        F.array(*[F.lit(g) for g in sorted(rates)]),
        F.array(*[F.lit(int(rates[g])).cast("bigint")
                  for g in sorted(rates)]))
    keep_ppm = F.element_at(rate_expr, F.col(group_col))
    checked = (F.when(keep_ppm.isNull(),
                      F.raise_error(F.format_string(
                          "source_temperature_stream: source %s has no "
                          "declared rate", F.col(group_col)))
                      .cast("bigint"))
               .otherwise(keep_ppm))
    bucket = _hash_bucket(F.col(id_col), salt, 1_000_000)
    return df.select(
        id_col, group_col,
        checked.alias("keep_ppm"),
        F.when(bucket < checked, "Y").otherwise("N").alias("keep_flag"))


def dsir_keep_stream(df: DataFrame, bucket_ratios: dict[int, int],
                     w_max: int = 1_000_000,
                     rate_ppm: int = 500_000, buckets: int = 128,
                     text_col: str = "text", id_col: str = "doc_id",
                     salt: str = "dsir1",
                     gate_salt: str = "wkeep1") -> DataFrame:
    """Streaming DSIR resample: score each arriving document against a
    DECLARED hashed-bigram importance table and gate it — the stream
    form of ``cur_dsir_resample`` (textops.dsir_weights ∘
    curation.weighted_keep), completing the score→keep stage's
    stream==batch parity story.

    The batch scorer learns its per-bucket target-vs-raw ratios from a
    corpus-wide aggregate; a stream cannot aggregate an unbounded
    corpus, so the ratios arrive as the declared model (ppm integers,
    refreshed by a periodic batch pass — textops.dsir_bucket_stats).
    Scoring is then per-row arithmetic: hash each bigram into its
    feature bucket, look the ratio up in the map literal, score = mean
    ratio over the document's bigram occurrences — the identical
    integer DIV the batch scorer emits. The gate is the shared
    ``weighted_gate_projection`` with ``w_max`` the declared score
    ceiling (ratios ≤ 1e6 ⇒ scores ≤ 1e6 structurally; pass the batch
    pass's observed max for exact batch parity, as the parity test
    does). Fed the batch scorer's own table and ceiling, stream ==
    batch row for row (tests/test_streaming_curation.py).

    A bigram hashing into a bucket absent from the table RAISES — the
    declared model must cover the full feature space (it is dense by
    construction: buckets not seen in the reference corpus carry
    ratio 0), and a silent default would skew scores unnoticed.

    Stateless per row: no state store, no watermark; replays and
    restarts keep the identical subset. The per-element map lookups
    run interpreted (higher-order transform) — acceptable in a per-row
    gate; the alternative (explode + join) would put a shuffle in a
    latency path that needs none.

    Returns the gate schema (id, weight, bucket, keep_ppm, keep_flag)
    where weight is the document's score_ppm.
    """
    from dht11_data_pipeline_spark.functions.text import shingles, tokens

    if not 0 < int(w_max) <= 1_000_000:
        raise ValueError("dsir_keep_stream: declared score ceiling "
                         "w_max must be in (0, 1e6]")
    if not bucket_ratios:
        # an empty dict would build map_from_arrays over two
        # zero-element arrays — a NullType map that fails analysis
        # with an obscure error; refuse cleanly like the other
        # declared-parameter gates (source_temperature_stream).
        raise ValueError("dsir_keep_stream: need a non-empty bucket "
                         "ratio table")
    if not all(0 <= int(v) <= 1_000_000 for v in bucket_ratios.values()):
        raise ValueError("dsir_keep_stream: ratios must be integer ppm "
                         "in [0, 1e6]")
    ratio_expr = F.map_from_arrays(
        F.array(*[F.lit(int(b)) for b in sorted(bucket_ratios)]),
        F.array(*[F.lit(int(bucket_ratios[b])).cast("bigint")
                  for b in sorted(bucket_ratios)]))

    def ratio_of(g):
        return F.coalesce(
            F.element_at(ratio_expr,
                         _hash_bucket(g, salt, buckets).cast("int")),
            F.raise_error(F.concat(
                F.lit("dsir_keep_stream: bigram bucket of '"), g,
                F.lit("' has no declared ratio"))).cast("bigint"))

    staged = (df
              .withColumn("_ratios",
                          F.transform(shingles(tokens(text_col), 2),
                                      ratio_of))
              .withColumn("_score",
                          F.when(F.size("_ratios") <= 0,
                                 F.lit(0).cast("bigint"))
                          .otherwise(F.expr(
                              "aggregate(_ratios, 0L, (acc, x) -> acc + x) "
                              "DIV size(_ratios)").cast("bigint")))
              .select(
                  F.col(id_col),
                  F.when(F.col("_score") > F.lit(int(w_max)),
                         F.raise_error(F.format_string(
                             "dsir_keep_stream: score %s exceeds the "
                             f"declared ceiling {int(w_max)} for id %s",
                             F.col("_score").cast("string"),
                             F.col(id_col).cast("string")))
                         .cast("bigint"))
                  .otherwise(F.col("_score")).alias("weight"),
                  _hash_bucket(F.col(id_col), gate_salt, 1_000_000)
                  .cast("bigint").alias("bucket"),
                  F.lit(int(w_max)).cast("bigint").alias("_w_max")))
    return weighted_gate_projection(staged, id_col, rate_ppm)


def start_weighted_keep_stream(spark: SparkSession, source_path: str,
                               out_dir: str, checkpoint_dir: str,
                               w_max: int, rate_ppm: int = 500_000,
                               max_files_per_trigger: int | None = 1,
                               available_now: bool = True
                               ) -> StreamingQuery:
    """readStream JSON-lines (doc_id, weight) → gated parquet rows at
    ``out_dir``. Append-only stateless pipeline: exactly-once via the
    file-sink manifest, no state store to size or upgrade."""
    reader = spark.readStream.schema(WEIGHTED_DOC_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    gated = weighted_keep_stream(reader.json(source_path), w_max,
                                 rate_ppm=rate_ppm)
    writer = (gated.writeStream.format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


TEXT_DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("source", T.StringType()),
    T.StructField("text", T.StringType()),
])


def start_source_divergence_stream(spark: SparkSession, source_path: str,
                                   out_dir: str, checkpoint_dir: str,
                                   ref_ppm: dict[str, int],
                                   group_col: str = "source",
                                   text_col: str = "text",
                                   max_files_per_trigger: int | None = 1,
                                   available_now: bool = True
                                   ) -> StreamingQuery:
    """Streaming per-source drift monitor: each micro-batch of
    documents is scored against the DECLARED reference unigram profile
    (``operators/textops.source_divergence_declared`` — the same
    expression, so a stream fed one batch's rows emits exactly the
    batch audit's rows; pinned in tests/test_streaming_curation.py)
    and the per-(batch, source) tv_ppm rows land in ``out_dir``,
    partitioned by batch_id so a replayed batch overwrites its own
    partition (idempotent, the audit_writer discipline of
    streaming/monitor.py). This is the between-audits drift alarm the
    round-11 verdict asked for: a full ``source_divergence`` batch
    audit refreshes the declared profile; in between, every arriving
    micro-batch is checked against it with NO state store and NO
    corpus-wide aggregate — the foreachBatch aggregation is bounded by
    the micro-batch, not the stream history.

    The profile is validated once at START (fail fast at deploy time),
    not per batch."""
    from dht11_data_pipeline_spark.operators.textops import (
        source_divergence_declared)

    # deploy-time validation: surface a bad profile before the query
    # starts, not inside the first micro-batch's task error
    source_divergence_declared(
        spark.createDataFrame([], TEXT_DOC_SCHEMA), ref_ppm,
        group_col=group_col, text_col=text_col)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = (source_divergence_declared(batch_df, ref_ppm,
                                          group_col=group_col,
                                          text_col=text_col)
               .withColumn("batch_id", F.lit(batch_id).cast("long")))
        (out.coalesce(1).write.mode("overwrite")
         .partitionBy("batch_id")
         .option("partitionOverwriteMode", "dynamic")
         .parquet(out_dir))

    return start_file_stream(spark, TEXT_DOC_SCHEMA, source_path, checkpoint_dir,
                             _process, max_files_per_trigger, available_now)


def contamination_gate_stream(df: DataFrame, flagged_grams: list[str],
                              n: int = 7, min_hits: int = 1,
                              group_col: str = "source",
                              text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """Streaming form of ``operators/textops.
    contamination_gate_declared`` — and deliberately the SAME
    projection, not a re-implementation: the flagged-gram artifact is
    a declared parameter and a row's verdict depends only on (text,
    artifact), so the batch operator is already stateless and
    stream-safe (array_intersect against a literal array — no
    aggregation, no state store, no watermark, plain append mode).
    This wrapper makes the deployment seam explicit and pins
    stream==batch parity in tests/test_streaming_curation.py, the
    ``quality_gate_stream`` contract: a periodic batch audit
    (``contamination_gate`` over the full corpus) publishes the
    flagged-gram set; between audits every arriving doc is checked
    against that artifact, and refreshes enter through a redeploy,
    never through in-flight corpus statistics — so a replayed batch
    and a restarted stream quarantine identical docs (round-12
    verdict item 5).

    Returns the batch schema: (id, group, flagged_hits, gate_flag).
    """
    from dht11_data_pipeline_spark.operators.textops import (
        contamination_gate_declared)

    return contamination_gate_declared(
        df, flagged_grams, n=n, min_hits=min_hits,
        group_col=group_col, text_col=text_col, id_col=id_col)


def quality_gate_stream(df: DataFrame, weights: dict[int, int],
                        buckets: int = 128, bias: int = 0,
                        threshold_milli: int = 0,
                        text_col: str = "text", id_col: str = "doc_id",
                        salt: str = "qcls1") -> DataFrame:
    """Streaming form of ``operators/textops.quality_classifier_score``
    — and deliberately the SAME projection, not a re-implementation:
    the classifier's weights are a declared parameter and its verdict
    for a row depends only on (text, weights), so the batch operator
    is already stateless and stream-safe (no aggregation, no state
    store, no watermark). This wrapper exists to make the deployment
    seam explicit and to pin stream==batch parity in
    tests/test_streaming_curation.py, the same contract as
    ``weighted_keep_stream`` — a quality model refresh enters through
    a redeploy of the declared weight table, never through corpus
    statistics computed in-flight.

    Returns the batch schema: (id, n_tokens, score_sum, keep_flag).
    """
    from dht11_data_pipeline_spark.operators.textops import (
        quality_classifier_score)

    return quality_classifier_score(
        df, weights, buckets=buckets, bias=bias,
        threshold_milli=threshold_milli, text_col=text_col,
        id_col=id_col, salt=salt)
