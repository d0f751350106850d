"""Entity resolution: blocked fuzzy (edit-distance) joins.

The classic record-linkage shape — exact match on a cheap BLOCKING key
bounds the candidate set to sum(|block|^2), then an edit-distance
verify keeps true near-matches. All-pairs string comparison is the
canonical scale-killer (N^2 levenshtein calls); blocking makes the
fuzzy join feasible at 100 TB exactly the way LSH banding does for
document dedup — same pattern, lexical tier.

Physical notes:
- the block join is a plain equi-join: one shuffle per side on the
  block key (or zero with co-bucketed tables). Block-size skew is the
  hazard — pick selective keys, or compose (key, first-char) style
  multi-blocks exactly like salting a hot aggregate.
- ``levenshtein`` is a JVM built-in (whole-stage codegen). A length
  pre-filter (|len(a)-len(b)| <= max_dist, a lower bound on edit
  distance) discards most candidates before the O(len^2) DP runs —
  a pure optimization with zero effect on results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def blocked_fuzzy_pairs(df: DataFrame, block_cols: list[str],
                        text_col: str, id_col: str,
                        max_dist: int = 2) -> DataFrame:
    """Self entity-resolution: unordered pairs (id_a < id_b) agreeing
    on every blocking column with edit_distance(text) <= max_dist.
    Output grades matches: 'exact' (0) vs 'near' (1..max_dist).

    Dedupe-then-link: the edit-distance DP runs only over DISTINCT
    (block, text) values — the vocabulary — and the id-level pair set
    re-expands through hash equi-joins on (block, text). Naively
    pairing rows is quadratic in the BLOCK size (which grows with the
    corpus: this exact shape measured 30x super-linear in SCALING.md);
    the vocabulary does not grow with row count, so the expensive DP
    stage is corpus-size-independent and only the genuinely quadratic
    OUTPUT (duplicate-heavy blocks) costs join time.

    The (block, id, text) projection feeds three consumers (vocabulary
    + both id-expansion sides), so it is materialized ONCE here via an
    eager ``localCheckpoint`` — the input plan (which may be an
    arbitrary upstream join/filter tree) evaluates a single time and
    all three reads hit the checkpointed narrow frame. ``persist``
    would pin a SQL-cache entry per call; the checkpoint is released by
    the context cleaner once the result is unreferenced."""
    rows = df.select(*block_cols, F.col(id_col).alias("_id"),
                     F.col(text_col).alias("_text")).localCheckpoint()
    names = rows.select(*block_cols, "_text").distinct()
    a = names.select(*block_cols, F.col("_text").alias("text_a"))
    b = names.select(*block_cols, F.col("_text").alias("text_b"))
    cand = (
        a.join(b, block_cols)
        .filter(F.col("text_a") <= F.col("text_b"))
        .filter(F.abs(F.length("text_a") - F.length("text_b")) <= max_dist)
        .withColumn("dist", F.levenshtein("text_a", "text_b"))
        .filter(F.col("dist") <= max_dist)
    )
    # both orientations for distinct-name pairs, one for identical names:
    # after the id joins, id_a < id_b keeps exactly one row per id pair
    # with text_a always the smaller id's text (the row-pair contract).
    # Single-scan symmetrization (explode, not a self-union) so the
    # levenshtein DP stage never evaluates twice.
    sym = (
        cand.select(
            *block_cols, "dist",
            F.explode(F.when(
                F.col("text_a") < F.col("text_b"),
                F.array(F.struct(F.col("text_a").alias("ta"),
                                 F.col("text_b").alias("tb")),
                        F.struct(F.col("text_b").alias("ta"),
                                 F.col("text_a").alias("tb"))),
            ).otherwise(
                F.array(F.struct(F.col("text_a").alias("ta"),
                                 F.col("text_b").alias("tb"))),
            )).alias("e"))
        .select(*block_cols, F.col("e.ta").alias("text_a"),
                F.col("e.tb").alias("text_b"), "dist")
    )
    ids_a = rows.select(*block_cols, F.col("_id").alias("id_a"),
                        F.col("_text").alias("text_a"))
    ids_b = rows.select(*block_cols, F.col("_id").alias("id_b"),
                        F.col("_text").alias("text_b"))
    return (
        sym.join(ids_a, [*block_cols, "text_a"])
        .join(ids_b, [*block_cols, "text_b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            *block_cols, "id_a", "id_b", "text_a", "text_b",
            F.col("dist").cast("int").alias("dist"),
            F.when(F.col("dist") == 0, "exact").otherwise("near")
            .alias("match_grade"),
        )
    )
