"""Co-occurrence similarity (item-item affinity) over an interaction
log — the collaborative-filtering / "users who did A also did B"
signal, computed as the cosine between item interaction-count vectors
indexed by user.

Shape: ONE shuffle aggregates the (user, item) interaction matrix
with map-side partials; the self-join on user fans out to
|items-per-user|^2 pairs per user (bounded by the item vocabulary,
not the corpus); the pair aggregate is the second shuffle, keyed on
the item pair. Item norms are an |items|-row table -> broadcast.
Power users are the skew hazard, and the cap is ENFORCED here:
``max_items_per_user`` truncates each user's item set by
deterministic hash rank before the pair fan-out (the standard CF
truncation), so one bot user with 10^5 distinct items contributes at
most cap^2 pairs instead of 10^10. The default cap (1000) is far
above any organic per-user item vocabulary — on real fixtures capped
== uncapped (pinned in tests/test_skew_and_sources.py) — while
bounding the worst case; pass None for the exact uncapped semantics
(the SQL-oracle twin). Cosine rounds to 4 decimals over exact integer
counts, so any engine reproduces it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def item_affinity(df: DataFrame, user_col: str = "user_id",
                  item_col: str = "event_type",
                  max_items_per_user: int | None = 1000) -> DataFrame:
    """Unordered item pairs (item_a < item_b) with: n_users sharing
    both, dot product of count vectors, and cosine affinity.

    The (user, item) -> count matrix feeds four consumers (both join
    sides + both norm lookups) and pre-AQE Spark does NOT reuse that
    exchange, so it persists for the computation; the returned frame is
    an eager localCheckpoint of the |items|^2-row result, letting the
    cache release before return (no lingering executor memory)."""
    m = df.groupBy(user_col, item_col).agg(F.count(F.lit(1)).alias("n"))
    if max_items_per_user is not None:
        # deterministic hash-rank truncation: every engine/run keeps the
        # SAME items for a power user (xxhash64 order, item tiebreak) —
        # one window shuffle on the already-aggregated matrix, paid only
        # when the cap is on; norms are computed AFTER the cap so the
        # affinity stays an exact cosine of the capped matrix
        w = (Window.partitionBy(user_col)
             .orderBy(F.xxhash64(user_col, item_col), F.col(item_col)))
        m = (m.withColumn("_ir", F.row_number().over(w))
             .filter(F.col("_ir") <= max_items_per_user).drop("_ir"))
    m = m.persist()
    norms = (m.groupBy(item_col)
             .agg(F.sqrt(F.sum(F.col("n") * F.col("n"))).alias("norm")))
    a = m.select(F.col(user_col).alias("u"), F.col(item_col).alias("item_a"),
                 F.col("n").alias("na"))
    b = m.select(F.col(user_col).alias("u"), F.col(item_col).alias("item_b"),
                 F.col("n").alias("nb"))
    pairs = (
        a.join(b, "u")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_users"),
             F.sum(F.col("na") * F.col("nb")).alias("dot"))
    )
    na = norms.select(F.col(item_col).alias("item_a"),
                      F.col("norm").alias("norm_a"))
    nb = norms.select(F.col(item_col).alias("item_b"),
                      F.col("norm").alias("norm_b"))
    out = (
        pairs.join(F.broadcast(na), "item_a").join(F.broadcast(nb), "item_b")
        .select(
            "item_a", "item_b",
            F.col("n_users").cast("int").alias("n_users"),
            F.col("dot").cast("bigint").alias("dot"),
            F.round(F.col("dot") / (F.col("norm_a") * F.col("norm_b")), 4)
            .alias("affinity"),
        )
    ).localCheckpoint(eager=True)
    m.unpersist()
    return out
