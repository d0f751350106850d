"""Sequence analytics over event logs: per-entity journey encoding and
pattern counting (the MATCH_RECOGNIZE / complex-event-processing
shape), plus integer-exact linear trend fits per key.

Journey encoding: each entity's events, ordered by (ts, tiebreak id),
become one character string (one char per event type). Pattern counts
are then plain non-overlapping literal-substring scans — identical
semantics in every regex engine, so the SQL oracle matches exactly.

Scale: ONE shuffle on the entity key; the per-entity state is the
journey string (bounded by that entity's activity — cap with a
window-limit before collecting for power users). The pattern scan is a
row-local codegen'd pass over strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def journey_patterns(df: DataFrame, patterns: dict[str, str],
                     user_col: str = "user_id",
                     type_col: str = "event_type", ts_col: str = "ts",
                     order_col: str = "event_id",
                     convert_char: str | None = "p") -> DataFrame:
    """Per-user journey string (event-type initials in time order) with
    a non-overlapping occurrence count per named literal pattern.

    ``patterns`` maps an output column name to a literal initial
    sequence, e.g. {"n_view_click": "vc"} counts immediate view->click
    adjacencies. Literals only — regex alternation/backtracking
    semantics differ across engines; adjacency literals do not.
    ``convert_char`` names the conversion-marking initial (default 'p'
    for purchase); pass None to omit the converted/first-position
    columns for vocabularies without a conversion event."""
    enc = df.select(
        F.col(user_col),
        F.struct(
            F.col(ts_col).cast("timestamp").alias("t"),
            F.col(order_col).alias("o"),
            F.substring(F.col(type_col), 1, 1).alias("c"),
        ).alias("s"),
    )
    j = (
        enc.groupBy(user_col)
        .agg(F.array_sort(F.collect_list("s")).alias("arr"))
        .select(
            F.col(user_col),
            F.array_join(F.transform("arr", lambda s: s["c"]), "")
            .alias("journey"),
        )
    )
    # the literal goes straight into a Java regex: enforce the
    # documented literals-only contract, otherwise a metacharacter
    # (e.g. '.') would silently diverge from the replace()-based SQL
    # oracle and from the literal semantics promised above
    for name, pat in patterns.items():
        if not pat.isalnum():
            raise ValueError(
                f"pattern {name}={pat!r} must be alphanumeric initials "
                "(literal adjacency only — regex metacharacters are not "
                "portable across engines)")
    counts = [
        F.size(F.regexp_extract_all("journey", F.lit(pat), F.lit(0)))
        .cast("int").alias(name)
        for name, pat in patterns.items()
    ]
    convert_cols = [] if convert_char is None else [
        F.when(F.instr(F.col("journey"), convert_char) > 0, "Y")
        .otherwise("N").alias("converted"),
        F.instr(F.col("journey"), convert_char).cast("int")
        .alias("first_purchase_pos"),
    ]
    return j.select(
        user_col,
        F.length("journey").cast("int").alias("journey_len"),
        *counts,
        *convert_cols,
    )


def linear_trend(df: DataFrame, key_col: str, x_col: str, y_cents: F.Column,
                 scale: int = 1000000) -> DataFrame:
    """Least-squares slope per key over integer (x, y) points, in exact
    integer arithmetic: slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2),
    emitted as sign * (|num| * scale DIV den) so truncation direction
    is engine-independent (Spark DIV truncates toward zero; SQL floor
    division floors — they agree only on non-negative operands).

    Two-level aggregate: the (key, x) grain reduces first (map-side
    partials), then key-level sums — the same partial-aggregation
    economics as every rollup here. No float enters the slope."""
    # internal aliases prefixed so key_col/x_col named n/x/y/s* can't
    # collide with them
    pts = (df.groupBy(key_col, x_col)
           .agg(y_cents.alias("_lt_y"))
           .select(key_col, F.col(x_col).cast("bigint").alias("_lt_x"),
                   F.col("_lt_y").cast("bigint").alias("_lt_y")))
    agg = pts.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("_lt_n"),
        F.sum("_lt_x").alias("_lt_sx"),
        F.sum("_lt_y").alias("_lt_sy"),
        F.sum(F.col("_lt_x") * F.col("_lt_y")).alias("_lt_sxy"),
        F.sum(F.col("_lt_x") * F.col("_lt_x")).alias("_lt_sxx"),
    )
    num = (F.col("_lt_n") * F.col("_lt_sxy")
           - F.col("_lt_sx") * F.col("_lt_sy"))
    den = (F.col("_lt_n") * F.col("_lt_sxx")
           - F.col("_lt_sx") * F.col("_lt_sx"))
    slope = F.when(den == 0, F.lit(0)).otherwise(
        F.signum(num).cast("bigint")
        * F.expr(f"abs(_lt_n * _lt_sxy - _lt_sx * _lt_sy) * {scale} DIV "
                 "(_lt_n * _lt_sxx - _lt_sx * _lt_sx)"))
    return agg.select(
        key_col,
        F.col("_lt_n").cast("int").alias("n_points"),
        F.col("_lt_sy").alias("total_y"),
        slope.cast("bigint").alias("slope_ppm"),
        F.when(num > 0, "up").when(num < 0, "down").otherwise("flat")
        .alias("trend"),
    )


def cusum_changepoint(df: DataFrame, key_col: str, x_col: str,
                      y_col: str) -> DataFrame:
    """Integer-exact CUSUM change-point per key: over points (x, y) in
    x order, S_k = n * prefix_sum(y)_k - k * total(y) — the cumulative
    deviation from the mean, scaled by n so no division ever happens.
    The change point is the x maximizing |S_k| (earliest x on ties);
    its sign says whether the series ran above ('high-then-drop') or
    below ('low-then-rise') its mean up to that point.

    One shuffle on the key; the prefix/total sums are one window pass
    over the (key, x) grain. Input reduces to that grain here (sum of
    y per (key, x)) so duplicate x values can never make the prefix
    order — and therefore the result — depend on partition order."""
    from pyspark.sql.window import Window

    w_all = Window.partitionBy(key_col)
    pts = (df.groupBy(key_col, F.col(x_col).cast("bigint").alias("x"))
           .agg(F.sum(F.col(y_col).cast("bigint")).alias("y")))
    scored = pts.select(
        key_col, "x",
        (F.count(F.lit(1)).over(w_all) * F.sum("y").over(
            Window.partitionBy(key_col).orderBy("x")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
         - F.row_number().over(Window.partitionBy(key_col).orderBy("x"))
         * F.sum("y").over(w_all)).alias("s"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    pick = Window.partitionBy(key_col).orderBy(F.abs(F.col("s")).desc(), "x")
    return (
        scored.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .select(
            key_col,
            F.col("n").cast("int").alias("n_points"),
            F.col("x").alias("change_x"),
            F.abs("s").cast("bigint").alias("cusum_abs"),
            F.when(F.col("s") > 0, "high-then-drop")
            .when(F.col("s") < 0, "low-then-rise")
            .otherwise("none").alias("shape"),
        )
    )


def fixed_point_ewma(df: DataFrame, user_col: str = "user_id",
                     ts_col: str = "ts", id_col: str = "event_id",
                     value_col: str = "value",
                     max_steps: int = 40) -> DataFrame:
    """Fixed-point EWMA (α = 1/2) over each key's first ``max_steps``
    events: y_t = (Σ c_i·2^(i-1)) DIV 2^t over DECIMAL-exact cents —
    the sequential recurrence closed-formed into one integer prefix
    sum, bit-for-bit reproducible by any engine. One shuffle on the
    key; the per-key sort is shared by the row-number and prefix-sum
    windows. ``max_steps`` ≤ 40 keeps 2^(t-1)·cents far inside int64."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy(user_col).orderBy(ts_col, id_col)
    r = (df.select(
            F.col(user_col), F.col(id_col), F.col(ts_col),
            F.expr(f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .alias("cents"))
         .withColumn("rn", F.row_number().over(w))
         .filter(F.col("rn") <= max_steps))
    w2 = W.partitionBy(user_col).orderBy("rn")
    return (r.withColumn(
                "_y",
                F.sum(F.expr("cents * shiftleft(CAST(1 AS BIGINT), rn - 1)"))
                .over(w2))
            .select(F.col(user_col), "rn", F.col(id_col), "cents",
                    F.expr("_y DIV shiftleft(CAST(1 AS BIGINT), rn)")
                    .alias("ewma_cents")))


def holt_winters_trend(df: DataFrame, user_col: str = "user_id",
                       ts_col: str = "ts", id_col: str = "event_id",
                       value_col: str = "value",
                       max_steps: int = 16) -> DataFrame:
    """Double exponential smoothing (Holt's linear trend, α = β = 1/2)
    per key, in EXACT fixed-point integer arithmetic.

    The coupled recurrences  s_t = (x_t + s_{t-1} + b_{t-1}) / 2  and
    b_t = (s_t − s_{t-1} + b_{t-1}) / 2  have dyadic coefficients, so
    scaling by 4^t makes every state integral:

        S_t = x_t·2^(2t−1) + 2·(S_{t-1} + B_{t-1})        (S_1 = 4·x_1)
        B_t = (S_t − 4·S_{t-1} + 4·B_{t-1}) / 2           (B_1 = 0)

    where S_t = s_t·4^t, B_t = b_t·4^t and the /2 is exact (the
    numerator is provably even). Emitted columns are the RAW scaled
    integers (level_q4, trend_q4; value = q4 / 4^rn) — no division at
    all, so there is no floor-vs-truncate divergence between engines
    for the (possibly negative) trend. ``max_steps`` ≤ 16 keeps
    |S_t| ≤ max_cents·4^t·O(1) far inside int64 for money-scale cents.

    Unlike the single-EWMA (which closes into one window prefix sum),
    the coupled recurrence is genuinely sequential per key — this is
    the documented Arrow ``applyInPandas`` path.  The fold is grouped
    by a COARSE hash bucket of the key (64 buckets), not per key: one
    Python call per bucket instead of one per user, and inside each
    batch the recurrence is a VECTORIZED numpy fold over the STEP axis
    — ≤ ``max_steps`` int64 vector ops per batch, no per-row Python.
    Rows sorted by (user, rn) put each user's step t−1 immediately
    before step t (row_number is contiguous from 1), so the previous
    state is always ``index − 1``.  Overflow safety: a float64 shadow
    runs the same recurrence; if its magnitude ever approaches 2^61
    the batch raises instead of silently wrapping int64 (the
    Python-int twin ``_hw_fold_py`` asserts the same bound exactly and
    is pinned equal to the numpy fold in tests).  The DuckDB oracle
    replays the recurrence with a recursive CTE — exact match.
    """
    if not 1 <= max_steps <= 16:
        raise ValueError(f"max_steps must be in 1..16; got {max_steps}")
    import numpy as np  # noqa: PLC0415 — Arrow path only
    import pandas as pd  # noqa: PLC0415 — Arrow path only

    from pyspark.sql.window import Window as W

    w = W.partitionBy(user_col).orderBy(ts_col, id_col)
    r = (df.select(
            F.col(user_col).alias("user_id"), F.col(id_col).alias("event_id"),
            F.col(ts_col).alias("ts"),
            F.expr(f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .alias("cents"))
         .withColumn("rn", F.row_number().over(w))
         .filter(F.col("rn") <= max_steps)
         .select("user_id", "rn", "event_id", "cents")
         .withColumn("bucket",
                     F.pmod(F.hash("user_id"), F.lit(64)).cast("int")))

    schema = ("user_id bigint, rn int, event_id bigint, cents bigint, "
              "level_q4 bigint, trend_q4 bigint")

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        uid = pdf["user_id"].to_numpy(np.int64)
        rn = pdf["rn"].to_numpy(np.int64)
        order = np.lexsort((rn, uid))
        uid, rn = uid[order], rn[order]
        eid = pdf["event_id"].to_numpy(np.int64)[order]
        x = pdf["cents"].to_numpy(np.int64)[order]
        n = x.shape[0]
        s = np.zeros(n, np.int64)
        b = np.zeros(n, np.int64)
        fs = np.zeros(n, np.float64)
        fb = np.zeros(n, np.float64)
        first = rn == 1
        s[first] = 4 * x[first]
        fs[first] = 4.0 * x[first]
        for t in range(2, int(rn.max(initial=1)) + 1):
            idx = np.nonzero(rn == t)[0]
            if idx.size == 0:
                continue
            sp, bp = s[idx - 1], b[idx - 1]
            coef = np.int64(1 << (2 * t - 1))
            s_new = x[idx] * coef + 2 * (sp + bp)
            # numerator is provably even; >> 1 on even int64 is exact
            # division by 2 (arithmetic shift, negatives included)
            b[idx] = (s_new - 4 * sp + 4 * bp) >> 1
            s[idx] = s_new
            fsp, fbp = fs[idx - 1], fb[idx - 1]
            fs_new = x[idx] * float(coef) + 2.0 * (fsp + fbp)
            fb[idx] = (fs_new - 4.0 * fsp + 4.0 * fbp) / 2.0
            fs[idx] = fs_new
        if n and max(np.abs(fs).max(), np.abs(fb).max()) >= float(1 << 61):
            raise OverflowError(
                "holt_winters_trend: |state| approached 2^61 — input "
                "magnitudes too large for the 4^t int64 scaling; reduce "
                "max_steps or pre-scale the value column")
        return pd.DataFrame({
            "user_id": uid, "rn": rn.astype(np.int32), "event_id": eid,
            "cents": x, "level_q4": s, "trend_q4": b})

    return r.groupBy("bucket").applyInPandas(_fold, schema=schema)


def _hw_fold_py(cents: list[int], max_steps: int = 16) -> list[tuple[int, int]]:
    """Python-arbitrary-precision twin of the numpy fold above — the
    overflow-asserting reference implementation, pinned equal to the
    vectorized path in tests/test_sequence.py."""
    out: list[tuple[int, int]] = []
    s = b = 0
    for t, x in enumerate(cents[:max_steps], start=1):
        if t == 1:
            s, b = 4 * int(x), 0
        else:
            s_new = int(x) * (1 << (2 * t - 1)) + 2 * (s + b)
            num = s_new - 4 * s + 4 * b
            assert num % 2 == 0
            s, b = s_new, num // 2
        assert abs(s) < 1 << 62 and abs(b) < 1 << 62
        out.append((s, b))
    return out
