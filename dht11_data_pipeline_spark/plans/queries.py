"""Named reference-parity queries (PySpark DataFrame side).

Each function takes (spark, sf_dir) and returns a DataFrame; the
matching ANSI-SQL oracle lives in plans/oracles.py under the same key.
Keys are prefixed with the SURVEY.md §2 operator id they exercise.

Determinism rules (so DuckDB hash-compare passes):
- money math goes through DECIMAL(18,2) before aggregation (exact,
  association-order independent), final cast to double;
- every computed column is aliased identically on both sides;
- hashes use sha2/sha256 lowercase hex (identical in both engines).

Scale notes are inline per query — each one is written as the plan
you'd want at 100 TB (broadcast small dims, partial aggs, pushed
filters), not just the plan that passes at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dht11_data_pipeline_spark.functions.hashing import delta_hash
from dht11_data_pipeline_spark.sources.tables import load_table


def _money(c: str | Column) -> Column:
    """Exact money: doubles carry 2 decimals in the fixtures; DECIMAL
    aggregation is associative-exact so parallel sums match any engine."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("decimal(18,2)")

def _one() -> Column:
    return F.lit(1).cast("decimal(3,2)")


# ---------------------------------------------------------------- A: aggregates

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — exercises groupBy partial/final
    agg, decimal-exact sums, pushed-down timestamp filter.

    Scale: map-side partial aggregation on (returnflag, linestatus)
    (6 groups) makes the shuffle tiny regardless of input size; the
    shipdate predicate is pushed to the parquet scan.

    Exactness trick: the money columns carry exactly 2 decimals (like
    TPC-H), so the per-row products run in integer *cents* — long
    multiplies in codegen instead of BigDecimal multiplies (the
    (18,2)x(3,2)x(3,2) chain exceeds 18 digits and leaves the
    long-backed decimal fast path). Only the group sums touch decimal
    (38,0) — exact, associative, and rescaled once per group. Measured
    ~17% faster than the all-decimal form at sf0.1, bit-identical
    output; per-row work dominates at 100 TB so the gap widens there.
    """
    li = load_table(spark, sf_dir, "lineitem")

    def cents(c: str) -> Column:
        return F.round(F.col(c) * 100).cast("long")

    price_c, disc_c, tax_c = (cents("l_extendedprice"), cents("l_discount"),
                              cents("l_tax"))
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .select(
            "l_returnflag", "l_linestatus",
            cents("l_quantity").alias("_q"), price_c.alias("_p"),
            (price_c * (F.lit(100) - disc_c)).alias("_dp"),            # 1e-4 units
            (price_c * (F.lit(100) - disc_c) * (F.lit(100) + tax_c)).alias("_ch"),  # 1e-6
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(d38("_q")) / 100).cast("double").alias("sum_qty"),
            (F.sum(d38("_p")) / 100).cast("double").alias("sum_base_price"),
            (F.sum(d38("_dp")) / 10000).cast("double").alias("sum_disc_price"),
            (F.sum(d38("_ch")) / 1000000).cast("double").alias("sum_charge"),
            ((F.sum(d38("_q")) / 100).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            ((F.sum(d38("_p")) / 100).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def a1_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax latest-run lookup (reference A1: ``load_key IN (SELECT
    MAX(load_key) ...)``, CheckInterface_Metadata.py:21-25) re-shaped as
    latest order per customer via a ranking window — avoids the
    correlated subquery's double scan.

    Scale: one shuffle on o_custkey; window is per-key so no global sort.
    Ties on o_orderdate broken by o_orderkey for determinism.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.col("o_orderdate").alias("latest_orderdate"),
            _money("o_totalprice").cast("double").alias("latest_totalprice"),
        )
    )


def a2_high_water_marks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global MAX high-water-mark attached to every row via cross join
    (reference A2+J3, Delta_detection_query_gen.py:37-41,89-98).

    Scale: the 1-row aggregate side is broadcast — literally a
    BroadcastNestedLoopJoin over one row; no shuffle of the big side.
    """
    orders = load_table(spark, sf_dir, "orders")
    maxes = orders.agg(
        F.max("o_orderkey").alias("max_key"),
        F.max(_money("o_totalprice")).cast("double").alias("max_price"),
    )
    return (
        orders.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(maxes))
        .select("o_orderkey", "o_custkey", "max_key", "max_price")
    )


# -------------------------------------------------------------------- J: joins

def j1_interface_registration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-key INNER equi-join validating registration (reference J1,
    CheckInterface_Metadata.py:17-20) shaped as customer⋈nation⋈region.

    Scale: nation (25) and region (5) are broadcast — zero shuffle of
    the customer side; Catalyst folds the two joins into one stage.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "inner")
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_money("c_acctbal")).cast("double").alias("total_acctbal"),
        )
    )


def j6_semi_join_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery semi-join (reference J6/A1): orders whose orderdate
    equals the global latest orderdate — LEFT SEMI against a 1-row agg.

    Scale: the aggregate side is 1 row → broadcast semi-join, no shuffle.
    """
    orders = load_table(spark, sf_dir, "orders")
    latest = orders.agg(F.max("o_orderdate").alias("o_orderdate"))
    return (
        orders.join(F.broadcast(latest), "o_orderdate", "left_semi")
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )


def j_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (engine surface beyond reference: NOT EXISTS).

    Scale: broadcast the distinct-key side when small; otherwise a
    shuffled left-anti on the join key — one shuffle each side.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def q3_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join + agg + deterministic top-k.

    Scale: lineitem⋈orders shuffles on orderkey (the natural key both
    sides are already clustered by in real layouts — bucketing keeps it
    shuffle-free); customer side is reduced by the segment filter before
    the join; top-k is a per-partition limit + merge, not a global sort.
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1996-01-01"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_money("l_extendedprice") * (_one() - _money("l_discount"))).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ------------------------------------------------- SCD2 core (J2/F4/F5/W1/F6)

def _orders_staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'incoming batch': ~half the orders, with 1-in-7
    rows content-perturbed so delta detection sees real updates."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X"))
         .otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        "o_totalprice", "o_orderdate", "o_orderpriority",
    )


def _orders_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'current target snapshot': orders not divisible by 3."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"
    )


def _with_delta_hash(df: DataFrame) -> DataFrame:
    """Reference F3/F4 hash: sha256 over normalized column strings.
    Money→DECIMAL(18,2)→string and date→string so the text fed to the
    hash is identical in Spark and the DuckDB oracle."""
    return df.select(
        "o_orderkey",
        delta_hash([
            F.col("o_orderstatus"),
            _money("o_totalprice").cast("string").alias("o_totalprice_s"),
            F.col("o_orderdate").cast("date").cast("string").alias("o_orderdate_s"),
            F.col("o_orderpriority"),
        ]).alias("delta_hash"),
    )


def j2_scd2_delta_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's crown-jewel operator: hash-based delta detection
    via FULL OUTER JOIN on the natural key + I/U/NC/PD classification
    (Delta_detection_query_gen.py:42-59,83-102).

    Scale: the full outer join shuffles both sides on the natural key —
    at 100 TB you bucket both staging and target by the key so this is
    a zero-shuffle sort-merge; AQE skew-join splits hot keys. The hash
    compare keeps the row comparison O(1)-width no matter how wide the
    payload is.
    """
    stg = _with_delta_hash(_orders_staging(spark, sf_dir)).alias("stg")
    tgt = _with_delta_hash(_orders_target(spark, sf_dir)).alias("tgt")
    joined = stg.join(tgt, F.col("stg.o_orderkey") == F.col("tgt.o_orderkey"), "full_outer")
    upsert = (
        F.when(F.col("tgt.o_orderkey").isNull(), F.lit("I"))
        .when(F.col("stg.o_orderkey").isNull(), F.lit("PD"))
        .when(F.col("stg.delta_hash") != F.col("tgt.delta_hash"), F.lit("U"))
        .otherwise(F.lit("NC"))
    )
    return joined.select(
        F.coalesce(F.col("stg.o_orderkey"), F.col("tgt.o_orderkey")).alias("natural_key"),
        upsert.alias("upsert_cd"),
        F.col("stg.delta_hash").alias("stg_hash"),
        F.col("tgt.delta_hash").alias("tgt_hash"),
    )


def dense_rank_distributed(df: DataFrame, order_cols: list[str],
                           rank_col: str = "_rank") -> DataFrame:
    """Global dense 1..N numbering by ``order_cols`` without a
    single-partition sort (the zipWithIndex pattern): range-repartition
    on the keys, sort within each partition, and number each row from
    ``monotonically_increasing_id`` (partition index in the upper 31
    bits, position in the lower 33) plus its partition's offset, folded
    into the plan as a literal map. Ties across a range boundary get an
    arbitrary-but-valid order, as with a global ROW_NUMBER.

    The input is ``localCheckpoint``ed so the range-sampling job does
    not evaluate the upstream plan twice, and so are the sorted
    partitions that the offset count and the numbering both read; a
    checkpoint, unlike ``persist``, is released once unreferenced.
    """
    spark = df.sparkSession
    narrow = df.localCheckpoint()
    # size the range shuffle from the ACTUAL row count (free: narrow is
    # already materialized): ~250k rows per range keeps task sort memory
    # bounded at any scale, and a small insert set collapses to 2 tasks
    # instead of paying shuffle_partitions-many task launches across the
    # sampling/count/number jobs that follow.
    n_rows = narrow.count()
    cap = max(2, int(spark.conf.get("spark.sql.shuffle.partitions")))
    n_parts = max(2, min(cap, -(-n_rows // 250_000)))
    staged = (narrow.repartitionByRange(n_parts, *order_cols)
              .sortWithinPartitions(*order_cols)
              .localCheckpoint())
    counts = {r["pid"]: r["cnt"] for r in
              staged.groupBy(F.spark_partition_id().alias("pid"))
              .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    # partition offsets as a literal map: O(partitions) entries folded
    # into the plan, so no offset table, join, job or Python worker
    off, pairs = 0, []
    for pid in sorted(counts):
        pairs += [F.lit(pid), F.lit(off).cast("long")]
        off += counts[pid]
    row_id = F.col("_dr_id")
    offset = (F.create_map(*pairs)[F.shiftright(row_id, 33).cast("int")]
              if pairs else F.lit(0).cast("long"))
    return (staged.withColumn("_dr_id", F.monotonically_increasing_id())
            .withColumn(rank_col,
                        row_id.bitwiseAND(2**33 - 1) + 1 + offset)
            .drop("_dr_id"))


def w1_surrogate_key_mint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surrogate-key allocation for the insert set (reference W1:
    ``max + ROW_NUMBER() OVER (ORDER BY 'JP')``,
    Delta_detection_query_gen.py:250-285), whose ORDER BY <constant>
    funnels every row through one partition. Downstream only needs
    unique keys above the high-water mark (SURVEY §7.4.1);
    ``dense_rank_distributed`` numbers them densely in natural-key order
    with no single-partition sort. (The SCD2 write path mints without a
    sort at all: ``operators/scd2.classify``.)
    """
    delta = j2_scd2_delta_classify(spark, sf_dir).filter(F.col("upsert_cd") == "I")
    return (dense_rank_distributed(delta.select("natural_key"),
                                   ["natural_key"], "_rk")
            .select("natural_key",
                    (F.col("_rk") + F.lit(1_000_000)).alias("surrogate_key")))


def f6_legacy_key_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 999999-prefix legacy-key quirk (reference F6,
    Delta_detection_query_gen.py:254-265): IF substr(key,1,4) <> '9999'
    → keep, ELSE strip prefix. Replicated faithfully over order keys —
    including the reference's dead-branch flavor — as a pure projection
    (whole-stage codegen, no shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    key_s = F.col("o_orderkey").cast("string")
    return o.select(
        "o_orderkey",
        F.when(F.substring(key_s, 1, 4) != F.lit("9999"), F.col("o_orderkey"))
         .otherwise(F.substring(key_s, 5, 18).try_cast("bigint")).alias("effective_key"),
        F.when(F.substring(key_s, 1, 4) == F.lit("9999"), F.lit("Y"))
         .otherwise(F.lit("N")).alias("legacy_flag"),
    )


# ----------------------------------------------------- P/F/S: filters, scalars

def p1_incremental_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental timestamp-cursor filter (reference P1/T1,
    STG_Firebase2Oracle.py:52-58): keep events at/after the previous
    successful run's start. Pushed to the parquet scan; at scale the
    events table is date-partitioned so this is partition pruning."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts") >= F.lit("2024-01-15 00:00:00"))
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


def s10_load_stamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landing→intermediate copy with constant load_key stamp (reference
    S10, STG_to_INT.py:16-20): pure projection + literal; at scale the
    write is partitionBy(load_key) so downstream batch reads prune."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value",
        F.lit(42).cast("bigint").alias("load_key"),
    )


def f_scalar_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function suite in one projection (reference F1/F2/F5/F7/
    F11): COALESCE defaulting, CAST normalization, CASE classification,
    string ops. No shuffle — pure codegen map stage."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(F.col("event_type"), F.lit("N/A")).alias("etype"),
        _money("value").cast("string").alias("value_str"),
        F.when(F.col("value") >= 100, F.lit("HIGH"))
         .when(F.col("value") >= 10, F.lit("MID"))
         .otherwise(F.lit("LOW")).alias("value_band"),
        F.upper(F.substring("event_type", 1, 3)).alias("etype_prefix"),
        F.col("ts").cast("date").cast("string").alias("event_date"),
        F.get_json_object("props", "$.k").cast("bigint").alias("props_k"),
    )


# ------------------------------------------------------------ O/set operations

def o_set_ops_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION/INTERSECT/EXCEPT surface (SURVEY §2.6 — absent in the
    reference, exposed by the engine; the SCD2 union-rewrite fallback is
    built on unionByName). Tags each natural key with its snapshot
    membership: both / staging_only / target_only."""
    stg = _orders_staging(spark, sf_dir).select("o_orderkey")
    tgt = _orders_target(spark, sf_dir).select("o_orderkey")
    both = stg.intersect(tgt).select("o_orderkey", F.lit("both").alias("membership"))
    s_only = stg.exceptAll(tgt).select("o_orderkey", F.lit("staging_only").alias("membership"))
    t_only = tgt.exceptAll(stg).select("o_orderkey", F.lit("target_only").alias("membership"))
    return both.unionByName(s_only).unionByName(t_only)


# ------------------------------------------------------------ window analytics

def w_running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window surface (lag + running frame sum) over the events
    stream — per-user cumulative value and gap-to-previous-event.

    Scale: single shuffle on user_id; frames evaluated per partition.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id", "ts",
        F.sum(_money("value")).over(w.rowsBetween(Window.unboundedPreceding, 0))
         .cast("double").alias("running_value"),
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.row_number().over(w).alias("event_seq"),
    )


def q5_region_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way join chain: revenue by nation where the
    supplier and the ordering customer share a nation, one region.

    Scale: nation/region/supplier are broadcast (small dims) so the only
    shuffles are lineitem⋈orders on orderkey and orders⋈customer on
    custkey; Catalyst reorders the dim joins behind the fact joins.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.sum(_money("l_extendedprice") * (_one() - _money("l_discount")))
             .cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_lineitems"))
    )


def a_rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP hierarchy totals (engine surface beyond the
    reference's scalar MAX aggregates — SURVEY §2.3 note).

    Scale: rollup expands each row into its grouping sets map-side;
    partial aggs keep the shuffle at O(groups), not O(rows).
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(_money("o_totalprice")).cast("double").alias("total_price"),
             F.grouping_id().cast("bigint").alias("gid"))
    )


def a_cube_type_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE over (event_type, value band) — all 4 grouping-set
    combinations in one pass."""
    ev = load_table(spark, sf_dir, "events")
    band = (
        F.when(F.col("value") >= 100, F.lit("HIGH"))
        .when(F.col("value") >= 10, F.lit("MID"))
        .otherwise(F.lit("LOW"))
    )
    return (
        ev.withColumn("value_band", band)
        .cube("event_type", "value_band")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(_money("value")).cast("double").alias("total_value"),
             F.grouping_id().cast("bigint").alias("gid"))
    )


def a_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregates per group (count-distinct expands to a
    two-phase agg in Spark: dedup shuffle then count — exact, unlike
    approx_count_distinct which trades 2% error for one pass)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(F.countDistinct("c_nationkey").alias("n_nations"),
             F.count(F.lit(1)).alias("n_customers"),
             (F.sum(_money("c_acctbal")).cast("double") / F.count(F.lit(1)))
             .alias("avg_acctbal"))
    )


def a_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` —
    the exact sort-based one, not approx_percentile; rounded to cents
    so cross-engine interpolation float jitter can't leak into the
    hash). At 100 TB you'd switch to approx_percentile and accept the
    documented error bound; the exact form is the correctness anchor."""
    o = load_table(spark, sf_dir, "orders")
    v = _money("o_totalprice").cast("double")
    return (
        o.groupBy("o_orderstatus")
        .agg(F.round(F.percentile(v, 0.5), 2).alias("p50"),
             F.round(F.percentile(v, 0.9), 2).alias("p90"),
             F.count(F.lit(1)).alias("n_orders"))
    )


def a_grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the engine's SQL interface — the
    same Catalyst plan the DataFrame rollup/cube queries get, declared
    in SQL (the engine exposes both APIs over one optimizer).

    The two sets here ((status), (priority)) are NOT a rollup — they're
    the 'independent dimension totals' shape that only GROUPING SETS
    expresses.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM v_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """)


def w_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window suite: row_number / rank / dense_rank / ntile /
    lead in one pass (SURVEY §2.5 — the reference only uses ROW_NUMBER;
    the engine exposes the full surface).

    rank/dense_rank run over the date alone so ties genuinely tie
    (deterministic by SQL semantics); ntile/lead use the fully
    deterministic (date, key) order.

    Scale: one shuffle on o_custkey serves all five functions — Catalyst
    collapses same-partitioning windows into one exchange.
    """
    o = load_table(spark, sf_dir, "orders")
    det = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    tie = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc())
    return o.select(
        "o_custkey", "o_orderkey",
        F.row_number().over(det).alias("rn"),
        F.rank().over(tie).alias("rk"),
        F.dense_rank().over(tie).alias("drk"),
        F.ntile(4).over(det).alias("quartile"),
        F.lead("o_orderkey").over(det).alias("next_orderkey"),
    )


def f_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function suite (beyond the reference's TO_DATE/SYSDATE
    — SURVEY §2.7 F7/F8): truncation, field extraction, date diff and
    interval arithmetic. Pure projection, no shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("date").cast("string").alias("order_month"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.quarter("o_orderdate").cast("int").alias("order_quarter"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).cast("int").alias("days_since_1995"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).cast("string").alias("due_date"),
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("dow_sun0"),
    )


def f_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/regex function suite over part names (SURVEY §2.7 note:
    the reference has no regex at all; the engine exposes the standard
    surface). Pure projection — codegen, no shuffle."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.size(F.split("p_name", " ")).alias("n_words"),
        F.regexp_extract("p_brand", r"(\d+)", 1).try_cast("int").alias("brand_num"),
        F.concat_ws("-", F.upper("p_type"),
                    F.lpad(F.col("p_size").cast("string"), 2, "0")).alias("type_size"),
        F.length("p_name").alias("name_len"),
    )


def n_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON extraction + aggregation (the batch twin of
    the tree-source flattening, SURVEY §2.8): pull props.k out of the
    JSON string, bucket it, aggregate per bucket.

    Scale: get_json_object is a codegen'd path expression — no UDF; the
    agg shuffles only the 10 bucket rows after map-side partials.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.withColumn("k_bucket", (k % 10).cast("bigint"))
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(k).alias("sum_k"),
             F.sum(_money("value")).cast("double").alias("total_value"))
    )


def t_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (12 h windows every 6 h) — each event
    belongs to 2 overlapping windows, materialized map-side by exploding
    the window-start array (exactly how Spark's window() expands sliding
    windows internally; spelled out so the SQL oracle can mirror it).

    Scale: fan-out factor == overlap (2), then partial aggs; shuffle
    carries O(windows × types) rows.
    """
    ev = load_table(spark, sf_dir, "events")
    b = (F.floor(F.unix_timestamp("ts") / 21600) * 21600).cast("bigint")
    return (
        ev.withColumn("window_start", F.explode(F.array(b, b - 21600)))
        .groupBy("window_start", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(_money("value")).cast("double").alias("total_value"))
    )


def j_asof_latest_event_before_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (range join + argmax): for each error event, the same
    user's latest click at-or-before it. The reference has nothing
    like it (SURVEY §2.4 'not present' list) — it's the canonical
    time-series enrichment operator ("what was the state when X
    happened"), here answering "what did the user last click before
    erroring".

    Implementation: range-condition join then per-order row_number — at
    scale, pre-bucket both sides by the user key and sort within
    buckets so the join is shuffle-free, and the window is per-order
    (no global sort). Ties on ts break by event_id for determinism.
    """
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"),
        F.col("ts").alias("err_ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("asof_event_id"),
        F.col("ts").alias("asof_ts"))
    joined = errors.join(
        clicks,
        (errors.user_id == clicks.c_user) & (F.col("asof_ts") <= F.col("err_ts")),
        "inner",
    )
    w = Window.partitionBy("err_id").orderBy(
        F.col("asof_ts").desc(), F.col("asof_event_id").desc())
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "err_id", "err_ts", "asof_event_id", "asof_ts")
    )


def t5_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over events (SURVEY §2.9 T5):
    6-hour buckets per event_type. Bucketing via epoch arithmetic
    (identical in any SQL engine) rather than Spark's window() struct
    so the oracle matches.

    Scale: partial agg per (bucket,type) then one small shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.floor(F.unix_timestamp("ts") / 21600) * 21600).cast("bigint")
    return (
        ev.groupBy(bucket.alias("bucket_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_money("value")).cast("double").alias("total_value"),
            F.count(F.when(F.col("value") > 50, 1)).alias("n_high"),
        )
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def a_pivot_price_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order totals cross-tabbed status x priority (SURVEY §2.3
    extension — the reference has no reshaping at all; pivot is the
    standard reporting reshape the engine must expose).

    Scale: the pivot value list is EXPLICIT — with it, Catalyst plans a
    single partial-agg pass (one shuffle on the groupBy key, 5 agg
    columns); without it Spark first runs a whole extra job just to
    collect the distinct values. Decimal-exact sums, final double.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.sum(_money("o_totalprice")).cast("double"))
    )


def o_unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide part metrics to long (metric, value) rows —
    the inverse reshape, needed to feed generic per-metric pipelines
    (profilers, drift monitors) without per-column code.

    Scale: narrow 1:k row fan-out, no shuffle; stays in codegen.
    """
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
        F.col("p_size").cast("double").alias("p_size"),
    ).unpivot(
        ids=["p_partkey"],
        values=["p_retailprice", "p_size"],
        variableColumnName="metric",
        valueColumnName="value",
    )


def j_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded interval join: per order, count/sum the same customer's
    follow-up orders within the next 90 days (SURVEY §2.4 note — range
    joins are absent from the reference; this is the scale-safe form).

    Scale: time is folded into the equi key (custkey, 90-day bucket),
    so this is a plain shuffled equi-join with constant (2x) left
    fan-out instead of a per-customer nested loop — see
    operators/interval_join.py.
    """
    from dht11_data_pipeline_spark.operators.interval_join import (
        interval_join_aggregate)
    o = load_table(spark, sf_dir, "orders")
    return interval_join_aggregate(
        o.select("o_custkey", "o_orderkey", "o_orderdate"),
        o.select("o_custkey", "o_orderdate", "o_totalprice"),
        key="o_custkey", left_date="o_orderdate", right_date="o_orderdate",
        gap_days=90,
        aggs=[
            F.count(F.lit(1)).alias("n_followups"),
            F.sum(_money("o_totalprice")).cast("double").alias("followup_total"),
        ],
        left_id="o_orderkey",
    )


def a_approx_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality at 100 TB: Datasketches HLL per group, alongside the
    exact count the oracle can't see. Sketches are MERGEABLE — partial
    sketches combine across partitions/days without rescanning, which
    is the entire point at scale (exact COUNT DISTINCT re-shuffles raw
    keys; the sketch shuffle is O(groups), constant per group).

    Sketch estimates aren't portable across engines, so the query
    surfaces them as DETERMINISTIC bound verdicts instead of raw values:
    the exact count plus booleans asserting each sketch lands within its
    error bound (HLL ≤2% rel. err, HLL++ ≤10%; both hold with ≥5×
    margin on every fixture SF). The DuckDB oracle checks the exact
    count and TRUE literals — an exact hash-compare of the invariant.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_exact"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id")).alias("_hll"),
        F.approx_count_distinct("user_id").alias("_approx"),
    )

    def within(est: Column, bound: float) -> Column:
        return (F.abs(est - F.col("n_users_exact"))
                <= F.lit(bound) * F.col("n_users_exact"))

    return agg.select(
        "event_type", "n_users_exact",
        within(F.col("_hll"), 0.02).alias("hll_within_2pct"),
        within(F.col("_approx"), 0.10).alias("approx_within_10pct"),
    )


def w_range_frame_rolling_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per customer, total/count of orders in the
    trailing 30 days (event-time range, not row count) plus the
    customer's first-ever order via first_value. Completes the frame
    surface next to w_rank_suite (rows frames) and w_running_user_value
    (unbounded rows).

    Scale: both windows share one shuffle on o_custkey (same
    partitioning); the range frame is evaluated with a sliding
    pointer over the sorted partition — O(rows), no re-scan per row.
    """
    o = load_table(spark, sf_dir, "orders")
    ts = F.unix_timestamp("o_orderdate")
    spend = (Window.partitionBy("o_custkey").orderBy(ts)
             .rangeBetween(-30 * 86400, Window.currentRow))
    first = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum(_money("o_totalprice")).over(spend).cast("double").alias("spend_30d"),
        F.count(F.lit(1)).over(spend).alias("n_orders_30d"),
        F.first_value(_money("o_totalprice")).over(first).cast("double")
        .alias("first_order_price"),
    )


def o_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT top-k (SURVEY §2.6 O2 — the reference
    only has fetchone probes; this is the real top-k surface).

    Scale: Spark plans this as TakeOrderedAndProject — each partition
    keeps its local top-k heap and only k rows per partition reach the
    driver-side merge; there is NO global sort and NO full shuffle, so
    it scales to any input size. Ties broken by orderkey for
    determinism.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey",
                 _money("o_totalprice").cast("double").alias("total_price"))
        .orderBy(F.col("total_price").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def a_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation at scale: approx_percentile (Greenwald-
    Khanna sketch) next to the exact percentile the oracle can't see —
    the partner of a_approx_distinct_sketch in the sketch family.

    Scale: the GK sketch is mergeable — partial sketches combine across
    partitions, so the shuffle carries O(1/eps) summaries per group
    instead of the raw values an exact percentile needs.

    Sketch values aren't portable across engines (and GK merge order
    varies with partitioning), so the query surfaces the exact
    percentiles (rounded to cents) plus DETERMINISTIC rank-bound
    verdicts: each GK estimate must lie between the exact percentiles
    at p±0.01 — a 100× relaxation of the sketch's eps=1e-4 rank
    guarantee, so the booleans are stable under any partitioning. The
    DuckDB oracle checks the exact percentiles and TRUE literals.
    """
    ev = load_table(spark, sf_dir, "events")
    pcts = [0.5, 0.9, 0.99]
    agg = ev.groupBy("event_type").agg(
        *[F.round(F.expr(f"percentile(value, {p})"), 2)
          .alias(f"p{int(p * 100)}_exact") for p in pcts],
        *[F.expr(f"percentile(value, {max(p - 0.01, 0.0)})")
          .alias(f"_lo{int(p * 100)}") for p in pcts],
        *[F.expr(f"percentile(value, {min(p + 0.01, 1.0)})")
          .alias(f"_hi{int(p * 100)}") for p in pcts],
        *[F.expr(f"approx_percentile(value, {p}, 10000)")
          .alias(f"_gk{int(p * 100)}") for p in pcts],
    )
    return agg.select(
        "event_type", "p50_exact", "p90_exact", "p99_exact",
        *[(F.col(f"_gk{n}").between(F.col(f"_lo{n}"), F.col(f"_hi{n}")))
          .alias(f"p{n}_in_rank_bound") for n in (50, 90, 99)],
    )


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers whose single orders exceed a quantity
    threshold — GROUP BY + HAVING feeding a semi-join back into the
    fact tables (the HAVING surface the other aggregates don't cover).

    Scale: the HAVING aggregate runs first (partial agg on l_orderkey,
    ~1 row out per qualifying order) and the qualifying-key set —
    tiny by construction — broadcasts into the orders join; lineitem
    is never shuffled twice.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_money("l_quantity")).alias("_sum_qty"))
        .filter(F.col("_sum_qty") > 300)  # HAVING
        .select("l_orderkey", F.col("_sum_qty").cast("double").alias("total_qty"))
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey",
                F.col("o_orderdate").alias("orderdate"),
                _money("o_totalprice").cast("double").alias("totalprice"),
                "total_qty")
    )


def n_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4's VARIANT type: parse once,
    typed path extraction (try_variant_get) — the engine-native
    evolution of get_json_object string probing (SURVEY §2.8 N1-N3's
    modern form). try_* semantics: malformed JSON or a missing path
    yields null, never an error — ingestion-safe on dirty data.

    Scale: narrow projection; VARIANT stores a parsed binary encoding,
    so repeated path reads don't re-parse the JSON text.
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "int").alias("k_int"),
        F.try_variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.missing", "int").alias("missing_field"),
    )


def f_higher_order_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: transform / filter / aggregate /
    sort_array over tokenized part names (SURVEY §1.2 note — the
    reference has no array types; the engine exposes the full lambda
    surface the LLM-pipeline operators are built from).

    Scale: HOFs are interpreted, not codegen'd (Spark evaluates
    lambda expressions per-row outside WholeStageCodegen, see
    HigherOrderFunction in Spark's catalyst expressions) — the
    token array is materialized
    once in a prior projection so lambdas never re-evaluate split();
    fine here because arrays are word-lists (tiny), and the op stays
    narrow (no shuffle, columnar scan of one string column).
    """
    p = load_table(spark, sf_dir, "part")
    toks = p.select("p_partkey", F.sort_array(F.split("p_name", " ")).alias("tokens"))
    return toks.select(
        "p_partkey",
        F.concat_ws(",", F.transform("tokens", lambda x: F.upper(x))).alias("upper_csv"),
        F.size(F.filter("tokens", lambda x: F.length(x) > 4)).alias("n_long_tokens"),
        F.aggregate("tokens", F.lit(0), lambda acc, x: acc + F.length(x)).alias("char_total"),
        F.element_at("tokens", 1).alias("first_token"),
    )


def ts_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap-fill: regularize each user's event
    stream onto a daily grid spanning their active range, forward-
    filling days with no events from the last observed day (classic
    sensor-pipeline densification — exactly what the reference's DHT11
    readings need when a device drops offline, cf. the epoch-sentinel
    handling at STG_Firebase2Oracle.py:57).

    Plan: daily aggregate → per-user [min,max] day → sequence() +
    explode builds the grid (no driver loop, no cross join against a
    calendar table) → left join observations → last(ignorenulls) over
    an unbounded-preceding window forward-fills.

    Scale: the grid explode is bounded (days-per-user, not events-per-
    user) and partition-local; the forward-fill window shuffles once on
    user_id — same exchange the daily aggregate already created, so
    Catalyst reuses the partitioning. Grid rows ≈ users × span-days,
    independent of event volume — at 100 TB of events the grid is
    still tiny next to the input.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).alias("day_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    spans = daily.groupBy("user_id").agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left_outer")
        .select(
            "user_id",
            F.col("day").cast("date").cast("string").alias("day"),
            F.last("day_value", ignorenulls=True).over(w).cast("double").alias("filled_value"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.when(F.col("day_value").isNull(), 1).otherwise(0).cast("int").alias("is_gap"),
        )
    )


def a_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized rollup (operators/rollup):
    three successive batches (event_id mod 3 — stand-ins for load_key
    increments, STG_to_INT.py:16-20 semantics) merged into a
    (day, event_type) aggregate table WITHOUT ever rescanning earlier
    batches. The oracle is the full-recompute GROUP BY — the diff
    proves merge(partials) == recompute, the property that makes
    continuous aggregates safe at 100 TB.

    The HLL users sketch rides along through the merges (asserted
    against exact distincts in tests/test_rollup.py) but is dropped
    here because an approximate estimate has no exact SQL oracle.
    """
    from dht11_data_pipeline_spark.operators import rollup as R

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date").cast("string")
    )
    keys = ["day", "event_type"]
    state = R.rollup_batch(ev.filter(F.col("event_id") % 3 == 0), keys)
    for i in (1, 2):
        state = R.merge_rollups(state, R.rollup_batch(ev.filter(F.col("event_id") % 3 == i), keys), keys)
    return R.read_rollup(state).drop("approx_users")


def a_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent-items (heavy hitters): users producing more than
    0.8% of all events, with count and share. The share threshold is
    cross-multiplied (cnt*1000 > total*8) so both engines compare
    integers.

    Scale: one shuffle on user_id with map-side partial counts; the
    global total is an empty-partition window SUM over the per-user
    frame — a single-partition pass over user-cardinality rows (GBs)
    instead of a second scan of the event fact (the 100 TB input is
    read exactly once; an agg-and-crossJoin total would recompute the
    scan lineage). The approximate companion (df.stat.freqItems,
    Karp-style) is asserted a superset of this exact answer in
    tests/test_formats_and_stats.py — sketch for the 100 TB first
    pass, exact re-count only over its candidates.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    with_total = per_user.withColumn("total", F.sum("cnt").over(Window.partitionBy()))
    return (
        with_total
        .filter(F.col("cnt") * 1000 > F.col("total") * 8)
        .select("user_id", "cnt", (F.col("cnt") / F.col("total")).alias("share"))
    )


def o_union_evolved_schemas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift union: two generations of the orders feed — v1
    lacks o_orderpriority, v2 adds an o_channel column — combined with
    unionByName(allowMissingColumns=True), the engine-native answer to
    the reference's metadata-driven column discovery tolerating drift
    (SURVEY §7.4.6: added columns must widen, not break).

    Scale: union is a zero-shuffle plan concatenation; the null-fill is
    a constant projection per branch. The same mechanics back the
    parquet mergeSchema read path (tests/test_formats_and_stats.py).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).drop("o_orderpriority")
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).withColumn("o_channel", F.lit("web"))
    return v1.unionByName(v2, allowMissingColumns=True)


def j_nullsafe_snapshot_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): two order
    snapshots matched on a NULLABLE grouping column, where NULL must
    equal NULL — the semantics SCD2 natural-key matching relies on
    (operators/scd2.py eqNullSafe; plain '=' would silently drop every
    null-keyed entity from delta detection and re-insert it forever).

    Scale: null-safe equality is still hash-joinable (null hashes to a
    bucket like any value) — one shuffle per side, no nested loop; but
    a heavily-null key concentrates in one partition (the documented
    skew caveat — salt or pre-split nulls at 100 TB).
    """
    o = load_table(spark, sf_dir, "orders")
    nullable = F.when(F.col("o_orderkey") % 11 == 0, F.lit(None)).otherwise(
        F.col("o_orderpriority"))
    a = o.filter(F.col("o_orderkey") % 2 == 1).select(
        nullable.alias("grp"), F.col("o_totalprice").alias("price_a"))
    b = o.filter(F.col("o_orderkey") % 2 == 0).select(
        nullable.alias("grp"), F.col("o_totalprice").alias("price_b"))
    a_g = a.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_a"),
        F.sum(F.col("price_a").cast("decimal(18,2)")).alias("sum_a"))
    b_g = b.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_b"),
        F.sum(F.col("price_b").cast("decimal(18,2)")).alias("sum_b"))
    return (
        a_g.join(b_g, a_g["grp"].eqNullSafe(b_g["grp"]), "inner")
        .select(a_g["grp"].alias("grp"), "n_a", "n_b",
                F.col("sum_a").cast("double").alias("sum_a"),
                F.col("sum_b").cast("double").alias("sum_b"))
    )


def a_rollup_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view routing (operators/mv_router): an
    event_type-grain aggregate answered by RE-REDUCING the
    (day, event_type) rollup — coarser grain derived from monoid
    partials, the fact never rescanned. The oracle is the direct
    GROUP BY over events: routed == fact, proven by hash.

    Scale: the routed input is rollup rows (grain-sized); the fact
    feeds this query only through the incremental rollup build, once
    per batch. Dashboards hitting this path read GBs, not the lake.
    """
    from dht11_data_pipeline_spark.operators import rollup as R
    from dht11_data_pipeline_spark.operators.mv_router import route

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date").cast("string")
    )
    keys = ["day", "event_type"]
    state = R.rollup_batch(ev.filter(F.col("event_id") % 3 == 0), keys)
    for i in (1, 2):
        state = R.merge_rollups(state, R.rollup_batch(ev.filter(F.col("event_id") % 3 == i), keys), keys)
    routed = route(state, keys, ["event_type"], {
        "n_events": "count_rows",
        "total_value": "sum_value",
        "min_value": "min_value",
        "max_value": "max_value",
        "avg_value": "avg_value",
    })
    assert routed is not None
    return routed


def p_inactive_devices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline detection — the reference's own domain (a DHT11 device
    that stops reporting): users whose LAST event is more than 7 days
    before the feed's high-water mark, with their silence duration.
    Argmax-per-key (reference A1) + global high-water (A2) composed
    into a monitoring query.

    Scale: one shuffle on user_id for the per-user max; the global
    max is an empty-partition window over the user-grain frame (fact
    scanned once, cf. the q11/q15 decorrelation note).
    """
    ev = load_table(spark, sf_dir, "events")
    last_seen = ev.groupBy("user_id").agg(F.max("ts").alias("last_ts"))
    w = Window.partitionBy()
    return (
        last_seen.withColumn("high_water", F.max("last_ts").over(w))
        .filter(F.col("last_ts") < F.col("high_water") - F.expr("INTERVAL 7 DAYS"))
        .select(
            "user_id",
            F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
            ((F.unix_micros(F.col("high_water").cast("timestamp"))
              - F.unix_micros(F.col("last_ts").cast("timestamp")))
             / F.lit(86_400_000_000.0)).alias("days_silent"),
        )
    )


# ------------------------------------------------- temporal / audit extensions

_ASOF_TS = "1996-06-01 00:00:00"
_SCD2_SENTINEL = "3000-01-01 00:00:00"


def _order_version_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive an SCD2-style validity chain from the orders fixture:
    each customer's orders, ordered by (o_orderdate, o_orderkey), are
    treated as successive versions of that customer's "current order"
    entity. valid_from = o_orderdate, valid_to = next version's date
    (reference sentinel 3000-01-01 for the open row —
    Delta_detection_query_gen.py:291)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.col("o_orderdate").alias("valid_from"),
        F.coalesce(
            F.lead("o_orderdate").over(w),
            F.lit(_SCD2_SENTINEL).cast("timestamp"),
        ).alias("valid_to"),
    )


def scd2_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal AS-OF query over a versioned SCD2 chain: reconstruct
    the state of every entity exactly as it was at time T — the query a
    user of the reference's HIST_DHT11_DATA table runs for time travel
    (``valid_from <= T < valid_to``, Delta_detection_query_gen.py:287-296).
    The chain is derived deterministically from orders (see
    _order_version_chain) so DuckDB can verify.

    Scale: one shuffle on the entity key for the lead() window; on a
    stored history table this is a pure scan with the AS-OF predicate
    pushed to parquet (valid_from/valid_to are min-max indexed), no
    shuffle at all. Zero-length intervals (two versions with the same
    timestamp) can never satisfy the half-open predicate — the
    superseded same-instant version is correctly invisible.
    """
    asof = F.lit(_ASOF_TS).cast("timestamp")
    return (
        _order_version_chain(spark, sf_dir)
        .filter((F.col("valid_from") <= asof) & (asof < F.col("valid_to")))
        .select(
            "o_custkey", "o_orderkey", "o_totalprice",
            F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
            F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        )
    )


def scd2_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed derivation: turn a versioned chain back into a
    stream of I/U/NC change events (the inverse of the reference's
    delta detection — same codes, Delta_detection_query_gen.py:53-57).
    Each version row is classified against its predecessor: first
    version per key = 'I', value changed = 'U', value identical = 'NC';
    the price delta rides along (exact: 2-decimal doubles subtract
    exactly in IEEE754 at this magnitude).

    Scale: single shuffle on the entity key; both lag() columns share
    one window frame so the sort happens once.
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_price = F.lag("o_totalprice").over(w)
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("change_ts"),
        F.when(prev_price.isNull(), "I")
         .when(prev_price != F.col("o_totalprice"), "U")
         .otherwise("NC").alias("change_type"),
        "o_totalprice",
        prev_price.alias("prev_price"),
        (_money("o_totalprice") - _money(prev_price)).cast("double").alias("price_delta"),
    )


def meta_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality / constraint audit: referential integrity (FK
    orphans), primary-key uniqueness, domain and null checks — the
    engine-side generalization of the reference's runtime self-checks
    (schema gate Delta_detection_query_gen.py:312-316, existence probes
    :32-33). One summary row per check: (check_name, violations,
    rows_scanned, pass 'Y'/'N').

    Scale: all checks against one table ride a single scan (one
    multi-aggregate pass); each FK check is one shuffle join on the key
    — the joined side projected to the key column only, so the shuffle
    carries 8 bytes/row. PK uniqueness is COUNT(*) - COUNT(DISTINCT)
    (two-phase partial agg, no self-join).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    # lineitem pass: FK to orders + domain checks in one joined scan
    li_joined = li.select("l_orderkey", "l_discount", "l_shipdate").join(
        o.select(F.col("o_orderkey").alias("_ok")).distinct(),
        F.col("l_orderkey") == F.col("_ok"), "left",
    )
    li_agg = li_joined.agg(
        F.sum(F.when(F.col("_ok").isNull(), 1).otherwise(0)).alias("fk_orphans"),
        F.sum(F.when(~F.col("l_discount").between(0.0, 1.0), 1).otherwise(0)).alias("domain_discount"),
        F.sum(F.when(F.col("l_shipdate").isNull(), 1).otherwise(0)).alias("null_shipdate"),
        F.count(F.lit(1)).alias("n"),
    ).select(F.expr(
        "stack(3, 'lineitem_fk_orderkey', fk_orphans,"
        " 'lineitem_discount_domain', domain_discount,"
        " 'lineitem_shipdate_not_null', null_shipdate) AS (check_name, violations)"
    ), F.col("n").alias("rows_scanned"))

    # orders pass: FK to customer + PK uniqueness
    o_joined = o.select("o_orderkey", "o_custkey").join(
        c.select(F.col("c_custkey").alias("_ck")),
        F.col("o_custkey") == F.col("_ck"), "left",
    )
    o_agg = o_joined.agg(
        F.sum(F.when(F.col("_ck").isNull(), 1).otherwise(0)).alias("fk_orphans"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("pk_dups"),
        F.count(F.lit(1)).alias("n"),
    ).select(F.expr(
        "stack(2, 'orders_fk_custkey', fk_orphans,"
        " 'orders_pk_unique', pk_dups) AS (check_name, violations)"
    ), F.col("n").alias("rows_scanned"))

    # customer pass: null check
    c_agg = c.agg(
        F.sum(F.when(F.col("c_acctbal").isNull(), 1).otherwise(0)).alias("nulls"),
        F.count(F.lit(1)).alias("n"),
    ).select(F.expr(
        "stack(1, 'customer_acctbal_not_null', nulls) AS (check_name, violations)"
    ), F.col("n").alias("rows_scanned"))

    return (
        li_agg.unionByName(o_agg).unionByName(c_agg)
        .select(
            "check_name",
            F.col("violations").cast("bigint").alias("violations"),
            "rows_scanned",
            F.when(F.col("violations") == 0, "Y").otherwise("N").alias("pass"),
        )
    )


def scd2_interval_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (interval-overlap) join — the third leg of the temporal
    algebra next to AS-OF and the change feed: align two versioned
    chains of the same entity on the periods where their validity
    intervals overlap (half-open semantics, so touching intervals do
    NOT match). Chains derive deterministically from orders: per
    customer, even o_orderkey rows form chain A, odd rows chain B.

    Scale: an equi-join on the entity key with a residual range
    predicate — the join fans out only within a key's own versions
    (chain length, not table size). For band-limited intervals across
    DIFFERENT keys, operators/interval_join.py folds time into the
    equi key; here the entity key already bounds the pairs.
    """
    def chain(parity: int):
        w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        return (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") % 2 == parity)
            .select(
                "o_custkey", "o_orderkey",
                F.col("o_orderdate").alias("valid_from"),
                F.coalesce(F.lead("o_orderdate").over(w),
                           F.lit(_SCD2_SENTINEL).cast("timestamp")).alias("valid_to"),
            )
        )

    a = chain(0).select(
        "o_custkey", F.col("o_orderkey").alias("a_orderkey"),
        F.col("valid_from").alias("a_from"), F.col("valid_to").alias("a_to"))
    b = chain(1).select(
        "o_custkey", F.col("o_orderkey").alias("b_orderkey"),
        F.col("valid_from").alias("b_from"), F.col("valid_to").alias("b_to"))
    joined = a.join(b, "o_custkey").filter(
        (F.col("a_from") < F.col("b_to")) & (F.col("b_from") < F.col("a_to")))
    return joined.select(
        "o_custkey", "a_orderkey", "b_orderkey",
        F.date_format(F.greatest("a_from", "b_from"),
                      "yyyy-MM-dd HH:mm:ss").alias("overlap_from"),
        F.date_format(F.least("a_to", "b_to"),
                      "yyyy-MM-dd HH:mm:ss").alias("overlap_to"),
    )


def a_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most-frequent value) per group, deterministic: each
    user's most frequent event_type, ties broken lexicographically —
    the count-then-rank decomposition engines use under the hood for
    MODE() while keeping tie behavior explicit (SQL's MODE leaves it
    implementation-defined, which would break the differential hash).

    Scale: partial-agg reduction to (user, type) grain first — the
    rank window runs over ≤ |event_type| rows per user, never the raw
    fact.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), "event_type")
    return (counts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("user_id", F.col("event_type").alias("mode_event_type"),
                    F.col("n").alias("n_occurrences")))


def f_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function surface: AND/OR/XOR, shifts, bit_count — the
    primitives the SimHash/pigeonhole operators build on (operators/
    dedup.simhash_near_duplicates), verified directly."""
    o = load_table(spark, sf_dir, "orders")
    a = F.col("o_orderkey")
    b = F.col("o_custkey")
    return o.select(
        "o_orderkey",
        a.bitwiseAND(b).alias("b_and"),
        a.bitwiseOR(b).alias("b_or"),
        a.bitwiseXOR(b).alias("b_xor"),
        F.shiftleft(a, 3).alias("b_shl"),
        F.shiftright(a, 2).alias("b_shr"),
        F.bit_count(a).alias("b_pop"),
    )


def w_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (last-observation-carried-forward) via
    last_value(... IGNORE NULLS) over an ordered frame — the gap-repair
    idiom for sensor feeds with dropped readings (the reference's
    'N/A' defaulting leaves holes; this repairs them from history).
    Nulls are injected deterministically (event_id % 5 == 0) so both
    engines fill the identical holes.

    Scale: one shuffle on user_id; the running frame is the same
    cumulative shape as w_running_user_value — no extra pass for the
    fill.
    """
    ev = load_table(spark, sf_dir, "events")
    with_holes = ev.select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("double"))
         .otherwise(F.col("value")).alias("v"),
    )
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    return with_holes.select(
        "event_id", "user_id",
        F.date_format(F.col("ts").cast("timestamp"),
                      "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "v",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
    )
