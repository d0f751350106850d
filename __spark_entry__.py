"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the reference's crown-jewel
SCD2 hash-delta full-outer-join classification) on sf0.001.
``queries()`` maps every implemented SURVEY.md §2 operator (and the
LLM-pipeline extensions) to a (spark, sf_dir) -> DataFrame callable;
``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL per key.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dht11_data_pipeline_spark.plans import queries as Q
from dht11_data_pipeline_spark.plans import tpch_queries as T
from dht11_data_pipeline_spark.plans.ext_oracles import EXT_ORACLES
from dht11_data_pipeline_spark.plans.ext_queries import EXT_QUERIES
from dht11_data_pipeline_spark.plans.oracles import ORACLES
from dht11_data_pipeline_spark.plans.tpch_oracles import TPCH_ORACLES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: hash-based SCD2 delta detection (SURVEY §2.4 J2)."""
    return Q.j2_scd2_delta_classify(spark, "/root/testdata/sf0.001")


# Keys whose implementation (or oracle) materially changed this round.
# They are slotted into the verify window right after the unverified
# keys, so the driver re-checks them.  Purely additive hint — the
# unverified-first guarantee below is computed, not hand-kept.  Keep
# this list limited to keys whose code or oracle actually changed in
# the round's diff (round-5 verdict item 3).
CHANGED_THIS_ROUND: list[str] = [
    # --- BPE merges kept on the driver (bpe_encode / bpe_fertility) ---
    "text_bpe_vocab",
    "text_bpe_encode",
    "text_bpe_fertility",
    "cur_bpe_pack",
    "cur_epoch_plan_fertility",
    # --- wedge kernel dispatched on the edge type, edges deduplicated ---
    "graph_adamic_adar",
    "graph_link_prediction",
    # --- right_size returns an input with an exchange unchanged ---
    "dedup_minhash_lsh",
    "dedup_cascade",
    "dedup_clusters",
    "dedup_incremental",
    "cur_end_to_end",
    "cur_survivorship",
    "mm_cross_modal_audit",
]


def _driver_green_keys(dirpath: str | None = None) -> set[str]:
    """Keys whose LATEST driver CORRECTNESS row is fully green.

    Green = rows + schema + value-hash all matched.  Parsed from the
    ``CORRECTNESS_r*.json`` files next to this module so the
    verify-window ordering below is mechanical, not hand-maintained
    (round-4 verdict item 1: the hand-edited list missed rotation
    twice).  Later rounds override earlier ones per key, so a key that
    regresses after once being green drops back out of the green set
    and mechanically re-enters the priority window (round-5 ADVICE).

    Deliberate decision (round-5 ADVICE): the glob reads every
    CORRECTNESS file on disk, committed or not.  The driver writes the
    round's snapshot at round end, after the window was consumed, so
    the window cannot shift mid-round in practice — and if a snapshot
    does appear early, newest driver evidence wins, which only rotates
    already-verified keys out in favor of unverified ones.
    """
    here = dirpath or os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, bool] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(rows, dict):
            continue
        for key, row in rows.items():
            if not isinstance(row, dict):
                continue
            latest[key] = bool(row.get("rows_match") and row.get("schema_match")
                               and row.get("hash_match"))
    return {k for k, ok in latest.items() if ok}


def _latest_round_per_key(dirpath: str | None = None) -> dict[str, int]:
    """Round number of each key's most recent driver CORRECTNESS row
    (green or red) — the staleness signal the window rotation sorts
    stable keys by.  Keys never checked are absent."""
    here = dirpath or os.path.dirname(os.path.abspath(__file__))
    seen: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(rows, dict):
            continue
        for key in rows:
            seen[key] = max(rnd, seen.get(key, 0))
    return seen


def verify_window(registered: list[str], size: int = 50,
                  last_seen: dict[str, int] | None = None,
                  green: set[str] | None = None) -> list[str]:
    """Compute the first-``size`` verify window mechanically.

    The external harness diff-checks only the first ``size`` keys of
    ``queries()`` per round.  Ordering: (1) keys whose latest driver
    CORRECTNESS row is missing or red, in registration order; (2) keys
    listed in ``CHANGED_THIS_ROUND`` (restricted to registered keys, so
    a stale/renamed entry cannot crash ``queries()``); (3) stable keys
    padding the window OLDEST DRIVER EVIDENCE FIRST (then registration
    order as the tie-break).  (3) is what makes the window a ROTATION:
    with a fixed registration-order pad, the same ~45 stable keys were
    re-verified every round and the long tail never was (round-10
    verdict found keys whose only driver row was round 1) — sorting by
    the last round each key was checked guarantees every stable key
    re-enters the window within ceil(n_keys/size)+1 rounds (pinned by
    tests/test_verify_window.py::test_rotation_bounds_staleness).  A
    stable key can only occupy a window slot when no unverified key is
    left outside it (also pinned).

    ``last_seen``/``green`` are injection seams for the rotation
    simulation test; the driver path always reads the committed
    CORRECTNESS files.
    """
    if green is None:
        green = _driver_green_keys()
    if last_seen is None:
        last_seen = _latest_round_per_key()
    reg = set(registered)
    never = [k for k in registered if k not in green]
    changed = [k for k in CHANGED_THIS_ROUND
               if k in reg and k in green and k not in never]
    ordered = never + changed
    pos = {k: i for i, k in enumerate(registered)}
    stable = sorted((k for k in registered if k not in ordered),
                    key=lambda k: (last_seen.get(k, 0), pos[k]))
    return (ordered + stable)[:size]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    rest = {
        "n_props_extract": Q.n_props_extract,
        "a_approx_distinct_sketch": Q.a_approx_distinct_sketch,
        "a_quantile_sketch": Q.a_quantile_sketch,
        "f_bitwise_suite": Q.f_bitwise_suite,
        "w_fill_forward": Q.w_fill_forward,
        **EXT_QUERIES,
        "q12_late_ship_priority_mix": T.q12_late_ship_priority_mix,
        "q16_supplier_part_counts": T.q16_supplier_part_counts,
        "q2_min_cost_supplier": T.q2_min_cost_supplier,
        "q4_priority_with_late_ship": T.q4_priority_with_late_ship,
        "q6_forecast_revenue": T.q6_forecast_revenue,
        "q10_returned_item_customers": T.q10_returned_item_customers,
        "q7_bination_volume": T.q7_bination_volume,
        "q8_market_share": T.q8_market_share,
        "q9_profit_by_nation_year": T.q9_profit_by_nation_year,
        "q11_important_part_values": T.q11_important_part_values,
        "q13_customer_order_distribution": T.q13_customer_order_distribution,
        "q14_promo_revenue_share": T.q14_promo_revenue_share,
        "q15_top_revenue_supplier": T.q15_top_revenue_supplier,
        "q17_small_quantity_revenue": T.q17_small_quantity_revenue,
        "q19_disjunctive_revenue": T.q19_disjunctive_revenue,
        "q20_heavy_promo_suppliers": T.q20_heavy_promo_suppliers,
        "q21_sole_late_supplier": T.q21_sole_late_supplier,
        "q22_idle_wealthy_customers": T.q22_idle_wealthy_customers,
        "q1_pricing_summary": Q.q1_pricing_summary,
        "a1_latest_order_per_customer": Q.a1_latest_order_per_customer,
        "a2_high_water_marks": Q.a2_high_water_marks,
        "j1_interface_registration": Q.j1_interface_registration,
        "j6_semi_join_latest": Q.j6_semi_join_latest,
        "j_anti_customers_without_orders": Q.j_anti_customers_without_orders,
        "q3_unshipped_revenue": Q.q3_unshipped_revenue,
        "q5_region_supplier_volume": Q.q5_region_supplier_volume,
        "a_rollup_status_priority": Q.a_rollup_status_priority,
        "a_cube_type_band": Q.a_cube_type_band,
        "a_distinct_counts": Q.a_distinct_counts,
        "a_percentiles": Q.a_percentiles,
        "a_grouping_sets_sql": Q.a_grouping_sets_sql,
        "w_rank_suite": Q.w_rank_suite,
        "f_date_arithmetic": Q.f_date_arithmetic,
        "f_string_suite": Q.f_string_suite,
        "t_sliding_window_agg": Q.t_sliding_window_agg,
        "j_asof_latest_event_before_order": Q.j_asof_latest_event_before_order,
        "j2_scd2_delta_classify": Q.j2_scd2_delta_classify,
        "w1_surrogate_key_mint": Q.w1_surrogate_key_mint,
        "f6_legacy_key_guard": Q.f6_legacy_key_guard,
        "p1_incremental_watermark": Q.p1_incremental_watermark,
        "p_inactive_devices": Q.p_inactive_devices,
        "s10_load_stamp": Q.s10_load_stamp,
        "f_scalar_normalization": Q.f_scalar_normalization,
        "o_set_ops_snapshot_diff": Q.o_set_ops_snapshot_diff,
        "w_running_user_value": Q.w_running_user_value,
        "t5_tumbling_window_agg": Q.t5_tumbling_window_agg,
        "a_pivot_price_by_priority": Q.a_pivot_price_by_priority,
        "o_unpivot_part_metrics": Q.o_unpivot_part_metrics,
        "j_interval_bucketed": Q.j_interval_bucketed,
        "w_range_frame_rolling_spend": Q.w_range_frame_rolling_spend,
        "o_top_revenue_orders": Q.o_top_revenue_orders,
        "q18_large_volume_customers": Q.q18_large_volume_customers,
        "n_props_variant": Q.n_props_variant,
        "a_heavy_hitters": Q.a_heavy_hitters,
        "o_union_evolved_schemas": Q.o_union_evolved_schemas,
        "j_nullsafe_snapshot_match": Q.j_nullsafe_snapshot_match,
        "a_incremental_rollup": Q.a_incremental_rollup,
        "a_rollup_routed": Q.a_rollup_routed,
        "f_higher_order_arrays": Q.f_higher_order_arrays,
        "ts_gap_fill_daily": Q.ts_gap_fill_daily,
        "scd2_asof_snapshot": Q.scd2_asof_snapshot,
        "scd2_change_feed": Q.scd2_change_feed,
        "scd2_interval_align": Q.scd2_interval_align,
        "meta_quality_audit": Q.meta_quality_audit,
        "a_mode_event_type": Q.a_mode_event_type,
    }
    window = verify_window(list(rest))
    return {**{k: rest[k] for k in window},
            **{k: v for k, v in rest.items() if k not in window}}


def oracle_sql() -> dict[str, str]:
    return {**ORACLES, **TPCH_ORACLES, **EXT_ORACLES}
