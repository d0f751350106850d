"""Generate SCALE.md: per-query physical-plan audit (shuffles,
broadcasts, scans with pushdown, Python stages) at the bench scale
factor. Run after changing plans:

    python scale_audit.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")


def audit(sf_dir: str = "/root/testdata/sf0.1") -> str:
    from dht11_data_pipeline_spark.session import get_spark
    import __spark_entry__ as E

    from dht11_data_pipeline_spark.plans.audit import plan_metrics

    from dht11_data_pipeline_spark.plans.audit import physical_plan

    spark = get_spark("scale_audit")
    rows = []
    for name, fn in E.queries().items():
        df = fn(spark, sf_dir)
        m = plan_metrics(df)
        # iterative operators (pagerank, affinity, kmeans) return an
        # eager localCheckpoint: the audited plan is just the
        # checkpoint scan, so their per-round work is invisible here —
        # flag them instead of letting 0s read as "free"
        ckpt = "†" if ("Scan ExistingRDD" in physical_plan(df)
                       and m.scans == 0) else ""
        rows.append((name + ckpt, m.scans, m.pushed_filters, m.shuffles,
                     m.broadcasts, m.python_stages))

    lines = [
        "# SCALE — physical-plan audit per query",
        "",
        f"Generated by `python scale_audit.py {sf_dir}`. Counts from the",
        "pre-AQE executed plan: parquet scans (and how many carry pushed",
        "filters), shuffle exchanges, broadcast exchanges, Python stages.",
        "Shuffles are the scale currency: every count here is a plan the",
        "engine would run at 100 TB with the same shape — broadcasts stay",
        "broadcasts (dim tables), shuffles key on the documented columns.",
        "",
        "| query | scans | pushed-filter scans | shuffles | broadcasts | python stages |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| {} | {} | {} | {} | {} | {} |".format(*r))
    lines.append(
        "\n† result is an eager `localCheckpoint` (iterative operator: "
        "the rounds ran at build time; per-round plan shape is "
        "documented in the operator's docstring and pinned by its "
        "tests, not visible in this audited plan).")
    lines.append(SIZING_NOTES)
    return "\n".join(lines)


# hand-maintained: shuffle-volume arithmetic at the 100 TB design point,
# kept inside the generator so SCALE.md regeneration preserves it
SIZING_NOTES = """
## 100 TB sizing (why these plans hold)

Design point: 100 TB of input ≈ 10^11 lineitem-scale rows or ~10^10
documents (10 KB avg), 1000 executors x 4 cores, ~200 MB target
shuffle-partition size.

- **Relational aggregates (q1, rollup/cube, pivot, windows)**: partial
  aggregation bounds every shuffle at (groups x partitions) rows, so the
  exchange carries MBs regardless of input TBs. Group-key cardinality
  (≤ thousands here) never approaches partition counts where that breaks.
- **Dim joins (q3/q5/q18/j1)**: region/nation/customer-filtered sides stay
  ≤ GBs at 100 TB -> broadcast; the fact table is shuffled at most once
  (or zero times with tables bucketed on the join key). AQE's
  runtime size check demotes broadcast to SMJ automatically if a "dim"
  grows past the threshold.
- **SCD2 delta (j2)**: one full-outer SMJ on the natural key = 2 shuffles
  of (keys + 64-char hash), ~100 B/row -> ~10 TB shuffle for 10^11 rows,
  spread over 10^5 partitions of ~100 MB. The logged apply (txlog)
  rewrites only the key buckets holding changed keys; untouched buckets
  stay in place.
- **MinHash dedup**: signatures are k x 16-char strings per doc
  (~130 B/doc -> ~1.3 TB for 10^10 docs); the band explode multiplies by
  b=4 -> ~5 TB shuffled on hash-random band keys (no skew by
  construction). Candidate verify is O(candidate pairs), and the
  incremental variant drops per-batch cost to O(batch + matches).
- **Connected components**: edges ≈ near-dup pairs (≪ docs); rounds =
  cluster diameter (2-4 for dup clusters). Each round shuffles the label
  table (8 B id + 8 B label) — ~160 GB/round for 10^10 matched docs,
  usually far less because only matched docs enter the graph.
- **ANN / similarity**: LSH/IVF bucket joins shuffle (id, vector) once on
  bucket id; 64-dim float32 vectors = 256 B/row -> 2.5 TB for 10^10
  vectors, partitioned by bucket. Brute-force top-k exists only as the
  small-n oracle path; the bucketed paths are the scale story.
- **Curation (split/quota/chunk/pack/scrub)**: hash split + chunking +
  scrub are shuffle-free row-local codegen — they stream at scan speed.
  Quota and packing shuffle once on their group key; hot strata are the
  documented caveat (pre-filter by hash threshold before ranking).
- **Sketches (HLL, GK quantiles)**: shuffle carries one mergeable sketch
  per (group x partition) — KBs — replacing exact-distinct's raw-key
  shuffle, which is the only exact-path operator here that would NOT
  survive 100 TB unchanged (a_distinct_counts documents it; the sketch
  twins are the production path).
- **Decorrelated subqueries (q11/q15/q17/q21/a_heavy_hitters)**: the
  global- or per-key-threshold value comes from a WINDOW over the
  already-aggregated frame, never an agg-and-join-back — the join-back
  shape recomputes the fact-scan lineage (a second 100 TB read for one
  scalar). The empty-partition window is a single-reducer pass, but
  over the GRAIN frame (suppliers, parts, users — GBs), not the fact;
  per-key windows (q17, q21) shuffle the grain frame once on the key.
  Every fact table in the inventory is scanned exactly once per query.
- **Continuous aggregates (rollup + streaming LSM)**: maintenance cost
  is O(micro-batch) — one partial aggregate of the new data (map-side
  to grain cardinality) plus a grain-sized merge; history is never
  rescanned. Partials are count/sum/min/max in exact decimal + HLL
  sketches — all commutative monoids, so merge order (and therefore
  replay, retry, and compaction timing) cannot change results. Read
  amplification is bounded by compaction (staged-write + atomic swap,
  the Delta OPTIMIZE seam).
- **Partitioned JDBC ingest (sources/jdbc.py)**: N bounded-range or MOD
  stripes turn a single remote cursor into N parallel streams; stripe
  predicates provably cover the whole key domain even with stale
  sampled bounds, so reads scale with executors, not with one
  connection's throughput.
- **PQ / IVF-PQ (operators/pq.py)**: codebooks are k·m·(d/m) float64s
  (tens of KB) — trained on a deterministic sample (train_mod), so
  training cost is O(sample), never O(corpus). The stored form is m
  bytes/vector (64-dim float32 -> 8 B: a 32x compression; 10^10
  vectors = 80 GB of codes vs 2.5 TB raw). A probe reads nprobe/C of
  the codes and pays m table lookups per row — both factors multiply.
  The ADC scorer is one Arrow pass; no shuffle until the per-query
  top-k window (grain = candidates, not corpus).
- **Z-order layout (operators/layout.py)**: the curve key is a pure
  column expression (bounds from one 1-row aggregate, or 2^q quantile
  boundaries from one driver probe for skewed dims); clustering cost =
  one range shuffle, identical to any sorted write — it rides the
  compaction rewrite a streaming sink needs anyway (compact
  --zorder-by). Payoff: file min/max stats prune on EVERY clustered
  dimension, so selective predicates skip file opens without an index.
- **Decontamination (cur_decontaminate)**: the benchmark side is
  KBs-to-GBs against a 100 TB corpus -> broadcast; the training side
  streams through the shingle explode with NO shuffle of raw text
  (only matched (train_id, bench_id) pairs reach the aggregate).
  Stop-shingle df-capping bounds the fan-out exactly as in
  jaccard_pairs.
- **Funnel / cohort / mode (t_funnel_conversion, t_cohort_retention,
  a_mode_event_type)**: all reduce to user-grain or (user, type)-grain
  before any window/rank runs — the windows never sort the raw fact.
  Funnel's three stage-windows share ONE user_id exchange (pinned by
  plan test); cohort's second shuffle carries user-day rows, not
  events.
- **Streaming quality monitor (streaming/monitor.py)**: audit cost per
  micro-batch is one multi-aggregate pass over data already in memory;
  the audit table grows at checks x batches rows (KBs/day). Replays
  overwrite their own batch_id partition — idempotent without a
  transaction log.
"""


if __name__ == "__main__":
    out = audit(*sys.argv[1:])
    with open("/root/repo/SCALE.md", "w") as f:
        f.write(out)
    print(out)
