"""CLI — the reference's ``python main.py`` entry point (main.py:81-82)
as a module command:

    python -m dht11_data_pipeline_spark bootstrap --warehouse W
    python -m dht11_data_pipeline_spark run-batch --warehouse W --tree T --device D
    python -m dht11_data_pipeline_spark historize --warehouse W --load-key N --device D --since-ts T
    python -m dht11_data_pipeline_spark compact --path P [--target-mb M] [--sort-by c1,c2 | --zorder-by c1,c2 [--quantile-bits q]]
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dht11_data_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("bootstrap", help="seed the control plane")
    b.add_argument("--warehouse", required=True)

    r = sub.add_parser("run-batch", help="one incremental batch end-to-end")
    r.add_argument("--warehouse", required=True)
    r.add_argument("--tree", required=True, help="tree-JSON path")
    r.add_argument("--device", required=True)
    r.add_argument("--since-ts", default=None)

    h = sub.add_parser("historize", help="SCD2 apply for one load key")
    h.add_argument("--warehouse", required=True)
    h.add_argument("--load-key", type=int, required=True)
    h.add_argument("--device", required=True)
    h.add_argument("--since-ts", required=True,
                   help="the batch's watermark: readings from it on")

    c = sub.add_parser("compact", help="compact a parquet directory")
    c.add_argument("--path", required=True)
    c.add_argument("--target-mb", type=int, default=128)
    c.add_argument("--sort-by", default=None, help="comma-separated columns")
    c.add_argument("--zorder-by", default=None,
                   help="comma-separated columns: Morton-curve clustering "
                        "(multi-dimension data skipping)")
    c.add_argument("--quantile-bits", type=int, default=0,
                   help="rank cells for skewed z-order dims (2^q buckets)")

    d = sub.add_parser(
        "dedup", help="exact+near-dup cascade verdict over a document parquet")
    d.add_argument("--docs", required=True, help="parquet with doc_id,text")
    d.add_argument("--out", required=True, help="output parquet (verdict rows)")
    d.add_argument("--threshold", type=float, default=0.5)

    ru = sub.add_parser(
        "rollup", help="continuous-aggregate state: build / compact / query")
    ru.add_argument("action", choices=["build", "compact", "query"])
    ru.add_argument("--state", required=True, help="rollup state dir")
    ru.add_argument("--events", help="events parquet (build)")
    ru.add_argument("--batch-id", type=int, default=0, help="partial id (build)")
    ru.add_argument("--group-by", default="day,event_type",
                    help="grain subset to query (comma-separated)")

    t = sub.add_parser(
        "txlog", help="transaction-logged table: history / read / cdf / vacuum")
    t.add_argument("action", choices=["history", "read", "cdf", "vacuum"])
    t.add_argument("--table", required=True, help="logged table dir")
    t.add_argument("--version", type=int, default=None)
    t.add_argument("--from-version", type=int, default=None, help="cdf start")
    t.add_argument("--retain", type=int, default=2, help="vacuum retention")

    args = p.parse_args(argv)

    from dht11_data_pipeline_spark.session import get_spark
    spark = get_spark("cli")

    if args.cmd == "bootstrap":
        from dht11_data_pipeline_spark.pipeline import bootstrap
        bootstrap(spark, args.warehouse)
        print(json.dumps({"ok": True}))
    elif args.cmd == "run-batch":
        from dht11_data_pipeline_spark.pipeline import run_batch
        out = run_batch(spark, args.warehouse, args.tree, args.device,
                        since_ts=args.since_ts)
        print(json.dumps(out))
    elif args.cmd == "historize":
        from dht11_data_pipeline_spark.pipeline import historize, history_rows
        historize(spark, args.warehouse, args.load_key, args.device,
                  args.since_ts)
        print(json.dumps({"hist_rows": history_rows(args.warehouse)}))
    elif args.cmd == "compact":
        from dht11_data_pipeline_spark.operators.compact import compact
        sort_by = args.sort_by.split(",") if args.sort_by else None
        zorder_by = args.zorder_by.split(",") if args.zorder_by else None
        n = compact(spark, args.path, args.target_mb, sort_by,
                    zorder_by=zorder_by, quantile_bits=args.quantile_bits)
        print(json.dumps({"files": n}))
    elif args.cmd == "dedup":
        from pyspark.sql import functions as F

        from dht11_data_pipeline_spark.operators.dedup import (
            cascade_keep_decision)
        verdict = cascade_keep_decision(
            spark.read.parquet(args.docs), threshold=args.threshold)
        verdict.write.mode("overwrite").parquet(args.out)
        stats = {r["reason"]: r["n"] for r in
                 verdict.groupBy("reason").agg(F.count("*").alias("n")).collect()}
        print(json.dumps({"out": args.out, "by_reason": stats}))
    elif args.cmd == "rollup":
        from pyspark.sql import functions as F

        from dht11_data_pipeline_spark.operators.rollup import rollup_batch
        from dht11_data_pipeline_spark.operators.mv_router import route
        from dht11_data_pipeline_spark.streaming.rollup import (
            DEFAULT_KEYS, compact_rollup, read_partials)
        if args.action == "build":
            ev = spark.read.parquet(args.events).withColumn(
                "day", F.date_trunc("day", "ts").cast("date").cast("string"))
            rollup_batch(ev, DEFAULT_KEYS).write.mode("overwrite").parquet(
                f"{args.state}/partials/b{args.batch_id}")
            print(json.dumps({"built": args.batch_id}))
        elif args.action == "compact":
            compact_rollup(spark, args.state)
            print(json.dumps({"compacted": True}))
        else:
            keys = [k for k in args.group_by.split(",") if k]
            out = route(read_partials(spark, args.state), DEFAULT_KEYS, keys, {
                "n_events": "count_rows", "total_value": "sum_value",
                "avg_value": "avg_value", "approx_users": "approx_users"})
            if out is None:
                print(json.dumps({"error": "grain not servable"}))
                return 2
            print(json.dumps([r.asDict() for r in out.collect()], default=str))
    elif args.cmd == "txlog":
        from dht11_data_pipeline_spark.operators import txlog
        if args.action == "history":
            v = txlog.current_version(args.table)
            versions = []
            for i in range(1, (v or 0) + 1):
                try:
                    m = txlog.read_manifest(args.table, i)
                    versions.append({"version": i,
                                     "committed_at": m["committed_at"],
                                     "buckets": len(m["buckets"])})
                except FileNotFoundError:
                    continue  # vacuumed
            print(json.dumps({"latest": v, "versions": versions}))
        elif args.action == "read":
            df = txlog.read_table(spark, args.table, version=args.version)
            print(json.dumps({"version": txlog.current_version(args.table)
                              if args.version is None else args.version,
                              "rows": df.count()}))
        elif args.action == "cdf":
            if args.from_version is None:
                print(json.dumps({"error": "--from-version required"}))
                return 2
            feed = txlog.change_feed(spark, args.table, args.from_version,
                                     args.version)
            from pyspark.sql import functions as F
            stats = {r["_change_type"]: r["n"] for r in
                     feed.groupBy("_change_type")
                     .agg(F.count("*").alias("n")).collect()}
            print(json.dumps({"changes": stats}))
        else:
            removed = txlog.vacuum(args.table, retain_versions=args.retain)
            print(json.dumps({"removed": removed}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
