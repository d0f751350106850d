"""The benchmark's workloads. Each one builds its inputs from the seed
(``generate``) and prepares state (``prepare``); the runner then runs
the untimed warm-up op and the timed ops one after another, with
``reset`` and ``check`` outside the timed ``op``."""

from __future__ import annotations

import os
import re
import shutil
import time

import gen
import probes

# (module, attribute, layer) the traced run wraps; ``Class.method``
# wraps a method. Modules are relative to the program package.
SENSOR_TARGETS = [
    ("sources.firebase_tree", "read_tree", "sources"),
    ("sources.firebase_tree", "flatten_readings", "sources"),
    ("operators.layers", "write_landing", "layers"),
    ("operators.layers", "load_to_intermediate", "layers"),
    ("operators.layers", "read_intermediate", "layers"),
    ("operators.control", "ControlTable.interface_exists", "control"),
    ("operators.control", "ControlTable.previous_run", "control"),
    ("operators.control", "ControlTable.next_load_key", "control"),
    ("operators.control", "ControlTable.add_run_entry", "control"),
    ("operators.control", "ControlTable.update_run_status", "control"),
    ("operators.control", "ControlTable.assert_previous_success", "control"),
    ("operators.scd2", "apply_scd2", "scd2"),
    ("operators.scd2", "detect_delta", "scd2"),
    ("operators.txlog", "init_table", "txlog"),
    ("operators.txlog", "read_table", "txlog"),
    ("operators.txlog", "apply_scd2_logged", "txlog"),
    ("pipeline", "run_batch", "pipeline"),
    ("pipeline", "historize", "pipeline"),
    ("pipeline", "read_history", "pipeline"),
    ("streaming.ingest", "read_reading_stream", "streaming"),
    ("streaming.ingest", "typed_readings", "streaming"),
    ("streaming.historize", "start_scd2_stream", "streaming"),
    ("streaming.historize", "read_target", "streaming"),
    ("streaming.historize", "swap_target", "streaming"),
]

LLM_MODULES = ["operators.dedup", "operators.textops", "operators.similarity",
               "operators.kmeans", "operators.curation", "functions",
               "functions.text", "functions.vectors", "functions.hashing",
               "functions.partitioning"]

# JVM-only registry keys (Catalyst, AQE, shuffle, codegen; no Python workers) ...
JVM_KEYS = ["q18_large_volume_customers", "j2_scd2_delta_classify",
            "t_sessionize"]
# ... and LLM-operator keys: the MinHash LSH chain (checkpointed stages)
# and the BPE encoder (Python UDFs)
LLM_KEYS = ["dedup_minhash_lsh", "text_bpe_encode"]


def family(key: str) -> str:
    return re.match(r"[a-z]+", key).group(0)


class CheckFailed(Exception):
    pass


def _expect(name: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{name}: got {got!r}, want {want!r}")


class Workload:
    name = ""
    # one untimed op after ``prepare``: the first op in a JVM pays cold
    # code paths that later ops do not
    warm_ops = 1
    nominal_op_s = 1.0

    def __init__(self, seed: int, work: str, n_ops: int, trace_on: bool):
        self.seed, self.work, self.n_ops = seed, work, n_ops
        self.trace_on = trace_on
        self.spark = None
        self.extra: dict[str, float] = {}  # per-op probe values (trace run)

    def trace_targets(self) -> list:
        return []

    def reset(self, i: int) -> None:
        """Untimed preparation before op ``i``."""

    def after(self, i: int) -> None:
        """Untimed probes right after op ``i`` (trace run)."""


# -- write path -------------------------------------------------------------------

class SensorScd2(Workload):
    """One op is one ingest cycle of the paper's write path: a
    ``pipeline.run_batch`` over a full-snapshot tree file (1% of
    readings changed, 1% new), then a Structured Streaming drain of one
    JSON-lines file with the same kind of change into the streaming
    SCD2 sink. Every op starts from the same prepared state."""

    name = "sensor_scd2"
    nominal_op_s = 10.0
    n_readings = 5_000
    load_ts = "2024-06-01 00:00:00"
    since_ts = "1970-01-01 00:00:00"
    stream_iface = ("DHT11_SENSOR_STREAM", "STG_1021")

    def trace_targets(self) -> list:
        return SENSOR_TARGETS

    def generate(self) -> None:
        k = self.warm_ops + self.n_ops
        self.plan = plan = gen.SensorPlan(self.seed, self.n_readings, k)
        d = os.path.join(self.work, "input")
        gen.write_tree(os.path.join(d, "base.json"), plan.base_rows())
        for j in range(k):
            gen.write_tree(os.path.join(d, f"snap-{j:03d}.json"), plan.snapshot_rows(j))
            changed, new = plan.change_rows(j)
            gen.write_lines(os.path.join(d, f"feed-{j:03d}.jsonl"), changed + new)
        # expected current humidity total, in hundredths, per change set
        base_cents = [int(round(float(h) * 100)) for _, h, _ in plan.base_rows()]
        self.want_cents = []
        for j in range(k):
            idx, new_val, _, new_value, _ = plan.changes[j]
            cents = sum(base_cents)
            cents += sum(int(round(v * 100)) for v in new_val)
            cents -= sum(base_cents[i] for i in idx)
            cents += sum(int(round(v * 100)) for v in new_value)
            self.want_cents.append(cents)

    # live state lives under work/live; the prepared copy under work/base
    def _p(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self, spark) -> None:
        """Load the base snapshot with one ``run_batch``. The streaming
        target starts as the same history, written as a whole-target
        rewrite leaves it, with an empty source directory and no
        checkpoint yet."""
        from dht11_data_pipeline_spark import pipeline
        self.spark = spark
        live = self._p("live")
        wh = os.path.join(live, "wh")
        pipeline.bootstrap(spark, wh)
        pipeline.run_batch(spark, wh, self._p("input", "base.json"), gen.DEVICE,
                           load_ts=self.load_ts, since_ts=self.since_ts)
        pipeline.read_history(spark, wh).write.parquet(os.path.join(live, "target"))
        os.makedirs(os.path.join(live, "src"))
        shutil.copytree(live, self._p("base"))

    def reset(self, i: int) -> None:
        shutil.rmtree(self._p("live"))
        shutil.copytree(self._p("base"), self._p("live"))
        if self.trace_on:
            self._before = (probes.snapshot_files(self._p("live", "wh", "hist_dht11_data")),
                            probes.snapshot_files(self._p("live", "target")))

    def _drain(self, j: int) -> None:
        from dht11_data_pipeline_spark.operators.control import ControlTable
        from dht11_data_pipeline_spark.pipeline import HIST_CFG
        from dht11_data_pipeline_spark.streaming import historize as SH
        from dht11_data_pipeline_spark.streaming import ingest as ING
        live = self._p("live")
        shutil.copy(self._p("input", f"feed-{j:03d}.jsonl"),
                    os.path.join(live, "src", f"feed-{j:03d}.jsonl"))
        readings = ING.typed_readings(
            ING.read_reading_stream(self.spark, os.path.join(live, "src")),
            watermark=None)
        self._stream_t0 = time.time()
        q = SH.start_scd2_stream(
            readings, os.path.join(live, "target"), os.path.join(live, "ckpt"),
            HIST_CFG, available_now=True,
            control=ControlTable(self.spark, os.path.join(live, "swh")),
            interface=self.stream_iface)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        self.progress = list(q.recentProgress)

    def op(self, i: int, tracer) -> int:
        from dht11_data_pipeline_spark import pipeline
        j = self.warm_ops + i if i >= 0 else -1 - i  # warm-ups use -1, -2, ...
        with tracer.span("cycle.batch", "bench"):
            r = pipeline.run_batch(self.spark, self._p("live", "wh"),
                                   self._p("input", f"snap-{j:03d}.json"), gen.DEVICE,
                                   load_ts=self.load_ts, since_ts=self.since_ts)
        with tracer.span("cycle.stream", "bench"):
            self._drain(j)
        self.last = (j, r)
        # items: the snapshot's readings plus the appended file's; the
        # check proves every one of them landed (numInputRows is not
        # used: it counts each re-read of the micro-batch by the sink)
        return int(r["rows"]) + self.plan.upserts_per_batch

    def after(self, i: int) -> None:
        from dht11_data_pipeline_spark.operators.scd2_partitioned import BUCKET_COL
        upserts = self.plan.upserts_per_batch
        b = probes.written_since(self._before[0],
                                 self._p("live", "wh", "hist_dht11_data"), BUCKET_COL)
        s = probes.written_since(self._before[1], self._p("live", "target"), BUCKET_COL)
        dur = {}
        for p in self.progress:
            for k, v in (p.get("durationMs") or {}).items():
                dur[k] = dur.get(k, 0) + v
        start_s = 0.0
        if self.progress:
            start_s = max(0.0, _iso_s(self.progress[0]["timestamp"]) - self._stream_t0)
        self.extra = {
            "txlog.buckets_rewritten": b.buckets, "txlog.rows_written": b.rows,
            "txlog.files_written": b.files, "txlog.bytes_written": b.bytes,
            "write_amp.batch": b.rows / upserts,
            "target.rows_written": s.rows, "target.files_written": s.files,
            "write_amp.stream": s.rows / upserts,
            "streaming.trigger_ms": dur.get("triggerExecution", 0),
            "streaming.add_batch_ms": dur.get("addBatch", 0),
            "streaming.wal_commit_ms": dur.get("walCommit", 0),
            "streaming.query_planning_ms": dur.get("queryPlanning", 0),
            "streaming.start_s": start_s,
        }

    def check(self, i: int) -> None:
        from dht11_data_pipeline_spark import pipeline
        from dht11_data_pipeline_spark.operators.control import ControlTable
        j, r = self.last
        p = self.plan
        n_cur, n_all = p.n + p.n_new, p.n + p.n_changed + p.n_new
        _expect("batch rows", int(r["rows"]), n_cur)
        _expect("batch hist_rows", int(r["hist_rows"]), n_all)
        hist = pipeline.read_history(self.spark, self._p("live", "wh"))
        self._check_target("batch", hist, n_cur, n_all, self.want_cents[j])
        target = self.spark.read.parquet(self._p("live", "target"))
        self._check_target("stream", target, n_cur, n_all, self.want_cents[j])
        for where, cd, key in (("wh", "STG_1020", 3), ("swh", self.stream_iface[1], 0)):
            prev = ControlTable(self.spark, self._p("live", where)).previous_run(cd)
            _expect(f"{where} ledger", (prev["load_status"], int(prev["load_key"])),
                    ("Success", key))

    @staticmethod
    def _check_target(what, df, n_cur, n_all, want_cents) -> None:
        row = df.selectExpr(
            "count(*) AS n_all",
            "count_if(da_current_flag = 'Y') AS n_cur",
            "count(DISTINCT CASE WHEN da_current_flag = 'Y' "
            "THEN concat(device_id, '|', cast(ts AS string)) END) AS n_keys",
            "CAST(sum(CASE WHEN da_current_flag = 'Y' THEN "
            "CAST(humidity AS DECIMAL(18,2)) END) * 100 AS BIGINT) AS cents",
        ).first()
        _expect(f"{what} history rows (base + I + U)", int(row["n_all"]), n_all)
        _expect(f"{what} current rows", int(row["n_cur"]), n_cur)
        _expect(f"{what} current keys unique", int(row["n_keys"]), n_cur)
        _expect(f"{what} current humidity total", int(row["cents"]), want_cents)


def _iso_s(ts: str) -> float:
    import datetime as dt
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# -- query registry ---------------------------------------------------------------

class QueryPass(Workload):
    """One op is one pass over a fixed list of registry keys, each
    written to a ``noop`` sink; the list mixes JVM-only keys with
    LLM-operator keys that run Python workers."""

    name = "query_pass"
    nominal_op_s = 5.0
    sf = 0.01
    keys = JVM_KEYS + LLM_KEYS

    def trace_targets(self) -> list:
        from spans import PACKAGE, public_driver_functions
        out = [("sources.tables", "load_table", "sources")]
        for m in LLM_MODULES:
            out += [(m, f, "llm_ops")
                    for f in public_driver_functions(f"{PACKAGE}.{m}")]
        return out

    def generate(self) -> None:
        self.tables = os.path.join(self.work, "tables")
        gen.write_tables(self.tables, self.seed, self.sf)

    def prepare(self, spark) -> None:
        """Cold pass: every key's collected result must match its DuckDB
        oracle (row count, column set, order-insensitive hash)."""
        import __spark_entry__ as E
        from tests.diffcheck import canonical_hash, duckdb_run
        self.spark = spark
        self.registry = E.queries()
        oracles = E.oracle_sql()
        self.want_rows = {}
        for k in self.keys:
            df = self.registry[k](spark, self.tables)
            s_cols, s_rows = df.columns, [tuple(r) for r in df.collect()]
            d_cols, d_rows = duckdb_run(self.tables, oracles[k])
            _expect(f"{k} column set", sorted(s_cols), sorted(d_cols))
            _expect(f"{k} rows and hash", canonical_hash(s_cols, s_rows),
                    canonical_hash(d_cols, d_rows))
            self.want_rows[k] = len(d_rows)

    def op(self, i: int, tracer) -> int:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        self.got_rows, self.errors = {}, []
        for k in self.keys:
            with tracer.span(f"family.{family(k)}", "bench"):
                try:
                    with tracer.span("plans.build", "plans"):
                        df = self.registry[k](self.spark, self.tables)
                    obs = Observation(f"perfbench_{k}")
                    with tracer.span("plans.exec", "plans"):
                        (df.observe(obs, F.count(F.lit(1)).alias("n"))
                         .write.format("noop").mode("overwrite").save())
                    self.got_rows[k] = int(obs.get["n"])
                except Exception as exc:  # noqa: BLE001 - one key's failure is counted, the pass goes on
                    self.errors.append(f"{k}: {type(exc).__name__}: {exc}")
        return len(self.got_rows)

    def check(self, i: int) -> None:
        if self.errors:
            raise CheckFailed("; ".join(self.errors)[:2000])
        for k in self.keys:
            _expect(f"{k} rows", self.got_rows.get(k), self.want_rows[k])


WORKLOADS = {w.name: w for w in (SensorScd2, QueryPass)}
