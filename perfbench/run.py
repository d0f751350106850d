#!/usr/bin/env python3
"""Run one benchmark workload for one seed and print one JSON result line.

    python3 perfbench/run.py --workload sensor_scd2 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from the seed
under ``.perfbench_work/`` in the checkout, Spark runs at
``local[SPARK_GRAFT_CPUS]`` with ``SPARK_GRAFT_CPUS`` set to the usable
core count, and one closed-loop client runs the ops one after another.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
program's layers and prints the per-layer metrics instead. See
``perfbench/NOTES.md`` for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NEEDED = ("dht11_data_pipeline_spark/__init__.py", "__spark_entry__.py",
          "tests/diffcheck.py")
LAYERS = ["bench", "sources", "layers", "control", "scd2", "txlog",
          "pipeline", "streaming", "plans", "llm_ops"]
RUN_LIMIT_S = 150.0  # stop starting ops past this point; the run must end < 180 s


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources missing from {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    t_start = process_start_epoch()
    cpus = len(os.sched_getaffinity(0))
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # no hsperfdata files in /tmp; JVM temp files stay in the checkout
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"),
    })
    try:
        return Runner(args, work, work_root, t_start, cpus, workloads).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run_into(fn, errors: list) -> None:
    try:
        fn()
    except BaseException as exc:  # noqa: BLE001 - handed to the main thread
        errors.append(exc)


class Runner:
    def __init__(self, args, work, work_root, t_start, cpus, workloads):
        self.args, self.work, self.work_root = args, work, work_root
        self.t_start, self.cpus = t_start, cpus
        cls = workloads.WORKLOADS[args.workload]
        n_ops = max(2, round(args.seconds / cls.nominal_op_s))
        self.wl = cls(args.seed, work, n_ops, bool(args.trace))
        self.spark = None

    def run(self) -> int:
        import probes
        from spans import PACKAGE, Tracer

        cond = {"workload": self.args.workload, "seed": self.args.seed,
                "nproc": self.cpus, "SPARK_GRAFT_CPUS": self.cpus,
                "loadavg_start": loadavg(),
                "other_jvms_start": probes.other_jvms(set())}
        tracer = Tracer()
        wl = self.wl
        failed, notes = 0, []
        phases = cond["setup_phases_s"] = {}
        t = self.t_start

        def phase(name):
            nonlocal t
            now = time.time()
            phases[name] = now - t
            t = now

        try:
            phase("start")
            # inputs are written while the JVM starts; the program reads
            # none of them before both are done
            gen_err: list[BaseException] = []
            gen_thread = threading.Thread(target=_run_into, args=(wl.generate, gen_err))
            gen_thread.start()
            from dht11_data_pipeline_spark.session import get_spark
            self.spark = spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            gen_thread.join()
            if gen_err:
                raise gen_err[0]
            phase("generate_and_spark")
            wl.prepare(spark)
            phase("prepare")
            for w in range(wl.warm_ops):
                wl.reset(-1 - w)
                wl.op(-1 - w, tracer)
                wl.check(-1 - w)
            phase("warm_ops")
        except Exception as exc:  # noqa: BLE001 - a set-up failure is the run's verdict
            self._stop()
            print(f"perfbench: set-up failed: {type(exc).__name__}: {exc}",
                  file=sys.stderr)
            return self._emit(False, 1, 1, {}, cond, notes)
        setup_s = time.time() - self.t_start

        trace = bool(self.args.trace)
        jvm = probes.jvm_pid(spark)
        if trace:
            undo = tracer.install([(f"{PACKAGE}.{m}", a, layer)
                                   for m, a, layer in wl.trace_targets()])
            notes += tracer.notes
            jobs = probes.JobReader(spark)
        per_op: dict[str, list[float]] = {}
        op_s, items = [], 0
        for i in range(wl.n_ops):
            if time.time() - self.t_start > RUN_LIMIT_S:
                notes.append(f"stopped after {i} ops: run time limit")
                break
            wl.reset(i)
            if trace:
                self._drain_listener()
                jobs.new_jobs()  # jobs of reset/check, not this op
                before = self._sample(jvm)
            tracer.active, tracer.op = trace, i
            t0 = time.time()
            try:
                with tracer.span("op", "bench"):
                    n = wl.op(i, tracer)
                ok = True
            except Exception as exc:  # noqa: BLE001 - a failed op counts in `failed`
                notes.append(f"op {i} failed: {type(exc).__name__}: {exc}"[:500])
                ok = False
            t1 = time.time()
            tracer.active = False
            if trace:
                self._drain_listener()
                op_jobs = jobs.new_jobs()
                after = self._sample(jvm)
            if ok:
                try:
                    if trace:
                        wl.after(i)
                    wl.check(i)
                except Exception as exc:  # noqa: BLE001 - a wrong result counts in `failed`
                    notes.append(f"op {i} check failed: {type(exc).__name__}: {exc}"[:500])
                    ok = False
            failed += 0 if ok else 1
            op_s.append(t1 - t0)
            items += n if ok else 0
            if trace and ok:
                spans = [s for s in tracer.spans if s.op == i]
                for k, v in layer_metrics(spans, op_jobs, t0, t1, before, after,
                                          wl.extra).items():
                    per_op.setdefault(k, []).append(v)
        cond.update({"loadavg_end": loadavg(),
                     "other_jvms_end": probes.other_jvms({jvm} if jvm else set()),
                     "op_s": op_s, "setup_s": setup_s})
        if trace:
            Tracer.uninstall(undo)
            tracer.dump(os.path.join(self.work_root,
                                     f"spans-{self.args.workload}-s{self.args.seed}.jsonl"))
        self._stop()

        attempted = len(op_s)
        if trace:
            metrics = self._per_layer(per_op, op_s, failed, attempted)
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_s_p50": {"value": statistics.median(op_s), "unit": "s"},
                "items_per_s": {"value": items / sum(op_s), "unit": "1/s"},
            }
        return self._emit(failed == 0, attempted, failed, metrics, cond, notes)

    # -- helpers -----------------------------------------------------------

    def _drain_listener(self) -> None:
        """Wait until Spark's listener bus has delivered every event, so
        the status store holds all finished jobs."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _sample(self, jvm: int | None) -> dict:
        import probes
        return {"jvm": probes.process_cpu_s(jvm) if jvm else 0.0,
                "pyworker": probes.tree_cpu_s(jvm) if jvm else 0.0,
                "gc": probes.jvm_gc_s(self.spark),
                "driver": time.process_time()}

    def _per_layer(self, per_op, op_s, failed, attempted) -> dict:
        import workloads
        # the tracing overhead is trace.op_s_p50 minus op_s_p50 of an
        # untraced run
        per_op["trace.op_s_p50"] = [statistics.median(op_s)]
        per_op["error_rate"] = [failed / max(1, attempted)]
        return {name: {"value": statistics.fmean(per_op[name]) if per_op.get(name) else 0.0,
                       "unit": unit}
                for name, unit in per_layer_names(workloads)}

    def _stop(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to end."""
        import subprocess

        import probes
        if self.spark is None:
            return
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        workers = probes.descendants(proc.pid) if proc is not None else []
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            deadline = time.time() + 15
            while time.time() < deadline and any(os.path.exists(f"/proc/{p}")
                                                  for p in workers):
                time.sleep(0.05)

    def _emit(self, correct, attempted, failed, metrics, cond, notes) -> int:
        cond["notes"] = notes
        print(json.dumps({"conditions": cond}, default=str))
        print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                          "failed": int(failed), "metrics": metrics}))
        return 0 if correct else 1


# -- per-layer arithmetic -------------------------------------------------------

def per_layer_names(workloads) -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    fams = sorted({workloads.family(k) for k in workloads.QueryPass.keys})
    out = [("control.s", "s"), ("control.calls", "count"), ("control.jobs", "count"),
           ("layers.write_landing.s", "s"), ("layers.load_to_intermediate.s", "s"),
           ("pipeline.historize.s", "s"), ("pipeline.historize.jobs", "count"),
           ("txlog.apply_scd2_logged.s", "s"), ("pipeline.run_batch.self_s", "s"),
           ("txlog.buckets_rewritten", "count"), ("txlog.rows_written", "count"),
           ("txlog.files_written", "count"), ("txlog.bytes_written", "bytes"),
           ("write_amp.batch", "ratio"),
           ("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
           ("streaming.wal_commit_ms", "ms"), ("streaming.query_planning_ms", "ms"),
           ("streaming.start_s", "s"), ("target.rows_written", "count"),
           ("target.files_written", "count"), ("write_amp.stream", "ratio"),
           ("cycle.batch.s", "s"), ("cycle.stream.s", "s"),
           ("plans.build_s", "s"), ("plans.exec_s", "s")]
    for f in fams:
        out += [(f"family.{f}.s", "s"), (f"family.{f}.jobs", "count")]
    out += [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
            ("spark.in_jobs_s", "s"), ("driver.outside_jobs_s", "s"),
            ("jvm.cpu_s", "s"), ("jvm.gc_s", "s"), ("pyworker.cpu_s", "s"),
            ("driver.py_cpu_s", "s")]
    out += [(f"self.{layer}.s", "s") for layer in LAYERS]
    out += [("trace.op_s_p50", "s"), ("error_rate", "ratio")]
    return out


def attribute_jobs(spans, jobs) -> dict[int, list]:
    """Span id -> jobs that ran inside it. A job goes to the span that
    opened last among those whose interval holds the job's interval
    (status-store times are whole milliseconds, hence the slack)."""
    out: dict[int, list] = {}
    for j in jobs:
        best = None
        for sp in spans:
            if sp.start - 0.001 <= j.start and j.end <= sp.end + 0.001:
                if best is None or sp.start > best.start:
                    best = sp
        if best is not None:
            out.setdefault(best.sid, []).append(j)
    return out


def layer_metrics(spans, jobs, t0, t1, before, after, extra) -> dict[str, float]:
    from spans import outermost, self_times, union_length

    by_id = {sp.sid: sp for sp in spans}
    own = attribute_jobs(spans, jobs)

    def inclusive_jobs(root) -> int:
        n = 0
        for sid, js in own.items():
            p = by_id.get(sid)
            while p is not None and p.sid != root.sid:
                p = by_id.get(p.parent) if p.parent is not None else None
            if p is not None:
                n += len(js)
        return n

    def total(pred) -> float:
        return sum(sp.end - sp.start for sp in outermost(spans, pred))

    selfs = self_times(spans)
    m: dict[str, float] = {}
    ctl = outermost(spans, lambda s: s.layer == "control")
    m["control.s"] = sum(sp.end - sp.start for sp in ctl)
    m["control.calls"] = len(ctl)
    m["control.jobs"] = sum(inclusive_jobs(sp) for sp in ctl)
    for name in ("write_landing", "load_to_intermediate"):
        m[f"layers.{name}.s"] = total(lambda s, n=name: s.name == f"operators.layers.{n}")
    hist = outermost(spans, lambda s: s.name == "pipeline.historize")
    m["pipeline.historize.s"] = sum(sp.end - sp.start for sp in hist)
    m["pipeline.historize.jobs"] = sum(inclusive_jobs(sp) for sp in hist)
    m["txlog.apply_scd2_logged.s"] = total(
        lambda s: s.name == "operators.txlog.apply_scd2_logged")
    m["pipeline.run_batch.self_s"] = sum(
        selfs[sp.sid] for sp in spans if sp.name == "pipeline.run_batch")
    m["cycle.batch.s"] = total(lambda s: s.name == "cycle.batch")
    m["cycle.stream.s"] = total(lambda s: s.name == "cycle.stream")
    m["plans.build_s"] = total(lambda s: s.name == "plans.build")
    m["plans.exec_s"] = total(lambda s: s.name == "plans.exec")
    for sp in outermost(spans, lambda s: s.name.startswith("family.")):
        m[f"{sp.name}.s"] = m.get(f"{sp.name}.s", 0.0) + (sp.end - sp.start)
        m[f"{sp.name}.jobs"] = m.get(f"{sp.name}.jobs", 0) + inclusive_jobs(sp)
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = sum(j.stages for j in jobs)
    m["spark.tasks"] = sum(j.tasks for j in jobs)
    in_jobs = union_length([(max(j.start, t0), min(j.end, t1)) for j in jobs
                            if j.end > t0 and j.start < t1])
    m["spark.in_jobs_s"] = in_jobs
    m["driver.outside_jobs_s"] = (t1 - t0) - in_jobs
    m["jvm.cpu_s"] = after["jvm"] - before["jvm"]
    m["jvm.gc_s"] = after["gc"] - before["gc"]
    m["pyworker.cpu_s"] = after["pyworker"] - before["pyworker"]
    m["driver.py_cpu_s"] = after["driver"] - before["driver"]
    for layer in LAYERS:
        m[f"self.{layer}.s"] = sum(selfs[sp.sid] for sp in spans if sp.layer == layer)
    m.update(extra)
    return m


if __name__ == "__main__":
    sys.exit(main())
