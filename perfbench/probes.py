"""Outside-in probes: process CPU from /proc, Spark job records from the
status store, JVM garbage-collection time, and file-level diffs of a
table directory with row counts from parquet footers."""

from __future__ import annotations

import os
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- /proc CPU ---------------------------------------------------------------

def _stat(pid: int) -> tuple[str, int, list[int]] | None:
    """(comm, ppid, [utime, stime, cutime, cstime]) in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    lpar, rpar = raw.index("("), raw.rindex(")")
    comm = raw[lpar + 1:rpar]
    rest = raw[rpar + 2:].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14..17
    return comm, int(rest[1]), [int(x) for x in rest[11:15]]


def _children(ppid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None and st[1] == ppid:
                out.append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    todo, out = [pid], []
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def process_cpu_s(pid: int, with_reaped_children: bool = False) -> float:
    """User + system CPU seconds of ``pid``; with ``with_reaped_children``
    also the CPU of its children that already exited and were waited
    for."""
    st = _stat(pid)
    if st is None:
        return 0.0
    u, s, cu, cs = st[2]
    ticks = u + s + ((cu + cs) if with_reaped_children else 0)
    return ticks / CLK_TCK


def tree_cpu_s(root: int) -> float:
    """CPU seconds of every descendant of ``root`` (not ``root`` itself),
    counting exited-and-reaped grandchildren through their parents, so
    the total does not drop when a worker process ends."""
    return sum(process_cpu_s(p, with_reaped_children=True)
               for p in descendants(root))


def other_jvms(own: set[int]) -> int:
    """Java processes on the host that this run did not start."""
    n = 0
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) not in own:
            st = _stat(int(d))
            if st is not None and st[0] == "java":
                n += 1
    return n


# -- JVM / Spark ---------------------------------------------------------------

def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def jvm_gc_s(spark) -> float:
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


@dataclass
class JobRec:
    job_id: int
    start: float   # submission, epoch seconds
    end: float     # completion, epoch seconds
    stages: int    # stages that ran (skipped stages excluded)
    tasks: int     # tasks that completed


class JobReader:
    """Reads finished jobs from Spark's status store by id. Job ids are
    dense and increasing, so each call returns the jobs submitted since
    the previous call."""

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.next_id = self._probe_next(0)

    def _job(self, jid: int):
        try:
            return self.store.job(jid)
        except Exception:  # noqa: BLE001 - py4j raises NoSuchElementException
            return None

    def _probe_next(self, start: int) -> int:
        jid = start
        while self._job(jid) is not None:
            jid += 1
        return jid

    def new_jobs(self) -> list[JobRec]:
        out = []
        while True:
            jd = self._job(self.next_id)
            if jd is None:
                break
            sub = jd.submissionTime()
            comp = jd.completionTime()
            if comp.isEmpty():  # still running: pick it up next time
                break
            start = sub.get().getTime() / 1000.0 if not sub.isEmpty() else 0.0
            out.append(JobRec(self.next_id, start, comp.get().getTime() / 1000.0,
                              int(jd.numCompletedStages()) + int(jd.numFailedStages()),
                              int(jd.numCompletedTasks())))
            self.next_id += 1
        return out


# -- table directory diffs --------------------------------------------------------

def snapshot_files(root: str) -> dict[str, tuple[int, int]]:
    """parquet data file -> (inode, mtime_ns) under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        if "_txlog" in dirpath or "_delta_log" in dirpath:
            continue
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_ino, st.st_mtime_ns)
    return out


@dataclass
class WriteStats:
    files: int = 0
    rows: int = 0
    bytes: int = 0
    buckets: int = 0


def written_since(before: dict, root: str, bucket_col: str = "hist_bucket") -> WriteStats:
    """Data files that appeared (or were rewritten) under ``root`` since
    ``before``: how many, their rows from parquet footers, their bytes,
    and how many distinct ``bucket_col=`` directories they sit in."""
    import pyarrow.parquet as pq

    after = snapshot_files(root)
    ws = WriteStats()
    buckets = set()
    for p, ident in after.items():
        if before.get(p) == ident:
            continue
        ws.files += 1
        ws.bytes += os.path.getsize(p)
        ws.rows += pq.ParquetFile(p).metadata.num_rows
        for part in p.split(os.sep):
            if part.startswith(bucket_col + "="):
                buckets.add(part)
    ws.buckets = len(buckets)
    return ws
