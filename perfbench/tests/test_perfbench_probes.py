"""Probes: table-directory diffs on a txlog-shaped fixture and /proc CPU."""

import json
import os
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

import probes

BUCKET = "da_key_bucket"


def _commit(table, version, buckets, rows_per_bucket):
    for b in buckets:
        d = os.path.join(table, "data", f"commit-{version}", f"{BUCKET}={b}")
        os.makedirs(d)
        pq.write_table(pa.table({"k": list(range(rows_per_bucket))}),
                       os.path.join(d, "part-0.parquet"))
    log = os.path.join(table, "_txlog")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"v{version:08d}.json"), "w") as fh:
        json.dump({"version": version}, fh)


def test_write_amp_on_two_commit_txlog(tmp_path):
    table = str(tmp_path / "hist")
    _commit(table, 1, range(4), 5)                  # 20 rows in 4 buckets
    before = probes.snapshot_files(table)
    assert len(before) == 4
    _commit(table, 2, [1, 2], 6)                    # a batch with 3 I+U rows
    ws = probes.written_since(before, table, BUCKET)
    assert (ws.files, ws.rows, ws.buckets) == (2, 12, 2)
    assert ws.bytes == sum(os.path.getsize(p) for p in probes.snapshot_files(table)
                           if p not in before)
    assert ws.rows / 3 == 4.0                        # write_amp
    # nothing new since the second commit
    assert probes.written_since(probes.snapshot_files(table), table, BUCKET).files == 0


def test_rewritten_file_counts_as_written(tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    p = os.path.join(table, "part-0.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), p)
    before = probes.snapshot_files(table)
    os.remove(p)
    pq.write_table(pa.table({"k": [1, 2, 3]}), p)
    os.utime(p, ns=(before[p][1] + 10**9, before[p][1] + 10**9))
    assert probes.written_since(before, table, BUCKET).rows == 3


BURN = "import time\nt=time.process_time()\nwhile time.process_time()-t<{s}: pass\n"


def test_cpu_sampler_sees_a_busy_child():
    child = subprocess.Popen([sys.executable, "-c", BURN.format(s=0.4) + "time.sleep(30)"])
    try:
        deadline = time.time() + 20
        while probes.process_cpu_s(child.pid) < 0.4 and time.time() < deadline:
            time.sleep(0.05)
        own = probes.process_cpu_s(child.pid)
        assert 0.35 <= own <= 1.5
        assert child.pid in probes.descendants(os.getpid())
        assert probes.tree_cpu_s(os.getpid()) >= own
    finally:
        child.kill()
        child.wait(timeout=10)


def test_cpu_of_exited_grandchild_stays_counted():
    # the child starts a busy grandchild, waits for it, then idles: the
    # grandchild's CPU moves into the child's reaped-children counters
    code = ("import subprocess, sys, time\n"
            f"subprocess.run([sys.executable, '-c', {BURN.format(s=0.3)!r}])\n"
            "print('done', flush=True)\ntime.sleep(30)\n")
    child = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        assert probes.process_cpu_s(child.pid) < 0.3
        assert probes.tree_cpu_s(os.getpid()) >= 0.3
    finally:
        child.kill()
        child.wait(timeout=10)
