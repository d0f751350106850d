"""The generator is a pure function of the seed."""

import hashlib
import os

import gen


def _digest(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_sensor(root, seed):
    plan = gen.SensorPlan(seed, n=2000, k=2)
    gen.write_tree(os.path.join(root, "base.json"), plan.base_rows())
    for j in range(2):
        gen.write_tree(os.path.join(root, f"snap-{j}.json"), plan.snapshot_rows(j))
        changed, new = plan.change_rows(j)
        gen.write_lines(os.path.join(root, f"feed-{j}.jsonl"), changed + new)
    return plan


def test_same_seed_gives_identical_files(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    _write_sensor(str(a), 7)
    gen.write_tables(str(a / "tables"), 7, 0.001)
    _write_sensor(str(b), 7)
    gen.write_tables(str(b / "tables"), 7, 0.001)
    da, db = _digest(str(a)), _digest(str(b))
    assert len(da) == 1 + 2 * 2 + 10
    assert da == db


def test_other_seed_changes_other_readings(tmp_path):
    p7 = _write_sensor(str(tmp_path / "a"), 7)
    p8 = _write_sensor(str(tmp_path / "b"), 8)
    for j in range(2):
        assert set(p7.changes[j][0]) != set(p8.changes[j][0])
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "b"))


def test_change_set_shape():
    plan = gen.SensorPlan(3, n=1000, k=3)
    assert plan.n_changed == plan.n_new == 10
    assert plan.upserts_per_batch == 20
    base = dict((ts, hum) for ts, hum, _ in plan.base_rows())
    for j in range(3):
        snap = plan.snapshot_rows(j)
        assert len(snap) == 1010
        changed, new = plan.change_rows(j)
        assert all(base[ts] != hum for ts, hum, _ in changed)
        assert not any(ts in base for ts, _, _ in new)
        # the snapshot carries exactly the change set's new humidities
        snap_map = dict((ts, hum) for ts, hum, _ in snap)
        assert all(snap_map[ts] == hum for ts, hum, _ in changed + new)
        assert sum(snap_map[ts] != hum for ts, hum in base.items()) == 10
