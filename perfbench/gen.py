"""Deterministic input generator for the benchmark.

Everything the program reads is written here, in set-up, before any
timing starts: sensor tree snapshots and JSON-lines stream files for
the write-path workloads, and the ten synthetic tables the query
registry reads for the query workloads. The same seed always gives
byte-identical files; the program receives only the files.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

DEVICE = "DEV01"
BASE_TS = dt.datetime(2024, 1, 1)
STEP_S = 7  # reading i is taken at BASE_TS + i * STEP_S seconds


# -- sensor readings ------------------------------------------------------

class SensorPlan:
    """A base snapshot of ``n`` readings plus ``k`` change sets.

    Change set j rewrites the humidity of ``n_changed`` base readings
    (chosen by the seed) and adds ``n_new`` readings after the base
    range. Every change set applies to the same base, so every op of a
    run does the same amount of work.
    """

    def __init__(self, seed: int, n: int, k: int, change_frac: float = 0.01):
        rng = np.random.default_rng(seed)
        self.n = n
        self.n_changed = max(1, int(round(n * change_frac)))
        self.n_new = self.n_changed
        # stand-ins for the events table: humidity from `value`,
        # temperature from `user_id`
        self.value = np.round(rng.uniform(0.0, 560.0, n), 2)
        self.user_id = rng.integers(0, 1500, n)
        self.changes = []
        for j in range(k):
            idx = np.sort(rng.choice(n, self.n_changed, replace=False))
            new_val = np.round(self.value[idx] + rng.uniform(1.0, 50.0, idx.size), 2)
            new_ids = np.arange(n + j * self.n_new, n + (j + 1) * self.n_new)
            new_value = np.round(rng.uniform(0.0, 560.0, self.n_new), 2)
            new_user = rng.integers(0, 1500, self.n_new)
            self.changes.append((idx, new_val, new_ids, new_value, new_user))

    @property
    def upserts_per_batch(self) -> int:
        """I + U rows one change set puts into the batch."""
        return self.n_changed + self.n_new

    def base_rows(self):
        return _rows(np.arange(self.n), self.value, self.user_id)

    def change_rows(self, j: int):
        """(changed base readings, new readings) of change set ``j``."""
        idx, new_val, new_ids, new_value, new_user = self.changes[j]
        return (_rows(idx, new_val, self.user_id[idx]),
                _rows(new_ids, new_value, new_user))

    def snapshot_rows(self, j: int):
        """Full snapshot after change set ``j``: base with the changed
        humidities, plus the new readings."""
        idx, new_val, new_ids, new_value, new_user = self.changes[j]
        value = self.value.copy()
        value[idx] = new_val
        base = _rows(np.arange(self.n), value, self.user_id)
        return base + _rows(new_ids, new_value, new_user)


def _rows(ids, values, users):
    """(timestamp, humidity, temperature) string triples."""
    return [(_ts(int(i)), f"{v:.2f}", str(int(u)))
            for i, v, u in zip(ids, values, users)]


def _ts(i: int) -> str:
    return (BASE_TS + dt.timedelta(seconds=i * STEP_S)).strftime("%Y-%m-%d %H:%M:%S")


def write_tree(path: str, rows) -> None:
    """Firebase-style tree: MCU_Data/<device>/HIST_DHT11_DATA/<date>/<time>."""
    dates: dict[str, dict] = {}
    for ts, hum, temp in rows:
        date, time_key = ts.split(" ")
        dates.setdefault(date, {})[time_key] = {
            "TimeZone": "IST", "Humidity": hum, "Temperature": temp,
            "Timestamp": ts}
    tree = {"MCU_Data": {DEVICE: {"HIST_DHT11_DATA": dates}}}
    _write_text(path, json.dumps(tree, sort_keys=True, separators=(",", ":")))


def write_lines(path: str, rows) -> None:
    """One JSON reading per line, as the streaming source reads them."""
    lines = [json.dumps({"device_id": DEVICE, "TimeZone": "IST",
                         "Humidity": hum, "Temperature": temp,
                         "Timestamp": ts}, sort_keys=True)
             for ts, hum, temp in rows]
    _write_text(path, "\n".join(lines) + "\n")


def _write_text(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)


# -- warehouse tables -----------------------------------------------------

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
PART_WORDS = ("red gear small hot cold old gizmo widget ring plate anvil "
              "bolt rod new large blue").split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables the query registry reads, at scale ``sf``
    (sf 1 = 6M lineitem rows), with the column names and types of the
    registry's synthetic star schema. Returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]")

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    pw = np.array(PART_WORDS)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(pw[rng.integers(0, 16, n_part)],
                                              pw[rng.integers(0, 16, n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": days("1995-01-01", 2404, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    # 1-7 lines per order, about 4 on average
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]),
                                 pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": days("1995-01-02", 2498, n_li)})
    ev_ts = np.sort(np.datetime64("2024-01-01", "us")
                    + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]"))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ev_ts,
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": money(0.0, 560.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)

    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


def _documents(rng, n: int):
    """Short texts over a 30-word vocabulary; one doc in twenty repeats
    an earlier doc's text with a trailing ' dup' (near-duplicate pairs
    for the dedup and decontamination keys)."""
    import pyarrow as pa

    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 11:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS),
                                                     int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10):
    """Unit vectors with a weak per-label centroid."""
    import pyarrow as pa

    labels = rng.integers(0, n_labels, n)
    centers = rng.normal(0.0, 0.07, (n_labels, dim))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
