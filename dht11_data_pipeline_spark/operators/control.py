"""Control-plane run ledger — reference parity for the
``data_control_table`` / ``interface_config`` / ``HIST_LOAD_CONTROL``
machinery (CheckInterface_Metadata.py, STG_to_INT.py:23-29).

Semantics preserved:
- interface existence gate: registered in both the control table and
  the interface config (INNER JOIN on cd+name, CheckInterface_Metadata.py:17-20)
- previous-run lookup: row with MAX(load_key) for the interface
  (:21-25); callers gate on LOAD_STATUS == 'Success' (main.py:15-20)
- monotonic load keys: previous + 1 (main.py:47, Airflow-DAG.py:130)
- status progression written as the batch advances (main.py:47-68)

The ledger is O(runs) rows — it grows with the number of batches,
never with the data — so it lives on the driver: every gate, lookup
and write is a ``pyarrow.parquet`` call, with no Spark job and no
Python worker.

Storage: one directory per table (``data_control_table``,
``interface_config``) holding ONE parquet data file, ``ledger.parquet``,
in the ``CONTROL_SCHEMA`` / ``CONFIG_SCHEMA`` columns (timestamps are
UTC instants, the session time zone). ``spark.read.parquet`` on the
directory keeps working.

Atomic replace: a write builds the complete new table, writes it to a
``_``-prefixed staged file in the same directory, fsyncs it and
``os.replace``s it over the data file. A crash at any point leaves the
previous or the new table, never a torn one; pyarrow and Spark readers
skip ``_`` files, so a staged file left by a crash is never read.
Writes are read-modify-replace: one writer at a time per ledger (the
batch pipeline or the stream that owns it).

Upsert key: run rows are keyed by (interface_cd, load_key), config rows
by (interface_cd, interface_name). Writing an existing key replaces its
row, so a replayed streaming micro-batch updates its ledger row instead
of appending a second one. Values travel as Arrow data, never as SQL
text.

Directories holding several part files from the Spark appends of
earlier versions are still read as one table; the first write folds
them into the single data file.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

CONTROL_SCHEMA = T.StructType([
    T.StructField("interface_name", T.StringType()),
    T.StructField("interface_cd", T.StringType()),
    T.StructField("load_status", T.StringType()),
    T.StructField("load_start_dt_tm", T.TimestampType()),
    T.StructField("load_complete_dt_tm", T.TimestampType()),
    T.StructField("load_key", T.LongType()),
])

CONFIG_SCHEMA = T.StructType([
    T.StructField("interface_cd", T.StringType()),
    T.StructField("interface_name", T.StringType()),
])

DATA_FILE = "ledger.parquet"

_CONTROL_ARROW = to_arrow_schema(CONTROL_SCHEMA)
_CONFIG_ARROW = to_arrow_schema(CONFIG_SCHEMA)


def _now() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc)


def _parse_utc(ts: str) -> dt.datetime:
    """``'YYYY-MM-DD[ HH:MM:SS]'`` as a UTC instant (an explicit offset
    in the string is honoured)."""
    t = dt.datetime.fromisoformat(ts)
    return t.replace(tzinfo=dt.timezone.utc) if t.tzinfo is None else t


def _read_table(path: str, schema: pa.Schema) -> pa.Table:
    data = os.path.join(path, DATA_FILE)
    if os.path.exists(data):
        return pq.read_table(data).cast(schema)
    if not os.path.isdir(path) or not any(
            not f.startswith(("_", ".")) for f in os.listdir(path)):
        return schema.empty_table()
    # part files of a directory written by Spark appends
    return pq.read_table(path).select(schema.names).cast(schema)


def _write_table(path: str, table: pa.Table) -> None:
    """Publish ``table`` as the directory's single data file: staged
    write, fsync, ``os.replace``. Leftover part files are removed only
    after the replace, and readers prefer the data file, so no reader
    sees a row twice."""
    os.makedirs(path, exist_ok=True)
    staged = os.path.join(path, f"_staged-{os.getpid()}.parquet")
    try:
        with open(staged, "wb") as fh:
            pq.write_table(table, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(staged, os.path.join(path, DATA_FILE))
    except BaseException:
        if os.path.exists(staged):
            os.unlink(staged)
        raise
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
    for name in os.listdir(path):
        if name != DATA_FILE and not name.startswith("_staged-"):
            leftover = os.path.join(path, name)
            if os.path.isfile(leftover):
                os.unlink(leftover)


def _upsert(path: str, schema: pa.Schema, key: tuple[str, ...],
            row: dict) -> None:
    want = tuple(row[k] for k in key)
    rows = [r for r in _read_table(path, schema).to_pylist()
            if tuple(r[k] for k in key) != want]
    _write_table(path, pa.Table.from_pylist(rows + [row], schema=schema))


class ControlTable:
    """Run ledger over a warehouse directory."""

    def __init__(self, spark: SparkSession, warehouse_dir: str):
        self.spark = spark
        self.dir = warehouse_dir
        self.control_path = os.path.join(warehouse_dir, "data_control_table")
        self.config_path = os.path.join(warehouse_dir, "interface_config")

    # -- reads ---------------------------------------------------------

    def _runs(self) -> list[dict]:
        return _read_table(self.control_path, _CONTROL_ARROW).to_pylist()

    def control(self) -> DataFrame:
        """The run ledger as a Spark DataFrame (a local Arrow relation:
        no job until an action, no Python worker)."""
        return self.spark.createDataFrame(
            _read_table(self.control_path, _CONTROL_ARROW), CONTROL_SCHEMA)

    def config(self) -> DataFrame:
        return self.spark.createDataFrame(
            _read_table(self.config_path, _CONFIG_ARROW), CONFIG_SCHEMA)

    def interface_exists(self, interface_nm: str, interface_cd: str) -> bool:
        """Existence gate (reference J1: control ⋈ config on cd+name)."""
        def has(rows: list[dict]) -> bool:
            return any(r["interface_cd"] == interface_cd
                       and r["interface_name"] == interface_nm for r in rows)
        return has(self._runs()) and has(
            _read_table(self.config_path, _CONFIG_ARROW).to_pylist())

    def previous_run(self, interface_cd: str) -> Row | None:
        """Latest run row = argmax(load_key) for this interface
        (reference A1's IN (SELECT MAX(...)) subquery). Timestamps come
        back as naive UTC datetimes, as the UTC session collects them."""
        runs = [r for r in self._runs() if r["interface_cd"] == interface_cd]
        if not runs:
            return None
        latest = max(runs, key=lambda r: r["load_key"])
        return Row(**{k: v.replace(tzinfo=None) if isinstance(v, dt.datetime)
                      else v for k, v in latest.items()})

    # -- writes --------------------------------------------------------

    def register_interface(self, interface_cd: str, interface_nm: str) -> None:
        _upsert(self.config_path, _CONFIG_ARROW,
                ("interface_cd", "interface_name"),
                {"interface_cd": interface_cd, "interface_name": interface_nm})

    def add_run_entry(self, interface_nm: str, interface_cd: str,
                      load_key: int, status: str,
                      start_ts: str | None = None) -> None:
        """Upsert the run row for (interface_cd, load_key) (reference
        add_current_run_entry, CheckInterface_Metadata.py:68-100).
        ``start_ts`` (UTC, default now) sets ``load_start_dt_tm``."""
        _upsert(self.control_path, _CONTROL_ARROW,
                ("interface_cd", "load_key"), {
                    "interface_name": interface_nm,
                    "interface_cd": interface_cd,
                    "load_status": status,
                    "load_start_dt_tm": (_parse_utc(start_ts) if start_ts
                                         else _now()),
                    "load_complete_dt_tm": None,
                    "load_key": int(load_key),
                })

    def update_run_status(self, interface_cd: str, load_key: int,
                          status: str, complete: bool = False) -> None:
        """Status update (reference update_current_run_entry,
        CheckInterface_Metadata.py:102-121): rewrite the existing row
        for (interface_cd, load_key); ``complete`` stamps
        ``load_complete_dt_tm``."""
        runs = self._runs()
        row = next((r for r in runs if r["interface_cd"] == interface_cd
                    and r["load_key"] == load_key), None)
        if row is None:
            raise LookupError(
                f"no run row for interface {interface_cd!r} load_key {load_key}")
        row["load_status"] = status
        if complete:
            row["load_complete_dt_tm"] = _now()
        _write_table(self.control_path,
                     pa.Table.from_pylist(runs, schema=_CONTROL_ARROW))

    # -- gates ---------------------------------------------------------

    def assert_previous_success(self, interface_cd: str) -> tuple[str, int]:
        """Abort-if-previous-run-not-Success gate (main.py:15-20).
        Returns (prev_start_ts_str, prev_load_key)."""
        prev = self.previous_run(interface_cd)
        if prev is None:
            raise RuntimeError(f"no previous run for interface {interface_cd}")
        if prev["load_status"] != "Success":
            raise RuntimeError(
                f"previous run (load_key={prev['load_key']}) status "
                f"{prev['load_status']!r} != 'Success' — aborting"
            )
        ts = prev["load_start_dt_tm"]
        return ts.strftime("%Y-%m-%d %H:%M:%S"), int(prev["load_key"])
