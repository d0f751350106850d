"""The read side's fixed costs, pinned: one Parquet schema inference per
table file, BPE merges that never leave the driver, a ``right_size``
that runs no Spark job, and the job total of one warm benchmark pass
over the five ``query_pass`` registry keys."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as entry
from dht11_data_pipeline_spark.functions.partitioning import right_size
from dht11_data_pipeline_spark.operators import textops
from dht11_data_pipeline_spark.sources.tables import load_table
from tests.test_ledger import _job_count

# Spark jobs of one warm pass over the query_pass keys at sf0.001, each
# built and written to a noop sink: 25 with the schema memo, the
# driver-side BPE merges and the job-free right_size (43 before: a
# schema-inference job per table load, the merge round trip through
# createDataFrame + orderBy + collect, a persist + count gate and the
# partition probe that executed minhash's semi join)
READ_PASS_KEYS = ("q18_large_volume_customers", "j2_scd2_delta_classify",
                  "t_sessionize", "dedup_minhash_lsh", "text_bpe_encode")
READ_PASS_JOB_BUDGET = 25
# Spark jobs of building bpe_encode's frame: the one bounded collect of
# the word table (its shuffle stage plus the result)
BPE_ENCODE_BUILD_JOBS = 2


# -- load_table: one schema inference per table file -------------------------

def test_second_load_of_a_file_runs_no_job(spark, sf_dir, tmp_path):
    shutil.copyfile(f"{sf_dir}/documents.parquet",
                    tmp_path / "documents.parquet")
    with _job_count(spark) as first:
        a = load_table(spark, str(tmp_path), "documents")
    with _job_count(spark) as second:
        b = load_table(spark, str(tmp_path), "documents")
    assert first[0] >= 1 and second == [0], (first, second)
    assert a.schema == b.schema
    assert sorted(b.collect()) == sorted(a.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    got = load_table(spark, str(tmp_path), "t")
    assert got.columns == ["a", "b"]
    assert [tuple(r) for r in got.collect()] == [(3, "x")]


def test_rewritten_directory_table_is_inferred_again(spark, tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), d / "part-0.parquet")
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    (d / "part-0.parquet").unlink()
    pq.write_table(pa.table({"c": ["y"]}), d / "part-1.parquet")
    got = load_table(spark, str(tmp_path), "t")
    assert [tuple(r) for r in got.collect()] == [("y",)]


def test_events_ts_stays_microseconds_through_the_memo(spark, tmp_path):
    """Nanosecond ``ts`` comes back as a microsecond timestamp (ns DIV
    1000) on the inferring load and on the memoized one."""
    ns = [1_704_067_200_123_456_789, 1_704_067_201_000_000_999]
    pq.write_table(pa.table({"event_id": [1, 2],
                             "ts": pa.array(ns, pa.timestamp("ns"))}),
                   tmp_path / "events.parquet", version="2.6")
    want = [v // 1000 for v in ns]
    for _ in range(2):
        df = load_table(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = [r[0] for r in df.orderBy("event_id")
               .select(F.unix_micros("ts")).collect()]
        assert got == want


# -- BPE: the merges stay on the driver ---------------------------------------

def test_bpe_encode_runs_no_round_trip_of_its_merges(spark, sf_dir,
                                                     monkeypatch):
    """``bpe_encode`` builds its merge chain from the driver-side list:
    no ``createDataFrame`` of the merges and no collect of them back.
    Building its frame costs only the word-table collect."""
    docs = load_table(spark, sf_dir, "documents")

    def no_frame(*a, **kw):
        raise AssertionError("merges went through a DataFrame")

    monkeypatch.setattr(textops, "bpe_vocab", no_frame)
    monkeypatch.setattr(SparkSession, "createDataFrame", no_frame)
    with _job_count(spark) as jobs:
        enc = textops.bpe_encode(docs, k=6)
    assert jobs == [BPE_ENCODE_BUILD_JOBS]
    assert enc.count() > 0


def test_bpe_gate_at_the_boundary_takes_the_driver_tier(spark, monkeypatch):
    """A vocabulary of exactly ``cap`` words passes the gate (``cap + 1``
    rows would not), and the tiers agree."""
    df = spark.createDataFrame([(1, "aa bb cc"), (2, "aa bb")],
                               "doc_id long, text string")
    calls = []
    real = textops._bpe_merges_driver
    monkeypatch.setattr(textops, "_bpe_merges_driver",
                        lambda rows, k: calls.append(len(rows))
                        or real(rows, k))
    drv = textops.bpe_vocab(df, k=2, driver_vocab_limit=3).collect()
    assert calls == [3]
    over = textops.bpe_vocab(df, k=2, driver_vocab_limit=2).collect()
    assert calls == [3]
    assert sorted(map(tuple, drv)) == sorted(map(tuple, over))


# -- right_size: decided from the plan ----------------------------------------

def test_right_size_runs_no_job_on_a_join(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    touched = (docs.select(F.col("doc_id").alias("cid"))
               .filter("cid % 7 = 0").localCheckpoint())
    needed = docs.join(touched, docs.doc_id == touched.cid, "left_semi")
    agg = docs.groupBy("lang").count()
    with _job_count(spark) as jobs:
        assert right_size(needed) is needed
        assert right_size(agg) is agg
    assert jobs == [0]


def test_right_size_spreads_a_single_split_scan(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() == 1
    with _job_count(spark) as jobs:
        out = right_size(docs)
    assert jobs == [0]
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


# -- one warm query_pass --------------------------------------------------------

def test_read_pass_job_budget(spark, sf_dir):
    """One warm pass over the ``query_pass`` keys, each built and
    written to a ``noop`` sink, stays within its measured job budget,
    so a change that adds a Spark job to the read side fails here."""
    _read_pass(spark, sf_dir)  # cold: schema inference, codegen
    with _job_count(spark) as jobs:
        _read_pass(spark, sf_dir)
    assert jobs[0] <= READ_PASS_JOB_BUDGET, jobs


def test_second_read_pass_runs_no_more_jobs_than_the_third(
        spark, sf_dir, tmp_path):
    """From a session that has read none of the tables and has the
    parquet nanos-as-long conf at its default, the cold pass leaves
    every table memoized: no table is inferred again in a later pass
    because an events load changed a conf between two reads."""
    tables = str(tmp_path / "tables")
    shutil.copytree(sf_dir, tables)
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    passes = []
    for _ in range(3):
        with _job_count(spark) as jobs:
            _read_pass(spark, tables)
        passes.append(jobs[0])
    assert passes[1] <= passes[2], passes


def _read_pass(spark, sf_dir):
    registry = entry.queries()
    for k in READ_PASS_KEYS:
        (registry[k](spark, sf_dir)
         .write.format("noop").mode("overwrite").save())
