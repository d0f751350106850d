"""Session-level execution knobs that took a round to diagnose stay
pinned here so a refactor cannot silently drop them."""

from __future__ import annotations

import os


def test_code_cache_sized_for_the_full_registry(spark):
    """Round-12 root cause of three rounds of 'unexplained' 2-5x bench
    spikes on late-running keys: the JDK-17 default 240 MB JIT code
    cache fills once one JVM has compiled the whole registry's
    whole-stage-codegen classes, the sweeper evicts hot methods, and
    interpreted-HOF call sites deopt. The 512 MB setting must survive
    on both the driver and executor lines."""
    for scope in ("spark.driver.extraJavaOptions",
                  "spark.executor.extraJavaOptions"):
        opts = spark.conf.get(scope, "")
        assert "ReservedCodeCacheSize=512m" in opts, scope


def test_code_cache_flag_reached_the_live_jvm(spark):
    """The conf string can read back as set while the JVM still runs
    the 240 MB default: getOrCreate() against an already-running
    session silently drops extraJavaOptions (round-12 ADVICE item 3 —
    exactly the inheritance failure suspected behind the driver rep's
    late-key spikes). Assert the LIVE JVM's input arguments, which
    cannot lie about what the process was launched with."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = [str(a) for a in mf.getRuntimeMXBean().getInputArguments()]
    cache_args = [a for a in args if "ReservedCodeCacheSize" in a]
    assert cache_args, (
        "no -XX:ReservedCodeCacheSize flag on the live JVM — the "
        "session builder's extraJavaOptions never reached the process "
        f"(input args: {args})")
    # the LAST occurrence wins in HotSpot if the flag repeats
    import os
    want = os.environ.get("SPARK_GRAFT_CODE_CACHE", "512m")
    assert cache_args[-1].endswith(f"ReservedCodeCacheSize={want}"), (
        f"live JVM runs {cache_args[-1]}, session.py asks for {want}")


def test_partition_listing_stays_on_the_driver(spark):
    """A txlog snapshot names one directory per bucket (64 by default).
    Above the listing threshold (Spark default 32) every snapshot read
    launches a parallel "Listing leaf files" job, 0.2-0.3 s each, three
    per SCD2 batch; the threshold must sit well above the bucket count
    so the listing runs on the driver."""
    assert int(spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold")) >= 1024


def test_engine_knobs_present(spark):
    """The knobs every surface (tests, bench, driver contract) relies
    on: AQE on, Arrow on, UTC session timezone (the DuckDB oracle runs
    UTC — a local-zone session would shift every timestamp hash)."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get(
        "spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def _commit(spark, tmp_path) -> str:
    """A one-commit txlog table; returns its directory."""
    from dht11_data_pipeline_spark.operators import txlog
    from tests.test_scd2 import B1, CFG, _df, _empty_target

    table = str(tmp_path / "t")
    txlog.init_table(table, _empty_target(spark).schema, n_buckets=4)
    txlog.apply_scd2_logged(spark, _df(spark, B1), table, CFG,
                            load_ts="2024-05-05 12:00:00")
    return table


def _data_files(table: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(table, "data"))
            for f in fs]


def test_commit_writes_no_crc_sidecars(spark, tmp_path):
    """Local writes go through the raw local filesystem: a txlog commit
    directory holds parquet files and no ``.crc`` sidecar beside them."""
    files = _data_files(_commit(spark, tmp_path))
    assert any(f.endswith(".parquet") for f in files), files
    assert not [f for f in files if f.endswith(".crc")], files


def test_corrupted_commit_page_fails_the_read(spark, tmp_path):
    """With no ``.crc`` sidecar, parquet's own page CRCs are what catch a
    corrupted file: one flipped byte in a committed data page fails the
    read instead of returning a wrong value."""
    import pyarrow.parquet as pq
    import pytest

    from dht11_data_pipeline_spark.operators import txlog

    table = _commit(spark, tmp_path)
    path = next(f for f in _data_files(table) if f.endswith(".parquet"))
    col = pq.ParquetFile(path).metadata.row_group(0).column(0)
    # the chunk's last byte is page data, after the last page's header
    start = (col.dictionary_page_offset if col.has_dictionary_page
             else col.data_page_offset)
    last = start + col.total_compressed_size - 1
    with open(path, "r+b") as fh:
        fh.seek(last)
        byte = fh.read(1)[0]
        fh.seek(last)
        fh.write(bytes([byte ^ 0x01]))
    with pytest.raises(Exception, match="CRC checksum verification failed"):
        txlog.read_table(spark, table).collect()
