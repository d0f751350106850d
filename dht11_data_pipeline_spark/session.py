"""SparkSession factory.

Single place where execution knobs live so tests, bench, and the driver
contract all run the same configuration. Tuned for local[N] testing but
every setting is the one you'd want on a 1000-executor cluster too:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
shuffle partitions sized to the parallelism at hand, Arrow enabled for
the few Pandas-UDF paths, UTC session timezone so timestamp semantics
are stable across engines (the DuckDB differential oracle runs UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "dht11_data_pipeline_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale you'd set this to 2-3x total executor cores (or rely on AQE
    coalescing from a high initial number, which is what we do: AQE
    shrinks post-shuffle partitions to ``advisoryPartitionSizeInBytes``).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # runtime bloom-filter pushed to the probe side of large joins —
        # at 100 TB this prunes shuffle input for selective dim filters
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # JIT code cache: one long-lived JVM running the whole 190+
        # query registry (bench, diffcheck, the driver harness)
        # generates thousands of whole-stage-codegen classes; at the
        # JDK-17 default (240 MB) the cache starts sweeping mid-run and
        # hot interpreted-HOF call sites deopt — measured as a 2-5x
        # slowdown cluster on late-running keys (sim_*, t_*, mm_*)
        # while early keys sit at their floors (round-12 decomposition;
        # the round-11 'spiked rep' shows the same signature). 512 MB
        # holds the full registry's generated code; this is the
        # standard Spark tuning-guide setting for codegen-heavy
        # many-query JVMs and is equally right on a real cluster.
        # SPARK_GRAFT_CODE_CACHE exists for A/B-ing the size against
        # the live registry (round-13 item 1); the setting only takes
        # effect on a FRESH JVM — getOrCreate() against a running
        # session silently ignores extraJavaOptions, which is why
        # tests/test_session_config.py asserts the LIVE JVM's input
        # arguments, not the conf string.
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize="
                + os.environ.get("SPARK_GRAFT_CODE_CACHE", "512m"))
        .config("spark.executor.extraJavaOptions",
                "-XX:ReservedCodeCacheSize="
                + os.environ.get("SPARK_GRAFT_CODE_CACHE", "512m"))
        # Generated-CLASS cache (the Janino/codegen source→class map,
        # static conf, default 100 entries): the 199-query registry
        # generates far more than 100 distinct codegen sources, so at
        # the default every bench rep and every later query evicts and
        # RECOMPILES classes that were just built. r14 full-bench A/B
        # (same code, fresh JVM each): 202.3 s at 5000 entries vs
        # 206.4 s at the default 100, per-key geomean ~5% in favor of
        # 5000, end-of-run JIT code heaps equal (88+76 vs 84+69 MB) —
        # a small win inside the host noise band, kept because the
        # recompile churn it removes is pure waste on any long-lived
        # many-query driver (see BENCH_NOTES_r14.md for both reps).
        # Class metadata lives in metaspace (~100s of MB at 8 GB
        # driver).
        .config("spark.sql.codegen.cache.maxEntries",
                os.environ.get("SPARK_GRAFT_CODEGEN_CACHE_ENTRIES",
                               "5000"))
        # File listing on the driver up to 1024 paths: a txlog
        # snapshot names one directory per bucket (64 by default), and
        # above Spark's default threshold of 32 every snapshot read
        # runs a parallel "Listing leaf files" job with one task per
        # directory. Listing 64 local directories on the driver costs
        # milliseconds; the job costs 0.2-0.3 s per read on a 4-core
        # host, and an SCD2 batch makes three such reads.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "1024")
        # no .crc sidecar per local file: the checksummed local
        # filesystem writes one beside every data file (one more file
        # per bucket per commit). Parquet writes a CRC per page by
        # default but checks it on read only when told to, so the read
        # check is switched on here; a corrupted data page then fails
        # the read instead of returning wrong values. Parquet footers
        # and any non-parquet file Spark writes locally have no
        # checksum at all under the raw filesystem.
        .config("spark.hadoop.fs.file.impl",
                "org.apache.hadoop.fs.RawLocalFileSystem")
        .config("spark.hadoop.parquet.page.verify-checksum.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
