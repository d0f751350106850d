"""Z-order layout: multi-dimensional data skipping.

The claim under test: range-partitioning on the Morton key keeps BOTH
clustered dimensions dense per file, so a narrow predicate on EITHER
dimension overlaps only a small fraction of files — whereas a layout
sorted on one dimension alone prunes nothing on the other.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from layout_stats import file_minmax, overlap_fraction

from dht11_data_pipeline_spark.operators import layout
from dht11_data_pipeline_spark.operators.compact import compact, dir_bytes
from dht11_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"
N_FILES = 16


def _write_zordered(spark, df, path, cols, n_files, quantile_bits=0):
    """Write ``df``, then cluster it in place the way a deployment
    does, ``compact(zorder_by=...)``, sized to ``n_files`` files."""
    df.write.mode("overwrite").parquet(path)
    target_mb = dir_bytes(path) / (n_files - 0.5) / (1024 * 1024)
    assert compact(spark, path, target_mb=target_mb, zorder_by=cols,
                   quantile_bits=quantile_bits) == n_files


@pytest.fixture(scope="module")
def zordered(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("zo") / "orders_zo")
    o = load_table(spark, SF, "orders")
    _write_zordered(spark, o, path, ["o_custkey", "o_totalprice"], N_FILES)
    return path


def test_roundtrip_lossless(spark, zordered):
    o = load_table(spark, SF, "orders")
    back = spark.read.parquet(zordered)
    assert back.count() == o.count()
    assert sorted(back.columns) == sorted(o.columns)
    assert back.select(F.sum("o_orderkey")).first()[0] == \
        o.select(F.sum("o_orderkey")).first()[0]


def _mean_overlap(stats, col, path, spark):
    """Mean overlap fraction of 5%-wide probes across the value range.
    Averaging matters: a single probe can straddle a quadrant boundary
    of the curve (the worst case) and hit most files."""
    centers = [0.1, 0.3, 0.5, 0.7, 0.9]
    qs = sorted({q for c in centers for q in (c - 0.025, c + 0.025)})
    vals = spark.read.parquet(path).approxQuantile(col, qs, 0.001)
    byq = dict(zip(qs, vals))
    fr = [overlap_fraction(stats, col, byq[c - 0.025], byq[c + 0.025])
          for c in centers]
    return sum(fr) / len(fr)


def test_both_dimensions_prune(spark, zordered):
    stats = file_minmax(
        spark, zordered, ["o_custkey", "o_totalprice"]).cache()
    assert stats.count() == N_FILES
    f_cust = _mean_overlap(stats, "o_custkey", zordered, spark)
    f_price = _mean_overlap(stats, "o_totalprice", zordered, spark)
    # a single-dim sort gives ~1.0 on the other dim; z-order keeps the
    # mean well below on BOTH (16 files, 5% probes)
    assert f_cust <= 0.55, f_cust
    assert f_price <= 0.55, f_price


def test_single_sort_does_not_prune_other_dim(spark, tmp_path):
    path = str(tmp_path / "orders_sorted")
    o = load_table(spark, SF, "orders")
    (o.repartitionByRange(N_FILES, "o_custkey")
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(path))
    stats = file_minmax(spark, path, ["o_custkey", "o_totalprice"])
    vals = spark.read.parquet(path).approxQuantile(
        "o_totalprice", [0.475, 0.525], 0.001)
    f_price = overlap_fraction(stats, "o_totalprice", vals[0], vals[1])
    assert f_price >= 0.9, f_price  # the baseline z-order beats


def test_constant_column_is_safe(spark, tmp_path):
    path = str(tmp_path / "const_zo")
    df = spark.range(1000).select(
        F.col("id"), F.lit(7.0).alias("c"))
    _write_zordered(spark, df, path, ["id", "c"], 4)
    assert spark.read.parquet(path).count() == 1000


def test_key_is_deterministic(spark):
    o = load_table(spark, SF, "orders").limit(500)
    k1 = o.withColumn("k", layout.zorder_key(o, ["o_custkey", "o_totalprice"]))
    k2 = o.withColumn("k", layout.zorder_key(o, ["o_custkey", "o_totalprice"]))
    assert k1.exceptAll(k2).count() == 0


def test_quantile_cells_fix_skew(spark, tmp_path):
    """A heavily skewed dimension collapses under linear min-max cells
    (most mass lands in a couple of cells → poor locality); quantile
    cells restore balanced pruning on that dimension."""
    df = spark.range(20_000).selectExpr(
        "id AS k",
        # skew: long tail — 99% of mass in ~1% of the value range
        "CAST(pow(CAST(id % 1000 AS DOUBLE) / 1000.0, 8.0) * 1e9 AS DOUBLE) AS v")
    lin = str(tmp_path / "lin")
    qtl = str(tmp_path / "qtl")
    _write_zordered(spark, df, lin, ["k", "v"], 16)
    _write_zordered(spark, df, qtl, ["k", "v"], 16, quantile_bits=4)
    s_lin = file_minmax(spark, lin, ["v"])
    s_qtl = file_minmax(spark, qtl, ["v"])
    f_lin = _mean_overlap(s_lin, "v", lin, spark)
    f_qtl = _mean_overlap(s_qtl, "v", qtl, spark)
    # dense-region probes must touch fewer files under quantile cells
    # (mean over probes — single probes can straddle a curve boundary)
    assert f_qtl < f_lin, (f_qtl, f_lin)
    assert f_qtl <= 0.6, f_qtl
