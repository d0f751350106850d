"""Data-layout operators: Z-order (Morton curve) clustering for
multi-dimensional data skipping.

A table sorted on one column prunes file-level min/max stats only for
predicates on that column; range-partitioning on a space-filling curve
key keeps EVERY clustered dimension's values locally dense per file, so
a selective predicate on ANY of them overlaps few files. This is the
layout step a 100 TB deployment runs at write/compaction time (the
reference's landing layer rewrites wholesale each load —
STG_Firebase2Oracle.py:99-119 — which is exactly when you'd apply it).

All Spark-side: bounds come from one metadata-scale aggregate, the
curve key is a pure column expression (codegen), and the write
(``compact(zorder_by=...)``, operators/compact.py) is
``repartitionByRange`` on the key — a single range shuffle, the same
cost as any sorted write. Linear min-max bucketization is the default
cell assignment (cheap, stateless); heavily skewed dimensions opt into
quantile bounds with ``quantile_bits`` (same plan shape, one
driver-side quantile probe) — never applied silently.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _cell(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Linear bucketization of ``col`` into [0, 2^bits) given bounds.
    Constant columns (hi == lo) land in cell 0; values are clamped so
    bounds drift between stats and data can't overflow the cell."""
    n = 1 << bits
    span = hi - lo
    raw = F.when(span <= 0, F.lit(0)).otherwise(
        F.floor((col - lo) / span * n).cast("long"))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1))


def _interleave(cells: list[Column], bits: int) -> Column:
    """Morton code: bit j of dimension i goes to position j*k + i."""
    k = len(cells)
    key = F.lit(0).cast("long")
    for i, cell in enumerate(cells):
        for j in range(bits):
            key = key + F.shiftleft(
                F.shiftright(cell, j).bitwiseAND(F.lit(1)), j * k + i)
    return key


def _as_numeric(df: DataFrame, cols: list[str]) -> list[Column]:
    out = []
    for c in cols:
        dt = dict(df.dtypes)[c]
        col = F.col(c)
        if dt.startswith("timestamp"):
            col = F.unix_micros(col.cast("timestamp")).cast("double")
        elif dt == "date":
            col = F.datediff(col, F.lit("1970-01-01")).cast("double")
        else:
            col = col.cast("double")
        out.append(col)
    return out


def zorder_key(df: DataFrame, cols: list[str], bits: int = 16,
               quantile_bits: int = 0) -> Column:
    """The Morton curve key as a column expression. Bounds are computed
    with one 1-row aggregate (driver metadata action, like AQE stats —
    NOT a per-row collect).

    ``quantile_bits`` > 0 switches a dimension's cell assignment from
    linear min-max bucketization to rank bucketization against 2^q
    approximate quantile boundaries (one driver-side approxQuantile
    probe; cells assigned by a codegen'd CASE ladder over the
    boundaries). Use it for heavily skewed dimensions: linear cells
    collapse skewed mass into a few cells, which destroys curve
    locality exactly where the data is dense."""
    if not cols:
        raise ValueError("zorder_key requires at least one column")
    # Interleaved key must fit in the 63 value bits of a signed long:
    # bit 63 flips the sign (high-cell keys would sort negative-first)
    # and Java shiftleft wraps mod 64 past that, colliding dimensions.
    # Auto-shrink the per-dimension bit budget to keep Morton order.
    bits = min(bits, 63 // len(cols))
    if bits < 1:
        raise ValueError(f"too many z-order columns ({len(cols)}): "
                         "need at least 1 bit per dimension within 63 total")
    if quantile_bits > bits:
        raise ValueError(
            f"quantile_bits={quantile_bits} exceeds per-dimension bit budget "
            f"{bits}: cell spread (1<<bits)//(1<<quantile_bits) would be 0 "
            "and the curve key would be constant")
    nums = _as_numeric(df, cols)
    if quantile_bits:
        n_cells = 1 << quantile_bits
        named = df.select(*[num.alias(f"_q{i}") for i, num in enumerate(nums)])
        probs = [j / n_cells for j in range(1, n_cells)]
        bounds = named.approxQuantile(
            [f"_q{i}" for i in range(len(nums))], probs, 0.001)
        cells = []
        for i in range(len(nums)):
            cell = F.lit(0)
            for b in bounds[i]:
                cell = cell + F.when(nums[i] > F.lit(float(b)), 1).otherwise(0)
            # spread rank cells over the full bit budget so interleaving
            # keeps per-dimension bit positions comparable
            cells.append((cell.cast("long") * ((1 << bits) // n_cells)))
        return _interleave(cells, bits)
    bounds = df.agg(*[f(n).alias(f"{agg}_{i}")
                      for i, n in enumerate(nums)
                      for agg, f in (("lo", F.min), ("hi", F.max))]).first()
    cells = [
        _cell(n, F.lit(float(bounds[f"lo_{i}"])), F.lit(float(bounds[f"hi_{i}"])), bits)
        for i, n in enumerate(nums)
    ]
    return _interleave(cells, bits)
