"""Embedding vector math as higher-order column functions.

Everything stays JVM-side: ``zip_with`` + ``aggregate`` compile into
codegen'd loops over the array — no UDF, no serialization. Floats are
cast to double *before* multiplication (float×float would accumulate
float error and diverge from any double-math oracle).

Scale: these are narrow per-row expressions — they vectorize across
the whole partition and never shuffle; a 100 TB ANN pass is bounded by
the candidate-pair generation strategy (see operators/similarity.py),
not by this math.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def hyperplane_sign_bits(vec: Column, planes: list[list[int]]) -> Column:
    """LSH bucket id from deterministic ±1 hyperplanes: bit p = 1 iff
    dot(vec, plane_p) >= 0. Returns an int bucket (p0 is the LSB).
    The planes are shared literals with the SQL oracle, so bucketing is
    engine-portable."""
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(s)) for s in plane])
        bit = F.when(dot(vec, arr) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket.cast("int")


def make_planes(n_planes: int, dim: int,
                seed: int = 123456789) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from a fixed LCG — reproducible in
    any engine as data (emitted as literals), no RNG at query time.
    Distinct ``seed`` values give independent plane tables (the
    multi-probe OR-amplification path)."""
    planes = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(1 if (state >> 33) & 1 else -1)
        planes.append(row)
    return planes
