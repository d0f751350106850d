"""Row-content and token hashing — all JVM-side built-ins, zero UDFs.

Reference parity: the delta hash is Oracle ``SHA256_HASH`` over a
separator-less ``COALESCE(CAST(c AS VARCHAR(1000)),'')`` concat
(Delta_detection_query_gen.py:42-44,66,77). We keep the same shape via
``sha2(concat_ws(...), 256)`` but insert a unit separator between
columns: separator-less concat makes ("ab","c") collide with ("a","bc"),
a real correctness hazard the reference carries. The fix is deliberate
and documented; idempotency only needs the hash to be *stable*, which a
fixed separator preserves.

All helpers return lowercase hex strings, matching DuckDB's sha256() so
the differential oracle can reproduce them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ASCII unit separator — never appears in the data domains we hash.
SEP = "\x1f"


def delta_hash(cols: list[str | Column]) -> Column:
    """SHA-256 content hash over the given columns (nulls → '').

    O(1)-width change detection: compare one 64-char column instead of N
    data columns (reference Delta_detection_query_gen.py:55). Runs fully
    in whole-stage codegen.
    """
    normalized = [
        F.coalesce((F.col(c) if isinstance(c, str) else c).cast("string"), F.lit(""))
        for c in cols
    ]
    return F.sha2(F.concat_ws(SEP, *normalized), 256)


def stable_hex_hash(col: Column, width: int = 16) -> Column:
    """Deterministic, engine-portable token hash: the first ``width`` hex
    chars of sha256. Kept as a *string* so min()/comparisons behave
    identically in Spark and any ANSI-SQL oracle (fixed-width hex sorts
    like the number it encodes). Used by minhash / fingerprinting."""
    return F.substring(F.sha2(col, 256), 1, width)
