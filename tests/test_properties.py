"""Property-based tests (hypothesis) for core invariants:
shingling matches a Python reference, and SCD2 re-apply is a no-op for
arbitrary data — the idempotency the whole pipeline leans on."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dht11_data_pipeline_spark.functions.text import distinct_shingles
from dht11_data_pipeline_spark.operators.scd2 import SCD2Config, apply_scd2, detect_delta

WORD = st.text(alphabet="abcdef", min_size=1, max_size=4)
DOC = st.lists(WORD, min_size=0, max_size=12)

_slow = settings(max_examples=5, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])


def _py_shingles(words: list[str], n: int = 3) -> list[str]:
    seen, out = set(), []
    for i in range(len(words) - n + 1):
        s = " ".join(words[i:i + n])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


@_slow
@given(docs=st.lists(DOC, min_size=1, max_size=8))
def test_shingles_match_python_reference(spark, docs):
    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in enumerate(docs)], "doc_id int, text string")
    got = {r["doc_id"]: list(r["s"]) for r in
           df.select("doc_id", distinct_shingles("text", 3).alias("s")).collect()}
    for i, words in enumerate(docs):
        # split(" ") on "" yields [""], matching " ".join([]) round-trip
        tokens = " ".join(words).split(" ")
        assert got[i] == _py_shingles(tokens), (i, words)


@_slow
@given(docs=st.lists(DOC, min_size=1, max_size=6),
       n=st.integers(2, 9))
def test_generalized_shingle_width_matches_python(spark, docs, n):
    """The zip_with fold must produce exactly the k-grams for ANY width
    (duplicated_spans uses k=8; minhash/jaccard use 3)."""
    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in enumerate(docs)], "doc_id int, text string")
    got = {r["doc_id"]: list(r["s"]) for r in
           df.select("doc_id", distinct_shingles("text", n).alias("s")).collect()}
    for i, words in enumerate(docs):
        tokens = " ".join(words).split(" ")
        assert got[i] == _py_shingles(tokens, n), (i, words, n)


CFG = SCD2Config(natural_keys=["k"], ak_col="ak", key_col="key")

ROWS = st.dictionaries(st.integers(0, 50), st.integers(0, 5),
                       min_size=1, max_size=20)


@_slow
@given(batch=ROWS)
def test_scd2_reapply_is_noop(spark, batch):
    rows = [(k, str(v)) for k, v in batch.items()]
    df = spark.createDataFrame(rows, "k bigint, v string")
    empty = spark.createDataFrame(
        [], "k bigint, v string, ak decimal(18,0), key decimal(18,0),"
        " da_current_flag string, da_deleted_flag string,"
        " da_valid_from_date timestamp, da_valid_to_date timestamp,"
        " da_inserted_datetime timestamp, da_updated_datetime timestamp")
    t1 = apply_scd2(df, empty, CFG, load_ts="2024-01-01 00:00:00")
    # re-apply the identical batch: everything classifies NC...
    delta = detect_delta(df, t1.filter(F.col("da_current_flag") == "Y"), CFG)
    assert {r["upsert_cd"] for r in delta.collect()} == {"NC"}
    # ...and the applied state is bit-identical
    t2 = apply_scd2(df, t1, CFG, load_ts="2024-02-02 00:00:00")
    assert ({tuple(r) for r in t1.collect()} == {tuple(r) for r in t2.collect()})


def _py_morton(cells: list[int], bits: int) -> int:
    k, out = len(cells), 0
    for i, c in enumerate(cells):
        for j in range(bits):
            out |= ((c >> j) & 1) << (j * k + i)
    return out


CELL = st.integers(0, (1 << 8) - 1)


@given(a=CELL, b=CELL, a2=CELL, b2=CELL)
@settings(max_examples=200, deadline=None)
def test_morton_interleave_is_injective_and_dim_monotone(a, b, a2, b2):
    """The Morton code must be a bijection of the cell pair (no two
    pairs share a curve position) and order-preserving within one
    dimension when the other is fixed (locality)."""
    m1, m2 = _py_morton([a, b], 8), _py_morton([a2, b2], 8)
    if (a, b) != (a2, b2):
        assert m1 != m2
    if b == b2 and a < a2:
        assert m1 < m2
    if a == a2 and b < b2:
        assert m1 < m2


def test_morton_column_expr_matches_python(spark):
    """The column-expression interleaver in operators/layout must agree
    with the Python reference on a grid of cells."""
    from dht11_data_pipeline_spark.operators.layout import _interleave

    rows = [(a, b) for a in range(0, 256, 17) for b in range(0, 256, 23)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = df.select("a", "b",
                    _interleave([F.col("a"), F.col("b")], 8).alias("m")).collect()
    for r in got:
        assert r["m"] == _py_morton([r["a"], r["b"]], 8), (r["a"], r["b"])


@given(tf=st.integers(1, 1000), df=st.integers(1, 10_000),
       dl=st.integers(1, 10_000))
@settings(max_examples=200, deadline=None)
def test_bm25_integer_score_monotonicity(tf, df, dl):
    """The integer BM25 surrogate must rise with tf and fall with df
    and dl (the properties ranked retrieval depends on)."""
    N, T = 10_000, 500_000

    def score(tf_, df_, dl_):
        tf_norm = (44 * tf_ * T) / (20 * tf_ * T + 6 * (T + 3 * dl_ * N))
        idf = (2 * (N - df_) + 1) / (2 * df_ + 1)
        return int(tf_norm * idf * 1e9)

    s = score(tf, df, dl)
    assert score(tf + 1, df, dl) >= s
    assert score(tf, df + 1, dl) <= s
    assert score(tf, df, dl + 1) <= s
