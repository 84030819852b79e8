"""Property-based determinism tests (hypothesis).

The engine's oracle story rests on three claims:
1. ``dsum``/``davg`` are invariant under partitioning (decimal
   accumulation is exact, so combine order can't matter), and
   ``dec_sum``/``dsum``/``davg`` return the bits of the decimal(18,4) sum
   they replace, grouped and over a window;
2. ``round2`` matches DuckDB's binary-double rounding bit-for-bit;
3. dense surrogate keys equal ROW_NUMBER regardless of partition count.

Hypothesis drives randomized inputs through all three; one Spark job per
example would be glacial, so each property samples batched inputs.
"""

from __future__ import annotations

import duckdb
import pytest
import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from healthcare_data_warehouse_spark.functions.expressions import (
    davg, dec_sum, dsum, round2)

DOUBLES = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(DOUBLES, min_size=1, max_size=300), st.integers(1, 16))
def test_dsum_invariant_under_partitioning(spark, values, parts):
    df = spark.createDataFrame([(v,) for v in values], ["x"])
    a = df.repartition(parts).agg(dsum("x").alias("s")).collect()[0]["s"]
    b = df.coalesce(1).agg(dsum("x").alias("s")).collect()[0]["s"]
    assert a == b  # bit equality, not approx


# Inputs where a double shortcut to CAST(x AS DECIMAL(18,4)) goes wrong:
# exact 5th-decimal ties (HALF_UP on the shortest decimal string, not on
# the binary value), values next to the ±1e14 overflow, the |x·1e4| ≥ 1e15
# exact path, subnormals, signed zeros and nulls.
ADVERSARIAL = [
    0.00005, -0.00005, 0.00015, 1.00005, -2.00015, 12345.67895, 0.12345,
    4201.31505, 99999999999999.98, -99999999999999.98, 99999999999999.9,
    99999999999.99995, -12345678901.23455, 1e11 + 0.00005, 5e-324, -5e-324,
    2.2250738585072014e-308, 0.0, -0.0, None,
]
SUM_INPUTS = st.one_of(
    st.floats(min_value=-1e13, max_value=1e13, allow_nan=False,
              allow_infinity=False),
    st.integers(-2 * 10**9, 2 * 10**9).map(lambda k: k / 20000),
    st.sampled_from(ADVERSARIAL),
)


def _bits(v):
    import struct
    return struct.pack(">d", v) if isinstance(v, float) else v


def _old_sum(x, w=None):
    s = F.sum(F.col(x).cast("decimal(18,4)"))
    return s.over(w) if w is not None else s


def _sum_forms(w=None):
    """(reference, kernel) column pairs: decimal, double and average."""
    old = _old_sum("x", w)
    n = F.count("x").over(w) if w is not None else F.count("x")
    return [(old, dec_sum("x", over=w)),
            (old.cast("double"), dsum("x", over=w)),
            (old.cast("double") / n, davg("x", over=w))]


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(SUM_INPUTS, min_size=1, max_size=200), st.integers(1, 5))
def test_dec_sum_bit_identical_to_decimal_sum(spark, values, parts):
    """The int64-limb kernel returns the decimal(28,4) and double bits of
    ``sum(CAST(x AS DECIMAL(18,4)))``, grouped and ``.over(w)`` (a running
    frame and a whole-partition frame), on any partitioning."""
    from pyspark.sql import Window

    rows = [(i % 3, i, v) for i, v in enumerate(values + ADVERSARIAL)]
    df = spark.createDataFrame(rows, "g int, i long, x double").repartition(parts)
    cols = [c.alias(f"c{j}") for j, pair in enumerate(_sum_forms())
            for c in pair]
    got = df.groupBy("g").agg(*cols).collect()
    running = (Window.partitionBy("g").orderBy("i")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    for w in (running, Window.partitionBy("g")):
        cols = [c.alias(f"c{j}") for j, pair in enumerate(_sum_forms(w))
                for c in pair]
        got += df.select("g", *cols).collect()
    for r in got:
        for j in range(0, 6, 2):
            assert _bits(r[j + 1]) == _bits(r[j + 2]), (r, j)


def test_dec_sum_error_and_null_parity_under_ansi(spark):
    """|x| ≥ 1e14 overflows decimal(18,4): the kernel raises the same
    error class as the cast it replaces. NaN/±Inf cast to NULL, so both
    skip them. (The window forms are the decimal sum itself.)"""
    from pyspark.errors import PySparkException

    def outcome(col):
        try:
            return [tuple(r) for r in df.agg(col.alias("s")).collect()]
        except PySparkException as e:
            return e.getCondition()

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for v in (1e14, -1e14):
            df = spark.createDataFrame([(v,), (1.5,)], "x double")
            want = outcome(_old_sum("x"))
            assert str(want).startswith("NUMERIC_VALUE_OUT_OF_RANGE"), want
            assert outcome(dec_sum("x")) == want
        for v in (float("nan"), float("inf"), float("-inf")):
            df = spark.createDataFrame([(v,), (1.5,)], "x double")
            for old, new in _sum_forms():
                assert outcome(new) == outcome(old), v
            assert outcome(davg("x")) == [(0.75,)]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(DOUBLES, min_size=1, max_size=200))
def test_round2_matches_duckdb_bitwise(spark, values):
    got = [
        r["r"]
        for r in spark.createDataFrame([(v,) for v in values], ["x"])
        .select(round2(F.col("x")).alias("r"))
        .collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute("SELECT floor(CAST(? AS DOUBLE) * 100 + 0.5) / 100", [v]).fetchone()[0]
        for v in values
    ]
    con.close()
    assert got == want


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.sets(st.integers(0, 10**9), min_size=1, max_size=500), st.integers(1, 12))
def test_dense_keys_equal_row_number_any_partitioning(spark, keys, parts):
    from healthcare_data_warehouse_spark.operators.keys import add_dense_key

    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    keyed = add_dense_key(df, ["k"], key_col="sk", num_partitions=parts)
    got = [r["k"] for r in keyed.orderBy("sk").collect()]
    assert got == sorted(keys)


WORDS = st.lists(
    st.text(alphabet="abcde", min_size=1, max_size=5), min_size=1, max_size=40)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(WORDS, min_size=1, max_size=6), st.integers(1, 6))
def test_bpe_merges_match_reference_on_random_corpora(spark, docs, k):
    """Distributed BPE == the pure-Python reference algorithm on arbitrary
    corpora (argmax ties broken identically, fold rewrite identical),
    regardless of partitioning."""
    from healthcare_data_warehouse_spark.operators.bpe import learn_bpe_merges
    from test_bpe import _ref_bpe

    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]).repartition(3)
    got = learn_bpe_merges(df, num_merges=k, checkpoint_every=2)
    want, _, _ = _ref_bpe(texts, k)
    assert got == want


VEC = st.lists(st.floats(min_value=-8, max_value=8, allow_nan=False,
                         allow_infinity=False, width=32),
               min_size=4, max_size=4)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(VEC, min_size=2, max_size=24), st.integers(2, 7))
def test_gemm_pair_search_equals_naive_on_random_vectors(spark, vecs, chunk):
    """cosine_pairs_blas == naive all-pairs expression scoring, bit for
    bit, for arbitrary vectors and chunkings (the margin must never drop
    a qualifying pair; the exact re-filter must never admit an extra)."""
    from pyspark.sql import functions as F

    from healthcare_data_warehouse_spark.operators.similarity import (
        cosine_pairs_blas, dot, norm)

    # drop zero vectors: cosine undefined (0/0 -> NULL on both paths)
    vecs = [v for v in vecs if any(x != 0.0 for x in v)]
    if len(vecs) < 2:
        return
    rows = [(i, i % 2, v) for i, v in enumerate(vecs)]  # two blocks
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>").repartition(3)

    e = df.select("vec_id", "label", "embedding",
                  norm(F.col("embedding")).alias("__n"))
    a, b = e.alias("a"), e.alias("b")
    sim = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.__n") * F.col("b.__n"))
    naive = {(r["id_a"], r["id_b"]): r["s"] for r in (
        a.join(b, (F.col("a.label") == F.col("b.label"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"), sim.alias("s"))
        .filter(F.col("s") >= 0.3).collect())}

    got = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in cosine_pairs_blas(
        df, "label", "vec_id", "embedding",
        threshold=0.3, chunk_rows=chunk).collect()}
    assert got == naive


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(st.sampled_from("ab cd e ff".split()),
                         min_size=0, max_size=20), min_size=1, max_size=6),
       st.integers(2, 3))
def test_dup_ngram_coverage_matches_bruteforce(spark, docs, n):
    """dup_ngram_coverage == a brute-force per-doc reference (gram value
    occurring >=2x; covered positions deduped across overlapping
    occurrences) for arbitrary small-vocab token lists and n in {2,3}."""
    from healthcare_data_warehouse_spark.operators.text import dup_ngram_coverage

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(3)
    got = {r["doc_id"]: (r["dup_chars"], r["total_chars"])
           for r in dup_ngram_coverage(df, n=n).collect()}

    want = {}
    for i, toks in enumerate(docs):
        # NB: Spark's split(trim(''), '\s+') and an empty python list
        # differ: '' tokenizes to [''] (one zero-length token) — mirror it.
        toks = toks if toks else [""]
        grams = [tuple(toks[j:j + n]) for j in range(len(toks) - n + 1)]
        from collections import Counter
        c = Counter(grams)
        covered = set()
        for j, g in enumerate(grams):
            if c[g] >= 2:
                covered.update(range(j, j + n))
        want[i] = (sum(len(toks[p]) for p in covered),
                   sum(len(t) for t in toks))
    assert got == want


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(st.sampled_from(["a", "b", "c"]),
                         min_size=0, max_size=12), min_size=1, max_size=6))
@pytest.mark.slow
def test_duplicated_spans_matches_bruteforce(spark, docs):
    """duplicated_spans == an independent python reference (corpus-wide
    k-gram multiset -> duplicated windows -> gaps-and-islands merge) on
    random tiny-vocab corpora, k=3 — exercising cross-doc duplication,
    self-duplication, overlap merging, and sub-k docs together."""
    from healthcare_data_warehouse_spark.operators.dedup import duplicated_spans

    k = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(3)
    got = {r["doc_id"]: (r["n_tokens"], r["n_dup_spans"], r["dup_tokens"])
           for r in duplicated_spans(df, k=k).collect()}

    from collections import Counter
    toks = {i: (t if t else [""]) for i, t in enumerate(docs)}  # '' -> ['']
    grams = Counter(g for t in toks.values()
                    for g in (tuple(t[j:j + k]) for j in range(len(t) - k + 1)))
    want = {}
    for i, t in toks.items():
        dpos = [j + 1 for j in range(len(t) - k + 1)
                if grams[tuple(t[j:j + k])] > 1]   # 1-based window starts
        spans = []
        for p in dpos:
            if spans and p <= spans[-1][1] + 1:    # overlaps/adjoins island
                spans[-1][1] = p + k - 1
            else:
                spans.append([p, p + k - 1])
        want[i] = (len(t), len(spans), sum(e - s + 1 for s, e in spans))
    assert got == want


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(VEC, min_size=2, max_size=24), st.integers(2, 7),
       st.integers(1, 4))
def test_cosine_topk_per_row_equals_naive_on_random_vectors(
        spark, vecs, chunk, k):
    """cosine_topk_per_row_blas == naive all-pairs + window top-k, bit
    for bit, for arbitrary vectors, chunkings, and k (the per-group
    group-top-k emission must never drop a global top-k partner; the
    exact in-task fold must match the Catalyst expression exactly,
    including the threshold boundary and the dst-asc tie-break)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from healthcare_data_warehouse_spark.operators.similarity import (
        cosine_topk_per_row_blas, dot, norm)

    vecs = [v for v in vecs if any(x != 0.0 for x in v)]
    if len(vecs) < 2:
        return
    rows = [(i, i % 2, v) for i, v in enumerate(vecs)]  # two blocks
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>").repartition(3)

    thr = 0.3
    e = df.select("vec_id", "label", "embedding",
                  norm(F.col("embedding")).alias("__n"))
    a, b = e.alias("a"), e.alias("b")
    sim = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.__n") * F.col("b.__n"))
    w = Window.partitionBy("src").orderBy(F.desc("s"), F.asc("dst"))
    naive = {(r["src"], r["dst"]): r["s"] for r in (
        a.join(b, (F.col("a.label") == F.col("b.label"))
               & (F.col("a.vec_id") != F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("src"),
                F.col("b.vec_id").alias("dst"), sim.alias("s"))
        .filter(F.col("s") >= thr)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k).collect())}

    got = {(r["src"], r["dst"]): r["cosine_sim"] for r in
           cosine_topk_per_row_blas(
               df, "label", "vec_id", "embedding", k=k, threshold=thr,
               chunk_rows=chunk).collect()}
    assert got == naive
