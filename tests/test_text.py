"""Tests for text-analysis operators (tokens / quality / langid /
fingerprint)."""

from __future__ import annotations

import pyspark.sql.functions as F

from healthcare_data_warehouse_spark.operators.text import (
    fingerprint,
    lang_id,
    quality_features,
    token_count,
)


def test_token_count(spark):
    df = spark.createDataFrame([("one two  three",), ("single",)], ["text"])
    got = [r["n"] for r in df.select(token_count("text").alias("n")).collect()]
    assert got == [3, 1]


def test_lang_id_picks_profile(spark):
    rows = [("the cat and the dog of a house",),   # en stopwords
            ("el la de que y el la",),              # es stopwords
            ("zzz qqq www",)]                       # no hits → und
    df = spark.createDataFrame(rows, ["text"])
    got = [r["p"] for r in df.select(lang_id("text").alias("p")).collect()]
    assert got == ["en", "es", "und"]


def test_fingerprint_whitespace_and_case_insensitive(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",), ("different",)], ["text"]
    )
    got = [r["f"] for r in df.select(fingerprint("text").alias("f")).collect()]
    assert got[0] == got[1] != got[2]


def test_quality_features_values(spark):
    df = spark.createDataFrame([(7, "the aaaa bb")], ["doc_id", "text"])
    r = quality_features(df).collect()[0]
    assert r["char_len"] == 11
    assert r["word_count"] == 3
    assert abs(r["avg_word_len"] - 3.0) < 1e-12   # 9 non-space chars / 3
    assert abs(r["stopword_ratio"] - 1 / 3) < 1e-12


def test_redact_pii_planted(spark):
    from healthcare_data_warehouse_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.com now"),
            (2, "ssn 123-45-6789 phone (555) 123-4567 ip 10.0.0.1"),
            (3, "call +1 555 867 5309 or 555.867.5309"),
            (4, "no pii here, just 1234 and a-b-c"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in
           df.select("doc_id", redact_pii("text").alias("t")).collect()}
    assert out[1]["t"] == "mail [EMAIL] now"
    assert out[2]["t"] == "ssn [SSN] phone [PHONE] ip [IP]"
    assert out[3]["t"] == "call [PHONE] or [PHONE]"
    assert out[4]["t"] == "no pii here, just 1234 and a-b-c"


def test_bm25_matches_numpy_replica(spark):
    """The Spark BM25 plan must reproduce a straight-line numpy replay
    of the same formula on the same corpus: identical top-10 ids and
    scores to 1e-9 (ln/divisions only — no order-dependent sums)."""
    import math
    import re
    from collections import Counter

    import duckdb

    import __spark_entry__ as entrymod
    from conftest import SF_SMOKE

    got = entrymod.queries()["bm25_topk"](spark, SF_SMOKE).collect()

    rows = duckdb.sql(
        f"SELECT doc_id, trim(text) AS t FROM "
        f"read_parquet('{SF_SMOKE}/documents.parquet')").fetchall()
    terms, k1, b = ["join", "hash"], 1.2, 0.75
    # Mirror the plan's tokens() exactly: splitting an empty/whitespace-only
    # text yields [''] (dl=1), not [] — avgdl must agree with the plan even
    # if the corpus ever gains an empty document.
    docs = {i: re.split(r"\s+", t) for i, t in rows}
    n = len(docs)
    avgdl = sum(len(v) for v in docs.values()) / n
    tf = {i: Counter(w for w in v if w in terms) for i, v in docs.items()}
    df = Counter(t for c in tf.values() for t in c)
    scores = {}
    for i, c in tf.items():
        s = 0.0
        for t, f in c.items():
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            raw = idf * (f * (k1 + 1)) / (f + k1 * (1 - b + b * len(docs[i]) / avgdl))
            # mirror the plan: per-term 4dp IEEE-pure rounding, then an
            # exact (decimal) sum — makes the score libm-portable
            s += math.floor(raw * 10000 + 0.5) / 10000
        if c:
            scores[i] = s
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [r["doc_id"] for r in got] == [i for i, _ in top]
    for r, (_, s) in zip(got, top):
        assert abs(r["bm25"] - s) < 1e-9


def test_ngram_hashes_counts_match_string_ngrams(spark):
    """The hash-pair fast path must produce the same per-doc n-gram
    count multiset as the string form for n=2 and n=3 (the certified
    quality queries group on it), including the <n-token empty-array
    edge."""
    import pyspark.sql.functions as F

    from healthcare_data_warehouse_spark.operators.text import (
        ngram_hashes,
        ngrams,
    )

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "x"), (3, ""), (4, "p q p q p q")],
        "doc_id int, text string")
    for n in (2, 3):
        by_str = {
            (r["doc_id"], tuple(sorted(r["c"]))) for r in
            df.select(
                "doc_id",
                F.explode_outer(ngrams("text", n)).alias("g"))
            .groupBy("doc_id", "g").count()
            .groupBy("doc_id")
            .agg(F.collect_list("count").alias("c")).collect()
        }
        by_hash = {
            (r["doc_id"], tuple(sorted(r["c"]))) for r in
            df.select(
                "doc_id",
                F.explode_outer(ngram_hashes("text", n)).alias("g"))
            .groupBy("doc_id", "g").count()
            .groupBy("doc_id")
            .agg(F.collect_list("count").alias("c")).collect()
        }
        assert by_str == by_hash


def test_dup_ngram_coverage_bigrams(spark):
    from healthcare_data_warehouse_spark.operators.text import dup_ngram_coverage
    rows = [
        (1, "aa bb aa bb cc"),   # "aa bb" dup at pos 0,2 → cover {0,1,2,3} = 8 of 10
        (2, "xx xx xx"),         # overlapping dup occurrences: cover 3 tokens, not 4
        (3, "one two three"),    # no dup gram → 0
        (4, "solo"),             # < n tokens → no grams → 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["dup_chars"], r["total_chars"])
           for r in dup_ngram_coverage(df, n=2).collect()}
    assert got == {1: (8, 10), 2: (6, 6), 3: (0, 11), 4: (0, 4)}


def test_dup_ngram_coverage_trigrams(spark):
    from healthcare_data_warehouse_spark.operators.text import dup_ngram_coverage
    # "a b c" repeats 3× → every trigram value occurs >= 2× → full coverage
    df = spark.createDataFrame([(1, "a b c a b c a b c")], ["doc_id", "text"])
    r = dup_ngram_coverage(df, n=3).collect()[0]
    assert (r["dup_chars"], r["total_chars"]) == (9, 9)


def test_dup_ngram_coverage_null_and_empty_text_kept(spark):
    """The contract is 'EVERY document is kept, scoring 0.0': a NULL or
    empty text must yield (dup_chars=0, total_chars=0), not a dropped
    row or NULL totals — and the catalog's frac expression then gives
    exactly 0.0 (both sides of the oracle agree via LEFT JOIN/COALESCE)."""
    from healthcare_data_warehouse_spark.operators.text import dup_ngram_coverage

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a a a")], "doc_id long, text string")
    got = {r["doc_id"]: (r["dup_chars"], r["total_chars"])
           for r in dup_ngram_coverage(df, n=2).collect()}
    assert got[1] == (0, 0)
    assert got[2] == (0, 0)
    assert got[3] == (3, 3)  # overlap counted once

    frac = (
        dup_ngram_coverage(df, n=2)
        .select("doc_id",
                F.when(F.col("total_chars") == 0, F.lit(0.0))
                .otherwise(F.col("dup_chars").cast("double")
                           / F.col("total_chars")).alias("f"))
        .collect())
    assert {r["doc_id"]: r["f"] for r in frac} == {1: 0.0, 2: 0.0, 3: 1.0}
