"""BPE merge learning vs a pure-Python reference implementation of the
published algorithm (Sennrich et al. 2016), same tie-break rules."""

from __future__ import annotations

import re
import threading
from collections import Counter

from pyspark.sql import functions as F

from healthcare_data_warehouse_spark.operators.bpe import (
    _sql_str,
    bpe_segment,
    learn_bpe_merges,
)
from conftest import SF_SMOKE


def _ref_bpe(texts: list[str], num_merges: int):
    """Reference BPE: word-type vocab, argmax pair by (count desc, pair
    lexicographic asc), left-to-right non-overlapping merge."""
    vocab = Counter()
    for t in texts:
        for w in re.split(r"\s+", t.strip()):
            if w:
                vocab[w] += 1
    symtab = {w: list(w) + ["</w>"] for w in vocab}
    merges = []
    for rank in range(num_merges):
        pairs = Counter()
        for w, cnt in vocab.items():
            syms = symtab[w]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), n = best
        merges.append((rank, left, right, n))
        for w in symtab:
            symtab[w] = _ref_merge(symtab[w], left, right)
    return merges, symtab, vocab


def _ref_merge(syms: list[str], left: str, right: str) -> list[str]:
    """Left-to-right non-overlapping merge of adjacent (left, right)."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def test_learn_bpe_matches_reference(spark):
    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "low new low wide wider widest",
        "the the the them theme",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = learn_bpe_merges(df, num_merges=10, checkpoint_every=3)
    want, _, _ = _ref_bpe(texts, 10)
    assert got == want


def test_learn_bpe_on_corpus_deterministic(spark):
    from healthcare_data_warehouse_spark.sources.loaders import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    a = learn_bpe_merges(docs, num_merges=4)
    b = learn_bpe_merges(docs.repartition(13), num_merges=4)
    assert a == b and len(a) == 4
    texts = [r["text"] for r in docs.select("text").collect()]
    want, _, _ = _ref_bpe(texts, 4)
    assert a == want


def test_bpe_segment_matches_reference_token_counts(spark):
    texts = ["low lower lowest", "new newer lowest low"]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    merges = learn_bpe_merges(df, num_merges=5)
    got = {r["doc_id"]: (r["n_subwords"], r["n_sym_chars"])
           for r in bpe_segment(df, merges).collect()}

    _, symtab, _ = _ref_bpe(texts, 5)
    for doc_id, t in enumerate(texts):
        words = [w for w in re.split(r"\s+", t.strip()) if w]
        n_sub = sum(len(symtab[w]) for w in words)
        n_chars = sum(len(s) for w in words for s in symtab[w])
        assert got[doc_id] == (n_sub, n_chars)


def _ref_segment(texts: list[str], merges) -> dict[int, tuple[int, int]]:
    """Per-doc (subword count, symbol chars) of applying ``merges`` in
    rank order."""
    out = {}
    for doc_id, t in enumerate(texts):
        n_sub = n_chars = 0
        for w in (w for w in re.split(r"\s+", t.strip()) if w):
            syms = list(w) + ["</w>"]
            for _, left, right, _ in sorted(merges):
                syms = _ref_merge(syms, left, right)
            n_sub += len(syms)
            n_chars += sum(len(s) for s in syms)
        out[doc_id] = (n_sub, n_chars)
    return out


def test_bpe_segment_quotes_merge_literals(spark):
    # the folds are SQL text: every merge token becomes a string literal,
    # so quotes, backslashes, non-ASCII, "${...}" (which the SQL parser
    # would substitute) and end-marker look-alikes must round-trip
    texts = [
        "it's it's don't a\\b a\\b say\"hi\"",
        "héllo wörld héllo ${spark.app.name} \\u0024x",
        "</w>x x</w> x </w> ''q ''q",
    ]
    pairs = [("'", "s"), ("a", "\\"), ("a\\", "b"), ("\"", "h"), ("h", "é"),
             ("hé", "l"), ("ö", "r"), ("$", "{"), ("${", "s"), ("\\", "u"),
             ("<", "/"), ("</", "w"), ("</w", ">"), ("x", "</w>"), ("'", "'"),
             ("''", "q"), ("t", "'s")]
    merges = [(rank, left, right, 1) for rank, (left, right) in enumerate(pairs)]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_subwords"], r["n_sym_chars"])
           for r in bpe_segment(df, merges).collect()}
    assert got == _ref_segment(texts, merges)


def test_sql_string_literal_round_trips(spark):
    toks = ["'", "\\", "\\'", "\"", "é", "日本", "</w>", "${spark.app.name}",
            "\\u0024", "$", "a b", ""]
    row = spark.range(1).select(
        *[F.expr(_sql_str(t)).alias(f"c{i}") for i, t in enumerate(toks)]).first()
    assert list(row) == toks


def test_bpe_segment_builds_in_few_py4j_round_trips(spark, monkeypatch):
    # Built from Column operations with PySpark's call-site capture on,
    # this build took 1,935 py4j commands; as SQL text with the capture
    # off it takes about 130. The bound is a tenth of the old count.
    texts = ["low lower lowest", "new newer lowest low"]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    merges = [(0, "l", "o", 5), (1, "lo", "w", 5), (2, "e", "r", 3),
              (3, "n", "e", 3), (4, "ne", "w", 3), (5, "low", "</w>", 2),
              (6, "w", "e", 2), (7, "er", "</w>", 2)]
    bpe_segment(df, merges)  # first build also resolves JVM classes
    client = spark.sparkContext._gateway._gateway_client
    send = type(client).send_command
    calls = []
    build_thread = threading.current_thread()

    def counting(self, *args, **kwargs):
        # py4j's finalizer thread sends one delete per JavaObject that an
        # earlier test left to the garbage collector; those are not this
        # build's round trips, and how many land in the window depends
        # on when the collector last ran
        if threading.current_thread() is build_thread:
            calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(type(client), "send_command", counting)
    bpe_segment(df, merges)
    monkeypatch.undo()
    assert 0 < len(calls) <= 1935 // 10


def _cached_partitions(spark) -> dict[int, int]:
    """RDD id -> cached partitions, for every RDD holding blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id(): i.numCachedPartitions() for i in infos}


def test_learn_bpe_releases_its_checkpoints(spark):
    """Every round's localCheckpoint is released by the time the merges
    come back: no RDD created during the call still holds blocks. (RDDs
    cached before the call are left out, so another test's persist being
    reaped meanwhile cannot move the count.)"""
    df = spark.createDataFrame(
        [(0, "low lower lowest low"), (1, "new newer newest wide")],
        ["doc_id", "text"])
    before = _cached_partitions(spark)
    merges = learn_bpe_merges(df, num_merges=6, checkpoint_every=2)
    assert len(merges) == 6
    left = {rdd: n for rdd, n in _cached_partitions(spark).items()
            if rdd not in before}
    assert left == {}
