"""Text-analysis operators for LLM-training-data pipelines.

Beyond-reference scope sanctioned by BASELINE.json "north_star": language
ID, quality scoring, token counting, and document fingerprinting over the
``documents`` table. Everything is native Column expressions (JVM-side,
whole-stage codegen) — no Python row loop anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword heuristic
# language identifier. Real pipelines use fastText/CLD3; the heuristic is
# the deterministic, dependency-free stand-in with identical plumbing.
_LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "que"),
    "de": ("der", "die", "das", "und", "zu"),
    "zh": ("的", "是", "了", "在", "和"),
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(t), r"\s+")


def token_count(text: Column | str) -> Column:
    """Whitespace token count. Oracle:
    ``CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER)``."""
    return F.size(tokens(text)).cast("int")


def quality_features(df: DataFrame, text_col: str = "text",
                     stopwords: tuple[str, ...] = ("the", "a")) -> DataFrame:
    """Per-document quality features (length / word stats / stopword
    ratio) — the classic pre-training quality filters (C4/Gopher rules).

    One tokenize per doc: the naive form (size(tokens) + a
    regexp_replace whitespace-strip + a second tokenize for stopword
    hits) scans every document three times — each top-level expression
    referencing the split pays its own pass, since interpreted-HOF
    projections get no cross-expression subexpression elimination and
    CollapseProject re-inlines the split wherever its alias is
    referenced. Instead word count, non-whitespace length, AND stopword
    hits all fold out of ONE array aggregate over a single split (sum
    of token lengths equals the stripped length exactly, since
    trim+split drops exactly the whitespace — same identity as
    corpus_clean; counting elements equals size()). Measured at sf10
    back-to-back: 14.3 s → 2.2 s together with the spread() at the call
    site. The aggregate lambda touches only its lambda vars (HOF capture
    pitfall)."""
    arr = tokens(text_col)
    zero = F.struct(
        F.lit(0).alias("n"), F.lit(0).alias("nosp"), F.lit(0).alias("stop"))

    def _step(a: Column, x: Column) -> Column:
        hit = F.lit(False)
        for s in stopwords:
            hit = hit | (x == s)
        return F.struct(
            (a["n"] + 1).alias("n"),
            (a["nosp"] + F.length(x)).alias("nosp"),
            (a["stop"] + hit.cast("int")).alias("stop"),
        )

    stats = F.aggregate(arr, zero, _step)
    wc = stats["n"]
    return df.select(
        "doc_id",
        F.length(text_col).cast("int").alias("char_len"),
        wc.cast("int").alias("word_count"),
        (stats["nosp"].cast("double") / wc).alias("avg_word_len"),
        (stats["stop"].cast("double") / wc).alias("stopword_ratio"),
    )


def ngrams(text: Column | str, n: int = 2) -> Column:
    """All word n-grams in document order, NOT deduplicated — the
    frequency-carrying variant of ``dedup.shingles`` (vocabulary counts,
    collocation mining need every occurrence). Same empty-doc guard:
    fewer than n tokens yields an empty array."""
    t = tokens(text)
    n_g = F.greatest(F.lit(0), F.size(t) - (n - 1))
    # Zip of n shifted slices, NOT transform-with-capture: a captured
    # token array re-tokenizes per element in interpreted HOF eval (see
    # dedup.shingles); slices evaluate their argument once per row.
    out = F.slice(t, F.lit(1), n_g)
    for j in range(1, n):
        out = F.zip_with(out, F.slice(t, F.lit(1 + j), n_g),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return out


def ngram_hashes(text: Column | str, n: int = 2) -> Column:
    """Per-occurrence n-gram identities as token-hash structs
    (``array<struct<h1..hn:long>>``) — the COUNT-ONLY fast path for
    n-gram statistics whose output never exposes the gram text
    (familiarity scores, repetition ratios). Grouping and joining on
    fixed-width longs instead of concatenated gram strings skips the
    per-occurrence string build and halves the aggregate's hash/compare
    cost (measured ~2x at sf1 on quality_bigram_lm). Counts are
    identical to the string form unless two distinct TOKENS collide in
    xxhash64 — ~vocab²/2^65 ≈ 1e-9 at a 200k vocabulary, the same
    acceptance as the hashed shingle sets in dedup.jaccard_pairs.
    Same empty-doc guard as ``ngrams``: fewer than n tokens → []."""
    hs = F.transform(tokens(text), lambda w: F.xxhash64(w))
    m = F.greatest(F.lit(0), F.size(hs) - (n - 1))
    slices = [F.slice(hs, i + 1, m) for i in range(n)]
    acc = F.zip_with(slices[0], slices[1],
                     lambda a, b: F.struct(a.alias("h1"), b.alias("h2")))
    def _extend(width: int):
        # factory, not a default arg: pyspark passes one Column per
        # lambda PARAMETER, so an `i=i` capture would receive a Column
        return lambda p, c: F.struct(
            *[p[f"h{j + 1}"].alias(f"h{j + 1}") for j in range(width)],
            c.alias(f"h{width + 1}"))

    for i in range(2, n):
        acc = F.zip_with(acc, slices[i], _extend(i))
    return acc


def dup_ngram_coverage(df: DataFrame, n: int = 2, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Gopher-style duplicate n-gram character coverage (Rae 2021,
    "Scaling Language Models" §A1.1 "fraction of characters in duplicate
    n-grams"; same family as the reference's quality gates).

    A gram VALUE is *duplicated* when it occurs >= 2 times within one
    document; a document's coverage is the set of token positions lying
    under any occurrence of a duplicated gram, each position counted
    ONCE even where occurrences overlap (``x x x`` has two occurrences
    of the bigram ``x x`` sharing the middle token — coverage is 3
    tokens, not 4). Returns one row per input document:
    ``(id_col, dup_chars, total_chars)`` — documents with < n tokens (no
    grams) or no duplicated grams get dup_chars = 0.

    Scale shape: gram identities are xxhash64 token structs (the
    ``ngram_hashes`` identity-by-hash acceptance), each carrying the n
    covered token LENGTHS, so coverage never re-reads the token array —
    3 linear doc-keyed shuffles (gram aggregate, position dedup, per-doc
    sum) and a co-partitioned left join back to per-doc totals. No
    window sort: the gram aggregate collects start offsets with a plain
    hash aggregate (per-gram-per-doc lists are bounded by doc length).
    """
    toks = tokens(text_col)
    arr = df.select(
        id_col,
        F.transform(toks, lambda w: F.xxhash64(w)).alias("hs"),
        F.transform(toks, lambda w: F.length(w)).alias("ls"),
    )
    m = F.greatest(F.lit(0), F.size("hs") - (n - 1))

    def _pair(j: int) -> Column:
        return F.zip_with(F.slice("hs", 1 + j, m), F.slice("ls", 1 + j, m),
                          lambda h, l: F.struct(h.alias("h1"), l.alias("l1")))

    def _extend(width: int):
        # factory, not a default arg: pyspark passes one Column per
        # lambda PARAMETER, so an `i=i` capture would receive a Column
        return lambda p, q: F.struct(
            *[p[f"h{k + 1}"].alias(f"h{k + 1}") for k in range(width)],
            q["h1"].alias(f"h{width + 1}"),
            *[p[f"l{k + 1}"].alias(f"l{k + 1}") for k in range(width)],
            q["l1"].alias(f"l{width + 1}"),
        )

    gh = _pair(0)
    for j in range(1, n):
        gh = F.zip_with(gh, _pair(j), _extend(j))

    base = arr.select(
        id_col,
        # coalesce: NULL text -> NULL token array -> NULL fold; the
        # contract is "EVERY document is kept, scoring 0.0", so an
        # absent text is a zero-length text, not a dropped row
        F.coalesce(
            F.aggregate("ls", F.lit(0).cast("long"), lambda a, x: a + x),
            F.lit(0).cast("long"),
        ).alias("total_chars"),
    )
    occ = arr.select(id_col, F.posexplode(gh).alias("gpos", "g"))
    # Group key is the whole struct: the l-fields are a function of the
    # gram value, so they never split an (h1..hn) group.
    dup = (
        occ.groupBy(id_col, "g")
        .agg(F.count("*").alias("c"), F.collect_list("gpos").alias("starts"))
        .where(F.col("c") >= 2)
    )
    cov = (
        dup.select(id_col, "g", F.explode("starts").alias("gpos"))
        .select(
            id_col,
            F.explode(F.array(*[
                F.struct((F.col("gpos") + j).alias("pos"),
                         F.col("g")[f"l{j + 1}"].alias("plen"))
                for j in range(n)
            ])).alias("pc"),
        )
        .select(id_col, "pc.pos", "pc.plen")
    )
    dup_chars = (
        cov.groupBy(id_col, "pos").agg(F.max("plen").alias("plen"))
        .groupBy(id_col).agg(F.sum("plen").alias("dup_chars"))
    )
    return base.join(dup_chars, id_col, "left").select(
        id_col,
        F.coalesce("dup_chars", F.lit(0)).cast("long").alias("dup_chars"),
        "total_chars",
    )


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lower-cased text. Oracle:
    ``md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))``."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(F.regexp_replace(F.trim(t), r"\s+", " ")))


def _contains_any(words: tuple[str, ...]):
    """Single-parameter lambda factory (a two-parameter lambda would make
    pyspark pass the array index as the second argument)."""
    def _f(w: Column) -> Column:
        c = F.lit(False)
        for s in words:
            c = c | (w == s)
        return c
    return _f


def lang_scores(text: Column | str) -> Column:
    """Map of language → stopword-hit count (the langid evidence)."""
    toks = tokens(text)
    pairs = []
    for lang, words in sorted(_LANG_PROFILES.items()):
        pairs.extend([F.lit(lang), F.size(F.filter(toks, _contains_any(words)))])
    return F.create_map(*pairs)


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: argmax stopword-profile hits, deterministic
    alphabetical tiebreak, 'und' (undetermined) when no profile hits."""
    scores = lang_scores(text)
    entries = F.map_entries(scores)  # array<struct<key,value>> in key order
    best = F.aggregate(
        entries,
        F.struct(F.lit("und").alias("key"), F.lit(0).alias("value")),
        lambda acc, e: F.when(e["value"] > acc["value"], e).otherwise(acc),
    )
    return best["key"]


# ---------------------------------------------------------------------------
# PII redaction (corpus scrubbing)
# ---------------------------------------------------------------------------

# Pattern set kept to syntax both Java regex (Spark, executor-side) and
# RE2-family engines agree on: character classes + bounded quantifiers, no
# backrefs/lookaround — so the same literal patterns are replayable in the
# DuckDB oracle and in any downstream scrub audit.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "[SSN]"),
    # \b can't sit before "(" or "+" (non-word chars), so the optional
    # country code and the area-code alternatives carry their own
    # boundaries on the digit-start branches.
    ("phone",
     r"(\+1[-. ]|\b1[-. ])?(\([0-9]{3}\) ?|\b[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}\b",
     "[PHONE]"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
)


def redact_pii(text: Column | str) -> Column:
    """Replace emails / SSNs / phone numbers / IPv4s with typed tags.

    Chained ``regexp_replace`` — native JVM regex inside whole-stage
    codegen, replace-all semantics, one projection (no Python, no UDF).
    Order matters: SSN before phone (both dash-grouped digits; the
    SSN grouping 3-2-4 must not be half-eaten by the phone rule).

    Guarded by a necessary-condition prefilter: every pattern above
    requires a digit or ``@``, so rows without either (checked with ONE
    char-class scan that exits at the first hit) skip the four-pattern
    chain entirely — CASE WHEN branches evaluate lazily in codegen.
    On prose-heavy corpora most rows take the cheap branch; output is
    byte-identical either way, so the oracle needs no guard."""
    t = F.col(text) if isinstance(text, str) else text
    out = t
    for _, pattern, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, tag)
    return F.when(t.rlike("[0-9@]"), out).otherwise(t)
