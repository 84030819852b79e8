"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Core LLM-corpus operators (north_star scope). The scale shape matters more
than the hash choice:

- exact: one hash-groupBy shuffle, O(n).
- MinHash+LSH: signatures are computed scan-side with native array
  expressions (no Python), then ONE explode+groupBy shuffle on
  (band, band_hash) buckets — candidate pairs come from bucket-mates
  only, never an O(n²) cross join.
- SimHash: 48-bit signature per doc via bit-vote aggregation; near-match
  candidates (hamming ≤ h) come from pigeonhole chunk buckets — the
  signature splits into h+1 equal chunks and any qualifying pair matches
  at least one chunk exactly, so recall is perfect without an n² join.
- Degenerate-bucket guard (both LSH and SimHash): buckets larger than
  ``max_bucket_size`` are dropped before the within-bucket pairing, bounding
  the candidate count under skew; identical docs are exact-dedup's job.
- n-gram Jaccard: the verify step on candidate pairs (set intersection /
  union on shingle arrays).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import hash52, hexslice, md5hex
from .text import tokens

# Salts naming the independent hash functions of the dedup family. All
# hashes here are md5-derived (``hash52``/``md5hex``) rather than xxhash64
# so the DuckDB oracle can replay signatures, buckets, and candidate pairs
# bit-for-bit — xxhash64 exists only in Spark, and a hash-dependent
# output can't be certified without the identical hash on both sides.
# MinHash draws BOTH Kirsch-Mitzenmacher base hashes from disjoint bit
# ranges of ONE md5 (hex 1-13 → h1, hex 14-21 → h2): md5 bits are
# independent, and codegen's subexpression elimination evaluates the md5
# once per shingle.
MINHASH_SALT = "mh:"
BAND_SALT = "bh:"
SIMHASH_SALT = "sx:"


def _mh_pair(s: Column) -> tuple[Column, Column]:
    """(h1, h2) minhash base hashes from one md5 of a shingle."""
    m = md5hex(s, MINHASH_SALT)
    return hexslice(m, 1, 13), F.pmod(hexslice(m, 14, 8), F.lit(2**31))

# ---------------------------------------------------------------------------
# Shingles
# ---------------------------------------------------------------------------


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles. Oracle (DuckDB):
    ``list_distinct(list_transform(generate_series(1, len(toks)-n+1),
    i -> toks[i] || ' ' || ... ))`` — identical output, built here as a
    zip of n shifted slices.

    Shape matters more than it looks: the earlier form captured the
    token array (a ``split`` over the full text) inside a ``transform``
    lambda, and interpreted HOF evaluation re-evaluates CAPTURED outer
    expressions per element — the split ran ~n×n_shingles times per row
    and dominated every shingle consumer at scale (jstack at sf30 showed
    all 32 cores inside ``StringSplit.nullSafeEval``). Slices evaluate
    their argument once (argument position, not capture), and the
    ``zip_with`` lambdas reference ONLY their lambda variables, so the
    split now runs n times per row, independent of document length.

    Docs with fewer than n tokens yield an EMPTY array: n_sh clamps at 0
    and slice(_, 1, 0) is []."""
    t = tokens(text)
    n_sh = F.greatest(F.lit(0), F.size(t) - (n - 1))
    out = F.slice(t, F.lit(1), n_sh)
    for j in range(1, n):
        shifted = F.slice(t, F.lit(1 + j), n_sh)
        out = F.zip_with(out, shifted,
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(out)


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content hash: representative id + dup count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures_df(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                          num_hashes: int = 16, n: int = 3) -> DataFrame:
    """MinHash signatures the scale way: explode shingles, one hash-agg
    with ``num_hashes`` MIN columns — whole-stage codegen end to end, one
    shuffle on the doc id. Each exploded row computes TWO md5-derived
    hashes (h1, h2); the j-th permutation is h1 + j·h2
    (Kirsch-Mitzenmacher), so hashing cost is O(2) per shingle instead of
    O(num_hashes), and the DuckDB oracle replays the signatures exactly
    (see ``hash52``).

    The input is repartitioned by ``id_col`` FIRST: document corpora often
    arrive as few large files (one scan partition per file), and
    tokenize+shingle+hash is the CPU-heavy stage — shuffling the compact
    docs relation up front spreads that work across the cluster, and the
    groupBy then reuses the hash partitioning (zero additional shuffle,
    versus shuffling the ~50×-larger exploded shingle stream). Measured at
    sf0.1/local[32]: 8.9s → <1s for the full LSH pipeline.

    The partition count is pinned to the cluster's defaultParallelism
    (``skew.spread``): without it AQE coalesces the byte-wise-tiny docs
    shuffle back to one partition (AQE sizes by bytes and cannot see that
    the downstream explode multiplies CPU ~50×)."""
    from .skew import spread

    sh = spread(df, id_col).select(
        F.col(id_col), F.explode(shingles(text_col, n)).alias("__s")
    ).select(
        id_col,
        # h1 + j·h2 stays inside long range (ANSI overflow-safe):
        # h1 < 2^52, j·h2 < num_hashes·2^31 ≪ 2^62.
        _mh_pair(F.col("__s"))[0].alias("__h1"),
        _mh_pair(F.col("__s"))[1].alias("__h2"),
    )
    aggs = [
        F.min(F.col("__h1") + F.lit(j) * F.col("__h2")).alias(f"h{j}")
        for j in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _id_pair(x: Column, y: Column) -> list[Column]:
    return [x.alias("id_a"), y.alias("id_b")]


def bucket_pairs(df: DataFrame, key_cols: Sequence[str], member: Column,
                 pair: Callable[[Column, Column], list[Column]] = _id_pair
                 ) -> DataFrame:
    """Distinct pairs of ``df`` rows sharing a bucket ``key_cols``: the
    within-bucket pairing every candidate generator here shares.

    Array-native (r11, guide §2.4 — collapse same-key stages): ONE
    groupBy on the bucket key collects each bucket's ``member`` values
    into a sorted array, and element i pairs with every later element
    (1-indexed slice from i+2) task-locally. When the caller's
    bucket-size window already hash-partitioned ``df`` on ``key_cols``
    the groupBy reuses that partitioning (no second exchange). The
    caller bounds bucket sizes (a size guard, a document-frequency cap):
    a bucket of s members emits s·(s−1)/2 pairs from one task. The
    within-bucket SELF-JOIN this replaced computed the same pairs, but
    its aliased branches never share subtrees, so the plan paid the
    whole upstream subtree twice plus a broadcast build of one side.

    ``pair(x, y)`` maps two members, x sorting before y, to the output
    columns; they must include ``id_a`` and ``id_b`` (the default: the
    members themselves are the ids). A struct member sorts by its first
    field, so put the id first and carry payload after it (SimHash
    carries its signature to compute the hamming distance in the
    fan-out). The strict ``id_a < id_b`` filter reproduces the old
    join's strict inequality even for a duplicate id in one bucket."""
    members = (
        df.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_list(member)).alias("__m"))
        .filter(F.size("__m") >= 2)
    )
    fanned = F.flatten(F.transform(
        F.col("__m"),
        lambda x, i: F.transform(
            F.slice(F.col("__m"), i + F.lit(2), F.size(F.col("__m"))),
            lambda y: F.struct(*pair(x, y)),
        ),
    ))
    return (
        members.select(F.explode(fanned).alias("__p"))
        .select("__p.*")
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def lsh_candidate_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        num_hashes: int = 16, bands: int = 4,
                        max_bucket_size: int = 64) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH.

    Docs sharing any band hash land in one bucket; all id-ordered pairs
    *within buckets* are candidates. Bucket sizes are small by
    construction EXCEPT when a band hash is degenerate (e.g. every empty
    doc hashes identically), which would make the within-bucket pairing
    quadratic. The skew guard drops buckets larger than
    ``max_bucket_size`` BEFORE pairing: a bucket of size s contributes
    s·(s-1)/2 pairs, so the cap bounds the output at
    ``buckets × max_bucket_size²/2`` regardless of input skew. Degenerate
    buckets are near-exact duplicates anyway — the exact-dedup pass
    (``exact_dedup_groups``) owns those.

    Pairing is ``bucket_pairs``: the bucket-size window, the per-bucket
    id list, and the pair fan-out all run on ONE (band, band_hash)
    hash-partitioning. The pre-r11 within-bucket self-join cost one more
    exchange plus an 8.9 MB broadcast build at sf0.1, and at 100 TB a
    broadcast (or sort-merge re-sort) of the ENTIRE capped banded
    relation."""
    from pyspark.sql import Window

    rows_per_band = num_hashes // bands
    sig = minhash_signatures_df(df, text_col, id_col, num_hashes)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            hash52(
                F.concat_ws(",", *[F.col(f"h{b * rows_per_band + r}")
                                   for r in range(rows_per_band)]),
                BAND_SALT,
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        id_col, F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, "bb.band", "bb.band_hash")
    bucket_w = Window.partitionBy("band", "band_hash")
    banded = (
        banded.withColumn("__bucket_n", F.count("*").over(bucket_w))
        .filter(F.col("__bucket_n") <= max_bucket_size)
        .drop("__bucket_n")
    )
    return bucket_pairs(banded, ["band", "band_hash"], F.col(id_col))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(text: Column | str, bits: int = 48) -> Column:
    """SimHash signature: per-token md5-derived hash (``hash52`` — oracle-
    replayable), bit-position votes, sign of the vote sum per bit. Native
    array aggregation — no UDF. 48 bits (≤ the 52 hash bits) keeps
    every power of two exactly representable through the double-based
    bit mask (F.shiftleft requires a Python int, so inside SQL lambdas the
    mask is pow(2, i) — exact for powers of two up to 2^53)."""
    toks = F.array_distinct(tokens(text))
    hashes = F.transform(toks, lambda w: hash52(w, SIMHASH_SALT))

    def pow2(i: Column) -> Column:
        return F.pow(F.lit(2.0), i.cast("double")).cast("long")

    bit_votes = F.transform(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda i: F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(pow2(i)) != 0, 1).otherwise(-1),
        ),
    )
    # Assemble from bit_votes in ARGUMENT position (one evaluation): the
    # earlier fold over a bit-index sequence CAPTURED bit_votes in its
    # lambda, re-running all bits×tokens vote work once per bit
    # (interpreted HOF capture — see dedup.shingles).
    weighted = F.zip_with(
        bit_votes,
        F.sequence(F.lit(0), F.lit(bits - 1)),
        lambda v, i: F.when(v > 0, pow2(i)).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(weighted, F.lit(0).cast("long"),
                       lambda acc, x: acc + x)


def simhash_signatures_df(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                          bits: int = 48) -> DataFrame:
    """SimHash the scale way: explode distinct tokens, hash once, fold the
    per-bit votes in a single codegen'd aggregation (bit masks are Python
    int literals here, so no pow() workaround needed), then assemble the
    signature from the vote signs. Produces values identical to
    ``simhash64``. Repartitioned by ``id_col`` before the explode for the
    same reason as ``minhash_signatures_df``: parallelize the CPU-heavy
    tokenize stage across the cluster regardless of input file layout; the
    vote groupBy then reuses the partitioning shuffle-free. Partition count
    pinned so AQE's byte-based coalescing can't undo the spread (see
    ``minhash_signatures_df``)."""
    from .skew import spread

    toks = spread(df, id_col).select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("__w")
    )
    h = hash52("__w", SIMHASH_SALT)
    vote_aggs = [
        F.sum(F.when(h.bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(bits)
    ]
    votes = toks.groupBy(id_col).agg(*vote_aggs)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Docs sharing a full SimHash signature (strong near-dup signal)."""
    return (
        simhash_signatures_df(df, text_col, id_col)
        .groupBy("simhash")
        .agg(F.count("*").alias("doc_count"), F.min(id_col).alias("keep_id"))
    )


def simhash_near_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       bits: int = 48, max_hamming: int = 3,
                       max_bucket_size: int = 64) -> DataFrame:
    """Near-duplicate pairs by SimHash: hamming(sig_a, sig_b) ≤ max_hamming.

    Chunk-banded candidate generation, never an all-pairs join: the
    signature is split into ``max_hamming + 1`` equal-width chunks, and by
    pigeonhole any pair within hamming ≤ max_hamming matches EXACTLY on at
    least one chunk — so grouping on (chunk_index, chunk_value) buckets has
    perfect recall. (For the default 48-bit/h≤3 case that is 4 chunks of
    12 bits.) Within-bucket pairing → exact hamming via
    bit_count(a XOR b) → filter. The same degenerate-bucket cap as LSH
    bounds the pair fan-out under skew (identical docs belong to exact
    dedup, not here).

    Pairing is ``bucket_pairs`` on the (chunk, chunk_val) partitioning
    the bucket-size window installs; each member carries its signature,
    so the hamming distance computes in the fan-out. The pre-r11
    within-bucket SELF-JOIN paid the ENTIRE
    tokenize→simhash-signature→chunk→window subtree twice."""
    from pyspark.sql import Window

    chunks = max_hamming + 1
    width = bits // chunks
    mask = (1 << width) - 1
    sig = simhash_signatures_df(df, text_col, id_col, bits)
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftright("simhash", c * width).bitwiseAND(F.lit(mask)).alias("chunk_val"),
        )
        for c in range(chunks)
    ]
    banded = sig.select(
        id_col, "simhash", F.explode(F.array(*chunk_structs)).alias("cc")
    ).select(id_col, "simhash", "cc.chunk", "cc.chunk_val")
    bucket_w = Window.partitionBy("chunk", "chunk_val")
    banded = (
        banded.withColumn("__bucket_n", F.count("*").over(bucket_w))
        .filter(F.col("__bucket_n") <= max_bucket_size)
        .drop("__bucket_n")
    )
    member = F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sig"))
    return bucket_pairs(
        banded, ["chunk", "chunk_val"], member,
        lambda x, y: [
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            F.bit_count(x["sig"].bitwiseXOR(y["sig"])).alias("hamming"),
        ],
    ).filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# n-gram Jaccard verify
# ---------------------------------------------------------------------------


def jaccard_pairs(df: DataFrame, pair_filter: Column, text_col: str = "text",
                  id_col: str = "doc_id", group_col: str = "lang", n: int = 3) -> DataFrame:
    """Pairwise n-gram Jaccard similarity within groups, for pairs passing
    ``pair_filter`` (a sampling predicate on the id — keeps the self-join
    bounded; in production the input is LSH candidates, not a sample).

    Two parallelism guards: shingle construction runs after a pinned
    keyed repartition (``skew.spread`` — the CPU-heavy stage must not sit
    in a one-file scan partition), and the self-join goes through
    ``skew.blocked_pair_join`` — ``group_col`` typically has only a
    handful of distinct values, so a plain equi-join would score each
    group's quadratic pair set in a single task."""
    from .skew import blocked_pair_join, spread

    # Empty-shingle docs are excluded via the equivalent token-count
    # predicate (size(shingles) > 0 ⟺ #tokens ≥ n): Catalyst pushes this
    # filter below the repartition into the scan, and a filter phrased on
    # the shingle array would drag the whole shingle construction into
    # the (often single-partition) scan stage — the cheap form keeps the
    # pushdown and leaves shingle building in the spread 32-way stage.
    # Shingles are xxhash64'd to longs before pairing: only SET SIZES feed
    # the Jaccard ratio, and intersect/union over fixed-width longs is far
    # cheaper than over shingle strings (and shrinks the pair-join shuffle
    # payload ~10×). 64-bit collisions within a ~10²-element doc set are
    # ~1e-15 — size-identical to the string sets in practice.
    t = spread(
        df.filter(pair_filter & (F.size(tokens(text_col)) >= n)), id_col
    ).select(
        F.col(id_col),
        F.col(group_col),
        F.transform(shingles(text_col, n), lambda s: F.xxhash64(s)).alias("sh"),
    )
    pairs = blocked_pair_join(t, group_col, id_col, payload=["sh"])
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return pairs.select(
        "id_a", "id_b", (inter.cast("double") / union).alias("jaccard")
    )


def rare_feature_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       max_df: int = 3) -> DataFrame:
    """COMPLETE candidate generation by rare-feature blocking — the
    prefix-filtering principle behind PPJoin (Xiao et al., WWW'08):
    a pair of near-duplicate documents must share at least one
    LOW-frequency feature, so only shingles with document frequency in
    [2, max_df] generate candidates, and each such shingle contributes
    at most max_df·(max_df−1)/2 pairs — the quadratic blowup of
    common-shingle blocking is excluded BY CONSTRUCTION, not by a cap.
    Complements the probabilistic generators (MinHash banding, SimHash
    chunks) with a deterministic one: no hash luck involved, recall is
    1.0 for any pair sharing a rare shingle.

    Stages (all keyed shuffles): per-doc distinct shingles → global
    document frequency (one aggregate) → rare-shingle explode →
    within-shingle array pairing (bucket ≤ max_df) → pair distinct →
    exact Jaccard verify over the full hashed shingle sets. Candidate
    generation AND verify both run on xxhash64'd shingles: the output
    carries only pair ids and set-size ratios, so results differ from
    the string form only if two distinct SHINGLES collide in 64 bits
    (~#distinct-shingles²/2^65 ≈ 3e-6 at a 10M-shingle corpus — the
    repo-wide hashed-feature acceptance), and the df-count, explode,
    join, and checkpoint all move fixed-width longs instead of shingle
    strings.

    The shingle relation feeds FOUR consumers (df-count, rare explode,
    and both verify sides), so it is materialized once
    (localCheckpoint) — without it Spark re-tokenizes and re-shingles
    the corpus per consumer, which benchmarking showed dominates the
    whole operator (~6× the useful work). One row per doc with one
    bounded array — the same checkpoint-the-fan-out rule the
    connected-components loop uses."""
    from .skew import spread

    # No "size(tokens) >= n" pre-filter: it costs a SECOND full tokenize
    # at scan parallelism (the pushed-down predicate re-evaluates the
    # split), while shingles() of a shorter doc is already an empty
    # array — empty arrays explode to no feature rows, so such docs can
    # never pair and the output is identical with the filter gone. The
    # checkpoint carries a few empty-array rows instead (sf10:
    # 8.6 s → 6.2 s, oracle-identical).
    t = spread(df, id_col).select(
        F.col(id_col),
        F.transform(shingles(text_col, n),
                    lambda s: F.xxhash64(s)).alias("__sh"),
    ).localCheckpoint(eager=True)
    ds = t.select(F.col(id_col), F.explode("__sh").alias("f"))
    rare = (
        ds.groupBy("f").agg(F.count(F.lit(1)).alias("__df"))
        .filter((F.col("__df") >= 2) & (F.col("__df") <= max_df))
        .select("f")
    )
    rd = ds.join(rare, "f")
    # One groupBy on the shingle key pairs the ≤max_df doc ids of each
    # rare shingle (bucket_pairs); the old self-join of rd paid the
    # checkpoint explode AND the document-frequency aggregate twice.
    pairs = bucket_pairs(rd, ["f"], F.col(id_col))
    sa = t.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    sb = t.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", (inter.cast("double") / union).alias("jaccard"))
    )


def duplicated_spans(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """Exact substring deduplication report (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): find the
    maximal token spans of each document whose every k-token window also
    occurs elsewhere in the corpus (or again in the same document) — the
    signal that drives span-level dedup of training text, as opposed to
    the document-level near-dup family above.

    Shape (the distributed equivalent of the paper's suffix array):

    1. tokens explode to flat ``(doc, pos, token-hash)`` rows right after
       ``spread()``'s CPU re-partition — the whole gram build then runs
       as plain codegen'd column expressions, NO higher-order functions
       (the array-building formulation spent 16 s at sf1 inside
       interpreted transform/zip_with chains; this one spends 3 s);
    2. each position's gram-id is one xxhash64 over the token hash and
       its k−1 ``lead()``s — the doc-keyed window sorts within the
       partitioning ``spread()`` already installed, so it adds NO
       exchange, and the same window's count doubles as the token count;
    3. occurrences whose gram recurs corpus-wide are found with a
       gram-keyed count aggregate + LEFT SEMI join rather than a count
       window: the aggregate map-side-combines hot grams (a boilerplate
       8-gram shared by millions of docs collapses per-partition), AQE
       skew-splits the probe join where a window would sort the whole
       hot key in ONE task, and when the duplicated-gram set is small
       (clean corpora) it broadcasts — the probe side never shuffles at
       all (measured 4.9 s → 1.9 s cold at sf1; the trade is worst-case
       ~2× shuffle bytes on heavily duplicated corpora, paid for
       hot-key immunity). Output is c rows for a c-occurrence gram,
       never c²;
    4. duplicated windows ``[p, p+k-1]`` merge into maximal spans via the
       classic gaps-and-islands pass (running max of prior span ends),
       keyed on the doc.

    Three keyed shuffles total (spread, gram, islands), all linear in
    corpus tokens. Per doc: token count, number of maximal duplicated
    spans, tokens covered by them, and the covered fraction. Docs below
    k tokens or with no duplicated window report zeros — the output
    keeps every input row (a dedup policy needs the clean docs too).

    Oracle-parity note: Spark groups occurrences on ONE xxhash64 over
    the gram's k token hashes (an 8-byte shuffle key) while the oracle
    groups on gram TEXT. The classification is identical unless two
    distinct grams collide in the 64-bit space — birthday-bounded at
    ~n_grams²/2⁶⁵ (≈4e-5 at 27M grams), and a collision only
    over-reports two windows as duplicated. The fraction is one double
    division of exact integers on both sides — bit-equal."""
    base, spans = _dup_span_relations(df, text_col, id_col, k)
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
    )
    return (
        base.select(id_col, "n_tokens")
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            (F.coalesce("dup_tokens", F.lit(0)).cast("double")
             / F.col("n_tokens")).alias("dup_fraction"),
        )
    )

def _dup_span_relations(df: DataFrame, text_col: str, id_col: str,
                        k: int) -> tuple[DataFrame, DataFrame]:
    """Shared pipeline behind the span report and the span list:
    returns (base, spans) — (doc, n_tokens) with every doc kept, and
    the maximal duplicated spans (doc, island, s, e). Shape documented
    on ``duplicated_spans``."""
    from pyspark.sql import Window

    from .skew import spread

    toks = spread(df.select(id_col, text_col), id_col).select(
        id_col, F.posexplode(tokens(text_col)).alias("p0", "__w")
    ).select(
        id_col, (F.col("p0") + 1).alias("p"), F.xxhash64("__w").alias("__th")
    )
    wd = Window.partitionBy(id_col).orderBy("p")
    gram = F.xxhash64(
        F.col("__th"), *[F.lead("__th", j).over(wd) for j in range(1, k)]
    )
    n_tok = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    pos = toks.select(
        id_col, "p", gram.alias("g"), n_tok.cast("long").alias("n_tokens")
    )
    # (doc, n_tokens) for the join-back — derived from df ITSELF, not from
    # the exploded token stream: a NULL-text doc posexplodes to zero rows,
    # so a pos-only base would silently drop it, while the oracle's LEFT
    # JOIN keeps it with NULL n_tokens. One row per doc, EVERY input doc
    # kept (NULL text ⇒ NULL n_tokens, matching the SQL replay).
    counts = pos.groupBy(id_col).agg(F.first("n_tokens").alias("n_tokens"))
    base = df.select(id_col).join(counts, id_col, "left")
    win = pos.filter(F.col("p") <= F.col("n_tokens") - (k - 1)).select(
        id_col, "p", "g"
    )
    dup = (
        win.groupBy("g").agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1).select("g")
    )
    dpos = win.join(dup, "g", "leftsemi").select(id_col, "p")
    w = Window.partitionBy(id_col).orderBy("p")
    prev_end = (
        F.max("p").over(w.rowsBetween(Window.unboundedPreceding, -1)) + k - 1
    )
    isl = dpos.withColumn(
        "__new",
        F.when(F.col("p") > F.coalesce(prev_end, F.lit(-1)) + 1, 1).otherwise(0),
    ).withColumn("island", F.sum("__new").over(w))
    spans = isl.groupBy(id_col, "island").agg(
        F.min("p").alias("s"), (F.max("p") + k - 1).alias("e")
    )
    return base, spans


def duplicated_span_list(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """The maximal duplicated spans themselves — ``(doc, span_start,
    span_end)`` in 1-based token positions, inclusive — the direct input
    to a span CUTTER (Lee et al. 2022 remove duplicated spans rather
    than whole documents; ``duplicated_spans`` is the per-doc rollup of
    exactly this relation). Same pipeline, same three keyed shuffles."""
    _, spans = _dup_span_relations(df, text_col, id_col, k)
    return spans.select(
        id_col,
        F.col("s").cast("long").alias("span_start"),
        F.col("e").cast("long").alias("span_end"),
    )


def cut_duplicated_spans(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """The dedup ACTION to the span report's find: remove every maximal
    duplicated span from every document — boilerplate scrub (repeated
    headers/footers/disclaimers vanish corpus-wide; for keep-one-copy
    semantics, filter ``duplicated_span_list`` to the spans you want cut
    and apply the same anti-join). Returns (doc, clean_text,
    n_removed_tokens) for EVERY input doc; a fully-boilerplate doc comes
    back with empty text, which the quality funnel then drops.

    Shape: the span relation (tiny — maximal spans only) anti-joins the
    token stream on doc + position-in-range; surviving tokens re-assemble
    per doc with a sorted collect_list (bounded by document length, the
    same bound every chunker here relies on). Shuffles: the three span
    shuffles + one doc-keyed rebuild."""
    from pyspark.sql import Window as _W  # noqa: F401  (parity with helper)

    from .skew import spread

    base, spans = _dup_span_relations(df, text_col, id_col, k)
    words = spread(df.select(id_col, text_col), id_col).select(
        id_col, F.posexplode(tokens(text_col)).alias("p0", "__w")
    ).select(id_col, (F.col("p0") + 1).alias("p"), "__w")
    sp = spans.select(F.col(id_col).alias("__sid"), "s", "e")
    kept = words.join(
        sp,
        (words[id_col] == sp["__sid"])
        & (words["p"] >= sp["s"]) & (words["p"] <= sp["e"]),
        "left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "__w"))),
                lambda x: x["__w"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    # NULL text in ⇒ NULL out (n_tokens is NULL only for NULL-text docs);
    # a tokenizable doc scrubbed to nothing still comes back as "".
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        F.when(F.col("n_tokens").isNull(), F.lit(None).cast("string"))
        .otherwise(F.coalesce("clean_text", F.lit(""))).alias("clean_text"),
        (F.col("n_tokens") - F.coalesce("__kept", F.lit(0)))
        .cast("long").alias("n_removed_tokens"),
    )


def simhash_signatures_arrow(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id",
                             bits: int = 48) -> DataFrame:
    """SimHash signatures via one Arrow ``mapInPandas`` pass — the
    STREAM-COMPATIBLE formulation, bit-identical to ``simhash64`` /
    ``simhash_signatures_df`` (pytest-pinned).

    Why it exists: the pure-expression ``simhash64`` interprets
    bits × tokens HOF steps per document (fine per row, minutes per
    100k-doc batch), and the exploded ``simhash_signatures_df`` needs a
    groupBy — a SECOND stateful operator inside a streaming query. This
    path replays the exact same hash family in Python — tokens =
    split(trim, \\s+) distinct, per-token ``hash52`` = top-13 hex chars
    of md5('sx:'||token), per-bit vote sign — so the md5-certified
    oracle replays it unchanged, at hashlib speed (~40M md5/s across 32
    workers) with no shuffle and no state.
    """
    import hashlib
    import re

    import pandas as pd

    # Replicate the EXPRESSION path's semantics exactly, not Python's:
    # Spark F.trim strips only ASCII spaces (not tabs/newlines/NBSP), and
    # Java's \s is the ASCII class [ \t\n\x0B\f\r] (Python's \s also
    # matches Unicode whitespace like NBSP). Java split(limit=-1) keeps
    # leading/trailing empty tokens, and so does re.split — so a doc
    # starting with '\t' yields a leading "" token in BOTH paths.
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    salt = SIMHASH_SALT.encode()

    def gen(it):
        for pdf in it:
            sigs: list[int | None] = []
            for text in pdf[text_col]:
                if text is None:
                    # match simhash64's expression semantics: a NULL
                    # text folds to signature 0, not NULL
                    sigs.append(0)
                    continue
                toks = set(ws.split(text.strip(" ")))
                votes = [0] * bits
                for t in toks:
                    h = int(hashlib.md5(
                        salt + t.encode("utf-8")).hexdigest()[:13], 16)
                    for i in range(bits):
                        votes[i] += 1 if (h >> i) & 1 else -1
                sigs.append(sum(1 << i for i in range(bits) if votes[i] > 0))
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": sigs})

    return df.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} long, simhash long")
