"""Distributed BPE merge learning over a document corpus.

north_star scope (training-data pipeline): learn the first ``k``
byte-pair-encoding merges from the corpus, the preprocessing step every
tokenizer build runs before a training job. The reference has no
tokenizer-learning operator; this follows the published BPE algorithm
(Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units") re-expressed on DataFrames.

Shape, and why it scales:

- The corpus is first collapsed to the WORD-TYPE vocabulary — ``(word,
  count)`` — one tokenize + groupBy over the documents. All remaining
  iterations run on the vocabulary relation, which is orders of magnitude
  smaller than the corpus (Heaps' law: ~O(corpus^0.5) types) and shrinks
  no further work ever touches the raw text again.
- Each merge round is: explode each word's symbol array into adjacent
  pairs, weight by the word count, groupBy-pair sum, take the global
  argmax (count desc, then lexicographic pair — a DETERMINISTIC
  tie-break, so the learned merge table is reproducible run-to-run and
  partitioning-invariant), then rewrite each word's symbol array with the
  merged pair. The rewrite is a per-row sequential fold (SQL
  ``aggregate``) — BPE's left-to-right merge order — entirely JVM-side.
- The loop re-plans per round, so the vocabulary DataFrame is
  ``localCheckpoint``-ed every few rounds to keep the lineage flat
  (the same pattern as the connected-components loop in graph.py); each
  checkpoint's blocks are released once the next one is materialized,
  and the last one before the function returns.

At 100 TB only step 1 sees the full corpus; the iterative part works on
the vocab (typically < 10M rows even for web-scale corpora), so rounds
are small shuffles. k rounds = k small jobs — the known cost of exact
BPE; sampling the corpus first is the standard practical shortcut and
composes (pass a sampled df).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens


# SQL: the column ``word`` as its character-symbol array with the
# conventional </w> end-of-word marker appended
_WORD_SYMS = "concat(split(word, ''), array('</w>'))"


def _word_types(df: DataFrame, text_col: str) -> DataFrame:
    """(word, count) vocabulary; each word becomes its symbol array."""
    words = df.select(F.explode(tokens(F.col(text_col))).alias("word")).filter(
        F.col("word") != ""
    )
    vocab = words.groupBy("word").agg(F.count("*").alias("cnt"))
    return vocab.select(F.col("cnt"), F.expr(_WORD_SYMS).alias("syms"))


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal: backslash and quote escaped,
    and ``$`` written as ``\\u0024`` so a ``${...}`` token is not taken
    for a variable reference (the parser substitutes those in the raw
    text before it reads the literal)."""
    body = s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024")
    return f"'{body}'"


def _adjacent_pairs(syms: str) -> str:
    """SQL: array of "a b"-keyed adjacent symbol pairs of the array
    expression ``syms``."""
    return (f"CASE WHEN size({syms}) < 2 THEN CAST(array() AS ARRAY<STRING>) "
            f"ELSE transform(sequence(1, size({syms}) - 1), i -> concat_ws(' ', "
            f"element_at({syms}, i), element_at({syms}, i + 1))) END")


def _merge_fold(syms: str, left: str, right: str) -> str:
    """SQL: left-to-right single-pass merge of adjacent (left, right) in
    the array expression ``syms`` into left||right — the BPE rewrite — as
    a sequential fold.

    The accumulator is the output array; at each step, if the output's
    last element is ``left`` and the incoming symbol is ``right``, the
    two are replaced by the concatenation (and because the merged token
    ``left+right`` is a NEW symbol, a just-merged element never
    re-triggers as ``left`` unless left==left+right, impossible for
    non-empty right — giving the same non-overlapping semantics as the
    reference algorithm's regex replace).

    The folds are SQL text, parsed by one ``F.expr`` per call site: built
    from PySpark Column operations, ``bpe_segment``'s eight merge folds
    and its stats fold took 1,935 py4j round trips per plan build (1,055
    without PySpark's call-site capture, see ``session.py``); as text the
    whole build takes about 130."""
    lq, rq, mq = _sql_str(left), _sql_str(right), _sql_str(left + right)
    return (f"aggregate({syms}, CAST(array() AS ARRAY<STRING>), (acc, s) -> "
            f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = {lq} AND s = {rq} "
            f"THEN concat(slice(acc, 1, size(acc) - 1), array({mq})) "
            f"ELSE concat(acc, array(s)) END)")


def learn_bpe_merges(df: DataFrame, text_col: str = "text",
                     num_merges: int = 8,
                     checkpoint_every: int = 4) -> list[tuple[int, str, str, int]]:
    """Learn ``num_merges`` BPE merges; returns [(rank, left, right,
    pair_count)] in merge order. Deterministic: ties broken by pair
    lexicographic order."""
    vocab = held = _word_types(df, text_col).localCheckpoint(eager=True)
    out: list[tuple[int, str, str, int]] = []
    try:
        for rank in range(num_merges):
            best = (
                vocab.select(F.col("cnt"), F.explode(F.expr(_adjacent_pairs("syms"))).alias("pair"))
                .groupBy("pair")
                .agg(F.sum("cnt").alias("n"))
                .orderBy(F.desc("n"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not best:
                break
            pair, n = best[0]["pair"], int(best[0]["n"])
            left, right = pair.split(" ", 1)
            out.append((rank, left, right, n))
            vocab = vocab.select(
                F.col("cnt"), F.expr(_merge_fold("syms", left, right)).alias("syms")
            )
            if (rank + 1) % checkpoint_every == 0:
                vocab = vocab.localCheckpoint(eager=True)
                _release_checkpoint(held)  # the new one no longer reads it
                held = vocab
    finally:
        _release_checkpoint(held)
    return out


def _release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of ``df``, a ``localCheckpoint``-ed frame, now
    rather than whenever a JVM GC lets the ContextCleaner reap them; an
    action on ``df`` afterwards fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def bpe_merge_table(spark, df: DataFrame, text_col: str = "text",
                    num_merges: int = 8) -> DataFrame:
    """The learned merges as a DataFrame (rank, left, right, pair_count)."""
    rows = learn_bpe_merges(df, text_col, num_merges)
    return spark.createDataFrame(
        rows, "rank int, left string, right string, pair_count long"
    )


def bpe_segment(df: DataFrame, merges: list[tuple[int, str, str, int]],
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Apply a learned merge table to the corpus: per document, the
    subword-token count and mean subword length — the 'how well does this
    vocab compress my corpus' readout used to size tokenizer vocabs.

    The merge folds (``aggregate`` higher-order functions — interpreted
    per element, not codegen'd) run ONCE per word TYPE, never per
    occurrence: the corpus collapses to its distinct-word vocabulary
    (Heaps' law: ~O(corpus^0.5) types), the rank-ordered folds rewrite
    that small relation, and the per-word (subwords, chars) stats join
    back to the exploded corpus before the per-document sum. Measured at
    sf1 this is the difference between folding 2.7M word occurrences
    (149 s) and folding ~60k word types (<2 s of fold work). Merges MUST
    be applied in rank order (BPE semantics).

    The join-back BROADCASTS the word-type stats: the
    occurrence stream is corpus-sized but its key is the Heaps-small
    vocabulary, so a shuffle join is maximally skewed (every partition
    holds few distinct keys) and sorts the whole corpus — measured at
    sf10: 20.5 s → 8.0 s from the broadcast + an explicit spread() ahead
    of the CPU-bound tokenize-explode. Both per-word stats fold out of
    ONE aggregate emitting a single struct column, so the rank-ordered
    fold chain is evaluated once per type, not once per output column
    (the broadcast boundary materializes the struct)."""
    from .skew import spread

    word = F.explode(tokens(F.col(text_col)))
    per_word = spread(df, id_col).select(
        F.col(id_col), word.alias("word")).filter(F.col("word") != "")
    syms = _WORD_SYMS
    for _, left, right, _ in sorted(merges):
        syms = _merge_fold(syms, left, right)
    stats = F.expr(
        f"aggregate({syms}, struct(CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS c), "
        "(a, s) -> struct(a.n + 1 AS n, a.c + length(s) AS c))")
    wstats = F.broadcast(
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
        .select("word", stats.alias("__s"))
    )
    return (
        per_word.join(wstats, "word")
        .groupBy(id_col)
        .agg(
            F.sum("__s.n").alias("n_subwords"),
            F.sum("__s.c").alias("n_sym_chars"),
        )
    )
