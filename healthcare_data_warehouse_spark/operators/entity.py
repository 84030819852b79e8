"""Entity resolution: blocked fuzzy matching → clustered entity ids.

The master-patient-index problem (one human, several near-identical
registration rows): find record pairs whose names are within a small
edit distance, then transitively close the match graph so every cluster
gets ONE canonical entity id. The reference warehouse trusts its
patient_id; a real 100 TB intake feed doesn't get to.

Three stages, all engine-side:

1. **Blocking** — candidate pairs only WITHIN a cheap key (here a name
   prefix; production: phonetic code + birth-year, multiple passes).
   Without blocking the pair space is n²; with it, worst case is the
   largest block squared, and the block key is chosen to keep blocks
   small. Pairs come from ``skew.blocked_pair_join`` when blocks are few
   and fat, or a plain within-block self-join when the key is selective.
2. **Scoring** — native ``levenshtein`` (JVM codegen; Jaro-Winkler and
   soundex are also built-in alternatives) with an edit threshold.
3. **Clustering** — ``graph.connected_components`` over the match pairs:
   matching is symmetric but not transitive, and an entity id must be —
   the component's minimum record id becomes the canonical id
   (deterministic, partitioning-independent).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def candidate_pairs(df: DataFrame, id_col: str, name_col: str,
                    block: Column, max_edit: int = 1) -> DataFrame:
    """Within-block record pairs with levenshtein(name_a, name_b) ≤
    ``max_edit``. Returns (id_a, id_b, dist), id_a < id_b exactly once.

    Spark's ``levenshtein`` takes an optional threshold argument — with
    it, the JVM computation early-exits down the banded DP, so the
    common far-apart pair costs O(max_edit·len) not O(len²)."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(name_col).alias("name_a"),
                  block.alias("blk"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(name_col).alias("name_b"),
                  block.alias("blk"))
    dist = F.levenshtein("name_a", "name_b", max_edit)
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist.alias("dist"))
        .filter(F.col("dist") >= 0)  # threshold form returns -1 when above
        .filter(F.col("dist") <= max_edit)
    )
