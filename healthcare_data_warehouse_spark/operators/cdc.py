"""Change-data-capture operator: keyed snapshot diff.

Reference analog: the warehouse's incremental-load pattern (scripts/etl.py
re-extracts and upserts; SURVEY §2 J5 anti-join incremental) only ever asks
"which rows are new?". A real warehouse also needs the full CDC question —
which rows were INSERTED, DELETED, or UPDATED between two table states, and
which columns changed — to drive downstream incremental maintenance, audit,
and SCD2 feeds (operators/scd2.py consumes exactly this shape).

Plan shape: one full-outer shuffle join on the natural key — both sides
hash-partition on the key, so the diff scales like any keyed join (AQE
handles skew/broadcast). Column comparison is null-safe (`eqNullSafe`),
entirely JVM-side, and emits a deterministic comma-joined changed-column
list so the result is oracle-checkable in ANSI SQL (IS DISTINCT FROM).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHANGE_COL = "change_type"
CHANGED_COLS = "changed_cols"


def table_diff(old: DataFrame, new: DataFrame, keys: list[str],
               compare_cols: list[str] | None = None) -> DataFrame:
    """Keyed diff of two table states.

    Returns one row per key present in either side with a change, columns:
    the keys, ``change_type`` ('insert' | 'delete' | 'update'), and
    ``changed_cols`` (comma-joined names of compared columns whose value
    differs, null-safe; empty-string for insert/delete). Keys present in
    both sides with no compared-column change are dropped — the feed is
    changes only, so downstream incremental consumers touch only changed
    partitions.
    """
    if compare_cols is None:
        compare_cols = [c for c in old.columns if c not in keys]
    missing = [c for c in compare_cols if c not in new.columns]
    if missing:
        raise ValueError(f"compare_cols absent from new side: {missing}")

    o = old.select(*keys, *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
                   F.lit(True).alias("__in_old"))
    n = new.select(*keys, *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
                   F.lit(True).alias("__in_new"))
    j = o.join(n, on=keys, how="full_outer")

    diffs = [
        (~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))).alias(c)
        for c in compare_cols
    ]
    changed_list = F.filter(
        F.array(*[F.when(d, F.lit(c)).otherwise(F.lit(None))
                  for c, d in zip(compare_cols, diffs)]),
        lambda x: x.isNotNull(),
    )
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
        .when(F.col("__in_new").isNull(), F.lit("delete"))
        .when(F.size(changed_list) > 0, F.lit("update"))
    )
    return (
        j.select(
            *keys,
            change.alias(CHANGE_COL),
            F.when(change == "update", F.array_join(changed_list, ","))
            .otherwise(F.lit("")).alias(CHANGED_COLS),
        )
        .filter(F.col(CHANGE_COL).isNotNull())
    )
