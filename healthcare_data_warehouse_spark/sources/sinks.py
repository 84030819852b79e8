"""Sinks: distributed upsert and partitioned writes.

Reference S4 (scripts/etl.py:116-132, ml_pipeline.py:350-361): a per-row
``INSERT ... ON CONFLICT (pk) DO UPDATE`` loop — every row a client/server
round trip. Vanilla Spark has no row upsert, and at 100 TB you wouldn't
want one: the equivalent set operation is one distributed anti-join +
union, then an atomic-enough rewrite (write temp, swap) — SURVEY.md §7.4
item 5. With a transactional table format (Delta/Iceberg) this becomes
MERGE INTO; the logical semantics below are identical.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T  # noqa: F401 (evolve_schema annotation)


def upsert(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Return target with ``updates`` applied (replace matching keys, append new).

    Logical MERGE: updated/new rows win; target rows whose key appears in
    ``updates`` are dropped via a left_anti join (broadcast when updates
    are small — Catalyst/AQE decides).
    """
    cols = target.columns
    return updates.select(*cols).unionByName(
        target.join(updates.select(*keys).distinct(), keys, "left_anti")
    )


def swap_into_place(tmp: str, path: str) -> None:
    """Promote a fully-written temp table to ``path`` with rename-first
    ordering: at every instant a complete copy of the table exists on disk.

    rename(path, path__old) → rename(tmp, path) → rmtree(path__old).
    A crash between steps leaves either the old table (recoverable by
    renaming back) or both; never zero copies — unlike rmtree-then-rename,
    which has a window where the table is simply gone. On HDFS/S3 the
    analog is the same two metadata renames.
    """
    old = path + "__old"
    if os.path.exists(old):  # debris from a prior crash after step 2
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def overwrite_atomic(df: DataFrame, path: str) -> None:
    """Write-to-temp-then-swap so a failed rerun never leaves a half table."""
    tmp = path + "__tmp"
    df.write.mode("overwrite").parquet(tmp)
    swap_into_place(tmp, path)
    df.sparkSession.catalog.refreshByPath(path)


def upsert_to_path(spark, path: str, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Idempotent upsert against a parquet table on disk (rerun-safe).

    The merged plan reads the old path while writing the temp path, so no
    driver-side materialization is needed at any scale; the swap is a
    single rename.

    Plain parquet has no snapshot isolation: DataFrames returned by
    PREVIOUS upserts to the same path go stale once the swap replaces the
    files — use the frame this call returns (with Delta/Iceberg the old
    handles would instead keep reading their snapshot).
    """
    if os.path.exists(path):
        merged = upsert(spark.read.parquet(path), updates, keys)
    else:
        merged = updates
    tmp = path + "__tmp"
    merged.write.mode("overwrite").parquet(tmp)
    swap_into_place(tmp, path)
    # Drop the session's cached file listing for the path: the swap changed
    # the files underneath it, and a stale FileIndex would serve deleted
    # part files to the next reader.
    spark.catalog.refreshByPath(path)
    return spark.read.parquet(path)


def evolve_schema(df: DataFrame, target: "T.StructType") -> DataFrame:
    """Conform ``df`` to ``target`` schema: add missing columns as typed
    NULLs, cast type-widened columns, drop extras, fix column order.

    The ingest-side half of schema evolution (reference: hand-written
    ALTER TABLE migrations in init.sql): old files keep their schema, new
    batches conform to the current contract before landing, and readers
    see one stable shape. Incompatible casts raise rather than silently
    nulling (upcast check via Spark's cast semantics on a validation
    sample is the caller's job at 100 TB; here the plan just carries the
    cast)."""
    existing = {f.name: f for f in df.schema.fields}
    out = []
    for f in target.fields:
        if f.name in existing:
            col = F.col(f.name)
            if existing[f.name].dataType != f.dataType:
                col = col.cast(f.dataType)
            out.append(col.alias(f.name))
        else:
            out.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*out)


def merge_into(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    *,
    update_cond=None,
    delete_cond=None,
) -> DataFrame:
    """Full MERGE semantics (Delta/Iceberg ``MERGE INTO``) as ONE
    distributed set operation:

    - matched + ``delete_cond``            -> row removed
    - matched + ``update_cond`` (or None)  -> source row replaces target
    - matched, neither condition           -> target row kept
    - source-only                          -> inserted
    - target-only                          -> kept

    Reference S4 analog: scripts/etl.py:116-132 upserts row-by-row and
    cannot delete at all; ml_pipeline.py:350-361 likewise. Here the whole
    decision table is evaluated in one full-outer co-shuffle on ``keys``
    (both sides hash-partition once; no anti-join + union double pass),
    so the cost is one shuffle of each side regardless of clause count.
    Conditions are Column predicates over two struct columns ``t`` and
    ``s`` (e.g. ``F.col("s.o_totalprice") > F.col("t.o_totalprice")``),
    mirroring MERGE's ``WHEN MATCHED AND <cond>`` — evaluated only where
    both sides exist. Delete-then-update precedence matches Delta's
    first-matching-clause rule with the delete clause listed first.
    """
    cols = target.columns
    t = target.select(
        *keys, F.struct(*[F.col(c) for c in cols]).alias("t"))
    s = source.select(
        *keys, F.struct(*[F.col(c) for c in cols]).alias("s"))
    j = t.join(s, keys, "full_outer")
    matched = F.col("t").isNotNull() & F.col("s").isNotNull()
    delete_hit = matched & (
        delete_cond if delete_cond is not None else F.lit(False))
    update_hit = matched & ~delete_hit & (
        update_cond if update_cond is not None else F.lit(True))
    picked = (
        F.when(delete_hit, F.lit(None).cast(j.schema["t"].dataType))
        .when(update_hit, F.col("s"))
        .when(matched, F.col("t"))
        .when(F.col("s").isNotNull(), F.col("s"))  # source-only: insert
        .otherwise(F.col("t"))                     # target-only: keep
    )
    return (
        j.select(picked.alias("r"))
        .filter(F.col("r").isNotNull())
        .select("r.*")
    )
