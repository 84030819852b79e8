"""Distributed dense surrogate-key generation.

Reference: ``max_key + ROW_NUMBER() OVER (ORDER BY ...)`` in
dim_patients.sql:35, dim_providers.sql:33, fact_visits.sql:64. A literal
Spark translation — ``row_number().over(Window.orderBy(...))`` with no
partition spec — collapses the whole table into ONE task; at 100 TB that is
a guaranteed OOM (SURVEY.md §7.4 item 1).

This module implements the scalable two-phase equivalent:

1. Range-repartition on the ordering key (each partition holds a
   contiguous key range, ranges are globally ordered).
2. One tiny job counts rows per partition; the driver computes cumulative
   offsets (numPartitions rows — O(KB) at any scale).
3. A per-partition ``row_number`` (parallel — each window task sees one
   partition) plus the broadcast offset yields the dense global id.

The result is bit-identical to ``ROW_NUMBER() OVER (ORDER BY order_by)``
whenever ``order_by`` is a total order (e.g. includes a unique key), which
is what the DuckDB oracle checks.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_PID = "__hdw_pid"
_RN = "__hdw_rn"


def add_dense_key(
    df: DataFrame,
    order_by: list[str],
    key_col: str = "surrogate_key",
    offset: int = 0,
    num_partitions: int | None = None,
    pins: list[DataFrame] | None = None,
) -> DataFrame:
    """Add a dense 1-based surrogate key ordered by ``order_by``.

    ``offset`` supports the incremental-load pattern
    (``COALESCE(MAX(key), 0)`` seed, dim_patients.sql:30): pass the current
    max key and new rows continue the sequence.

    The range-partitioned intermediate is persisted so the count job and
    the downstream job see the same partitioning (range boundaries come
    from sampling; persisting also avoids a double scan). Pass ``pins``,
    a list the caller owns, to get that persist appended to it; the
    caller releases it with :func:`release` once the job consuming the
    result has returned. A re-run after that re-samples the boundaries,
    which the fixed offsets no longer match, so it fails with an error
    naming ``add_dense_key`` instead of returning wrong keys.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cols = [F.col(c) for c in order_by]

    part = df.repartitionByRange(num_partitions, *cols).withColumn(_PID, F.spark_partition_id())
    part.persist(StorageLevel.MEMORY_AND_DISK)
    if pins is not None:
        pins.append(part)

    counts = part.groupBy(_PID).count().collect()  # numPartitions rows — tiny
    if not counts:  # empty input: keep the schema, no rows to number
        return df.withColumn(key_col, F.lit(None).cast("long"))
    offsets: dict[int, int] = {}
    sizes: dict[int, int] = {}
    acc = offset
    for row in sorted(counts, key=lambda r: r[_PID]):
        offsets[row[_PID]] = acc
        sizes[row[_PID]] = row["count"]
        acc += row["count"]

    omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    smap = F.create_map(*[F.lit(x) for kv in sizes.items() for x in kv])
    # The offsets are only valid for the partitions they were counted on.
    # If the persist is gone, a re-planned range exchange samples new
    # bounds; the total is unchanged, so any other split puts more rows
    # in some partition than were counted there (or rows in a partition
    # that had none): refuse rather than emit wrong keys.
    stale = F.raise_error(F.lit(
        "add_dense_key: range partitions differ from the ones the offsets "
        "were counted on (the persisted input was released); rebuild "
        "the keyed frame"))
    pid, rn = F.col(_PID), F.col(_RN)
    key = F.when(rn <= smap[pid], (omap[pid] + rn).cast("long")).otherwise(stale)
    w = Window.partitionBy(_PID).orderBy(*cols)
    return (
        part.withColumn(_RN, F.row_number().over(w))
        .withColumn(key_col, key)
        .drop(_PID, _RN)
    )


def release(pins: list[DataFrame]) -> None:
    """Unpersist what ``add_dense_key(..., pins=pins)`` appended to
    ``pins`` — that caller's blocks only — and empty the list."""
    while pins:
        pins.pop().unpersist()
