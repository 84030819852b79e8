"""Bucketed tables: shuffle-free co-located joins.

At 100 TB the fact⋈fact and fact⋈big-dim joins dominate shuffle volume.
Writing both sides bucketed by the join key (`bucketBy(n, key)` +
`saveAsTable`) lets Spark plan a SortMergeJoin with NO Exchange on either
side — the bucket files are already hash-partitioned and sorted on disk.
This module materializes bucketed copies and proves the exchange-free
plan (pinned in tests/test_bucketing.py).

Reference analog: the B-tree FK indexes (init.sql:131-149) exist to
accelerate repeated key joins; bucketing is the columnar-warehouse
equivalent (SURVEY.md §4 "optional bucketing on patient_key").
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

# Spark bucketed part files carry the bucket id as the _NNNNN suffix:
# part-00000-<uuid>_00003.c000.snappy.parquet → bucket 3.
_BUCKET_ID_RE = re.compile(r"_(\d{5})\.")

# Sidecar written next to the part files recording the bucket spec USED AT
# WRITE TIME. Bucket membership is hash(key) % buckets — attaching a layout
# written with a different count under a trusted co-bucketed SortMergeJoin
# (no exchange, no sort) silently returns WRONG JOIN RESULTS, so the attach
# path refuses any layout whose recorded spec doesn't match the declared one.
_SPEC_FILE = "_bucket_spec.json"


def write_bucket_spec(loc: str, buckets: int, key: str) -> None:
    import json

    with open(os.path.join(loc, _SPEC_FILE), "w") as f:
        json.dump({"buckets": int(buckets), "key": key}, f)


def read_bucket_spec(loc: str) -> dict | None:
    import json

    try:
        with open(os.path.join(loc, _SPEC_FILE)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def bucket_file_counts(loc: str) -> dict[int, int] | None:
    """Map bucket-id → number of part files under a bucketed table
    location, or None if any part file lacks a bucket-id suffix (i.e.
    the directory is not a bucketed write at all)."""
    counts: dict[int, int] = {}
    try:
        names = os.listdir(loc)
    except OSError:
        return None
    for f in names:
        if not f.startswith("part-"):
            continue
        m = _BUCKET_ID_RE.search(f)
        if not m:
            return None
        b = int(m.group(1))
        counts[b] = counts.get(b, 0) + 1
    return counts


def validate_one_file_per_bucket(loc: str, buckets: int | None = None,
                                 key: str | None = None) -> None:
    """Enforce the invariants the trusted co-bucketed SortMergeJoin
    relies on.

    (1) One file per bucket: the session enables the legacy flag that
    makes bucketed+sorted scans REPORT sorted output (session.py), which
    is only correct when each bucket is a single file — a bucket spanning
    multiple files is the wrong-results scenario SPARK-28632 fixed
    (SortMergeJoin would skip the runtime Sort over data that is not
    actually globally sorted within the bucket). So every path that
    creates or attaches a bucketed-sorted table in this repo must pass
    this check; a write split by e.g. spark.sql.files.maxRecordsPerFile
    fails loud here instead of silently corrupting join results.

    (2) When ``buckets`` (and optionally ``key``) is declared: the layout
    on disk must have been WRITTEN with that exact spec. Bucket
    membership is hash(key) % buckets, so attaching a 16-bucket write as
    a 32-bucket table plans an exchange-free join over misplaced rows —
    silent wrong results. The write path records its spec in a sidecar
    (`_bucket_spec.json`); attach compares it and also sanity-checks
    every observed bucket id < declared count. A layout with no recorded
    spec (foreign/older writer) is refused rather than trusted."""
    counts = bucket_file_counts(loc)
    if counts is None:
        raise RuntimeError(
            f"{loc}: part files lack bucket-id suffixes — not a bucketed "
            "write; refusing to attach as a bucketed table")
    bad = {b: c for b, c in counts.items() if c > 1}
    if bad:
        raise RuntimeError(
            f"{loc}: buckets split across multiple files {bad} — per-bucket "
            "sort order cannot be trusted (SPARK-28632); rebuild with "
            "write_bucketed (one task per bucket) or drop the sortBy")
    if buckets is not None:
        if counts and max(counts) >= buckets:
            raise RuntimeError(
                f"{loc}: observed bucket id {max(counts)} >= declared count "
                f"{buckets} — layout was written with a different bucket "
                "count; attaching it would silently corrupt co-bucketed "
                "joins")
        spec = read_bucket_spec(loc)
        if spec is None:
            raise RuntimeError(
                f"{loc}: no {_SPEC_FILE} recorded — cannot verify the "
                "write-time bucket count matches the declared "
                f"{buckets}; refusing to attach (rebuild with "
                "write_bucketed)")
        if int(spec.get("buckets", -1)) != int(buckets) or (
                key is not None and spec.get("key") != key):
            raise RuntimeError(
                f"{loc}: recorded bucket spec {spec} != declared "
                f"(buckets={buckets}, key={key}); hash placement differs — "
                "refusing to attach")


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int = 8,
                   sort: bool = True) -> None:
    if sort:
        # Spark only trusts per-bucket sort order when each bucket is ONE
        # file; a parallel write splits each bucket across tasks and the
        # reader silently re-sorts at every downstream SortMergeJoin.
        # Repartitioning on the key with the bucket count uses the same
        # Murmur3 hash as the bucket spec, so each task owns exactly one
        # bucket and writes exactly one file — the sortBy metadata then
        # eliminates the runtime Sort (pinned in tests/test_plan_shapes.py).
        from pyspark.sql import functions as F

        df = df.repartition(buckets, F.col(key))
    w = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)
    spark = df.sparkSession
    loc = os.path.join(_warehouse_path(spark), table.lower())
    if os.path.isdir(loc):
        if sort:
            # fail loud if anything (maxRecordsPerFile, a future Spark
            # version changing task→file mapping) split a bucket: the
            # session-level outputOrdering trust is only safe one-file-
            # per-bucket (see validate_one_file_per_bucket).
            validate_one_file_per_bucket(loc)
        # record the write-time bucket spec so a later attach can verify
        # the declared count matches hash placement on disk
        write_bucket_spec(loc, buckets, key)


def cobucketed_join(spark: SparkSession, left_table: str, right_table: str,
                    key: str, how: str = "inner") -> DataFrame:
    """Join two same-bucketed tables on the bucket key — planned with zero
    shuffle (no Exchange below the join in the physical plan)."""
    return spark.table(left_table).join(spark.table(right_table), key, how)


def _source_fingerprint(sf_dir: str, tables: tuple[str, ...]) -> str:
    """Stable digest of the SOURCE parquet files a layout was built from
    (relative name + size + mtime_ns of every file under each table
    path). Folding this into the layout tag means a fixture regenerated
    IN PLACE at the same path gets a different tag — the stale
    materialization is simply never attached (ensure_* builds fresh)
    instead of silently serving old data."""
    parts: list[str] = []
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for f in sorted(files):
                    if f.startswith((".", "_")):
                        continue
                    st = os.stat(os.path.join(root, f))
                    rel = os.path.relpath(os.path.join(root, f), p)
                    parts.append(f"{t}/{rel}:{st.st_size}:{st.st_mtime_ns}")
        elif os.path.exists(p):
            st = os.stat(p)
            parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def _order_layout_specs(spark: SparkSession, sf_dir: str):
    """(table, key, df_fn) for the two order-grained layout tables —
    names are content-addressed on the absolute sf_dir PLUS a source
    fingerprint (file sizes + mtimes of orders/lineitem parquet), so
    different scale fixtures coexist in one warehouse and an in-place
    fixture regeneration invalidates the old layout by construction."""
    import hashlib

    from .loaders import load_table

    ident = (os.path.abspath(sf_dir) + "\n"
             + _source_fingerprint(sf_dir, ("orders", "lineitem")))
    tag = hashlib.md5(ident.encode()).hexdigest()[:12]
    return [
        (f"li_bkt_{tag}", "l_orderkey",
         lambda: load_table(spark, sf_dir, "lineitem")
         .select("l_orderkey", "l_extendedprice", "l_discount")),
        (f"ord_bkt_{tag}", "o_orderkey",
         lambda: load_table(spark, sf_dir, "orders")
         .select("o_orderkey", "o_custkey")),
    ]


def ensure_order_bucketed_layout(spark: SparkSession, sf_dir: str,
                                 buckets: int = 32) -> tuple[str, str]:
    """Materialize (once per session per sf_dir) lineitem and orders
    bucketed+sorted on the order key, projected to the analytic columns —
    the ingest-time layout that removes the fact-side exchange from
    order-grained joins entirely. Returns the two table names.

    This is the warehouse's bucketed-fact story: at 100 TB the order key
    is THE recurring join/aggregate key, so paying one bucketed write at
    ingest converts every subsequent per-order join or aggregate from a
    multi-GB shuffle into a bucket-local scan (SortMergeJoin over
    pre-sorted co-bucketed files, no Exchange, no Sort). Bucket count 32
    matches local parallelism; on a real cluster size it so each bucket
    is 100-500 MB at the target scale.

    Session-scoped metadata, process-shared data: Spark's in-memory
    catalog forgets tables across sessions but the bucket FILES persist
    in the warehouse dir, so a later session re-ATTACHES them (CREATE
    TABLE ... CLUSTERED BY ... LOCATION over the completed write — the
    _SUCCESS marker gates completeness) instead of re-paying the 100
    TB-class write. Only a missing/incomplete location triggers a
    build."""
    specs = _order_layout_specs(spark, sf_dir)
    for table, key, df_fn in specs:
        _attach_or_write_bucketed(spark, df_fn, table, key, buckets)
    return specs[0][0], specs[1][0]


def _warehouse_path(spark: SparkSession) -> str:
    loc = spark.conf.get("spark.sql.warehouse.dir")
    if loc.startswith("file:"):
        from urllib.parse import urlparse
        return urlparse(loc).path
    return loc


def _attach_bucketed(spark: SparkSession, df_fn, table: str, key: str,
                     buckets: int, loc: str) -> None:
    """CREATE an external bucketed table over completed files at `loc` —
    AFTER validating the one-file-per-bucket invariant the session-level
    sort-order trust depends on AND that the write-time bucket spec
    matches the declared (buckets, key). A violating layout (written by
    an older/foreign writer, split by maxRecordsPerFile, or written with
    a different bucket count) is rejected rather than silently trusted.

    The CREATE itself is TOCTOU-tolerant: a same-metastore peer (another
    thread/process sharing the warehouse) may have attached the table
    between the caller's tableExists probe and this CREATE — since the
    layout was just validated and attach is metadata-only, a concurrent
    attach of the same files is success, not failure."""
    validate_one_file_per_bucket(loc, buckets=buckets, key=key)
    ddl = spark._jsparkSession.parseDataType(df_fn().schema.json()).toDDL()
    try:
        spark.sql(
            f"CREATE TABLE {table} ({ddl}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {buckets} BUCKETS LOCATION '{loc}'"
        )
    except Exception:
        if not spark.catalog.tableExists(table):
            raise


def _attach_or_write_bucketed(spark: SparkSession, df_fn, table: str,
                              key: str, buckets: int) -> None:
    """tableExists → done; completed+valid files on disk → attach as an
    external bucketed table (no rewrite); otherwise build under a
    pid-suffixed claim dir and atomically rename into place — the same
    build-dir + rename protocol the ANN index builds use, so two
    processes sharing a warehouse dir (overlapping cron jobs + a bench
    run) can never clobber each other's in-progress write: each builds
    privately, exactly one os.rename wins, the loser cleans up and
    attaches the winner's files. The data files are deterministic (same
    input, same projection, same bucket spec), so attaching another
    process's completed write is exactly equivalent to rebuilding."""
    import shutil

    if spark.catalog.tableExists(table):
        return
    loc = os.path.join(_warehouse_path(spark), table)
    if os.path.exists(os.path.join(loc, "_SUCCESS")):
        try:
            _attach_bucketed(spark, df_fn, table, key, buckets, loc)
            return
        except RuntimeError:
            shutil.rmtree(loc, ignore_errors=True)  # invalid layout: rebuild

    # Private build: saveAsTable to a pid-tagged temp table, then claim
    # the canonical location with an atomic rename (directory rename
    # fails if the destination exists — that IS the claim protocol).
    build_table = f"{table}__build_{os.getpid()}"
    build_loc = os.path.join(_warehouse_path(spark), build_table)
    spark.sql(f"DROP TABLE IF EXISTS {build_table}")
    shutil.rmtree(build_loc, ignore_errors=True)
    write_bucketed(df_fn(), build_table, key, buckets=buckets)
    try:
        os.rename(build_loc, loc)
    except OSError:
        pass  # lost the race: someone else completed `loc`; use theirs
    # drop the temp metadata; if we won the rename its directory is gone
    # (metadata-only drop), if we lost the drop deletes our private files
    spark.sql(f"DROP TABLE IF EXISTS {build_table}")
    shutil.rmtree(build_loc, ignore_errors=True)
    _attach_bucketed(spark, df_fn, table, key, buckets, loc)
