"""Parquet / CSV sources for the engine.

Reference analog: the CSV ingest in scripts/etl.py:98,155,199 (pd.read_csv)
and the pd.read_sql pulls scattered across dashboard.py/ml_pipeline.py.
Here every source is a lazy DataFrame scan so Catalyst can push filters and
prune columns all the way into the parquet reader (check .explain() for
PushedFilters / ReadSchema).

Scale notes:
- Scans stay unresolved until an action; no eager pandas materialization.
- The events table ships nanosecond INT64 timestamps; Spark reads them as
  long under ``spark.sql.legacy.parquet.nanosAsLong`` and we rebuild a
  microsecond timestamp column (sub-microsecond precision is truncated,
  matching what any Spark pipeline at scale would store).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_SF_DIR, TABLES


def _events_ts_fixup(df: DataFrame) -> DataFrame:
    """Convert a nanosecond-epoch long ``ts`` back to a timestamp.

    Cast to TIMESTAMP_NTZ: the driver parquet stores naive timestamps
    (isAdjustedToUTC=false) and Spark 4 reads them as NTZ elsewhere —
    keeping events NTZ too means window starts / truncations compare
    naive-to-naive with the DuckDB oracle.
    """
    if isinstance(df.schema["ts"].dataType, T.LongType):
        # Integer division, not `/`: float division rounds the microsecond
        # (ns values near .5µs land 1µs high), while parquet readers that
        # handle nanos natively (the DuckDB oracle) TRUNCATE — and a last-
        # microsecond mismatch breaks row-level parity on raw-ts outputs.
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df


def _table_stamp(path: str, _depth: int = 2):
    """Content fingerprint of a parquet table path (dir or single file):
    (name, size, mtime_ns) of the path and its entries, recursing
    ``_depth`` directory levels so a partitioned layout
    (``dt=2031-01-01/part-*.parquet``) whose leaf files are rewritten
    in place still changes the stamp. Any rewrite — overwrite, append,
    compaction — changes it. Returns None when the path is unreadable
    or nested deeper than ``_depth`` (caller must not cache)."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_size, st.st_mtime_ns)
        entries = []
        with os.scandir(path) as it:
            for e in it:
                if e.is_dir(follow_symlinks=False):
                    if _depth <= 0:
                        return None  # too deep to fingerprint: don't cache
                    sub = _table_stamp(e.path, _depth - 1)
                    if sub is None:
                        return None
                    entries.append((e.name, -1, sub))
                else:
                    s = e.stat()
                    entries.append((e.name, s.st_size, s.st_mtime_ns))
        entries.sort()
        return (st.st_mtime_ns, tuple(entries))
    except OSError:
        return None


def source_fingerprint(sf_dir: str, tables: tuple[str, ...]) -> str:
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


def _ensure_nanos_conf(spark: SparkSession) -> None:
    """The events table ships nanosecond INT64 timestamps; the batch
    reader needs ``nanosAsLong`` at SCAN time, so it must hold on every
    load — including relation-cache hits, where a mid-session
    ``RESET`` would otherwise fail the cached relation's next action.
    Check-before-set: ``conf.get`` is ~0.3 ms vs ~13 ms for a py4j
    ``conf.set`` (the r10 tune_session measurement)."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        current = spark.conf.get(key)
    except Exception:
        current = None
    if current != "true":
        spark.conf.set(key, "true")


def load_table(spark: SparkSession, sf_dir: str | None, name: str) -> DataFrame:
    """Load one driver table as a DataFrame (lazy parquet scan).

    The resolved relation is CACHED per session+path (r10, guide §1/§6):
    a bare ``spark.read.parquet`` re-lists the directory and re-reads a
    footer for schema inference on EVERY call — measured 136 ms/table of
    pure driver work at sf0.1, which an 8-table star query pays ~1 s per
    run, and which on an object store at 100 TB is a remote round-trip
    per table per query. A real warehouse resolves tables once in a
    metastore; this cache is that behavior. METADATA ONLY — the cached
    object is an unexecuted logical plan, so every action still computes
    from the parquet bytes; no results or intermediates are reused. A
    file-stamp check (size+mtime of the dir entries) invalidates the
    entry whenever the table's files change, so rewritten fixtures are
    re-resolved.

    Each call returns ``cached.alias(name)`` — a FRESH Dataset over the
    shared resolved plan (r11, from the r10 advice). The alias is one
    cheap py4j wrap (~1 ms, vs the 136 ms resolution it replaces) and
    restores per-call object identity: two loads of the same table can
    be attribute-joined (``a["k"] == b["k"]`` disambiguates instead of
    hitting AMBIGUOUS_SELF_JOIN or a trivially-true condition), and one
    caller's ``persist()``/``unpersist()`` operates on its own handle.
    CacheManager still substitutes shared-scan persists because alias
    nodes are stripped from canonicalized plans."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        cache = spark._hdw_table_cache
    except AttributeError:
        cache = {}
        try:
            spark._hdw_table_cache = cache
        except Exception:  # exotic session proxy: fall back to uncached
            cache = None
    if name == "events":
        # On every load, hit or miss: the conf must hold at scan time,
        # and a cached relation's scan happens at the NEXT action.
        _ensure_nanos_conf(spark)
    stamp = _table_stamp(path)
    if cache is not None and stamp is not None:
        hit = cache.get(path)
        if hit is not None and hit[0] == stamp:
            return hit[1].alias(name)
    if name == "events":
        df = _events_ts_fixup(spark.read.parquet(path))
    else:
        df = spark.read.parquet(path)
    if cache is not None and stamp is not None:
        cache[path] = (stamp, df)
    return df.alias(name)


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every driver table as a temp view for spark.sql queries."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# CSV (reference S1/S2: pd.read_csv / df.to_csv)
# ---------------------------------------------------------------------------

def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink with header, mirroring df.to_csv(index=False)."""
    df.write.mode(mode).option("header", "true").csv(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """CSV source with an explicit schema (no inference job at 100 TB)."""
    return spark.read.option("header", "true").schema(schema).csv(path)


# ---------------------------------------------------------------------------
# JSONL (newline-delimited JSON) — the interchange format LLM-corpus
# pipelines actually ship (one document object per line). The reference has
# no JSON path; this extends S1/S2 to the corpus world.
# ---------------------------------------------------------------------------

def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSONL sink: one JSON object per line, splittable across executors.

    Spark's json writer is already newline-delimited; ``ignoreNullFields``
    is disabled so a reader with an explicit schema sees every column on
    every line (null included) — round-trip stability over compactness.
    """
    df.write.mode(mode).option("ignoreNullFields", "false").json(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSONL source with an explicit schema.

    Explicit schema for the same reason as ``read_csv``: schema inference
    is a full extra pass over the data (at 100 TB, a full extra scan), and
    inferred types drift with content (an all-int sample infers LONG, then
    a decimal appears). ``mode=FAILFAST`` surfaces corrupt lines at read
    time instead of silently nulling them.
    """
    return (
        spark.read.schema(schema).option("mode", "FAILFAST").json(path)
    )


def jsonl_roundtrip(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` as JSONL and scan it back under the same schema —
    the correctness harness for the JSONL path."""
    write_jsonl(df, path)
    return read_jsonl(spark, path, df.schema)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (zlib default): the columnar interchange format for
    Hive/Trino-adjacent warehouses. Same splittable, predicate-pushdown
    story as parquet — kept as a sink option so downstream ORC-native
    stacks can consume exports without a conversion hop."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source. ORC files carry their schema; Spark's vectorized ORC
    reader does scan-level filter pushdown and column pruning exactly as
    for parquet, so plans over ORC keep the same shape."""
    return spark.read.orc(path)


def orc_roundtrip(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` as ORC and scan it back — correctness harness for
    the ORC path (schema + values must survive the format hop)."""
    write_orc(df, path)
    return read_orc(spark, path)
