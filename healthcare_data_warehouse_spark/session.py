"""SparkSession factory.

Single place where scale-oriented physical knobs live:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
  runtime broadcast conversion) — healthcare-ish data skews on categorical
  keys (diagnosis/state analogs), so AQE skew handling is load-bearing at
  100 TB, not a nicety.
- ``spark.sql.shuffle.partitions`` sized from the local CPU budget; on a
  real cluster this would be ~2-3x total cores and AQE coalesces down.
- Session timezone pinned to UTC so date_trunc/year/month agree with the
  DuckDB oracle (naive timestamps) and results don't depend on host TZ.
- ``parquet.nanosAsLong`` because the driver's events table carries
  nanosecond INT64 timestamps which Spark's vectorized reader otherwise
  rejects; the events loader converts the long back to a timestamp.
- ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark wraps
  every ``functions.*`` call and Column operator in a call-site capture
  that reads a conf over py4j, walks the Python stack and sets, then
  clears, the JVM's current origin: several extra round trips per Column
  operation, paid on every plan build (catalog queries, served
  requests, the pipeline). Off, ``agg_by_agegroup`` builds in 120 round
  trips instead of 390. Errors keep their error class and root
  message (``AnalysisException`` ``UNRESOLVED_COLUMN`` still names the
  column); they lose only the "DataFrame query context" block that
  points at the Python ``file:line`` which built the failing
  expression. The conf is static: ``tune_session`` cannot set it on a
  session someone else built, so a driver-provided session keeps the
  capture unless its builder turns it off.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def runtime_confs(cpus: int) -> dict[str, str]:
    """The runtime-settable confs the engine needs, for a session with
    ``cpus`` cores: ``get_spark``'s builder and ``tune_session`` both
    apply this one table, so the two paths cannot disagree on a value."""
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Decouple the INITIAL shuffle width from the CPU count: with
        # coalescing on, AQE launches only as many reduce tasks as the
        # measured map output needs, so a high initial width costs
        # nothing at small SF — but at the scale frontier it is the
        # difference between a 600M-row sort-merge join spread over 256
        # sort buffers and the same join wedged into 32 (measured: the
        # sf100 orders⋈lineitem fact-fact join dies with
        # UNABLE_TO_ACQUIRE_MEMORY at width 32 on a 64g heap and runs at
        # width 256). On a 1000-executor cluster this knob, not
        # shuffle.partitions, carries the fan-out.
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum":
            str(max(8 * cpus, 256)),
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Runtime bloom-filter join pruning: when a shuffle join's build
        # side is selective, inject its key bloom filter into the probe
        # side's SCAN — at 100 TB this skips most of the fact before the
        # shuffle (the win broadcast joins get, without the memory bound).
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # trust per-bucket sort order from bucketed scans (off by default
        # since SPARK-28632) — removes the runtime Sort under every
        # co-bucketed SortMergeJoin. This is only correct one-file-per-
        # bucket, so EVERY path that creates or attaches a bucketed-
        # sorted table must go through sources/bucketing.py, which
        # enforces the invariant at write time (post-save check in
        # write_bucketed) AND at attach time (validate_one_file_per_
        # bucket before CREATE TABLE ... LOCATION); a split bucket fails
        # loud instead of silently skipping the sort.
        "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    }


def get_spark(app_name: str = "healthcare-dw-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Idempotent: if a session already exists (e.g. the driver passes one in),
    the configs that can be set at runtime are applied to it.
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config(map=runtime_confs(n))
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        # no per-Column call-site capture (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # `or` (not a .get default): an EMPTY env value must also fall
        # back — spark-submit rejects --driver-memory "" with "Driver
        # memory must be a positive number" before the JVM even starts
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or "8g")
        .config("spark.ui.enabled", "false")
    )
    if "spark.master" not in os.environ.get("PYSPARK_SUBMIT_ARGS", ""):
        # local[N,3]: allow 3 task attempts, mirroring a real cluster's
        # spark.task.maxFailures (which local mode IGNORES — the retry
        # count only comes from the master string). Without it one
        # transient Python-worker death aborts a whole 50-minute curve
        # point: the r10 sf100 bench lost dedup_embedding_topk to a
        # single worker crash that a lone retry would have absorbed
        # (the query passes standalone at the same scale and knobs).
        builder = builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", f"local[{n},3]"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _quiet_known_benign_warnings(spark)
    return spark


def _quiet_known_benign_warnings(spark: SparkSession) -> None:
    """Raise the log level for WindowExec to ERROR.

    Every unpartitioned window in the catalog runs over an already-
    aggregated tiny input (pct-of-total / rank over group counts — each
    site carries a "tiny/safe" comment and the raw-data windows are all
    partitioned), so WindowExec's per-query "No Partition Defined"
    warning is pure noise here; silencing it keeps the bench tail signal
    (VERDICT r02 item 6). Scale safety for those sites is asserted by
    tests/test_plan_shapes.py, not by grepping logs.
    """
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 logging backend; warnings are cosmetic anyway


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine configs to an externally provided session.

    The driver harness constructs its own SparkSession and hands it to
    ``entry(spark)``; static configs (master, memory) are out of our hands,
    but session timezone and AQE are runtime-settable and required for
    correctness parity with the oracle: every ``runtime_confs`` entry is
    applied. The call-site capture switch
    (``spark.python.sql.dataFrameDebugging.enabled``) is static, so it
    is not in that table: see the module docstring.
    """
    # derive the width from the SESSION's actual core budget (its master
    # is out of our hands), falling back to the env/cpu default
    try:
        n = int(spark.sparkContext.defaultParallelism)
    except Exception:
        n = default_parallelism()
    for key, val in runtime_confs(n).items():
        # Check-before-set (r10, measured): RuntimeConfig.set is ~13 ms
        # of py4j round-trip per key while conf.get is ~0.3 ms, and this
        # function runs on EVERY query invocation through the entry
        # wrapper — the blind 8-set loop cost ~104 ms/call, ~8 s across
        # one 42-query bench (2 timed runs each). Reading first keeps
        # the repair property (a drifted conf is still fixed) at ~3 ms
        # steady state. conf.get returns the EFFECTIVE value (built-in
        # defaults included), so an already-correct default is skipped.
        try:
            if spark.conf.get(key) == val:
                continue
        except Exception:
            pass  # unset and defaultless: fall through to set
        try:
            spark.conf.set(key, val)
        except Exception:
            pass  # immutable in this session; loaders have fallbacks
    if not getattr(spark, "_hdw_quieted", False):
        _quiet_known_benign_warnings(spark)  # ~32 ms of py4j/log4j work
        try:
            spark._hdw_quieted = True
        except Exception:
            pass
    return spark
