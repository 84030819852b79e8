"""Benchmark of the three paths users wait on: analytics queries, served
requests and the warehouse pipeline.

    python3 perfbench/run.py --workload analytics_sf0.1 --seed 1 \\
        --seconds 10 --trace 0

Run it from the repository root. It generates its fixture under
``.perfbench/fixture`` (once; the data seed is fixed), gives the run its
own scratch, temp, Spark local and warehouse directories under
``.perfbench/``, runs the workload, checks its outputs, and prints as the
last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``. ``--trace 1`` runs the timed region with spans around
each layer (analytics: the same passes, tracing the last; pipeline: one
run) and reports the per-layer metrics, writing
the spans and per-query regimes to ``.perfbench/traces/``; its
``trace.wall_s`` against the untraced runs' ``wall_s`` is the tracing
overhead. The line before the result carries the run's provenance.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT  # the repository, not this directory, is the import root

ENGINE = ("healthcare_data_warehouse_spark", "__spark_entry__.py")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _isolate(run_dir: str) -> None:
    """Point every place the engine or Spark writes at this run's own
    directory, before either is imported: the audit log and sink scratch
    (SPARK_GRAFT_SCRATCH), the on-disk index caches (tempfile), shuffle
    files, JVM temp files and the table warehouse."""
    dirs = {d: os.path.join(run_dir, d)
            for d in ("scratch", "tmp", "spark-local", "jvm-tmp", "warehouse", "out")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["SPARK_GRAFT_SCRATCH"] = dirs["scratch"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options -Djava.io.tmpdir={dirs['jvm-tmp']}",
        f"--conf spark.sql.warehouse.dir={dirs['warehouse']}",
        "--conf spark.ui.showConsoleProgress=false",
        # keep every job of a run in the status store for the trace
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = None


def _engine_identity() -> dict:
    h = hashlib.sha256()
    paths = []
    for top in ENGINE:
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            paths.append(p)
        for base, _dirs, files in os.walk(p):
            paths += [os.path.join(base, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    ident = {"engine_tree_sha256": h.hexdigest()[:16], "git_sha": "unknown"}
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if sha.returncode == 0:
            dirty = subprocess.run(
                ["git", "-C", ROOT, "status", "--porcelain", "--untracked-files=no",
                 "--", *ENGINE], capture_output=True, text=True, timeout=10)
            ident["git_sha"] = sha.stdout.strip() + ("+dirty" if dirty.stdout.strip() else "")
    except (OSError, subprocess.SubprocessError):
        pass
    return ident


def _stop(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _e2e(outcome, setup_s: float) -> dict[str, float]:
    lat = outcome.latencies_s
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(outcome.walls_s),
        # closed-loop throughput by Little's law: clients / mean latency
        "ops_per_s": outcome.concurrency * len(lat) / sum(lat),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        ap.error(f"unknown workload {args.workload!r}; one of {names}")
    for top in ENGINE:
        if not os.path.exists(os.path.join(ROOT, top)):
            sys.exit(f"engine not found: {top} is missing from {ROOT}")

    from perfbench import analytics, fixture, layers, pipeline, serve, spans
    from perfbench.harness import (Bench, heap_retained_mb, percentile,
                                   tree_peak_rss_mb, warm_page_cache)
    from perfbench.workloads import SCALE

    state = os.path.join(ROOT, ".perfbench")
    sf_dir = fixture.ensure_fixture(os.path.join(state, "fixture"), SCALE[args.workload])
    run_dir = os.path.join(state, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir)
    workload = {"analytics": analytics, "serve": serve,
                "pipeline": pipeline}[args.workload.split("_")[0]]

    t0 = time.perf_counter()
    from healthcare_data_warehouse_spark.session import get_spark

    spark = get_spark("perfbench")
    try:
        session_s = time.perf_counter() - t0
        files = fixture.fixture_files(sf_dir)
        t1 = time.perf_counter()
        warm_page_cache(files)
        b = Bench(spark=spark, tracer=spans.Tracer(spark, bool(args.trace)),
                  sf_dir=sf_dir, run_dir=run_dir, seed=args.seed,
                  seconds=args.seconds, traced=bool(args.trace),
                  cores=spark.sparkContext.defaultParallelism,
                  input_bytes=sum(os.path.getsize(f) for f in files),
                  setup={"session_start_s": session_s})
        page_s = time.perf_counter() - t1
        outcome = workload.run(b, ROOT)
        heap_mb = heap_retained_mb(spark)
        rss_mb = tree_peak_rss_mb()
    finally:
        _stop(spark)
    setup_s = session_s + page_s + b.setup["warm_s"]

    if args.trace:
        metrics = {**outcome.layers, "mem.peak_rss_mb": rss_mb,
                   "mem.heap_retained_mb": heap_mb}
        kind = "per_layer"
    else:
        metrics, kind = _e2e(outcome, setup_s), "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    missing = set(units) ^ set(metrics)
    if missing:
        raise RuntimeError(f"metrics do not match BENCHMARK.json {kind}: {sorted(missing)}")

    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "traced": bool(args.trace), **_engine_identity(),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "fixture_dir": os.path.relpath(sf_dir, ROOT),
        "fixture_bytes": b.input_bytes,
        "setup": b.setup, "operations": len(outcome.latencies_s),
        "latency_p50_ms": percentile(outcome.latencies_s, 50) * 1e3,
        "peak_rss_mb": rss_mb, "heap_retained_mb": heap_mb,
        "problems": outcome.problems[:20], **outcome.details,
    }
    if args.trace:
        traces = os.path.join(state, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        with open(path, "w") as fh:
            json.dump({"provenance": provenance, "metrics": metrics,
                       "predictions": layers.MOVES, "spans": b.tracer.spans},
                      fh, default=str)
        provenance["trace_file"] = os.path.relpath(path, ROOT)
        provenance.pop("queries", None)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"provenance": provenance}, default=str))
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
