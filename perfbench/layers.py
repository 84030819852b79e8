"""Turn one traced region's spans and Spark jobs into per-layer metrics.

Every workload reports every metric; a layer the workload never calls
reads 0 (that is the prediction for it, e.g. no audit writes on the
analytics workload)."""

from __future__ import annotations

import os
from typing import Any

from perfbench import spans
from perfbench.harness import Bench, dir_usage

# run-dir children that hold Spark's own transient files, not program output
TRANSIENT_DIRS = ("spark-local", "jvm-tmp")

# Which end-to-end metric each layer should move, on which workload: the
# prediction a change to that layer is judged against. "none" names the
# workload that bypasses the layer, where the prediction is no change.
MOVES = {
    "catalog.build_*": "wall_s on analytics; ops_per_s on serve (a miss rebuilds the plan)",
    "catalyst.*": "wall_s on analytics (small: tens of ms per query)",
    "exec.*": "wall_s on analytics and pipeline; wall_s and ops_per_s on serve",
    "storage.blocks_held, storage.mem_used_bytes": "wall_s on analytics (later queries)",
    "storage.files_written, storage.write_bytes_per_input_byte": "wall_s on pipeline; none on analytics",
    "serving.*": "wall_s and ops_per_s on serve; none on analytics",
    "audit.*": "wall_s and ops_per_s on serve, wall_s on pipeline; none on analytics",
    "http.*, cache.*": "wall_s and ops_per_s on serve; none elsewhere",
    "star.*, privacy.*, ml.*, sinks.*, loaders.*, runner.*": "wall_s on pipeline; none on analytics",
    "session.start_s, setup.warm_s": "setup_s on every workload",
    "mem.*": "nothing end to end: memory, too noisy run to run for a bound",
    "trace.*": "nothing: the tracing itself (traced wall, probes, unattributed share)",
}

# per-layer metric -> span names whose self time it sums
SELF_TIME = {
    "catalog.build_s": ["catalog.build"],
    "exec.noop_write_s": ["exec.noop_write"],
    "serving.run_s": ["serving.run"],
    "audit.log_s": ["audit.log_audit"],
    "audit.read_s": ["audit.read_audit_log"],
    "http.collect_s": ["http.run_cached"],
    "http.transport_s": ["http.request", "http.handle"],
    "star.dims_s": ["star.dim_customer", "star.dim_supplier"],
    "star.fact_s": ["star.fact_orders"],
    "star.fact_write_s": ["star.write_fact_partitioned"],
    "privacy.audit_s": ["privacy.audit_report"],
    "ml.predict_s": ["ml.predict_readmission"],
    "ml.anomaly_s": ["ml.anomaly_scores"],
    "sinks.upsert_s": ["sinks.upsert_to_path"],
    "loaders.load_s": ["loaders.load_table"],
    "runner.self_s": ["runner.run_pipeline"],
    "trace.probe_s": ["trace.probe"],
}
CALLS = {
    "serving.calls": "serving.run",
    "audit.calls": "audit.log_audit",
}
# metrics only some workloads hand in through ``extra``; 0 elsewhere
WORKLOAD_ONLY = ["http.response_bytes", "http.hit_latency_ms",
                 "http.miss_latency_ms", "http.resends", "cache.hit_ratio",
                 "cache.lookups"]
EXEC_SUMS = ["stages", "tasks", "task_time_s", "task_cpu_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "gc_s", "failed_tasks", "output_bytes"]


def _written(b: Bench) -> tuple[int, int]:
    files = size = 0
    for d in os.listdir(b.run_dir):
        if d not in TRANSIENT_DIRS:
            f, n = dir_usage(os.path.join(b.run_dir, d))
            files, size = files + f, size + n
    return files, size


def _audit_files() -> int:
    """Parquet part files in the audit log: one per appended event."""
    from healthcare_data_warehouse_spark.sources.audit import audit_log_path

    path = audit_log_path()
    return sum(n.endswith(".parquet") for _r, _d, names in os.walk(path) for n in names)


def storage_mark(b: Bench) -> tuple[int, int, int]:
    return (*_written(b), _audit_files())


def storage_extra(b: Bench, mark: tuple[int, int, int]) -> dict[str, float]:
    """Files and bytes the region wrote (outputs, audit log, on-disk
    caches) and the blocks still pinned when it ended."""
    files, size = _written(b)
    blocks, mem = spans.storage_held(b.spark)
    return {
        "storage.blocks_held": blocks,
        "storage.mem_used_bytes": mem,
        "storage.files_written": files - mark[0],
        "storage.write_bytes_per_input_byte": (size - mark[1]) / b.input_bytes,
        "audit.files_written": _audit_files() - mark[2],
    }


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, edge = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, edge)
        if b > a:
            total += b - a
            edge = b
    return total


def per_layer(b: Bench, root: str, jobs: list[dict[str, Any]],
              extra: dict[str, float]) -> dict[str, float]:
    """``root`` names the span(s) that cover the timed region; their self
    time is what no layer span accounts for."""
    sp = b.tracer.spans
    self_s = spans.layer_self_seconds(sp)
    counts = spans.layer_counts(sp)
    m: dict[str, float] = {
        "session.start_s": b.setup["session_start_s"],
        "setup.warm_s": b.setup["warm_s"],
    }
    for metric, names in SELF_TIME.items():
        m[metric] = sum(self_s.get(n, 0.0) for n in names)
    for metric, name in CALLS.items():
        m[metric] = counts.get(name, 0)

    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for s in sp:
        if s["name"] == "catalyst":
            for k in phases:
                phases[k] += s["attrs"].get(k, 0.0)
    for k, v in phases.items():
        m[f"catalyst.{k}_s"] = v

    def layer_of(job: dict[str, Any]) -> str | None:
        g = job["group"]
        return g.split(spans.GROUP_SEP)[0] if g else None

    m["catalog.build_jobs"] = sum(1 for j in jobs if layer_of(j) == "catalog.build")
    m["exec.jobs"] = len(jobs)
    for k in EXEC_SUMS:
        m[f"exec.{k}"] = sum(j[k] for j in jobs)
    m["exec.s"] = _union_seconds([(j["t0_ms"] / 1e3, j["t1_ms"] / 1e3) for j in jobs
                                  if j["t0_ms"] is not None and j["t1_ms"] is not None])
    m["exec.slot_util"] = (m["exec.task_time_s"] / (m["exec.s"] * b.cores)
                           if m["exec.s"] else 0.0)

    roots = [s for s in sp if s["name"] == root]
    root_total = sum(s["t1"] - s["t0"] for s in roots)
    m["trace.unattributed_share"] = (self_s.get(root, 0.0) / root_total
                                     if root_total else 0.0)
    m.update(dict.fromkeys(WORKLOAD_ONLY, 0.0))
    m.update(extra)
    return m
