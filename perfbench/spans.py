"""Spans and Spark counters recorded from the benchmark's side.

A span is one call into a layer: name, start, end, the span that caused
it and the request (trace) it belongs to. Spans live in memory and are
written out once, when the run ends. A layer's self time is its span's
duration minus the part of that interval its child spans cover, so the
self times of one request's spans add up to the request's wall.

Every span also tags the Spark jobs its thread launches with a job group
naming the span, so job, stage and task counts can be charged to the
layer that caused them, read from Spark's status store after the timed
region ends.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Callable, Iterator

GROUP_SEP = "#"


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op,
    so the same workload code runs traced and untraced."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict[str, Any]]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, parent: tuple[int, int] | None = None,
             tag_jobs: bool = True,
             **attrs: Any) -> Iterator[dict[str, Any] | None]:
        """Open a span. ``parent`` = (trace id, span id) links a span to
        one opened on another thread (a server handler to its client).
        ``tag_jobs=False`` skips the job-group tag, for spans on threads
        that launch no Spark jobs."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        if parent is not None:
            trace_id, parent_id = parent
        elif stack:
            trace_id, parent_id = stack[-1]["trace"], stack[-1]["id"]
        else:
            trace_id, parent_id = sid, None
        sp = {"id": sid, "parent": parent_id, "trace": trace_id, "name": name,
              "attrs": attrs, "t0": time.perf_counter()}
        sc = self.spark.sparkContext
        if tag_jobs:
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(f"{name}{GROUP_SEP}{sid}", name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["t1"] = time.perf_counter()
            stack.pop()
            if tag_jobs:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(sp)

    def wrap(self, fn: Callable, name: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, module: Any, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a traced wrapper (traced runs only;
        the process exits after the run, so nothing is restored)."""
        if self.enabled:
            setattr(module, attr, self.wrap(getattr(module, attr), name))


def self_times(spans: list[dict[str, Any]]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp["parent"] is not None:
            kids[sp["parent"]].append((sp["t0"], sp["t1"]))
    out: dict[int, float] = {}
    for sp in spans:
        t0, t1 = sp["t0"], sp["t1"]
        covered, edge = 0.0, t0
        for a, b in sorted(kids.get(sp["id"], ())):
            a, b = max(a, edge), min(b, t1)
            if b > a:
                covered += b - a
                edge = b
        out[sp["id"]] = (t1 - t0) - covered
    return out


def layer_self_seconds(spans: list[dict[str, Any]]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for sp in spans:
        out[sp["name"]] += st[sp["id"]]
    return dict(out)


def layer_counts(spans: list[dict[str, Any]]) -> dict[str, int]:
    out: dict[str, int] = defaultdict(int)
    for sp in spans:
        out[sp["name"]] += 1
    return dict(out)


# --- Spark status store -------------------------------------------------

STAGE_FIELDS = {
    "task_time_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "gc_s": ("jvmGcTime", 1e-3),
    "output_bytes": ("outputBytes", 1),
    "tasks": ("numCompleteTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def wait_listener_bus(spark) -> None:
    """Let the status store catch up with the jobs that just ended."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_max_id(spark) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = _seq(store.jobsList(None))
    return max((j.jobId() for j in jobs), default=-1)


def spark_jobs(spark, after_job_id: int) -> list[dict[str, Any]]:
    """Jobs with id > ``after_job_id``: their group and summed stage
    metrics (stages skipped because their shuffle output was reused
    report zero work)."""
    wait_listener_bus(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in _seq(store.jobsList(None)):
        if j.jobId() <= after_job_id:
            continue
        grp = j.jobGroup()
        sub, end = j.submissionTime(), j.completionTime()
        rec: dict[str, Any] = {
            "job": j.jobId(),
            "group": grp.get() if grp.isDefined() else None,
            "t0_ms": sub.get().getTime() if sub.isDefined() else None,
            "t1_ms": end.get().getTime() if end.isDefined() else None,
            "stages": 0,
        }
        for k in STAGE_FIELDS:
            rec[k] = 0
        for sid in _seq(j.stageIds()):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage evicted from the store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            for k, (getter, scale) in STAGE_FIELDS.items():
                rec[k] += getattr(st, getter)() * scale
        out.append(rec)
    return out


def storage_held(spark) -> tuple[int, int]:
    """(cached blocks, storage memory bytes) still pinned by persisted or
    checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    blocks = mem = 0
    for info in infos:
        blocks += info.numCachedPartitions()
        mem += info.memSize()
    return blocks, mem


def catalyst_phases(df) -> dict[str, float]:
    """Plan the DataFrame and read its phase tracker: seconds spent in
    analysis, optimization and planning."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        if phases.contains(k):
            p = phases.apply(k)
            out[k] = (p.endTimeMs() - p.startTimeMs()) / 1e3
        else:
            out[k] = 0.0
    return out
