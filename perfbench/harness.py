"""State shared by the three workloads: the session, the tracer, timing
helpers and the shape of a workload's result."""

from __future__ import annotations

import gc
import importlib.util
import math
import os
from dataclasses import dataclass, field
from types import ModuleType
from typing import Any

from perfbench import spans


@dataclass
class Bench:
    spark: Any
    tracer: spans.Tracer
    sf_dir: str
    run_dir: str
    seed: int
    seconds: float
    traced: bool
    cores: int
    input_bytes: int
    setup: dict[str, float] = field(default_factory=dict)


@dataclass
class Outcome:
    """What a workload hands back. ``latencies_s`` are the timed
    operations (queries, requests or pipeline runs); ``walls_s`` the
    timed units whose median is ``wall_s``."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    latencies_s: list[float] = field(default_factory=list)
    walls_s: list[float] = field(default_factory=list)
    concurrency: int = 1  # closed-loop clients issuing the operations
    layers: dict[str, float] = field(default_factory=dict)
    details: dict[str, Any] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


def oracle_check(root: str) -> ModuleType:
    """The repository's oracle gate (``tools/oracle_check.py``), whose
    comparisons the output checks reuse."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def warm_page_cache(paths: list[str]) -> None:
    for p in paths:
        with open(p, "rb") as fh:
            while fh.read(1 << 24):
                pass


def percentile(values: list[float], q: float) -> float:
    """Percentile (q in 0..100), linear between the two nearest ranks, so
    a small sample does not jump from one operation's time to the next."""
    xs = sorted(values)
    pos = q / 100 * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quiesce(spark) -> None:
    """Full collection in Python and in the JVM, outside any timed region,
    so garbage the previous phase left does not get collected inside it."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def heap_retained_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the session
    keeps alive (cached and checkpointed blocks, broadcasts, plans)."""
    quiesce(spark)
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def tree_peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus its direct children
    (the JVM), in MB."""
    pids = [os.getpid()]
    me = str(os.getpid())
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if stat[stat.rindex(")") + 2:].split()[1] == me:
            pids.append(int(d))
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def dir_usage(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, 0 when absent. Checksum and
    marker files (``.*``, ``_*``) count toward bytes, not files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += not n.startswith((".", "_"))
            size += os.path.getsize(os.path.join(root, n))
    return files, size
