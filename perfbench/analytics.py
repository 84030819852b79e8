"""``analytics``: pinned headline catalog queries, one client, closed loop.

Setup runs every pinned query once through the repo's oracle gate
(``tools/oracle_check.check_query``: Spark collects, DuckDB runs the
oracle SQL, the comparison is the gate's own), which both checks the
outputs and builds the on-disk index caches. The timed region then runs
the queries, each materialized with the noop sink, in whole passes
(``PASSES_PER_S`` per second of ``--seconds``, at least ``MIN_PASSES``),
each pass in its own permutation drawn from the seed; each query reports
its best pass and ``wall_s`` is their sum. There is no block release between
queries, as in a long-lived session. A traced run makes the same passes
and traces the last one.
"""

from __future__ import annotations

import random
import time

from perfbench import spans
from perfbench.harness import Bench, Outcome, oracle_check
from perfbench.layers import per_layer, storage_extra, storage_mark
from perfbench.workloads import ANALYTICS_QUERIES

# The JIT keeps speeding the queries up for several passes after the
# check pass, so a query's best is taken over at least this many passes.
# The count is set by --seconds, not by the host's speed: when a slow
# host fitted fewer passes into --seconds, it reported a colder best,
# which widened the run-to-run spread.
MIN_PASSES = 4
# about one pass per 3.3 s on a 4-core host
PASSES_PER_S = 0.3


def _one_pass(b: Bench, qs: dict, order: list[str], out: Outcome) -> dict[str, float]:
    """Run every query once; count each in ``out`` and return their walls."""
    from healthcare_data_warehouse_spark import decisions

    tr = b.tracer
    walls = {}
    with tr.span("analytics.pass"):
        for name in order:
            t0 = time.perf_counter()
            out.attempted += 1
            with tr.span("analytics.query", query=name) as qspan:
                try:
                    with tr.span("catalog.build"):
                        df = qs[name](b.spark, b.sf_dir)
                    if b.traced:
                        with tr.span("catalyst") as cspan:
                            cspan["attrs"].update(spans.catalyst_phases(df))
                    with tr.span("exec.noop_write"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001 — count, keep going
                    out.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                walls[name] = time.perf_counter() - t0
                regimes = decisions.drain()
                if b.traced:
                    with tr.span("trace.probe"):
                        blocks, mem = spans.storage_held(b.spark)
                    qspan["attrs"].update(blocks_held=blocks, mem_used_bytes=mem,
                                          regimes=regimes)
    return walls


def run(b: Bench, root: str) -> Outcome:
    import __spark_entry__ as entry

    out = Outcome()
    qs = entry.queries()
    names = [n for n in ANALYTICS_QUERIES if n in qs]
    for n in ANALYTICS_QUERIES:
        if n not in qs:
            out.attempted += 1
            out.fail(f"{n}: not in queries()")

    oc = oracle_check(root)
    t_warm = time.perf_counter()
    check_s = {}
    for name in names:
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            problems = oc.check_query(b.spark, name, b.sf_dir)
        except Exception as exc:  # noqa: BLE001
            problems = [f"{type(exc).__name__}: {str(exc)[:200]}"]
        check_s[name] = round(time.perf_counter() - t0, 3)
        if problems:
            out.fail(f"{name}: oracle: {problems[:3]}")
    out.details["check_s"] = check_s
    b.setup["warm_s"] = time.perf_counter() - t_warm

    # every pass runs its own seeded permutation, so no one order's
    # interactions between queries (leaked blocks, JIT state) decide a run
    rng = random.Random(b.seed)
    n_passes = max(MIN_PASSES, round(b.seconds * PASSES_PER_S))
    passes: list[dict[str, float]] = []
    for i in range(n_passes):
        if b.traced and i == n_passes - 1:
            b.tracer.spans.clear()
            mark, before = spans.job_max_id(b.spark), storage_mark(b)
        passes.append(_one_pass(b, qs, rng.sample(names, len(names)), out))
    out.details["pass_s"] = [round(sum(p.values()), 3) for p in passes]

    if b.traced:
        out.latencies_s = list(passes[-1].values())
        root_span = next(s for s in b.tracer.spans if s["name"] == "analytics.pass")
        wall = root_span["t1"] - root_span["t0"]
        extra = storage_extra(b, before)
        extra["trace.wall_s"] = wall
        out.walls_s.append(wall)
        out.layers = per_layer(b, "analytics.pass", spans.spark_jobs(b.spark, mark), extra)
        out.details["queries"] = [
            {"query": s["attrs"]["query"], "wall_s": s["t1"] - s["t0"],
             **{k: v for k, v in s["attrs"].items() if k != "query"}}
            for s in b.tracer.spans if s["name"] == "analytics.query"]
        return out

    # each query's best pass: a host stall only ever adds time
    best = {n: min(p[n] for p in passes) for n in names}
    out.latencies_s = list(best.values())
    out.walls_s = [sum(out.latencies_s)]
    out.details["query_s"] = {n: round(t, 3) for n, t in best.items()}
    return out
