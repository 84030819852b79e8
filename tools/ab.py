#!/usr/bin/env python
"""Per-query A/B between two commits: an arm is a revision, not a knob.

    python tools/ab.py REV_A REV_B [--pairs N] [--sf DIR] [--workdir DIR] \
        query [query ...]

REV_A is the parent (baseline), REV_B the change. Each revision is
checked out with ``git worktree add --detach`` under the work dir, and
``bench.py`` runs in each worktree with ``SPARK_GRAFT_BENCH_ONLY`` set to
the queries: bench.py's small-SF warm-up, ``release_blocks()`` eviction
and min-of-2 per query are the measurement, so every sample is one fresh
JVM of one arm. Pairs alternate which arm runs first (A,B then B,A ...),
so a host slow-window cannot line up with one arm.

For each query it prints each arm's median [q1, q3] seconds, how many
pairs B won, and the verdict of the sandbox rule: a gain needs B to win
at least 9/10 of all pairs run (ties count for neither side) and the
medians to differ by more than A's interquartile range; "regression" is
the same rule with the arms swapped; anything else is "not met". The
bench JSON line of every run is kept in the work dir; the worktrees are
removed on exit.
"""

from __future__ import annotations

import argparse
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "tools")]

from bench_compare import load  # noqa: E402

from healthcare_data_warehouse_spark.config import DEFAULT_SF_DIR  # noqa: E402

WIN_SHARE = 0.9


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(a: list[float], b: list[float]) -> tuple[int, str]:
    """(pairs B won, verdict) for paired seconds (lower is better), A
    the parent. A tie is a pair neither arm wins, but it still counts
    toward the pairs run."""
    if len(a) != len(b) or len(a) < 2:
        raise ValueError("need at least 2 pairs of equal length")
    n = len(a)
    b_wins = sum(y < x for x, y in zip(a, b))
    a_wins = sum(x < y for x, y in zip(a, b))
    q1, med_a, q3 = quartiles(a)
    gap = med_a - statistics.median(b)
    if b_wins >= WIN_SHARE * n and gap > q3 - q1:
        return b_wins, "gain"
    if a_wins >= WIN_SHARE * n and -gap > q3 - q1:
        return b_wins, "regression"
    return b_wins, "not met"


def _git(*args: str) -> str:
    return subprocess.run(["git", "-C", REPO, *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def run_bench(tree: str, sf_dir: str, queries: list[str],
              out_stem: str) -> dict[str, float]:
    env = {**os.environ,
           "SPARK_GRAFT_SF_DIR": sf_dir,
           "SPARK_GRAFT_BENCH_ONLY": ",".join(queries),
           "SPARK_GRAFT_SCRATCH": os.path.join(tree, ".scratch")}
    with open(out_stem + ".err", "w") as errfh:
        res = subprocess.run([sys.executable, "bench.py"], cwd=tree, env=env,
                             stdout=subprocess.PIPE, stderr=errfh, text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        raise SystemExit(f"bench.py failed in {tree} (exit "
                         f"{res.returncode}); see {out_stem}.err")
    with open(out_stem + ".json", "w") as fh:
        fh.write(lines[-1] + "\n")
    doc = load(out_stem + ".json")
    if doc.get("errors"):
        raise SystemExit(f"{tree}: query errors {doc['errors']}")
    return doc["queries"]


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Interleaved per-query A/B of two revisions via bench.py")
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--workdir", default=None,
                    help="holds the worktrees and per-run JSON "
                         "(default: a fresh temp dir)")
    args = ap.parse_args()
    if args.pairs < 2:
        ap.error("--pairs must be at least 2")
    sf_dir = os.path.abspath(args.sf)
    work = os.path.abspath(args.workdir or tempfile.mkdtemp(prefix="ab-"))
    os.makedirs(work, exist_ok=True)

    arms = {"A": _git("rev-parse", "--verify", args.rev_a + "^{commit}"),
            "B": _git("rev-parse", "--verify", args.rev_b + "^{commit}")}
    trees = {arm: os.path.join(work, arm) for arm in arms}
    times: dict[str, dict[str, list[float]]] = {
        arm: {q: [] for q in args.queries} for arm in arms}
    try:
        for arm, sha in arms.items():
            _git("worktree", "add", "--detach", trees[arm], sha)
        for i in range(args.pairs):
            for arm in ("A", "B") if i % 2 == 0 else ("B", "A"):
                got = run_bench(trees[arm], sf_dir, args.queries,
                                os.path.join(work, f"{arm}{i}"))
                for q in args.queries:
                    times[arm][q].append(got[q])
            print(f"# pair {i + 1}/{args.pairs} done", file=sys.stderr,
                  flush=True)
    finally:
        for tree in trees.values():
            subprocess.run(["git", "-C", REPO, "worktree", "remove",
                            "--force", tree], capture_output=True)
        _git("worktree", "prune")

    print(f"# A={arms['A'][:10]} ({args.rev_a})  B={arms['B'][:10]} "
          f"({args.rev_b})  sf={os.path.basename(sf_dir)}  "
          f"pairs={args.pairs}  runs={work}")
    print(f"{'query':28s} {'A median [q1, q3] s':>26s} "
          f"{'B median [q1, q3] s':>26s} {'B wins':>7s}  verdict")
    for q in args.queries:
        a, b = times["A"][q], times["B"][q]
        b_wins, v = verdict(a, b)
        cells = []
        for xs in (a, b):
            q1, med, q3 = quartiles(xs)
            cells.append(f"{med:.3f} [{q1:.3f}, {q3:.3f}]")
        print(f"{q:28s} {cells[0]:>26s} {cells[1]:>26s} "
              f"{f'{b_wins}/{args.pairs}':>7s}  {v}")


if __name__ == "__main__":
    main()
