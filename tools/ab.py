#!/usr/bin/env python
"""A/B between two commits: an arm is a revision, not a knob.

    python tools/ab.py REV_A REV_B [--pairs N] [--sf DIR] [--workdir DIR] \
        query [query ...]
    python tools/ab.py REV_A REV_B --perfbench WORKLOAD [--pairs N] \
        [--first-seed S] [--workdir DIR]

REV_A is the parent (baseline), REV_B the change. Each revision is
checked out with ``git worktree add --detach`` under the work dir, and
``bench.py`` runs in each worktree with ``SPARK_GRAFT_BENCH_ONLY`` set to
the queries, which may be any catalog query, headline or not (a revision
whose bench.py predates that accepts only headline names): bench.py's
small-SF warm-up, ``release_blocks()`` eviction and min-of-2 per query
are the measurement, so every sample is one fresh JVM of one arm. Pairs
alternate which arm runs first (A,B then B,A ...), so a host slow-window
cannot line up with one arm.

With ``--perfbench WORKLOAD`` each sample is instead one
``perfbench/run.py --workload WORKLOAD --seed S --seconds T --trace 0``
in the arm's worktree (T is ``run_seconds`` of BENCHMARK.json; pair i
runs seed S+i on both arms), and the rows are the end-to-end metrics
BENCHMARK.json declares, each judged in its own ``better`` direction.
The failed share of each arm's operations is printed with them.

For each query (or metric) it prints each arm's median [q1, q3], how
many pairs B won, and the verdict of the paired-run rule: a gain needs B to
win at least 9/10 of all pairs run (ties count for neither side) and the
medians to differ by more than A's interquartile range; "regression" is
the same rule with the arms swapped; anything else is "not met". The
JSON result line(s) of every run are kept in the work dir; the worktrees
are removed on exit, and a rerun with the ``--workdir`` of a killed run
first clears the worktrees that run left registered.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCHMARK = os.path.join(REPO, "BENCHMARK.json")
sys.path[:0] = [REPO, os.path.join(REPO, "tools")]

from bench_compare import load  # noqa: E402

from healthcare_data_warehouse_spark.config import DEFAULT_SF_DIR  # noqa: E402

WIN_SHARE = 0.9


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(a: list[float], b: list[float],
            better: str = "lower") -> tuple[int, str]:
    """(pairs B won, verdict) for paired samples, A the parent; seconds
    by default, ``better="higher"`` for a rate. A tie is a pair neither
    arm wins, but it still counts toward the pairs run."""
    if len(a) != len(b) or len(a) < 2:
        raise ValueError("need at least 2 pairs of equal length")
    if better == "higher":  # the same rule on the negated samples
        a, b = [-x for x in a], [-y for y in b]
    elif better != "lower":
        raise ValueError(f"better must be 'lower' or 'higher', not {better!r}")
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


def _remove_worktree(tree: str) -> None:
    subprocess.run(["git", "-C", REPO, "worktree", "remove", "--force", tree],
                   capture_output=True)


def add_worktree(tree: str, sha: str) -> None:
    """Check ``sha`` out, detached, at ``tree``. A killed run never
    reaches its cleanup and leaves its worktrees registered, and ``git
    worktree add`` then refuses the same path (exit 128): prune the
    registrations whose directory is gone and force-remove any worktree
    still at ``tree`` first."""
    _git("worktree", "prune")
    _remove_worktree(tree)
    _git("worktree", "add", "--detach", tree, sha)


def _run(cmd: list[str], tree: str, env: dict, out_stem: str,
         keep: int) -> list[str]:
    """Run one sample in ``tree``; keep the last ``keep`` stdout lines
    in ``out_stem.json`` and return them."""
    with open(out_stem + ".err", "w") as errfh:
        res = subprocess.run(cmd, cwd=tree, env=env, stdout=subprocess.PIPE,
                             stderr=errfh, text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        raise SystemExit(f"{cmd[1]} failed in {tree} (exit "
                         f"{res.returncode}); see {out_stem}.err")
    with open(out_stem + ".json", "w") as fh:
        fh.write("\n".join(lines[-keep:]) + "\n")
    return lines[-keep:]


def run_bench(tree: str, sf_dir: str, queries: list[str],
              out_stem: str) -> dict[str, float]:
    env = {**os.environ,
           "SPARK_GRAFT_SF_DIR": sf_dir,
           "SPARK_GRAFT_BENCH_ONLY": ",".join(queries),
           "SPARK_GRAFT_SCRATCH": os.path.join(tree, ".scratch")}
    _run([sys.executable, "bench.py"], tree, env, out_stem, keep=1)
    doc = load(out_stem + ".json")
    if doc.get("errors"):
        raise SystemExit(f"{tree}: query errors {doc['errors']}")
    return doc["queries"]


def run_perfbench(tree: str, workload: str, seed: int, seconds: float,
                  out_stem: str) -> dict[str, float]:
    """End-to-end metrics of one untraced perfbench run, plus its
    ``attempted`` and ``failed`` operation counts."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", f"{seconds:g}", "--trace", "0"]
    doc = json.loads(_run(cmd, tree, dict(os.environ), out_stem, keep=2)[-1])
    return {**{k: v["value"] for k, v in doc["metrics"].items()},
            "attempted": doc["attempted"], "failed": doc["failed"]}


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Interleaved A/B of two revisions via bench.py "
                    "(per query) or perfbench (per end-to-end metric)")
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--sf", default=DEFAULT_SF_DIR)
    ap.add_argument("--perfbench", metavar="WORKLOAD",
                    help="compare a BENCHMARK.json workload instead of "
                         "bench.py queries")
    ap.add_argument("--first-seed", type=int, default=1,
                    help="perfbench seed of the first pair")
    ap.add_argument("--workdir", default=None,
                    help="holds the worktrees and per-run JSON "
                         "(default: a fresh temp dir)")
    args = ap.parse_intermixed_args()
    if args.pairs < 2:
        ap.error("--pairs must be at least 2")
    if bool(args.perfbench) == bool(args.queries):
        ap.error("give either queries or --perfbench WORKLOAD")
    sf_dir = os.path.abspath(args.sf)
    if args.perfbench:
        with open(BENCHMARK) as fh:
            spec = json.load(fh)
        rows = {m["name"]: m["better"] for m in spec["end_to_end"]}
        label, unit = "metric", ""

        def sample(tree: str, i: int, stem: str) -> dict[str, float]:
            return run_perfbench(tree, args.perfbench, args.first_seed + i,
                                 spec["run_seconds"], stem)
    else:
        rows = dict.fromkeys(args.queries, "lower")
        label, unit = "query", " s"

        def sample(tree: str, i: int, stem: str) -> dict[str, float]:
            return run_bench(tree, sf_dir, args.queries, stem)
    work = os.path.abspath(args.workdir or tempfile.mkdtemp(prefix="ab-"))
    os.makedirs(work, exist_ok=True)

    arms = {"A": _git("rev-parse", "--verify", args.rev_a + "^{commit}"),
            "B": _git("rev-parse", "--verify", args.rev_b + "^{commit}")}
    trees = {arm: os.path.join(work, arm) for arm in arms}
    samples: dict[str, list[dict[str, float]]] = {arm: [] for arm in arms}
    try:
        for arm, sha in arms.items():
            add_worktree(trees[arm], sha)
        for i in range(args.pairs):
            for arm in ("A", "B") if i % 2 == 0 else ("B", "A"):
                samples[arm].append(
                    sample(trees[arm], i, os.path.join(work, f"{arm}{i}")))
            print(f"# pair {i + 1}/{args.pairs} done", file=sys.stderr,
                  flush=True)
    finally:
        for tree in trees.values():
            _remove_worktree(tree)
        _git("worktree", "prune")

    what = (f"workload={args.perfbench}  seeds={args.first_seed}.."
            f"{args.first_seed + args.pairs - 1}" if args.perfbench
            else f"sf={os.path.basename(sf_dir)}")
    print(f"# A={arms['A'][:10]} ({args.rev_a})  B={arms['B'][:10]} "
          f"({args.rev_b})  {what}  pairs={args.pairs}  runs={work}")
    if args.perfbench:
        shares = []
        for arm in arms:
            failed = sum(s["failed"] for s in samples[arm])
            attempted = sum(s["attempted"] for s in samples[arm])
            shares.append(f"{arm} {failed}/{attempted}")
        print("# failed operations: " + ", ".join(shares))
    print(f"{label:28s} {f'A median [q1, q3]{unit}':>26s} "
          f"{f'B median [q1, q3]{unit}':>26s} {'B wins':>7s}  verdict")
    for name, better in rows.items():
        a = [s[name] for s in samples["A"]]
        b = [s[name] for s in samples["B"]]
        b_wins, v = verdict(a, b, better)
        cells = []
        for xs in (a, b):
            q1, med, q3 = quartiles(xs)
            cells.append(f"{med:.3f} [{q1:.3f}, {q3:.3f}]")
        print(f"{name:28s} {cells[0]:>26s} {cells[1]:>26s} "
              f"{f'{b_wins}/{args.pairs}':>7s}  {v}")


if __name__ == "__main__":
    main()
