"""tools/ab.py's verdict rule, as a pure function on synthetic paired
seconds (lower is better; A is the parent): a gain needs B to win at
least 9/10 of all pairs run, ties counting for neither side, AND the
medians to differ by more than A's interquartile range."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

import ab  # noqa: E402
from ab import verdict  # noqa: E402

# parent runs: median 1.005, IQR 0.02
A = [1.00, 1.02, 1.01, 0.99, 1.03, 1.00, 1.02, 0.98, 1.01, 1.00]


def _faster(n_wins: int, n_ties: int = 0, by: float = 0.2) -> list[float]:
    """B beats A by ``by`` on the first n_wins pairs, ties the next
    n_ties, and loses the rest by the same margin."""
    return [a - by if i < n_wins else a if i < n_wins + n_ties else a + by
            for i, a in enumerate(A)]


def test_nine_of_ten_wins_beyond_parent_iqr_is_a_gain():
    b = _faster(9)
    assert verdict(A, b) == (9, "gain")


def test_eight_of_ten_wins_is_not_met():
    assert verdict(A, _faster(8)) == (8, "not met")


def test_ties_count_for_neither_side():
    # a tie is no win for B: 8 wins + 2 ties is still 8/10
    assert verdict(A, _faster(8, n_ties=2)) == (8, "not met")
    # ...nor a loss: 9 wins + 1 tie clears 9/10 of all pairs run
    assert verdict(A, _faster(9, n_ties=1)) == (9, "gain")
    # all ties: nobody wins, no verdict either way
    assert verdict(A, list(A)) == (0, "not met")


def test_all_wins_inside_parent_iqr_is_not_met():
    # B wins every pair, but by 0.005 s while A's own runs spread 0.02 s
    assert verdict(A, _faster(10, by=0.005)) == (10, "not met")


def test_regression_is_the_mirror_rule():
    assert verdict(A, _faster(0)) == (0, "regression")
    assert verdict(A, _faster(2)) == (2, "not met")  # A won only 8/10


def test_rejects_unpaired_or_single_samples():
    with pytest.raises(ValueError):
        verdict(A, A[:-1])
    with pytest.raises(ValueError):
        verdict([1.0], [0.5])


def test_higher_is_better_mirrors_the_rule():
    # a rate (ops/s): B higher on 9/10 pairs by more than A's IQR is a gain
    b = _faster(9)
    assert verdict(A, b, better="higher") == (1, "regression")
    up = [a + 0.2 if i < 9 else a - 0.2 for i, a in enumerate(A)]
    assert verdict(A, up, better="higher") == (9, "gain")
    assert verdict(A, up) == (1, "regression")  # the same data as seconds
    assert verdict(A, [a + 0.005 for a in A], better="higher") == (10, "not met")
    with pytest.raises(ValueError):
        verdict(A, up, better="sideways")


def _git(repo, *args):
    return subprocess.run(["git", "-C", str(repo), *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def test_add_worktree_recovers_from_a_killed_run(tmp_path, monkeypatch):
    # a killed run skips its cleanup: its worktrees stay registered, one
    # with its directory still there and one whose directory is gone
    repo = tmp_path / "repo"
    repo.mkdir()
    _git(repo, "init", "-q")
    (repo / "f").write_text("x\n")
    _git(repo, "add", "f")
    _git(repo, "-c", "user.name=t", "-c", "user.email=t@t", "commit", "-qm", "c")
    sha = _git(repo, "rev-parse", "HEAD")
    work = tmp_path / "work"
    trees = [str(work / "A"), str(work / "B")]
    for tree in trees:
        _git(repo, "worktree", "add", "--detach", tree, sha)
    shutil.rmtree(trees[1])
    with pytest.raises(subprocess.CalledProcessError):
        _git(repo, "worktree", "add", "--detach", trees[0], sha)

    monkeypatch.setattr(ab, "REPO", str(repo))
    for tree in trees:
        ab.add_worktree(tree, sha)
        assert (work / os.path.basename(tree) / "f").read_text() == "x\n"
    listed = _git(repo, "worktree", "list", "--porcelain")
    assert sorted(line.split(" ", 1)[1] for line in listed.splitlines()
                  if line.startswith("worktree ")) == sorted([str(repo), *trees])
