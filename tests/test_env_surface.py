"""The engine's environment surface is the deployment settings only.

Every engine tuning value is a constant in ``config.py``; A/B arms are
commits compared with ``tools/ab.py``, not env vars. These tests scan
the package source and ``bench.py`` for every ``os.environ`` /
``os.getenv`` key so a new env knob cannot come back unnoticed."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "healthcare_data_warehouse_spark")

DEPLOYMENT = {
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SCRATCH", "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_MASTER",
    # set/extended for Python workers and read to respect a caller's
    # spark-submit master; neither tunes the engine
    "PYTHONPATH", "PYSPARK_SUBMIT_ARGS",
}
# bench.py's harness contract: the fixture, the query subset and the
# run conditions it stamps into its JSON line
BENCH = {
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ"
            and isinstance(node.value, ast.Name) and node.value.id == "os")


def _key(node: ast.AST | None) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return "<non-literal key>"


def env_keys(tree: ast.AST) -> set[str]:
    keys = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            keys.add(_key(node.slice))
        elif isinstance(node, ast.Call) and isinstance(node.func,
                                                       ast.Attribute):
            f = node.func
            if (_is_environ(f.value) or (
                    f.attr == "getenv" and isinstance(f.value, ast.Name)
                    and f.value.id == "os")):
                keys.add(_key(node.args[0] if node.args else None))
        elif isinstance(node, ast.Compare) and any(
                _is_environ(c) for c in node.comparators):
            keys.add(_key(node.left))
    return keys


def test_scanner_sees_every_access_form():
    src = ('import os\nos.environ.get("A")\nos.environ["B"]\n'
           '"C" in os.environ\nos.getenv("D")\nos.environ.pop(k)\n')
    assert env_keys(ast.parse(src)) == {"A", "B", "C", "D",
                                        "<non-literal key>"}


def test_engine_env_keys_are_deployment_settings_only():
    found: dict[str, list[str]] = {}
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    tree = ast.parse(fh.read(), path)
                for k in env_keys(tree):
                    found.setdefault(k, []).append(
                        os.path.relpath(path, PKG))
    assert set(found) == DEPLOYMENT, {
        k: v for k, v in found.items() if k not in DEPLOYMENT}


def test_bench_env_keys_are_its_harness_contract():
    path = os.path.join(REPO, "bench.py")
    with open(path) as fh:
        found = env_keys(ast.parse(fh.read(), path))
    assert found == BENCH, found ^ BENCH
