"""Every engine module is reached from an entry point.

The engine is what its entry points run: the catalog queries
(``__spark_entry__``), the star pipeline (``runner``), the scheduled jobs
(``scheduler``), the corpus job (``corpus_runner``) and the HTTP server
(``plans.http_api``). These tests walk every ``import`` and
``from ... import`` node (function-local ones too) from those roots, so a
module that only tests import fails here instead of growing unnoticed.
A module outside that reach must mirror a reference feature and say which
on ``KEEP``."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_NAME = "healthcare_data_warehouse_spark"
PKG = os.path.join(REPO, PKG_NAME)

ENTRY_POINTS = (
    "__spark_entry__",
    f"{PKG_NAME}.runner",
    f"{PKG_NAME}.scheduler",
    f"{PKG_NAME}.corpus_runner",
    f"{PKG_NAME}.plans.http_api",
)

KEEP = {
    # SCD2 dimensions: SURVEY §1.1, reference init.sql:62-64
    f"{PKG_NAME}.operators.scd2",
    # research-export sink: SURVEY S5, reference export_utils.py:43-64
    f"{PKG_NAME}.sources.export",
    # right-to-erasure (forget_patients): the reference README's GDPR claim
    f"{PKG_NAME}.sources.maintenance",
}


def engine_modules() -> dict[str, str]:
    """Dotted module name → source path, for every module in the package
    (a package is its ``__init__``) plus the root ``__spark_entry__``."""
    mods = {"__spark_entry__": os.path.join(REPO, "__spark_entry__.py")}
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            parts = os.path.relpath(os.path.join(root, f), REPO)[:-3].split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            mods[".".join(parts)] = os.path.join(root, f)
    return mods


def imported_modules(name: str, path: str, known: set[str]) -> set[str]:
    """Engine modules one module imports, with each parent package."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    package = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    targets = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")
                base = base[:len(base) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            targets.add(mod)
            # ``from pkg import sub`` imports the submodule ``pkg.sub``
            targets.update(f"{mod}.{alias.name}" for alias in node.names)
    reached = set()
    for t in targets:
        parts = t.split(".")
        reached.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return reached & known


def reachable(mods: dict[str, str]) -> set[str]:
    seen: set[str] = set()
    todo = list(ENTRY_POINTS)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(imported_modules(name, mods[name], set(mods)) - seen)
    return seen


def test_walk_follows_relative_local_and_package_imports(tmp_path):
    src = ("from . import catalog\n"
           "def f():\n"
           "    from ..operators.skew import spread\n")
    path = tmp_path / "m.py"
    path.write_text(src)
    known = {PKG_NAME, f"{PKG_NAME}.plans", f"{PKG_NAME}.plans.catalog",
             f"{PKG_NAME}.operators", f"{PKG_NAME}.operators.skew"}
    assert imported_modules(f"{PKG_NAME}.plans.m", str(path), known) == known


def test_every_engine_module_is_reached_or_kept():
    mods = engine_modules()
    assert set(ENTRY_POINTS) | KEEP <= set(mods)
    unreached = set(mods) - reachable(mods) - KEEP
    assert not unreached, sorted(unreached)


def test_keep_list_holds_only_unreached_modules():
    assert not KEEP & reachable(engine_modules())
