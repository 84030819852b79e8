"""Exact double sums go through one kernel, ``functions.expressions.dec_sum``.

``sum(CAST(x AS DECIMAL(18,4)))`` builds a ``BigDecimal`` per row;
``dec_sum``/``dsum``/``davg`` return the same bits from int64 limbs. This
test scans the package source for an ``F.sum`` over a
``cast("decimal(18,4)")`` (directly, through a variable, or through a
string constant) so a hand copy of the slow pattern cannot come back
unnoticed; the kernel itself is SQL text and has none. Tests keep the pattern: it is their reference."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "healthcare_data_warehouse_spark")


def _is_dec18_4(node: ast.AST) -> bool:
    return (isinstance(node, ast.Constant) and isinstance(node.value, str)
            and node.value.replace(" ", "").lower() == "decimal(18,4)")


def _has_dec_cast(node: ast.AST, tainted: set[str]) -> bool:
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and n.id in tainted:
            return True
        if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("cast", "astype") and n.args
                and (_is_dec18_4(n.args[0]) or (
                    isinstance(n.args[0], ast.Name)
                    and n.args[0].id in tainted))):
            return True
    return False


def _tainted_names(body: list[ast.AST], names: set[str]) -> set[str]:
    """``names`` plus the names ``body`` binds to the type string or to
    an expression that casts to it, to a fixed point (``rev =
    x.cast(T)``, then ``F.sum(rev)``)."""
    assigns = [n for stmt in body for n in ast.walk(stmt)
               if isinstance(n, ast.Assign)]
    while True:
        grown = set(names)
        for n in assigns:
            if _is_dec18_4(n.value) or _has_dec_cast(n.value, names):
                grown |= {t.id for t in n.targets if isinstance(t, ast.Name)}
        if grown == names:
            return names
        names = grown


def _sums_in(scope: ast.AST, tainted: set[str]) -> set[int]:
    return {n.lineno for n in ast.walk(scope)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == "sum" and isinstance(n.func.value, ast.Name)
            and n.func.value.id == "F"
            and any(_has_dec_cast(a, tainted) for a in n.args)}


def decimal_sums(tree: ast.Module) -> list[int]:
    """Line numbers of ``F.sum(...)`` calls over a decimal(18,4) cast.
    A variable taints only the function that binds it; module-level
    bindings taint the whole file."""
    top = [s for s in tree.body if not isinstance(
        s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))]
    module = _tainted_names(top, set())
    found = _sums_in(tree, module)
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            found |= _sums_in(fn, _tainted_names(fn.body, module))
    return sorted(found)


def test_scanner_sees_every_form():
    src = ('T = "DECIMAL(18, 4)"\n'
           'F.sum(F.col("a").cast("decimal(18,4)"))\n'
           'F.sum(F.col("b").cast(T))\n'
           'def f():\n'
           '    rev = (F.col("c") * 2).cast("decimal(18,4)")\n'
           '    return F.sum(rev)\n'
           'def g(rev):\n'
           '    return F.sum(rev), F.sum(F.col("d").cast("decimal(18,12)"))\n'
           'F.sum("e")\n')
    assert decimal_sums(ast.parse(src)) == [2, 3, 6]


def test_no_decimal_sum_outside_the_kernel():
    found: dict[str, list[int]] = {}
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                lines = decimal_sums(ast.parse(fh.read(), path))
            if lines:
                found[os.path.relpath(path, PKG)] = lines
    assert not found, found
