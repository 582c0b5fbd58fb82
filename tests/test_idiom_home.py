"""The exact-arithmetic SQL idioms live in one module.

``queries/util.py`` owns the wide-int -> double string route, the
sorted 0.0-seed fold, the round-trip double literal and the ``value``
cents expression. A module-level function or constant anywhere else in
the package whose text IS one of those idioms is a re-grown private
copy: import the helper from ``queries.util`` instead.
"""

from __future__ import annotations

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / "de_project_airflow_etl_spark"
HOME = PKG / "queries" / "util.py"

_IDIOMS = {
    "wide": r"CAST\(CAST\(\{\} AS (STRING|VARCHAR)\) AS DOUBLE\)",
    "fold_sorted_spark": (r"aggregate\(array_sort\(\{\}\), "
                          r"CAST\(0\.0 AS DOUBLE\), \(acc, v\) -> acc \+ v\)"),
    "fold_sorted_sql": (r"list_reduce\(list_prepend\(CAST\(0\.0 AS DOUBLE\), "
                        r"list_sort\((list\(\{\}\)|\{\})\)\), "
                        r"\(acc, v\) -> acc \+ v\)"),
    "dlit": r"CAST\('\{\}' AS DOUBLE\)",
    "sql_cents": r"CAST\(ROUND\(value \* 100\) AS BIGINT\)",
}


def _template(node: ast.AST) -> str | None:
    """SQL text of a string expression, ``{}`` per interpolation; None
    when the expression is not built from string pieces alone."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        parts = [_template(v) if isinstance(v, ast.Constant) else "{}"
                 for v in node.values]
        return "".join(parts)
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
        left, right = _template(node.left), _template(node.right)
        if left is not None and right is not None:
            return left + right
    return None


def _definitions(tree: ast.Module):
    """(name, template) for every top-level constant and every
    top-level function whose body is one ``return <string>``."""
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value:
            target = (node.targets[0] if isinstance(node, ast.Assign)
                      else node.target)
            yield getattr(target, "id", "?"), _template(node.value)
        elif isinstance(node, ast.FunctionDef):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)):
                body = body[1:]  # docstring
            if len(body) == 1 and isinstance(body[0], ast.Return):
                yield node.name, _template(body[0].value)


def test_exact_idioms_are_defined_only_in_util():
    copies = []
    for path in sorted(PKG.rglob("*.py")):
        if path == HOME:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for name, text in _definitions(tree):
            if text is None:
                continue
            for helper, pattern in _IDIOMS.items():
                if re.fullmatch(pattern, text.strip()):
                    copies.append(f"{path.relative_to(PKG)}::{name} "
                                  f"re-defines util.{helper}")
    assert not copies, "\n".join(copies)


def test_util_defines_every_idiom():
    """The guard's patterns track the helpers they protect."""
    tree = ast.parse(HOME.read_text())
    found = {name for name, text in _definitions(tree)
             if text is not None and any(
                 re.fullmatch(p, text.strip()) for p in _IDIOMS.values())}
    assert found == {"wide", "fold_sorted_spark", "fold_sorted_sql", "dlit"}
