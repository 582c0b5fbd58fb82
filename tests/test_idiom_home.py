"""Shared idioms live in one module each.

``queries/util.py`` owns the wide-int -> double string route, the
sorted 0.0-seed fold, the round-trip double literal and the ``value``
cents expression. A module-level function or constant anywhere else in
the package whose text IS one of those idioms is a re-grown private
copy: import the helper from ``queries.util`` instead.

``plans/inspect.py`` owns the plan checks (scan count, window and node
walks, the window-key and collect hazard checks with their key sets);
per-query scan budgets, window rules and nested-loop and collect exceptions are rows
of ``PLAN_RULES`` in ``tests/test_plan_rules.py``, whose nested-loop,
window-key and collect rules run over every registered and staged
query. No other test module runs those three checks.

``hadoop_fs.py`` owns py4j access to the Hadoop FileSystem classes,
and ``queries/util.py`` the daily revenue panel (``daily_cents`` and
its oracle CTE ``SQL_DAILY_CENTS``).

``streaming/ingest.py::run_stream`` starts every package stream, so
each one gets the checkpoint manager its checkpoint's scheme needs.

No package module holds a query's result past the query: a
module-level binding annotated with ``DataFrame`` is a cross-query
cache, which answers a rewritten input with a stale relation. A shared
intermediate is materialized with ``localCheckpoint``, never with
``persist()`` / ``cache()``, whose plan-keyed cache entry outlives the
build and serves a later build of the same plan.
"""

from __future__ import annotations

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / "de_project_airflow_etl_spark"
TESTS = pathlib.Path(__file__).resolve().parent
HOME = PKG / "queries" / "util.py"
PLAN_HOME = PKG / "plans" / "inspect.py"

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


_PLAN_HELPERS = {"_window_nodes", "_node_names",
                 "_windows_sit_above_aggregates",
                 "_bounded_subtree", "_is_bounding_aggregate"}
_PLAN_CONSTANTS = {"FIXED_CARDINALITY", "GROWS_WITH_DATA"}
_SCAN_COUNT = re.compile(r'count\("Scan parquet"\)')


def _top_level_names(tree: ast.Module) -> set[str]:
    names = set()
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
    return names


def test_plan_checks_are_defined_only_in_inspect():
    """A hand-counted scan budget, a private copy of a plan walk (or of
    the window-hazard key sets), or a plan helper imported from another
    test module, outside ``plans/inspect.py`` is a re-grown copy: use
    ``inspect.scan_count`` / ``window_nodes`` / ``node_names`` or a
    ``PLAN_RULES`` row (the window-key and collect hazards are its
    ``window_keys`` and ``collects`` rules) instead."""
    helpers = (_PLAN_HELPERS | _PLAN_CONSTANTS
               | _top_level_names(ast.parse(PLAN_HOME.read_text())))
    copies = []
    for path in sorted([*PKG.rglob("*.py"), *TESTS.rglob("*.py")]):
        if path == PLAN_HOME:
            continue
        text = path.read_text()
        where = path.relative_to(PKG.parent)
        for lineno, line in enumerate(text.splitlines(), 1):
            if _SCAN_COUNT.search(line):
                copies.append(f"{where}:{lineno} counts parquet scans")
        tree = ast.parse(text, filename=str(path))
        for name in _top_level_names(tree) & _PLAN_CONSTANTS:
            copies.append(f"{where} defines {name}")
        for node in ast.walk(tree):
            if (isinstance(node, ast.FunctionDef)
                    and node.name in _PLAN_HELPERS):
                copies.append(f"{where}:{node.lineno} defines {node.name}")
            if (isinstance(node, ast.ImportFrom)
                    and (node.module or "").startswith("tests.test_")):
                shared = sorted({a.name for a in node.names} & helpers)
                if shared:
                    copies.append(f"{where}:{node.lineno} imports "
                                  f"{shared} from {node.module}")
    assert not copies, "\n".join(copies)


RULES_HOME = TESTS / "test_plan_rules.py"


def _is_parametrized(fn: ast.FunctionDef) -> bool:
    return any(isinstance(d, ast.Call)
               and getattr(d.func, "attr", None) == "parametrize"
               for d in fn.decorator_list)


def test_nested_loop_rule_has_one_home():
    """The nested-loop gate is the ``nested_loops`` rule of
    ``PLAN_RULES``, applied to every query: a per-bank exceptions table
    or a bank-parametrized test calling ``bnlj_builds_are_scalar``
    elsewhere is a re-grown copy."""
    copies = []
    for path in sorted(TESTS.rglob("*.py")):
        if path == RULES_HOME:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        where = path.relative_to(PKG.parent)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Name)
                    and node.id == "_JUSTIFIED_BNLJ_BUILDS"
                    and isinstance(node.ctx, ast.Store)):
                copies.append(f"{where}:{node.lineno} defines "
                              f"_JUSTIFIED_BNLJ_BUILDS")
            if (isinstance(node, ast.FunctionDef) and _is_parametrized(node)
                    and any(getattr(c.func, "id", None)
                            == "bnlj_builds_are_scalar"
                            for c in ast.walk(node)
                            if isinstance(c, ast.Call))):
                copies.append(f"{where}:{node.lineno} {node.name} runs "
                              f"the nested-loop gate over a bank")
    assert not copies, "\n".join(copies)


def test_hazard_rules_have_one_home():
    """The window-key and collect hazard checks are the ``window_keys``
    and ``collects`` rules of ``PLAN_RULES``, applied to every query: a
    test module calling ``fixed_key_window_hazards`` or
    ``unbounded_collects`` elsewhere is a re-grown per-file audit."""
    checks = {"fixed_key_window_hazards", "unbounded_collects"}
    copies = []
    for path in sorted(TESTS.rglob("*.py")):
        if path == RULES_HOME:
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Call):
                called = (getattr(node.func, "id", None)
                          or getattr(node.func, "attr", None))
                if called in checks:
                    copies.append(f"{path.relative_to(PKG.parent)}:"
                                  f"{node.lineno} calls {called}")
    assert not copies, "\n".join(copies)


FS_HOME = PKG / "hadoop_fs.py"


def test_hadoop_fs_access_has_one_home():
    """py4j access to ``org.apache.hadoop.fs`` (Path, FileSystem,
    FileUtil) lives in ``hadoop_fs.py``, which resolves the package
    once per call: a dotted lookup elsewhere is a re-grown copy."""
    copies = [f"{path.relative_to(PKG.parent)}:{lineno}"
              for path in sorted(PKG.rglob("*.py")) if path != FS_HOME
              for lineno, line in enumerate(path.read_text().splitlines(), 1)
              if "apache.hadoop.fs" in line]
    assert not copies, "\n".join(copies)


def _body(fn: ast.FunctionDef) -> str:
    """The function's statements without its docstring, as an AST dump."""
    body = fn.body
    if (body and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)):
        body = body[1:]
    return ast.dump(ast.Module(body=body, type_ignores=[]))


def test_daily_revenue_panel_has_one_home():
    """A module-level function with ``util.daily_cents``'s body, or a
    constant with ``util.SQL_DAILY_CENTS``'s text, elsewhere in the
    package is a re-grown copy of the daily revenue panel. The frozen
    staged banks keep their own copies."""
    home = ast.parse(HOME.read_text())
    panel = next(_body(n) for n in home.body
                 if isinstance(n, ast.FunctionDef) and n.name == "daily_cents")
    cte = dict(_definitions(home))["SQL_DAILY_CENTS"]
    copies = []
    for path in sorted(PKG.rglob("*.py")):
        if path == HOME or "staged" in path.parts:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and _body(node) == panel:
                copies.append(f"{path.relative_to(PKG)}::{node.name}")
        copies += [f"{path.relative_to(PKG)}::{name}"
                   for name, text in _definitions(tree) if text == cte]
    assert not copies, "\n".join(copies)


def test_no_module_level_dataframe_holders():
    """A query derives what it reads inside its own build: a
    module-level name annotated with ``DataFrame`` (a cache dict, a
    list, an optional slot) outlives the query and serves the next one
    a relation built from inputs that may since have been rewritten.
    The frozen staged banks are not scanned."""
    holders = []
    for path in sorted(PKG.rglob("*.py")):
        if "staged" in path.parts:
            continue
        for node in ast.parse(path.read_text(), filename=str(path)).body:
            if (isinstance(node, ast.AnnAssign) and re.search(
                    r"\bDataFrame\b", ast.unparse(node.annotation))):
                holders.append(f"{path.relative_to(PKG)}:{node.lineno} "
                               f"{getattr(node.target, 'id', '?')}")
    assert not holders, "\n".join(holders)


def test_queries_do_not_persist():
    """A shared intermediate is an eager ``localCheckpoint`` of the
    build that reads it. ``persist()`` and ``cache()`` register the
    plan in Spark's CacheManager, which keeps it after the query
    returns: a later build of the same plan reads the old blocks, even
    after its input files were rewritten. The frozen staged banks are
    not scanned."""
    calls = []
    for path in sorted(PKG.rglob("*.py")):
        if "staged" in path.parts:
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("persist", "cache")):
                calls.append(f"{path.relative_to(PKG)}:{node.lineno} "
                             f".{node.func.attr}()")
    assert not calls, "\n".join(calls)


def _receiver_attrs(node: ast.AST):
    """Attribute names along a call chain, outermost first."""
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            yield node.attr
            node = node.value
        else:
            node = node.func


def test_streams_start_only_through_the_runner():
    """A ``writeStream`` chain ending in ``.start()`` starts a stream
    without ``ingest.run_stream``, so a ``file:`` checkpoint would keep
    Spark's FileContext manager and fork ``readlink`` processes on
    every log rename. The frozen staged banks are not scanned."""
    starts = []
    for path in sorted(PKG.rglob("*.py")):
        if "staged" in path.parts:
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "start"
                    and "writeStream" in _receiver_attrs(node.func.value)):
                starts.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not starts, "\n".join(starts)
