"""A query whose Spark SQL and DuckDB oracle come from one builder is
declared with ``register_sql``, never as a hand-written ``@register``
wrapper.

The wrapper shape ``register_sql`` replaces: a body that only binds base
tables to temp views (``load_table(...).createOrReplaceTempView(...)``,
``table_view(...)`` or a helper that does only that) and returns
``spark.sql(X)``, where ``X`` with each
view replaced by its table name and ``SPARK`` by ``DUCKDB`` is the
decorator's ``oracle=`` expression.  This test finds such wrappers by AST
so the convention cannot drift back, the way ``test_materialize_keep.py``
pins checkpoint sites.
"""

from __future__ import annotations

import ast
import copy
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "sales_telegram_bot_data_pipeline_spark"


def _call_name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Call):
        f = node.func
        return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
    return None


def _const(node: ast.AST):
    return node.value if isinstance(node, ast.Constant) else None


def _bound_table(stmt: ast.stmt) -> str | None:
    """The table of a ``load_table(..., "t").createOrReplaceTempView(v)``."""
    if isinstance(stmt, ast.Expr) and _call_name(stmt.value) == "createOrReplaceTempView":
        src = stmt.value.func.value
        if _call_name(src) == "load_table" and len(src.args) == 3:
            return _const(src.args[2])
    return None


def _view_helpers(pkg: pathlib.Path) -> dict[str, str]:
    """Functions whose body only binds one base table to a view and
    returns its name, mapped to that table (``table_view`` included)."""
    helpers = {"table_view": None}
    for path in pkg.rglob("*.py"):
        for fn in ast.parse(path.read_text()).body:
            if isinstance(fn, ast.FunctionDef) and len(fn.body) == 2:
                table, ret = _bound_table(fn.body[0]), fn.body[1]
                if table and isinstance(ret, ast.Return) and ret.value is not None:
                    if ast.dump(ret.value) == ast.dump(fn.body[0].value.args[0]):
                        helpers[fn.name] = table
    return helpers


def _base_table_view(node: ast.AST, helpers: dict[str, str]) -> str | None:
    """The table a view-binding helper call binds, e.g. ``table_view(spark,
    sf_dir, "t")`` -> ``"t"``."""
    name = _call_name(node)
    if name not in helpers:
        return None
    if name == "table_view":
        return _const(node.args[2]) if len(node.args) == 3 else None
    return helpers[name]


def _view_binds(stmts: list[ast.stmt], helpers: dict[str, str]) -> dict[str, str] | None:
    """ast.dump of each bound view expression -> its base table, or None
    when a statement does more than bind a base table to a view."""
    views: dict[str, str] = {}
    for s in stmts:
        if isinstance(s, (ast.Import, ast.ImportFrom)):
            continue
        if _bound_table(s):
            views[ast.dump(s.value.args[0])] = _bound_table(s)
            continue
        table = _base_table_view(s.value, helpers) if isinstance(s, ast.Assign) else None
        if table and len(s.targets) == 1 and isinstance(s.targets[0], ast.Name):
            views[ast.dump(ast.Name(id=s.targets[0].id, ctx=ast.Load()))] = table
            continue
        return None
    return views


class _ToOracle(ast.NodeTransformer):
    """Rewrite the Spark-side SQL expression into its oracle twin."""

    def __init__(self, views: dict[str, str], helpers: dict[str, str]):
        self.views = views
        self.helpers = helpers

    def visit(self, node):
        key = ast.dump(node)
        if key in self.views:
            return ast.Constant(self.views[key])
        table = _base_table_view(node, self.helpers)
        if table:
            return ast.Constant(table)
        if isinstance(node, ast.Name) and node.id == "SPARK":
            return ast.Name(id="DUCKDB", ctx=ast.Load())
        if isinstance(node, ast.Constant) and node.value == "spark":
            return ast.Constant("duckdb")
        return self.generic_visit(node)


def shared_builder_wrappers(pkg: pathlib.Path = PKG) -> list[str]:
    helpers = _view_helpers(pkg)
    found = []
    for path in sorted(pkg.rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            decs = [d for d in fn.decorator_list if _call_name(d) == "register"]
            oracle = next((k.value for d in decs for k in d.keywords if k.arg == "oracle"), None)
            if oracle is None:
                continue
            body = fn.body
            if isinstance(body[0], ast.Expr) and isinstance(_const(body[0].value), str):
                body = body[1:]
            ret = body[-1] if body else None
            if not (
                isinstance(ret, ast.Return)
                and _call_name(ret.value) == "sql"
                and len(ret.value.args) == 1
            ):
                continue
            views = _view_binds(body[:-1], helpers)
            if views is None:
                continue
            spark_sql = _ToOracle(views, helpers).visit(copy.deepcopy(ret.value.args[0]))
            if ast.dump(spark_sql) == ast.dump(oracle):
                found.append(f"{path.stem}:{fn.name}")
    return found


def test_no_hand_written_shared_builder_wrapper():
    assert shared_builder_wrappers() == [], (
        "declare these with registry.register_sql(name, build, tables)"
    )

