"""Every ``session.materialize_once`` call site must be a measured keep.

A checkpoint adds an eager action and forks the Spark SQL away from the
DuckDB oracle text, so it stays only where an interleaved A/B showed it
pays (the keep rule in ``session.materialize_once``).  The sites that met
the rule are the ``keep`` rows of the keep table in PERF_NOTES.md.  This
test pins the call sites in the package to those rows: a new site needs a
measured row, and a dropped site needs its row changed to ``drop``.
"""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "sales_telegram_bot_data_pipeline_spark"


def _call_sites() -> set[str]:
    sites = set()
    for path in PKG.rglob("*.py"):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef) or fn.name == "materialize_once":
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "materialize_once":
                    sites.add(f"{path.stem}:{fn.name}")
    return sites


def _keep_table() -> dict[str, str]:
    text = (ROOT / "PERF_NOTES.md").read_text()
    section = text.split("## materialize_once keep table", 1)[1].split("\n## ", 1)[0]
    rows = {}
    for line in section.splitlines():
        m = re.match(r"\|\s*`([\w]+:[\w]+)`\s*\|.*\|\s*(keep|drop)\s*\|\s*$", line)
        if m:
            rows[m.group(1)] = m.group(2)
    return rows


def test_every_materialize_once_site_is_a_measured_keep():
    table = _keep_table()
    assert table, "PERF_NOTES.md has no materialize_once keep table rows"
    kept = {site for site, decision in table.items() if decision == "keep"}
    assert _call_sites() == kept
