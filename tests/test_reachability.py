"""Every engine module must be reachable from a non-test entry point
(no Spark session).

A module earns its place by being reachable from the query registry, the
``elt`` CLI, the maintenance loop, ``bench.py``, the driver entry, the
benchmark, the tools or the warehouse jobs. This test walks the static
import graph (AST, nothing is imported) from those entry points and fails
on any ``analytics_data_platform_spark`` module it never reaches — code
that only its own tests exercise, which is deleted by default. Modules
that are public API but still test-only are named in ``TEST_ONLY`` with
the reason they stay.
"""

from __future__ import annotations

import ast
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "analytics_data_platform_spark"

ENTRY_MODULES = [f"{PKG}.queries", f"{PKG}.elt.cli", f"{PKG}.tables.maintenance"]
ENTRY_FILES = ["bench.py", "__spark_entry__.py", "lakebench/*.py", "tools/*.py", "warehouses/**/*.py"]

TEST_ONLY = {
    f"{PKG}.serve": "Spark Connect serving surface; no in-repo launcher yet",
    f"{PKG}.oracle": "DuckDB oracle harness the correctness gate drives from tests",
    f"{PKG}.plans.audit": "shuffle-ledger plan audit, run from the plan-audit tests",
    f"{PKG}.operators.serving_refs": "index clone/ref API, not yet wired into a query",
    f"{PKG}.functions.udtfs": "registered Python UDTFs, not yet wired into a query",
    f"{PKG}.streaming.sinks": "streaming sink helpers, not yet wired into a query",
    f"{PKG}.sources.jdbc": "production Opralog source; the offline job uses a fake",
    f"{PKG}.sources.m365": "production SharePoint source; the offline jobs use canned rows",
}


@cache
def _module_files() -> dict[str, Path]:
    out = {}
    for p in (ROOT / PKG).rglob("*.py"):
        parts = list(p.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = p
    return out


def _imports(path: Path, module: str | None, known: dict[str, Path]) -> set[str]:
    """Engine modules ``path`` imports, with their parent packages."""
    is_pkg = path.name == "__init__.py"
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = (module or "").split(".")
                pkg = pkg[: len(pkg) - node.level + (1 if is_pkg else 0)]
                base = ".".join(pkg + ([base] if base else []))
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
    closed = set()
    for name in found:
        parts = name.split(".")
        closed.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return {m for m in closed if m in known}


@cache
def _reachable() -> frozenset[str]:
    known = _module_files()
    seen: set[str] = set()
    todo = list(ENTRY_MODULES)
    for pattern in ENTRY_FILES:
        for p in ROOT.glob(pattern):
            todo += _imports(p, None, known)
    while todo:
        m = todo.pop()
        if m in seen or m not in known:
            continue
        seen.add(m)
        todo += _imports(known[m], m, known)
    return frozenset(seen)


def test_every_engine_module_is_reachable():
    unreached = set(_module_files()) - _reachable() - set(TEST_ONLY)
    assert not unreached, (
        f"engine modules reachable only from tests (delete them, or wire "
        f"them into an entry point): {sorted(unreached)}"
    )


def test_test_only_list_is_current():
    """An entry that became reachable, or whose module is gone, must leave
    the list rather than go stale."""
    known = _module_files()
    stale = sorted(m for m in TEST_ONLY if m not in known or m in _reachable())
    assert not stale, f"TEST_ONLY entries no longer test-only: {stale}"
