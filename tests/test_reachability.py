"""Every engine module, and every function, class and method in the
modules entry points reach, must be reachable from a non-test entry point
(no Spark session).

A module earns its place by being reachable from the query registry, the
``elt`` CLI, the maintenance loop, ``bench.py``, the driver entry, the
benchmark, the tools or the warehouse jobs. This test walks the static
import graph (AST, nothing is imported) from those entry points and fails
on any ``analytics_data_platform_spark`` module it never reaches — code
that only its own tests exercise, which is deleted by default. Modules
that are public API but still test-only are named in ``TEST_ONLY`` with
the reason they stay.

The same rule holds one level down: a top-level function, class or
method of a reached module is live when reached code names it (a
``Name``, an ``Attribute``, an import alias or an identifier string)
outside the definition's own body. Liveness is a fixpoint — a name used
only inside dead definitions does not count. Names match by spelling,
not by binding, so the check can miss dead code but never flags live
code. Decorated definitions (registry and DAG models), dunders and
methods of classes that extend a non-engine base (called by that
framework) are exempt; ``ALLOWED`` names the rest that stay, one reason
each.
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
    f"{PKG}.serve": "ad-hoc Spark SQL surface over the corpus (the reference's Trino "
    "role) for a Thrift/Connect server to call; no in-repo entry point starts one",
    f"{PKG}.oracle": "DuckDB oracle harness the correctness gate drives from tests",
    f"{PKG}.plans.audit": "shuffle-ledger plan audit, run from the plan-audit tests",
    f"{PKG}.sources.jdbc": "production Opralog JDBC reader; the opralogweb job "
    "refuses a configured JDBC URL rather than bind it, so only tests call it",
    f"{PKG}.sources.m365": "production SharePoint client; no job binds it (the "
    "electricity job refuses a configured site URL), so only tests call it",
}

ALLOWED = {
    # test references: the simple form a test pins a live fast path to
    "operators.dedup._band_buckets_col": "pure-Catalyst MinHash band rows that "
    "test_minhash_native.py pins minhash_band_rows bit-equal to",
    "operators.similarity.brute_force_topk": "exact top-k the recall tests score "
    "lsh_topk and ivf_topk against",
    "pipelines.incremental.merge_corpus_state": "full-state merge spec whose plans "
    "test_incremental_pipeline.py audits for scale hazards",
    "pipelines.incremental._merge_parts": "the body of merge_corpus_state",
    "pipelines.incremental.takedown_state_plan": "full-state takedown spec "
    "test_incremental_pipeline.py compares takedown_corpus_state against",
    # production-only paths the local backend cannot run
    "tables.maintenance.iceberg_maintenance_sql": "Iceberg maintenance CALLs; they "
    "need an Iceberg-enabled catalog, which the local backend is not",
    "tables.io.TableIO.restore_from_stage": "operator recovery after a failed stage "
    "swap, named in StageSwapError's message",
    "tables.io.TableIO.drop_namespace": "S16 namespace drop (reference iceberg/io.py:"
    "35-39); no job drops a namespace, the tests' teardown does",
    "sources.files.read_excel_table": "S9 xlsx reader for the production accelerator "
    "SharePoint sheets, which no offline job binds",
    "sources.files._parse_xlsx_grid": "read_excel_table's stdlib XLSX parser",
    "sources.files._xlsx_col_index": "read_excel_table's cell-reference helper",
}
PLAIN_DECORATORS = {"dataclass", "property", "classmethod", "staticmethod", "abstractmethod", "cache"}


@cache
def _module_files() -> dict[str, Path]:
    out = {}
    for p in (ROOT / PKG).rglob("*.py"):
        parts = list(p.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = p
    return out


@cache
def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text())


def _imports(path: Path, module: str | None, known: dict[str, Path]) -> set[str]:
    """Engine modules ``path`` imports, with their parent packages."""
    is_pkg = path.name == "__init__.py"
    found: set[str] = set()
    for node in ast.walk(_tree(path)):
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


def _names(node: ast.AST, skip=frozenset()) -> set[str]:
    """Identifiers ``node`` names, not descending into ``skip`` nodes."""
    out: set[str] = set()
    todo = [node]
    while todo:
        n = todo.pop()
        if n in skip:
            continue
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update((n.asname or n.name).split("."))
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
        todo.extend(ast.iter_child_nodes(n))
    return out


def _decorated(node) -> bool:
    def name(d):
        d = d.func if isinstance(d, ast.Call) else d
        return d.attr if isinstance(d, ast.Attribute) else getattr(d, "id", "")

    return any(name(d) not in PLAIN_DECORATORS for d in node.decorator_list)


@cache
def _dead_definitions() -> dict[str, int]:
    """Dead definition key (module without the package prefix, then the
    qualified name) -> line number, with ``ALLOWED`` entries counted live."""
    known = _module_files()
    trees = {m: _tree(known[m]) for m in _reachable()}
    engine_classes = {
        n.name for t in trees.values() for n in ast.walk(t) if isinstance(n, ast.ClassDef)
    }
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    units = []  # (key, name, node, owner key, exempt, skipped child nodes)
    live_names: set[str] = set()
    for pattern in ENTRY_FILES:
        for p in ROOT.glob(pattern):
            live_names |= _names(_tree(p))
    for m, tree in trees.items():
        tops = [n for n in tree.body if isinstance(n, defs)]
        live_names |= _names(tree, skip=frozenset(tops))
        for n in tops:
            key = f"{m.removeprefix(PKG + '.')}.{n.name}"
            exempt = _decorated(n) or n.name.startswith("__")
            if not isinstance(n, ast.ClassDef):
                units.append((key, n.name, n, None, exempt, frozenset()))
                continue
            methods = [b for b in n.body if isinstance(b, defs[:2])]
            framework = any(
                (b.attr if isinstance(b, ast.Attribute) else getattr(b, "id", ""))
                not in engine_classes | {"object"}
                for b in n.bases
            )
            units.append((key, n.name, n, None, exempt, frozenset(methods)))
            for b in methods:
                units.append((
                    f"{key}.{b.name}", b.name, b, key,
                    framework or _decorated(b) or b.name.startswith("__"), frozenset(),
                ))
    live: set[str] = set()
    grew = True
    while grew:
        grew = False
        for key, name, node, owner, exempt, skip in units:
            if key in live or (owner is not None and owner not in live):
                continue
            if exempt or key in ALLOWED or name in live_names:
                live.add(key)
                live_names |= _names(node, skip)
                grew = True
    return {
        key: node.lineno
        for key, _, node, owner, _, _ in units
        if key not in live and (owner is None or owner in live)
    }


def test_every_engine_definition_is_reachable():
    dead = _dead_definitions()
    assert not dead, (
        "definitions only tests reach (delete them, or add them to ALLOWED "
        f"with the reason they stay): {sorted(dead)}"
    )


def test_allow_list_is_current():
    """An allowed definition that an entry point now reaches, or that is
    gone, must leave the list rather than go stale."""
    saved = dict(ALLOWED)
    try:
        ALLOWED.clear()
        _dead_definitions.cache_clear()
        dead_without = set(_dead_definitions())
    finally:
        ALLOWED.update(saved)
        _dead_definitions.cache_clear()
    stale = sorted(set(ALLOWED) - dead_without)
    assert not stale, f"ALLOWED entries that are live or gone: {stale}"
