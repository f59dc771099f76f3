"""Every module of the package is reached from an entry point, or is on
the short list of modules that only their own tests import; and every
query builder is registered or tested.

Walks the static import graph (``ast``, no Spark) from the CLI
(``tax_compliance_engine_spark.cli`` and ``__main__``), the query registry
(``__spark_entry__``) and the benchmark scripts (``perfbench/*.py``).  A
module that none of them imports serves no command, query or workload.
The ones that exist today are listed in ``TEST_ONLY``; a new one fails
this test, and so does a listed one that is deleted or becomes reached
(take it off the list then).

A public builder in ``plans/queries.py`` or ``plans/queries_dataops.py``
must be registered in ``__spark_entry__.queries()`` or ``oracle_sql()``,
or be named by a test; one that only a timing script calls is dead code.

A public top-level function of a core module must be referenced in code
outside ``tests/`` through its module (``mod.fn`` with ``mod`` bound to that
module, ``from mod import fn``, or a bare ``fn`` inside the module itself;
not a string, a comment, or a same-named parameter elsewhere), or be listed
in ``UNREACHED_FUNCTIONS`` with its reason.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "tax_compliance_engine_spark"
PERFBENCH = REPO / "perfbench"
TESTS = REPO / "tests"
BUILDER_MODULES = [
    REPO / PKG / "plans" / "queries.py",
    REPO / PKG / "plans" / "queries_dataops.py",
]

# Data-ops streaming operators and source helpers that no entry point
# imports; only their own tests (test_ann_and_stream_dedup, test_cdc,
# test_dataops, test_webops, and test_streaming's LM screens) do.
TEST_ONLY = {
    f"{PKG}.sources.bucketing",
    f"{PKG}.sources.corpus_io",
    f"{PKG}.streaming.ann_stream",
    f"{PKG}.streaming.cdc_stream",
    f"{PKG}.streaming.dedup_stream",
    f"{PKG}.streaming.enrich_stream",
    f"{PKG}.streaming.quality_stream",
    f"{PKG}.streaming.rollup_stream",
    f"{PKG}.streaming.search_stream",
    f"{PKG}.streaming.web_stream",
}

# The engine's tax-compliance modules, whose public functions the
# function-level guard checks.
CORE_MODULES = [
    "cli",
    "dims",
    "rates_api",
    "reports",
    "session",
    "operators/tax",
    "operators/refund",
    "operators/nexus",
    "operators/alerts",
    "operators/calendar",
    "sources/transactions",
    "streaming/nexus_monitor",
]

# Public core functions that no code outside tests/ names, each with why it
# stays.
UNREACHED_FUNCTIONS = {
    "reports.filing_status_report": "no CLI command renders it yet; wiring "
    "it into `compliance` or deleting it is the owner's call",
    "sources.transactions.write_results_partitioned": "the partitioned "
    "sink that the two pruning tests cover",
    "operators.calendar.overdue_filings": "the paper's overdue filter (P10), "
    "which a calendar test pins; the CLI filters overdue deadlines inside "
    "alerts.overdue_alerts instead",
}


def _modules() -> dict[str, Path]:
    """Dotted name -> file for the package, the registry and perfbench
    (perfbench scripts import each other by bare name)."""
    mods = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    mods["__spark_entry__"] = REPO / "__spark_entry__.py"
    for path in PERFBENCH.glob("*.py"):
        mods[path.stem] = path
    return mods


def _from_module(name: str, path: Path, node: ast.ImportFrom) -> str:
    """The absolute module of ``from X import ...`` in module ``name``."""
    if not node.level:
        return node.module or ""
    package = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
    base = package[: len(package) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _imported(name: str, path: Path) -> set[str]:
    """Names a module may import: every ``import`` target, and for
    ``from X import a`` both X and X.a (a may be a submodule)."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            mod = _from_module(name, path, node)
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def _reached(mods: dict[str, Path], roots: list[str]) -> set[str]:
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in seen or name not in mods:
            continue
        seen.add(name)
        # importing a.b.c runs the package __init__s of a and a.b first
        parts = name.split(".")
        todo.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        todo.extend(_imported(name, mods[name]))
    return seen


def test_every_module_is_reached_or_listed_test_only():
    mods = _modules()
    roots = [f"{PKG}.cli", f"{PKG}.__main__", "__spark_entry__"]
    roots += [p.stem for p in PERFBENCH.glob("*.py")]
    assert all(r in mods for r in roots)
    reached = _reached(mods, roots)
    unreached = sorted(
        name
        for name in mods
        if (name == PKG or name.startswith(PKG + ".")) and name not in reached
    )
    assert unreached == sorted(TEST_ONLY), (
        "unreached modules differ from TEST_ONLY: new "
        + ", ".join(sorted(set(unreached) - TEST_ONLY))
        + "; no longer unreached "
        + ", ".join(sorted(TEST_ONLY - set(unreached)))
    )


def _registered() -> set[str]:
    """Keys of the dicts that ``queries()`` and ``oracle_sql()`` return
    (a registered key is its builder's name)."""
    tree = ast.parse((REPO / "__spark_entry__.py").read_text())
    return {
        key.value
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef) and fn.name in {"queries", "oracle_sql"}
        for node in ast.walk(fn)
        if isinstance(node, ast.Return) and isinstance(node.value, ast.Dict)
        for key in node.value.keys
    }


def test_every_query_builder_is_registered_or_tested():
    registered = _registered()
    test_text = "\n".join(
        p.read_text() for p in TESTS.glob("*.py") if p.name != Path(__file__).name
    )
    orphans = sorted(
        f"{path.stem}.{node.name}"
        for path in BUILDER_MODULES
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef)
        and not node.name.startswith("_")
        and node.name not in registered
        and not re.search(rf"\b{node.name}\b", test_text)
    )
    assert orphans == [], f"builders no registry entry or test reaches: {orphans}"


def _dotted(node: ast.expr) -> list[str] | None:
    """``a.b.c`` as ["a", "b", "c"], or None for anything but a name chain."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    return [node.id, *reversed(parts)]


def _qualified_references(name: str, path: Path) -> set[str]:
    """Dotted names that module ``name`` references through a module:
    ``from X import a`` gives X.a; ``m.f`` with ``m`` bound by an import
    gives the bound module's ``.f``; a bare ``f`` gives ``name.f``."""
    tree = ast.parse(path.read_text())
    bound: dict[str, str] = {}
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    bound[a.asname] = a.name
                else:
                    top = a.name.split(".")[0]
                    bound[top] = top
        elif isinstance(node, ast.ImportFrom):
            mod = _from_module(name, path, node)
            for a in node.names:
                bound[a.asname or a.name] = f"{mod}.{a.name}"
                out.add(f"{mod}.{a.name}")
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(f"{name}.{node.id}")
        elif isinstance(node, ast.Attribute):
            chain = _dotted(node)
            if chain and chain[0] in bound:
                out.add(".".join([bound[chain[0]], *chain[1:]]))
    return out


def test_every_core_function_is_named_outside_tests_or_listed():
    referenced: set[str] = set()
    for path in REPO.rglob("*.py"):
        rel = path.relative_to(REPO)
        if rel.parts[0] == TESTS.name:
            continue
        parts = rel.with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        referenced |= _qualified_references(".".join(parts), path)
    unreached = sorted(
        f"{module.replace('/', '.')}.{node.name}"
        for module in CORE_MODULES
        for node in ast.parse((REPO / PKG / f"{module}.py").read_text()).body
        if isinstance(node, ast.FunctionDef)
        and not node.name.startswith("_")
        and f"{PKG}.{module.replace('/', '.')}.{node.name}" not in referenced
    )
    assert unreached == sorted(UNREACHED_FUNCTIONS), (
        "public core functions referenced nowhere outside tests/ through "
        f"their module differ from UNREACHED_FUNCTIONS: {unreached}"
    )
