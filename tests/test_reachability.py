"""Every ``yams_spark`` module is reachable from a program entry point.

Walks the static ``ast`` imports (top-level and function-local) from the
entry-point roots — the CLI, the pipeline plan, the driver entry, the
benchmarks and the tools — and asserts that the modules they never reach
are exactly the allowlist below. A module that only its own tests import
has to be wired into a real path, deleted, or listed here with a reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

ROOTS = [
    REPO / "yams_spark" / "cli.py",
    REPO / "yams_spark" / "plans" / "er_pipeline.py",
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    *sorted((REPO / "tools").glob("*.py")),
    *sorted((REPO / "perfbench").glob("*.py")),
]

#: modules no entry point imports, each with the reason it stays
TEST_ONLY_ALLOWLIST = {
    "yams_spark.oracle.dedupe_oracle":
        "pandas reference implementation the pipeline e2e tests compare against",
    "yams_spark.operators.retrieve":
        "CAS manifest/reassembly read path (PAPER.md §1.1), exercised by its tests",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _modules() -> dict[str, Path]:
    files = [*REPO.glob("yams_spark/**/*.py"), *ROOTS]
    return {_module_name(p): p for p in files}


def _imports(path: Path, known: dict[str, Path]) -> set[str]:
    """Repo modules ``path`` imports; bare names also resolve against the
    importing file's own directory (perfbench imports its siblings so)."""
    package = _module_name(path).rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    found = set()
    for name in names:
        for candidate in (name, f"{package}.{name}" if package else name):
            if candidate in known:
                found.add(candidate)
    return found


def _reach(roots: list[Path], known: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = [_module_name(p) for p in roots]
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo.extend(_imports(known[mod], known) - seen)
    return seen


def test_only_allowlisted_modules_are_unreachable() -> None:
    known = _modules()
    library = {m for m, p in known.items()
               if m.startswith("yams_spark.") and p.name != "__init__.py"}
    unreached = library - _reach(ROOTS, known)
    assert unreached == set(TEST_ONLY_ALLOWLIST)

    # each allowlisted module is still exercised by some test, so the
    # allowlist cannot turn into a hiding place for dead code
    by_tests = _reach(sorted((REPO / "tests").glob("test_*.py")),
                      {**known, **{_module_name(p): p
                                   for p in (REPO / "tests").glob("test_*.py")}})
    assert set(TEST_ONLY_ALLOWLIST) <= by_tests
