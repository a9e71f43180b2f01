"""Every ``yams_spark`` module and top-level def is reachable from a program
entry point.

Walks the static ``ast`` imports (top-level and function-local) from the
entry-point roots — the CLI, the pipeline plan, the driver entry, the
benchmarks and the tools — and asserts that the modules they never reach
are exactly the allowlist below. A module that only its own tests import
has to be wired into a real path, deleted, or listed here with a reason.

The same walk then runs over top-level defs and classes. A def is used
where a reached def, class or module-level statement names it: a ``Name``
in its own module, a ``from m import name``, or any ``Attribute`` of that
name (a bare-name collision counts as a use, which is conservative). A
name another module imports is used wherever that import runs, so Names
bound by imports need no resolving. Docstrings and comments are not code
and count for nothing. The defs no entry point reaches must be exactly
``DEF_ALLOWLIST``.
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

#: top-level defs no entry point reaches, each with the reason it stays
#: (the private helpers only these call stay with them). Only references
#: a test compares a reached path against, test encoders for reached
#: decoders and the frozen extractor file belong here.
DEF_ALLOWLIST = {
    "yams_spark.functions.chunker.chunk_boundaries_sequential":
        "byte-at-a-time reference chunk_boundaries is compared against",
    "yams_spark.operators.tuner.TunerMAB":
        "sequential UCB1 tuner mab_stats is compared against",
    "yams_spark.operators.grep.snippet_phrase_expr":
        "single-expression reference with_snippets_phrase is compared against",
    "yams_spark.functions.fts_tokenizer.unicode61_tokens":
        "Python reference unicode61_tokens_spark_expr/_duckdb are compared against",
    "yams_spark.functions.pathnorm.compute_path_derived":
        "scalar twin with_path_derived is compared against",
    "yams_spark.functions.pathnorm.lexically_normal":
        "scalar path fold the C++ goldens pin, under compute_path_derived",
    "yams_spark.functions.embed_models.dim_from_model_name":
        "scalar twin dim_from_model_name_col is compared against",
    "yams_spark.functions.embed_models.dim_from_model_config":
        "scalar twin dim_from_model_config_col is compared against",
    "yams_spark.functions.embed_models.resolve_dim":
        "scalar twin resolve_dim_col is compared against",
    "yams_spark.operators.compression.is_likely_compressed_py":
        "scalar twin checked with is_likely_compressed_col on one battery",
    "yams_spark.operators.compression.estimate_compression_ratio_py":
        "scalar twin checked with estimate_compression_ratio_col on one battery",
    "yams_spark.operators.compression.validate_compression_header_py":
        "scalar twin checked with validate_compression_header_col on one battery",
    "yams_spark.functions.mpeg_audio.encode_layer1":
        "test encoder for the reached Layer I decoder",
    "yams_spark.functions.media_codecs.encode_bmp":
        "test encoder for the reached BMP decoder",
    "yams_spark.functions.html_extract.clean_whitespace_reference":
        "part of the frozen, byte-identical extractor file",
    "yams_spark.functions.html_extract.extract_meta_description":
        "part of the frozen, byte-identical extractor file",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


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


class _Defs:
    """Top-level defs of the parsed modules and the references between them."""

    def __init__(self, known: dict[str, Path]):
        self.trees = {m: ast.parse(p.read_text(), str(p)) for m, p in known.items()}
        self.nodes = {f"{m}.{n.name}": n for m, t in self.trees.items()
                      for n in t.body if isinstance(n, _DEFS)}
        self.by_name: dict[str, set[str]] = {}
        for key in self.nodes:
            self.by_name.setdefault(key.rpartition(".")[2], set()).add(key)

    def refs(self, mod: str, node: ast.AST) -> set[str]:
        out: set[str] = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(f"{mod}.{n.id}")
            elif isinstance(n, ast.Attribute):
                out |= self.by_name.get(n.attr, set())
            elif isinstance(n, ast.ImportFrom) and n.module:
                out.update(f"{n.module}.{a.name}" for a in n.names)
        return out & self.nodes.keys()

    def reach(self, seeds: list[tuple[str, ast.AST]]) -> set[str]:
        seen: set[str] = set()
        todo = list(seeds)
        while todo:
            mod, node = todo.pop()
            for key in self.refs(mod, node) - seen:
                seen.add(key)
                todo.append((key.rpartition(".")[0], self.nodes[key]))
        return seen

    def whole(self, mod: str) -> list[tuple[str, ast.AST]]:
        return [(mod, n) for n in self.trees[mod].body]

    def module_level(self, mod: str) -> list[tuple[str, ast.AST]]:
        return [(mod, n) for n in self.trees[mod].body if not isinstance(n, _DEFS)]


def _test_names() -> set[str]:
    """Every name a test file references, as Name, Attribute or import alias."""
    names: set[str] = set()
    for path in (REPO / "tests").glob("test_*.py"):
        for n in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(n, ast.Name):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                names.add(n.attr)
            elif isinstance(n, ast.alias):
                names.add(n.name.rpartition(".")[2])
    return names


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


def test_only_allowlisted_defs_are_unreachable() -> None:
    known = _modules()
    defs = _Defs(known)
    reached_modules = _reach(ROOTS, known)
    roots = {_module_name(p) for p in ROOTS}
    # a reached module runs its module-level code; a root file is an entry
    # point as a whole, and so is a module the module allowlist keeps
    seeds = [s for m in reached_modules
             for s in (defs.whole(m) if m in roots else defs.module_level(m))]
    seeds += [s for m in TEST_ONLY_ALLOWLIST for s in defs.whole(m)]
    reached = defs.reach(seeds)
    library = {k for k in defs.nodes
               if k.startswith("yams_spark.")
               and k.rpartition(".")[0] in reached_modules - roots}
    unreached = library - reached
    kept = set(DEF_ALLOWLIST) | defs.reach(
        [(k.rpartition(".")[0], defs.nodes[k]) for k in DEF_ALLOWLIST])
    assert sorted(unreached - kept) == []
    assert sorted(set(DEF_ALLOWLIST) - unreached) == []

    # like the module allowlist: a test still uses each allowlisted def
    assert sorted(k for k in DEF_ALLOWLIST
                  if k.rpartition(".")[2] not in _test_names()) == []
