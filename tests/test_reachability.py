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

Inside the reached library functions the walk goes down to parameters. A
defaulted parameter is set where some *program* call (in the roots or the
library; calls from the tests do not count) passes it by keyword or
position; a ``*``/``**`` splat, or naming the function anywhere but as the
callee (a Spark UDF, a ``functools.partial``, a decorator), sets all of
them. Calls match by bare name, so a collision counts as a set. A
parameter no program call sets is a constant with extra steps, or a switch
only tests turn; the unset ones must be exactly ``PARAM_ALLOWLIST``, and a
test must set each of those. Last, every module-level ``NAME = ...``
constant of a reached library module must be named by code or a test
somewhere other than its own assignment. The oracles and the frozen extractor file are
reference code and exempt from both walks.
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
    "yams_spark.operators.concept_fallback.generate_fallback_query_concepts":
        "scalar twin fallback_concepts_df is compared against",
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

_GATE = "threshold of a size gate; a test lowers it to reach the gate at test scale"
_ENCODER = "test encoder for a reached decoder; tests vary it to build decoder inputs"

#: defaulted parameters of reached library functions that no program call
#: sets, each with the reason it stays. Only the threshold of a loud guard
#: or size-gated fallback, and the knobs of a test encoder, belong here.
PARAM_ALLOWLIST = {
    "yams_spark.operators.ann.cosine_topk(max_exact_rows)": _GATE,
    "yams_spark.operators.ann.near_dup_pairs_topn(max_exact_rows)": _GATE,
    "yams_spark.operators.clustering.split_oversized_components(max_packed_edges)":
        _GATE,
    "yams_spark.operators.topo_engines.louvain_assign(max_driver_edges)": _GATE,
    "yams_spark.operators.topo_inputs.variance_weights(sample_cap)": _GATE,
    "yams_spark.operators.topology.topology_quality_stats(max_centroids)": _GATE,
    "yams_spark.functions.flac_codec.encode_flac(blocksize)": _ENCODER,
    "yams_spark.functions.flac_codec.encode_flac(bps)": _ENCODER,
    "yams_spark.functions.flac_codec.encode_flac(fixed_order)": _ENCODER,
    "yams_spark.functions.archive_codecs.build_zip(comment)": _ENCODER,
    "yams_spark.functions.archive_codecs.build_gzip(mtime)": _ENCODER,
    "yams_spark.functions.jpeg_codec.encode_jpeg(subsample)": _ENCODER,
    "yams_spark.functions.mp4_meta.build_mp4(timescale)": _ENCODER,
    "yams_spark.streaming.wal_codec.encode_wal_entry(version)": _ENCODER,
}

#: reference code the parameter and constant walks leave alone
_EXEMPT = ("yams_spark.oracle.", "yams_spark.functions.html_extract.")

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


def _parse(paths) -> dict[str, ast.Module]:
    return {str(p): ast.parse(p.read_text(), str(p)) for p in set(paths)}


def _reached_defs(known: dict[str, Path]) -> tuple[_Defs, set[str], set[str]]:
    """The parsed defs, the reached ones and the reached modules."""
    defs = _Defs(known)
    reached_modules = _reach(ROOTS, known)
    roots = {_module_name(p) for p in ROOTS}
    # a reached module runs its module-level code; a root file is an entry
    # point as a whole, and so is a module the module allowlist keeps
    seeds = [s for m in reached_modules
             for s in (defs.whole(m) if m in roots else defs.module_level(m))]
    seeds += [s for m in TEST_ONLY_ALLOWLIST for s in defs.whole(m)]
    return defs, defs.reach(seeds), reached_modules - roots


def _defaulted(fn: ast.FunctionDef) -> tuple[list[str], list[str]]:
    """The function's positional parameter names, and those with a default."""
    a = fn.args
    positional = [p.arg for p in [*a.posonlyargs, *a.args]]
    kw = [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return positional, positional[len(positional) - len(a.defaults):] + kw


def _set_params(trees: dict[str, ast.Module],
                fns: dict[str, ast.FunctionDef]) -> dict[str, set[str]]:
    """For each function name, the parameters some call sets; ``"*"`` when a
    call splats or the function is named other than as a callee."""
    names = {k.rpartition(".")[2] for k in fns}
    out: dict[str, set[str]] = {n: set() for n in names}
    positional: dict[str, list[list[str]]] = {}
    for k, fn in fns.items():
        positional.setdefault(k.rpartition(".")[2], []).append(_defaulted(fn)[0])

    def name_of(node: ast.AST, alias: dict[str, str]) -> str | None:
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            return alias.get(node.id, node.id)
        if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            return node.attr
        return None

    for tree in trees.values():
        # ``from m import f as g``: a call of g is a call of f
        alias = {a.asname: a.name for n in ast.walk(tree)
                 if isinstance(n, ast.ImportFrom) for a in n.names if a.asname}
        callees = set()
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            callees.add(id(node.func))
            name = name_of(node.func, alias)
            if name not in names:
                continue
            if (any(isinstance(a, ast.Starred) for a in node.args)
                    or any(k.arg is None for k in node.keywords)):
                out[name].add("*")
                continue
            out[name].update(k.arg for k in node.keywords)
            for params in positional[name]:
                out[name].update(params[:len(node.args)])
        for node in ast.walk(tree):
            name = name_of(node, alias)
            if name in names and id(node) not in callees:
                out[name].add("*")
    return out


def _module_constants(tree: ast.Module) -> list[str]:
    out = []
    for node in tree.body:
        targets = (node.targets if isinstance(node, ast.Assign)
                   else [node.target] if isinstance(node, ast.AnnAssign) else [])
        while targets:
            t = targets.pop()
            if isinstance(t, (ast.Tuple, ast.List)):
                targets.extend(t.elts)
            elif isinstance(t, ast.Name) and not t.id.startswith("__"):
                out.append(t.id)
    return out


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
    defs, reached, library_modules = _reached_defs(_modules())
    library = {k for k in defs.nodes
               if k.startswith("yams_spark.")
               and k.rpartition(".")[0] in library_modules}
    unreached = library - reached
    kept = set(DEF_ALLOWLIST) | defs.reach(
        [(k.rpartition(".")[0], defs.nodes[k]) for k in DEF_ALLOWLIST])
    assert sorted(unreached - kept) == []
    assert sorted(set(DEF_ALLOWLIST) - unreached) == []

    # like the module allowlist: a test still uses each allowlisted def
    assert sorted(k for k in DEF_ALLOWLIST
                  if k.rpartition(".")[2] not in _test_names()) == []


def test_every_default_parameter_is_set() -> None:
    known = _modules()
    defs, reached, library_modules = _reached_defs(known)
    fns = {k: defs.nodes[k] for k in reached
           if k.startswith("yams_spark.") and not k.startswith(_EXEMPT)
           and k.rpartition(".")[0] in library_modules and k not in DEF_ALLOWLIST
           and isinstance(defs.nodes[k], (ast.FunctionDef, ast.AsyncFunctionDef))}
    set_by_program = _set_params(_parse(known.values()), fns)
    unset = set()
    for k, fn in fns.items():
        passed = set_by_program[k.rpartition(".")[2]]
        if "*" not in passed:
            unset.update(f"{k}({p})" for p in _defaulted(fn)[1] if p not in passed)
    assert sorted(unset - set(PARAM_ALLOWLIST)) == []
    assert sorted(set(PARAM_ALLOWLIST) - unset) == []

    # like the def allowlist: a test sets each allowlisted parameter, so
    # the allowlist cannot hide a parameter nothing sets at all
    set_by_tests = _set_params(_parse((REPO / "tests").glob("*.py")), fns)
    not_set = []
    for entry in PARAM_ALLOWLIST:
        fn, _, param = entry[:-1].partition("(")
        if not {param, "*"} & set_by_tests[fn.rpartition(".")[2]]:
            not_set.append(entry)
    assert not_set == []


def test_every_module_constant_is_read() -> None:
    known = _modules()
    _, _, library_modules = _reached_defs(known)
    tests = [*(REPO / "tests").glob("*.py"), *(REPO / "perfbench" / "tests").glob("*.py")]
    trees = _parse([*known.values(), *tests])
    # a Load of the name in its own module, or an attribute or import of
    # it anywhere; the bare name elsewhere is a different binding
    named_anywhere = set()
    for tree in trees.values():
        for n in ast.walk(tree):
            if isinstance(n, ast.Attribute):
                named_anywhere.add(n.attr)
            elif isinstance(n, ast.alias):
                named_anywhere.add(n.name)
    unread = []
    for mod in sorted(library_modules):
        if f"{mod}.".startswith(_EXEMPT):
            continue
        tree = trees[str(known[mod])]
        loaded = {n.id for n in ast.walk(tree)
                  if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)}
        unread += [f"{mod}.{c}" for c in _module_constants(tree)
                   if c not in loaded and c not in named_anywhere]
    assert unread == []
