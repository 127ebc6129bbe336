"""Every kgx_spark module, and every top-level definition in it, is reached
from a user path, and every option of a top-level function is set by some
caller.

The user paths are the KGX CLI, the batch crawl build, the streaming
update, the pipeline script, the ``__spark_entry__`` registry and the
benchmark (``kgbench/run.py``). Everything is read statically with ``ast``;
no module is imported and no Spark session starts.

- Modules: the roots' ``import`` and ``from … import`` statements are
  followed (imports inside functions included).
- Definitions (top-level functions, classes and assigned names): the names
  a reached definition references are followed, through ``from … import``
  bindings and ``module.attr`` references, transitively. A module's
  top-level statements that define nothing run on import and are roots too.
- Options (parameters with a default): each must be passed by some call in
  the package, the roots, the tools, the scripts or the tests; a ``**``
  splat counts when it is a dict display.

A module or definition nothing reaches is dead code and must be deleted,
not kept for its tests; a test's reference oracle lives in ``tests/``. An
option nothing sets selects branches nothing runs, and goes too, unless
``UNSET_OPTIONS`` names it with its reason. Dunder names (``__version__``)
are Python's module metadata, not code, and are not checked.

Run this file after deleting or adding any top-level definition or
parameter.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# user-path root files → the definitions in them a user calls (None: all)
ROOTS = {
    "kgx_spark/__main__.py": None,
    "kgx_spark/pipeline/kg_pipeline.py": {"run_kg_pipeline"},
    "kgx_spark/streaming/kg_stream.py": {"stream_kg_update"},
    "scripts/run_pipeline.py": None,
    "__spark_entry__.py": None,
    "kgbench/run.py": None,
}
# definitions kept although no user path calls them: each reproduces a file
# the reference KGX CLI writes, and wiring it into the CLI adds a flag
CLI_PARITY = {
    # `kgx transform --infores-catalog FILE` writes the transformer's
    # get_infores_catalog() (transformer.py:313-319) as a TSV; COVERAGE.md,
    # provenance-map row
    "kgx_spark.functions.infores.transformer_infores_catalog",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (ROOT / "kgx_spark").rglob("*.py")}


def _bindings(path: Path, modules: dict[str, Path]) -> dict[str, tuple[str, str | None]]:
    """Every name an import in this file binds → (module, name), or
    (module, None) when it binds a module. ``from a import b`` binds a
    module when ``a.b`` is one; relative imports are resolved against the
    file's package."""
    package = _module_name(path)
    if path.name != "__init__.py":
        package = package.rpartition(".")[0]
    out = {}
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = (a.name, None)
                else:
                    head = a.name.partition(".")[0]
                    out[head] = (head, None)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            for a in node.names:
                sub = f"{base}.{a.name}"
                out[a.asname or a.name] = (sub, None) if sub in modules else (base, a.name)
    return out


def _imported_names(path: Path, modules: dict[str, Path]) -> set[str]:
    """Dotted module names this file imports."""
    return {mod for mod, _ in _bindings(path, modules).values()}


def _reached(modules: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = [ROOT / r for r in ROOTS]

    def reach(name: str) -> None:
        # importing a.b.c runs a, a.b and a.b.c
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in modules and mod not in seen:
                seen.add(mod)
                todo.append(modules[mod])

    for r in ROOTS:
        reach(_module_name(ROOT / r))
    while todo:
        for name in _imported_names(todo.pop(), modules):
            reach(name)
    return seen


def test_every_module_is_reached_from_a_user_path():
    modules = _package_modules()
    unreached = sorted(set(modules) - _reached(modules))
    assert not unreached, f"no user path imports {unreached}"


class _Module:
    """A file's top-level definitions, its import bindings and its
    top-level statements that define nothing."""

    def __init__(self, path: Path, modules: dict[str, Path]):
        self.defs: dict[str, list[ast.stmt]] = {}
        self.other: list[ast.stmt] = []
        self.bindings = _bindings(path, modules)
        for stmt in ast.parse(path.read_text(), str(path)).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs.setdefault(stmt.name, []).append(stmt)
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            self.defs.setdefault(n.id, []).append(stmt)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                self.other.append(stmt)


def _references(node: ast.AST) -> list[list[str]]:
    """Each name and ``a.b.c`` attribute chain in ``node``, as a list of
    parts (``a.b.c`` also yields ``a.b`` and ``a``)."""
    out = []
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.append([n.id])
        elif isinstance(n, ast.Attribute):
            chain = [n.attr]
            v = n.value
            while isinstance(v, ast.Attribute):
                chain.append(v.attr)
                v = v.value
            if isinstance(v, ast.Name):
                out.append([v.id, *reversed(chain)])
    return out


def _reached_definitions(modules: dict[str, Path], extra: set[str] = frozenset()) -> set[str]:
    """Dotted ``module.name`` of every definition the roots, and the
    ``extra`` definitions, reach."""
    parsed = {name: _Module(path, modules) for name, path in modules.items()}
    seen: set[str] = set()
    todo: list[tuple[str, ast.AST]] = []

    def reach(mod: str, name: str) -> None:
        m = parsed.get(mod)
        if m is None:
            return
        if name in m.defs:
            if f"{mod}.{name}" not in seen:
                seen.add(f"{mod}.{name}")
                todo.extend((mod, stmt) for stmt in m.defs[name])
        elif name in m.bindings and m.bindings[name][1] is not None:
            reach(*m.bindings[name])

    def follow(mod: str, chain: list[str]) -> None:
        head, *attrs = chain
        target, attr = parsed[mod].bindings.get(head, (mod, head))
        if attr is not None or head in parsed[mod].defs:
            reach(mod, head)
            return
        # a module alias: walk submodules down the chain, then its attribute
        for part in attrs:
            if f"{target}.{part}" in modules:
                target = f"{target}.{part}"
            else:
                reach(target, part)
                return

    for rel, names in ROOTS.items():
        path = ROOT / rel
        mod = _module_name(path)
        if mod not in parsed:  # a root outside the package
            parsed[mod] = _Module(path, modules)
        for name in parsed[mod].defs if names is None else names:
            reach(mod, name)
    for dotted in extra:
        reach(*dotted.rsplit(".", 1))
    for mod, m in parsed.items():
        todo.extend((mod, stmt) for stmt in m.other)
    while todo:
        mod, node = todo.pop()
        for chain in _references(node):
            follow(mod, chain)
    return seen


def test_every_definition_is_reached_from_a_user_path():
    modules = _package_modules()
    defined = {
        f"{mod}.{name}"
        for mod, path in modules.items()
        for name in _Module(path, modules).defs
        if not (name.startswith("__") and name.endswith("__"))
    }
    unreached = sorted(defined - _reached_definitions(modules, CLI_PARITY))
    assert not unreached, f"no user path reaches {unreached}"
    # the set names only definitions that exist and no user path reaches
    assert CLI_PARITY <= defined - _reached_definitions(modules), "stale entry in CLI_PARITY"


# files whose calls may set an option: the package itself, the user-path
# roots outside it, the tools and scripts, and the tests
CALLERS = ("kgx_spark", "__spark_entry__.py", "kgbench/run.py", "scripts", "tools", "tests")
# defaulted parameters kept although no call passes them, each with its reason
UNSET_OPTIONS = {
    # deployment settings of a remote database: collection names and write
    # batch size, which a deployment, not a test, chooses
    "kgx_spark.sinks.arango_sink.node_doc(node_collection)": "ArangoDB deployment setting",
    "kgx_spark.sinks.arango_sink.edge_doc(node_collection)": "ArangoDB deployment setting",
    "kgx_spark.sinks.arango_sink.write_arango(node_collection)": "ArangoDB deployment setting",
    "kgx_spark.sinks.arango_sink.write_arango(edge_collection)": "ArangoDB deployment setting",
    "kgx_spark.sinks.arango_sink.write_arango(batch_size)": "ArangoDB deployment setting",
    # the same for Neo4j: write batch and read page size
    "kgx_spark.sinks.neo_sink.write_neo(batch_size)": "Neo4j deployment setting",
    "kgx_spark.sources.neo_source.read_neo(page_size)": "Neo4j deployment setting",
    # the reference's Cypher builders take them; the tested twin
    # build_count_query(is_directed) has the same signature
    "kgx_spark.sources.neo_source.format_edge_filter(op)": "mirrors the reference's Cypher builder",
    "kgx_spark.sources.neo_source.build_edges_query(is_directed)": "mirrors the reference's Cypher builder",
    # the reference's `kgx merge --source/--destination` flags, not wired
    # into this CLI yet
    "kgx_spark.transform.merge_config(source)": "reference CLI flag",
    "kgx_spark.transform.merge_config(destination)": "reference CLI flag",
    # the RDF prefix map read_ntriples and read_owl_nt also take
    "kgx_spark.sources.jelly.read_jelly(prefix_map)": "RDF prefix map of every RDF reader",
}


def _defaulted_parameters(modules: dict[str, Path]) -> dict[str, tuple[str, str, list[str]]]:
    """``module.function(param)`` → (function, param, the function's
    positional parameters) for every parameter with a default of a
    top-level function in the package."""
    out = {}
    for mod, path in modules.items():
        for stmt in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = stmt.args
            positional = [p.arg for p in a.posonlyargs + a.args]
            defaulted = positional[len(positional) - len(a.defaults):]
            defaulted += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for p in defaulted:
                out[f"{mod}.{stmt.name}({p})"] = (stmt.name, p, positional)
    return out


def _passed_arguments(signatures: dict[str, list[list[str]]]) -> set[tuple[str, str]]:
    """(called name, parameter) for every argument a call in ``CALLERS``
    passes by keyword, by position (``*args`` covers the rest) or in a
    ``**`` splat of a dict display. Calls match by name only, so any
    function of that name counts as called."""
    out = set()
    paths = [p for c in CALLERS for p in ([ROOT / c] if c.endswith(".py") else (ROOT / c).rglob("*.py"))]
    for path in paths:
        for call in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name not in signatures:
                continue
            for kw in call.keywords:
                if kw.arg is not None:
                    out.add((name, kw.arg))
                elif isinstance(kw.value, ast.Dict):
                    out |= {(name, k.value) for k in kw.value.keys if isinstance(k, ast.Constant)}
            for positional in signatures[name]:
                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred):
                        out |= {(name, p) for p in positional[i:]}
                        break
                    if i < len(positional):
                        out.add((name, positional[i]))
    return out


def test_every_option_is_set_by_a_caller():
    """A defaulted parameter no call passes is an option nothing sets: its
    other branches are dead code, and it goes, unless ``UNSET_OPTIONS``
    names it with its reason."""
    params = _defaulted_parameters(_package_modules())
    signatures: dict[str, list[list[str]]] = {}
    for name, _, positional in params.values():
        if positional not in signatures.setdefault(name, []):
            signatures[name].append(positional)
    passed = _passed_arguments(signatures)
    unset = {key for key, (name, p, _) in params.items() if (name, p) not in passed}
    assert not unset - UNSET_OPTIONS.keys(), f"no caller sets {sorted(unset - UNSET_OPTIONS.keys())}"
    # the dict names only options that exist and that no caller sets
    assert UNSET_OPTIONS.keys() <= unset, f"stale entries in UNSET_OPTIONS: {sorted(UNSET_OPTIONS.keys() - unset)}"
