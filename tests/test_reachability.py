"""Every kgx_spark module is reached from a user path.

The user paths are the KGX CLI, the batch crawl build, the streaming
update, the pipeline script and the ``__spark_entry__`` registry. Their
``import`` and ``from … import`` statements are followed statically (ast,
imports inside functions included); a module nothing reaches is dead code
and must be deleted, not kept for its tests.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ROOTS = [
    "kgx_spark/__main__.py",
    "kgx_spark/pipeline/kg_pipeline.py",
    "kgx_spark/streaming/kg_stream.py",
    "scripts/run_pipeline.py",
    "__spark_entry__.py",
]


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (ROOT / "kgx_spark").rglob("*.py")}


def _imported_names(path: Path, modules: dict[str, Path]) -> set[str]:
    """Dotted names this file imports: ``from a import b`` yields ``a.b``
    when that is a module, else ``a``; relative imports are resolved
    against the file's package."""
    package = _module_name(path)
    if path.name != "__init__.py":
        package = package.rpartition(".")[0]
    out = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            for a in node.names:
                sub = f"{base}.{a.name}"
                out.add(sub if sub in modules else base)
    return out


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
