"""Drift guard: every engine module is reached by an import chain from
the refresh (`pipeline`), the CLI (`__main__`) or the query catalog
(`plans`). A module only its own tests import is dead code.

The graph is built from source with `ast` (nothing is imported, no Spark
starts). Edges are every import anywhere in a module, function-level and
relative ones included, with `from pkg import mod` resolved to the
submodule. Importing a submodule runs its parent packages too, but a
package's own imports count as edges only when something imports that
package by name (`import pkg`, `from pkg import name`): a module that
only a package `__init__` re-exports, and that nobody reaches through
the package, is dead all the same.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "economic_data_etl_spark"
ROOTS = (f"{PKG}.pipeline", f"{PKG}.__main__", f"{PKG}.plans")


def _modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _with_parents(name: str) -> list[str]:
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def _imports(name: str, path: Path, mods: dict[str, Path]) -> set[str]:
    """The modules `name` imports by name: the submodule of a
    `from pkg import mod`, else the module a name is taken from."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    targets = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            targets.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                anchor = parts[: len(parts) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            subs = {f"{base}.{a.name}" for a in node.names}
            targets.update(subs & mods.keys())
            if subs - mods.keys():
                targets.add(base)
    return targets & mods.keys()


def _unreached() -> list[str]:
    mods = _modules()
    seen: set[str] = set()
    todo = list(ROOTS)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(_imports(name, mods[name], mods) - seen)
    ran = {p for m in seen for p in _with_parents(m)}
    return sorted(set(mods) - ran)


def test_every_engine_module_is_reached():
    unreached = _unreached()
    assert not unreached, (
        f"{len(unreached)} engine modules are imported from none of "
        f"{', '.join(ROOTS)}: {unreached}"
    )
