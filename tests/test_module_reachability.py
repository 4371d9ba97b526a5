"""Every module under ``ig_etl_sync_spark/`` has a caller outside ``tests/``.

A pure ``ast`` walk, no Spark. The callers are the package itself,
``bench.py``, ``__spark_entry__.py``, ``perfbench/``, ``tools/``,
``examples/`` and the verify skill's drive script. A module is live when an
import chain from a caller file outside the package reaches it
(``__spark_entry__.py`` reaches ``contract.py``). A package ``__init__`` re-export is not an
import; a ``from pkg import name`` follows the re-export to the module that
defines ``name``. A module that only tests (or only dead modules) import
fails here, so test-only code cannot grow back unnoticed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "ig_etl_sync_spark"
CALLER_DIRS = ("perfbench", "tools", "examples", ".claude/skills/verify")
CALLER_FILES = ("bench.py", "__spark_entry__.py")


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_files() -> dict[str, Path]:
    return {_module_name(p): p for p in sorted((ROOT / PKG).rglob("*.py"))}


def _root_files() -> list[Path]:
    roots = [ROOT / f for f in CALLER_FILES]
    for d in CALLER_DIRS:
        roots += [p for p in sorted((ROOT / d).rglob("*.py")) if "tests" not in p.parts]
    return [p for p in roots if p.exists()]


def _reexports(init: Path) -> dict[str, str]:
    """``name -> defining module`` for a package ``__init__``'s imports."""
    out = {}
    for node in ast.walk(ast.parse(init.read_text())):
        if isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
            for alias in node.names:
                out[alias.asname or alias.name] = node.module
    return out


def _imports(path: Path, modules: dict[str, Path]) -> set[str]:
    """The package modules ``path`` imports, re-exports resolved."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            assert not node.level, f"{path}: relative import, not resolved here"
            base = node.module
            for alias in node.names:
                sub = f"{base}.{alias.name}"
                if sub in modules:
                    found.add(sub)
                elif base in modules and modules[base].name == "__init__.py":
                    found.add(_reexports(modules[base]).get(alias.name, base))
                else:
                    found.add(base)
    return {m for m in found if m in modules and modules[m].name != "__init__.py"}


def unreached_modules() -> list[str]:
    modules = _package_files()
    live: set[str] = set()
    todo = _root_files()
    while todo:
        for mod in _imports(todo.pop(), modules) - live:
            live.add(mod)
            todo.append(modules[mod])
    return sorted(
        m for m, p in modules.items() if p.name != "__init__.py" and m not in live
    )


def test_every_module_has_a_non_test_importer():
    dead = unreached_modules()
    assert not dead, (
        "modules no caller outside tests/ imports (delete them, or call them "
        f"from a live path): {dead}"
    )
