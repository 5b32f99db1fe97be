"""Every package module is reached from a job, tool, bench or the
``__spark_entry__`` contract, so code that only tests use cannot grow
back unnoticed.

The graph is built from source with ``ast`` (no imports run): every
``import`` / ``from ... import`` statement counts, including the ones
nested inside functions, and ``from pkg import name`` counts ``pkg.name``
when that is a module. ``run_corpus`` imports the whole query registry,
so every registered query's module is an entry through it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "loc2vec_spark"
ENTRY_GLOBS = ("jobs/*.py", "tools/*.py", "jobbench/*.py", "bench.py",
               "BENCH/*.py", "__spark_entry__.py")


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _entry_files() -> list[Path]:
    files = []
    for pattern in ENTRY_GLOBS:
        files += [p for p in sorted(ROOT.glob(pattern))
                  if not p.name.startswith("test_")]
    return files


def _imported(path: Path, modname: str, is_pkg: bool,
              mods: dict[str, Path]) -> set[str]:
    """Package modules that ``path`` imports, with their parent packages
    (importing ``a.b.c`` runs ``a`` and ``a.b`` first)."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                # the package a relative import is resolved against
                pkg = modname.split(".")
                if not is_pkg:
                    pkg = pkg[:-1]
                pkg = pkg[:len(pkg) - (node.level - 1)]
                base = ".".join(pkg + ([node.module] if node.module else []))
            else:
                base = node.module
            names = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in mods:
                    found.add(prefix)
    return found


def reachable() -> tuple[set[str], set[str]]:
    """(reached, all) package module names."""
    mods = _package_modules()
    todo = set()
    for path in _entry_files():
        todo |= _imported(path, path.stem, False, mods)
    seen = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        path = mods[name]
        todo |= _imported(path, name, path.name == "__init__.py", mods)
    return seen, set(mods)


def test_every_package_module_is_reachable():
    reached, every = reachable()
    orphans = sorted(every - reached)
    assert not orphans, (
        "package modules reached only from tests (give them a job, query, "
        f"tool or bench caller, or delete them): {orphans}")
