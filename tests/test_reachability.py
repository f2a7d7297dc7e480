"""Every package module is reachable from a production entry point.

A static import walk (``ast``, no Spark session, nothing imported) from the
CLI (``cli``, ``__main__``), the plan registry (``plans``) and the driver
entry (``__spark_entry__.py``). Imports inside functions count: the engine
imports many operators lazily. The package uses absolute imports only; a
relative import is not followed, so its target shows up as unreached.

A module that only tests import is dead code and fails this test: delete
it, or give it a caller (a registry query or a CLI verb).
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "receiptanalyzerpipeline_spark"
REPO = Path(__file__).resolve().parent.parent
ROOTS = [f"{PKG}.cli", f"{PKG}.__main__", f"{PKG}.plans", "__spark_entry__"]

#: Unreached modules still awaiting deletion, together with the
#: ``snapshots`` functions and tests that only they use. This set may only
#: shrink: a module leaves it when it is deleted or gains a caller.
NOT_YET_DELETED = {
    f"{PKG}.operators.ivm",
    f"{PKG}.sources.snapshot_stream",
}


def _module_files() -> dict[str, Path]:
    mods = {"__spark_entry__": REPO / "__spark_entry__.py"}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imports(path: Path, mods: dict[str, Path]) -> set[str]:
    """The package modules a file imports anywhere in its body, with every
    parent package, whose ``__init__`` the import also runs."""
    targets: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            targets.add(node.module)
            targets.update(f"{node.module}.{a.name}" for a in node.names)
    prefixes = set()
    for target in targets:
        parts = target.split(".")
        prefixes.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return prefixes & mods.keys()


def reachable(mods: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = list(ROOTS)
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(_imports(mods[name], mods))
    return seen


def test_every_package_module_is_reachable():
    mods = _module_files()
    unreached = mods.keys() - reachable(mods)
    assert unreached == NOT_YET_DELETED, (
        f"modules no production path imports: {sorted(unreached)}"
    )
