"""Every package module, and nearly every public function, is reachable
from production code.

Modules: a static import walk (``ast``, no Spark session, nothing imported)
from the CLI (``cli``, ``__main__``), the plan registry (``plans``) and the
driver entry (``__spark_entry__.py``). Imports inside functions count: the
engine imports many operators lazily. The package uses absolute imports
only; a relative import is not followed, so its target shows up as
unreached. A module that only tests import is dead code and fails the
test: delete it, or give it a caller (a registry query or a CLI verb).

Functions: every public, undecorated, top-level function or class of the
package needs a reference (a name, an attribute or an imported name)
outside its own body, in the package or in the code that runs it
(``__spark_entry__.py``, ``bench.py``, ``scripts/``, ``perfbench/``).
Text such as a docstring mention is not a reference. Registry builders
are decorated, so they are not scanned.

Shadowing: no module of the package, ``tests/``, ``scripts/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py`` binds the same
top-level function or class name twice. The later definition silently
replaces the earlier one, so pytest would never collect a shadowed test.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

PKG = "receiptanalyzerpipeline_spark"
REPO = Path(__file__).resolve().parent.parent
ROOTS = [f"{PKG}.cli", f"{PKG}.__main__", f"{PKG}.plans", "__spark_entry__"]

#: Public package definitions that only tests reference, as
#: ``module.name`` relative to the package. This set may only shrink: a
#: name leaves it when it is deleted or gains a production caller.
TEST_ONLY_DEFS = {
    "functions.text.parse_line_item_csv",
    "functions.text.path_stem",
    "multimodal.images.exact_dedup_by_ahash",
    "operators.components.dedup_survivors",
    "operators.textanalysis.winnow_fingerprints",
    "plans.audit.plan_metrics",
    "sources.snapshots.file_stats",
    "streaming.neardup_stream.neardup_dedup_sink",
    "streaming.observability.read_progress",
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
    assert not unreached, f"modules no production path imports: {sorted(unreached)}"


def _referenced_names(node: ast.AST) -> set[str]:
    names: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add(n.name.rsplit(".", 1)[-1])
    return names


def _source_files(*dirs: str) -> list[Path]:
    files = [REPO / "__spark_entry__.py", REPO / "bench.py"]
    for d in dirs:
        files.extend(sorted((REPO / d).rglob("*.py")))
    return files


def uncalled_defs() -> set[str]:
    """Public, undecorated, top-level package definitions that no
    production code references outside the definition's own body."""
    files = _source_files(PKG, "scripts", "perfbench")
    defs: dict[tuple[Path, int], str] = {}
    refs: dict[str, set[tuple[Path, int]]] = {}
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        for i, stmt in enumerate(tree.body):
            for name in _referenced_names(stmt):
                refs.setdefault(name, set()).add((path, i))
            if (
                path.is_relative_to(REPO / PKG)
                and isinstance(stmt, (ast.FunctionDef, ast.ClassDef))
                and not stmt.decorator_list
                and not stmt.name.startswith("_")
            ):
                mod = ".".join(path.relative_to(REPO / PKG).with_suffix("").parts)
                defs[(path, i)] = f"{mod}.{stmt.name}"
    return {
        qual
        for site, qual in defs.items()
        if not refs.get(qual.rsplit(".", 1)[-1], set()) - {site}
    }


def test_every_public_function_has_a_production_caller():
    assert uncalled_defs() == TEST_ONLY_DEFS


def shadowed_defs() -> list[str]:
    """``path:name`` for every top-level function or class name that a
    module defines more than once."""
    shadowed = []
    for path in _source_files(PKG, "tests", "scripts", "perfbench"):
        tree = ast.parse(path.read_text(), str(path))
        names = Counter(
            stmt.name
            for stmt in tree.body
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        )
        rel = path.relative_to(REPO)
        shadowed.extend(f"{rel}:{name}" for name, n in names.items() if n > 1)
    return shadowed


def test_no_module_defines_a_name_twice():
    assert shadowed_defs() == []
