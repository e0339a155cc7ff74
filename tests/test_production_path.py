"""Pin the package modules the production path can import.

A static walk (``ast`` only, no Spark) of every ``import`` and
``from ... import`` statement, module-level and inside functions,
starting at the batch job and the streaming entry point. Code that
only tests or tools import stays off this list; a new import that
pulls such code onto the production path fails here.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "hgcn_name_disambiguation_spark"
ENTRY_POINTS = {
    "jobs.disambiguate": REPO / "jobs" / "disambiguate.py",
    f"{PKG}.streaming.incremental": REPO / PKG / "streaming" / "incremental.py",
}

# This list may only shrink, or grow with a reason stated in the change
# that grows it. Packages (``__init__.py``) are walked but not listed.
PRODUCTION_MODULES = {
    f"{PKG}.{m}"
    for m in [
        "config",
        "functions.names",
        "functions.text",
        "io.catalog",
        "operators.assign",
        "operators.candidate_pairs",
        "operators.cluster_merge",
        "operators.clustering",
        "operators.evaluate",
        "operators.name_constraints",
        "operators.parse",
        "operators.report",
        "operators.scoring",
        "operators.semantic",
        "plans.pipeline",
        "plans.stages",
        "session",
        "streaming.incremental",
    ]
}


def _source(module: str) -> Path | None:
    base = REPO.joinpath(*module.split("."))
    for path in (base / "__init__.py", base.with_suffix(".py")):
        if path.is_file():
            return path
    return None


def _imported_names(path: Path, package: str):
    """Every dotted name an import statement in ``path`` may load:
    ``from a import b`` yields ``a`` and ``a.b`` (``b`` may be a
    submodule); relative imports resolve against ``package``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            parts = package.split(".")
            base = parts[: len(parts) - node.level + 1] if node.level else []
            module = ".".join(base + ([node.module] if node.module else []))
            yield module
            yield from (f"{module}.{alias.name}" for alias in node.names)


def production_modules() -> dict[str, Path]:
    reached = dict(ENTRY_POINTS)
    todo = [(path, module.rpartition(".")[0]) for module, path in reached.items()]
    while todo:
        path, package = todo.pop()
        for name in _imported_names(path, package):
            parts = name.split(".")
            if parts[0] != PKG:
                continue
            # importing a.b.c also runs a/__init__.py and a/b/__init__.py
            for i in range(1, len(parts) + 1):
                module = ".".join(parts[:i])
                if module in reached or (source := _source(module)) is None:
                    continue
                reached[module] = source
                is_pkg = source.name == "__init__.py"
                todo.append((source, module if is_pkg else module.rpartition(".")[0]))
    return reached


def test_production_path_is_pinned():
    reached = {
        m
        for m, path in production_modules().items()
        if m.startswith(f"{PKG}.") and path.name != "__init__.py"
    }
    assert reached == PRODUCTION_MODULES, (
        f"newly reached: {sorted(reached - PRODUCTION_MODULES)}; "
        f"no longer reached: {sorted(PRODUCTION_MODULES - reached)}"
    )
