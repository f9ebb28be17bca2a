"""Every package module is reachable from an entry point.

An AST import graph rooted at the programs a user or the benchmark runs
(``scripts/*.py``, ``perfbench/*.py``, ``bench.py``,
``__spark_entry__.py``) must reach every ``dwds_livestream_spark``
module, except the few listed in ``KEPT_UNREACHED`` with the reason they
stay. A module that only tests import is either wired into a product
path or deleted with its tests. No Spark session is started.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "dwds_livestream_spark"

KEPT_UNREACHED = {
    f"{PACKAGE}.streaming.stateful": (
        "reference streaming implementation the registry twins are "
        "compared against (test_stream_twins_skyline, "
        "test_streaming_windows)"
    ),
    f"{PACKAGE}.streaming.metrics": (
        "ThroughputListener, the micro-batch metrics listener that "
        "ROADMAP direction 3 wires into serve.py/collect.py; tested on "
        "the product collector_stream in test_streaming.py"
    ),
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (ROOT / PACKAGE).rglob("*.py")}


def _with_parents(name: str) -> list[str]:
    """Importing ``a.b.c`` also runs ``a`` and ``a.b``."""
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def _imports(path: Path, name: str, modules: dict[str, Path]) -> set[str]:
    """Package modules that ``path`` (module ``name``) imports."""
    is_pkg = path.name == "__init__.py"
    package = name if is_pkg else name.rpartition(".")[0]
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                parts = parts[: len(parts) - node.level + 1]
                base = ".".join(parts + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            # ``from pkg import x`` imports pkg.x when x is a submodule.
            targets = [base] + [f"{base}.{alias.name}" for alias in node.names]
        else:
            continue
        for target in targets:
            found.update(m for m in _with_parents(target) if m in modules)
    return found


def _reached(modules: dict[str, Path]) -> set[str]:
    roots = [
        *sorted((ROOT / "scripts").glob("*.py")),
        *sorted((ROOT / "perfbench").glob("*.py")),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    todo: list[str] = []
    for root in roots:
        todo.extend(_imports(root, root.stem, modules))
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        todo.extend(_imports(modules[name], name, modules))
    return reached


def test_every_package_module_is_reachable_or_kept_for_a_reason():
    modules = _package_modules()
    reached = _reached(modules)
    assert set(KEPT_UNREACHED) <= set(modules), "a kept module is gone"
    assert not set(KEPT_UNREACHED) & reached, (
        "a kept module is reachable now: drop it from KEPT_UNREACHED"
    )
    unreached = sorted(set(modules) - reached - set(KEPT_UNREACHED))
    assert unreached == [], f"modules no entry point imports: {unreached}"
