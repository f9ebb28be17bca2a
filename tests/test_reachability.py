"""Every package module and definition is reachable from an entry point.

An AST import graph rooted at the programs a user or the benchmark runs
(``scripts/*.py``, ``perfbench/*.py``, ``bench.py``,
``__spark_entry__.py``) must reach every ``dwds_livestream_spark``
module, and a name graph from the same roots every top-level function,
class and module constant, except the few listed in ``KEPT_UNREACHED``
with the reason they stay. A module or definition that only tests use is
either wired into a product path or deleted with its tests. No Spark
session is started.
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
    f"{PACKAGE}.sinks.fact_sink.idempotent": (
        "batch-id ledger around a sink writer: replay safety that ROADMAP "
        "direction 2 replaces with an exactly-once collector "
        "(test_fact_layout.py, test_jdbc_embedded.py)"
    ),
    f"{PACKAGE}.sources.dimension.load_dimension_jdbc": (
        "the reference's S3 MySQL dimension source, which serve.py does "
        "not wire yet (test_jdbc_embedded.py runs it on Derby)"
    ),
    f"{PACKAGE}.operators.embedding_ops.dequantize_embeddings": (
        "the inverse test_embedding_ops.py measures quantize_embeddings' "
        "reconstruction error with"
    ),
    f"{PACKAGE}.schemas.ENRICHED_EVENT": (
        "the typed enriched-event row test_enrich_dedup.py round-trips "
        "through to_json_events/from_json_events"
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


def _from_base(node: ast.ImportFrom, path: Path, name: str) -> str:
    """The absolute module a ``from ... import`` in ``path`` reads from."""
    if not node.level:
        return node.module or ""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    parts = package.split(".")
    parts = parts[: len(parts) - node.level + 1]
    return ".".join(parts + ([node.module] if node.module else []))


def _imports(path: Path, name: str, modules: dict[str, Path]) -> set[str]:
    """Package modules that ``path`` (module ``name``) imports."""
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(node, path, name)
            # ``from pkg import x`` imports pkg.x when x is a submodule.
            targets = [base] + [f"{base}.{alias.name}" for alias in node.names]
        else:
            continue
        for target in targets:
            found.update(m for m in _with_parents(target) if m in modules)
    return found


def _roots() -> list[Path]:
    return [
        *sorted((ROOT / "scripts").glob("*.py")),
        *sorted((ROOT / "perfbench").glob("*.py")),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]


def _reached(modules: dict[str, Path]) -> set[str]:
    todo: list[str] = []
    for root in _roots():
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
    kept = set(KEPT_UNREACHED) & set(modules)
    assert not kept & reached, (
        "a kept module is reachable now: drop it from KEPT_UNREACHED"
    )
    unreached = sorted(set(modules) - reached - kept)
    assert unreached == [], f"modules no entry point imports: {unreached}"


class _Names:
    """Top-level definitions of the package and the names each one uses.

    A definition is a top-level ``def``, ``class`` or assignment to a
    plain name (dunder names such as ``__all__`` excepted). A use is a
    loaded name or ``module.attr`` chain, resolved through the module's
    own definitions and its imports; a name that is local to the
    enclosing function, or that appears only inside a string, is not a
    use.
    """

    def __init__(self, modules: dict[str, Path]):
        self.modules = modules
        self.bindings: dict[str, dict[str, str]] = {}
        self.defs: dict[str, dict[str, ast.AST]] = {}
        self.module_code: dict[str, list[ast.stmt]] = {}
        for m, path in modules.items():
            tree = ast.parse(path.read_text(), str(path))
            self.bindings[m] = _bindings(tree, m, path)
            self.defs[m], self.module_code[m] = _split_top_level(tree)

    def lookup(self, module: str, name: str, bindings=None, seen=()):
        """``("def", qualname)``, ``("mod", module)`` or None."""
        if bindings is None:
            if name in self.defs[module]:
                return "def", f"{module}.{name}"
            bindings = self.bindings[module]
        target = bindings.get(name)
        if target is None:
            sub = f"{module}.{name}"
            return ("mod", sub) if sub in self.modules else None
        if target in self.modules:
            return "mod", target
        owner, _, attr = target.rpartition(".")
        if owner in self.modules and target not in seen:
            return self.lookup(owner, attr, seen=(*seen, target))
        return None

    def uses(self, node: ast.AST, module: str, bindings=None) -> set[str]:
        found: set[str] = set()
        for chain in _chains(node):
            hit = self.lookup(module, chain[0], bindings)
            for attr in chain[1:]:
                if hit is None or hit[0] != "mod":
                    break
                hit = self.lookup(hit[1], attr)
            if hit is not None and hit[0] == "def":
                found.add(hit[1])
        return found

    def all_definitions(self) -> set[str]:
        return {f"{m}.{n}" for m, names in self.defs.items() for n in names}

    def closure(self, seeds: set[str]) -> set[str]:
        reached: set[str] = set()
        todo = list(seeds)
        while todo:
            qual = todo.pop()
            if qual in reached:
                continue
            reached.add(qual)
            module, _, name = qual.rpartition(".")
            todo.extend(self.uses(self.defs[module][name], module))
        return reached


def _bindings(tree: ast.Module, name: str, path: Path) -> dict[str, str]:
    """Imported name -> the dotted module or ``module.attr`` it names."""
    bound: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                # ``import a.b`` binds ``a``; ``import a.b as x`` binds a.b
                head = alias.name.partition(".")[0]
                bound[alias.asname or head] = (
                    alias.name if alias.asname else head
                )
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(node, path, name)
            for alias in node.names:
                bound[alias.asname or alias.name] = f"{base}.{alias.name}"
    return bound


def _split_top_level(tree: ast.Module) -> tuple[dict[str, ast.AST], list[ast.stmt]]:
    """(name -> defining node, the other statements an import runs)."""
    defs: dict[str, ast.AST] = {}
    code: list[ast.stmt] = []
    for stmt in tree.body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs[stmt.name] = stmt
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
            names = [
                n.id
                for t in targets
                for n in ast.walk(t)
                if isinstance(n, ast.Name)
            ]
            if names and all(isinstance(t, (ast.Name, ast.Tuple)) for t in targets):
                for n in names:
                    if not (n.startswith("__") and n.endswith("__")):
                        defs[n] = stmt
            else:
                code.append(stmt)
        elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
            code.append(stmt)
    return defs, code


def _locals(fn: ast.AST) -> set[str]:
    """Names bound inside a function or lambda: its parameters and stores."""
    names = {a.arg for a in ast.walk(fn.args) if isinstance(a, ast.arg)}
    body = fn.body if isinstance(fn.body, list) else [fn.body]
    for stmt in body:
        names.update(
            n.id for n in ast.walk(stmt)
            if isinstance(n, ast.Name) and isinstance(n.ctx, (ast.Store, ast.Del))
        )
    return names


def _chains(node: ast.AST, local: frozenset[str] = frozenset()):
    """Every loaded ``a`` or ``a.b.c`` under ``node`` whose head is not local."""
    if isinstance(node, ast.Attribute):
        parts = []
        base = node
        while isinstance(base, ast.Attribute):
            parts.append(base.attr)
            base = base.value
        if isinstance(base, ast.Name):
            if base.id not in local:
                yield (base.id, *reversed(parts))
            return
        yield from _chains(base, local)
        return
    if isinstance(node, ast.Name):
        if isinstance(node.ctx, ast.Load) and node.id not in local:
            yield (node.id,)
        return
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
        # Decorators, defaults and annotations belong to the enclosing scope.
        outer = [
            *getattr(node, "decorator_list", []),
            *node.args.defaults,
            *(d for d in node.args.kw_defaults if d is not None),
            *(a.annotation for a in ast.walk(node.args)
              if isinstance(a, ast.arg) and a.annotation is not None),
            *([node.returns] if getattr(node, "returns", None) else []),
        ]
        for child in outer:
            yield from _chains(child, local)
        inner = local | _locals(node)
        body = node.body if isinstance(node.body, list) else [node.body]
        for stmt in body:
            yield from _chains(stmt, inner)
        return
    for child in ast.iter_child_nodes(node):
        yield from _chains(child, local)


def _seeds(names: _Names, loaded: set[str], roots: list[Path]) -> set[str]:
    """Definitions the ``roots`` files use, and those that the code an
    import of a ``loaded`` module runs uses."""
    seeds: set[str] = set()
    for root in roots:
        tree = ast.parse(root.read_text(), str(root))
        seeds |= names.uses(tree, "", _bindings(tree, root.stem, root))
    for module in loaded:
        for stmt in names.module_code[module]:
            seeds |= names.uses(stmt, module)
    return seeds


def test_every_top_level_definition_is_reachable_or_kept_for_a_reason():
    modules = _package_modules()
    names = _Names(modules)
    defined = names.all_definitions()
    kept_modules = set(KEPT_UNREACHED) & set(modules)
    kept_defs = set(KEPT_UNREACHED) - kept_modules
    assert kept_defs <= defined, (
        f"a kept definition is gone: {sorted(kept_defs - defined)}"
    )
    reached = names.closure(_seeds(names, _reached(modules), _roots()))
    assert not kept_defs & reached, (
        "a kept definition is reachable now: drop it from KEPT_UNREACHED"
    )
    # A kept module keeps all its definitions; a kept module or
    # definition keeps what it uses.
    in_kept_modules = {d for d in defined if d.rpartition(".")[0] in kept_modules}
    kept = names.closure(
        kept_defs | in_kept_modules | _seeds(names, kept_modules, [])
    )
    unreached = sorted(defined - reached - kept)
    assert unreached == [], f"definitions no entry point uses: {unreached}"
