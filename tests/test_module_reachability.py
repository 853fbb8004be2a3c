"""Reachability guard: every package module is reached from a KG entry
point, is a named keep, or is held alive only by the query registry.

The scan follows ``import``/``from ... import`` statements (function-level
ones included) through the AST, starting from ``plans.pipeline``,
``streaming.ingest``, ``scripts/run_pipeline.py`` and ``perfbench/*.py``.
A new module that nothing reaches fails here; a registry-only module that
the KG entry points start to reach must leave ``REGISTRY_ONLY``."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "research_on_document_level_person_relation_extraction_in_chinese_spark"

#: unreached by the KG entry points but kept on purpose: the plain-Python
#: reference port, evaluation, snapshot diff and the port-fixture writer
KEEP = {"plans.reference_port", "operators.evaluate", "operators.snapshot", "plans.port_fixtures"}

#: reached only through ``__spark_entry__.py``; shrinks as the registry does
REGISTRY_ONLY = {
    "functions.urls",
    "operators.curation",
    "operators.dedup",
    "operators.dsir",
    "operators.persistpool",
    "operators.quantiles",
    "operators.sketches",
    "operators.spread",
    "operators.textstats",
    "operators.training",
}


def _module_file(mod: str) -> Path | None:
    """Source file of a dotted package module (``""`` is the package root)."""
    base = ROOT / PKG / Path(*mod.split(".")) if mod else ROOT / PKG
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _imports(path: Path) -> set[str]:
    """Package modules ``path`` imports, as dotted names relative to PKG,
    with their parent packages (importing a submodule runs them)."""
    in_pkg = (ROOT / PKG) in path.parents
    here = path.relative_to(ROOT / PKG).parent.parts if in_pkg else ()
    found = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                if not in_pkg:
                    continue
                parts = [*here[: len(here) - node.level + 1], *filter(None, [base])]
                base = ".".join([PKG, *parts])
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            if t != PKG and not t.startswith(PKG + "."):
                continue
            mod = t[len(PKG) + 1 :]
            if _module_file(mod) is not None:
                parts = mod.split(".") if mod else []
                found.update(".".join(parts[:i]) for i in range(len(parts) + 1))
    return found


def _name(path: Path) -> str:
    """Dotted name, relative to PKG, of a package source file."""
    rel = path.relative_to(ROOT / PKG).with_suffix("")
    return ".".join(rel.parts[:-1] if rel.name == "__init__" else rel.parts)


def _reach(roots: list[Path]) -> set[str]:
    seen: set[str] = set()
    todo = [_name(r) for r in roots if (ROOT / PKG) in r.parents]
    todo += [m for r in roots for m in _imports(r)]
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo.extend(_imports(_module_file(mod)))
    return seen


KG_ROOTS = [
    ROOT / PKG / "plans" / "pipeline.py",
    ROOT / PKG / "streaming" / "ingest.py",
    ROOT / "scripts" / "run_pipeline.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
]


def test_every_module_reached_kept_or_registry_only():
    reached = _reach(KG_ROOTS)
    unreached = {_name(f) for f in (ROOT / PKG).rglob("*.py")} - reached
    assert unreached - KEEP == REGISTRY_ONLY


def test_registry_only_modules_are_registry_imports():
    assert REGISTRY_ONLY <= _reach([ROOT / "__spark_entry__.py"])
