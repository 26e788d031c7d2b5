"""No orphan engine modules: every module of the package is reachable by
import from an entry point (``__spark_entry__.py``, ``bench.py``, ``tools/*.py``,
``perfbench/*.py``, the package ``__init__``). A static AST scan, with
function-local imports included; no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "neural_locality_sensitive_hashing_spark"


def _name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(path: Path):
    """Every dotted name an ``import`` / ``from ... import`` in the file
    can load, anywhere in its body."""
    name = _name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                base = package.split(".")[: len(package.split(".")) - node.level + 1]
                mod = ".".join(base + ([mod] if mod else []))
            yield mod
            yield from (f"{mod}.{a.name}" for a in node.names)


def _unreachable() -> set[str]:
    engine = {_name(p): p for p in (ROOT / PKG).rglob("*.py")}
    roots = [ROOT / "bench.py", ROOT / "__spark_entry__.py", ROOT / PKG / "__init__.py"]
    roots += sorted((ROOT / "tools").glob("*.py")) + sorted((ROOT / "perfbench").glob("*.py"))
    seen: set[str] = {PKG}
    todo = list(roots)
    while todo:
        for dotted in _imports(todo.pop()):
            parts = dotted.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in engine and mod not in seen:
                    seen.add(mod)
                    todo.append(engine[mod])
    return {m[len(PKG) + 1 :] for m in engine.keys() - seen}


def test_no_orphan_engine_modules():
    # the set is empty: a module that becomes unreachable is deleted with
    # its tests, not added here
    assert _unreachable() == set()
