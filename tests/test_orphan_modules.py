"""No orphan engine code: every module of the package is reachable by
import from an entry point (``__spark_entry__.py``, ``bench.py``, ``tools/*.py``,
``perfbench/*.py``, the package ``__init__``), every top-level function,
class and module-level constant of the package is read by non-test code,
and every ``DedupConfig`` field is read there. Static AST scans, with
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


def _tool_files() -> list[Path]:
    return sorted((ROOT / "tools").glob("*.py")) + sorted((ROOT / "perfbench").glob("*.py"))


def _unreachable() -> set[str]:
    engine = {_name(p): p for p in (ROOT / PKG).rglob("*.py")}
    roots = [ROOT / "bench.py", ROOT / "__spark_entry__.py", ROOT / PKG / "__init__.py"]
    roots += _tool_files()
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


# top-level names no non-test code reads that stay, each for a reason
KEPT = {
    # per-doc references the fused signature kernel is tested against
    # (tests/test_minhash.py::test_fused_kernel_bit_identical_to_reference)
    ("functions.minhash", "minhash_numpy"),
    ("functions.minhash", "gram_hashes_python"),
    ("functions.minhash", "shingle_hashes_python"),
    # the exact-Jaccard reference sets of tests/test_e2e.py
    ("functions.text", "shingle_set"),
    # the engine's one Structured Streaming entry point
    ("streaming.incremental", "run_incremental"),
}


def _top_names(top: ast.stmt) -> list[str]:
    """The names a top-level statement defines: a function or class, or
    the plain-name targets of a module-level assignment (dunders such as
    ``__all__`` aside)."""
    if isinstance(top, (ast.FunctionDef, ast.ClassDef)):
        return [top.name]
    if isinstance(top, ast.Assign):
        targets = top.targets
    elif isinstance(top, ast.AnnAssign):
        targets = [top.target]
    else:
        return []
    return [
        n.id for t in targets for n in ast.walk(t)
        if isinstance(n, ast.Name) and not n.id.startswith("__")
    ]


def _reads() -> list[tuple[str, str, tuple[str, str | None]]]:
    """(name, base, (module, enclosing top-level definition or None)) for
    every name or attribute read (``Load`` context) in non-test code;
    ``base`` is the last name of an attribute's owner (``cfg`` in
    ``self.cfg.x``), else "". A module-level assignment encloses what its
    value reads. Assignment targets, import statements and ``def`` names
    are not reads."""
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += sorted((ROOT / PKG).rglob("*.py")) + _tool_files()
    reads = []
    for path in files:
        module = _name(path)
        for top in ast.parse(path.read_text(), str(path)).body:
            names = _top_names(top)
            where = (module, names[0] if names else None)
            for node in ast.walk(top):
                if not isinstance(getattr(node, "ctx", None), ast.Load):
                    continue
                if isinstance(node, ast.Name):
                    reads.append((node.id, "", where))
                elif isinstance(node, ast.Attribute):
                    base = node.value
                    base = base.attr if isinstance(base, ast.Attribute) else getattr(base, "id", "")
                    reads.append((node.attr, base, where))
    return reads


def _dead_functions(reads) -> set[tuple[str, str]]:
    """(module, name) of each top-level function, class or module-level
    constant of the package, ``KEPT`` aside, that nothing uses: no read
    outside its own definition, other than from a definition already found
    dead (so a helper that only a dead function calls is dead too)."""
    defs = {
        (_name(path), name)
        for path in (ROOT / PKG).rglob("*.py")
        for node in ast.parse(path.read_text()).body
        for name in _top_names(node)
    }
    defs -= {(f"{PKG}.{mod}", name) for mod, name in KEPT}
    dead: set[tuple[str, str]] = set()
    while True:
        newly = {
            f for f in defs - dead
            if not any(
                name == f[1] and where != f and where not in dead
                for name, _, where in reads
            )
        }
        if not newly:
            return dead
        dead |= newly


def test_no_dead_dedup_operator_functions():
    # covers every module of the package, the dedup operators included: a
    # dead function, class or constant is deleted with its tests, not kept
    # for them
    dead = _dead_functions(_reads())
    assert {f"{m[len(PKG) + 1:]}.{fn}" for m, fn in dead} == set()


def test_every_config_field_is_read():
    """Each ``DedupConfig`` field is read as ``cfg.<field>`` (an owner
    named ``cfg`` in any case: ``cfg``, ``self.cfg``, ``CFG``) by non-test
    code outside a dead operator function: a field that only tests set is
    configuration nothing obeys."""
    tree = ast.parse((ROOT / PKG / "config.py").read_text())
    cls = next(n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "DedupConfig")
    fields = {n.target.id for n in cls.body if isinstance(n, ast.AnnAssign)}
    reads = _reads()
    dead = _dead_functions(reads)
    read = {
        name for name, base, where in reads
        if base.lower() == "cfg" and where not in dead
    }
    assert fields - read == set()
