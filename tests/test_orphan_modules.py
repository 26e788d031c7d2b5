"""No orphan engine code: every module of the package is reachable by
import from an entry point (``__spark_entry__.py``, ``bench.py``, ``tools/*.py``,
``perfbench/*.py``, the package ``__init__``), every top-level function,
class, module-level constant and class method of the package is read by
non-test code, every ``DedupConfig`` field is read there, and every
defaulted parameter is set there. Static AST scans, with function-local
imports included; no Spark session."""

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


def _code_files() -> list[Path]:
    """The non-test code: the entry points, the package and the tools."""
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    return files + sorted((ROOT / PKG).rglob("*.py")) + _tool_files()


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
    """(name, base, (module, enclosing definition or None)) for every name
    or attribute read (``Load`` context) in non-test code; ``base`` is the
    last name of an attribute's owner (``cfg`` in ``self.cfg.x``), else "".
    The enclosing definition is the top-level one, or ``Class.method``
    inside a method of a top-level class; a module-level assignment
    encloses what its value reads. Assignment targets, import statements
    and ``def`` names are not reads."""
    reads = []
    for path in _code_files():
        module = _name(path)
        for top in ast.parse(path.read_text(), str(path)).body:
            names = _top_names(top)
            scopes = [(top, names[0] if names else None)]
            if isinstance(top, ast.ClassDef):
                scopes = [(top, top.name)] + [
                    (fn, f"{top.name}.{fn.name}") for fn in _methods(top)
                ]
            inner = {id(n) for fn, _ in scopes[1:] for n in ast.walk(fn)}
            for scope, owner in scopes:
                where = (module, owner)
                for node in ast.walk(scope):
                    if scope is top and id(node) in inner:
                        continue
                    if not isinstance(getattr(node, "ctx", None), ast.Load):
                        continue
                    if isinstance(node, ast.Name):
                        reads.append((node.id, "", where))
                    elif isinstance(node, ast.Attribute):
                        base = node.value
                        base = base.attr if isinstance(base, ast.Attribute) else getattr(base, "id", "")
                        reads.append((node.attr, base, where))
    return reads


def _methods(cls: ast.ClassDef) -> list[ast.FunctionDef]:
    """The methods of a class, dunders (``__init__``, ...) aside."""
    return [
        fn for fn in cls.body
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) and not fn.name.startswith("__")
    ]


def _dead_functions(reads) -> set[tuple[str, str]]:
    """(module, name) of each top-level function, class or module-level
    constant of the package, and (module, ``Class.method``) of each method
    of a top-level class, ``KEPT`` aside, that nothing uses: no read
    outside its own definition (a class's methods are inside it), other
    than from a definition already found dead (so a helper that only a
    dead function calls is dead too)."""
    defs = set()
    for path in (ROOT / PKG).rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            defs |= {(_name(path), name) for name in _top_names(node)}
            if isinstance(node, ast.ClassDef):
                defs |= {(_name(path), f"{node.name}.{fn.name}") for fn in _methods(node)}
    defs -= {(f"{PKG}.{mod}", name) for mod, name in KEPT}

    def inside(where, f) -> bool:
        return where == f or (where[0] == f[0] and (where[1] or "").startswith(f"{f[1]}."))

    dead: set[tuple[str, str]] = set()
    while True:
        newly = {
            f for f in defs - dead
            if not any(
                name == f[1].rpartition(".")[2] and not inside(where, f) and where not in dead
                for name, _, where in reads
            )
        }
        if not newly:
            return dead
        dead |= newly


def test_no_dead_dedup_operator_functions():
    # covers every module of the package, the dedup operators included: a
    # dead function, class, constant or method is deleted with its tests,
    # not kept for them
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


# defaulted parameters that no non-test call sets and that stay, each for
# a reason other than a test setting it: (module, def, parameter) -> reason
KEPT_OPTIONS: dict[tuple[str, str, str], str] = {}


def _defs():
    """(module, name, def, positional offset) for each module-level
    function and each method of a module-level class of the package; an
    ``__init__`` is named after its class, and a method's ``self`` /
    ``cls`` is not passed positionally."""
    for path in sorted((ROOT / PKG).rglob("*.py")):
        module = _name(path)[len(PKG) + 1 :]
        for top in ast.parse(path.read_text(), str(path)).body:
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield module, top.name, top, 0
            elif isinstance(top, ast.ClassDef):
                for fn in top.body:
                    if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        static = any(getattr(d, "id", "") == "staticmethod" for d in fn.decorator_list)
                        name = top.name if fn.name == "__init__" else fn.name
                        yield module, name, fn, 0 if static else 1


def _calls() -> tuple[dict[str, list], set[str]]:
    """Each non-test call's (positional count, keywords, star) per called
    name (a bare name or an attribute's last part), and the names read
    other than as a call target or in an annotation."""
    calls: dict[str, list] = {}
    passed: set[str] = set()
    for path in _code_files():
        tree = ast.parse(path.read_text(), str(path))
        skip = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                skip.add(id(node.func))
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                star = any(isinstance(a, ast.Starred) for a in node.args) or any(
                    k.arg is None for k in node.keywords
                )
                calls.setdefault(name, []).append(
                    (len(node.args), {k.arg for k in node.keywords}, star)
                )
            for note in (getattr(node, "annotation", None), getattr(node, "returns", None)):
                if note is not None:
                    skip |= {id(n) for n in ast.walk(note)}
        for node in ast.walk(tree):
            if id(node) not in skip and isinstance(getattr(node, "ctx", None), ast.Load):
                if isinstance(node, ast.Name):
                    passed.add(node.id)
                elif isinstance(node, ast.Attribute):
                    passed.add(node.attr)
    return calls, passed


def _unset_options() -> set[tuple[str, str, str]]:
    """(module, def, parameter) of each defaulted parameter of the package
    that no non-test call sets: by keyword, by enough positional
    arguments, or through ``*args`` / ``**kwargs``. A def whose name is
    read other than as a call target (passed on as a value, held in a
    registry) sets all of its parameters."""
    calls, passed = _calls()
    unset = set()
    for module, name, fn, offset in _defs():
        if name in passed:
            continue
        a = fn.args
        positional = a.posonlyargs + a.args
        first = len(positional) - len(a.defaults)
        defaulted = [(i, p.arg) for i, p in enumerate(positional) if i >= first]
        defaulted += [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        for i, param in defaulted:
            if not any(
                star or param in kws or (i is not None and n_pos + offset > i)
                for n_pos, kws, star in calls.get(name, [])
            ):
                unset.add((module, name, param))
    return unset


def test_every_option_is_set():
    # a parameter no non-test call sets is a constant, and the branch it
    # guards is dead code kept alive by its tests: make it a constant and
    # delete the branch with those tests, rather than adding it here
    assert _unset_options() - KEPT_OPTIONS.keys() == set()
