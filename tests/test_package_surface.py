"""Package surface: every top-level def, class and constant in the
package is reached by a program, or has a stated reason to stay.

Programs enter the package through the registry builders (``@query``),
module-level statements (they run at import), and the entry files:
``cli.py``, ``bench.py``, ``__spark_entry__.py``, ``scripts/*.py`` and
``perfbench/*.py``.  A top-level name is reached when reached code reads
it: a bare name in its own module, a ``from m import name`` that reached
code then reads, or ``m.name`` on an imported module.  Docstrings and
comments do not count.  ``testing.py`` is exempt as a module: it is test
support that ``bench.py`` and perfbench also import.

Options: every defaulted parameter of a top-level package function is
passed by some call (in the package, the entry files or the tests), or
has a stated reason to stay; a value no caller sets is a constant.

Locals: every name a package function stores is read in that function
or in a function nested in it.

Pure ``ast``; no Spark session.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "aws_logs_to_parquet_converter_spark"

# Whole files whose every top-level definition is a root.
ENTRY_FILES = ["bench.py", "__spark_entry__.py", "scripts/*.py", "perfbench/*.py"]
ENTRY_MODULES = {f"{PKG}.cli", f"{PKG}.testing"}
EXEMPT_MODULES = {f"{PKG}.testing"}

# Roots no program reaches, each with the reason it stays.
ALLOWED = {
    f"{PKG}.operators.multimodal.MEDIA_SCHEMA": (
        "the media table contract extract_features reads; tests build media frames with it"
    ),
    f"{PKG}.operators.bpe.bpe_train": (
        "trains the frozen _BPE_MERGES table (plans/extensions.py) three registry entries read"
    ),
    f"{PKG}.operators.dedup.rebuild_minhash_index": (
        "recovery: the repair `cli maintain --validate-index` prescribes for a corrupt index"
    ),
}


class _Module:
    def __init__(self, name: str, tree: ast.Module):
        self.name = name
        self.tree = tree
        self.calls: list[ast.Call] = []
        # top-level name -> the statements that define it
        self.defs: dict[str, list[ast.stmt]] = {}
        self.roots: list[ast.stmt] = []
        self.builders: set[str] = set()  # @query-registered names
        # local name -> targets: ("mod", dotted) or ("from", module, attr)
        self.imports: dict[str, set[tuple[str, ...]]] = {}
        # statement -> (names it loads, dotted attribute chains it reads)
        self.reads: dict[ast.stmt, tuple[set[str], set[tuple[str, ...]]]] = {}
        for stmt in tree.body:
            names = _defined_names(stmt)
            for n in names:
                self.defs.setdefault(n, []).append(stmt)
            if _is_query_builder(stmt):
                self.builders.update(names)
            if not names or _is_query_builder(stmt):
                self.roots.append(stmt)
            self.reads[stmt] = self._scan(stmt)

    def _scan(self, stmt: ast.stmt):
        names, chains = set(), set()
        for node in ast.walk(stmt):
            if isinstance(node, ast.Name):
                if isinstance(node.ctx, ast.Load):
                    names.add(node.id)
            elif isinstance(node, ast.Attribute):
                chain = _chain(node)
                if chain:
                    chains.add(chain)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    local = a.asname or a.name.split(".")[0]
                    self._bind(local, ("mod", a.name if a.asname else local))
            elif isinstance(node, ast.ImportFrom) and node.module:
                for a in node.names:
                    self._bind(a.asname or a.name, ("from", node.module, a.name))
            elif isinstance(node, ast.Call):
                self.calls.append(node)
        return names, chains

    def _bind(self, local: str, target: tuple[str, ...]) -> None:
        self.imports.setdefault(local, set()).add(target)


def _chain(node: ast.Attribute) -> tuple[str, ...] | None:
    parts = [node.attr]
    while isinstance(node.value, ast.Attribute):
        node = node.value
        parts.append(node.attr)
    if isinstance(node.value, ast.Name):
        parts.append(node.value.id)
        return tuple(reversed(parts))
    return None


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = (
        stmt.targets
        if isinstance(stmt, ast.Assign)
        else [stmt.target]
        if isinstance(stmt, ast.AnnAssign) and stmt.value is not None
        else []
    )
    if targets and all(isinstance(t, ast.Name) for t in targets):
        names = [t.id for t in targets]
        if not any(n.startswith("__") for n in names):
            return names
    return []


def _is_query_builder(stmt: ast.stmt) -> bool:
    for d in getattr(stmt, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if (isinstance(f, ast.Name) and f.id == "query") or (
            isinstance(f, ast.Attribute) and f.attr == "query"
        ):
            return True
    return False


@functools.cache
def _load_modules() -> dict[str, _Module]:
    mods = {}
    for path in sorted((REPO / PKG).rglob("*.py")):
        parts = path.relative_to(REPO).with_suffix("").parts
        name = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        mods[name] = _Module(name, ast.parse(path.read_text(), str(path)))
    for pattern in ENTRY_FILES:
        for path in sorted(REPO.glob(pattern)):
            name = f"<{path.relative_to(REPO)}>"
            mods[name] = _Module(name, ast.parse(path.read_text(), str(path)))
    return mods


def unreached_names(allowed=frozenset()) -> list[str]:
    """Fully qualified top-level package names no root reaches."""
    mods = _load_modules()
    packages = {".".join(m.split(".")[:i]) for m in mods for i in range(1, m.count(".") + 2)}
    reached: set[tuple[str, str]] = set()
    work: list[tuple[_Module, ast.stmt]] = []

    def reach(mod: str, name: str) -> None:
        if mod not in mods or (mod, name) in reached:
            return
        reached.add((mod, name))
        m = mods[mod]
        work.extend((m, stmt) for stmt in m.defs.get(name, []))
        for target in m.imports.get(name, ()):  # a re-export
            if target[0] == "from":
                reach(target[1], target[2])

    def module_of(m: _Module, name: str) -> str | None:
        for target in m.imports.get(name, ()):
            dotted = target[1] if target[0] == "mod" else f"{target[1]}.{target[2]}"
            if dotted in packages:
                return dotted
        return None

    for m in mods.values():
        work.extend((m, stmt) for stmt in m.roots)
        if m.name in ENTRY_MODULES or m.name.startswith("<"):
            work.extend((m, stmt) for stmts in m.defs.values() for stmt in stmts)
        reached.update((m.name, n) for n in m.builders)
    for dotted in allowed:
        mod, _, name = dotted.rpartition(".")
        reach(mod, name)

    done: set[ast.stmt] = set()
    while work:
        m, stmt = work.pop()
        if stmt in done:
            continue
        done.add(stmt)
        names, chains = m.reads[stmt]
        for name in names:
            reach(m.name, name)
        for chain in chains:
            base = module_of(m, chain[0])
            i = 1
            while base and i < len(chain) and f"{base}.{chain[i]}" in packages:
                base, i = f"{base}.{chain[i]}", i + 1
            if base and i < len(chain):
                reach(base, chain[i])

    return sorted(
        f"{m.name}.{name}"
        for m in mods.values()
        if not m.name.startswith("<") and m.name not in EXEMPT_MODULES
        for name in m.defs
        if (m.name, name) not in reached
    )


def test_every_package_name_is_reached():
    unreached = unreached_names(frozenset(ALLOWED))
    assert not unreached, (
        f"{len(unreached)} top-level package names no registry entry, CLI path, "
        "entry script or benchmark reaches; delete them or add a reason to "
        "ALLOWED:\n  " + "\n  ".join(unreached)
    )


def test_allowlist_is_needed():
    unreached = set(unreached_names())
    stale = sorted(set(ALLOWED) - unreached)
    assert not stale, f"allowlisted names a program already reaches, or gone: {stale}"


# Defaulted parameters no call sets, each with the reason it stays.
_ORACLE = "reference implementation that restates its registry builder's parameters"
ALLOWED_OPTIONS = {
    f"{PKG}.session.get_spark.master": "deployment setting: the cluster URL",
    f"{PKG}.plans.extensions._lsh_oracle": _ORACLE,
    f"{PKG}.plans.extensions._lsh_multiprobe_oracle": _ORACLE,
    f"{PKG}.plans.extensions._classifier_oracle": _ORACLE,
    f"{PKG}.plans.extensions._calibration_oracle": _ORACLE,
}


@functools.cache
def _passed() -> dict[str, set]:
    """Callee final name -> what its calls pass: keywords, positional
    counts, and "*" for a call with ``*args`` or ``**kwargs``.  Calls are
    read in the package, the entry files and ``tests/*.py``."""
    calls = [c for m in _load_modules().values() for c in m.calls]
    for path in sorted(REPO.glob("tests/*.py")):
        tree = ast.parse(path.read_text(), str(path))
        calls += [node for node in ast.walk(tree) if isinstance(node, ast.Call)]
    passed: dict[str, set] = {}
    for node in calls:
        f = node.func
        name = f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None
        if name is None:
            continue
        got = passed.setdefault(name, set())
        if any(isinstance(a, ast.Starred) for a in node.args) or any(
            k.arg is None for k in node.keywords
        ):
            got.add("*")
        got.add(len(node.args))
        got.update(k.arg for k in node.keywords)
    return passed


def unset_options(allowed=frozenset()) -> list[str]:
    """Defaulted parameters of top-level package functions that no call passes.

    A parameter is passed when some call whose callee's final name is the
    function's name gives it by keyword or by position (``_passed``); a call
    with ``*args`` or ``**kwargs`` passes every parameter.  An allowlisted
    function name covers all its parameters.
    """
    passed = _passed()
    unset = []
    for m in _load_modules().values():
        if m.name.startswith("<"):
            continue
        for stmt in m.tree.body:
            if not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            qual = f"{m.name}.{stmt.name}"
            got = passed.get(stmt.name, set())
            if qual in allowed or "*" in got:
                continue
            a = stmt.args
            positional = a.posonlyargs + a.args
            n_pos = max((g for g in got if isinstance(g, int)), default=0)
            first = max(len(positional) - len(a.defaults), n_pos)
            options = positional[first:] + [
                arg for arg, default in zip(a.kwonlyargs, a.kw_defaults) if default is not None
            ]
            unset += [
                f"{qual}.{arg.arg}"
                for arg in options
                if arg.arg not in got and f"{qual}.{arg.arg}" not in allowed
            ]
    return sorted(unset)


def test_every_option_is_passed():
    unset = unset_options(frozenset(ALLOWED_OPTIONS))
    assert not unset, (
        f"{len(unset)} defaulted parameters no call sets; make each the constant "
        "it defaults to, or add a reason to ALLOWED_OPTIONS:\n  " + "\n  ".join(unset)
    )


def test_option_allowlist_is_needed():
    unset = unset_options()
    stale = sorted(
        qual
        for qual in ALLOWED_OPTIONS
        if qual not in unset and not any(u.startswith(qual + ".") for u in unset)
    )
    assert not stale, f"allowlisted options a call already sets, or gone: {stale}"


def dead_locals() -> list[str]:
    """Function-local names in the package that are stored but never read.

    A name counts as stored in a function when an assignment, loop,
    ``with`` or walrus target in its own body (not a nested function's)
    binds it, and as read when the function or any function nested in it
    loads it.  Names with a ``_`` prefix and names declared ``global`` or
    ``nonlocal`` are exempt.
    """
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
    dead = []
    for m in _load_modules().values():
        if m.name.startswith("<"):
            continue
        for fn in ast.walk(m.tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            stored: dict[str, int] = {}
            exempt: set[str] = set()
            body = list(ast.iter_child_nodes(fn))
            while body:
                node = body.pop()
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
                    stored.setdefault(node.id, node.lineno)
                elif isinstance(node, (ast.Global, ast.Nonlocal)):
                    exempt.update(node.names)
                if not isinstance(node, funcs):
                    body.extend(ast.iter_child_nodes(node))
            read = {
                n.id
                for n in ast.walk(fn)
                if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)
            }
            dead += [
                f"{m.name}.{fn.name}:{line} {name}"
                for name, line in stored.items()
                if not name.startswith("_") and name not in exempt | read
            ]
    return sorted(dead)


def test_no_dead_locals():
    dead = dead_locals()
    assert not dead, (
        f"{len(dead)} locals are stored but never read; drop the store or "
        "bind the value to _:\n  " + "\n  ".join(dead)
    )
