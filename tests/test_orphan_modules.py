"""Every package module must be reachable by import.

A module that no other package module and not ``__spark_entry__.py``
imports is dead surface: nothing on the serving or query path can call
it.  Such a module either goes, or is named in ``ALLOWED`` with the
reason it stays.  The online serving path, ``streaming.recommend``, must
also stay small: its import closure holds no query-catalog module, and
every public name of the serving modules has a caller outside the tests.
The checks parse source with ``ast`` and need no Spark session.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "hainan_big_data_recommend_system_spark"

#: The most package modules importing the serving path may load.
SERVING_MAX_MODULES = 15

#: The online stream's modules, whose every public name must be called.
SERVING = ("streaming.events", "streaming.sinks", "streaming.recommend")

#: Non-test code outside the package: the driver contract, and the only
#: driver of the online stream and the nightly pass.
DRIVERS = ("__spark_entry__.py", os.path.join("perfbench", "run.py"))

#: Modules kept on purpose although nothing in the package imports them.
ALLOWED = {
    "streaming.events": "online event source/parse/dispatch; perfbench drives it",
    "streaming.sinks": "online serving KV writers; perfbench drives them",
    "sources.jdbc": "the reference's MySQL reads (S1-S4), kept on purpose",
    "functions.segment": "the reference's Chinese word segmentation (M1)",
}


def _modules() -> dict[str, str]:
    """Dotted module name (without the package prefix) -> file path."""
    out = {}
    base = os.path.join(ROOT, PKG)
    for dirpath, _, files in os.walk(base):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), base)[:-3]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            out[".".join(parts)] = os.path.join(dirpath, f)
    return out


def _stem(node: ast.ImportFrom, name: str, path: str) -> str:
    """The module an ``ImportFrom`` in module ``name`` reads from, relative
    to the package when it lies inside it."""
    here = name.split(".") if name else []
    package = here if path.endswith("__init__.py") else here[:-1]
    if node.level:
        parent = package[: len(package) - (node.level - 1)]
        return ".".join(parent + ([node.module] if node.module else []))
    stem = node.module or ""
    return stem[len(PKG) + 1:] if stem.startswith(PKG + ".") else stem


def _imported(name: str, path: str, known: set[str]) -> set[str]:
    """Package modules (relative dotted names) that ``path`` imports."""
    found = set()

    def add(dotted: str) -> None:
        if dotted.startswith(PKG):
            dotted = dotted[len(PKG) + 1:]
        if dotted in known:
            found.add(dotted)

    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                add(a.name)
        elif isinstance(node, ast.ImportFrom):
            stem = _stem(node, name, path)
            add(stem)
            for a in node.names:
                add(f"{stem}.{a.name}" if stem else a.name)
    return found - {name}


def _orphans() -> set[str]:
    mods = _modules()
    known = set(mods)
    reached = set()
    for name, path in mods.items():
        reached |= _imported(name, path, known)
    entry = os.path.join(ROOT, "__spark_entry__.py")
    reached |= _imported("", entry, known)
    return {m for m in known if m and m not in reached
            and not mods[m].endswith("__init__.py")}


def test_every_module_is_imported_or_allowed():
    unexplained = sorted(_orphans() - set(ALLOWED))
    assert not unexplained, (
        f"modules no package module or __spark_entry__ imports: "
        f"{unexplained}; delete them or add them to ALLOWED with a reason"
    )


def test_allow_list_is_current():
    mods = _modules()
    missing = sorted(m for m in ALLOWED if m not in mods)
    assert not missing, f"ALLOWED names modules that no longer exist: {missing}"
    reached = sorted(set(ALLOWED) - _orphans())
    assert not reached, f"ALLOWED modules are now imported; drop them: {reached}"


def _closure(root: str) -> set[str]:
    """``root`` and every package module its import runs, transitively:
    imports inside functions count, and so does the ``__init__`` of each
    enclosing package."""
    mods = _modules()
    known = set(mods)
    seen, todo = set(), [root]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        parts = name.split(".")
        todo += [".".join(parts[:i]) for i in range(len(parts))]
        todo += _imported(name, mods[name], known)
    return seen


def test_serving_closure_is_small_and_outside_the_catalog():
    closure = _closure("streaming.recommend")
    catalog = sorted(m for m in closure if m.split(".")[0] == "qcatalog")
    assert not catalog, f"streaming.recommend reaches query-catalog modules: {catalog}"
    assert len(closure) <= SERVING_MAX_MODULES, (
        f"streaming.recommend reaches {len(closure)} package modules "
        f"(limit {SERVING_MAX_MODULES}): {sorted(closure)}"
    )


def _uses(name: str, path: str, target: str) -> set[str]:
    """Names of module ``target`` that the file ``path`` (module ``name``)
    imports directly or reads as ``<module alias>.<name>``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    aliases, used = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            stem = _stem(node, name, path)
            for a in node.names:
                if stem == target:
                    used.add(a.name)
                elif f"{stem}.{a.name}" == target:
                    aliases.add(a.asname or a.name)
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                and node.value.id in aliases):
            used.add(node.attr)
    return used


def _own_uses(path: str) -> dict[str, set[str]]:
    """Public top-level name -> the names the module's other top-level
    statements read."""
    with open(path, encoding="utf-8") as fh:
        body = ast.parse(fh.read()).body
    defined = {}
    for stmt in body:
        if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
            defined[stmt.name] = stmt
        elif isinstance(stmt, ast.Assign):
            for t in stmt.targets:
                if isinstance(t, ast.Name):
                    defined[t.id] = stmt
    return {
        pub: {n.id for stmt in body if stmt is not node
              for n in ast.walk(stmt) if isinstance(n, ast.Name)}
        for pub, node in defined.items() if not pub.startswith("_")
    }


def test_every_serving_name_has_a_non_test_caller():
    """A public function or constant of the online stream's modules that
    only tests call is dead serving surface: delete it with its tests."""
    mods = _modules()
    callers = list(mods.items()) + [("", os.path.join(ROOT, d)) for d in DRIVERS]
    unused = []
    for target in SERVING:
        own = _own_uses(mods[target])
        used = set()
        for m, p in callers:
            if m != target:
                used |= _uses(m, p, target)
        unused += [f"{target}.{pub}" for pub, reads in own.items()
                   if pub not in reads and pub not in used]
    assert not unused, f"serving names with no caller outside tests: {sorted(unused)}"
