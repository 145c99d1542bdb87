"""Every top-level function and class of the package has a user.

The roots are what runs package code: every ``@query`` function, the
package's module-level code (the CLI's ``__main__`` guard included), and
every name that ``perfbench/``, ``examples/``, ``tools/``, ``bench.py`` and
``__spark_entry__.py`` use. From the roots the walk follows every name a
reached body uses until nothing new is reached. Names are matched by
spelling alone, so a name shared by two definitions reaches both: the walk
can miss dead code, but never reports live code. Imports and ``__all__``
entries are not uses (a name imported ``as`` another is used when the
other is); tests are not roots. The exempt definitions are roots too: what
they use stays with them.

Spark-free: an AST walk over the source, well under a second.
"""

from __future__ import annotations

import ast
import functools
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "node_mongo2influx_spark"
CALLERS = [
    ROOT / "perfbench",
    ROOT / "examples",
    ROOT / "tools",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]

#: Definitions the roots do not reach that stay on purpose, and why.
EXEMPT = {
    "bloom_fill": "test_bloom_geometry_scales_with_keys checks "
    "bloom_geometry's fill rate against it",
    "fmix32_py": "the Python reference the fmix32 SQL spellings are "
    "tested against",
    "_bpe_merge_loop_reference": "the reference the BPE merge kernel is "
    "tested against",
    "SessionCatalog": "the session-table source the north star names",
    "MongoCatalog": "the reference's own source, a live MongoDB read "
    "through the Spark connector",
}


def _files(path: pathlib.Path) -> list[pathlib.Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _uses(nodes) -> set[str]:
    """The names and attribute names that ``nodes`` load, imports aside."""
    used: set[str] = set()
    stack = list(nodes)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            used.add(node.id)
        elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            used.add(node.attr)
        stack.extend(ast.iter_child_nodes(node))
    return used


def _is_query(node) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "query"
        for d in node.decorator_list
    )


@functools.cache
def _sources() -> tuple[dict, dict[str, str], frozenset[str]]:
    """(top-level definition name → [(module, node)], ``as`` aliases, the
    names the roots use), from one parse of the package and its callers."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    aliases: dict[str, str] = {}
    roots: set[str] = set()
    trees = []
    for f in _files(PACKAGE):
        module = str(f.relative_to(ROOT))
        tree = ast.parse(f.read_text(), filename=module)
        trees.append(tree)
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((module, stmt))
                # decorators run at import; a query runs when queried
                roots |= _uses(stmt.decorator_list)
                if _is_query(stmt):
                    roots.add(stmt.name)
            else:
                roots |= _uses([stmt])
    for path in CALLERS:
        for f in _files(path):
            tree = ast.parse(f.read_text(), filename=str(f))
            trees.append(tree)
            roots |= _uses([tree])
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    if a.asname:
                        aliases[a.asname] = a.name.rpartition(".")[2]
    return defs, aliases, frozenset(roots)


def _unreached(extra_roots) -> dict[str, list[str]]:
    """Top-level definition name → the modules defining it, for every
    definition that neither the roots nor ``extra_roots`` reach."""
    defs, aliases, roots = _sources()
    reached: set[str] = set()
    todo = [*roots, *extra_roots]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        if name in aliases:
            todo.append(aliases[name])
        for _, node in defs.get(name, ()):
            todo.extend(_uses([node]) - reached)
    return {
        name: [module for module, _ in sites]
        for name, sites in defs.items()
        if name not in reached
    }


def test_every_package_definition_is_reached():
    unreached = _unreached(EXEMPT)
    assert not unreached, (
        "defined in the package but reached by no query, module-level "
        "code, CLI, perfbench, examples/, tools/, bench.py or "
        "__spark_entry__.py (delete it, or exempt it with a reason): "
        + ", ".join(f"{m}::{n}" for n, ms in sorted(unreached.items()) for m in ms)
    )


def test_every_exemption_is_still_needed():
    # an exemption that gains a user or is deleted leaves the list
    assert set(EXEMPT) <= set(_unreached(()))
