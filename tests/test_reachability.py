"""Every package module is reachable from the driver contract, the CLI or
the query/oracle registries — a module nothing reaches gets deleted, not
kept.  Static: the import graph is read with ``ast``, no SparkSession."""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = "uncharted_ta1_pipeline_spark"

# Modules deliberately kept although no entry point imports them, with why.
EXEMPT = {
    f"{PKG}.streaming.sessions": (
        "the streaming surface is kept by the ROADMAP north star; "
        "tests/test_streaming.py drives it directly"
    ),
}


def _modules() -> dict[str, pathlib.Path]:
    """Dotted module name -> source path, for the package and the entry."""
    mods = {"__spark_entry__": REPO / "__spark_entry__.py"}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        mods[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = path
    return mods


def _with_parents(name: str) -> list[str]:
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def _imports(path: pathlib.Path, mods: dict) -> set[str]:
    """Package modules imported anywhere in ``path`` — top level or inside
    a function — plus the parent packages Python loads on the way.  The
    package uses absolute imports only."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            # ``from pkg import mod`` binds a submodule
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return {m for n in names for m in _with_parents(n) if m in mods}


def test_every_package_module_is_reached():
    mods = _modules()
    # the entry imports the engine only inside entry(); if function-local
    # imports were missed, nearly everything would look unreached
    assert f"{PKG}.operators.salt" in _imports(mods["__spark_entry__"], mods)
    todo = ["__spark_entry__", f"{PKG}.cli"] + [
        m for m in mods if m.startswith((f"{PKG}.plans.queries", f"{PKG}.plans.oracles"))
    ]
    reached: set[str] = set()
    while todo:
        m = todo.pop()
        if m not in reached:
            reached.add(m)
            todo.extend(_imports(mods[m], mods))
    allowed = set()
    for m in EXEMPT:
        assert m in mods and m not in reached, f"stale exemption: {m}"
        allowed.update(_with_parents(m))
    unreached = sorted(set(mods) - reached - allowed)
    assert not unreached, (
        "modules no query, oracle, CLI path or driver entry imports — "
        f"delete them or wire them in: {unreached}"
    )
