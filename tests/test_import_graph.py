"""Every package module is reachable from what runs the engine.

Walks the AST imports (no Spark, nothing imported) from the engine, the
``__spark_entry__`` registry, perfbench and the spark-submit scripts.
A package module none of them reaches is dead weight that only its own
test keeps alive: delete it with its test, or wire it in."""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "crypto_near_real_time_data_ingestion_spark"

ROOTS = [
    os.path.join(REPO, PKG, "streaming", "engine.py"),
    os.path.join(REPO, "__spark_entry__.py"),
    *sorted(glob.glob(os.path.join(REPO, "perfbench", "*.py"))),
    os.path.join(REPO, "scripts", "run_pipeline.py"),
    os.path.join(REPO, "scripts", "make_pyfiles.py"),
]

# modules no import statement names, with how they are loaded
LOADED_BY_PATH = {
    # `site` auto-imports it in Spark's Python workers once
    # streaming/stateful_tws.py puts its directory on their PYTHONPATH
    f"{PKG}._pb_shim.sitecustomize",
}

# unreached kernels kept with their oracle tests until a later pruning;
# the list may only shrink: an entry whose module is deleted or becomes
# reachable fails the test
PRUNING_DEFERRED = {
    f"{PKG}.operators.bpe",
    f"{PKG}.operators.drift",
    f"{PKG}.operators.fingerprint",
    f"{PKG}.operators.kmeans",
}


def _module_name(path: str) -> str:
    name = os.path.relpath(path, REPO)[: -len(".py")].replace(os.sep, ".")
    return name[: -len(".__init__")] if name.endswith(".__init__") else name


MODULES = {
    _module_name(p): p
    for p in glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True)
}


def _imports(path: str) -> set[str]:
    """Package modules that ``path`` imports, parents included (importing
    ``a.b.c`` runs ``a/__init__`` and ``a/b/__init__``)."""
    me = _module_name(path)
    package = me if path.endswith("__init__.py") else me.rpartition(".")[0]
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    named = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            named.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = package
                for _ in range(node.level - 1):
                    parent = parent.rpartition(".")[0]
                base = f"{parent}.{base}" if base else parent
            named.add(base)
            # `from pkg import mod` names a submodule
            named.update(f"{base}.{a.name}" for a in node.names)
    found = set()
    for name in named:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in MODULES:
                found.add(prefix)
    return found


def test_every_package_module_is_reachable():
    seen: set[str] = set()
    todo = [m for r in ROOTS for m in _imports(r)]
    while todo:
        m = todo.pop()
        if m not in seen:
            seen.add(m)
            todo.extend(_imports(MODULES[m]))
    assert LOADED_BY_PATH <= set(MODULES), "stale LOADED_BY_PATH entry"
    assert PRUNING_DEFERRED <= set(MODULES) - seen, "stale PRUNING_DEFERRED entry"
    unreachable = sorted(set(MODULES) - seen - LOADED_BY_PATH - PRUNING_DEFERRED)
    assert not unreachable, (
        f"package modules that neither the engine, the registry, perfbench "
        f"nor the spark-submit scripts import: {unreachable}"
    )
