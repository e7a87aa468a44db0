"""Every ``tidb_cdc_spark`` import in the repository resolves.

The default test tier never runs ``tools/``, and many modules import
lazily inside functions, so a module move or rename can leave a stale
import that only fails when that code path runs. This test walks the
AST of every Python file under ``tidb_cdc_spark/``, ``tests/``,
``tools/`` and ``perfbench/`` plus ``bench.py`` and
``__spark_entry__.py``, and checks each ``tidb_cdc_spark`` import —
module-level and function-local alike — against the package: the
module must import and every imported name must exist in it.
"""

from __future__ import annotations

import ast
import importlib
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = ("tidb_cdc_spark", "tests", "tools", "perfbench", "bench.py",
           "__spark_entry__.py")


def _files() -> list[str]:
    out = []
    for src in SOURCES:
        path = os.path.join(ROOT, src)
        if os.path.isfile(path):
            out.append(path)
        for d, _, names in os.walk(path):
            out += [os.path.join(d, n) for n in names if n.endswith(".py")]
    return sorted(out)


def _package_imports(path: str, local_only: bool = False):
    """(line, module, name or None) for each tidb_cdc_spark import;
    ``local_only`` leaves out the module-level ones."""
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    top = {id(node) for node in tree.body} if local_only else set()
    for node in ast.walk(tree):
        if id(node) in top:
            continue
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "tidb_cdc_spark":
                    yield node.lineno, alias.name, None
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:  # relative to the importing file's package
                base = rel[: len(rel) - node.level]
                mod = ".".join(base + ([mod] if mod else []))
            if mod.split(".")[0] == "tidb_cdc_spark":
                for alias in node.names:
                    yield node.lineno, mod, alias.name


def _unresolved(module: str, name: str | None) -> str | None:
    try:
        mod = importlib.import_module(module)
    except ImportError as e:
        return f"module: {e}"
    if name in (None, "*") or hasattr(mod, name):
        return None
    try:
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return f"no name {name!r}"
    return None


def test_every_package_import_resolves():
    files = _files()
    assert len(files) > 100
    bad = []
    for path in files:
        for line, module, name in _package_imports(path):
            err = _unresolved(module, name)
            if err:
                bad.append(f"{os.path.relpath(path, ROOT)}:{line} {module} {err}")
    assert not bad, "\n".join(bad)


def test_query_modules_import_at_module_level():
    """Each query family module keeps its package imports in one
    block at the top: no module outside ``queries/`` imports the
    registry, so a function-local import there guards no cycle and
    only hides a dependency."""
    qdir = os.path.join(ROOT, "tidb_cdc_spark", "queries")
    bad = []
    for name in sorted(os.listdir(qdir)):
        if not name.endswith(".py"):
            continue
        path = os.path.join(qdir, name)
        for line, _, _ in _package_imports(path, local_only=True):
            bad.append(f"tidb_cdc_spark/queries/{name}:{line}")
    assert not bad, "function-local package imports:\n" + "\n".join(bad)
