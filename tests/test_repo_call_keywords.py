"""Every keyword a repo file passes to a package function is a parameter
of that function.

Deleting a parameter leaves any call that still passes it failing only
when that call runs, and no test runs the scripts under ``tools/`` or
``perfbench/``. This walks the syntax tree of every ``.py`` file in the
repo, resolves each call whose callee is a ``kml2geojson_spark``
function or class, reached through a ``from M import f`` name (relative
imports included) or a ``module.attr`` chain of an imported package
module, and checks each ``name=`` keyword against
``inspect.signature(callee)``. Callees that take ``**kwargs`` are
skipped. No Spark session is started.

Names bound by imports are collected per file, not per scope, so a call
through a name that one function imports and another rebinds resolves
to the import.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import pathlib

from tests.test_repo_imports import ROOT, _absolute, _repo_files

PACKAGE = "kml2geojson_spark"


def _bindings(path: pathlib.Path, tree: ast.Module) -> dict[str, tuple]:
    """Local name → ("obj", module, attr) for a ``from`` import of a
    package name, or ("mod", module) for an imported package module."""
    out: dict[str, tuple] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            module = _absolute(path, node) if node.level else node.module
            if module is None or module.split(".")[0] != PACKAGE:
                continue
            for a in node.names:
                if a.name != "*":
                    out[a.asname or a.name] = ("obj", module, a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != PACKAGE:
                    continue
                if a.asname:
                    out[a.asname] = ("mod", a.name)
                else:
                    out[PACKAGE] = ("mod", PACKAGE)
    return out


def _attr(module, name: str):
    """``module.name``, importing a submodule its package does not
    import."""
    if hasattr(module, name):
        return getattr(module, name)
    try:
        return importlib.import_module(f"{module.__name__}.{name}")
    except ImportError:
        return None


def _callee(func: ast.expr, bindings: dict[str, tuple]):
    """The package object a call's ``func`` names, or None."""
    chain = []
    while isinstance(func, ast.Attribute):
        chain.append(func.attr)
        func = func.value
    if not isinstance(func, ast.Name) or func.id not in bindings:
        return None
    binding = bindings[func.id]
    obj = importlib.import_module(binding[1])
    if binding[0] == "obj":
        obj = _attr(obj, binding[2])
    for attr in reversed(chain):
        if not inspect.ismodule(obj):
            return None  # a method of a returned value, not a package name
        obj = _attr(obj, attr)
    if not callable(obj) or inspect.ismodule(obj):
        return None
    if not getattr(obj, "__module__", "").startswith(PACKAGE):
        return None
    return obj


def stale_keywords(path: pathlib.Path,
                   source: str | None = None) -> tuple[int, list[str]]:
    """(number of package calls checked, each keyword a callee does not
    take, as ``"relpath:line: f() takes no 'kw'"``)."""
    source = path.read_text() if source is None else source
    tree = ast.parse(source, str(path))
    bindings = _bindings(path, tree)
    where = path.relative_to(ROOT)
    checked, out = 0, []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        obj = _callee(node.func, bindings)
        if obj is None:
            continue
        try:
            params = inspect.signature(obj).parameters
        except (TypeError, ValueError):
            continue
        checked += 1
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            continue
        named = {n for n, p in params.items()
                 if p.kind is not p.POSITIONAL_ONLY}
        out += [f"{where}:{node.lineno}: {obj.__qualname__}() takes no "
                f"{kw.arg!r}" for kw in node.keywords
                if kw.arg is not None and kw.arg not in named]
    return checked, out


def test_every_package_call_keyword_is_a_parameter():
    checked_in, failures = set(), []
    for path in _repo_files():
        n, bad = stale_keywords(path)
        failures += bad
        if n:
            checked_in.add(path.relative_to(ROOT).parts[0])
    assert failures == []
    # a walk that resolved no callee would pass with nothing checked
    assert {PACKAGE, "tools", "perfbench", "tests",
            "__spark_entry__.py"} <= checked_in


def test_stale_keywords_are_reported():
    """Positive control: a stale keyword through a ``from`` import, a
    relative import and a module attribute chain is reported; a valid
    keyword, a ``**kwargs`` callee, a ``**`` splat and a method of a
    returned value are not."""
    probe = ROOT / PACKAGE / "spatial" / "_probe.py"
    n, got = stale_keywords(probe, (
        "import kml2geojson_spark as k2gs\n"
        "from kml2geojson_spark.spatial.ops import polygon_cover\n"
        "from .salted import salted_join\n"
        "from .. import graph\n"
        "from .ops import geofence_dwell\n"
        "polygon_cover(df, 8, strategy='hier')\n"
        "polygon_cover(df, 8, min_fraction=0.5, **extra)\n"
        "salted_join(p, b, 'k', probe_hash_cols=['x'])\n"
        "graph.connected_components_star(e, max_iters=5)\n"
        "k2gs.spatial.ops.grid_cluster(pts, 7, components='label')\n"
        "polygon_cover(df, 8).where(strategy='x')\n"
        "geofence_dwell(fixes, polys, 6, any_pip_option=1)\n"))
    assert n == 7
    assert got == [
        f"{PACKAGE}/spatial/_probe.py:6: polygon_cover() takes no 'strategy'",
        f"{PACKAGE}/spatial/_probe.py:8: salted_join() takes no "
        "'probe_hash_cols'",
        f"{PACKAGE}/spatial/_probe.py:10: grid_cluster() takes no "
        "'components'",
    ]
