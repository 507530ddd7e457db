"""The system imports no catalog or toolkit module.

The system is the KML→GeoJSON converter and the spatial core it tiles
and joins with; the rest of the package (the operator catalog and the
spatial toolkit in ``spatial/ops.py``) is reached only from tests and
``__spark_entry__.py`` queries. This walks the syntax tree of every
system module, function-level imports included, and fails when one
imports a package module outside the system. Nothing is imported, so
no Spark session is started.
"""

from __future__ import annotations

import ast
import pathlib

from tests.test_repo_imports import ROOT, _absolute

PACKAGE = "kml2geojson_spark"

SYSTEM = {
    PACKAGE,
    f"{PACKAGE}.constants",
    f"{PACKAGE}.kmlparse",
    f"{PACKAGE}.kmlparse_fast",
    f"{PACKAGE}.kmlparse_stream",
    f"{PACKAGE}.convert_core",
    f"{PACKAGE}.engine",
    f"{PACKAGE}.worker_imports",
    f"{PACKAGE}.datagen",
    f"{PACKAGE}.compat",
    f"{PACKAGE}.lineage",
    f"{PACKAGE}.sinks",
    f"{PACKAGE}.sources",
    f"{PACKAGE}.spatial",
    f"{PACKAGE}.spatial.cells",
    f"{PACKAGE}.spatial.core",
    f"{PACKAGE}.spatial.salted",
}


def _path(module: str) -> pathlib.Path | None:
    """The file of a package module, or None if there is none."""
    base = ROOT.joinpath(*module.split("."))
    for p in (base / "__init__.py", base.with_suffix(".py")):
        if p.is_file():
            return p
    return None


def _imported(path: pathlib.Path, source: str):
    """(line, module) for every package module the source imports; a
    ``from M import name`` counts ``M.name`` when that is a module."""
    for node in ast.walk(ast.parse(source, str(path))):
        if isinstance(node, ast.ImportFrom):
            module = _absolute(path, node) if node.level else node.module
            if module is None or module.split(".")[0] != PACKAGE:
                continue
            yield node.lineno, module
            for a in node.names:
                if _path(f"{module}.{a.name}") is not None:
                    yield node.lineno, f"{module}.{a.name}"
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PACKAGE:
                    yield node.lineno, a.name


def violations(path: pathlib.Path, source: str | None = None) -> list[str]:
    """Each import of a non-system package module in the file at
    ``path``, as ``"relpath:line: imports module"``."""
    source = path.read_text() if source is None else source
    where = path.relative_to(ROOT)
    return [f"{where}:{line}: imports {module}"
            for line, module in _imported(path, source)
            if module not in SYSTEM]


def test_system_imports_no_catalog_or_toolkit_module():
    paths = {m: _path(m) for m in sorted(SYSTEM)}
    # a renamed or deleted system module would otherwise go unchecked
    assert [m for m, p in paths.items() if p is None] == []
    failures = [f for p in paths.values() for f in violations(p)]
    assert failures == []


def test_boundary_violations_are_reported():
    """Positive control: a catalog module imported by the package
    ``__init__`` and a catalog function imported inside a core function
    are each reported with their file and line; system, stdlib and
    third-party imports are not."""
    init = _path(PACKAGE)
    assert violations(init, (
        "import sys\n"
        "from .engine import extract_points\n"
        "from . import compat\n"
        "from . import bucketed\n")) == [
        f"{PACKAGE}/__init__.py:4: imports {PACKAGE}.bucketed"]
    core = _path(f"{PACKAGE}.spatial.core")
    assert violations(core, (
        "import numpy as np\n"
        "from .cells import MAX_RES\n"
        "def f():\n"
        "    from ..engine import extract_points\n"
        "    from ..graph import connected_components_star\n"
        "    from .ops import knn_exact\n")) == [
        f"{PACKAGE}/spatial/core.py:5: imports {PACKAGE}.graph",
        f"{PACKAGE}/spatial/core.py:6: imports {PACKAGE}.spatial.ops"]
