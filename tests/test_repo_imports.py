"""Every import of a repo-local module names something that exists.

No test imports the scripts under ``tools/`` or ``perfbench/``, so an
import of a deleted module or of a renamed helper there only fails when
someone runs the script. This walks the syntax tree of every ``.py``
file in the repo (package, ``tools/``, ``perfbench/``, ``tests/`` and
the root scripts), imports each repo-local module that a ``from M
import a, b`` or ``import M`` names, relative imports included, and
checks that ``a`` and ``b`` exist in it. No Spark session is started.

Absolute names resolve as the scripts see them: the importing file's
own directory, the repo root, then ``perfbench/`` and ``tools/`` (the
directories those scripts put on ``sys.path``). A name found in none of
them and not installed is reported too, except the reference
``kml2geojson`` checkout, which is optional on a host.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
SEARCH = [ROOT, ROOT / "perfbench", ROOT / "tools"]
OPTIONAL = {"kml2geojson"}  # the reference implementation


def _repo_files() -> list[pathlib.Path]:
    return sorted(p for p in ROOT.rglob("*.py")
                  if not any(part.startswith(".")
                             for part in p.relative_to(ROOT).parts))


def _is_local(top: str, here: pathlib.Path) -> bool:
    return any((d / f"{top}.py").is_file() or (d / top).is_dir()
               for d in [here, *SEARCH])


def _absolute(path: pathlib.Path, node: ast.ImportFrom) -> str:
    """Dotted module name of a relative import in the file at ``path``."""
    package = list(path.parent.relative_to(ROOT).parts)
    base = package[:len(package) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _imports(path: pathlib.Path, source: str):
    """(line, module, names) for every import statement in ``source``;
    ``names`` is empty for a plain ``import M``."""
    for node in ast.walk(ast.parse(source, str(path))):
        if isinstance(node, ast.ImportFrom):
            module = _absolute(path, node) if node.level else node.module
            yield node.lineno, module, [a.name for a in node.names
                                        if a.name != "*"]
        elif isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name, []


def _has(module, name: str) -> bool:
    if hasattr(module, name):
        return True
    if not hasattr(module, "__path__"):
        return False
    return importlib.util.find_spec(f"{module.__name__}.{name}") is not None


def unresolved(path: pathlib.Path, source: str | None = None) -> list[str]:
    """Each repo-local import in the file at ``path`` that fails, as
    ``"relpath:line: reason"``."""
    source = path.read_text() if source is None else source
    where = path.relative_to(ROOT)
    out = []
    for line, module, names in _imports(path, source):
        top = module.split(".")[0]
        if top in OPTIONAL:
            continue
        if not _is_local(top, path.parent):
            if importlib.util.find_spec(top) is None:
                out.append(f"{where}:{line}: no module {module!r}")
            continue
        saved = sys.path[:]
        sys.path[:0] = [str(path.parent), *map(str, SEARCH)]
        try:
            mod = importlib.import_module(module)
        except ImportError as exc:
            out.append(f"{where}:{line}: cannot import {module!r} ({exc})")
            continue
        finally:
            sys.path[:] = saved
        out += [f"{where}:{line}: {module!r} has no {name!r}"
                for name in names if not _has(mod, name)]
    return out


def test_every_local_import_resolves():
    failures = [f for path in _repo_files() for f in unresolved(path)]
    assert failures == []


def test_walk_covers_the_repo():
    """The walk reaches every part of the repo; a walk that found no
    files would pass the check above with nothing checked."""
    rel = {p.relative_to(ROOT).parts[0] for p in _repo_files()}
    assert {"kml2geojson_spark", "tools", "perfbench", "tests",
            "__spark_entry__.py"} <= rel


def test_stale_imports_are_reported():
    """Positive control: a deleted root module, a missing package name
    and a missing relative name are each reported once; an installed
    module and the optional reference are not."""
    probe = ROOT / "kml2geojson_spark" / "_probe.py"
    got = unresolved(probe, (
        "import json\n"
        "import kml2geojson\n"
        "from no_such_module_here import run_suite\n"
        "from kml2geojson_spark.engine import extract_points, nope\n"
        "def f():\n"
        "    from .engine import iter_docs_from_arrow, gone\n"
        "    from . import engine, no_such_submodule\n"))
    assert got == [
        "kml2geojson_spark/_probe.py:3: no module 'no_such_module_here'",
        "kml2geojson_spark/_probe.py:4: 'kml2geojson_spark.engine' has no 'nope'",
        "kml2geojson_spark/_probe.py:6: 'kml2geojson_spark.engine' has no 'gone'",
        "kml2geojson_spark/_probe.py:7: 'kml2geojson_spark' has no 'no_such_submodule'",
    ]
