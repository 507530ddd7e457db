"""Consistency of the ``__spark_entry__`` query registry, read from the
module's syntax tree (no Spark, no import of the package).

Deleting a query means deleting its ``_qNN`` builder, its oracle and
both registry lines. These checks catch a half-done deletion: an
oracle left without its query, a query that lost its oracle, or a
helper that only a deleted query used.
"""

from __future__ import annotations

import ast
import pathlib

ENTRY = pathlib.Path(__file__).resolve().parents[1] / "__spark_entry__.py"

# Queries checked by pytest instead of a DuckDB oracle: q42's KML
# engine has no single-statement SQL equivalent, and q44's IVF
# candidate set is approximate by design.
ROWS_ONLY = {"q42_convert_kml", "q44_ivf_topk"}


def _tree() -> ast.Module:
    return ast.parse(ENTRY.read_text())


def _top_level(tree: ast.Module) -> dict[str, ast.stmt]:
    out: dict[str, ast.stmt] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            out[node.name] = node
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    out[t.id] = node
    return out


def _registry(tree: ast.Module, fn: str) -> ast.Dict:
    (ret,) = [n for n in ast.walk(_top_level(tree)[fn])
              if isinstance(n, ast.Return)]
    assert isinstance(ret.value, ast.Dict), fn
    return ret.value


def _keys(d: ast.Dict) -> list[str]:
    return [k.value for k in d.keys]


def test_every_oracle_has_a_query():
    tree = _tree()
    queries = _keys(_registry(tree, "queries"))
    oracles = _keys(_registry(tree, "oracle_sql"))
    assert len(set(queries)) == len(queries)
    assert len(set(oracles)) == len(oracles)
    assert set(oracles) - set(queries) == set()


def test_only_the_rows_only_queries_lack_an_oracle():
    tree = _tree()
    queries = set(_keys(_registry(tree, "queries")))
    oracles = set(_keys(_registry(tree, "oracle_sql")))
    assert queries - oracles == ROWS_ONLY


def test_every_private_name_is_used_and_every_used_name_defined():
    tree = _tree()
    top = _top_level(tree)
    loaded = {n.id for n in ast.walk(tree)
              if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
    unused = sorted(name for name in top
                    if name.startswith("_") and name not in loaded)
    assert unused == []
    for fn in ("queries", "oracle_sql"):
        names = {n.id for n in ast.walk(_registry(tree, fn))
                 if isinstance(n, ast.Name)}
        assert names - set(top) == set(), fn
