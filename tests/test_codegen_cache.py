"""Warm spatial jobs compile no generated code.

Spark caches the classes Janino compiles for generated code, keyed by
(classloader, source), in 100 entries split into 4 LRU segments of 25.
In local mode each whole-stage codegen stage is compiled twice, once by
the driver and once under the executor's classloader. A job whose
operations generate more classes than the segments hold recompiles
them on every run, in the executor's task threads, and then runs the
fresh classes interpreted. These tests run perfbench's four spatial
operations (pip_join, knn_join, coverage_fractions, hot_keys +
salted_join) on small perfbench-shaped inputs, twice and more in one
session, and check that a repeated plan compiles nothing; they also cap
the number of code-generating operators in each operation's plan.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

import kml2geojson_spark as k2gs
from kml2geojson_spark import datagen, engine
from kml2geojson_spark.spatial import ops, salted

RES = 8
N_DOCS = 60

# whole-stage subtrees plus code-generating operators outside them, per
# operation; with PIP's per-row edge arrays and hot_keys' collect_list
# the plans held pip 11, knn 9, coverage 7, hot_keys 6
CODEGEN_OPS = {"pip": 8, "knn": 9, "coverage": 7, "hot_keys": 5, "salted": 4}
# classes the first run compiles (fewer when earlier tests compiled some
# of them); those plans compiled 74 here, and 77 in a perfbench job
COLD_CLASSES = 58


@pytest.fixture(scope="module")
def inputs(spark):
    """perfbench's spatial_join tables at a small scale: points and
    polygons selected from one cached table of extract_features output,
    queries near the points and a cell dimension, both driver-side
    tables."""
    docs = [(f"doc-{i:08d}", datagen.synthesize_kml(i, 11)) for i in range(N_DOCS)]
    spans = spark.createDataFrame([(d, k2gs.pack_spans(k)) for d, k in docs],
                                  k2gs.spans_schema())
    feats = engine.extract_features(spans)
    gid = (F.substring("doc_id", 5, 8).cast("long") * 4096
           + F.col("feature_idx") * 8 + F.col("geom_idx"))
    geoms = (feats.where(F.col("geom_type").isin("Point", "Polygon"))
             .select(gid.alias("id"), "geom_type", "parts").persist())
    geoms.count()
    points = (geoms.where(F.col("geom_type") == "Point")
              .select(F.col("id").alias("point_id"),
                      F.col("parts")[0][0][0].alias("x"),
                      F.col("parts")[0][0][1].alias("y")))
    polygons = (geoms.where(F.col("geom_type") == "Polygon")
                .select(F.col("id").alias("poly_id"), F.col("parts").alias("rings")))
    pts = points.toPandas()
    rng = np.random.default_rng(3)
    q = rng.choice(len(pts), 40, replace=False)
    queries = spark.createDataFrame(pd.DataFrame({
        "query_id": np.arange(len(q), dtype=np.int64),
        "x": pts["x"].to_numpy()[q] + rng.uniform(-0.01, 0.01, len(q)),
        "y": pts["y"].to_numpy()[q] + rng.uniform(-0.01, 0.01, len(q))}))
    cells = np.unique(ops.encode_points(points, RES).select("cell_id")
                      .toPandas()["cell_id"])
    dim_cells = cells[rng.random(len(cells)) < 0.7]
    dim = spark.createDataFrame(pd.DataFrame({"cell_id": dim_cells,
                                              "zone": dim_cells % 97}))
    yield points, polygons, queries, dim
    geoms.unpersist()


def _compilations(spark) -> int:
    """Janino compilations so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _codegen_operators(node, in_stage: bool = False) -> int:
    """Whole-stage codegen subtrees plus the operators outside them that
    hold expressions, in an executed (final adaptive) plan."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _codegen_operators(node.executedPlan())
    if name.endswith("QueryStageExec"):
        return _codegen_operators(node.plan())
    n = 0
    if name == "WholeStageCodegenExec":
        n, in_stage = 1, True
    elif name == "InputAdapter":
        in_stage = False
    elif not in_stage and node.expressions().nonEmpty():
        n = 1
    kids = node.children()
    return n + sum(_codegen_operators(kids.apply(i), in_stage)
                   for i in range(kids.size()))


def _signature(plan: str) -> str:
    """An executed plan's text without expression, exchange and lambda
    variable ids: equal signatures generate the same sources."""
    return re.sub(r"#\d+L?|plan_id=\d+|(?<=lambda [a-z]_)\d+", "", plan)


@contextmanager
def _executed_plans(monkeypatch):
    """Record the executed plan of every collect/toArrow in the block."""
    from pyspark.sql.classic.dataframe import DataFrame
    plans = []
    for method in ("collect", "toArrow"):
        original = getattr(DataFrame, method)

        def wrapper(self, *a, _original=original, **kw):
            out = _original(self, *a, **kw)
            plans.append(self._jdf.queryExecution().executedPlan())
            return out

        monkeypatch.setattr(DataFrame, method, wrapper)
    yield plans
    monkeypatch.undo()


def _run(spark, inputs, monkeypatch) -> dict:
    """perfbench's spatial_join job, operation by operation → {operation:
    (compilations, executed plans, result)}."""
    points, polygons, queries, dim = inputs
    probe = ops.encode_points(points, RES)
    jobs = {
        "pip": lambda: ops.pip_join(points, polygons, RES,
                                    rings_distribution="cogroup").toArrow().num_rows,
        "knn": lambda: ops.knn_join(points, queries, 5, RES, 2).toArrow().num_rows,
        "coverage": lambda: ops.coverage_fractions(polygons, RES).agg(
            F.sum("total_frac_pico").alias("p")).collect()[0]["p"],
        "hot_keys": lambda: salted.hot_keys(probe, "cell_id"),
    }
    out = {}
    for name, job in jobs.items():
        with _executed_plans(monkeypatch) as plans:
            before = _compilations(spark)
            result = job()
            out[name] = (_compilations(spark) - before, plans, result)
    with _executed_plans(monkeypatch) as plans:
        before = _compilations(spark)
        r = salted.salted_join(probe, dim, "cell_id", n_salt=8, hot=out["hot_keys"][2]) \
            .agg(F.count(F.lit(1)).alias("n"), F.sum("zone").alias("z")).collect()[0]
        out["salted"] = (_compilations(spark) - before, plans, (r["n"], r["z"]))
    return out


def test_warm_spatial_operations_compile_nothing(spark, inputs, monkeypatch):
    """Run the operations three times. Adaptive execution numbers
    whole-stage codegen stages in the order it creates query stages,
    and pip_join's two stages over the cached table race for that order,
    so a run can generate one of two sources for them. Every run of an
    operation whose plan an earlier run already executed must compile
    nothing; with at most two orders, the third run repeats one. The
    first run compiles few enough classes to fit the cache's segments
    with room to spare."""
    runs = [_run(spark, inputs, monkeypatch) for _ in range(3)]
    cold = {name: compiles for name, (compiles, _, _) in runs[0].items()}
    assert sum(cold.values()) <= COLD_CLASSES, cold
    for name in runs[0]:
        assert all(r[name][2] == runs[0][name][2] for r in runs), name
        seen, repeats = set(), 0
        for i, run in enumerate(runs):
            compiles, plans, _ = run[name]
            sig = tuple(_signature(p.toString()) for p in plans)
            if sig in seen:
                repeats += 1
                assert compiles == 0, (name, i, compiles)
            seen.add(sig)
        assert repeats, name


def test_spatial_operations_hold_few_codegen_operators(spark, inputs, monkeypatch):
    """Each generated class is a cache entry (two per whole-stage
    subtree), so the plans' code-generating operators are capped: the
    PIP ray cast runs in one stage after a per-polygon exchange with no
    edge-array aggregation, and hot_keys is one rollup and a top-N."""
    run = _run(spark, inputs, monkeypatch)
    for name, cap in CODEGEN_OPS.items():
        _, plans, _ = run[name]
        assert plans, name
        n = sum(_codegen_operators(p) for p in plans)
        assert n <= cap, (name, n, [p.toString() for p in plans])
