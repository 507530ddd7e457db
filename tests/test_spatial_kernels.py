"""The two geometry kernels of the spatial join, checked bit for bit:
the batched coverage clip (one Arrow batch per kernel pass) against the
per-polygon and scalar clips, the Column ray cast against the numpy
one on the inputs where a crossing rule can go wrong, and the per-row
edge bands that bound the ray cast's work."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from pyspark.sql import functions as F

import kml2geojson_spark as k2gs
from kml2geojson_spark.spatial import ops, pip_join, polygon_cover
from kml2geojson_spark.spatial.cells import cell_decode_np
from kml2geojson_spark.spatial.ops import (_arrow_rings, _clean_rings_col,
                                           _clip_area_rect, _cover_batch,
                                           _cover_one, _edges_col,
                                           _raycast_col, _raycast_np,
                                           _rings_to_np)

from .test_spatial import _pip_oracle

RINGS_TYPE = pa.list_(pa.list_(pa.list_(pa.float64())))
POLY_SCHEMA = "poly_id long, rings array<array<array<double>>>"


def _bits(a) -> np.ndarray:
    return np.asarray(a, dtype=np.float64).view(np.int64)


def _star(rng, cx, cy, r, m):
    ang = np.sort(rng.uniform(0, 2 * np.pi, m))
    rad = r * rng.uniform(0.3, 1.0, m)
    ring = [[float(cx + a * np.cos(t)), float(cy + a * np.sin(t))]
            for a, t in zip(rad, ang)]
    return ring + [ring[0]]


def _square(cx, cy, h):
    return [[cx - h, cy - h], [cx + h, cy - h], [cx + h, cy + h],
            [cx - h, cy + h], [cx - h, cy - h]]


def _cover_corpus():
    """Polygons of many bbox sizes and vertex counts, with 1 and 2
    holes, polygons touching the grid's ±180/±90 edges, malformed rings
    that must be dropped, and rows with nothing left."""
    rng = np.random.default_rng(11)
    polys = []
    for i in range(120):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-80, 80)
        r = float(rng.choice([0.3, 2.0, 9.0]))
        rings = [_star(rng, cx, cy, r, int(rng.integers(3, 60)))]
        if i % 5 == 0:
            rings.append(_square(cx, cy, r / 8))
        if i % 10 == 0:
            rings.append(_square(cx + r / 5, cy, r / 20))
        polys.append(rings)
    polys += [
        [[[179.0, 89.0], [180.0, 89.0], [180.0, 90.0], [179.0, 90.0]]],
        [[[-180.0, -90.0], [-176.0, -90.0], [-180.0, -84.0]]],
        [[[-180.0, -10.0], [180.0, -10.0], [180.0, 10.0], [-180.0, 10.0]]],
        # short first ring, a 1-coordinate and a null vertex: dropped
        [[[0.0, 0.0], [1.0, 1.0]],
         _square(40.0, 20.0, 3.0)[:2] + [[1.0]] + _square(40.0, 20.0, 3.0)[2:],
         _square(40.0, 20.0, 1.0)[:3] + [None] + _square(40.0, 20.0, 1.0)[3:]],
        [[[5.0, 5.0], [6.0, 6.0]]],   # no ring survives
        None,
        [],
    ]
    return polys


@pytest.mark.parametrize("res,min_fraction", [(5, 0.0), (8, 0.0), (8, 0.25)])
def test_cover_batch_bitexact_vs_per_polygon_and_scalar(monkeypatch, res,
                                                        min_fraction):
    polys = _cover_corpus()
    runs = []
    real_runs = ops._runs

    def counting_runs(*args):
        out = list(real_runs(*args))
        runs.append(len(out))
        return iter(out)

    monkeypatch.setattr(ops, "_runs", counting_runs)
    rows, cells, fracs = _cover_batch(
        *_arrow_rings(pa.array(polys, RINGS_TYPE)), res, min_fraction)
    if res == 8:
        # the batch is big enough to be cut at _COVER_BATCH_CHUNK_CELLS_X_VERTS
        assert max(runs) > 1, runs

    exp_rows, exp_cells, exp_fracs = [], [], []
    for row, rings in enumerate(polys):
        rs = _rings_to_np(rings or [])
        if rs:
            c, f = _cover_one(rs, res, min_fraction)
            exp_rows.append(np.full(len(c), row))
            exp_cells.append(c)
            exp_fracs.append(f)
    assert np.array_equal(rows, np.concatenate(exp_rows))
    assert np.array_equal(cells, np.concatenate(exp_cells))
    assert np.array_equal(_bits(fracs), _bits(np.concatenate(exp_fracs)))
    if min_fraction > 0:
        assert (fracs > min_fraction).all()

    # scalar clip on a sample of every polygon's cells
    nn = float(1 << res)
    cell_w, cell_h = 360.0 / nn, 180.0 / nn
    rng = np.random.default_rng(res)
    for row in np.unique(rows):
        rs = _rings_to_np(polys[row])
        idx = np.nonzero(rows == row)[0]
        for i in rng.choice(idx, size=min(len(idx), 6), replace=False):
            ix, iy, _ = cell_decode_np(np.array([cells[i]]))
            w = int(ix[0]) * cell_w - 180.0
            s = int(iy[0]) * cell_h - 90.0
            area = _clip_area_rect(rs[0], w, s, w + cell_w, s + cell_h)
            for hole in rs[1:]:
                area = area - _clip_area_rect(hole, w, s, w + cell_w,
                                              s + cell_h)
            frac = area / (cell_w * cell_h)
            assert _bits([frac])[0] == _bits([fracs[i]])[0]


def test_polygon_cover_spark_matches_kernel(spark):
    """The mapInArrow operator, over several Arrow batches, gives the
    kernel's rows bit for bit."""
    polys = [p for p in _cover_corpus() if p is not None]
    df = spark.createDataFrame(list(enumerate(polys)), POLY_SCHEMA)
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = polygon_cover(df, 7).toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    rows, cells, fracs = _cover_batch(
        *_arrow_rings(pa.array(polys, RINGS_TYPE)), 7, 0.0)
    exp = pd.DataFrame({"poly_id": rows, "cell_id": cells, "fraction": fracs})
    key = ["poly_id", "cell_id"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert got[key].equals(exp[key])
    assert np.array_equal(_bits(got["fraction"]), _bits(exp["fraction"]))


# ---------------------------------------------------------------------------
# Ray cast edge cases
# ---------------------------------------------------------------------------

PIP_RES = 4   # cells of 22.5° × 11.25°

PIP_POLYS = [
    # horizontal edges and a duplicated closing vertex
    (0, [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0],
          [0.0, 0.0]]]),
    # 3-D vertices (altitude ignored), ring left open
    (1, [[[10.0, 0.0, 120.0], [14.0, 0.0, 5.0], [14.0, 4.0, 0.0],
          [10.0, 4.0, 7.5]]]),
    # outer ring with a hole
    (2, [_square(-5.0, 5.0, 3.0), _square(-5.0, 5.0, 1.0)]),
    # staircase: horizontal edges at the height of other vertices
    (3, [[[20.0, 0.0], [24.0, 0.0], [24.0, 2.0], [22.0, 2.0], [22.0, 4.0],
          [20.0, 4.0], [20.0, 0.0]]]),
    # bbox exactly on cell boundaries
    (4, [[[-22.5, 0.0], [22.5, 0.0], [22.5, 11.25], [-22.5, 11.25]]]),
    # malformed first ring dropped; a triangle remains
    (5, [[[0.0, 0.0], [1.0]], [[30.0, 6.0], [33.0, 6.0], [30.0, 9.0],
                                [30.0, 6.0]]]),
]


# non-finite vertices: numpy's IEEE ``<`` never crosses at a NaN
# abscissa, and an edge running out to +inf crosses every point left of it
NONFINITE_POLYS = [
    (6, [[[0.0, 0.0], [4.0, 0.0], [float("inf"), 2.0], [4.0, 4.0],
          [0.0, 4.0]]]),
    (7, [[[10.0, 0.0], [14.0, 0.0], [float("nan"), 2.0], [14.0, 4.0],
          [10.0, 4.0]]]),
    (8, [[[20.0, 0.0], [24.0, float("-inf")], [24.0, 4.0],
          [20.0, 4.0]]]),
]


def _pip_points() -> pd.DataFrame:
    xs = np.arange(-25.0, 35.5, 0.5)
    ys = np.concatenate([np.arange(-2.0, 13.5, 0.5), [11.25]])
    gx, gy = np.meshgrid(xs, ys)
    x, y = gx.ravel(), gy.ravel()
    return pd.DataFrame({"point_id": np.arange(len(x), dtype=np.int64),
                         "x": x, "y": y})


@pytest.fixture
def ansi(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", prev)


def test_raycast_col_equals_numpy_on_edge_cases(ansi):
    """Every (point, polygon) verdict of the Column ray cast, as a
    higher-order aggregate and as an exploded crossing count, equals
    _raycast_np's, over all pairs (no cell pruning), under ANSI mode:
    points on vertices, on horizontal and vertical edges, on cell and
    bbox boundaries, inside holes, and against non-finite vertices."""
    spark = ansi
    pts = _pip_points()
    polys = PIP_POLYS + NONFINITE_POLYS
    edges = (spark.createDataFrame(polys, POLY_SCHEMA)
             .select("poly_id", _edges_col(_clean_rings_col(F.col("rings")))
                     .alias("edges")))
    got = {(r["point_id"], r["poly_id"]): r["inside"] for r in
           spark.createDataFrame(pts).crossJoin(edges)
           .select("point_id", "poly_id",
                   _raycast_col(F.col("x"), F.col("y"), F.col("edges"))
                   .alias("inside")).collect()}
    exp = {}
    for pid, rings in polys:
        inside = _raycast_np(pts["x"].to_numpy(), pts["y"].to_numpy(),
                             _rings_to_np(rings))
        exp.update({(int(p), pid): bool(v)
                    for p, v in zip(pts["point_id"], inside)})
    assert got == exp
    assert sum(exp.values()) > 100
    # the same rule outside a higher-order function, as pip_join's batch
    # shapes run it: edges exploded into rows, crossings counted
    rows = (spark.createDataFrame(pts).crossJoin(edges)
            .select("point_id", "poly_id", "x", "y",
                    F.explode("edges").alias("e"))
            .where(ops._crossing(F.col("x"), F.col("y"), F.col("e")))
            .groupBy("point_id", "poly_id").count().collect())
    assert {(r["point_id"], r["poly_id"]) for r in rows
            if r["count"] % 2} == {k for k, v in exp.items() if v}


def test_pip_join_shapes_and_stream_agree_on_edge_cases(ansi, tmp_path):
    """pip_join's driver, cogroup and salted shapes, and the streaming
    stream_pip_counts, all give _pip_oracle's pairs under ANSI mode."""
    from kml2geojson_spark.streaming import stream_documents, stream_pip_counts
    spark = ansi
    pts = _pip_points()
    exp = _pip_oracle(pts, PIP_POLYS)
    points = spark.createDataFrame(pts)
    polys = spark.createDataFrame(PIP_POLYS, POLY_SCHEMA)
    for shape, salt in (("driver", None), ("cogroup", None), ("cogroup", 3),
                        ("driver", 3)):
        got = {(r["point_id"], r["poly_id"]) for r in
               pip_join(points, polys, PIP_RES, rings_distribution=shape,
                        salt=salt).collect()}
        assert got == exp, (shape, salt)

    placemarks = "".join(
        f"<Placemark><Point><coordinates>{x!r},{y!r}</coordinates></Point>"
        f"</Placemark>" for x, y in zip(pts["x"], pts["y"]))
    kml = ('<?xml version="1.0" encoding="UTF-8"?>'
           '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
           f"{placemarks}</Document></kml>")
    src = str(tmp_path / "pip_edge_docs")
    spark.createDataFrame([("edge", k2gs.pack_spans(kml))],
                          k2gs.spans_schema()).write.parquet(src)
    q = (stream_pip_counts(stream_documents(spark, src), polys, PIP_RES)
         .writeStream.format("memory").queryName("pip_edge_mem")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["poly_id"]: r["n_points"]
           for r in spark.sql("SELECT * FROM pip_edge_mem").collect()}
    counts = pd.Series([pid for _, pid in exp]).value_counts()
    assert got == {int(k): int(v) for k, v in counts.items()}


# ---------------------------------------------------------------------------
# Per-row edge bands
# ---------------------------------------------------------------------------

BAND_RES = 8   # rows of 0.703125°


def _band_polys():
    """Many-vertex polygons spanning many grid rows at BAND_RES, one with
    two holes, and one whose vertices lie exactly on row boundaries."""
    rng = np.random.default_rng(5)
    ch = 180.0 / (1 << BAND_RES)
    polys = [(i, [_star(rng, float(rng.uniform(-50, 50)),
                        float(rng.uniform(-30, 30)), 4.0, 300)])
             for i in range(4)]
    polys.append((4, [_star(rng, 10.0, 10.0, 5.0, 500),
                      _square(10.0, 10.0, 1.0), _square(11.5, 8.5, 0.5)]))
    ys = [float(y) for y in np.arange(120, 136) * ch - 90.0]
    zigzag = [[-20.0 + 0.3 * (k % 2), y] for k, y in enumerate(ys[::-1])]
    polys.append((5, [[[-15.0, ys[0]], [-15.0, ys[-1]]] + zigzag]))
    return polys


def _band_points(polys) -> pd.DataFrame:
    """Random points over the polygons' bboxes, points exactly on row
    boundaries and points at every vertex height."""
    rng = np.random.default_rng(6)
    ch = 180.0 / (1 << BAND_RES)
    xs, ys = [], []
    for _, rings in polys:
        ring = np.asarray(rings[0])
        (x0, y0), (x1, y1) = ring.min(axis=0), ring.max(axis=0)
        xs.append(rng.uniform(x0, x1, 300))
        ys.append(rng.uniform(y0, y1, 300))
        rows = np.arange(np.floor((y0 + 90.0) / ch), np.ceil((y1 + 90.0) / ch))
        xs.append(rng.uniform(x0, x1, len(rows)))
        ys.append(rows * ch - 90.0)
        vy = np.concatenate([np.asarray(r)[:, 1] for r in rings])[::7]
        xs.append(rng.uniform(x0, x1, len(vy)))
        ys.append(vy)
    x, y = np.concatenate(xs), np.concatenate(ys)
    return pd.DataFrame({"point_id": np.arange(len(x), dtype=np.int64),
                         "x": x, "y": y})


def test_pip_bands_keep_exactly_each_rows_edges(spark):
    """_pip_bands gives every bbox row of a polygon exactly the edges
    whose grid-row span contains it, in any order (the rows' edge sets
    computed here in numpy with encode_points' row expression), and at a
    resolution where many-vertex polygons span many rows that is a
    small share of edges × rows."""
    polys = _band_polys()
    got = {(r["poly_id"], r["_iy"]): (r["_x0"], r["_x1"],
                                      sorted(tuple(e) for e in r["edges"]))
           for r in ops._pip_bands(spark.createDataFrame(polys, POLY_SCHEMA),
                                   BAND_RES).collect()}
    n = float(1 << BAND_RES)
    hi = (1 << BAND_RES) - 1

    def row(y):
        return np.clip(np.floor((y + 90.0) / 180.0 * n), 0, hi).astype(int)

    exp, full = {}, 0
    for pid, rings in polys:
        rs = _rings_to_np(rings)
        e = np.concatenate([np.hstack([r, np.roll(r, -1, axis=0)])
                            for r in rs])
        lo_r = row(np.minimum(e[:, 1], e[:, 3]))
        hi_r = row(np.maximum(e[:, 1], e[:, 3]))
        x0 = int(np.clip(np.floor((rs[0][:, 0].min() + 180.0) / 360.0 * n),
                         0, hi))
        x1 = int(np.clip(np.ceil((rs[0][:, 0].max() + 180.0) / 360.0 * n)
                         - 1, 0, hi))
        y0 = int(row(rs[0][:, 1].min()))
        y1 = int(np.clip(np.ceil((rs[0][:, 1].max() + 90.0) / 180.0 * n)
                         - 1, 0, hi))
        full += len(e) * (y1 - y0 + 1)
        for iy in range(y0, y1 + 1):
            sel = (lo_r <= iy) & (iy <= hi_r)
            if sel.any():
                exp[(pid, iy)] = (x0, x1,
                                  sorted(tuple(v) for v in e[sel].tolist()))
    assert got == exp
    assert sum(len(v[2]) for v in got.values()) < full / 4


def test_pip_join_many_vertex_polygons_across_rows(ansi):
    """Polygons of 300-500 vertices spanning many rows, with holes and
    with vertices and points exactly on row boundaries: every pip shape
    gives _pip_oracle's pairs."""
    spark = ansi
    polys = _band_polys()
    pts = _band_points(polys)
    exp = _pip_oracle(pts, polys)
    assert len(exp) > 500
    points = spark.createDataFrame(pts)
    poly_df = spark.createDataFrame(polys, POLY_SCHEMA)
    for shape, salt in (("driver", None), ("cogroup", None), ("driver", 3),
                        ("cogroup", 3)):
        got = {(r["point_id"], r["poly_id"]) for r in
               pip_join(points, poly_df, BAND_RES, rings_distribution=shape,
                        salt=salt).collect()}
        assert got == exp, (shape, salt)


def test_pip_join_keeps_duplicate_points(spark):
    """A point listed twice (same id, same coordinates) gives its pairs
    twice in every shape: the crossing count is per input row, so the
    copies' crossings never add up to an even count."""
    from collections import Counter
    pts = _pip_points()
    exp = Counter({pair: 2 for pair in _pip_oracle(pts, PIP_POLYS)})
    points = spark.createDataFrame(pd.concat([pts, pts]))
    polys = spark.createDataFrame(PIP_POLYS, POLY_SCHEMA)
    for shape in ("driver", "cogroup"):
        got = Counter((r["point_id"], r["poly_id"]) for r in
                      pip_join(points, polys, PIP_RES,
                               rings_distribution=shape).collect())
        assert got == exp, shape
