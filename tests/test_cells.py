"""Cell-index invariants + cross-engine (numpy / Spark Column / DuckDB
SQL) bit-exactness of the Morton encoder."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from kml2geojson_spark.spatial.cells import (
    MAX_RES,
    cell_bounds_np,
    cell_decode_cols,
    cell_decode_np,
    cell_encode_col,
    cell_encode_grid_col,
    cell_encode_grid_np,
    cell_encode_np,
    cell_encode_sql,
    cell_kring_col,
    cell_kring_np,
    cell_parent_np,
)

RNG = np.random.default_rng(42)
LON = RNG.uniform(-180, 180, 500)
LAT = RNG.uniform(-90, 90, 500)


def test_encode_decode_roundtrip():
    for res in (0, 1, 5, 12, MAX_RES):
        cells = cell_encode_np(LON, LAT, res)
        ix, iy, r = cell_decode_np(cells)
        assert (r == res).all()
        assert (ix < (1 << res)).all() and (ix >= 0).all()
        # re-encode cell centers → same cell
        w, s, e, n = cell_bounds_np(cells)
        again = cell_encode_np((w + e) / 2, (s + n) / 2, res)
        assert (again == cells).all()


def test_bounds_contain_inputs():
    res = 10
    cells = cell_encode_np(LON, LAT, res)
    w, s, e, n = cell_bounds_np(cells)
    assert (LON >= w).all() and (LON <= e).all()
    assert (LAT >= s).all() and (LAT <= n).all()


def test_parent_hierarchy():
    res = 12
    cells = cell_encode_np(LON, LAT, res)
    parents = cell_parent_np(cells, 3)
    # parent is the direct encode at the coarser resolution
    direct = cell_encode_np(LON, LAT, res - 3)
    assert (parents == direct).all()
    pw, ps, pe, pn = cell_bounds_np(parents)
    w, s, e, n = cell_bounds_np(cells)
    assert (pw <= w).all() and (pe >= e).all()
    assert (ps <= s).all() and (pn >= n).all()


def test_edge_clipping():
    res = 8
    c = cell_encode_np(np.array([180.0, -180.0, 0.0]),
                       np.array([90.0, -90.0, 0.0]), res)
    ix, iy, _ = cell_decode_np(c)
    hi = (1 << res) - 1
    assert list(ix) == [hi, 0, 1 << (res - 1)]
    assert list(iy) == [hi, 0, 1 << (res - 1)]


def test_kring():
    res = 6
    center = int(cell_encode_np(np.array([10.0]), np.array([20.0]), res)[0])
    ring1 = cell_kring_np(center, 1)
    assert len(ring1) == 9 and center in ring1
    # pole clamp: a cell on the top row has a truncated ring
    top = int(cell_encode_np(np.array([0.0]), np.array([89.9]), res)[0])
    assert len(cell_kring_np(top, 1)) == 6
    # antimeridian wrap: full 9 cells even at lon edge
    edge = int(cell_encode_np(np.array([-179.99]), np.array([0.0]), res)[0])
    assert len(cell_kring_np(edge, 1)) == 9
    # all members share the resolution
    _, _, r = cell_decode_np(cell_kring_np(center, 2))
    assert (r == res).all()


@pytest.mark.parametrize("res", [0, 3, 11, MAX_RES])
def test_spark_column_encoder_matches_numpy(spark, res):
    pdf = pd.DataFrame({"x": LON, "y": LAT})
    df = spark.createDataFrame(pdf)
    got = np.array([
        r["cell_id"] for r in
        df.select(cell_encode_col(df["x"], df["y"], res).alias("cell_id"))
        .collect()
    ])
    # order back by input: collect preserves createDataFrame order locally,
    # but sort to be safe
    exp = cell_encode_np(LON, LAT, res)
    assert sorted(got.tolist()) == sorted(exp.tolist())


@pytest.mark.parametrize("res", [0, 3, 11, MAX_RES])
def test_duckdb_sql_encoder_matches_numpy(res):
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"x": LON, "y": LAT}))
    expr = cell_encode_sql("x", "y", res, dialect="duckdb")
    got = con.execute(f"SELECT {expr} AS cell_id FROM pts").fetchnumpy()["cell_id"]
    exp = cell_encode_np(LON, LAT, res)
    assert (np.asarray(got, dtype=np.int64) == exp).all()


def test_spark_sql_dialect_matches_numpy(spark):
    res = 9
    pdf = pd.DataFrame({"x": LON[:100], "y": LAT[:100]})
    df = spark.createDataFrame(pdf)
    df.createOrReplaceTempView("pts_sql_enc")
    expr = cell_encode_sql("x", "y", res, dialect="spark")
    got = np.array([r["cell_id"] for r in spark.sql(
        f"SELECT {expr} AS cell_id FROM pts_sql_enc").collect()])
    exp = cell_encode_np(LON[:100], LAT[:100], res)
    assert sorted(got.tolist()) == sorted(exp.tolist())


# ---------------------------------------------------------------------------
# Column forms: bit-exact with numpy at every resolution, ANSI on and off
# ---------------------------------------------------------------------------

ALL_RES = range(MAX_RES + 1)


def _edge_points():
    """(lon, lat) arrays: the poles and the antimeridian, every res's
    grid lines 0, 1, n/2, n-1 and n with their float neighbours, points
    far off the globe, and random points."""
    lon, lat = [], []
    for res in ALL_RES:
        n = 1 << res
        for k in sorted({0, 1, n // 2, n - 1, n}):
            for step in (-np.inf, None, np.inf):
                x = -180.0 + k * 360.0 / n
                y = -90.0 + k * 180.0 / n
                if step is not None:
                    x, y = np.nextafter(x, step), np.nextafter(y, step)
                lon.append(x)
                lat.append(y)
    for x in (-1000.0, -180.0, 0.0, 180.0, 1000.0):
        for y in (-1000.0, -90.0, 0.0, 90.0, 1000.0):
            lon.append(x)
            lat.append(y)
    rng = np.random.default_rng(26)
    lon += list(rng.uniform(-180, 180, 50))
    lat += list(rng.uniform(-90, 90, 50))
    return np.array(lon), np.array(lat)


def _points_df(spark, lon, lat):
    return spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))],
        "i long, x double, y double")


def test_cell_encode_col_bit_exact_every_res(ansi_spark):
    lon, lat = _edge_points()
    df = _points_df(ansi_spark, lon, lat)
    rows = df.select("i", *[cell_encode_col(F.col("x"), F.col("y"), r)
                            .alias(f"c{r}") for r in ALL_RES]) \
        .orderBy("i").collect()
    for r in ALL_RES:
        got = np.array([row[f"c{r}"] for row in rows], dtype=np.int64)
        assert (got == cell_encode_np(lon, lat, r)).all(), r


def test_grid_encode_and_decode_cols_bit_exact_every_res(ansi_spark):
    rng = np.random.default_rng(5)
    grid = []
    for r in ALL_RES:
        n = 1 << r
        edges = sorted({0, 1, n // 2, n - 1})
        grid += [(r, ix, iy) for ix in edges for iy in edges]
        grid += [(r, int(ix), int(iy)) for ix, iy in rng.integers(0, n, (8, 2))]
    res, ix, iy = (np.array(c, dtype=np.int64) for c in zip(*grid))
    df = ansi_spark.createDataFrame(grid, "r int, ix long, iy long")
    parts = [df.where(F.col("r") == r).select(
        "r", "ix", "iy", cell_encode_grid_col(F.col("ix"), F.col("iy"), r))
        for r in ALL_RES]
    cells = parts[0]
    for p in parts[1:]:
        cells = cells.unionAll(p)
    dx, dy, dres = cell_decode_cols(F.col("cell_id"))
    rows = cells.select("r", "ix", "iy", "cell_id", dx.alias("dx"),
                        dy.alias("dy"), dres.alias("dres")).collect()
    key = {(row.r, row.ix, row.iy): row for row in rows}
    assert len(key) == len(set(grid))
    for r in ALL_RES:
        sel = res == r
        exp = cell_encode_grid_np(ix[sel], iy[sel], r)
        got = np.array([key[(r, a, b)].cell_id
                        for a, b in zip(ix[sel], iy[sel])], dtype=np.int64)
        assert (got == exp).all(), r
        nx, ny, nr = cell_decode_np(exp)
        got = [(key[(r, a, b)].dx, key[(r, a, b)].dy, key[(r, a, b)].dres)
               for a, b in zip(ix[sel], iy[sel])]
        assert got == list(zip(nx.tolist(), ny.tolist(), nr.tolist())), r


# the poles, the antimeridian, the grid's last row and column, off-globe
RING_LON = np.array([-180.0, 180.0, 0.0, 179.99, -45.5, 1000.0])
RING_LAT = np.array([-90.0, 90.0, 0.0, 89.99, 12.25, -1000.0])


def _ring_np(res, radius):
    return [cell_kring_np(int(home), radius).tolist()
            for home in cell_encode_np(RING_LON, RING_LAT, res)]


@pytest.mark.parametrize("radius", [1, 5])
def test_cell_kring_col_bit_exact_every_res(ansi_spark, radius):
    """Unrolled literal offsets at radius 1, sequence/transform at 5."""
    df = _points_df(ansi_spark, RING_LON, RING_LAT)
    rows = df.select("i", *[cell_kring_col(F.col("x"), F.col("y"), r, radius)
                            .alias(f"k{r}") for r in ALL_RES]) \
        .orderBy("i").collect()
    for r in ALL_RES:
        assert [sorted(row[f"k{r}"]) for row in rows] == _ring_np(r, radius), r


def test_explode_kring_bit_exact_every_res(ansi_spark):
    from kml2geojson_spark.spatial.core import explode_kring

    df = _points_df(ansi_spark, RING_LON, RING_LAT)
    parts = [explode_kring(df, F.col("x"), F.col("y"), r, 1)
             .select(F.lit(r).alias("r"), "i", "cell_id") for r in ALL_RES]
    rings = parts[0]
    for p in parts[1:]:
        rings = rings.unionAll(p)
    got = {}
    for row in rings.collect():
        got.setdefault((row.r, row.i), []).append(row.cell_id)
    for r in ALL_RES:
        assert [sorted(got[(r, i)]) for i in range(len(RING_LON))] \
            == _ring_np(r, 1), r


def test_geohash_col_bit_exact_every_precision(ansi_spark):
    from kml2geojson_spark.spatial.cells import (MAX_GEOHASH_PRECISION,
                                                 geohash_encode_col,
                                                 geohash_encode_np)
    lon, lat = _edge_points()
    precisions = range(1, MAX_GEOHASH_PRECISION + 1)
    df = _points_df(ansi_spark, lon, lat)
    rows = df.select("i", *[geohash_encode_col(F.col("x"), F.col("y"), p)
                            .alias(f"g{p}") for p in precisions]) \
        .orderBy("i").collect()
    for p in precisions:
        assert [row[f"g{p}"] for row in rows] == \
            list(geohash_encode_np(lon, lat, p)), p


# ---------------------------------------------------------------------------
# Geohash
# ---------------------------------------------------------------------------


def test_geohash_known_value():
    from kml2geojson_spark.spatial.cells import geohash_encode_np
    # canonical example: (lat 42.605, lon -5.603) → "ezs42..."
    out = geohash_encode_np(np.array([-5.60302734375]),
                            np.array([42.60498046875]), 5)
    assert out[0] == "ezs42"
    # Palermo (the classic redis GEOADD example), odd precision
    out = geohash_encode_np(np.array([13.361389]),
                            np.array([38.115556]), 7)
    assert out[0] == "sqc8b49"


def test_geohash_corner_clamp():
    from kml2geojson_spark.spatial.cells import geohash_encode_np
    out = geohash_encode_np(np.array([-180.0, 180.0, 0.0]),
                            np.array([-90.0, 90.0, 0.0]), 6)
    assert out[0] == "000000"
    assert out[1] == "zzzzzz"


def test_geohash_precision_validation():
    from kml2geojson_spark.spatial.cells import geohash_encode_np
    import pytest
    with pytest.raises(ValueError):
        geohash_encode_np(np.array([0.0]), np.array([0.0]), 0)
    with pytest.raises(ValueError):
        geohash_encode_np(np.array([0.0]), np.array([0.0]), 13)


@pytest.mark.parametrize("precision", [1, 5, 8, 12])
def test_geohash_column_matches_numpy(spark, precision):
    from pyspark.sql import functions as F
    from kml2geojson_spark.spatial.cells import (geohash_encode_col,
                                                 geohash_encode_np)
    rng = np.random.default_rng(precision)
    lon = rng.uniform(-180, 180, 200)
    lat = rng.uniform(-90, 90, 200)
    df = spark.createDataFrame(
        [(i, float(lon[i]), float(lat[i])) for i in range(200)],
        "i long, lon double, lat double")
    got = [r.gh for r in
           df.select("i", geohash_encode_col(F.col("lon"), F.col("lat"),
                                             precision).alias("gh"))
           .orderBy("i").collect()]
    assert got == list(geohash_encode_np(lon, lat, precision))


@pytest.mark.parametrize("precision", [3, 8])
def test_geohash_duckdb_sql_matches_numpy(precision):
    import duckdb
    from kml2geojson_spark.spatial.cells import (geohash_encode_np,
                                                 geohash_encode_sql)
    rng = np.random.default_rng(99)
    lon = rng.uniform(-180, 180, 100)
    lat = rng.uniform(-90, 90, 100)
    con = duckdb.connect()
    con.execute("CREATE TABLE pts AS SELECT * FROM (VALUES "
                + ", ".join(
                    f"({i}, CAST({float(lon[i])!r} AS DOUBLE), "
                    f"CAST({float(lat[i])!r} AS DOUBLE))"
                    for i in range(100))
                + ") AS t(i, x, y)")
    sql = geohash_encode_sql("x", "y", precision)
    got = [r[0] for r in con.execute(
        f"SELECT {sql} FROM pts ORDER BY i").fetchall()]
    assert got == list(geohash_encode_np(lon, lat, precision))


# ---------------------------------------------------------------------------
# hilbert curve
# ---------------------------------------------------------------------------

def _xy2d_classic(n, x, y):
    """Classic per-bit rotate/reflect algorithm (public-domain
    reference implementation) — the ground truth for the LUT tables."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_lut_matches_classic_exhaustive():
    from kml2geojson_spark.spatial.hilbert import hilbert_encode_np
    import numpy as np
    res = 5
    n = 1 << res
    xs, ys = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    lon = (xs.ravel() + 0.5) / n * 360.0 - 180.0
    lat = (ys.ravel() + 0.5) / n * 180.0 - 90.0
    got = hilbert_encode_np(lon, lat, res) >> 5
    want = np.array([_xy2d_classic(n, x, y)
                     for x, y in zip(xs.ravel(), ys.ravel())])
    assert (got == want).all()


def test_hilbert_adjacency_property():
    """THE Hilbert property (what Morton lacks): consecutive curve
    positions are always grid-adjacent — no seam jumps."""
    from kml2geojson_spark.spatial.hilbert import (hilbert_decode_np,
                                                   hilbert_encode_np)
    import numpy as np
    res = 4
    n = 1 << res
    xs, ys = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    lon = (xs.ravel() + 0.5) / n * 360.0 - 180.0
    lat = (ys.ravel() + 0.5) / n * 180.0 - 90.0
    cells = np.sort(hilbert_encode_np(lon, lat, res))
    assert len(set(cells.tolist())) == n * n  # a bijection
    ix, iy, _ = hilbert_decode_np(cells)
    steps = np.abs(np.diff(ix)) + np.abs(np.diff(iy))
    assert (steps == 1).all()


def test_hilbert_decode_roundtrip():
    from kml2geojson_spark.spatial.hilbert import (hilbert_decode_np,
                                                   hilbert_encode_np)
    import numpy as np
    rng = np.random.default_rng(3)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-90, 90, 500)
    res = 14
    cells = hilbert_encode_np(lon, lat, res)
    ix, iy, r = hilbert_decode_np(cells)
    assert (r == res).all()
    n = float(1 << res)
    import math
    for k in range(500):
        assert ix[k] == min((1 << res) - 1,
                            max(0, math.floor((lon[k] + 180.0) / 360.0 * n)))
        assert iy[k] == min((1 << res) - 1,
                            max(0, math.floor((lat[k] + 90.0) / 180.0 * n)))


def test_hilbert_col_matches_np(spark):
    from kml2geojson_spark.spatial.hilbert import (hilbert_encode,
                                                   hilbert_encode_np)
    import numpy as np
    rng = np.random.default_rng(9)
    lon = rng.uniform(-185, 185, 400)  # include out-of-range clamps
    lat = rng.uniform(-95, 95, 400)
    df = spark.createDataFrame(
        [(i, float(lon[i]), float(lat[i])) for i in range(400)],
        "id long, lon double, lat double")
    got = {r["id"]: r["hcell"]
           for r in hilbert_encode(df, "lon", "lat", 16).collect()}
    want = hilbert_encode_np(lon, lat, 16)
    assert all(got[i] == want[i] for i in range(400))


def test_hilbert_sql_matches_np():
    import duckdb
    import numpy as np
    from kml2geojson_spark.spatial.hilbert import (hilbert_cte_sql,
                                                   hilbert_encode_np)
    rng = np.random.default_rng(4)
    lon = rng.uniform(-180, 180, 300)
    lat = rng.uniform(-90, 90, 300)
    con = duckdb.connect()
    con.execute("CREATE TABLE pts AS SELECT * FROM (SELECT "
                "UNNEST(range(300)) AS id)")
    import pandas as pd
    pdf = pd.DataFrame({"id": np.arange(300), "lon": lon, "lat": lat})
    con.register("pts2", pdf)
    sql = hilbert_cte_sql("pts2", "lon", "lat", 12, "id")
    got = dict(con.execute(sql).fetchall())
    want = hilbert_encode_np(lon, lat, 12)
    assert all(got[i] == want[i] for i in range(300))


def test_hilbert_res_validation():
    import pytest
    from kml2geojson_spark.spatial.hilbert import hilbert_encode_np
    with pytest.raises(ValueError):
        hilbert_encode_np([0.0], [0.0], 27)
