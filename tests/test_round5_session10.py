"""Round-5 session-10 operators: kendall_tau, idw_interpolate,
two_hop_reach, parse_wkt_vertices. Each verified against an
independent brute-force computation."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# kendall_tau
# ---------------------------------------------------------------------------

def _brute_tau(rows):
    """rows: list of (x, y). Returns (n, C, D, n0, n1, n2, tau_b|None)."""
    n = len(rows)
    c = d = 0
    for i in range(n):
        for j in range(i + 1, n):
            p = (rows[i][0] - rows[j][0]) * (rows[i][1] - rows[j][1])
            if p > 0:
                c += 1
            elif p < 0:
                d += 1
    n0 = n * (n - 1) // 2
    from collections import Counter
    n1 = sum(t * (t - 1) // 2 for t in Counter(x for x, _ in rows).values())
    n2 = sum(t * (t - 1) // 2 for t in Counter(y for _, y in rows).values())
    tau = None
    if n0 > n1 and n0 > n2:
        tau = (c - d) / math.sqrt(float(n0 - n1) * float(n0 - n2))
    return n, c, d, n0, n1, n2, tau


def test_kendall_tau_matches_brute(spark):
    from kml2geojson_spark.relational import kendall_tau

    rng = np.random.default_rng(11)
    data = []
    groups = {}
    for g in ["a", "b", "c"]:
        rows = [(int(rng.integers(0, 6)), int(rng.integers(0, 6)))
                for _ in range(25)]
        groups[g] = rows
        data += [(g, i, x, y) for i, (x, y) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, id long, x long, y long")
    got = {r.g: r for r in kendall_tau(
        df, col_x="x", col_y="y", id_col="id", group_cols=["g"]).collect()}
    for g, rows in groups.items():
        n, c, d, n0, n1, n2, tau = _brute_tau(rows)
        r = got[g]
        assert (r.n, r.concordant, r.discordant, r.n0, r.n1, r.n2) == \
            (n, c, d, n0, n1, n2)
        if tau is None:
            assert r.tau_b is None
        else:
            assert r.tau_b == pytest.approx(tau, abs=1e-12)


def test_kendall_tau_perfect_and_degenerate(spark):
    from kml2geojson_spark.relational import kendall_tau

    rows = ([("up", i, i, 2 * i) for i in range(10)]
            + [("down", i, i, -i) for i in range(10)]
            + [("flat", i, i, 7) for i in range(10)])
    df = spark.createDataFrame(rows, "g string, id long, x long, y long")
    got = {r.g: r for r in kendall_tau(
        df, col_x="x", col_y="y", id_col="id", group_cols=["g"]).collect()}
    assert got["up"].tau_b == pytest.approx(1.0)
    assert got["down"].tau_b == pytest.approx(-1.0)
    assert got["flat"].tau_b is None  # all y tied


def test_kendall_tau_float_raises(spark):
    from kml2geojson_spark.relational import kendall_tau

    df = spark.createDataFrame([("a", 1, 1, 1.5)],
                               "g string, id long, x long, y double")
    with pytest.raises(ValueError, match="floating-point"):
        kendall_tau(df, col_x="x", col_y="y", id_col="id",
                    group_cols=["g"])


# ---------------------------------------------------------------------------
# idw_interpolate
# ---------------------------------------------------------------------------

def _grid(v, half, res):
    n = 1 << res
    g = math.floor((v + half) / (2 * half) * n)
    return max(0, min(n - 1, g))


def _brute_idw(pts, res, radius):
    """pts: [(x, y, v)] → {(tx, ty): (n_cells, n_samples, num, den)}."""
    from collections import defaultdict
    n = 1 << res
    cells = defaultdict(lambda: [0, 0])
    for x, y, v in pts:
        key = (_grid(x, 180.0, res), _grid(y, 90.0, res))
        cells[key][0] += 1
        cells[key][1] += v
    out = defaultdict(lambda: [0, 0, 0, 0])
    for (sx, sy), (cn, cs) in cells.items():
        for dx in range(-radius, radius + 1):
            for dy in range(-radius, radius + 1):
                d2 = dx * dx + dy * dy
                if d2 == 0:
                    continue
                tx, ty = (sx + dx) % n, sy + dy
                if not 0 <= ty < n:
                    continue
                w = 10**9 // d2
                o = out[(tx, ty)]
                o[0] += 1
                o[1] += cn
                o[2] += w * cs
                o[3] += w * cn
    return {k: tuple(v) for k, v in out.items() if k not in cells}


def test_idw_matches_brute(spark):
    from kml2geojson_spark.spatial.cells import cell_decode_np
    from kml2geojson_spark.spatial.ops import idw_interpolate

    rng = np.random.default_rng(23)
    pts = [(float(rng.uniform(-40, 40)), float(rng.uniform(-20, 20)),
            int(rng.integers(-50, 200))) for _ in range(300)]
    df = spark.createDataFrame(pts, "x double, y double, value long")
    res, radius = 5, 2
    rows = idw_interpolate(df, res, radius).collect()
    got = {}
    for r in rows:
        ix, iy, rr = cell_decode_np(np.array([r.cell_id], dtype=np.int64))
        assert rr[0] == res
        got[(int(ix[0]), int(iy[0]))] = (r.n_cells, r.n_samples,
                                         r.num, r.den)
        assert r.idw_est == pytest.approx(r.num / r.den)
    assert got == _brute_idw(pts, res, radius)


def test_idw_gap_cells_never_sampled(spark):
    from kml2geojson_spark.spatial import encode_points
    from kml2geojson_spark.spatial.ops import idw_interpolate

    rng = np.random.default_rng(5)
    pts = [(float(rng.uniform(-10, 10)), float(rng.uniform(-10, 10)), 1)
           for _ in range(100)]
    df = spark.createDataFrame(pts, "x double, y double, value long")
    sampled = {r.cell_id for r in encode_points(
        df.withColumn("point_id", F.lit(0)), 6).select("cell_id")
        .distinct().collect()}
    gaps = {r.cell_id for r in idw_interpolate(df, 6, 1).collect()}
    assert gaps and not (gaps & sampled)


def test_idw_float_value_raises(spark):
    from kml2geojson_spark.spatial.ops import idw_interpolate

    df = spark.createDataFrame([(0.0, 0.0, 1.5)],
                               "x double, y double, value double")
    with pytest.raises(ValueError, match="floating-point"):
        idw_interpolate(df, 5, 1)


# ---------------------------------------------------------------------------
# two_hop_reach
# ---------------------------------------------------------------------------

def _brute_reach(edges, max_mid_degree=None):
    from collections import defaultdict
    adj = defaultdict(set)
    for a, b in set(edges):
        if a != b:
            adj[a].add(b)
    out = {}
    for a in list(adj):
        r1 = adj[a]
        r2 = set(r1)
        for m in r1:
            nm = adj.get(m, set())
            if max_mid_degree is not None and len(nm) > max_mid_degree:
                continue
            r2 |= nm
        r2.discard(a)
        out[a] = (len(r1), len(r2))
    return out


def test_two_hop_reach_matches_brute(spark):
    from kml2geojson_spark.graph import two_hop_reach

    rng = np.random.default_rng(31)
    edges = [(int(rng.integers(0, 30)), int(rng.integers(0, 30)))
             for _ in range(200)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: (r.reach1, r.reach2)
           for r in two_hop_reach(df).collect()}
    assert got == _brute_reach(edges)


def test_two_hop_reach_hub_prune(spark):
    from kml2geojson_spark.graph import two_hop_reach

    # 0 -> 1 -> {2..8}: node 1 is a high-out-degree middle node.
    edges = [(0, 1)] + [(1, t) for t in range(2, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    full = {r.node: (r.reach1, r.reach2)
            for r in two_hop_reach(df).collect()}
    assert full[0] == (1, 8)
    pruned = {r.node: (r.reach1, r.reach2)
              for r in two_hop_reach(df, max_mid_degree=3).collect()}
    assert pruned == _brute_reach(edges, max_mid_degree=3)
    assert pruned[0] == (1, 1)


# ---------------------------------------------------------------------------
# parse_wkt_vertices
# ---------------------------------------------------------------------------

def test_parse_wkt_kinds_and_vertices(spark):
    from kml2geojson_spark.spatial.ops import parse_wkt_vertices

    rows = [
        (1, "POINT (10.5 -3.25)"),
        (2, "LINESTRING (0 0, 1.5 2, -3 4.25)"),
        (3, "MULTIPOINT (7 8, 9 10)"),
        (4, "  point (1 2)"),           # case/space tolerant
        (5, "POLYGON ((0 0, 1 0, 1 1, 0 0))"),  # unsupported -> dropped
        (6, None),
        (7, "garbage"),
    ]
    df = spark.createDataFrame(rows, "geom_id long, wkt string")
    got = sorted((r.id, r.kind, r.vertex_idx, r.x, r.y)
                 for r in parse_wkt_vertices(df).collect())
    assert got == [
        (1, "POINT", 0, 10.5, -3.25),
        (2, "LINESTRING", 0, 0.0, 0.0),
        (2, "LINESTRING", 1, 1.5, 2.0),
        (2, "LINESTRING", 2, -3.0, 4.25),
        (3, "MULTIPOINT", 0, 7.0, 8.0),
        (3, "MULTIPOINT", 1, 9.0, 10.0),
        (4, "POINT", 0, 1.0, 2.0),
    ]


def test_parse_wkt_roundtrip_through_encode(spark):
    """WKT built from integer milli-degrees parses back exactly."""
    from kml2geojson_spark.spatial.ops import parse_wkt_vertices

    rng = np.random.default_rng(41)
    rows = [(i, f"POINT ({int(rng.integers(-180000, 180000))} "
                f"{int(rng.integers(-90000, 90000))})")
            for i in range(50)]
    df = spark.createDataFrame(rows, "geom_id long, wkt string")
    out = parse_wkt_vertices(df).collect()
    assert len(out) == 50
    for r in out:
        xm, ym = rows[r.id][1][7:-1].split()
        assert r.x == float(int(xm)) and r.y == float(int(ym))
