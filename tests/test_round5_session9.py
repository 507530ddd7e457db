"""Round-5 session-9 operators: adamic_adar, spatial_thin,
distinctive_terms, ewma_last, mann_kendall, brown_forsythe,
normal_two_sided_p.
Each is verified against an independent brute-force computation."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import Row, functions as F


# ---------------------------------------------------------------------------
# adamic_adar
# ---------------------------------------------------------------------------

def _brute_adamic_adar(edges, max_degree=None):
    from collections import defaultdict
    nbrs = defaultdict(set)
    rdeg = defaultdict(set)
    for l, r in set(edges):
        nbrs[l].add(r)
        rdeg[r].add(l)
    out = {}
    lefts = sorted(nbrs)
    for i, a in enumerate(lefts):
        for b in lefts[i + 1:]:
            common = nbrs[a] & nbrs[b]
            if max_degree is not None:
                common = {w for w in common if len(rdeg[w]) <= max_degree}
            if not common:
                continue
            aa = sum(math.floor(1_000_000.0 / math.log(len(rdeg[w])))
                     for w in common)
            out[(a, b)] = (len(common), aa)
    return out


def test_adamic_adar_matches_brute(spark):
    from kml2geojson_spark.graph import adamic_adar

    rng = np.random.default_rng(7)
    edges = [(int(rng.integers(0, 12)), int(rng.integers(0, 8)))
             for _ in range(120)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.node_a, r.node_b): (r.n_common, r.aa_micro)
           for r in adamic_adar(df).collect()}
    assert got == _brute_adamic_adar(edges)


def test_adamic_adar_max_degree_prunes_hubs(spark):
    from kml2geojson_spark.graph import adamic_adar

    # neighbor 99 is shared by everyone (a hub); neighbor 1 by two.
    edges = [(a, 99) for a in range(6)] + [(0, 1), (1, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.node_a, r.node_b): (r.n_common, r.aa_micro)
           for r in adamic_adar(df, max_degree=3).collect()}
    assert got == _brute_adamic_adar(edges, max_degree=3)
    assert list(got) == [(0, 1)]  # only the rare shared neighbor survives
    # weight of a degree-2 neighbor: floor(1e6 / ln 2)
    assert got[(0, 1)] == (1, math.floor(1_000_000.0 / math.log(2.0)))


def test_adamic_adar_rejects_bad_cap(spark):
    from kml2geojson_spark.graph import adamic_adar

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        adamic_adar(df, max_degree=0)


# ---------------------------------------------------------------------------
# spatial_thin
# ---------------------------------------------------------------------------

def test_spatial_thin_one_rep_per_cell(spark):
    from kml2geojson_spark.spatial.cells import cell_encode_np
    from kml2geojson_spark.spatial.ops import spatial_thin

    rng = np.random.default_rng(11)
    n = 400
    xs = rng.uniform(-170, 170, n)
    ys = rng.uniform(-80, 80, n)
    rows = [(i, float(xs[i]), float(ys[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "point_id long, x double, y double")
    res = 4
    got = spatial_thin(df, res).collect()

    cells = cell_encode_np(xs, ys, res)
    byc = {}
    for i in range(n):
        c = int(cells[i])
        cur = byc.get(c)
        if cur is None or i < cur[0]:
            byc[c] = (i, float(xs[i]), float(ys[i]),
                      (cur[3] if cur else 0) + 1)
        else:
            byc[c] = (cur[0], cur[1], cur[2], cur[3] + 1)
    assert len(got) == len(byc)
    for r in got:
        i, x, y, cnt = byc[r.cell_id]
        assert (r.point_id, r.x, r.y, r.n_points) == (i, x, y, cnt)


def test_spatial_thin_drops_nulls(spark):
    from kml2geojson_spark.spatial.ops import spatial_thin

    df = spark.createDataFrame(
        [Row(point_id=1, x=0.0, y=0.0),
         Row(point_id=None, x=1.0, y=1.0),
         Row(point_id=3, x=None, y=2.0)])
    out = spatial_thin(df, 3).collect()
    assert len(out) == 1 and out[0].point_id == 1


# ---------------------------------------------------------------------------
# distinctive_terms
# ---------------------------------------------------------------------------

def _brute_distinctive(docs, alpha0, k, min_count):
    from collections import Counter, defaultdict
    gt = defaultdict(Counter)
    for grp, text in docs:
        gt[grp].update(t for t in text.lower().split(" ") if t)
    tot = Counter()
    for c in gt.values():
        tot.update(c)
    N = sum(tot.values())
    out = {}
    for grp, c in gt.items():
        n_g = sum(c.values())
        scored = []
        for t, y_g in c.items():
            if y_g < min_count:
                continue
            a_t = alpha0 * tot[t] / N
            y_r = tot[t] - y_g
            dg = n_g + alpha0 - y_g - a_t
            dr = (N - n_g) + alpha0 - y_r - a_t
            delta = math.log((y_g + a_t) / dg) - math.log((y_r + a_t) / dr)
            z = delta / math.sqrt(1.0 / (y_g + a_t) + 1.0 / (y_r + a_t))
            scored.append((round(z * 1e6), t, y_g, tot[t] - y_g))
        scored.sort(key=lambda s: (-s[0], s[1]))
        for rank, (zm, t, yg, yr) in enumerate(scored[:k], 1):
            out[(grp, t)] = (yg, yr, zm, rank)
    return out


def test_distinctive_terms_matches_brute(spark):
    from kml2geojson_spark.textops import distinctive_terms

    docs = [
        ("a", "spark spark shuffle join scan row"),
        ("a", "spark agg shuffle shuffle broadcast"),
        ("b", "scan scan scan row filter filter"),
        ("b", "filter row row predicate pushdown spark"),
        ("c", "kml geojson kml layers kml style"),
    ]
    df = spark.createDataFrame(docs, "source string, text string")
    got = {(r.source, r.token): (r.n_group, r.n_rest, r.zeta_micro, r.rank)
           for r in distinctive_terms(df, k=4, min_count=2).collect()}
    assert got == _brute_distinctive(docs, 100.0, 4, 2)


def test_distinctive_terms_rejects_bad_alpha(spark):
    from kml2geojson_spark.textops import distinctive_terms

    df = spark.createDataFrame([("a", "x")], "source string, text string")
    with pytest.raises(ValueError):
        distinctive_terms(df, alpha0=0.0)


# ---------------------------------------------------------------------------
# ewma_last
# ---------------------------------------------------------------------------

def _brute_ewma(rows, window):
    from collections import defaultdict
    per = defaultdict(list)
    for key, t, i, v in rows:
        if None in (key, t, i, v):
            continue
        per[key].append((t, i, round(v * 1000)))
    out = {}
    for key, evs in per.items():
        evs.sort()
        tail = [v for _, _, v in evs][-window:][::-1]  # newest first
        num = sum(v * (1 << (window - 1 - i)) for i, v in enumerate(tail))
        den = sum(1 << (window - 1 - i) for i in range(len(tail)))
        out[key] = (len(evs), num, den, num / den)
    return out


def test_ewma_last_matches_brute(spark):
    from kml2geojson_spark.eventops import ewma_last

    rng = np.random.default_rng(3)
    rows = [(int(rng.integers(0, 5)), int(t), int(t) * 10 + 1,
             float(rng.normal(50, 20)))
            for t in range(200)]
    df = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, value double")
    got = {r.key: (r.n_events, r.num, r.den, r.ewma_milli)
           for r in ewma_last(df, ts_col="ts", window=6).collect()}
    assert got == _brute_ewma(rows, 6)


def test_ewma_last_short_series_growing_window(spark):
    from kml2geojson_spark.eventops import ewma_last

    rows = [(1, 1, 1, 2.0), (1, 2, 2, 4.0)]
    df = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, value double")
    r = ewma_last(df, ts_col="ts", window=4).collect()[0]
    # weights newest-first: 8 for v=4000, 4 for v=2000; den = 12
    assert (r.n_events, r.num, r.den) == (2, 4000 * 8 + 2000 * 4, 12)
    assert r.ewma_milli == (4000 * 8 + 2000 * 4) / 12


def test_ewma_last_rejects_bad_window(spark):
    from kml2geojson_spark.eventops import ewma_last

    df = spark.createDataFrame(
        [(1, 1, 1, 1.0)], "user_id long, ts long, event_id long, value double")
    with pytest.raises(ValueError):
        ewma_last(df, window=0)


# ---------------------------------------------------------------------------
# mann_kendall
# ---------------------------------------------------------------------------

def _brute_mk(series):
    n = len(series)
    s = sum((series[j] > series[i]) - (series[j] < series[i])
            for i in range(n) for j in range(i + 1, n))
    from collections import Counter
    ties = Counter(series)
    corr = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    var18 = n * (n - 1) * (2 * n + 5) - corr
    if n < 2 or var18 <= 0:
        return n, s, var18, None
    sd = math.sqrt(var18 / 18.0)
    z = (s - 1) / sd if s > 0 else ((s + 1) / sd if s < 0 else 0.0)
    return n, s, var18, z


def test_mann_kendall_matches_brute(spark):
    from kml2geojson_spark.relational import mann_kendall

    rng = np.random.default_rng(5)
    rows = []
    expect = {}
    for g in range(4):
        # group 0: rising trend; 1: falling; 2: noise; 3: constant
        if g == 0:
            vals = [t * 2 + int(rng.integers(0, 3)) for t in range(25)]
        elif g == 1:
            vals = [100 - 3 * t for t in range(25)]
        elif g == 2:
            vals = [int(rng.integers(0, 50)) for _ in range(25)]
        else:
            vals = [7] * 25
        expect[g] = _brute_mk(vals)
        rows += [(g, t, v) for t, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "grp long, t long, v long")
    got = {r.grp: (r.n, r.s_stat, r.var18, r.z)
           for r in mann_kendall(df, value_col="v", order_cols="t",
                                 group_cols=["grp"]).collect()}
    for g, (n, s, v18, z) in expect.items():
        gn, gs, gv, gz = got[g]
        assert (gn, gs, gv) == (n, s, v18)
        if z is None:
            assert gz is None or gz == 0.0 if v18 > 0 else gz is None
        else:
            assert gz == pytest.approx(z, abs=0)


def test_mann_kendall_rejects_float(spark):
    from kml2geojson_spark.relational import mann_kendall

    df = spark.createDataFrame([(1, 1, 1.0)], "grp long, t long, v double")
    with pytest.raises(ValueError):
        mann_kendall(df, value_col="v", order_cols="t", group_cols=["grp"])


# ---------------------------------------------------------------------------
# brown_forsythe
# ---------------------------------------------------------------------------

def test_brown_forsythe_matches_scipy_shape(spark):
    """Verify against a hand-rolled Brown-Forsythe with the lower
    median (scipy uses the interpolated median, so we replicate the
    documented deviation exactly)."""
    from kml2geojson_spark.relational import brown_forsythe

    rng = np.random.default_rng(9)
    rows = []
    groups = {"a": rng.integers(0, 20, 31),
              "b": rng.integers(0, 80, 24),
              "c": rng.integers(40, 45, 27)}
    for gname, vals in groups.items():
        rows += [(gname, int(v)) for v in vals]
    df = spark.createDataFrame(rows, "f string, v long")
    r = brown_forsythe(df, value_col="v", factor_col="f").collect()[0]

    devs = {}
    for gname, vals in groups.items():
        sv = sorted(int(v) for v in vals)
        med = sv[(len(sv) + 1) // 2 - 1]  # lower median
        devs[gname] = [abs(int(v) - med) for v in vals]
    N = sum(len(d) for d in devs.values())
    k = len(devs)
    contrib = {g: math.floor(sum(d) ** 2 / len(d) * 1000.0)
               for g, d in devs.items()}
    S = sum(sum(d) for d in devs.values())
    SS = sum(v * v for d in devs.values() for v in d)
    cb = sum(contrib.values())
    ssb = cb - math.floor(S * S / N * 1000.0)
    ssw = 1000 * SS - cb
    f_expect = (ssb / (k - 1)) / (ssw / (N - k))
    assert (r.k, r.n, r.ssb_milli, r.ssw_milli) == (k, N, ssb, ssw)
    assert r.f_stat == pytest.approx(f_expect, rel=1e-12)
    # equal-variance sanity: narrow group c should inflate F vs a/b alone
    assert r.f_stat > 1.0


def test_brown_forsythe_rejects_float(spark):
    from kml2geojson_spark.relational import brown_forsythe

    df = spark.createDataFrame([("a", 1.0)], "f string, v double")
    with pytest.raises(ValueError):
        brown_forsythe(df, value_col="v", factor_col="f")


# ---------------------------------------------------------------------------
# normal_two_sided_p
# ---------------------------------------------------------------------------

def test_normal_p_matches_erfc(spark):
    from kml2geojson_spark.relational import normal_two_sided_p

    zs = [0.0, 0.5, -1.0, 1.96, 2.58, -3.3, 5.0]
    df = spark.createDataFrame([(i, z) for i, z in enumerate(zs)],
                               "i long, z double")
    got = {r.i: r.p for r in df.select(
        "i", normal_two_sided_p(F.col("z")).alias("p")).collect()}
    for i, z in enumerate(zs):
        assert got[i] == pytest.approx(math.erfc(abs(z) / math.sqrt(2)),
                                       abs=1.6e-7)
