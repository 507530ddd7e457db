"""Round-5 session-12: pettitt_test, grubbs_test, jarque_bera,
mcnemar_test, quantile_normalize, friedman_test, neighbor_jaccard,
kmv sketch, hex_bin, shot_boundaries."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# pettitt_test
# ---------------------------------------------------------------------------

def _brute_pettitt(xs):
    n = len(xs)
    best = None
    for t in range(1, n):
        u = sum((xs[i] > xs[j]) - (xs[i] < xs[j])
                for i in range(t) for j in range(t, n))
        if best is None or abs(u) > abs(best[1]):
            best = (t, u)
    k = abs(best[1])
    p = min(1.0, 2.0 * math.exp(-6.0 * k * k / (n ** 3 + n ** 2)))
    return n, k, best[0], best[1], math.floor(p * 1e6 + 0.5)


def test_pettitt_matches_brute(spark):
    from kml2geojson_spark.relational import pettitt_test

    rng = np.random.default_rng(12)
    rows, expect = [], {}
    for g in range(10):
        n = int(rng.integers(2, 25))
        # level shift at a random point, coarse values to force ties
        cut = int(rng.integers(1, n))
        xs = [int(rng.integers(0, 6)) for _ in range(cut)] + \
             [int(rng.integers(3, 9)) for _ in range(n - cut)]
        expect[f"g{g}"] = _brute_pettitt(xs)
        rows += [(f"g{g}", t, x) for t, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "g string, t long, v long")
    got = {r.g: (r.n, r.k_stat, r.t_index, r.u_at_t, r.p_micro)
           for r in pettitt_test(df, value_col="v", order_cols="t",
                                 group_cols=["g"]).collect()}
    assert got == expect


def test_pettitt_edges(spark):
    from kml2geojson_spark.relational import pettitt_test

    # n = 1 group dropped; all-tied group -> K = 0, earliest t
    rows = [("solo", 0, 5)] + [("tied", t, 7) for t in range(4)]
    df = spark.createDataFrame(rows, "g string, t long, v long")
    got = {r.g: r for r in pettitt_test(
        df, value_col="v", order_cols="t", group_cols=["g"]).collect()}
    assert "solo" not in got
    assert got["tied"].k_stat == 0 and got["tied"].t_index == 1
    assert got["tied"].p_micro == 1_000_000

    fdf = spark.createDataFrame([("a", 1, 1.0)],
                                "g string, t long, v double")
    with pytest.raises(ValueError, match="integerize"):
        pettitt_test(fdf, value_col="v", order_cols="t",
                     group_cols=["g"])


# ---------------------------------------------------------------------------
# grubbs_test
# ---------------------------------------------------------------------------

def test_grubbs_matches_numpy(spark):
    from kml2geojson_spark.relational import grubbs_test

    rng = np.random.default_rng(3)
    rows, expect = [], {}
    for g in range(6):
        n = int(rng.integers(3, 30))
        xs = rng.integers(-1000, 1001, size=n).tolist()
        arr = np.array(xs, dtype=float)
        dev = np.abs(arr - arr.mean())
        sd = arr.std(ddof=1)
        i = int(np.lexsort((np.arange(n), -dev))[0])
        expect[f"g{g}"] = (n, i, float(dev[i] / sd) if sd > 0 else None)
        rows += [(f"g{g}", j, int(x)) for j, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = {r.g: r for r in grubbs_test(df, value_col="v", id_col="id",
                                       group_cols=["g"]).collect()}
    for g, (n, i, gs) in expect.items():
        assert got[g].n == n and got[g].outlier_id == i
        if gs is None:
            assert got[g].g_stat is None
        else:
            assert got[g].g_stat == pytest.approx(gs, rel=1e-12)


def test_grubbs_ties_and_small_n(spark):
    from kml2geojson_spark.relational import grubbs_test

    # symmetric pair of extremes: tie on |dev| -> smallest id wins
    rows = [("a", 1, -10), ("a", 2, 10), ("a", 3, 0), ("a", 4, 0)]
    # n = 2 -> g NULL
    rows += [("b", 1, 0), ("b", 2, 4)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = {r.g: r for r in grubbs_test(df, value_col="v", id_col="id",
                                       group_cols=["g"]).collect()}
    assert got["a"].outlier_id == 1
    assert got["b"].g_stat is None and got["b"].n == 2


# ---------------------------------------------------------------------------
# jarque_bera
# ---------------------------------------------------------------------------

def test_jarque_bera_matches_numpy(spark):
    from kml2geojson_spark.relational import jarque_bera

    rng = np.random.default_rng(5)
    rows, expect = [], {}
    for g in range(6):
        n = int(rng.integers(4, 200))
        xs = rng.integers(-500, 501, size=n).tolist()
        a = np.array(xs, dtype=float)
        m2 = ((a - a.mean()) ** 2).mean()
        m3 = ((a - a.mean()) ** 3).mean()
        m4 = ((a - a.mean()) ** 4).mean()
        if m2 == 0:
            expect[f"g{g}"] = (n, None, None, None)
        else:
            s = m3 / m2 ** 1.5
            k = m4 / m2 ** 2 - 3.0
            expect[f"g{g}"] = (n, s, k, n / 6.0 * (s * s + k * k / 4.0))
        rows += [(f"g{g}", int(x)) for x in xs]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r.g: r for r in jarque_bera(df, value_col="v",
                                       group_cols=["g"]).collect()}
    for g, (n, s, k, jb) in expect.items():
        assert got[g].n == n
        if s is None:
            assert got[g].jb_stat is None
        else:
            assert got[g].skewness == pytest.approx(s, rel=1e-9)
            assert got[g].ex_kurtosis == pytest.approx(k, rel=1e-9)
            assert got[g].jb_stat == pytest.approx(jb, rel=1e-9)


def test_jarque_bera_degenerate(spark):
    from kml2geojson_spark.relational import jarque_bera

    rows = [("const", 7)] * 10 + [("tiny", 1), ("tiny", 2),
                                  ("tiny", 3)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r.g: r for r in jarque_bera(df, value_col="v",
                                       group_cols=["g"]).collect()}
    assert got["const"].jb_stat is None       # zero variance
    assert got["tiny"].jb_stat is None        # n < 4


# ---------------------------------------------------------------------------
# mcnemar_test
# ---------------------------------------------------------------------------

def test_mcnemar_hand_case(spark):
    from kml2geojson_spark.relational import mcnemar_test

    # b = 6 (1->0), c = 2 (0->1): chi2 = (|6-2|-1)^2 / 8 = 1.125
    rows = ([("g", 1, 0)] * 6 + [("g", 0, 1)] * 2
            + [("g", 1, 1)] * 5 + [("g", 0, 0)] * 3)
    df = spark.createDataFrame(rows, "g string, before int, after int")
    r = mcnemar_test(df, before_col="before", after_col="after",
                     group_cols=["g"]).collect()[0]
    assert (r.n_pairs, r.b, r.c) == (16, 6, 2)
    assert r.chi2 == pytest.approx(1.125)
    # p ~ 0.2888 for z = sqrt(1.125)
    assert 280_000 < r.p_micro < 300_000


def test_mcnemar_no_discordance(spark):
    from kml2geojson_spark.relational import mcnemar_test

    rows = [("g", 1, 1)] * 4 + [("g", 0, 0)] * 3
    df = spark.createDataFrame(rows, "g string, before int, after int")
    r = mcnemar_test(df, before_col="before", after_col="after",
                     group_cols=["g"]).collect()[0]
    assert r.chi2 is None and r.p_micro is None and r.n_pairs == 7


# ---------------------------------------------------------------------------
# quantile_normalize
# ---------------------------------------------------------------------------

def test_quantile_normalize_classic(spark):
    from kml2geojson_spark.relational import quantile_normalize

    # the wikipedia microarray example (3 distributions x 4 rows)
    data = {"A": [5, 2, 3, 4], "B": [4, 1, 4, 2], "C": [3, 4, 6, 8]}
    rows = [(d, i, v) for d, vs in data.items()
            for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "dist string, id long, v long")
    out = quantile_normalize(df, value_col="v", id_col="id",
                             dist_col="dist").collect()
    got = {(r.dist, r.id): (r.rank, r.normalized) for r in out}
    # rank-1 values: A->2, B->1, C->3  => mean 2.0
    # rank-2: A->3, B->2, C->4 => 3.0; rank-3: A->4, B->4(id2), C->6
    # => 14/3; rank-4: A->5, B->4(id0... wait B sorts (1,2,4,4) by
    # (v,id): ids 1,3,0,2) -> A 5, B 4, C 8 => 17/3
    assert got[("A", 1)] == (1, pytest.approx(2.0))
    assert got[("B", 3)] == (2, pytest.approx(3.0))
    assert got[("C", 2)] == (3, pytest.approx(14.0 / 3.0))
    assert got[("A", 0)] == (4, pytest.approx(17.0 / 3.0))
    # every distribution ends up with the same normalized multiset
    by_dist = {}
    for r in out:
        by_dist.setdefault(r.dist, []).append(round(r.normalized, 9))
    vals = [sorted(v) for v in by_dist.values()]
    assert vals[0] == vals[1] == vals[2]


def test_quantile_normalize_unequal_sizes(spark):
    from kml2geojson_spark.relational import quantile_normalize

    rows = [("A", 0, 10), ("A", 1, 20), ("A", 2, 30), ("B", 0, 100)]
    df = spark.createDataFrame(rows, "dist string, id long, v long")
    got = {(r.dist, r.id): r.normalized
           for r in quantile_normalize(df, value_col="v", id_col="id",
                                       dist_col="dist").collect()}
    assert got[("A", 0)] == pytest.approx(55.0)   # (10+100)/2
    assert got[("A", 1)] == pytest.approx(20.0)   # rank 2: only A
    assert got[("B", 0)] == pytest.approx(55.0)


# ---------------------------------------------------------------------------
# friedman_test
# ---------------------------------------------------------------------------

def _brute_friedman(blocks):
    # blocks: list of dict treatment -> value (complete, no dup)
    k = len(blocks[0])
    trs = sorted(blocks[0])
    rsum = dict.fromkeys(trs, 0.0)
    for b in blocks:
        vals = sorted(b.values())
        for t in trs:
            lo = 1 + sum(v < b[t] for v in vals)
            hi = sum(v <= b[t] for v in vals)
            rsum[t] += (lo + hi) / 2.0
    n = len(blocks)
    ss = sum(r * r for r in rsum.values())
    return 12.0 / (n * k * (k + 1)) * ss - 3.0 * n * (k + 1)


def test_friedman_matches_brute(spark):
    from kml2geojson_spark.relational import friedman_test

    rng = np.random.default_rng(9)
    trs = ["t1", "t2", "t3", "t4"]
    blocks = []
    rows = []
    for b in range(12):
        d = {t: int(rng.integers(0, 8)) for t in trs}   # ties likely
        blocks.append(d)
        rows += [(f"b{b}", t, v) for t, v in d.items()]
    # an incomplete block must be excluded entirely
    rows += [("partial", "t1", 3), ("partial", "t2", 5)]
    df = spark.createDataFrame(rows, "b string, tr string, v long")
    r = friedman_test(df, block_col="b", treatment_col="tr",
                      value_col="v").collect()[0]
    assert r.k_treatments == 4 and r.n_blocks == 12
    assert r.chi2_f == pytest.approx(_brute_friedman(blocks),
                                     rel=1e-12)


def test_friedman_duplicate_cell_raises(spark):
    from kml2geojson_spark.relational import friedman_test

    rows = [("b1", "t1", 1), ("b1", "t1", 2), ("b1", "t2", 3)]
    df = spark.createDataFrame(rows, "b string, tr string, v long")
    with pytest.raises(ValueError, match="duplicate"):
        friedman_test(df, block_col="b", treatment_col="tr",
                      value_col="v")


# ---------------------------------------------------------------------------
# neighbor_jaccard
# ---------------------------------------------------------------------------

def test_neighbor_jaccard_matches_brute(spark):
    from kml2geojson_spark.graph import neighbor_jaccard

    rng = np.random.default_rng(21)
    edges = {(int(rng.integers(0, 12)), int(rng.integers(0, 20)))
             for _ in range(120)}
    nbrs = {}
    for u, w in edges:
        nbrs.setdefault(u, set()).add(w)
    expect = {}
    for a in nbrs:
        for b in nbrs:
            if a < b:
                inter = len(nbrs[a] & nbrs[b])
                if inter:
                    expect[(a, b)] = (inter, len(nbrs[a]), len(nbrs[b]),
                                      inter / len(nbrs[a] | nbrs[b]))
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {(r.node_a, r.node_b): (r.n_common, r.deg_a, r.deg_b,
                                  r.jaccard)
           for r in neighbor_jaccard(df).collect()}
    assert set(got) == set(expect)
    for k in expect:
        assert got[k][:3] == expect[k][:3]
        assert got[k][3] == pytest.approx(expect[k][3], rel=1e-12)


# ---------------------------------------------------------------------------
# kmv sketch
# ---------------------------------------------------------------------------

def _h60(v) -> int:
    return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)


def test_kmv_registers_are_k_smallest(spark):
    from kml2geojson_spark.sketch import kmv_registers

    vals = [f"item-{i}" for i in range(500)]
    # duplicates must not matter
    df = spark.createDataFrame([(v,) for v in vals * 3], "v string")
    out = kmv_registers(df, "v", k=32).collect()
    want = sorted({_h60(v) for v in vals})[:32]
    got = [r.h for r in sorted(out, key=lambda r: r.rn)]
    assert got == want


def test_kmv_estimate_accuracy_and_exact_path(spark):
    from kml2geojson_spark.sketch import kmv_estimate, kmv_registers

    big = spark.createDataFrame([(f"u{i}",) for i in range(5000)],
                                "v string")
    regs = kmv_registers(big, "v", k=256)
    est = kmv_estimate(regs, k=256).collect()[0]
    assert est.n_kept == 256
    assert abs(est.estimate - 5000) / 5000 < 0.2   # ~6% expected err
    small = spark.createDataFrame([("a",), ("b",), ("a",)], "v string")
    r = kmv_estimate(kmv_registers(small, "v", k=64), k=64).collect()[0]
    assert r.n_kept == 2 and r.estimate == 2.0


def test_kmv_merge_is_union_retake(spark):
    from kml2geojson_spark.sketch import kmv_registers

    a = spark.createDataFrame([(f"x{i}",) for i in range(300)],
                              "v string")
    b = spark.createDataFrame([(f"x{i}",) for i in range(150, 450)],
                              "v string")
    both = a.union(b)
    direct = [r.h for r in sorted(
        kmv_registers(both, "v", k=48).collect(), key=lambda r: r.rn)]
    # merge path: union the two registers tables, dedup, re-take k
    ra = kmv_registers(a, "v", k=48).select("h")
    rb = kmv_registers(b, "v", k=48).select("h")
    merged = sorted({r.h for r in ra.union(rb).collect()})[:48]
    assert direct == merged


# ---------------------------------------------------------------------------
# hex_bin
# ---------------------------------------------------------------------------

def _brute_hex(x, y, size):
    fq = (math.sqrt(3.0) / 3.0 * x - y / 3.0) / size
    fr = (2.0 / 3.0 * y) / size
    fs = -fq - fr

    def rnd(v):   # round half away from zero, like Spark/DuckDB ROUND
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    rq, rr, rs = rnd(fq), rnd(fr), rnd(fs)
    dq, dr, ds = abs(rq - fq), abs(rr - fr), abs(rs - fs)
    if dq > dr and dq > ds:
        rq = -rr - rs
    elif dr > ds:
        rr = -rq - rs
    return int(rq), int(rr)


def test_hex_bin_matches_brute(spark):
    from kml2geojson_spark.spatial.ops import hex_bin

    rng = np.random.default_rng(31)
    pts = [(float(x), float(y))
           for x, y in rng.uniform(-50, 50, size=(400, 2))]
    from collections import Counter
    want = Counter(_brute_hex(x, y, 7.5) for x, y in pts)
    df = spark.createDataFrame(pts, "x double, y double")
    got = {(r.hq, r.hr): r.n for r in hex_bin(df, size=7.5).collect()}
    assert got == dict(want)


def test_hex_bin_center_and_neighbors(spark):
    from kml2geojson_spark.spatial.ops import hex_bin

    # hex centers land exactly in their own cell
    centers = [(0.0, 0.0), (math.sqrt(3.0), 0.0),
               (math.sqrt(3.0) / 2.0, 1.5)]
    df = spark.createDataFrame(centers, "x double, y double")
    got = {(r.hq, r.hr): r.n for r in hex_bin(df, size=1.0).collect()}
    assert got == {(0, 0): 1, (1, 0): 1, (0, 1): 1}


# ---------------------------------------------------------------------------
# shot_boundaries
# ---------------------------------------------------------------------------

def test_shot_boundaries_hand_case(spark):
    from kml2geojson_spark.multimodal import shot_boundaries

    rows = [("m1", 0, 1000), ("m1", 1, 1300), ("m1", 2, 9000),
            ("m1", 3, 9100), ("m2", 0, 50)]
    df = spark.createDataFrame(
        rows, "media_ref string, frame_idx int, byte_sum long")
    got = {(r.media_ref, r.frame_idx): (r.jump, r.is_boundary)
           for r in shot_boundaries(df, threshold=2000).collect()}
    assert got[("m1", 0)] == (None, False)
    assert got[("m1", 1)] == (300, False)
    assert got[("m1", 2)] == (7700, True)
    assert got[("m1", 3)] == (100, False)
    assert got[("m2", 0)] == (None, False)


def test_shot_boundaries_over_real_frames(spark):
    from kml2geojson_spark.multimodal import (fetch_media_stub,
                                              frame_checksums,
                                              sample_frames,
                                              shot_boundaries)

    refs = spark.createDataFrame(
        [(f"d{i}", f"media/d{i}.ppm", "ppm", 0) for i in range(6)],
        "doc_id string, media_ref string, ext string, offset int")
    cks = frame_checksums(sample_frames(
        fetch_media_stub(refs, payload="ppm"), n_frames=4))
    out = shot_boundaries(cks, threshold=500).collect()
    assert len(out) == 24
    for r in out:
        if r.frame_idx == 0:
            assert r.jump is None and not r.is_boundary
        else:
            assert r.jump is not None
            assert r.is_boundary == (r.jump > 500)


# ---------------------------------------------------------------------------
# hex_smooth
# ---------------------------------------------------------------------------

def test_hex_smooth_matches_brute(spark):
    from kml2geojson_spark.spatial.ops import hex_smooth

    rng = np.random.default_rng(41)
    cells = {(int(q), int(r)): int(n) for q, r, n in
             zip(rng.integers(-5, 6, 30), rng.integers(-5, 6, 30),
                 rng.integers(1, 9, 30))}
    offs = [(dq, dr) for dq in (-1, 0, 1) for dr in (-1, 0, 1)
            if abs(dq + dr) <= 1]
    assert len(offs) == 7
    from collections import Counter
    want = Counter()
    for (q, r), n in cells.items():
        for dq, dr in offs:
            want[(q + dq, r + dr)] += n
    df = spark.createDataFrame(
        [(q, r, n) for (q, r), n in cells.items()],
        "hq long, hr long, n long")
    got = {(r.hq, r.hr): r.smoothed
           for r in hex_smooth(df, radius=1).collect()}
    assert got == dict(want)


def test_hex_smooth_radius0_identity(spark):
    from kml2geojson_spark.spatial.ops import hex_smooth

    df = spark.createDataFrame([(0, 0, 5), (2, -1, 3)],
                               "hq long, hr long, n long")
    got = {(r.hq, r.hr): r.smoothed
           for r in hex_smooth(df, radius=0).collect()}
    assert got == {(0, 0): 5, (2, -1): 3}


# ---------------------------------------------------------------------------
# cochran_armitage
# ---------------------------------------------------------------------------

def _brute_ca(rows):
    # rows: (dose, label)
    from collections import defaultdict
    n_s, r_s = defaultdict(int), defaultdict(int)
    for s, y in rows:
        n_s[s] += 1
        r_s[s] += y
    N = sum(n_s.values())
    R = sum(r_s.values())
    sr = sum(s * r_s[s] for s in n_s)
    sn = sum(s * n_s[s] for s in n_s)
    ssn = sum(s * s * n_s[s] for s in n_s)
    A = N * sr - R * sn
    B = R * (N - R) * (N * ssn - sn * sn)
    z = A / math.sqrt(B / N) if B > 0 and len(n_s) >= 2 else None
    return N, R, A, B, z


def test_cochran_armitage_matches_brute(spark):
    from kml2geojson_spark.relational import cochran_armitage

    rng = np.random.default_rng(17)
    rows, expect = [], {}
    for g in range(5):
        data = [(int(s), int(rng.random() < 0.2 + 0.15 * s))
                for s in rng.integers(0, 4, size=60)]
        expect[f"g{g}"] = _brute_ca(data)
        rows += [(f"g{g}", s, y) for s, y in data]
    # degenerate: single dose level -> z NULL
    rows += [("one", 2, 1), ("one", 2, 0)]
    df = spark.createDataFrame(rows, "g string, dose long, y long")
    got = {r.g: r for r in cochran_armitage(
        df, dose_col="dose", label_col="y",
        group_cols=["g"]).collect()}
    for g, (N, R, A, B, z) in expect.items():
        r = got[g]
        assert (r.n, r.cases, int(r.a_stat), int(r.b_stat)) == \
            (N, R, A, B)
        if z is None:
            assert r.z is None
        else:
            assert r.z == pytest.approx(z, rel=1e-12)
    assert got["one"].z is None


def test_cochran_armitage_rejects_bad_label(spark):
    from kml2geojson_spark.relational import cochran_armitage

    df = spark.createDataFrame([("g", 1, 2)],
                               "g string, dose long, y long")
    with pytest.raises(Exception, match="0/1"):
        cochran_armitage(df, dose_col="dose", label_col="y",
                         group_cols=["g"]).collect()


# ---------------------------------------------------------------------------
# durbin_watson
# ---------------------------------------------------------------------------

def _brute_dw(pts):
    n = len(pts)
    st = sum(t for t, _ in pts)
    sy = sum(y for _, y in pts)
    stt = sum(t * t for t, _ in pts)
    sty = sum(t * y for t, y in pts)
    den = n * stt - st * st
    if den <= 0:
        return None
    b = (n * sty - st * sy) / den
    a = (sy - b * st) / n
    em = [math.floor((y - (a + b * t)) * 1000.0 + 0.5)
          for t, y in sorted(pts)]
    se2 = sum(e * e for e in em)
    if n < 3 or se2 == 0:
        return None
    sd2 = sum((em[i] - em[i - 1]) ** 2 for i in range(1, len(em)))
    return sd2 / se2


def test_durbin_watson_matches_brute(spark):
    from kml2geojson_spark.relational import durbin_watson

    rng = np.random.default_rng(23)
    rows, expect = [], {}
    for g in range(6):
        n = int(rng.integers(3, 40))
        ts = sorted(rng.choice(500, size=n, replace=False).tolist())
        ys = [int(3 * t + rng.integers(-40, 41)) for t in ts]
        pts = list(zip(ts, ys))
        expect[f"g{g}"] = _brute_dw(pts)
        rows += [(f"g{g}", t, y) for t, y in pts]
    df = spark.createDataFrame(rows, "g string, t long, y long")
    got = {r.g: r.dw for r in durbin_watson(
        df, y_col="y", t_col="t", group_cols=["g"]).collect()}
    for g, dw in expect.items():
        if dw is None:
            assert got[g] is None
        else:
            assert got[g] == pytest.approx(dw, rel=1e-12)


def test_durbin_watson_alternating_residuals(spark):
    from kml2geojson_spark.relational import durbin_watson

    # residuals alternate +-1 around a flat line: DW -> ~4
    rows = [("g", t, 100 + (1 if t % 2 == 0 else -1))
            for t in range(40)]
    df = spark.createDataFrame(rows, "g string, t long, y long")
    r = durbin_watson(df, y_col="y", t_col="t",
                      group_cols=["g"]).collect()[0]
    assert r.dw is not None and r.dw > 3.5


# ---------------------------------------------------------------------------
# cliffs_delta
# ---------------------------------------------------------------------------

def _brute_cliffs(a_vals, b_vals):
    gt = sum(1 for a in a_vals for b in b_vals if a > b)
    lt = sum(1 for a in a_vals for b in b_vals if a < b)
    return (gt - lt), (gt - lt) / (len(a_vals) * len(b_vals))


def test_cliffs_delta_matches_brute(spark):
    from kml2geojson_spark.relational import cliffs_delta

    rng = np.random.default_rng(29)
    rows, expect = [], {}
    for g in range(6):
        na, nb = int(rng.integers(2, 25)), int(rng.integers(2, 25))
        a = rng.integers(0, 10, size=na).tolist()   # ties guaranteed
        b = rng.integers(0, 10, size=nb).tolist()
        expect[f"g{g}"] = (na, nb) + _brute_cliffs(a, b)
        rows += [(f"g{g}", int(v), 1) for v in a]
        rows += [(f"g{g}", int(v), 0) for v in b]
    df = spark.createDataFrame(rows, "g string, v long, f long")
    got = {r.g: r for r in cliffs_delta(
        df, value_col="v", flag_col="f", group_cols=["g"]).collect()}
    for g, (na, nb, num, delta) in expect.items():
        r = got[g]
        assert (r.n_a, r.n_b, r.delta_num) == (na, nb, num)
        assert r.delta == pytest.approx(delta, rel=1e-12)


def test_cliffs_delta_magnitude_bands(spark):
    from kml2geojson_spark.relational import cliffs_delta

    rows = ([("sep", v, 1) for v in (10, 11, 12)]
            + [("sep", v, 0) for v in (1, 2, 3)]       # delta = 1
            + [("same", v, 1) for v in (5, 5)]
            + [("same", v, 0) for v in (5, 5)]          # delta = 0
            + [("onesided", 1, 1), ("onesided", 2, 1)])  # no B rows
    df = spark.createDataFrame(rows, "g string, v long, f long")
    got = {r.g: r for r in cliffs_delta(
        df, value_col="v", flag_col="f", group_cols=["g"]).collect()}
    assert got["sep"].delta == 1.0 and got["sep"].magnitude == "large"
    assert got["same"].delta == 0.0
    assert got["same"].magnitude == "negligible"
    assert got["onesided"].delta is None


# ---------------------------------------------------------------------------
# boxplot_stats
# ---------------------------------------------------------------------------

def _brute_box(xs):
    s = sorted(xs)
    n = len(s)
    q1 = s[math.ceil(n / 4) - 1]
    med = s[math.floor((n + 1) / 2) - 1]
    q3 = s[math.ceil(3 * n / 4) - 1]
    iqr = q3 - q1
    lo, hi = q1 - 1.5 * iqr, q3 + 1.5 * iqr
    return (n, q1, med, q3, iqr,
            sum(1 for x in s if x < lo), sum(1 for x in s if x > hi))


def test_boxplot_stats_matches_brute(spark):
    from kml2geojson_spark.relational import boxplot_stats

    rng = np.random.default_rng(37)
    rows, expect = [], {}
    for g in range(7):
        n = int(rng.integers(1, 60))
        xs = rng.integers(-100, 101, size=n).tolist()
        if g == 0:
            xs += [10_000, -10_000]        # guaranteed outliers
        expect[f"g{g}"] = _brute_box(xs)
        rows += [(f"g{g}", int(x)) for x in xs]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r.g: (r.n, r.q1, r.median, r.q3, r.iqr, r.n_low, r.n_high)
           for r in boxplot_stats(df, value_col="v",
                                  group_cols=["g"]).collect()}
    assert got == expect
    assert got["g0"][5] >= 1 and got["g0"][6] >= 1


# ---------------------------------------------------------------------------
# fd_violations
# ---------------------------------------------------------------------------

def test_fd_violations(spark):
    from kml2geojson_spark.quality import fd_violations

    rows = [(1, "US", "a"), (1, "US", "b"),      # clean key 1
            (2, "US", "a"), (2, "DE", "a"),      # violating key 2
            (3, None, "a"), (3, "FR", "a"),      # NULL is a variant
            (None, "GB", "a")]                   # NULL key dropped
    df = spark.createDataFrame(rows, "uid int, country string, x string")
    got = {r.uid: (r.n_variants, r.n_rows)
           for r in fd_violations(df, key_cols=["uid"],
                                  dep_cols=["country"]).collect()}
    # countDistinct skips NULL structs? struct(NULL) is non-null, so
    # key 3 has 2 variants (NULL-country struct counts)
    assert got == {2: (2, 2), 3: (2, 2)}


# ---------------------------------------------------------------------------
# source_mix_weights
# ---------------------------------------------------------------------------

def test_source_mix_weights(spark):
    from kml2geojson_spark.textops import source_mix_weights

    rows = [("web",)] * 400 + [("books",)] * 100 + [("code",)] * 25
    df = spark.createDataFrame(rows, "source string")
    got = {r.source: r for r in source_mix_weights(
        df, target_total=1000).collect()}
    # sqrt weights: 20 : 10 : 5 -> 4/7, 2/7, 1/7
    assert got["web"].w_micro == 20_000_000
    assert got["books"].w_micro == 10_000_000
    assert got["code"].w_micro == 5_000_000
    assert got["web"].weight == pytest.approx(4 / 7)
    assert got["code"].target_docs == round(1000 / 7)
    assert sum(r.weight for r in got.values()) == pytest.approx(1.0)
    # upsampling: code's share of docs is 25/525 ~ 4.8%, weight 14.3%
    assert got["code"].weight > 25 / 525


# ---------------------------------------------------------------------------
# chao1_richness
# ---------------------------------------------------------------------------

def test_chao1_matches_brute(spark):
    from collections import Counter

    from kml2geojson_spark.textops import chao1_richness

    docs = [("en", "the cat sat on the mat"),
            ("en", "the dog sat alone"),
            ("fr", "le chat le chien")]
    df = spark.createDataFrame(docs, "lang string, text string")
    expect = {}
    for lang in ("en", "fr"):
        c = Counter(t for lg, txt in docs if lg == lang
                    for t in txt.lower().split(" ") if t)
        d = len(c)
        f1 = sum(1 for v in c.values() if v == 1)
        f2 = sum(1 for v in c.values() if v == 2)
        expect[lang] = (sum(c.values()), d, f1, f2,
                        d + f1 * (f1 - 1) / (2 * (f2 + 1)))
    got = {r.lang: (r.n_tokens, r.distinct_tokens, r.f1, r.f2, r.chao1)
           for r in chao1_richness(df, group_cols=["lang"]).collect()}
    for lang, (nt, d, f1, f2, c1) in expect.items():
        assert got[lang][:4] == (nt, d, f1, f2)
        assert got[lang][4] == pytest.approx(c1, rel=1e-12)


# ---------------------------------------------------------------------------
# mood_median_test
# ---------------------------------------------------------------------------

def _brute_mood(groups):
    allv = sorted(v for vs in groups.values() for v in vs)
    n = len(allv)
    med = allv[(n + 1) // 2 - 1]
    a_tot = sum(1 for v in allv if v > med)
    b_tot = n - a_tot
    out = {}
    chi2 = 0
    for g, vs in groups.items():
        ng = len(vs)
        oa = sum(1 for v in vs if v > med)
        ob = ng - oa
        ea = ng * a_tot / n
        eb = ng * b_tot / n
        c = (oa - ea) ** 2 / ea + (ob - eb) ** 2 / eb
        cm = math.floor(c * 1e6 + 0.5)
        out[g] = (ng, oa, cm)
        chi2 += cm
    return out, chi2


def test_mood_median_matches_brute(spark):
    from kml2geojson_spark.relational import mood_median_test

    rng = np.random.default_rng(43)
    groups = {f"g{i}": (rng.integers(0, 50, size=int(rng.integers(5, 40)))
                        + 5 * i).tolist()
              for i in range(4)}
    rows = [(g, int(v)) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    want, chi2 = _brute_mood(groups)
    got = {r.g: r for r in mood_median_test(
        df, value_col="v", group_col="g").collect()}
    for g, (ng, oa, cm) in want.items():
        assert (got[g].n, got[g].n_above, got[g].contrib_micro) == \
            (ng, oa, cm)
        assert got[g].chi2_micro == chi2 and got[g].k == 4


def test_mood_median_degenerate_all_equal(spark):
    from kml2geojson_spark.relational import mood_median_test

    df = spark.createDataFrame([("a", 5)] * 4 + [("b", 5)] * 4,
                               "g string, v long")
    got = mood_median_test(df, value_col="v", group_col="g").collect()
    assert all(r.contrib_micro is None for r in got)


# ---------------------------------------------------------------------------
# page_trend_test
# ---------------------------------------------------------------------------

def test_page_trend_detects_monotone(spark):
    from kml2geojson_spark.relational import page_trend_test

    # 10 blocks, 4 treatments with a strict rise: L is maximal
    rows = [(f"b{b}", f"t{j}", 10 * j + b)
            for b in range(10) for j in range(1, 5)]
    df = spark.createDataFrame(rows, "b string, tr string, v long")
    r = page_trend_test(df, block_col="b", treatment_col="tr",
                        value_col="v").collect()[0]
    # perfect trend: R_j = 10*j, L = sum j*10*j = 300; l2 = 600
    assert (r.k_treatments, r.n_blocks, r.l2_stat) == (4, 10, 600)
    # z = (L - mu)/sigma, mu = 10*4*25/4 = 250, var = 10*16*5*15/144
    mu, var = 250.0, 10 * 16 * 5 * 15 / 144.0
    assert r.z == pytest.approx((300 - mu) / math.sqrt(var), rel=1e-12)
    assert r.z > 4


def test_page_trend_null_and_incomplete(spark):
    from kml2geojson_spark.relational import page_trend_test

    rng = np.random.default_rng(47)
    rows = [(f"b{b}", f"t{j}", int(rng.integers(0, 100)))
            for b in range(8) for j in range(1, 4)]
    rows += [("partial", "t1", 5)]
    df = spark.createDataFrame(rows, "b string, tr string, v long")
    r = page_trend_test(df, block_col="b", treatment_col="tr",
                        value_col="v").collect()[0]
    assert r.n_blocks == 8 and r.k_treatments == 3
    assert abs(r.z) < 3        # no systematic trend


# ---------------------------------------------------------------------------
# track_distances
# ---------------------------------------------------------------------------

def test_track_distances_known_geometry(spark):
    from kml2geojson_spark.spatial.ops import (EARTH_RADIUS_M,
                                               track_distances)

    # path along the equator; point at lat 1 deg, lon 45: cross-track
    # ~ 1 deg of arc (LEFT of the eastward path -> negative),
    # along-track ~ 45 deg of arc
    df = spark.createDataFrame([(1.0, 45.0)], "plat double, plon double")
    xt, at = track_distances(F.lit(0.0), F.lit(0.0), F.lit(0.0),
                             F.lit(90.0), F.col("plat"), F.col("plon"))
    r = df.select(xt.alias("xt"), at.alias("at")).collect()[0]
    deg_m = math.pi / 180.0 * EARTH_RADIUS_M
    assert r.xt == pytest.approx(-deg_m, rel=1e-3)
    assert r.at == pytest.approx(45 * deg_m, rel=1e-3)
    # point exactly on the path: xt ~ 0
    df0 = spark.createDataFrame([(0.0, 30.0)], "plat double, plon double")
    xt0, at0 = track_distances(F.lit(0.0), F.lit(0.0), F.lit(0.0),
                               F.lit(90.0), F.col("plat"),
                               F.col("plon"))
    r0 = df0.select(xt0.alias("xt"), at0.alias("at")).collect()[0]
    assert abs(r0.xt) < 1e-6
    assert r0.at == pytest.approx(30 * deg_m, rel=1e-9)


def test_track_distances_sql_twin_matches(spark):
    import duckdb

    from kml2geojson_spark.spatial.ops import (track_distances,
                                               track_distances_sql)

    rng = np.random.default_rng(53)
    pts = [(float(a), float(b))
           for a, b in zip(rng.uniform(-80, 80, 40),
                           rng.uniform(-170, 170, 40))]
    df = spark.createDataFrame(pts, "plat double, plon double")
    xt, at = track_distances(F.lit(10.0), F.lit(-20.0), F.lit(35.0),
                             F.lit(60.0), F.col("plat"), F.col("plon"))
    got = (df.select(F.floor(xt + F.lit(0.5)).cast("long").alias("x"),
                     F.floor(at + F.lit(0.5)).cast("long").alias("a"))
           .collect())
    xe, ae = track_distances_sql("10.0", "-20.0", "35.0", "60.0",
                                 "plat", "plon")
    con = duckdb.connect()
    con.execute("CREATE TABLE p(plat DOUBLE, plon DOUBLE)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pts)
    want = con.execute(
        f"SELECT CAST(FLOOR({xe} + 0.5) AS BIGINT), "
        f"CAST(FLOOR({ae} + 0.5) AS BIGINT) FROM p").fetchall()
    assert [(r.x, r.a) for r in got] == [tuple(w) for w in want]


# ---------------------------------------------------------------------------
# stream_shot_boundaries
# ---------------------------------------------------------------------------

def test_stream_shot_boundaries_batch_parity(spark, tmp_path):
    import glob
    import os

    from kml2geojson_spark.multimodal import shot_boundaries
    from kml2geojson_spark.streaming import stream_shot_boundaries

    rng = np.random.default_rng(59)
    rows = []
    for m in range(4):
        s = 1000
        for i in range(12):
            s += int(rng.integers(-500, 501)) + (5000 if i == 6 else 0)
            rows.append((f"m{m}", i, s))
    df = spark.createDataFrame(
        rows, "media_ref string, frame_idx int, byte_sum long")
    ref = {(r.media_ref, r.frame_idx): (r.jump, r.is_boundary)
           for r in shot_boundaries(df, threshold=2000).collect()}

    src = str(tmp_path / "frames")
    first = df.where(F.col("frame_idx") < 6)
    rest = df.where(F.col("frame_idx") >= 6)
    first.coalesce(1).write.parquet(src)
    f1 = set(glob.glob(src + "/*.parquet"))
    rest.coalesce(1).write.mode("append").parquet(src)
    later = max(os.path.getmtime(f) for f in f1) + 10
    for f in set(glob.glob(src + "/*.parquet")) - f1:
        os.utime(f, (later, later))

    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = stream_shot_boundaries(stream, threshold=2000)
    q = (out.writeStream.format("memory").queryName("shot_mem")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "shotck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.media_ref, r.frame_idx): (r.jump, r.is_boundary)
           for r in spark.sql("SELECT * FROM shot_mem").collect()}
    assert got == ref


# ---------------------------------------------------------------------------
# raster_peaks
# ---------------------------------------------------------------------------

def test_raster_peaks_matches_brute(spark):
    from kml2geojson_spark.spatial.ops import raster_peaks

    rng = np.random.default_rng(61)
    cells = {(int(x), int(y)): int(n) for x, y, n in
             zip(rng.integers(0, 12, 80), rng.integers(0, 12, 80),
                 rng.integers(1, 50, 80))}
    want = {}
    for (x, y), n in cells.items():
        nbr = max((cells.get((x + dx, y + dy), 0)
                   for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                   if (dx, dy) != (0, 0)), default=0)
        if n > 0 and n > nbr:
            want[(x, y)] = (n, nbr)
    df = spark.createDataFrame(
        [(x, y, n) for (x, y), n in cells.items()],
        "cx long, cy long, n long")
    got = {(r.cx, r.cy): (r.n, r.nbr_max)
           for r in raster_peaks(df).collect()}
    assert got == want


def test_raster_peaks_plateau_not_peak(spark):
    from kml2geojson_spark.spatial.ops import raster_peaks

    # two adjacent equal cells: neither is a peak; isolated cell is
    rows = [(0, 0, 5), (0, 1, 5), (10, 10, 1)]
    df = spark.createDataFrame(rows, "cx long, cy long, n long")
    got = {(r.cx, r.cy) for r in raster_peaks(df).collect()}
    assert got == {(10, 10)}


# ---------------------------------------------------------------------------
# lead_lag_corr
# ---------------------------------------------------------------------------

def test_lead_lag_corr_finds_true_lag(spark):
    from kml2geojson_spark.relational import lead_lag_corr

    rng = np.random.default_rng(67)
    xs = rng.integers(-50, 51, size=120).tolist()
    # y follows x with lag 3 (y_t = x_{t-3}): corr(x_t, y_{t+3}) = 1
    ys = [0, 0, 0] + xs[:-3]
    rows = [("g", t, int(x), int(y))
            for t, (x, y) in enumerate(zip(xs, ys))]
    df = spark.createDataFrame(rows, "g string, t long, x long, y long")
    got = {r.lag: r for r in lead_lag_corr(
        df, x_col="x", y_col="y", order_col="t", group_cols=["g"],
        max_lag=4).collect()}
    assert set(got) == set(range(-4, 5))
    assert got[3].corr == pytest.approx(1.0)
    assert all(abs(got[k].corr) < 0.5 for k in got
               if k != 3 and got[k].corr is not None)
    # overlap counts shrink with |lag|
    assert got[4].n == 116 and got[0].n == 120 and got[-4].n == 116


def test_lead_lag_corr_matches_numpy(spark):
    from kml2geojson_spark.relational import lead_lag_corr

    rng = np.random.default_rng(71)
    xs = rng.integers(0, 100, size=40)
    ys = rng.integers(0, 100, size=40)
    rows = [("g", t, int(x), int(y))
            for t, (x, y) in enumerate(zip(xs, ys))]
    df = spark.createDataFrame(rows, "g string, t long, x long, y long")
    got = {r.lag: r.corr for r in lead_lag_corr(
        df, x_col="x", y_col="y", order_col="t", group_cols=["g"],
        max_lag=2).collect()}
    for k in range(-2, 3):
        if k >= 0:
            a, b = xs[:40 - k], ys[k:]
        else:
            a, b = xs[-k:], ys[:40 + k]
        want = float(np.corrcoef(a, b)[0, 1])
        assert got[k] == pytest.approx(want, rel=1e-12)


# ---------------------------------------------------------------------------
# elbow_point
# ---------------------------------------------------------------------------

def test_elbow_point_on_l_curve(spark):
    from kml2geojson_spark.relational import elbow_point

    # classic L-curve: steep drop then flat -> elbow at the corner
    pts = [(1, 100), (2, 40), (3, 15), (4, 12), (5, 10), (6, 9)]
    df = spark.createDataFrame([("g", x, y) for x, y in pts],
                               "g string, x long, y long")
    r = elbow_point(df, x_col="x", y_col="y",
                    group_cols=["g"]).collect()[0]
    assert (r.elbow_x, r.elbow_y) == (3, 15)
    # brute check of the cross statistic
    x1, y1, x2, y2 = 1, 100, 6, 9
    want = max(abs((x2 - x1) * (y1 - y) - (x1 - x) * (y2 - y1))
               for x, y in pts)
    assert r.cross_stat == want


def test_elbow_point_small_groups_dropped(spark):
    from kml2geojson_spark.relational import elbow_point

    df = spark.createDataFrame([("a", 1, 10), ("a", 2, 5)],
                               "g string, x long, y long")
    assert elbow_point(df, x_col="x", y_col="y",
                       group_cols=["g"]).count() == 0


# ---------------------------------------------------------------------------
# sequence_gaps
# ---------------------------------------------------------------------------

def test_sequence_gaps(spark):
    from kml2geojson_spark.relational import sequence_gaps

    rows = [("a", i) for i in [1, 2, 3, 7, 8, 12]]    # gaps 4-6, 9-11
    rows += [("b", i) for i in [5, 5, 6]]             # dup, no gap
    df = spark.createDataFrame(rows, "g string, i long")
    got = {(r.g, r.gap_start, r.gap_end, r.gap_len)
           for r in sequence_gaps(df, id_col="i",
                                  group_cols=["g"]).collect()}
    assert got == {("a", 4, 6, 3), ("a", 9, 11, 3)}


# ---------------------------------------------------------------------------
# quadkey
# ---------------------------------------------------------------------------

def _brute_quadkey(ix, iy, z):
    out = []
    for i in range(1, z + 1):
        shift = z - i
        out.append(str(((ix >> shift) & 1) + 2 * ((iy >> shift) & 1)))
    return "".join(out)


def test_quadkey_matches_brute_and_sql(spark):
    import duckdb

    from kml2geojson_spark.spatial.cells import quadkey_col, quadkey_sql

    rng = np.random.default_rng(73)
    tiles = [(int(a), int(b)) for a, b in
             zip(rng.integers(0, 256, 50), rng.integers(0, 256, 50))]
    df = spark.createDataFrame(tiles, "ix long, iy long")
    got = [r.qk for r in df.select(
        quadkey_col(F.col("ix"), F.col("iy"), 8).alias("qk")).collect()]
    assert got == [_brute_quadkey(ix, iy, 8) for ix, iy in tiles]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(ix BIGINT, iy BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", tiles)
    want = [r[0] for r in con.execute(
        f"SELECT {quadkey_sql('ix', 'iy', 8)} FROM t").fetchall()]
    assert got == want


def test_quadkey_prefix_is_parent(spark):
    from kml2geojson_spark.spatial.cells import quadkey_col

    df = spark.createDataFrame([(180, 41)], "ix long, iy long")
    r = df.select(
        quadkey_col(F.col("ix"), F.col("iy"), 8).alias("q8"),
        quadkey_col(F.shiftright(F.col("ix"), 2),
                    F.shiftright(F.col("iy"), 2), 6).alias("q6")) \
        .collect()[0]
    assert r.q8.startswith(r.q6)
    with pytest.raises(ValueError, match="z must"):
        quadkey_col(F.col("ix"), F.col("iy"), 0)


# ---------------------------------------------------------------------------
# sn_scale
# ---------------------------------------------------------------------------

def _brute_sn(xs):
    n = len(xs)
    meds = []
    for i, xi in enumerate(xs):
        ds = sorted(abs(xi - xj) for j, xj in enumerate(xs) if j != i)
        meds.append(ds[(len(ds)) // 2])        # high median rank m//2+1
    meds.sort()
    raw = meds[(n + 1) // 2 - 1]               # low median
    return n, raw, raw * 1.1926


def test_sn_scale_matches_brute(spark):
    from kml2geojson_spark.relational import sn_scale

    rng = np.random.default_rng(83)
    rows, expect = [], {}
    for g in range(6):
        n = int(rng.integers(2, 25))
        xs = rng.integers(-100, 101, size=n).tolist()
        expect[f"g{g}"] = _brute_sn(xs)
        rows += [(f"g{g}", i, int(x)) for i, x in enumerate(xs)]
    rows += [("solo", 0, 5)]
    df = spark.createDataFrame(rows, "g string, i long, v long")
    got = {r.g: (r.n, r.sn_raw, r.sn) for r in sn_scale(
        df, value_col="v", order_cols="i", group_cols=["g"]).collect()}
    assert "solo" not in got
    for g, (n, raw, sn) in expect.items():
        assert got[g][0] == n and got[g][1] == raw
        assert got[g][2] == pytest.approx(sn, rel=1e-12)


def test_sn_scale_outlier_robust(spark):
    from kml2geojson_spark.relational import sn_scale

    # tight cluster + one wild outlier: Sn stays near the cluster
    rows = [("g", i, v) for i, v in
            enumerate([10, 11, 12, 13, 14, 15, 1_000_000])]
    df = spark.createDataFrame(rows, "g string, i long, v long")
    r = sn_scale(df, value_col="v", order_cols="i",
                 group_cols=["g"]).collect()[0]
    assert r.sn_raw <= 5


# ---------------------------------------------------------------------------
# canonical_url
# ---------------------------------------------------------------------------

def test_canonical_url_normalizations(spark):
    from kml2geojson_spark.netops import canonical_url_col

    cases = [
        ("HTTP://Example.COM:80/a/?utm_source=x&b=2&a=1#frag",
         "http://example.com/a?a=1&b=2"),
        ("https://Host.io:443/", "https://host.io/"),
        ("https://host.io", "https://host.io/"),
        ("https://h.io/p/?gclid=1&fbclid=2&utm_campaign=z",
         "https://h.io/p"),
        ("ftp://X.org:80/f.bin", "ftp://x.org:80/f.bin"),
        ("not-a-url", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(
        canonical_url_col("url").alias("c")).collect()]
    assert got == [w for _, w in cases]


def test_canonical_url_sql_twin_matches(spark):
    import duckdb

    from kml2geojson_spark.netops import (canonical_url_col,
                                          canonical_url_sql)

    urls = [
        "HTTP://A.com:80/x/y/?utm_a=1&z=9&y=8#f",
        "https://B.org:443/only/",
        "https://c.net/p?a=1&utm_b=2",
        "http://d.io",
        "weird",
        "scheme://UPPER.HOST/Path/?b=2&a=3&fbclid=zz",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r.c for r in df.select(
        canonical_url_col("url").alias("c")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE u(url VARCHAR)")
    con.executemany("INSERT INTO u VALUES (?)", [(u,) for u in urls])
    want = [r[0] for r in con.execute(
        f"SELECT {canonical_url_sql('url')} FROM u").fetchall()]
    assert got == want


# ---------------------------------------------------------------------------
# cochran_q
# ---------------------------------------------------------------------------

def test_cochran_q_matches_brute(spark):
    from kml2geojson_spark.relational import cochran_q

    rng = np.random.default_rng(89)
    trs = ["t1", "t2", "t3"]
    rows, blocks = [], []
    for b in range(20):
        d = {t: int(rng.random() < (0.3 + 0.2 * i))
             for i, t in enumerate(trs)}
        blocks.append(d)
        rows += [(f"b{b}", t, v) for t, v in d.items()]
    rows += [("partial", "t1", 1)]
    df = spark.createDataFrame(rows, "b string, tr string, y long")
    r = cochran_q(df, block_col="b", treatment_col="tr",
                  label_col="y").collect()[0]
    k = 3
    gj = {t: sum(b[t] for b in blocks) for t in trs}
    li = [sum(b.values()) for b in blocks]
    N = sum(gj.values())
    num = (k - 1) * (k * sum(g * g for g in gj.values()) - N * N)
    den = k * N - sum(x * x for x in li)
    assert (r.k_treatments, r.n_blocks, r.grand_total) == (3, 20, N)
    if den > 0:
        assert r.q_stat == pytest.approx(num / den, rel=1e-12)


def test_cochran_q_degenerate(spark):
    from kml2geojson_spark.relational import cochran_q

    # every block all-1: denominator 0 -> NULL
    rows = [(f"b{b}", t, 1) for b in range(4) for t in ("x", "y")]
    df = spark.createDataFrame(rows, "b string, tr string, y long")
    r = cochran_q(df, block_col="b", treatment_col="tr",
                  label_col="y").collect()[0]
    assert r.q_stat is None
    bad = spark.createDataFrame([("b", "t", 2)],
                                "b string, tr string, y long")
    with pytest.raises(Exception, match="0/1"):
        cochran_q(bad, block_col="b", treatment_col="tr",
                  label_col="y").collect()


# ---------------------------------------------------------------------------
# poisson_dispersion
# ---------------------------------------------------------------------------

def test_poisson_dispersion_matches_numpy(spark):
    from kml2geojson_spark.relational import poisson_dispersion

    rng = np.random.default_rng(97)
    rows, expect = [], {}
    # poisson group ~ D near 1; clumped group (negative-binomial-ish)
    pois = rng.poisson(5, size=200).tolist()
    clump = (rng.poisson(1, size=200) * rng.integers(0, 8, 200)).tolist()
    for g, xs in (("pois", pois), ("clump", clump)):
        a = np.array(xs, dtype=float)
        expect[g] = (len(xs), a.mean(),
                     a.var(ddof=1) / a.mean(),
                     (len(xs) - 1) * a.var(ddof=1) / a.mean())
        rows += [(g, int(x)) for x in xs]
    df = spark.createDataFrame(rows, "g string, c long")
    got = {r.g: r for r in poisson_dispersion(
        df, count_col="c", group_cols=["g"]).collect()}
    for g, (n, mean, d, chi) in expect.items():
        assert got[g].n == n
        assert got[g].mean == pytest.approx(mean, rel=1e-12)
        assert got[g].dispersion == pytest.approx(d, rel=1e-12)
        assert got[g].chi2_stat == pytest.approx(chi, rel=1e-12)
    assert got["clump"].dispersion > 1.5 > got["pois"].dispersion * 0.9


def test_poisson_dispersion_degenerate(spark):
    from kml2geojson_spark.relational import poisson_dispersion

    df = spark.createDataFrame([("z", 0), ("z", 0), ("one", 3)],
                               "g string, c long")
    got = {r.g: r for r in poisson_dispersion(
        df, count_col="c", group_cols=["g"]).collect()}
    assert got["z"].dispersion is None      # mean 0
    assert got["one"].dispersion is None    # n < 2


# ---------------------------------------------------------------------------
# holm_adjust
# ---------------------------------------------------------------------------

def test_holm_matches_statsmodels_formula(spark):
    from kml2geojson_spark.relational import holm_adjust

    ps = [0.01, 0.04, 0.03, 0.005, 0.8, 0.2]
    df = spark.createDataFrame(
        [(f"t{i}", p) for i, p in enumerate(ps)],
        "tid string, p double")
    got = {r.test_id: r for r in holm_adjust(
        df, p_col="p", test_id_col="tid").collect()}
    # brute holm
    order = sorted(range(len(ps)), key=lambda i: (ps[i], f"t{i}"))
    m = len(ps)
    run = 0.0
    want = {}
    for r_, i in enumerate(order):
        run = max(run, (m - r_) * ps[i])
        want[f"t{i}"] = min(1.0, run)
    for tid, adj in want.items():
        assert got[tid].adj_p == pytest.approx(adj, rel=1e-12)
    assert got["t3"].rank == 1 and got["t4"].adj_p == pytest.approx(0.8)
    assert got["t3"].significant and not got["t4"].significant


def test_holm_monotone_in_rank(spark):
    from kml2geojson_spark.relational import holm_adjust

    rng = np.random.default_rng(101)
    ps = rng.uniform(0, 1, 30).round(4).tolist()
    df = spark.createDataFrame(
        [(f"t{i}", float(p)) for i, p in enumerate(ps)],
        "tid string, p double")
    rows = sorted(holm_adjust(df, p_col="p",
                              test_id_col="tid").collect(),
                  key=lambda r: r.rank)
    for a, b in zip(rows, rows[1:]):
        assert a.adj_p <= b.adj_p + 1e-15
