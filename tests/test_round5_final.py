"""Round-5 final-session operators: cooccurrence_pairs (q138) and
session_path_counts (q139) — post-pin registrations, in-repo oracle
sweep evidence."""

from __future__ import annotations

from datetime import datetime
from itertools import combinations

import numpy as np
import pytest

from kml2geojson_spark.relational import cooccurrence_pairs
from kml2geojson_spark.eventops import session_path_counts


# ------------------------------------------------------- cooccurrence


def _baskets(spark, rows):
    return spark.createDataFrame(rows, "bk long, it long")


def test_cooccurrence_hand(spark):
    df = _baskets(spark, [(1, 10), (1, 11), (1, 10),   # dup item ignored
                          (2, 10), (2, 11), (2, 12),
                          (3, 10), (None, 9), (4, None)])
    got = {(r["item_a"], r["item_b"]): r["n_baskets"]
           for r in cooccurrence_pairs(
               df, basket_col="bk", item_col="it").collect()}
    assert got == {(10, 11): 2, (10, 12): 1, (11, 12): 1}


def test_cooccurrence_min_count_and_max_basket(spark):
    df = _baskets(spark, [(1, 10), (1, 11),
                          (2, 10), (2, 11),
                          (3, 10), (3, 11), (3, 12)])  # whale if max=2
    got = cooccurrence_pairs(df, basket_col="bk", item_col="it",
                             min_count=2).collect()
    assert {(r["item_a"], r["item_b"], r["n_baskets"])
            for r in got} == {(10, 11, 3)}
    got = cooccurrence_pairs(df, basket_col="bk", item_col="it",
                             max_basket=2).collect()
    assert {(r["item_a"], r["item_b"], r["n_baskets"])
            for r in got} == {(10, 11, 2)}
    with pytest.raises(ValueError):
        cooccurrence_pairs(df, basket_col="bk", item_col="it", min_count=0)


def test_cooccurrence_matches_brute(spark):
    rng = np.random.default_rng(138)
    rows = [(int(rng.integers(0, 40)), int(rng.integers(0, 15)))
            for _ in range(400)]
    want = {}
    baskets = {}
    for bk, it in rows:
        baskets.setdefault(bk, set()).add(it)
    for items in baskets.values():
        for a, b in combinations(sorted(items), 2):
            want[(a, b)] = want.get((a, b), 0) + 1
    got = {(r["item_a"], r["item_b"]): r["n_baskets"]
           for r in cooccurrence_pairs(
               _baskets(spark, rows), basket_col="bk",
               item_col="it").collect()}
    assert got == want


# ---------------------------------------------------- session paths


def _events(spark, rows):
    return spark.createDataFrame(
        [(u, datetime.fromtimestamp(t), i, ty) for u, t, i, ty in rows],
        "user_id long, ts timestamp, event_id long, event_type string")


def test_session_paths_hand(spark):
    rows = [
        (1, 1000, 1, "a"), (1, 1100, 2, "b"),      # session 1: a>b
        (1, 9000, 3, "a"), (1, 9100, 4, "c"),      # session 2: a>c
        (2, 1000, 5, "a"), (2, 1000, 6, "b"),      # tie ts → id order: a>b
        (None, 1000, 7, "z"),
    ]
    got = {r["path"]: r["n_sessions"]
           for r in session_path_counts(
               _events(spark, rows), gap_seconds=1800).collect()}
    assert got == {"a>b": 2, "a>c": 1}


def test_session_paths_truncation_and_gap_edge(spark):
    rows = [(1, 1000 + 100 * k, k, "e%d" % k) for k in range(8)]
    # gap exactly gap_seconds stays in-session
    rows.append((1, 1700 + 1800, 99, "tail"))
    got = {r["path"]: r["n_sessions"]
           for r in session_path_counts(
               _events(spark, rows), gap_seconds=1800,
               max_len=3).collect()}
    assert got == {"e0>e1>e2": 1}


# ------------------------------------------------- fuzzy decontamination


from kml2geojson_spark.textops import (decontaminate_near,
                                       simhash_sql_signatures)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_near_exact_copy_flagged(spark):
    bench = _docs(spark, [(100, "the quick brown fox jumps")])
    corpus = _docs(spark, [
        (1, "the quick brown fox jumps"),          # identical → h=0
        (2, "completely unrelated words entirely zebra")])
    got = {(r["doc_id"], r["min_hamming"])
           for r in decontaminate_near(corpus, bench).collect()}
    assert (1, 0) in got
    assert all(d != 2 for d, _ in got)


def test_decontaminate_near_matches_brute(spark):
    import numpy as np
    rng = np.random.default_rng(140)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
             "theta", "iota", "kappa", "lam", "mu", "nu", "xi"]
    def mk(n, base):
        return [(base + k, " ".join(rng.choice(vocab,
                                               size=rng.integers(3, 9))))
                for k in range(n)]
    corpus_rows, bench_rows = mk(60, 0), mk(12, 1000)
    corpus, bench = _docs(spark, corpus_rows), _docs(spark, bench_rows)
    sig_c = {r["doc_id"]: r["sig"]
             for r in simhash_sql_signatures(corpus).collect()}
    sig_b = [r["sig"] for r in simhash_sql_signatures(bench).collect()]
    want = {}
    for d, s in sig_c.items():
        hmin = min(bin(s ^ sb).count("1") for sb in sig_b)
        if hmin <= 3:
            want[d] = hmin
    got = {r["doc_id"]: r["min_hamming"]
           for r in decontaminate_near(corpus, bench).collect()}
    assert got == want


def test_decontaminate_near_validates(spark):
    d = _docs(spark, [(1, "x")])
    with pytest.raises(ValueError):
        decontaminate_near(d, d, max_hamming=4, bands=4)


# --- buffer_cells (per-id grid dilation) ------------------------------------

def test_buffer_cells_matches_kring_brute_force(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from kml2geojson_spark.spatial.cells import cell_encode_np, cell_kring_np
    from kml2geojson_spark.spatial.ops import buffer_cells
    rng = np.random.default_rng(5)
    res, radius = 5, 2
    lon = rng.uniform(-180, 180, 300)
    lat = rng.uniform(-90, 90, 300)
    ids = rng.integers(0, 6, 300)
    cells = cell_encode_np(lon, lat, res)
    rows = sorted({(int(i), int(c)) for i, c in zip(ids, cells)})
    df = spark.createDataFrame(rows, "line_id long, cell_id long")
    got = {(r["line_id"], r["cell_id"])
           for r in buffer_cells(df, res, radius).collect()}
    expect = {(i, int(nb)) for i, c in rows
              for nb in cell_kring_np(c, radius)}
    assert got == expect


def test_buffer_cells_radius_zero_identity_and_guards(spark):
    import pytest
    from pyspark.sql.utils import SparkUpgradeException
    from py4j.protocol import Py4JJavaError
    from kml2geojson_spark.spatial.cells import cell_encode_np
    from kml2geojson_spark.spatial.ops import buffer_cells
    c = int(cell_encode_np([10.0], [20.0], 6)[0])
    df = spark.createDataFrame([(1, c), (1, c), (2, c)],
                               "line_id long, cell_id long")
    out = {(r["line_id"], r["cell_id"])
           for r in buffer_cells(df, 6, 0).collect()}
    assert out == {(1, c), (2, c)}  # radius 0 = distinct identity
    with pytest.raises(ValueError):
        buffer_cells(df, 6, -1)
    with pytest.raises(Exception):  # wrong-resolution cell raises in-task
        buffer_cells(df, 7, 1).collect()


# --- convex_hull (two-level distributed monotone chain) ----------------------

def _in_conv_of_others(p, others):
    """Exact integer test: p in conv(others)? Carathéodory in 2-D —
    on a segment between two others, or (strictly) inside a triangle
    of others (edge cases covered by the segment test)."""
    from itertools import combinations

    def cross(a, b, c):
        return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])

    for a, b in combinations(others, 2):
        if (cross(a, b, p) == 0
                and min(a[0], b[0]) <= p[0] <= max(a[0], b[0])
                and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])):
            return True
    for a, b, c in combinations(others, 3):
        s1, s2, s3 = cross(a, b, p), cross(b, c, p), cross(c, a, p)
        if (s1 > 0 and s2 > 0 and s3 > 0) or (s1 < 0 and s2 < 0 and s3 < 0):
            return True
    return False


def test_convex_hull_brute_force_and_partition_invariance(spark):
    import random as _random
    from kml2geojson_spark.spatial.ops import convex_hull
    rng = _random.Random(17)
    rows = [(g, rng.randrange(-50, 51), rng.randrange(-50, 51))
            for g in range(5) for _ in range(25)]
    # force duplicates and a collinear run in group 0
    rows += [(0, 0, 0), (0, 0, 0), (0, -50, -50), (0, 50, 50)]
    df = spark.createDataFrame(rows, "group_id long, x long, y long")
    got = {}
    for r in convex_hull(df, group_col="group_id").collect():
        got.setdefault(r["group_id"], set()).add((r["x"], r["y"]))
    for g in range(5):
        pts = sorted({(x, y) for gg, x, y in rows if gg == g})
        expect = {p for p in pts
                  if not _in_conv_of_others(p, [q for q in pts if q != p])}
        assert got[g] == expect, g
    # hull is partitioning-invariant (lattice homomorphism)
    got1 = {(r["group_id"], r["x"], r["y"])
            for r in convex_hull(df.repartition(1)).collect()}
    got13 = {(r["group_id"], r["x"], r["y"])
             for r in convex_hull(df.repartition(13)).collect()}
    assert got1 == got13 == {(g, x, y) for g, s in got.items()
                             for x, y in s}


def test_convex_hull_degenerate_shapes(spark):
    from kml2geojson_spark.spatial.ops import convex_hull
    rows = ([(1, 0, 0)]                       # single point
            + [(2, 5, 5), (2, 5, 5)]          # duplicated point
            + [(3, i, 2 * i) for i in range(5)]   # all collinear
            + [(4, 0, 0), (4, 2, 0), (4, 2, 2), (4, 0, 2),
               (4, 1, 0), (4, 1, 1)])         # square + edge mid + interior
    df = spark.createDataFrame(rows, "group_id long, x long, y long")
    got = {}
    for r in convex_hull(df).collect():
        got.setdefault(r["group_id"], set()).add((r["x"], r["y"]))
    assert got[1] == {(0, 0)}
    assert got[2] == {(5, 5)}
    assert got[3] == {(0, 0), (4, 8)}
    assert got[4] == {(0, 0), (2, 0), (2, 2), (0, 2)}


def test_convex_hull_guards(spark):
    import pytest
    from kml2geojson_spark.spatial.ops import convex_hull
    df = spark.createDataFrame([(1, 0.5, 1.0)],
                               "group_id long, x double, y double")
    with pytest.raises(ValueError):
        convex_hull(df)
    dfn = spark.createDataFrame(
        [(None, 1, 1), (1, None, 2), (1, 3, 3)],
        "group_id long, x long, y long")
    out = [(r["group_id"], r["x"], r["y"])
           for r in convex_hull(dfn).collect()]
    assert out == [(1, 3, 3)]  # NULL key/coord rows dropped


# --- quantile_bucket_assign (sampled-boundary bucketing) ---------------------

def test_quantile_bucket_assign_matches_boundary_rule(spark):
    from kml2geojson_spark.sketch import (deterministic_sample,
                                          quantile_bucket_assign,
                                          sampled_quantiles)
    rows = [(i, (i * 7919 + 3) % 100_000) for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, v long")
    out = {r["id"]: r["bucket"]
           for r in quantile_bucket_assign(df, "v",
                                           n_buckets=10).collect()}
    qs = tuple(i / 10 for i in range(1, 10))
    bounds = sorted(r["value"] for r in
                    sampled_quantiles(df, "v", quantiles=qs).collect())
    assert len(bounds) == 9
    for i, v in rows:
        assert out[i] == sum(1 for b in bounds if b <= v), (i, v)
    # deciles are roughly balanced on near-uniform data
    from collections import Counter
    c = Counter(out.values())
    assert set(c) == set(range(10))
    assert max(c.values()) < 2.5 * min(c.values())


def test_quantile_bucket_assign_nulls_skew_and_guard(spark):
    import pytest
    from kml2geojson_spark.sketch import quantile_bucket_assign
    # heavy skew: one value dominates -> duplicate boundaries allowed
    rows = [(i, 5) for i in range(500)] + [(1000 + i, i) for i in range(20)]
    rows.append((9999, None))
    df = spark.createDataFrame(rows, "id long, v long")
    got = {r["id"]: r["bucket"]
           for r in quantile_bucket_assign(df, "v", n_buckets=4).collect()}
    assert got[9999] is None           # NULL value -> NULL bucket
    assert all(b is not None for k, b in got.items() if k != 9999)
    with pytest.raises(ValueError):
        quantile_bucket_assign(df, "v", n_buckets=1)


# --- group_ols (per-group least-squares trend) -------------------------------

def test_group_ols_matches_numpy(spark):
    import numpy as np
    import random as _random
    from kml2geojson_spark.relational import group_ols
    rng = _random.Random(29)
    rows = []
    for g in range(4):
        for _ in range(60):
            x = rng.randrange(0, 1000)
            y = 3 * x + g * 100 + rng.randrange(-50, 51)
            rows.append((g, x, y))
    rows += [(7, 5, 9), (7, 5, 11)]      # constant x -> NULL fit
    rows += [(8, 1, 4), (8, 2, 4)]       # constant y -> slope 0, r2 NULL
    rows += [(None, 1, 1), (1, None, 1), (1, 1, None)]  # dropped
    df = spark.createDataFrame(rows, "g int, x long, y long")
    got = {r["g"]: r for r in
           group_ols(df, x_col="x", y_col="y", group_cols=["g"]).collect()}
    for g in range(4):
        pts = [(x, y) for gg, x, y in rows
               if gg == g and x is not None and y is not None]
        xs = np.array([p[0] for p in pts], dtype=float)
        ys = np.array([p[1] for p in pts], dtype=float)
        # independent CENTERED formulation vs the operator's
        # uncentered-sums closed form
        cov = float(np.mean((xs - xs.mean()) * (ys - ys.mean())))
        vx = float(np.mean((xs - xs.mean()) ** 2))
        vy = float(np.mean((ys - ys.mean()) ** 2))
        slope = cov / vx
        intercept = float(ys.mean() - slope * xs.mean())
        r = cov / (vx * vy) ** 0.5
        assert abs(got[g]["slope"] - slope) < 1e-8
        assert abs(got[g]["intercept"] - intercept) < 1e-6
        assert abs(got[g]["r2"] - r * r) < 1e-8
        assert got[g]["n"] == 60
        assert got[g]["sx"] == sum(p[0] for p in pts)  # exact sums
    assert got[7]["slope"] is None and got[7]["r2"] is None
    assert got[8]["slope"] == 0.0 and got[8]["r2"] is None


def test_group_ols_guards(spark):
    import pytest
    from pyspark.sql import functions as F
    from kml2geojson_spark.relational import group_ols
    df = spark.createDataFrame([(1, 0.5, 2)], "g int, x double, y long")
    with pytest.raises(ValueError):
        group_ols(df, x_col="x", y_col="y", group_cols=["g"])
    with pytest.raises(ValueError):
        group_ols(df.select("g", F.col("y").alias("x"), "y"),
                  x_col="x", y_col="y", group_cols=[])


# --- group_gini (rank-formula concentration) ---------------------------------

def test_group_gini_known_values_and_tie_invariance(spark):
    from kml2geojson_spark.relational import group_gini
    rows = ([(1, v) for v in [10, 10, 10, 10]]        # equality -> 0
            + [(2, v) for v in [0, 0, 0, 100]]        # one holder -> 3/4
            + [(3, v) for v in [1, 2, 3, 4, 5]]
            + [(4, 0), (4, 0)]                        # all-zero -> NULL
            + [(5, 7)])                               # singleton -> 0
    df = spark.createDataFrame(rows, "g int, v long")
    got = {r["g"]: r for r in
           group_gini(df, value_col="v", group_cols=["g"]).collect()}
    assert got[1]["gini"] == 0.0
    assert abs(got[2]["gini"] - 0.75) < 1e-12
    # brute force for group 3: G = sum_i sum_j |xi-xj| / (2 n^2 mean)
    xs = [1, 2, 3, 4, 5]
    brute = (sum(abs(a - b) for a in xs for b in xs)
             / (2.0 * len(xs) ** 2 * (sum(xs) / len(xs))))
    assert abs(got[3]["gini"] - brute) < 1e-12
    assert got[4]["gini"] is None
    assert got[5]["gini"] == 0.0
    # tie-order invariance: shuffled input partitioning, same result
    got13 = {r["g"]: r["gini"] for r in
             group_gini(df.repartition(13), value_col="v",
                        group_cols=["g"]).collect()}
    assert got13 == {g: r["gini"] for g, r in got.items()}


def test_group_gini_guards(spark):
    import pytest
    from kml2geojson_spark.relational import group_gini
    dff = spark.createDataFrame([(1, 0.5)], "g int, v double")
    with pytest.raises(ValueError):
        group_gini(dff, value_col="v", group_cols=["g"])
    dfn = spark.createDataFrame([(1, -3)], "g int, v long")
    with pytest.raises(Exception):  # negative raises in-task
        group_gini(dfn, value_col="v", group_cols=["g"]).collect()


# --- quantize_embeddings (symmetric int8) ------------------------------------

def test_quantize_embeddings_matches_numpy_and_bounds(spark):
    import numpy as np
    from kml2geojson_spark.simsearch import quantize_embeddings
    rng = np.random.default_rng(41)
    rows = [(i, [float(np.float32(x)) for x in rng.normal(0, 1, 8)])
            for i in range(50)]
    rows.append((100, [0.0] * 8))          # all-zero vector
    rows.append((101, [-2.0, 2.0, 1.0]))   # exact extremes
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["vec_id"], r["idx"]): (r["qval"], r["scale"])
           for r in quantize_embeddings(df).collect()}
    import math
    for vid, vec in rows:
        m = max(abs(x) for x in vec)
        scale = m / 127.0
        for i, x in enumerate(vec):
            q, s = got[(vid, i)]
            if scale == 0:
                assert q == 0 and s == 0.0
            else:
                # half-away-from-zero round, like the operator
                r = x / scale
                expect = math.floor(r + 0.5) if r >= 0 else math.ceil(r - 0.5)
                assert q == expect, (vid, i, x, scale)
                assert abs(q) <= 127
                assert s == scale
    assert got[(101, 0)][0] == -127 and got[(101, 1)][0] == 127


# --- group_mad_outliers (robust MAD flags) -----------------------------------

def test_group_mad_outliers_matches_brute(spark):
    import random as _random
    from kml2geojson_spark.relational import group_mad_outliers
    rng = _random.Random(37)
    rows = []
    for g in range(3):
        rows += [(g, i, rng.randrange(90, 111)) for i in range(41)]
        rows.append((g, 900 + g, 10_000))      # one whale per group
    rows += [(5, 1, 7), (5, 2, 7), (5, 3, 7), (5, 4, 99)]  # MAD = 0
    df = spark.createDataFrame(rows, "g int, id long, v long")
    got = {(r["g"], r["id"]): (r["dev"], r["mad"], r["is_outlier"])
           for r in group_mad_outliers(
               df, value_col="v", id_col="id", group_cols=["g"]).collect()}

    def lowmed(pairs):  # pairs of (key, id); returns key at rank
        s = sorted(pairs)
        return s[(len(s) + 1) // 2 - 1][0]

    for g in {r[0] for r in rows}:
        grp = [(i, v) for gg, i, v in rows if gg == g]
        med = lowmed([(v, i) for i, v in grp])
        mad = lowmed([(abs(v - med), i) for i, v in grp])
        for i, v in grp:
            dev = abs(v - med)
            assert got[(g, i)] == (dev, mad, dev * 1000 > 3000 * mad), \
                (g, i, med, mad)
    # every whale flagged; zero-MAD group flags exactly its deviator
    assert all(got[(g, 900 + g)][2] for g in range(3))
    assert got[(5, 4)][2] and not got[(5, 1)][2]


def test_group_mad_outliers_guards_and_plan(spark):
    import pytest
    from kml2geojson_spark.relational import group_mad_outliers
    dff = spark.createDataFrame([(1, 1, 0.5)], "g int, id long, v double")
    with pytest.raises(ValueError):
        group_mad_outliers(dff, value_col="v", id_col="id",
                           group_cols=["g"])
    dfl = spark.createDataFrame([(1, 1, 5)], "g int, id long, v long")
    with pytest.raises(ValueError):
        group_mad_outliers(dfl, value_col="v", id_col="id", group_cols=[])
    # ONE Exchange: the second median pass re-sorts, never re-shuffles
    plan = group_mad_outliers(dfl, value_col="v", id_col="id",
                              group_cols=["g"])._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
