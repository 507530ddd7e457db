"""Round-5 session-10 batch 5: cuped_adjusted_means, diff_in_diff,
parse_url, great_circle_interpolate."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# cuped_adjusted_means
# ---------------------------------------------------------------------------

def test_cuped_matches_brute_and_reduces_variance_bias(spark):
    from kml2geojson_spark.relational import cuped_adjusted_means

    rng = np.random.default_rng(19)
    rows = []
    # y = x + arm_effect + noise; CUPED should recover ~arm_effect gap
    for arm, eff in (("a", 0), ("b", 5)):
        for _ in range(500):
            x = int(rng.integers(0, 100))
            rows.append((arm, x + eff + int(rng.integers(-3, 4)), x))
    df = spark.createDataFrame(rows, "arm string, y long, x long")
    got = {r.arm: r for r in cuped_adjusted_means(
        df, metric_col="y", covariate_col="x", arm_col="arm").collect()}

    n = len(rows)
    sy = sum(r[1] for r in rows)
    sx = sum(r[2] for r in rows)
    sxy = sum(r[1] * r[2] for r in rows)
    sxx = sum(r[2] * r[2] for r in rows)
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    pooled_mx = sx / n
    for arm in ("a", "b"):
        sub = [r for r in rows if r[0] == arm]
        my = sum(r[1] for r in sub) / len(sub)
        mx = sum(r[2] for r in sub) / len(sub)
        want = my - theta * (mx - pooled_mx)
        assert got[arm].theta == pytest.approx(theta)
        assert got[arm].adjusted_mean == pytest.approx(want)
        assert got[arm].n == len(sub)
    gap = got["b"].adjusted_mean - got["a"].adjusted_mean
    assert gap == pytest.approx(5.0, abs=0.6)


def test_cuped_zero_variance_covariate(spark):
    from kml2geojson_spark.relational import cuped_adjusted_means

    df = spark.createDataFrame([("a", 10, 7), ("a", 20, 7), ("b", 30, 7)],
                               "arm string, y long, x long")
    got = {r.arm: r for r in cuped_adjusted_means(
        df, metric_col="y", covariate_col="x", arm_col="arm").collect()}
    assert got["a"].theta is None
    assert got["a"].adjusted_mean == pytest.approx(15.0)  # raw mean
    assert got["b"].adjusted_mean == pytest.approx(30.0)


# ---------------------------------------------------------------------------
# diff_in_diff
# ---------------------------------------------------------------------------

def test_diff_in_diff_known_effect(spark):
    from kml2geojson_spark.relational import diff_in_diff

    rows = []
    # common trend +10 post; treatment adds +7 only to treated-post
    for g, p, base in (("t", "pre", 50), ("t", "post", 67),
                       ("c", "pre", 30), ("c", "post", 40)):
        rows += [(g, p, base + d) for d in (-1, 0, 1)]
    df = spark.createDataFrame(rows, "g string, period string, y long")
    r = diff_in_diff(df, metric_col="y", group_col="g",
                     period_col="period", treated_value="t",
                     post_value="post").collect()[0]
    assert r.did == pytest.approx(7.0)
    assert (r.n_tp, r.n_tr, r.n_cp, r.n_cr) == (3, 3, 3, 3)
    assert r.mean_treated_post == pytest.approx(67.0)


def test_diff_in_diff_empty_cell_null(spark):
    from kml2geojson_spark.relational import diff_in_diff

    df = spark.createDataFrame([("t", "post", 1), ("c", "pre", 2),
                                ("c", "post", 3)],
                               "g string, period string, y long")
    r = diff_in_diff(df, metric_col="y", group_col="g",
                     period_col="period", treated_value="t",
                     post_value="post").collect()[0]
    assert r.did is None and r.n_tr == 0


# ---------------------------------------------------------------------------
# parse_url
# ---------------------------------------------------------------------------

def test_parse_url_components(spark):
    from kml2geojson_spark.netops import parse_url

    rows = [
        (1, "https://www.Example.COM/path/to/page?x=1&y=2#frag"),
        (2, "http://sub.a.co.uk:8080/"),
        (3, "ftp://user:pw@files.example.org/data.bin"),
        (4, "https://justhost"),
        (5, "not a url"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.id: r for r in parse_url(df).collect()}
    assert set(got) == {1, 2, 3, 4}
    r1 = got[1]
    assert (r1.scheme, r1.host, r1.port) == ("https", "www.example.com",
                                             None)
    assert (r1.path, r1.query, r1.domain2) == ("/path/to/page",
                                               "x=1&y=2", "example.com")
    r2 = got[2]
    assert (r2.host, r2.port, r2.path, r2.domain2) == (
        "sub.a.co.uk", 8080, "/", "co.uk")
    r3 = got[3]
    assert (r3.scheme, r3.host, r3.path) == ("ftp", "files.example.org",
                                             "/data.bin")
    r4 = got[4]
    assert (r4.host, r4.path, r4.query, r4.domain2) == (
        "justhost", "", "", "justhost")


# ---------------------------------------------------------------------------
# great_circle_interpolate
# ---------------------------------------------------------------------------

def test_gc_interpolate_midpoint_and_endpoints(spark):
    from kml2geojson_spark.spatial.ops import (great_circle_interpolate,
                                               haversine_m)

    df = spark.createDataFrame(
        [(0.0, 0.0, 0.0, 90.0), (10.0, 20.0, -30.0, 80.0),
         (5.0, 5.0, 5.0, 5.0)],
        "lat1 double, lon1 double, lat2 double, lon2 double")
    for f, check in ((0.0, "start"), (1.0, "end"), (0.5, "mid")):
        la, lo = great_circle_interpolate(
            F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"),
            F.lit(f))
        out = df.select("lat1", "lon1", "lat2", "lon2",
                        la.alias("la"), lo.alias("lo")).collect()
        for r in out:
            if check == "start" or (r.lat1, r.lon1) == (r.lat2, r.lon2):
                assert r.la == pytest.approx(r.lat1, abs=1e-9)
                assert r.lo == pytest.approx(r.lon1, abs=1e-9)
            elif check == "end":
                assert r.la == pytest.approx(r.lat2, abs=1e-9)
                assert r.lo == pytest.approx(r.lon2, abs=1e-9)
    # midpoint of equator (0,0)->(0,90) is (0,45)
    la, lo = great_circle_interpolate(
        F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"),
        F.lit(0.5))
    r = (df.where(F.col("lon2") == 90.0)
         .select(la.alias("la"), lo.alias("lo")).collect()[0])
    assert r.la == pytest.approx(0.0, abs=1e-9)
    assert r.lo == pytest.approx(45.0, abs=1e-9)


def test_gc_interpolate_equidistant_at_half(spark):
    from kml2geojson_spark.spatial.ops import (great_circle_interpolate,
                                               haversine_m)

    rng = np.random.default_rng(29)
    rows = [(float(rng.uniform(-60, 60)), float(rng.uniform(-150, 150)),
             float(rng.uniform(-60, 60)), float(rng.uniform(-150, 150)))
            for _ in range(30)]
    df = spark.createDataFrame(
        rows, "lat1 double, lon1 double, lat2 double, lon2 double")
    la, lo = great_circle_interpolate(
        F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"),
        F.lit(0.5))
    out = df.select(
        haversine_m(F.col("lat1"), F.col("lon1"), la, lo).alias("d1"),
        haversine_m(la, lo, F.col("lat2"), F.col("lon2")).alias("d2"),
        haversine_m(F.col("lat1"), F.col("lon1"),
                    F.col("lat2"), F.col("lon2")).alias("dt")).collect()
    for r in out:
        assert r.d1 == pytest.approx(r.d2, rel=1e-6)
        assert r.d1 + r.d2 == pytest.approx(r.dt, rel=1e-6)
