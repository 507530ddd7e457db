"""Round-5 session-5 operators (registered q187+ AFTER the driver
pinned the round's query list — the in-repo oracle sweep in BENCH/ is
their cross-engine evidence, regenerated in-round; these tests pin the
edge semantics and the plan shapes)."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from kml2geojson_spark.relational import (group_moments, group_quantiles,
                                          kruskal_wallis)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --------------------------------------------------------- kruskal-wallis


def _kw_reference(samples: dict[str, list[int]]) -> float:
    """Milli-exact replay of the operator's contract in plain Python:
    doubled midranks, per-level floor(S'^2/n) summed as ints, tie
    correction from exact cubes."""
    allv = sorted(v for vs in samples.values() for v in vs)
    n = len(allv)
    # doubled midrank per value
    first = {}
    cnt = {}
    for i, v in enumerate(allv):
        first.setdefault(v, i + 1)
        cnt[v] = cnt.get(v, 0) + 1
    dr = {v: 2 * first[v] + cnt[v] - 1 for v in cnt}
    t_sum = 0
    for vs in samples.values():
        s = sum(dr[v] for v in vs)
        t_sum += math.floor(float(s) * float(s) / float(len(vs)))
    tie = sum(t ** 3 - t for t in cnt.values())
    c = 1.0 - float(tie) / float(n ** 3 - n)
    return (3.0 * float(t_sum) / (float(n) * (float(n) + 1.0))
            - 3.0 * (float(n) + 1.0)) / c


def test_kruskal_wallis_matches_reference_and_scipy_form(spark):
    import random
    random.seed(7)
    samples = {
        "a": [random.randint(0, 30) for _ in range(80)],
        "b": [random.randint(5, 40) for _ in range(60)],
        "c": [random.randint(0, 20) for _ in range(40)],
    }
    rows = [("g", lvl, v) for lvl, vs in samples.items() for v in vs]
    df = spark.createDataFrame(rows, "grp string, lvl string, v long")
    (r,) = kruskal_wallis(df, value_col="v", factor_col="lvl",
                          group_cols=["grp"]).collect()
    assert r["k"] == 3 and r["n"] == 180
    want = _kw_reference(samples)
    assert abs(r["h_stat"] - want) < 1e-9
    # the milli-floored H is within 1e-3 of the textbook float H
    ranks = {}
    allv = sorted(v for vs in samples.values() for v in vs)
    i = 0
    while i < len(allv):
        j = i
        while j + 1 < len(allv) and allv[j + 1] == allv[i]:
            j += 1
        for k in range(i, j + 1):
            ranks.setdefault(allv[i], (i + 1 + j + 1) / 2)
        i = j + 1
    n = len(allv)
    hsum = sum(len(vs) * (sum(ranks[v] for v in vs) / len(vs)) ** 2
               for vs in samples.values())
    h = 12.0 / (n * (n + 1)) * hsum - 3 * (n + 1)
    tie = sum((t ** 3 - t) for t in
              {v: allv.count(v) for v in set(allv)}.values())
    h /= 1.0 - tie / float(n ** 3 - n)
    assert abs(r["h_stat"] - h) < 1e-3


def test_kruskal_wallis_edges(spark):
    rows = ([("one", "x", i) for i in range(5)]          # k=1 -> NULL
            + [("tied", "x", 7), ("tied", "y", 7)]       # C=0 -> NULL
            + [("ok", "x", 1), ("ok", "x", 2),
               ("ok", "y", 9), ("ok", "y", 10)])         # clean split
    df = spark.createDataFrame(rows, "grp string, lvl string, v long")
    out = {r["grp"]: r for r in
           kruskal_wallis(df, value_col="v", factor_col="lvl",
                          group_cols=["grp"]).collect()}
    assert out["one"]["h_stat"] is None
    assert out["tied"]["h_stat"] is None
    assert out["ok"]["h_stat"] is not None and out["ok"]["h_stat"] > 0
    dff = spark.createDataFrame([("g", "x", 1.0)],
                                "grp string, lvl string, v double")
    with pytest.raises(ValueError):
        kruskal_wallis(dff, value_col="v", factor_col="lvl",
                       group_cols=["grp"])


def test_kruskal_wallis_plan_no_python(spark):
    df = spark.createDataFrame(
        [("g", "ab"[i % 2], i % 9) for i in range(60)],
        "grp string, lvl string, v long")
    plan = _plan(kruskal_wallis(df, value_col="v", factor_col="lvl",
                                group_cols=["grp"]))
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


# ------------------------------------------------------------- moments


def test_group_moments_brute_force(spark):
    import random
    random.seed(3)
    vals = [random.randint(-20, 60) for _ in range(200)]
    df = spark.createDataFrame([("g", v) for v in vals],
                               "grp string, v long")
    (r,) = group_moments(df, value_col="v",
                         group_cols=["grp"]).collect()
    n = len(vals)
    mu = sum(vals) / n
    m2 = sum((v - mu) ** 2 for v in vals) / n
    m3 = sum((v - mu) ** 3 for v in vals) / n
    m4 = sum((v - mu) ** 4 for v in vals) / n
    assert r["n"] == n
    assert abs(r["mean"] - mu) < 1e-9
    assert abs(r["m2"] - m2) < 1e-7
    assert abs(r["skewness"] - m3 / m2 ** 1.5) < 1e-9
    assert abs(r["kurtosis_excess"] - (m4 / m2 ** 2 - 3)) < 1e-9


def test_group_moments_edges(spark):
    rows = ([("const", 5)] * 4 + [("single", 9)]
            + [("sym", v) for v in (-2, -1, 1, 2)])
    df = spark.createDataFrame(rows, "grp string, v long")
    out = {r["grp"]: r for r in
           group_moments(df, value_col="v",
                         group_cols=["grp"]).collect()}
    assert out["const"]["skewness"] is None
    assert out["const"]["kurtosis_excess"] is None
    assert out["single"]["skewness"] is None
    assert out["sym"]["skewness"] == 0.0          # exact: m3n is exactly 0
    dff = spark.createDataFrame([("g", 1.0)], "grp string, v double")
    with pytest.raises(ValueError):
        group_moments(dff, value_col="v", group_cols=["grp"])
    with pytest.raises(ValueError):
        group_moments(df, value_col="v", group_cols=[])


def test_group_moments_plan_single_agg(spark):
    df = spark.createDataFrame([("g", i % 13) for i in range(50)],
                               "grp string, v long")
    plan = _plan(group_moments(df, value_col="v", group_cols=["grp"]))
    assert "PythonUDF" not in plan
    assert plan.count("Exchange") <= 1            # one hash-agg exchange


# ----------------------------------------------------------- quantiles


def test_group_quantiles_brute_force(spark):
    import random
    random.seed(5)
    vals = [random.randint(0, 99) for _ in range(173)]
    df = spark.createDataFrame([("g", v) for v in vals],
                               "grp string, v long")
    out = {r["permille"]: r["value"] for r in
           group_quantiles(df, value_col="v", group_cols=["grp"],
                           permilles=[1, 250, 500, 900, 990, 1000])
           .collect()}
    sv = sorted(vals)
    n = len(sv)
    for pm in (1, 250, 500, 900, 990, 1000):
        want = sv[max(0, math.ceil(n * pm / 1000) - 1)]
        assert out[pm] == want, (pm, out[pm], want)
    assert out[1000] == max(vals) and out[1] == min(vals)


def test_group_quantiles_exactly_one_row_per_pm_and_validation(spark):
    rows = [("a", v) for v in (3, 3, 3, 7)] + [("b", v) for v in (1, 2)]
    df = spark.createDataFrame(rows, "grp string, v long")
    got = group_quantiles(df, value_col="v", group_cols=["grp"],
                          permilles=[500, 750]).collect()
    assert len(got) == 4                          # 2 groups x 2 pms
    vals = {(r["grp"], r["permille"]): r["value"] for r in got}
    assert vals[("a", 500)] == 3 and vals[("a", 750)] == 3
    assert vals[("b", 500)] == 1 and vals[("b", 750)] == 2
    for bad in ([], [0], [1001], [500, 500], [0.5]):
        with pytest.raises(ValueError):
            group_quantiles(df, value_col="v", group_cols=["grp"],
                            permilles=bad)
    dff = spark.createDataFrame([("g", 1.0)], "grp string, v double")
    with pytest.raises(ValueError):
        group_quantiles(dff, value_col="v", group_cols=["grp"],
                        permilles=[500])


def test_group_quantiles_plan_no_join_no_python(spark):
    df = spark.createDataFrame([("g", i % 11) for i in range(70)],
                               "grp string, v long")
    plan = _plan(group_quantiles(df, value_col="v", group_cols=["grp"],
                                 permilles=[500, 990]))
    assert "PythonUDF" not in plan
    assert "Join" not in plan                     # explode, not a join


# ------------------------------------------------- clustering coefficient


def test_clustering_coefficient_known_graph(spark):
    from kml2geojson_spark.graph import clustering_coefficient
    # triangle 1-2-3 plus pendant 4 attached to 1, isolated edge 5-6
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4), (5, 6), (2, 1)],  # dup reversed
        "src long, dst long")
    out = {r["node"]: r for r in
           clustering_coefficient(edges).collect()}
    assert out[1]["degree"] == 3 and out[1]["n_triangles"] == 1
    assert abs(out[1]["clustering_coeff"] - 2 / 6) < 1e-15
    assert out[2]["clustering_coeff"] == 1.0
    assert out[3]["clustering_coeff"] == 1.0
    assert out[4]["degree"] == 1 and out[4]["clustering_coeff"] is None
    assert out[5]["n_triangles"] == 0
    assert out[5]["clustering_coeff"] is None  # degree 1
    assert len(out) == 6


def test_clustering_coefficient_open_wedge_zero(spark):
    from kml2geojson_spark.graph import clustering_coefficient
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    out = {r["node"]: r for r in
           clustering_coefficient(edges).collect()}
    assert out[2]["degree"] == 2 and out[2]["clustering_coeff"] == 0.0


# ------------------------------------------------------------ kaplan-meier


def test_kaplan_meier_hand_case(spark):
    from kml2geojson_spark.eventops import kaplan_meier
    # classic example: events at t=1 (2 deaths of 6), t=3 (1 of 3);
    # censored at t=2 (1) and t=4 (2 never die)
    rows = [("g", 1, 1), ("g", 1, 1), ("g", 2, 0), ("g", 3, 1),
            ("g", 4, 0), ("g", 4, 0)]
    df = spark.createDataFrame(rows, "grp string, dur long, ev long")
    out = {r["t"]: r for r in
           kaplan_meier(df, duration_col="dur", event_col="ev",
                        group_cols=["grp"]).collect()}
    assert set(out) == {1, 3}                    # event times only
    assert out[1]["at_risk"] == 6 and out[1]["events"] == 2
    assert out[3]["at_risk"] == 3 and out[3]["events"] == 1
    import math
    want1 = round(math.log(4) * 1e6) - round(math.log(6) * 1e6)
    assert out[1]["log_surv_micro"] == want1
    want3 = want1 + round(math.log(2) * 1e6) - round(math.log(3) * 1e6)
    assert out[3]["log_surv_micro"] == want3
    assert abs(out[1]["survival"] - 4 / 6) < 1e-5
    assert abs(out[3]["survival"] - (4 / 6) * (2 / 3)) < 1e-5


def test_kaplan_meier_zero_survival_and_validation(spark):
    from kml2geojson_spark.eventops import kaplan_meier
    rows = [("g", 1, 1), ("g", 2, 1), ("g", 2, 1)]  # all die by t=2
    df = spark.createDataFrame(rows, "grp string, dur long, ev long")
    out = {r["t"]: r for r in
           kaplan_meier(df, duration_col="dur", event_col="ev",
                        group_cols=["grp"]).collect()}
    assert out[2]["at_risk"] == 2 and out[2]["events"] == 2
    assert out[2]["log_surv_micro"] is None
    assert out[2]["survival"] == 0.0
    assert out[1]["survival"] > 0.0
    dff = spark.createDataFrame([("g", 1.0, 1)],
                                "grp string, dur double, ev long")
    import pytest as _pt
    with _pt.raises(ValueError):
        kaplan_meier(dff, duration_col="dur", event_col="ev",
                     group_cols=["grp"])
    with _pt.raises(ValueError):
        kaplan_meier(df, duration_col="dur", event_col="ev",
                     group_cols=[])
    # rows with event flag outside {0,1} or negative duration drop
    rows2 = [("g", 1, 1), ("g", 1, 7), ("g", -2, 1)]
    df2 = spark.createDataFrame(rows2, "grp string, dur long, ev long")
    (r,) = kaplan_meier(df2, duration_col="dur", event_col="ev",
                        group_cols=["grp"]).collect()
    assert r["at_risk"] == 1 and r["events"] == 1


# ------------------------------------------------------------------ theil


def test_theil_brute_force_and_edges(spark):
    from kml2geojson_spark.relational import theil_index
    import random
    random.seed(13)
    vals = [random.randint(1, 500) for _ in range(300)]
    df = spark.createDataFrame([("g", v) for v in vals]
                               + [("eq", 7)] * 10
                               + [("g", 0), ("g", -4)],  # dropped
                               "grp string, v long")
    out = {r["grp"]: r for r in
           theil_index(df, value_col="v", group_cols=["grp"]).collect()}
    n, s = len(vals), sum(vals)
    mu = s / n
    want = sum((v / mu) * math.log(v / mu) for v in vals) / n
    assert out["g"]["n"] == n and out["g"]["sum_v"] == s
    assert abs(out["g"]["theil"] - want) < 1e-4   # micro-nat resolution
    assert abs(out["eq"]["theil"]) < 2e-6         # equality -> ~0
    dff = spark.createDataFrame([("g", 1.0)], "grp string, v double")
    with pytest.raises(ValueError):
        theil_index(dff, value_col="v", group_cols=["grp"])


def test_theil_plan_two_aggs_no_python(spark):
    from kml2geojson_spark.relational import theil_index
    df = spark.createDataFrame([("g", i % 9 + 1) for i in range(50)],
                               "grp string, v long")
    plan = _plan(theil_index(df, value_col="v", group_cols=["grp"]))
    assert "PythonUDF" not in plan and "Join" not in plan


# --------------------------------------------------------------- zipf fit


def test_zipf_fit_matches_plain_ols(spark):
    from kml2geojson_spark.textops import zipf_fit
    import random
    random.seed(17)
    # synthetic corpus with a Zipfy token distribution
    vocab = [f"w{i}" for i in range(60)]
    words = []
    for i, w in enumerate(vocab):
        words += [w] * max(1, int(200 / (i + 1)))
    random.shuffle(words)
    docs = []
    for i in range(20):
        docs.append((i, " ".join(words[i::20])))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    (r,) = zipf_fit(df).collect()
    # replay: exact micro-nat OLS in plain python
    from collections import Counter
    cnt = Counter(words)
    ordered = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    xs = [round(math.log(i + 1) * 1e6) for i in range(len(ordered))]
    ys = [round(math.log(f) * 1e6) for _, f in ordered]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    syy = sum(y * y for y in ys)
    num = n * sxy - sx * sy
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    assert r["n_terms"] == n
    assert abs(r["slope"] - num / dx) < 1e-12
    assert abs(r["r2"] - num * num / (dx * dy)) < 1e-12
    assert -1.5 < r["slope"] < -0.5 and r["r2"] > 0.8


def test_zipf_fit_edges(spark):
    from kml2geojson_spark.textops import zipf_fit
    df = spark.createDataFrame([(1, "only only only")],
                               "doc_id long, text string")
    (r,) = zipf_fit(df).collect()
    assert r["n_terms"] == 1 and r["slope"] is None
    (r2,) = zipf_fit(df, min_freq=5).collect()
    assert r2["n_terms"] == 0
    with pytest.raises(ValueError):
        zipf_fit(df, min_freq=0)


# ------------------------------------------------------------- odds ratio


def test_odds_ratio_hand_case(spark):
    from kml2geojson_spark.relational import odds_ratio
    rows = ([("g", 1, 1)] * 20 + [("g", 1, 0)] * 30
            + [("g", 0, 1)] * 10 + [("g", 0, 0)] * 40
            + [("z", 1, 1)] * 3 + [("z", 0, 0)] * 4)  # zero cells
    df = spark.createDataFrame(rows, "grp string, e long, o long")
    out = {r["grp"]: r for r in
           odds_ratio(df, exposure_col="e", outcome_col="o",
                      group_cols=["grp"]).collect()}
    g = out["g"]
    assert (g["n11"], g["n10"], g["n01"], g["n00"]) == (20, 30, 10, 40)
    want_or = (20 * 40) / (30 * 10)
    assert abs(g["odds_ratio"] - want_or) < 1e-12
    lom = (round(math.log(20) * 1e6) + round(math.log(40) * 1e6)
           - round(math.log(30) * 1e6) - round(math.log(10) * 1e6))
    assert g["log_or_micro"] == lom
    se = math.sqrt(1 / 20 + 1 / 30 + 1 / 10 + 1 / 40)
    assert abs(g["se_log_or"] - se) < 1e-12
    assert abs(g["ci_lo_log_micro"] - (lom - 1.959964 * se * 1e6)) < 1e-6
    assert g["ci_lo_log_micro"] < g["log_or_micro"] < g["ci_hi_log_micro"]
    assert out["z"]["odds_ratio"] is None
    dff = spark.createDataFrame([("g", 1.0, 1)],
                                "grp string, e double, o long")
    with pytest.raises(ValueError):
        odds_ratio(dff, exposure_col="e", outcome_col="o",
                   group_cols=["grp"])


def test_odds_ratio_drops_non_binary(spark):
    from kml2geojson_spark.relational import odds_ratio
    rows = [("g", 1, 1), ("g", 2, 1), ("g", 0, None), ("g", 0, 0)]
    df = spark.createDataFrame(rows, "grp string, e long, o long")
    (r,) = odds_ratio(df, exposure_col="e", outcome_col="o",
                      group_cols=["grp"]).collect()
    assert (r["n11"], r["n10"], r["n01"], r["n00"]) == (1, 0, 0, 1)


# -------------------------------------------------------------- cohens d


def test_cohens_d_brute_force(spark):
    from kml2geojson_spark.relational import cohens_d
    import random
    random.seed(23)
    av = [random.randint(40, 70) for _ in range(60)]
    bv = [random.randint(30, 55) for _ in range(45)]
    rows = ([("x", "A", v) for v in av] + [("x", "B", v) for v in bv]
            + [("x", "C", 999)])                    # other level dropped
    df = spark.createDataFrame(rows, "grp string, lvl string, v long")
    (r,) = cohens_d(df, value_col="v", group_col="lvl",
                    group_a="A", group_b="B",
                    group_cols=["grp"]).collect()
    na, nb = len(av), len(bv)
    ma, mb = sum(av) / na, sum(bv) / nb
    va = sum((v - ma) ** 2 for v in av)             # (n-1)s² numerator
    vb = sum((v - mb) ** 2 for v in bv)
    sp2 = (va + vb) / (na + nb - 2)
    want_d = (ma - mb) / math.sqrt(sp2)
    assert r["n_a"] == na and r["n_b"] == nb
    assert abs(r["mean_a"] - ma) < 1e-9
    assert abs(r["cohens_d"] - want_d) < 1e-9
    corr = 1 - 3 / (4 * (na + nb) - 9)
    assert abs(r["hedges_g"] - want_d * corr) < 1e-9


def test_cohens_d_edges(spark):
    from kml2geojson_spark.relational import cohens_d
    rows = [("g", "A", 5), ("g", "A", 5), ("g", "B", 5), ("g", "B", 5)]
    df = spark.createDataFrame(rows, "grp string, lvl string, v long")
    (r,) = cohens_d(df, value_col="v", group_col="lvl",
                    group_a="A", group_b="B", group_cols=["grp"]).collect()
    assert r["cohens_d"] is None                     # zero pooled var
    rows2 = [("g", "A", 5), ("g", "B", 4), ("g", "B", 6)]
    df2 = spark.createDataFrame(rows2, "grp string, lvl string, v long")
    (r2,) = cohens_d(df2, value_col="v", group_col="lvl",
                     group_a="A", group_b="B",
                     group_cols=["grp"]).collect()
    assert r2["cohens_d"] is None                    # n_a < 2
    dff = spark.createDataFrame([("g", "A", 1.0)],
                                "grp string, lvl string, v double")
    with pytest.raises(ValueError):
        cohens_d(dff, value_col="v", group_col="lvl",
                 group_a="A", group_b="B", group_cols=["grp"])


# ------------------------------------------------------ time-weighted avg


def test_time_weighted_average_hand_case(spark):
    from kml2geojson_spark.eventops import time_weighted_average
    # value 10 held 0->4 (w=4), 20 held 4->5 (w=1), 7 at close (w=0)
    rows = [("g", 0, 10), ("g", 4, 20), ("g", 5, 7)]
    df = spark.createDataFrame(rows, "grp string, t long, v long")
    (r,) = time_weighted_average(df, ts_col="t", value_col="v",
                                 group_cols=["grp"]).collect()
    assert r["n"] == 3 and r["t_span"] == 5
    assert r["vdt_sum"] == 10 * 4 + 20 * 1
    assert abs(r["twa"] - 60 / 5) < 1e-15
    # row average would be 12.33; TWA correctly 12.0
    rows2 = [("s", 9, 3)]                            # single sample
    df2 = spark.createDataFrame(rows2, "grp string, t long, v long")
    (r2,) = time_weighted_average(df2, ts_col="t", value_col="v",
                                  group_cols=["grp"]).collect()
    assert r2["twa"] is None and r2["t_span"] == 0
    dff = spark.createDataFrame([("g", 1.0, 2)],
                                "grp string, t double, v long")
    with pytest.raises(ValueError):
        time_weighted_average(dff, ts_col="t", value_col="v",
                              group_cols=["grp"])


def test_time_weighted_average_tie_permutation_stable(spark):
    from kml2geojson_spark.eventops import time_weighted_average
    rows = [("g", 0, 5), ("g", 2, 8), ("g", 2, 8), ("g", 6, 1)]
    for perm in ([0, 1, 2, 3], [3, 2, 1, 0], [2, 0, 3, 1]):
        df = spark.createDataFrame([rows[i] for i in perm],
                                   "grp string, t long, v long")
        (r,) = time_weighted_average(df, ts_col="t", value_col="v",
                                     group_cols=["grp"]).collect()
        assert r["vdt_sum"] == 5 * 2 + 8 * 0 + 8 * 4
        assert abs(r["twa"] - 42 / 6) < 1e-15


# ------------------------------------------------------------ getis-ord


def test_getis_ord_hand_case(spark):
    from kml2geojson_spark.spatial.cells import cell_encode_np
    from kml2geojson_spark.spatial.ops import getis_ord_gstar
    import numpy as np
    # 3 occupied cells in a row at res 4: values 10, 1, 1 — the hot
    # cell's neighborhood (radius 1) catches itself + the middle one
    lon = np.array([-170.0, -147.5, -125.0])
    lat = np.array([-80.0, -80.0, -80.0])
    ids = cell_encode_np(lon, lat, 4)
    vals = [10, 1, 1]
    df = spark.createDataFrame(
        [(int(c), int(v)) for c, v in zip(ids, vals)],
        "cell_id long, n long")
    out = {r["cell_id"]: r for r in
           getis_ord_gstar(df, 4, 1).collect()}
    assert len(out) == 3
    n, t, u = 3, 12, 102
    for cid, v, s, w in [(int(ids[0]), 10, 11, 2),
                         (int(ids[1]), 1, 12, 3),
                         (int(ids[2]), 1, 2, 2)]:
        r = out[cid]
        assert (r["value"], r["nbr_sum"], r["nbr_cnt"]) == (v, s, w), r
        bb = n * u - t * t
        cc = n * w - w * w
        if cc > 0:
            want = (n * s - t * w) / math.sqrt(bb * cc / (n - 1))
            assert abs(r["gi_star"] - want) < 1e-12
        else:
            assert r["gi_star"] is None
    # middle cell sees everything -> C=0 -> NULL
    assert out[int(ids[1])]["gi_star"] is None
    assert out[int(ids[0])]["gi_star"] > 0          # hot
    assert out[int(ids[2])]["gi_star"] < 0          # cold


def test_getis_ord_validation_and_constant(spark):
    from kml2geojson_spark.spatial.cells import cell_encode_np
    from kml2geojson_spark.spatial.ops import getis_ord_gstar
    import numpy as np
    ids = cell_encode_np(np.array([0.0, 40.0]), np.array([0.0, 40.0]), 6)
    df = spark.createDataFrame([(int(c), 5) for c in ids],
                               "cell_id long, n long")
    out = getis_ord_gstar(df, 6, 1).collect()
    assert all(r["gi_star"] is None for r in out)   # constant raster
    dff = spark.createDataFrame([(int(ids[0]), 1.5)],
                                "cell_id long, n double")
    with pytest.raises(ValueError):
        getis_ord_gstar(dff, 6, 1)
    with pytest.raises(ValueError):
        getis_ord_gstar(df, -1, 1)
    with pytest.raises(ValueError):
        getis_ord_gstar(df, 6, -1)


# -------------------------------------------------------- mantel-haenszel


def test_mantel_haenszel_hand_case(spark):
    from kml2geojson_spark.relational import mantel_haenszel_or
    # two strata with different base rates; per-stratum OR = 2.25, 4.0
    rows = ([("s1", 1, 1)] * 9 + [("s1", 1, 0)] * 1
            + [("s1", 0, 1)] * 8 + [("s1", 0, 0)] * 2
            + [("s2", 1, 1)] * 2 + [("s2", 1, 0)] * 8
            + [("s2", 0, 1)] * 1 + [("s2", 0, 0)] * 16)
    df = spark.createDataFrame(rows, "st string, e long, o long")
    (r,) = mantel_haenszel_or(df, exposure_col="e", outcome_col="o",
                              strata_col="st").collect()
    num = (math.floor(9 * 2 * 1000 / 20.0)
           + math.floor(2 * 16 * 1000 / 27.0))
    den = (math.floor(1 * 8 * 1000 / 20.0)
           + math.floor(8 * 1 * 1000 / 27.0))
    assert r["k_strata"] == 2
    assert r["num_milli"] == num and r["den_milli"] == den
    assert abs(r["or_mh"] - num / den) < 1e-12
    # textbook float MH-OR within milli-floor resolution
    want = (9 * 2 / 20 + 2 * 16 / 27) / (1 * 8 / 20 + 8 * 1 / 27)
    assert abs(r["or_mh"] - want) < 1e-2
    dff = spark.createDataFrame([("s", 1.0, 1)],
                                "st string, e double, o long")
    with pytest.raises(ValueError):
        mantel_haenszel_or(dff, exposure_col="e", outcome_col="o",
                           strata_col="st")


def test_mantel_haenszel_zero_denominator(spark):
    from kml2geojson_spark.relational import mantel_haenszel_or
    rows = [("s", 1, 1), ("s", 0, 0)]                # b = c = 0
    df = spark.createDataFrame(rows, "st string, e long, o long")
    (r,) = mantel_haenszel_or(df, exposure_col="e", outcome_col="o",
                              strata_col="st").collect()
    assert r["den_milli"] == 0 and r["or_mh"] is None


# ----------------------------------------------------- degree assortativity


def test_degree_assortativity_known_graphs(spark):
    from kml2geojson_spark.graph import degree_assortativity
    # star graph: perfectly disassortative -> r = -1
    star = spark.createDataFrame([(0, i) for i in range(1, 6)],
                                 "src long, dst long")
    (r,) = degree_assortativity(star).collect()
    assert r["m_edges"] == 5 and abs(r["assortativity"] - (-1.0)) < 1e-12
    # regular ring: zero degree variance -> NULL
    ring = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long")
    (r2,) = degree_assortativity(ring).collect()
    assert r2["m_edges"] == 6 and r2["assortativity"] is None


def test_degree_assortativity_brute_force(spark):
    from kml2geojson_spark.graph import degree_assortativity
    import random
    random.seed(31)
    es = set()
    while len(es) < 40:
        a, b = random.randint(0, 14), random.randint(0, 14)
        if a != b:
            es.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(es), "src long, dst long")
    (r,) = degree_assortativity(df).collect()
    deg = {}
    for a, b in es:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    pairs = [(deg[a], deg[b]) for a, b in es] \
        + [(deg[b], deg[a]) for a, b in es]
    m2 = len(pairs)
    sx = sum(x for x, _ in pairs)
    sxx = sum(x * x for x, _ in pairs)
    sxy = sum(x * y for x, y in pairs)
    want = (m2 * sxy - sx * sx) / (m2 * sxx - sx * sx)
    assert r["m_edges"] == len(es)
    assert abs(r["assortativity"] - want) < 1e-12


# ------------------------------------------------------- bigram surprisal


def test_bigram_lm_surprisal_brute_force(spark):
    from kml2geojson_spark.textops import bigram_lm_surprisal
    docs = [(1, "the cat sat on the mat"),
            (2, "the cat sat"),
            (3, "mat the on sat cat the"),     # same words, scrambled
            (4, "solo"),                        # < 2 tokens -> no row
            (5, "  the   cat  ")]               # empty-token filtering
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_surprisal(df).collect()}
    assert 4 not in out
    # python replay
    from collections import Counter
    toks = {i: [t for t in txt.lower().split(" ") if t]
            for i, txt in docs}
    cu = Counter(t for ts in toks.values() for t in ts)
    cb = Counter((a, b) for ts in toks.values()
                 for a, b in zip(ts, ts[1:]))
    vocab = len(cu)
    for i, ts in toks.items():
        pairs = list(zip(ts, ts[1:]))
        if not pairs:
            continue
        lp = sum(round(math.log(cb[p] + 1) * 1e6)
                 - round(math.log(cu[p[0]] + vocab) * 1e6)
                 for p in pairs)
        assert out[i]["n_bigrams"] == len(pairs)
        assert out[i]["logprob_micro"] == lp, i
        assert abs(out[i]["avg_surprisal"]
                   - (-lp / (len(pairs) * 1e6))) < 1e-12
    # fluent repeated phrasing scores LESS surprising than scrambled
    assert out[2]["avg_surprisal"] < out[3]["avg_surprisal"]
    assert out[5]["n_bigrams"] == 1


def test_bigram_lm_surprisal_plan_no_python(spark):
    from kml2geojson_spark.textops import bigram_lm_surprisal
    df = spark.createDataFrame([(1, "a b c a b")],
                               "doc_id long, text string")
    plan = _plan(bigram_lm_surprisal(df))
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


# ---------------------------------------------------------- bpe trainer


def _bpe_reference(word_freqs: dict, num_merges: int) -> list:
    """Pure-python Sennrich BPE with (count desc, pair asc) ties and
    greedy left-to-right merging."""
    words = {tuple(list(w) + ["</w>"]): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(num_merges):
        counts = {}
        for syms, f in words.items():
            for p in zip(syms, syms[1:]):
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        if counts[best] < 2:
            break
        merges.append(best)
        a, b = best
        new_words = {}
        for syms, f in words.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            new_words[tuple(out)] = new_words.get(tuple(out), 0) + f
        words = new_words
    return merges


def test_bpe_train_merges_matches_reference(spark):
    from kml2geojson_spark.textops import bpe_train_merges
    corpus = ["low low low low low",
              "lower lower newest newest newest",
              "newest newest newest widest widest",
              "low lower newest widest"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)],
                               "doc_id long, text string")
    got = bpe_train_merges(df, num_merges=8)
    from collections import Counter
    wf = Counter(w for t in corpus for w in t.split())
    want = _bpe_reference(dict(wf), 8)
    assert got == want, (got, want)
    # sanity: the classic 'es'/'est'-style merges appear
    assert len(got) == 8 and all(isinstance(p, tuple) for p in got)


def test_bpe_train_merges_stops_when_dry(spark):
    from kml2geojson_spark.textops import bpe_train_merges
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    # every word is a single char + </w>; each pair occurs once -> no
    # merge reaches count 2 -> empty merge list
    assert bpe_train_merges(df, num_merges=5) == []
    import pytest as _pt
    with _pt.raises(ValueError):
        bpe_train_merges(df, num_merges=0)


# -------------------------------------------------- power-iteration PCA


def test_embedding_top_component_matches_numpy(spark):
    from kml2geojson_spark.simsearch import embedding_top_component
    import numpy as np
    rng = np.random.default_rng(42)
    # anisotropic cloud: dominant direction along a known axis mix
    base = rng.normal(size=(400, 8))
    base[:, 0] *= 6.0
    base[:, 3] *= 2.5
    rot = np.linalg.qr(rng.normal(size=(8, 8)))[0]
    x = base @ rot + rng.normal(size=8)             # off-center
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>")
    v, lam, n = embedding_top_component(df, iters=30)
    assert n == 400 and len(v) == 8
    assert abs(sum(c * c for c in v) - 1.0) < 1e-9   # unit norm
    xc = x - x.mean(axis=0)
    cov = xc.T @ xc / len(x)
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, -1]
    cos = abs(float(np.dot(top, np.array(v))))
    assert cos > 0.999, cos
    assert abs(lam - evals[-1]) / evals[-1] < 0.01
    import pytest as _pt
    with _pt.raises(ValueError):
        embedding_top_component(df, iters=0)
