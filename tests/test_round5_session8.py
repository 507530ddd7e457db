"""Round-5 session-8 operators (registered q231+ AFTER the driver
pinned the round's query list — the in-repo oracle sweep in BENCH/ is
their cross-engine evidence; these tests pin the math against tiny
hand-checkable references and the plan shapes)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from kml2geojson_spark.eventops import circular_time_stats
from kml2geojson_spark.relational import mrr_at_k
from kml2geojson_spark.spatial.core import _shoelace_many
from kml2geojson_spark.spatial.ops import _clip_edge_many, polygon_overlap_pairs
from kml2geojson_spark.textops import script_mix_stats


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------------ mrr_at_k


def test_mrr_basic(spark):
    rows = [
        # group 1: relevant item is 2nd by score -> rr = 1/2
        (1, 10, 9.0, 0), (1, 11, 8.0, 1), (1, 12, 7.0, 0),
        # group 2: no relevant at all -> rr NULL
        (2, 20, 5.0, 0), (2, 21, 4.0, 0),
        # group 3: relevant exists but ranks 4th, k=3 -> rr = 0.0
        (3, 30, 9.0, 0), (3, 31, 8.0, 0), (3, 32, 7.0, 0),
        (3, 33, 6.0, 1),
    ]
    df = spark.createDataFrame(rows, ["g", "id", "s", "r"])
    out = {r["g"]: r for r in
           mrr_at_k(df, group_cols=["g"], id_col="id", score_col="s",
                    rel_col="r", k=3).collect()}
    assert out[1]["first_rel_rank"] == 2
    assert out[1]["rr_at_k"] == 0.5
    assert out[2]["n_rel"] == 0 and out[2]["rr_at_k"] is None
    assert out[3]["n_rel"] == 1
    assert out[3]["first_rel_rank"] is None
    assert out[3]["rr_at_k"] == 0.0


def test_mrr_tie_break_by_id(spark):
    # equal scores: the smaller id ranks first (totalized order)
    rows = [(1, 5, 1.0, 0), (1, 2, 1.0, 1)]
    df = spark.createDataFrame(rows, ["g", "id", "s", "r"])
    row = mrr_at_k(df, group_cols=["g"], id_col="id", score_col="s",
                   rel_col="r", k=10).collect()[0]
    assert row["first_rel_rank"] == 1 and row["rr_at_k"] == 1.0


def test_mrr_float_relevance_raises(spark):
    df = spark.createDataFrame([(1, 1, 1.0, 0.5)], ["g", "id", "s", "r"])
    with pytest.raises(ValueError, match="binarize"):
        mrr_at_k(df, group_cols=["g"], id_col="id", score_col="s",
                 rel_col="r")


# ----------------------------------------------------- script_mix_stats


def test_script_mix_hand_counted(spark):
    text = "Ab3 ,.!?x\tY\n"  # 2 lower(b,x) 2 upper(A,Y) 1 digit 3 ws 4 punct
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    row = script_mix_stats(df).collect()[0]
    assert row["n_chars"] == 12
    assert row["n_lower"] == 2
    assert row["n_upper"] == 2
    assert row["n_digit"] == 1
    assert row["n_space"] == 3
    assert row["n_punct"] == 4
    assert row["n_other"] == 0
    assert row["frac_alpha"] == 4.0 / 12.0
    assert row["frac_digit"] == 1.0 / 12.0
    assert row["frac_punct"] == 4.0 / 12.0


def test_script_mix_empty_and_other(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "é"), (3, None)], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in script_mix_stats(df).collect()}
    assert rows[1]["n_chars"] == 0 and rows[1]["frac_alpha"] is None
    assert rows[2]["n_other"] == 1  # non-ASCII falls in the remainder
    assert 3 not in rows  # NULL text drops


def test_script_mix_no_shuffle_plan(spark):
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    plan = _plan(script_mix_stats(df))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


# -------------------------------------------------- circular_time_stats


def test_circular_concentrated_vs_spread(spark):
    rows = (
        # type "a": all at 06:00 -> resultant ~1
        [("a", "2024-01-01 06:00:00")] * 4
        # type "b": 00:00 and 12:00 alternating -> resultant ~0
        + [("b", "2024-01-01 00:00:00"), ("b", "2024-01-01 12:00:00")] * 2
        # type "c": straddles midnight (23:50, 00:10) -> resultant ~1
        + [("c", "2024-01-01 23:50:00"), ("c", "2024-01-01 00:10:00")]
    )
    df = spark.createDataFrame(rows, ["event_type", "ts"]) \
        .select("event_type", F.col("ts").cast("timestamp").alias("ts"))
    out = {r["group"]: r for r in circular_time_stats(df).collect()}
    assert out["a"]["resultant_len"] == pytest.approx(1.0, abs=5e-6)
    assert out["b"]["resultant_len"] == pytest.approx(0.0, abs=5e-6)
    # the linear mean of 23:50/00:10 is noon; the circular resultant
    # sees a tight cluster around midnight instead
    assert out["c"]["resultant_len"] == pytest.approx(
        math.cos(10 * 60 * 2 * math.pi / 86400), abs=5e-6)
    assert out["c"]["circ_variance"] == pytest.approx(
        1 - out["c"]["resultant_len"], abs=1e-12)


def test_circular_exact_integer_sums(spark):
    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00")], ["event_type", "ts"]) \
        .select("event_type", F.col("ts").cast("timestamp").alias("ts"))
    row = circular_time_stats(df).collect()[0]
    # theta = 0: cos=1 -> 10^6 exactly, sin=0 -> 0
    assert row["cos_sum_q"] == 1_000_000
    assert row["sin_sum_q"] == 0
    assert row["resultant_len"] == 1.0


def test_circular_single_agg_plan(spark):
    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00")], ["event_type", "ts"]) \
        .select("event_type", F.col("ts").cast("timestamp").alias("ts"))
    plan = _plan(circular_time_stats(df))
    assert plan.count("Exchange") == 1  # one shuffle for the hash agg
    assert "Window" not in plan and "Join" not in plan


# ----------------------------------------------- polygon_overlap_pairs


def _diamond(pid, cx, cy, r):
    return (pid, [[[cx + r, cy], [cx, cy + r], [cx - r, cy],
                   [cx, cy - r], [cx + r, cy]]])


def test_polygon_overlap_known_area(spark):
    # |x|+|y|<=2 and |x-2|+|y|<=2 intersect in a diamond of "radius" 1
    # centered at (1,0): area = 2r^2 = 2. Exact in the rotated-rect
    # closed form; the SH clip reproduces it to float exactness.
    polys = spark.createDataFrame(
        [_diamond(1, 0.0, 0.0, 2.0), _diamond(2, 2.0, 0.0, 2.0),
         _diamond(3, 50.0, 0.0, 1.0)],  # far away: no pair
        ["poly_id", "rings"])
    rows = polygon_overlap_pairs(polys, 6).collect()
    assert len(rows) == 1
    row = rows[0]
    assert (row["id_a"], row["id_b"]) == (1, 2)
    assert row["area_a"] == pytest.approx(8.0)
    assert row["area_b"] == pytest.approx(8.0)
    assert row["inter_area"] == pytest.approx(2.0)
    assert row["overlap_frac"] == pytest.approx(0.25)


def test_polygon_overlap_identical_and_nested(spark):
    polys = spark.createDataFrame(
        [_diamond(1, 0.0, 0.0, 4.0), _diamond(2, 0.0, 0.0, 4.0),
         _diamond(3, 0.0, 0.0, 1.0)],
        ["poly_id", "rings"])
    out = {(r["id_a"], r["id_b"]): r
           for r in polygon_overlap_pairs(polys, 6).collect()}
    assert out[(1, 2)]["overlap_frac"] == pytest.approx(1.0)
    assert out[(1, 2)]["inter_area"] == pytest.approx(32.0)
    # small diamond fully inside the big one
    assert out[(1, 3)]["inter_area"] == pytest.approx(2.0)
    assert out[(1, 3)]["overlap_frac"] == pytest.approx(1.0)


def test_polygon_overlap_no_cartesian_plan(spark):
    polys = spark.createDataFrame(
        [_diamond(1, 0.0, 0.0, 2.0), _diamond(2, 2.0, 0.0, 2.0)],
        ["poly_id", "rings"])
    plan = _plan(polygon_overlap_pairs(polys, 6))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_polygon_overlap_empty_input(spark):
    polys = spark.createDataFrame([], "poly_id long, "
                                  "rings array<array<array<double>>>")
    assert polygon_overlap_pairs(polys, 6).count() == 0


# ------------------------------------- general-edge clip kernel parity


def _clip_edge_scalar(pts, e, f):
    """Scalar reference replaying the _clip_edge_many bit-contract."""
    out = []
    m = len(pts)
    ex, ey = e
    fx, fy = f
    side = [(fx - ex) * (p[1] - ey) - (fy - ey) * (p[0] - ex)
            for p in pts]
    for i in range(m):
        j = (i + 1) % m
        pin, qin = side[i] >= 0.0, side[j] >= 0.0
        if pin:
            out.append(pts[i])
        if pin != qin:
            t = side[i] / (side[i] - side[j])
            out.append(pts[i] + t * (pts[j] - pts[i]))
    return np.asarray(out) if out else np.empty((0, 2))


def test_clip_edge_many_matches_scalar():
    rng = np.random.RandomState(42)
    for _ in range(50):
        n = rng.randint(3, 8)
        ang = np.sort(rng.uniform(0, 2 * math.pi, n))
        pts = np.c_[np.cos(ang), np.sin(ang)] * rng.uniform(0.5, 3.0)
        e = rng.uniform(-2, 2, 2)
        f = rng.uniform(-2, 2, 2)
        if np.allclose(e, f):
            continue
        ref = _clip_edge_scalar(pts, e, f)
        padded = pts[None, :, :]
        got, cnt = _clip_edge_many(
            padded, np.array([n]), np.array([e[0]]), np.array([e[1]]),
            np.array([f[0]]), np.array([f[1]]))
        assert cnt[0] == len(ref)
        if len(ref):
            assert np.array_equal(got[0, :cnt[0]], ref)  # bit-identical
        # shoelace of both representations agrees too
        a1 = _shoelace_many(got, cnt)[0]
        ref_pad = np.zeros((1, max(len(ref), 1), 2))
        if len(ref):
            ref_pad[0, :len(ref)] = ref
        a2 = _shoelace_many(ref_pad, np.array([len(ref)]))[0]
        assert a1 == a2


# -------------------------------------------------- rolling_active_users


def test_rolling_active_users_hand_checked(spark):
    from kml2geojson_spark.eventops import rolling_active_users
    rows = [
        (1, "2024-01-01 05:00:00"), (1, "2024-01-01 09:00:00"),  # dup day
        (2, "2024-01-01 10:00:00"),
        (1, "2024-01-03 10:00:00"),
        (3, "2024-01-09 10:00:00"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"]) \
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    out = {r["day"]: r for r in
           rolling_active_users(df, window_days=7).collect()}
    d0 = 19723  # 2024-01-01 epoch day
    assert set(out) == {d0, d0 + 2, d0 + 8}  # observed days only
    assert out[d0]["dau"] == 2 and out[d0]["rolling_active"] == 2
    assert out[d0 + 2]["dau"] == 1
    # window ending Jan 3 covers Jan 1-3: users 1, 2
    assert out[d0 + 2]["rolling_active"] == 2
    # window ending Jan 9 covers Jan 3-9: users 1 (Jan 3) and 3
    assert out[d0 + 8]["dau"] == 1
    assert out[d0 + 8]["rolling_active"] == 2


def test_rolling_active_users_window1_equals_dau(spark):
    from kml2geojson_spark.eventops import rolling_active_users
    rows = [(u, f"2024-01-0{d} 01:00:00") for u in (1, 2, 3)
            for d in (1, 2)]
    df = spark.createDataFrame(rows, ["user_id", "ts"]) \
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    for r in rolling_active_users(df, window_days=1).collect():
        assert r["dau"] == r["rolling_active"]


# ---------------------------------------------------- readability_scores


def test_readability_hand_checked(spark):
    from kml2geojson_spark.textops import readability_scores
    text = "The cat sat. It purred!"  # 5 words, 2 sentences
    # vowel groups: e, a, a, I, u, e -> 6 syllables
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    row = readability_scores(df).collect()[0]
    assert row["n_words"] == 5
    assert row["n_sentences"] == 2
    assert row["n_syllables"] == 6
    assert row["words_per_sentence"] == 2.5
    assert row["syllables_per_word"] == 1.2
    assert row["flesch"] == 206.835 - 1.015 * 2.5 - 84.6 * 1.2


def test_readability_degenerate_null(spark):
    from kml2geojson_spark.textops import readability_scores
    df = spark.createDataFrame([(1, "no sentence marker"),
                                (2, "...")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in readability_scores(df).collect()}
    assert rows[1]["flesch"] is None  # zero sentences
    assert rows[2]["flesch"] is None  # zero words
    assert rows[2]["n_sentences"] == 1


def test_readability_pure_column_plan(spark):
    from kml2geojson_spark.textops import readability_scores
    df = spark.createDataFrame([(1, "x.")], ["doc_id", "text"])
    plan = _plan(readability_scores(df))
    assert "Exchange" not in plan and "EvalPython" not in plan


# ------------------------------------------------------------ hits_scores
# (the session-4 unnormalized integer HITS — q237 registers it over
# the purchase graph; a drafted max-normalized variant was dropped as
# a duplicate of this prior art)


def test_hits_star_graph_unnormalized(spark):
    from kml2geojson_spark.graph import hits_scores
    # hub 0 -> {1,2,3}; weak hub 9 -> {1}
    edges = [(0, 1), (0, 2), (0, 3), (9, 1)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["node"]: r for r in hits_scores(df, n_iters=2).collect()}
    # h0=1 on {0,9}; a1: 1->2, 2->1, 3->1; h1: 0->4, 9->2
    # a2: 1->6, 2->4, 3->4;  h2: 0->14, 9->6
    assert out[0]["hub"] == 14 and out[9]["hub"] == 6
    assert out[1]["auth"] == 6
    assert out[2]["auth"] == 4 and out[3]["auth"] == 4
    assert out[1]["hub"] == 0 and out[0]["auth"] == 0


def test_hits_deterministic_integers(spark):
    from kml2geojson_spark.graph import hits_scores
    import random
    rng = random.Random(5)
    edges = [(rng.randrange(20), 100 + rng.randrange(10))
             for _ in range(60)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    a = sorted(map(tuple, hits_scores(df, n_iters=3).collect()))
    b = sorted(map(tuple, hits_scores(
        df.repartition(7), n_iters=3).collect()))
    assert a == b  # partitioning can never change the BIGINT scores


# ------------------------------------------------------------ haversine_m


def test_haversine_known_distances(spark):
    from kml2geojson_spark.spatial.ops import haversine_m
    df = spark.createDataFrame(
        [(1, 0.0, 0.0, 0.0, 1.0),    # 1 deg along the equator
         (2, 0.0, 0.0, 90.0, 0.0),   # equator to pole = quarter circle
         (3, 10.0, 20.0, 10.0, 20.0),  # same point
         (4, 0.0, 0.0, 0.0, 180.0)],  # antipodal on the equator
        ["id", "lat1", "lon1", "lat2", "lon2"])
    out = {r["id"]: r["d"] for r in df.select(
        "id", haversine_m(F.col("lat1"), F.col("lon1"),
                          F.col("lat2"), F.col("lon2")).alias("d"))
        .collect()}
    R = 6371000.0
    assert out[1] == pytest.approx(R * math.pi / 180.0, rel=1e-12)
    assert out[2] == pytest.approx(R * math.pi / 2.0, rel=1e-12)
    assert out[3] == 0.0
    assert out[4] == pytest.approx(R * math.pi, rel=1e-12)


def test_haversine_pure_column_plan(spark):
    from kml2geojson_spark.spatial.ops import haversine_m
    df = spark.createDataFrame([(0.0, 0.0)], ["lat", "lon"])
    plan = _plan(df.select(haversine_m(
        F.col("lat"), F.col("lon"), F.lit(1.0), F.lit(1.0)).alias("d")))
    assert "Exchange" not in plan and "EvalPython" not in plan


# -------------------------------------------------------- winsorized_mean


def test_winsorized_hand_checked(spark):
    from kml2geojson_spark.relational import winsorized_mean
    # 10 values 1..10, wins_milli=100 -> k=1: clamp 1->2 and 10->9
    rows = [("a", v) for v in range(1, 11)]
    df = spark.createDataFrame(rows, ["g", "v"])
    row = winsorized_mean(df, value_col="v", group_cols=["g"],
                          wins_milli=100).collect()[0]
    assert row["n"] == 10 and row["k_per_side"] == 1
    assert row["lo_clamp"] == 2 and row["hi_clamp"] == 9
    # 2 + 2+3+...+9 + 9 = 55 - 1 - 10 + 2 + 9 = 55
    assert row["winsorized_sum"] == 55
    assert row["winsorized_mean"] == 5.5


def test_winsorized_zero_k_equals_mean(spark):
    from kml2geojson_spark.relational import winsorized_mean
    rows = [("a", v) for v in (3, 5, 100)]  # n=3, k = floor(3*0.1)=0
    df = spark.createDataFrame(rows, ["g", "v"])
    row = winsorized_mean(df, value_col="v", group_cols=["g"],
                          wins_milli=100).collect()[0]
    assert row["k_per_side"] == 0
    assert row["winsorized_sum"] == 108
    assert row["winsorized_mean"] == 36.0


def test_winsorized_duplicates_cross_boundary(spark):
    from kml2geojson_spark.relational import winsorized_mean
    # 10 rows of which the lowest 3 are equal: k=1 clamps ONE copy of
    # the duplicated minimum onto... itself (lo_clamp = 1), sum unchanged
    rows = [("a", v) for v in (1, 1, 1, 4, 5, 6, 7, 8, 9, 20)]
    df = spark.createDataFrame(rows, ["g", "v"])
    row = winsorized_mean(df, value_col="v", group_cols=["g"],
                          wins_milli=100).collect()[0]
    assert row["k_per_side"] == 1
    assert row["lo_clamp"] == 1   # rank 2 is still value 1
    assert row["hi_clamp"] == 9   # rank 9
    assert row["winsorized_sum"] == 1 + 1 + 1 + 4 + 5 + 6 + 7 + 8 + 9 + 9


def test_winsorized_float_raises(spark):
    from kml2geojson_spark.relational import winsorized_mean
    df = spark.createDataFrame([("a", 1.5)], ["g", "v"])
    with pytest.raises(ValueError, match="integerize"):
        winsorized_mean(df, value_col="v", group_cols=["g"])


# --------------------------------------------------------- keyword_snippets


def test_keyword_snippets_positions(spark):
    from kml2geojson_spark.textops import keyword_snippets
    docs = spark.createDataFrame(
        [(1, "xxcatxx"), (2, "cat at the start"),
         (3, "no match here"), (4, "tail ends with cat")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           keyword_snippets(docs, "cat", context=3).collect()}
    assert 3 not in out
    assert out[1]["pos"] == 3 and out[1]["snippet"] == "xxcatxx"
    # start clamps to 1 when pos - context < 1
    assert out[2]["pos"] == 1 and out[2]["snippet"] == "cat at th"
    # end clamps at the string end
    assert out[4]["snippet"] == "th cat"


def test_keyword_snippets_validation(spark):
    from kml2geojson_spark.textops import keyword_snippets
    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        keyword_snippets(docs, "")
    with pytest.raises(ValueError):
        keyword_snippets(docs, "x", context=-1)


# --------------------------------------------------------------- bearing_deg


def test_bearing_cardinal_directions(spark):
    from kml2geojson_spark.spatial.ops import bearing_deg
    df = spark.createDataFrame(
        [(1, 0.0, 0.0, 10.0, 0.0),    # due north
         (2, 0.0, 0.0, 0.0, 10.0),    # due east
         (3, 0.0, 0.0, -10.0, 0.0),   # due south
         (4, 0.0, 0.0, 0.0, -10.0)],  # due west
        ["id", "lat1", "lon1", "lat2", "lon2"])
    out = {r["id"]: r["b"] for r in df.select(
        "id", bearing_deg(F.col("lat1"), F.col("lon1"),
                          F.col("lat2"), F.col("lon2")).alias("b"))
        .collect()}
    assert out[1] == pytest.approx(0.0, abs=1e-9)
    assert out[2] == pytest.approx(90.0, abs=1e-9)
    assert out[3] == pytest.approx(180.0, abs=1e-9)
    assert out[4] == pytest.approx(270.0, abs=1e-9)


# ------------------------------------------------------------- cohens_kappa


def test_kappa_hand_checked(spark):
    from kml2geojson_spark.quality import cohens_kappa
    # classic 2x2: a=(1,1,1,0,0,0,1,0,1,1) b=(1,1,0,0,0,1,1,0,1,0)
    a = [1, 1, 1, 0, 0, 0, 1, 0, 1, 1]
    b = [1, 1, 0, 0, 0, 1, 1, 0, 1, 0]
    df = spark.createDataFrame(list(zip(a, b)), ["ra", "rb"])
    row = cohens_kappa(df, rater_a="ra", rater_b="rb").collect()[0]
    n = 10
    agree = sum(1 for x, y in zip(a, b) if x == y)
    pn = (a.count(1) * b.count(1)) + (a.count(0) * b.count(0))
    assert row["n"] == n and row["n_agree"] == agree
    assert row["po"] == agree / n
    assert row["pe"] == pn / (n * n)
    assert row["kappa"] == (agree * n - pn) / (n * n - pn)


def test_kappa_constant_raters_null(spark):
    from kml2geojson_spark.quality import cohens_kappa
    df = spark.createDataFrame([(1, 1)] * 4, ["ra", "rb"])
    row = cohens_kappa(df, rater_a="ra", rater_b="rb").collect()[0]
    assert row["po"] == 1.0 and row["pe"] == 1.0
    assert row["kappa"] is None  # pe = 1: chance-indistinguishable


def test_kappa_disjoint_labels(spark):
    from kml2geojson_spark.quality import cohens_kappa
    df = spark.createDataFrame([("x", "y"), ("x", "z")], ["ra", "rb"])
    row = cohens_kappa(df, rater_a="ra", rater_b="rb").collect()[0]
    assert row["n_agree"] == 0 and row["pe"] == 0.0 and row["kappa"] == 0.0


# -------------------------------------------------------- int8_quantize_stats


def test_int8_quant_exact_grid(spark):
    from kml2geojson_spark.simsearch import int8_quantize_stats
    # values on the exact 255-step grid of [0, 255] quantize losslessly
    df = spark.createDataFrame(
        [(1, [0.0, 51.0, 255.0]), (2, [7.5, 7.5, 7.5])],
        "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in int8_quantize_stats(df).collect()}
    assert out[1]["vmin"] == 0.0 and out[1]["vmax"] == 255.0
    assert out[1]["max_abs_err"] == 0.0
    assert out[1]["mean_abs_err"] == 0.0
    # constant vector: rng = 0 path, zero error by definition
    assert out[2]["max_abs_err"] == 0.0 and out[2]["mean_abs_err"] == 0.0


def test_int8_quant_error_bound(spark):
    from kml2geojson_spark.simsearch import int8_quantize_stats
    import random
    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)])
            for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for r in int8_quantize_stats(df).collect():
        half_step = (r["vmax"] - r["vmin"]) / 255.0 / 2.0
        assert r["max_abs_err"] <= half_step * (1 + 1e-9)
        assert 0.0 <= r["mean_abs_err"] <= r["max_abs_err"]


# ------------------------------------------------- simhash_threshold_curve


def test_simhash_curve_sums_to_pair_count(spark):
    from kml2geojson_spark.textops import (simhash_near_pairs,
                                           simhash_threshold_curve)
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " + ("x" if i % 2 else "y"))
         for i in range(12)], ["doc_id", "text"])
    pairs = simhash_near_pairs(docs, max_hamming=3, bands=4)
    curve = simhash_threshold_curve(docs, max_hamming=3, bands=4)
    rows = curve.collect()
    assert sum(r["n_pairs"] for r in rows) == pairs.count()
    assert all(0 <= r["hamming"] <= 3 for r in rows)


# ---------------------------------------------------------- dimension_profile


def test_dimension_profile_hand_checked(spark):
    from kml2geojson_spark.simsearch import dimension_profile
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [3.0, 0.0]), (3, [5.0, 0.0])],
        "vec_id long, embedding array<float>")
    out = {r["dim"]: r for r in dimension_profile(df).collect()}
    assert out[0]["n"] == 3
    assert out[0]["sum_q"] == 9_000_000
    assert out[0]["mean"] == 3.0
    # var = E[x^2] - E[x]^2 = (1+9+25)/3 - 9 = 8/3
    assert out[0]["variance"] == pytest.approx(8.0 / 3.0, rel=1e-12)
    # dead dimension: zero mean, zero variance
    assert out[1]["sum_q"] == 0 and out[1]["variance"] == 0.0


def test_dimension_profile_partition_invariant(spark):
    from kml2geojson_spark.simsearch import dimension_profile
    import random
    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(map(tuple, dimension_profile(df).collect()))
    b = sorted(map(tuple, dimension_profile(df.repartition(13)).collect()))
    assert a == b  # exact integer sums: partitioning cannot change them


# ------------------------------------------------------------ frame_checksums


def test_frame_checksums_python_replay(spark):
    from kml2geojson_spark.multimodal import (_ppm_payload,
                                              fetch_media_stub,
                                              frame_checksums,
                                              sample_frames)
    refs = spark.createDataFrame(
        [("1", "media/1.ppm", "ppm", 0), ("2", "media/2.ppm", "ppm", 0)],
        ["doc_id", "media_ref", "ext", "offset"])
    fetched = fetch_media_stub(refs, payload="ppm")
    out = frame_checksums(sample_frames(fetched, n_frames=4)).collect()
    assert len(out) == 8
    got = {(r["media_ref"], r["frame_idx"]):
           (r["n_bytes"], r["byte_sum"], r["byte_wsum"]) for r in out}
    for ref in ("media/1.ppm", "media/2.ppm"):
        blob = _ppm_payload(ref, 16, 16)
        n = len(blob)
        step = n // 4
        for i in range(4):
            start = min(i * step, n - step)
            fr = blob[start:start + step]
            exp = (len(fr), sum(fr),
                   sum((k + 1) * b for k, b in enumerate(fr)))
            assert got[(ref, i)] == exp


# ------------------------------------------------------------ peak_concurrency


def test_peak_concurrency_hand_checked(spark):
    from kml2geojson_spark.eventops import peak_concurrency
    rows = [
        # key a: [0,10), [5,15), [14,20) -> peak 2 (at 5-10 and 14-15)
        ("a", 0, 10), ("a", 5, 15), ("a", 14, 20),
        # key b: back-to-back [0,5), [5,10) -> half-open: peak 1
        ("b", 0, 5), ("b", 5, 10),
        # key c: triple stack
        ("c", 0, 9), ("c", 1, 8), ("c", 2, 7),
        # key d: degenerate interval contributes nothing
        ("d", 3, 3), ("d", 1, 2),
    ]
    df = spark.createDataFrame(rows, ["key", "start", "end"])
    out = {r["key"]: r for r in peak_concurrency(df).collect()}
    assert out["a"]["peak"] == 2 and out["a"]["n_intervals"] == 3
    assert out["b"]["peak"] == 1
    assert out["c"]["peak"] == 3
    assert out["d"]["peak"] == 1 and out["d"]["n_intervals"] == 1


def test_peak_concurrency_single_window_plan(spark):
    from kml2geojson_spark.eventops import peak_concurrency
    df = spark.createDataFrame([("a", 0, 1)], ["key", "start", "end"])
    plan = _plan(peak_concurrency(df))
    assert "Join" not in plan
    assert plan.count("Window") == 1


# ------------------------------------------------------------- zonal_stats


def test_zonal_stats_hand_checked(spark):
    from kml2geojson_spark.spatial.ops import zonal_stats
    # diamond |x|+|y| <= 2 contains (0,0) and (1,0); (3,3) outside
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0, 10), (2, 1.0, 0.0, 30), (3, 3.0, 3.0, 99)],
        ["point_id", "x", "y", "value"])
    polys = spark.createDataFrame(
        [_diamond(7, 0.0, 0.0, 2.0)], ["poly_id", "rings"])
    rows = zonal_stats(pts, polys, 6).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["poly_id"] == 7
    assert r["n_points"] == 2
    assert r["value_sum"] == 40
    assert r["value_mean"] == 20.0


def test_zonal_stats_float_value_raises(spark):
    from kml2geojson_spark.spatial.ops import zonal_stats
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0, 1.5)], ["point_id", "x", "y", "value"])
    polys = spark.createDataFrame(
        [_diamond(7, 0.0, 0.0, 2.0)], ["poly_id", "rings"])
    with pytest.raises(ValueError, match="integerize"):
        zonal_stats(pts, polys, 6)
