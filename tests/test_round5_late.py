"""Round-5 late-addition operators (registered q118–q123 AFTER the
driver pinned the round's query list, so driver CORRECTNESS rows never
appear for them — the in-repo oracle sweep in BENCH/ is their
cross-engine evidence, regenerated in-round; these tests pin the edge
semantics and the plan shapes)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kml2geojson_spark.textops import passage_dedup, lang_ngram_profile
from kml2geojson_spark.eventops import inter_event_stats, customer_rfm
from kml2geojson_spark.relational import key_skew_stats
from kml2geojson_spark.spatial.ops import union_cover_stats

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- passage


def test_passage_dedup_finds_cross_doc_repeats(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"),        # chunks (w=2): "a b", "c d"
         (2, "a b x"),          # chunks: "a b", "x"   → "a b" repeats
         (3, "zz"),             # single chunk, unique
         (4, None)],            # NULL text dropped
        "doc_id long, text string")
    got = {r["passage_hash"]: r
           for r in passage_dedup(docs, window=2).collect()}
    assert len(got) == 1
    (row,) = got.values()
    assert row["n_dups"] == 2
    assert row["n_docs"] == 2
    assert row["keeper_doc"] == 1


def test_passage_dedup_counts_within_doc_repeats(spark):
    docs = spark.createDataFrame(
        [(7, "a b a b a b")], "doc_id long, text string")
    rows = passage_dedup(docs, window=2).collect()
    assert len(rows) == 1 and rows[0]["n_dups"] == 3 \
        and rows[0]["n_docs"] == 1


def test_passage_dedup_partial_tail_chunk(spark):
    # 5 tokens at window=2 → chunks "a b", "c d", "e" (ceil division)
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "e")], "doc_id long, text string")
    rows = passage_dedup(docs, window=2).collect()
    assert len(rows) == 1 and rows[0]["n_dups"] == 2  # the "e" tail


def test_passage_dedup_validates_window(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        passage_dedup(docs, window=0)


# ---------------------------------------------------------------- ngrams


def test_lang_ngram_profile_counts_and_ties(spark):
    docs = spark.createDataFrame(
        [(1, "aaab", "en"),     # grams: aaa, aab
         (2, "aaa", "en"),      # grams: aaa
         (3, "xy", "fr"),       # shorter than n → no grams
         (4, None, "fr"),
         (5, "abc", None)],     # NULL lang dropped
        "doc_id long, text string, lang string")
    got = [(r["lang"], r["gram"], r["n_occurrences"], r["rank"])
           for r in lang_ngram_profile(docs, n=3, k=5)
           .orderBy("lang", "rank").collect()]
    assert got == [("en", "aaa", 2, 1), ("en", "aab", 1, 2)]


def test_lang_ngram_profile_rank_is_deterministic_on_count_ties(spark):
    docs = spark.createDataFrame(
        [(1, "abcd", "en")],    # grams abc, bcd each once → gram asc
        "doc_id long, text string, lang string")
    got = [r["gram"] for r in lang_ngram_profile(docs, n=3, k=2)
           .orderBy("rank").collect()]
    assert got == ["abc", "bcd"]


# ---------------------------------------------------------------- events


def test_inter_event_stats_gaps(spark):
    rows = [(1, "2024-01-01 00:00:00", 10),
            (1, "2024-01-01 00:00:30", 11),
            (1, "2024-01-01 00:02:30", 12),
            (2, "2024-01-01 09:00:00", 13),    # single event: no gaps
            (None, "2024-01-01 00:00:00", 14),  # NULL user dropped
            (3, None, 15)]                      # NULL ts dropped
    df = spark.createDataFrame(rows, "user_id long, ts string, event_id long") \
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                "event_id")
    got = {r["user_id"]: r for r in inter_event_stats(df).collect()}
    assert set(got) == {1, 2}
    u1 = got[1]
    assert (u1["n_events"], u1["n_gaps"], u1["min_gap_s"],
            u1["max_gap_s"], u1["span_s"]) == (3, 2, 30, 120, 150)
    u2 = got[2]
    assert (u2["n_events"], u2["n_gaps"], u2["span_s"]) == (1, 0, 0)
    assert u2["min_gap_s"] is None and u2["max_gap_s"] is None


def test_inter_event_stats_tie_order_by_event_id(spark):
    # equal timestamps: gap 0 regardless of order, but the lag chain
    # must be deterministic — assert it runs and yields gap 0
    rows = [(1, "2024-01-01 00:00:00", 2), (1, "2024-01-01 00:00:00", 1)]
    df = spark.createDataFrame(rows, "user_id long, ts string, event_id long") \
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                "event_id")
    (r,) = inter_event_stats(df).collect()
    assert (r["n_gaps"], r["min_gap_s"], r["max_gap_s"]) == (1, 0, 0)


def test_inter_event_stats_single_exchange_plan(spark):
    events = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(inter_event_stats(events))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


# ------------------------------------------------------------------- rfm


def test_customer_rfm_exact_metrics(spark):
    rows = [(1, "2024-01-10 00:00:00", 10.00),
            (1, "2024-01-20 00:00:00", 5.50),
            (2, "2024-01-25 00:00:00", 100.00)]
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate string, o_totalprice double") \
        .select("o_custkey",
                F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
                "o_totalprice")
    got = {r["custkey"]: r for r in customer_rfm(df, n_tiles=2).collect()}
    # anchor = 2024-01-25 (customer 2's last order)
    assert got[1]["recency_days"] == 5 and got[2]["recency_days"] == 0
    assert got[1]["frequency"] == 2 and got[2]["frequency"] == 1
    assert got[1]["monetary_cents"] == 1550
    assert got[2]["monetary_cents"] == 10000
    # most recent / biggest spender gets tile 1
    assert got[2]["r_score"] == 1 and got[1]["r_score"] == 2
    assert got[2]["m_score"] == 1 and got[1]["m_score"] == 2
    assert got[1]["f_score"] == 1 and got[2]["f_score"] == 2


def test_customer_rfm_validates_tiles(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0)],
        "o_custkey long, o_orderdate string, o_totalprice double") \
        .select("o_custkey",
                F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
                "o_totalprice")
    with pytest.raises(ValueError):
        customer_rfm(df, n_tiles=0)


# ------------------------------------------------------------------ skew


def test_key_skew_stats_exact_ppm(spark):
    # key 7 carries 6 of 10 rows over 3 keys
    rows = [(7,)] * 6 + [(8,)] * 3 + [(9,)] * 1 + [(None,)]
    df = spark.createDataFrame(rows, "k long")
    got = [(r["key"], r["cnt"], r["share_ppm"], r["avg_multiple_ppm"])
           for r in key_skew_stats(df, "k", k=2).collect()]
    # share = 6/10, multiple = 6/(10/3)
    assert got == [(7, 6, 600000, 1800000), (8, 3, 300000, 900000)]


def test_key_skew_stats_topk_plan_has_no_global_sort(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = _plan(key_skew_stats(li, "l_suppkey", k=15))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


# ----------------------------------------------------------------- union


def _diamond(spark, poly_id, cx, cy, r):
    ring = [[cx + r, cy], [cx, cy + r], [cx - r, cy],
            [cx, cy - r], [cx + r, cy]]
    return spark.createDataFrame(
        [(poly_id, [ring])],
        "poly_id long, rings array<array<array<double>>>")


def test_union_cover_stats_single_polygon_is_its_own_union(spark):
    from kml2geojson_spark.spatial import polygon_cover
    poly = _diamond(spark, 1, 10.0, 20.0, 5.0)
    (u,) = union_cover_stats(poly, 6).collect()
    cov = polygon_cover(poly, 6).collect()
    assert u["n_cells"] == len(cov)
    assert u["n_cover_rows"] == len(cov)
    assert u["union_cells_nano"] == sum(
        int(round(r["fraction"] * 1e9)) for r in cov)


def test_union_cover_stats_duplicate_polygon_does_not_grow_union(spark):
    one = _diamond(spark, 1, 10.0, 20.0, 5.0)
    two = one.union(_diamond(spark, 2, 10.0, 20.0, 5.0))
    (u1,) = union_cover_stats(one, 6).collect()
    (u2,) = union_cover_stats(two, 6).collect()
    assert u2["n_cells"] == u1["n_cells"]
    assert u2["union_cells_nano"] == u1["union_cells_nano"]
    assert u2["n_cover_rows"] == 2 * u1["n_cover_rows"]


# ------------------------------------- two-pass window-oracle totality


def test_merge_intervals_duplicate_rows_tie_invariant(spark):
    """Duplicate (key, start, end) rows at an island boundary must
    land in ONE island with n_intervals counting both — the case whose
    two-pass SQL replay flaked in DuckDB until the oracle ORDER BYs
    were totalized (q104 note in __spark_entry__.py)."""
    from kml2geojson_spark.eventops import merge_intervals
    iv = spark.createDataFrame(
        [(1, 10, 20), (1, 30, 35), (1, 30, 35), (1, 50, 60)],
        "key long, start long, end long")
    rows = {(r["island_start"], r["island_end"]): r["n_intervals"]
            for r in merge_intervals(iv, key_col="key",
                                     start_col="start",
                                     end_col="end").collect()}
    assert rows == {(10, 20): 1, (30, 35): 2, (50, 60): 1}


def test_two_pass_window_oracles_are_totally_ordered():
    """The q104/q106 oracles compute a window flag and a running sum
    in SEPARATE windowed subqueries; both ORDER BYs must carry the
    unique tiebreaker or an engine may sort duplicate rows
    differently in each pass and splice an island/session boundary
    (observed intermittently in DuckDB at sf0.1 before the fix)."""
    import __spark_entry__ as entry
    oracles = entry.oracle_sql()
    o104 = oracles["q104_merge_intervals"]
    assert o104.count("ORDER BY s, e, u1, u2") == 2
    o106 = oracles["q106_sessionize_batch"]
    assert o106.count("ORDER BY ts, event_id") == 1
    assert o106.count("ORDER BY _t, _eid") == 1


# ------------------------------------------------- grid_cluster chains


def test_grid_cluster_long_chain_converges_with_star_default(spark):
    """A snaking corridor of occupied cells has diameter ~ its length;
    min-label propagation needs one round per hop (the sf0.1 sweep
    caught q75 raising at 50 rounds); grid_cluster's star components
    converge in O(log² n) rounds regardless."""
    from kml2geojson_spark.spatial.ops import grid_cluster
    res, n = 9, 120
    step = 360.0 / (1 << res)
    pts = [(-170.0 + i * step, 0.0) for i in range(n)]  # 120-cell chain
    df = spark.createDataFrame(pts, "x double, y double")
    out = grid_cluster(df, res).collect()
    assert len(out) == n
    assert len({r["cluster_id"] for r in out}) == 1  # one component


# ------------------------------------------- interval_overlap_join


def test_interval_overlap_join_equals_brute_force(spark):
    """Bucketed interval×interval overlap must equal the naive range
    join row-for-row — incl. touching endpoints, containment, spans
    crossing many buckets, and inverted intervals matching nothing —
    with NO duplicate pairs (the ownership-bucket filter replaces the
    distinct shuffle)."""
    from kml2geojson_spark.rangejoin import interval_overlap_join
    left = spark.range(80).selectExpr(
        "id AS lid", "(id * 53) % 700 AS ls",
        # every 9th inverted; every 5th spans many width-16 buckets
        "CASE WHEN id % 9 = 0 THEN (id * 53) % 700 - 3 "
        "     WHEN id % 5 = 0 THEN (id * 53) % 700 + 200 "
        "     ELSE (id * 53) % 700 + id % 30 END AS le")
    right = spark.range(60).selectExpr(
        "id AS rid", "(id * 101) % 700 AS rs",
        "CASE WHEN id % 7 = 0 THEN (id * 101) % 700 - 1 "
        "     ELSE (id * 101) % 700 + id % 40 END AS re")
    out = interval_overlap_join(
        left, right, left_start="ls", left_end="le",
        right_start="rs", right_end="re", bucket_width=16)
    got = sorted(map(tuple, out.select("lid", "rid").collect()))
    naive = left.join(right, (F.col("ls") <= F.col("re"))
                      & (F.col("rs") <= F.col("le"))
                      & (F.col("ls") <= F.col("le"))
                      & (F.col("rs") <= F.col("re")))
    expect = sorted(map(tuple, naive.select("lid", "rid").collect()))
    assert got == expect and got
    assert len(got) == len(set(got))  # exactly-once, no dedup needed


def test_interval_overlap_join_touching_endpoints_count(spark):
    from kml2geojson_spark.rangejoin import interval_overlap_join
    left = spark.createDataFrame([(1, 0, 10)], "lid int, ls int, le int")
    right = spark.createDataFrame(
        [(1, 10, 20),   # touches at 10 -> match
         (2, 11, 20),   # gap of 1 -> no match
         (3, -5, 0)],   # touches at 0 -> match
        "rid int, rs int, re int")
    got = sorted(r["rid"] for r in interval_overlap_join(
        left, right, left_start="ls", left_end="le",
        right_start="rs", right_end="re", bucket_width=8).collect())
    assert got == [1, 3]


def test_interval_overlap_join_plans_equi_join(spark):
    from kml2geojson_spark.rangejoin import interval_overlap_join
    left = spark.range(100).selectExpr("id AS lid", "id AS ls",
                                       "id + 5 AS le")
    right = spark.range(100).selectExpr("id AS rid", "id AS rs",
                                        "id + 3 AS re")
    plan = _plan(interval_overlap_join(
        left, right, left_start="ls", left_end="le",
        right_start="rs", right_end="re", bucket_width=8))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_join_rejects_collisions_and_bad_width(spark):
    from kml2geojson_spark.rangejoin import interval_overlap_join
    a = spark.range(3).selectExpr("id AS s", "id + 1 AS e")
    b = spark.range(3).selectExpr("id AS s", "id + 1 AS e")
    with pytest.raises(ValueError, match="collision"):
        interval_overlap_join(a, b, left_start="s", left_end="e",
                              right_start="s", right_end="e",
                              bucket_width=4)
    c = spark.range(3).selectExpr("id AS rs", "id + 1 AS re")
    with pytest.raises(ValueError, match="positive"):
        interval_overlap_join(a, c, left_start="s", left_end="e",
                              right_start="rs", right_end="re",
                              bucket_width=0)


# --------------------------------------------- trajectory_resample


def _resample_ref(fixes, step):
    """Pure-Python reference: fixes = [(t, x, y)] for ONE id."""
    fixes = sorted(fixes)
    out = []
    for i, (t0, x0, y0) in enumerate(fixes):
        nxt = fixes[i + 1] if i + 1 < len(fixes) else None
        lo = t0 // step + (0 if (i == 0 and t0 % step == 0) else 1)
        hi = (nxt[0] // step) if nxt else t0 // step
        for k in range(lo, hi + 1):
            T = k * step
            if nxt is None:
                x, y = x0, y0
            else:
                f = (T - t0) / (nxt[0] - t0)
                x = x0 + (nxt[1] - x0) * f
                y = y0 + (nxt[2] - y0) * f
            out.append((T, round(x * 1e9), round(y * 1e9)))
    return out


def test_trajectory_resample_matches_reference(spark):
    from kml2geojson_spark.spatial.ops import trajectory_resample
    fixes = {
        1: [(0, 0.0, 0.0), (10, 10.0, -5.0)],       # start on grid
        2: [(3, 1.5, 2.5), (7, 2.5, 0.5), (23, -1.0, 4.0)],
        3: [(8, 7.0, 7.0)],                          # single on-grid fix
        4: [(9, 7.0, 7.0)],                          # single off-grid fix
    }
    rows = [(i, t, x, y) for i, fs in fixes.items() for t, x, y in fs]
    df = spark.createDataFrame(rows, "id long, t long, x double, y double")
    got = sorted((r["id"], r["t"], r["x_nano"], r["y_nano"])
                 for r in trajectory_resample(df, "id", "t", step=4)
                 .collect())
    expect = sorted((i, T, xn, yn) for i, fs in fixes.items()
                    for T, xn, yn in _resample_ref(fs, 4))
    assert got == expect and got
    # exactly-once per (id, tick)
    assert len({(i, T) for i, T, _, _ in got}) == len(got)
    # id=4's lone off-grid fix emits nothing; id=3's on-grid fix emits
    assert not any(i == 4 for i, *_ in got)
    assert [(r[1], r[2]) for r in got if r[0] == 3] == [(8, 7_000_000_000)]


def test_trajectory_resample_dedup_and_null_drop(spark):
    from kml2geojson_spark.spatial.ops import trajectory_resample
    rows = [(1, 0, 4.0, 0.0), (1, 0, 2.0, 9.0),   # dup t -> min struct
            (1, 8, 2.0, 0.0),
            (None, 4, 1.0, 1.0), (1, None, 1.0, 1.0),
            (1, 4, None, 1.0)]
    df = spark.createDataFrame(rows, "id long, t long, x double, y double")
    got = sorted((r["t"], r["x_nano"]) for r in
                 trajectory_resample(df, "id", "t", step=4).collect())
    # fixes after cleaning: (0, x=2.0), (8, x=2.0) -> ticks 0,4,8 all x=2
    assert got == [(0, 2_000_000_000), (4, 2_000_000_000),
                   (8, 2_000_000_000)]


def test_trajectory_resample_rejects_bad_step(spark):
    from kml2geojson_spark.spatial.ops import trajectory_resample
    df = spark.createDataFrame([(1, 0, 0.0, 0.0)],
                               "id long, t long, x double, y double")
    with pytest.raises(ValueError, match="positive"):
        trajectory_resample(df, "id", "t", step=0)


# ----------------------------------------------------- geofence_dwell


def _square_rings(cx, cy, r):
    return [[[cx - r, cy - r], [cx + r, cy - r], [cx + r, cy + r],
             [cx - r, cy + r], [cx - r, cy - r]]]


def test_geofence_dwell_hand_example(spark):
    """One user walks through square P (side 10 around origin):
    t=0 outside, t=10 in, t=15 in, t=40 in, t=50 outside, t=60 in.
    Dwell = (15-10) + (40-15) = 30 (the unsampled 40->50 straddle and
    the 50->60 re-entry edge are NOT credited); n_inside = 4."""
    from kml2geojson_spark.spatial.ops import geofence_dwell
    fixes = [(1, 0, 100, -20.0, 0.0), (1, 10, 101, 1.0, 1.0),
             (1, 15, 102, -2.0, 3.0), (1, 40, 103, 4.0, -4.0),
             (1, 50, 104, 20.0, 0.0), (1, 60, 105, 0.0, 0.0)]
    f = spark.createDataFrame(
        fixes, "id long, t long, fix_id long, x double, y double")
    polys = spark.createDataFrame([(7, _square_rings(0.0, 0.0, 5.0))],
                                  "poly_id long, rings array<array<array<double>>>")
    out = geofence_dwell(f, polys, res=4).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id"], r["poly_id"], r["n_inside"], r["dwell"]) == (1, 7, 4, 30)


def test_geofence_dwell_overlapping_polys_and_dedup(spark):
    """A fix inside two overlapping fences credits both independently;
    duplicate (id, t) rows collapse to min(struct) first."""
    from kml2geojson_spark.spatial.ops import geofence_dwell
    fixes = [(1, 0, 200, 0.0, 0.0), (1, 5, 201, 1.0, 0.0),
             (1, 5, 299, 50.0, 50.0),          # dup t -> min struct wins
             (1, 9, 202, 9.0, 0.0),            # inside A only
             (2, 0, 300, None, 0.0)]           # NULL x dropped
    f = spark.createDataFrame(
        fixes, "id long, t long, fix_id long, x double, y double")
    polys = spark.createDataFrame(
        [(1, _square_rings(0.0, 0.0, 12.0)),   # A: all three fixes
         (2, _square_rings(0.0, 0.0, 3.0))],   # B: t=0 and t=5 only
        "poly_id long, rings array<array<array<double>>>")
    got = {(r["id"], r["poly_id"]): (r["n_inside"], r["dwell"])
           for r in geofence_dwell(f, polys, res=4).collect()}
    assert got == {(1, 1): (3, 9), (1, 2): (2, 5)}


def test_geofence_dwell_rejects_reserved_names(spark):
    from kml2geojson_spark.spatial.ops import geofence_dwell
    f = spark.createDataFrame([(1, 0, 1, 0.0, 0.0)],
                              "point_id long, t long, fix_id long, "
                              "x double, y double")
    polys = spark.createDataFrame([(1, _square_rings(0.0, 0.0, 1.0))],
                                  "poly_id long, rings array<array<array<double>>>")
    with pytest.raises(ValueError, match="reserved"):
        geofence_dwell(f, polys, res=4, id_col="point_id")


# --------------------------------------- cell_stays / speed_outliers


def test_cell_stays_runs_and_thresholds(spark):
    """Trajectory A: 3 fixes in cell X (t 0-20), 1 in Y (t 30), 2 back
    in X (t 40-45): three maximal runs — re-entry does NOT merge.
    min_duration=10 keeps only the first run; min_fixes=2 also drops
    the singleton."""
    from kml2geojson_spark.spatial.ops import cell_stays
    from kml2geojson_spark.spatial.cells import cell_encode_np
    res = 4  # 22.5 x 11.25 degree cells
    rows = [(1, 0, 1.0, 1.0), (1, 10, 2.0, 2.0), (1, 20, 3.0, 1.5),
            (1, 30, 60.0, 1.0),                 # different cell
            (1, 40, 1.5, 1.2), (1, 45, 2.5, 0.5)]
    df = spark.createDataFrame(rows, "id long, t long, x double, y double")
    got = sorted((r["t_start"], r["t_end"], r["n_fixes"], r["duration"])
                 for r in cell_stays(df, res).collect())
    assert got == [(0, 20, 3, 20), (30, 30, 1, 0), (40, 45, 2, 5)]
    kept = cell_stays(df, res, min_duration=10, min_fixes=2).collect()
    assert [(r["t_start"], r["t_end"]) for r in kept] == [(0, 20)]
    cx = int(cell_encode_np([2.0], [1.5], res)[0])
    assert all(r["cell_id"] == cx for r in kept)


def test_cell_stays_dedup_and_null_drop(spark):
    from kml2geojson_spark.spatial.ops import cell_stays
    rows = [(1, 0, 1.0, 1.0), (1, 0, 170.0, 80.0),  # dup t -> min struct
            (1, 5, 2.0, 2.0), (None, 1, 1.0, 1.0), (1, None, 1.0, 1.0)]
    df = spark.createDataFrame(rows, "id long, t long, x double, y double")
    got = cell_stays(df, 4).collect()
    assert len(got) == 1 and got[0]["n_fixes"] == 2 \
        and got[0]["duration"] == 5


def test_speed_outliers_integer_verdict(spark):
    """dist_nano > max_speed_nano * dt exactly: a 1-degree jump in 10
    units (1e8 nano/unit) is flagged at threshold 99_999_999 and NOT
    at 100_000_000 (strict >). First fix never flags."""
    from kml2geojson_spark.spatial.ops import speed_outliers
    rows = [(1, 0, 0.0, 0.0), (1, 10, 1.0, 0.0), (1, 20, 1.0, 0.0)]
    df = spark.createDataFrame(rows, "id long, t long, x double, y double")
    hot = speed_outliers(df, max_speed_nano=99_999_999).collect()
    assert [(r["t"], r["dist_nano"], r["dt"]) for r in hot] \
        == [(10, 1_000_000_000, 10)]
    assert speed_outliers(df, max_speed_nano=100_000_000).count() == 0
    with pytest.raises(ValueError, match="positive"):
        speed_outliers(df, max_speed_nano=0)


# ----------------------------------------------------- heading_octants


def test_heading_octants_boundary_ownership(spark):
    """Each 45° boundary belongs to the sector it opens: 0°→0, 45°→1,
    90°→2, 135°→3, 180°→4, 225°→5, 270°→6, 315°→7; a zero step is -1."""
    from kml2geojson_spark.spatial.ops import heading_octants
    steps = [(1, 0), (1, 1), (0, 1), (-1, 1),
             (-1, 0), (-1, -1), (0, -1), (1, -1), (0, 0)]
    rows, x, y = [], 0.0, 0.0
    for i, (dx, dy) in enumerate([(0, 0)] + steps):
        x, y = x + dx, y + dy
        rows.append((1, i, x, y))
    df = spark.createDataFrame(rows, "id long, t long, x double, y double")
    got = sorted((r["octant"], r["n_steps"])
                 for r in heading_octants(df, id_col="id").collect())
    assert got == [(-1, 1)] + [(o, 1) for o in range(8)]


def test_heading_octants_interior_angles(spark):
    from kml2geojson_spark.spatial.ops import heading_octants
    # 30°-ish (0), 60°-ish (1), 200°-ish (4), 250°-ish (5)
    steps = [(2.0, 1.0), (1.0, 2.0), (-2.0, -0.7), (-0.5, -1.4)]
    rows, x, y = [(1, 0, 0.0, 0.0)], 0.0, 0.0
    for i, (dx, dy) in enumerate(steps):
        x, y = x + dx, y + dy
        rows.append((1, i + 1, x, y))
    df = spark.createDataFrame(rows, "id long, t long, x double, y double")
    got = sorted((r["octant"], r["n_steps"])
                 for r in heading_octants(df, id_col="id").collect())
    assert got == [(0, 1), (1, 1), (4, 1), (5, 1)]


def test_trajectory_prologue_single_exchange(spark):
    """The shared dedupe prologue pre-partitions by id, so the (id, t)
    dedupe agg and the id-partitioned window reuse ONE exchange —
    a regression to groupBy-then-window costs a second shuffle of the
    whole fix table."""
    from kml2geojson_spark.spatial.ops import (cell_stays,
                                               speed_outliers,
                                               heading_octants,
                                               trajectory_resample)
    df = spark.range(1000).selectExpr(
        "id % 7 AS id", "id AS t",
        "CAST(id % 90 AS DOUBLE) AS x", "CAST(id % 45 AS DOUBLE) AS y")
    for out in (cell_stays(df, 5), speed_outliers(df, max_speed_nano=1),
                heading_octants(df), trajectory_resample(df, "id", "t",
                                                         step=16)):
        plan = _plan(out)
        n = plan.count("Exchange hashpartitioning") \
            + plan.count("Exchange rangepartitioning")
        assert n == 1, plan
