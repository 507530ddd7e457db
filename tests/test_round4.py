"""Round-4 additions: gaps-and-islands interval merging, forward as-of
direction, the real PPM media decode, and the md5-Rademacher pure-Column
LSH bucket path (plan-asserted zero-Python)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from kml2geojson_spark.asof import asof_join
from kml2geojson_spark.eventops import merge_intervals
from kml2geojson_spark.multimodal import (_md5_chain, _ppm_payload,
                                          decode_ppm, fetch_media_stub,
                                          media_features, parse_ppm)
from kml2geojson_spark.simsearch import (hyperplane_band_buckets,
                                         rademacher_hyperplanes)


def _mk(spark, rows, cols):
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols))


# -- merge_intervals ---------------------------------------------------------

def test_merge_intervals_touching_and_gaps(spark):
    iv = _mk(spark, [
        ("a", 1, 3), ("a", 3, 5),      # touching -> one island
        ("a", 7, 9),                   # strict gap -> new island
        ("b", 1, 10), ("b", 2, 4),     # contained -> one island
    ], ["key", "start", "end"])
    got = {(r["key"], r["island_start"]): (r["island_end"], r["n_intervals"])
           for r in merge_intervals(iv).collect()}
    assert got == {("a", 1): (5, 2), ("a", 7): (9, 1), ("b", 1): (10, 2)}


def test_merge_intervals_running_max_not_lag(spark):
    # [1,10] then [2,3] then [4,6]: a lag(end)-based flag would wrongly
    # split at 4 (prev end 3); the running MAX(end) keeps one island
    iv = _mk(spark, [("k", 1, 10), ("k", 2, 3), ("k", 4, 6)],
             ["key", "start", "end"])
    out = merge_intervals(iv).collect()
    assert len(out) == 1
    assert (out[0]["island_start"], out[0]["island_end"],
            out[0]["n_intervals"]) == (1, 10, 3)


def test_merge_intervals_partitioning_invariant(spark):
    rng = np.random.default_rng(7)
    n = 400
    pdf = pd.DataFrame({
        "key": rng.integers(0, 5, n),
        "start": rng.integers(0, 300, n),
    })
    pdf["end"] = pdf["start"] + rng.integers(0, 20, n)
    a = merge_intervals(spark.createDataFrame(pdf)).toPandas()
    b = merge_intervals(spark.createDataFrame(pdf).repartition(13)) \
        .toPandas()
    key = ["key", "island_start", "island_end", "n_intervals"]
    pd.testing.assert_frame_equal(
        a.sort_values(key).reset_index(drop=True),
        b.sort_values(key).reset_index(drop=True))
    # brute-force oracle per key
    for k, g in pdf.groupby("key"):
        ivs = sorted(zip(g["start"], g["end"]))
        islands, cur_s, cur_e, cnt = [], None, None, 0
        for s, e in ivs:
            if cur_s is None or s > cur_e:
                if cur_s is not None:
                    islands.append((cur_s, cur_e, cnt))
                cur_s, cur_e, cnt = s, e, 1
            else:
                cur_e, cnt = max(cur_e, e), cnt + 1
        islands.append((cur_s, cur_e, cnt))
        mine = sorted(
            (r.island_start, r.island_end, r.n_intervals)
            for r in a[a["key"] == k].itertuples())
        assert mine == islands, f"key {k}"


# -- forward as-of -----------------------------------------------------------

def test_asof_forward_basic(spark):
    left = _mk(spark, [(1, 10, pd.Timestamp("2024-01-02")),
                       (2, 10, pd.Timestamp("2024-01-05")),
                       (3, 20, pd.Timestamp("2024-01-03"))],
               ["lid", "k", "ts"])
    right = _mk(spark, [(10, pd.Timestamp("2024-01-03"), 100),
                        (10, pd.Timestamp("2024-01-04"), 101)],
                ["k", "ts", "rid"])
    out = {r["lid"]: r for r in
           asof_join(left, right, key="k", left_ts="ts", right_ts="ts",
                     direction="forward").collect()}
    assert out[1]["r_rid"] == 100   # earliest at-or-after
    assert out[2]["r_rid"] is None  # nothing after
    assert out[3]["r_rid"] is None  # key unmatched


def test_asof_forward_tie_break_smallest(spark):
    t = pd.Timestamp("2024-01-02")
    left = _mk(spark, [(1, 7, t)], ["lid", "k", "ts"])
    right = _mk(spark, [(7, t, 51), (7, t, 50),
                        (7, pd.Timestamp("2024-01-03"), 49)],
                ["k", "ts", "rid"])
    out = asof_join(left, right, key="k", left_ts="ts", right_ts="ts",
                    direction="forward").collect()[0]
    assert out["r_rid"] == 50  # equal ts -> SMALLEST tie-break


def test_asof_bad_direction(spark):
    df = _mk(spark, [(1, 1, 1)], ["lid", "k", "ts"])
    with pytest.raises(ValueError, match="direction"):
        asof_join(df, df.select("k", "ts"), key="k", left_ts="ts",
                  right_ts="ts", direction="sideways")


# -- PPM decode --------------------------------------------------------------

def test_parse_ppm_roundtrip_and_comments():
    body = bytes(range(2 * 2 * 3)) * 1
    blob = b"P6\n# a netpbm comment\n2 2\n255\n" + body
    w, h, maxval, px = parse_ppm(blob)
    assert (w, h, maxval) == (2, 2, 255)
    assert px.tobytes() == body


def test_parse_ppm_rejects_garbage():
    with pytest.raises(ValueError, match="magic"):
        parse_ppm(b"GIF89a....")
    with pytest.raises(ValueError, match="truncated"):
        parse_ppm(b"P6\n4 4\n255\n\x00\x01")


def test_ppm_payload_decodes_to_md5_chain():
    ref = "media/123.ppm"
    blob = _ppm_payload(ref, 16, 16)
    w, h, _m, px = parse_ppm(blob)
    assert (w, h) == (16, 16)
    assert px.tobytes() == _md5_chain(ref, 768)


def test_decode_ppm_checksums_match_numpy(spark):
    refs = _mk(spark, [("d1", "media/a.ppm", "ppm", 0),
                       ("d2", "media/b.ppm", "ppm", 0)],
               ["doc_id", "media_ref", "ext", "offset"])
    out = {r["media_ref"]: r for r in
           decode_ppm(fetch_media_stub(refs, payload="ppm", width=8,
                                       height=4)).collect()}
    for ref in ("media/a.ppm", "media/b.ppm"):
        px = np.frombuffer(_md5_chain(ref, 8 * 4 * 3),
                           dtype=np.uint8).astype(np.int64)
        r = out[ref]
        assert (r["width"], r["height"]) == (8, 4)
        assert r["pixel_sum"] == int(px.sum())
        assert r["pixel_wsum"] == int(
            np.dot(np.arange(1, len(px) + 1), px))


def test_media_features_ppm_decode_deterministic(spark):
    refs = _mk(spark, [("d", "media/x.ppm", "ppm", 0)],
               ["doc_id", "media_ref", "ext", "offset"])
    fetched = fetch_media_stub(refs, payload="ppm")
    a = media_features(fetched, dim=8, decode="ppm").collect()[0]["feature"]
    b = media_features(fetched, dim=8, decode="ppm").collect()[0]["feature"]
    assert a == b
    px = np.frombuffer(_md5_chain("media/x.ppm", 768),
                       dtype=np.uint8).astype(np.float32)
    expect = (px.reshape(8, -1).mean(axis=1) / 255.0)
    np.testing.assert_allclose(np.array(a), expect, rtol=1e-6)


def test_fetch_media_stub_strict_still_raises(spark):
    refs = _mk(spark, [("d", "media/x.ppm", "ppm", 0)],
               ["doc_id", "media_ref", "ext", "offset"])
    with pytest.raises(Exception, match="NotImplementedError|network"):
        fetch_media_stub(refs, strict=True, payload="ppm").collect()


# -- md5-Rademacher LSH ------------------------------------------------------

def test_rademacher_hyperplanes_deterministic_and_pm1():
    H = rademacher_hyperplanes(64, 64, seed=42)
    H2 = rademacher_hyperplanes(64, 64, seed=42)
    assert H.shape == (64, 64)
    assert np.array_equal(H, H2)
    assert set(np.unique(H)) == {-1.0, 1.0}
    # not degenerate: both signs well represented per hyperplane
    assert 10 < (H > 0).sum(axis=0).min() and (H > 0).sum(axis=0).max() < 54
    assert not np.array_equal(H, rademacher_hyperplanes(64, 64, seed=43))


def test_hyperplane_band_buckets_pure_column_plan(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bb = hyperplane_band_buckets(emb, "vec_id", dim=64, bits=64, bands=16)
    plan = bb._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "PythonMapInArrow"):
        assert marker not in plan, plan
    pdf = bb.toPandas()
    assert set(pdf["band"]) == set(range(16))
    assert pdf["bucket"].between(0, 15).all()  # 4-bit buckets
    # deterministic across runs / partitioning
    pdf2 = (hyperplane_band_buckets(emb.repartition(7), "vec_id",
                                    dim=64, bits=64, bands=16).toPandas())
    key = ["vec_id", "band"]
    pd.testing.assert_frame_equal(
        pdf.sort_values(key).reset_index(drop=True),
        pdf2.sort_values(key).reset_index(drop=True))


def test_hyperplane_buckets_match_numpy_signs(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .limit(50)
    pdf = emb.toPandas()
    H = rademacher_hyperplanes(64, 64, seed=42)
    got = hyperplane_band_buckets(emb, "vec_id", dim=64, bits=64,
                                  bands=16).toPandas()
    for _, row in pdf.iterrows():
        v = np.asarray(row["embedding"], dtype=np.float64)
        signs = (v @ H) > 0
        for b in range(16):
            bucket = int(sum(1 << t for t in range(4) if signs[4 * b + t]))
            mine = got[(got["vec_id"] == row["vec_id"])
                       & (got["band"] == b)]["bucket"].iloc[0]
            assert mine == bucket, (row["vec_id"], b)


# -- pure-Column k-ring (adaptive kNN candidate stage) ------------------------

def test_cell_kring_col_matches_np(spark):
    from kml2geojson_spark.spatial.cells import (cell_encode_np,
                                                 cell_kring_col,
                                                 cell_kring_np)
    rng = np.random.default_rng(3)
    pts = pd.DataFrame({
        "x": np.concatenate([rng.uniform(-180, 180, 40),
                             [-180.0, 179.999, 0.0, -179.999]]),
        "y": np.concatenate([rng.uniform(-90, 90, 40),
                             [89.999, -89.999, 0.0, 45.0]]),
    })
    df = spark.createDataFrame(pts)
    # radius 6 exercises the HOF sequence expansion branch (> 4),
    # the small radii the unrolled-literal branch
    for res in (0, 1, 3, 6):
        for radius in (1, 2, 6):
            got = df.select(
                "x", "y",
                cell_kring_col(F.col("x"), F.col("y"), res,
                               radius).alias("ring")).toPandas()
            for _, row in got.iterrows():
                home = int(cell_encode_np(
                    np.array([row["x"]]), np.array([row["y"]]), res)[0])
                expect = sorted(cell_kring_np(home, radius).tolist())
                assert sorted(row["ring"]) == expect, (row["x"], row["y"],
                                                       res, radius)


def test_adaptive_knn_candidate_stage_pure_column(spark):
    """The adaptive-kNN ring expansion must plan WITHOUT any Python
    eval node (it was the package's last per-row Python loop)."""
    from kml2geojson_spark.spatial.cells import cell_kring_col
    q = spark.createDataFrame([(1, 10.0, 20.0)], "query_id long, x double, y double")
    ring = q.select("query_id", F.explode(
        cell_kring_col(F.col("x"), F.col("y"), 6, 2)).alias("cell"))
    plan = ring._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "PythonMapInArrow"):
        assert marker not in plan, plan
    assert ring.count() == 25


def test_merge_intervals_single_exchange_plan(spark):
    """The island aggregation must reuse the window's hash
    partitioning: exactly ONE Exchange (the key shuffle), one Sort,
    and partial+final aggregation — no Python eval anywhere."""
    iv = spark.createDataFrame(
        [("k", 1, 3)], "key string, start int, end int")
    plan = merge_intervals(iv)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "PythonMapInArrow"):
        assert marker not in plan, plan


def test_explode_kring_matches_np(spark):
    from kml2geojson_spark.spatial.cells import cell_encode_np, cell_kring_np
    from kml2geojson_spark.spatial.core import explode_kring
    rng = np.random.default_rng(11)
    pts = pd.DataFrame({
        "qid": np.arange(30),
        "x": np.concatenate([rng.uniform(-180, 180, 26),
                             [-180.0, 179.99, 0.0, -179.99]]),
        "y": np.concatenate([rng.uniform(-90, 90, 26),
                             [89.99, -89.99, 0.0, 45.0]]),
    })
    df = spark.createDataFrame(pts)
    # res 0/1 exercise the narrow-grid (full-row offsets) branch
    for res in (0, 1, 3, 6):
        for radius in (1, 2):
            got = explode_kring(df, F.col("x"), F.col("y"), res, radius) \
                .groupBy("qid").agg(F.collect_set("cell_id").alias("ring")) \
                .toPandas().set_index("qid")["ring"]
            for _, row in pts.iterrows():
                home = int(cell_encode_np(
                    np.array([row["x"]]), np.array([row["y"]]), res)[0])
                expect = sorted(cell_kring_np(home, radius).tolist())
                assert sorted(got[row["qid"]]) == expect, (row["x"], res,
                                                           radius)


def test_explode_kring_pure_column_plan(spark):
    from kml2geojson_spark.spatial.core import explode_kring
    q = spark.createDataFrame([(1, 10.0, 20.0)],
                              "query_id long, x double, y double")
    ring = explode_kring(q, F.col("x"), F.col("y"), 6, 2)
    plan = ring._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "PythonMapInArrow"):
        assert marker not in plan, plan
    assert ring.count() == 25


def test_asof_forward_oracle_random(spark):
    """Forward direction vs a pandas brute force on a random corpus —
    the mirror of test_asof.test_asof_oracle_random."""
    rng = np.random.default_rng(23)
    n_l, n_r = 300, 300
    lpdf = pd.DataFrame({
        "lid": np.arange(n_l),
        "k": rng.integers(0, 12, n_l),
        "ts": pd.to_datetime("2024-01-01")
        + pd.to_timedelta(rng.integers(0, 10_000, n_l), unit="m"),
    })
    rpdf = pd.DataFrame({
        "k": rng.integers(0, 12, n_r),
        "ts": pd.to_datetime("2024-01-01")
        + pd.to_timedelta(rng.integers(0, 10_000, n_r), unit="m"),
        "rid": np.arange(n_r),
    })
    out = asof_join(spark.createDataFrame(lpdf), spark.createDataFrame(rpdf),
                    key="k", left_ts="ts", right_ts="ts",
                    direction="forward").toPandas()

    def brute(row):
        cand = rpdf[(rpdf["k"] == row["k"]) & (rpdf["ts"] >= row["ts"])]
        if len(cand) == 0:
            return None
        best = cand.sort_values(["ts", "rid"]).iloc[0]
        return int(best["rid"])

    expect = {int(r["lid"]): brute(r) for _, r in lpdf.iterrows()}
    got = {int(r["lid"]): (None if pd.isna(r["r_rid"]) else int(r["r_rid"]))
           for _, r in out.iterrows()}
    assert len(out) == n_l
    assert got == expect


def test_edit_distance_pairs_empty_string(spark):
    """The empty string pairs with every single-character string (its
    deletion variant) and with nothing else — pins the explicit
    empty-deletion-array guard (no reliance on descending-sequence +
    negative-substr edge behavior)."""
    from kml2geojson_spark.textops import edit_distance_pairs
    df = spark.createDataFrame(
        [("",), ("a",), ("b",), ("ab",), ("xyz",)], "name string")
    got = {(r["name_a"], r["name_b"])
           for r in edit_distance_pairs(df, col="name").collect()}
    assert got == {("", "a"), ("", "b"), ("a", "b"), ("a", "ab"),
                   ("ab", "b")}


def test_merge_intervals_degenerate_inverted_rows(spark):
    """start > end rows participate as written (their endpoints feed
    the running max) — pinned so the Spark window and the SQL oracle
    formulation can never drift on degenerate input."""
    iv = _mk(spark, [("k", 5, 3), ("k", 4, 10), ("z", 7, 2)],
             ["key", "start", "end"])
    got = {(r["key"]): (r["island_start"], r["island_end"],
                        r["n_intervals"])
           for r in merge_intervals(iv).collect()}
    # sorted: (4,10) then (5,3): 5 <= 10 -> one island, end max(10,3)
    assert got["k"] == (4, 10, 2)
    assert got["z"] == (7, 2, 1)


# --- expat tree-builder lane (kmlparse._parse_kml_expat) -------------------

def _trees_convert_equal(kml):
    """Both parser lanes must produce identical conversion output."""
    from kml2geojson_spark.convert_core import build_feature_collection_dict
    from kml2geojson_spark.kmlparse import _parse_kml_expat, _parse_kml_regex
    e = _parse_kml_expat(kml)
    assert e is not None, "expected the expat lane to accept this doc"
    a = build_feature_collection_dict(e, name="f")
    b = build_feature_collection_dict(_parse_kml_regex(kml), name="f")
    assert a == b, (a, b)
    return a


def test_expat_lane_attribute_normalization_parity():
    # literal tab/newline in attribute values -> space (XML 3.3.3);
    # character REFERENCES to tab/newline stay verbatim in both lanes
    k = ('<kml><Placemark id="a\tb\nc"><ExtendedData>'
         '<Data name="x&#9;y"><value>v</value></Data></ExtendedData>'
         "<Point><coordinates>1,2</coordinates></Point></Placemark></kml>")
    fc = _trees_convert_equal(k)
    assert fc["features"][0]["properties"]["x\ty"] == "v"


def test_expat_lane_doctype_falls_back_to_regex():
    from kml2geojson_spark.kmlparse import _parse_kml_expat, parse_kml
    k = ('<?xml version="1.0"?><!DOCTYPE kml [<!ENTITY e "X">]>'
         "<kml><Placemark><name>&e;</name><Point><coordinates>1,2"
         "</coordinates></Point></Placemark></kml>")
    assert _parse_kml_expat(k) is None  # custom entity: regex lane only
    root = parse_kml(k)  # regex lane keeps the reference verbatim
    assert root.find("name").text() == "&e;"


def test_expat_lane_undefined_entity_falls_back():
    from kml2geojson_spark.kmlparse import _parse_kml_expat, parse_kml
    k = ("<kml><Placemark><name>a &nope; b</name><Point><coordinates>"
         "1,2</coordinates></Point></Placemark></kml>")
    assert _parse_kml_expat(k) is None
    assert parse_kml(k).find("name").text() == "a &nope; b"


def test_expat_lane_large_text_buffer_split():
    # > expat's 8 KiB text buffer: the run may arrive as several ("t",)
    # children — Element.text() must join them; coordinate parsing of a
    # long LineString must be unaffected
    from kml2geojson_spark.kmlparse import _parse_kml_expat
    from kml2geojson_spark.convert_core import parse_coord_seq
    coords = " ".join(f"{i % 180}.5,{i % 85}.25,0" for i in range(2500))
    assert len(coords) > 20000
    k = (f"<kml><Placemark><LineString><coordinates>{coords}"
         "</coordinates></LineString></Placemark></kml>")
    fc = _trees_convert_equal(k)
    root = _parse_kml_expat(k)
    text = root.find("coordinates").text()
    assert parse_coord_seq(text) == parse_coord_seq(coords)
    assert len(fc["features"][0]["geometry"]["coordinates"]) == 2500


def test_expat_lane_crlf_and_cdata_parity():
    k = ('<?xml version="1.0"?>\r\n<kml>\r\n<Placemark><name>a\r\nb'
         "</name><description><![CDATA[x\r\ny]]></description>"
         "<Point><coordinates>1,2</coordinates></Point></Placemark>"
         "</kml>\r\n")
    fc = _trees_convert_equal(k)
    props = fc["features"][0]["properties"]
    assert props["name"] == "a\nb"  # XML 2.11 EOL normalization


def test_expat_lane_comment_breaks_text_run_parity():
    k = ("<kml><Placemark><name>lead<!-- c -->tail</name>"
         "<Point><coordinates>3,4</coordinates></Point></Placemark></kml>")
    fc = _trees_convert_equal(k)
    # comment terminates the leading run (minidom firstChild semantics)
    assert fc["features"][0]["properties"]["name"] == "lead"
