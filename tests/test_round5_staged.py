"""Round-5 STAGED operators — implemented and verified in round 4,
to be registered in ``__spark_entry__.queries()`` in the FIRST commit
of round 5 (the driver pins the query list at round start; see the
round-3 verdict item 1 for why registration must not happen
mid-round). Each test cross-checks the Spark result against the same
DuckDB SQL that the round-5 oracle entry will use, so registration is
a pure config change."""

from __future__ import annotations

import duckdb
import pandas as pd

from pyspark.sql import functions as F

from kml2geojson_spark.eventops import sessionize_batch
from kml2geojson_spark.sketch import weighted_sample, weighted_sample_sql

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# event_id totalizes both window ORDER BYs: the flag and the running
# sum are two separate window sorts, and duplicate (user, ts) rows
# could re-sort between them and splice a session (the q104/q106
# oracle hazard documented in __spark_entry__.py)
SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id AS _u, ts AS _t, event_id AS _eid,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                   OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS _new
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT _u, _t,
         SUM(_new) OVER (PARTITION BY _u ORDER BY _t, _eid
                         ROWS UNBOUNDED PRECEDING) AS _sess
  FROM e)
SELECT _u AS user_id, _sess AS session_idx,
       MIN(_t) AS session_start, MAX(_t) AS session_end,
       COUNT(*) AS n_events
FROM s GROUP BY _u, _sess
"""


def test_sessionize_batch_matches_duckdb(spark):
    events = spark.read.parquet(f"{SF}/events.parquet")
    got = (sessionize_batch(events, gap_seconds=1800)
           .orderBy("user_id", "session_idx").toPandas())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')")
    exp = con.execute(
        SESSIONIZE_SQL + " ORDER BY user_id, session_idx").df()
    assert len(got) == len(exp)
    for c in ("user_id", "session_idx", "n_events"):
        assert got[c].astype("int64").tolist() == \
            exp[c].astype("int64").tolist(), c
    for c in ("session_start", "session_end"):
        assert pd.to_datetime(got[c]).tolist() == \
            pd.to_datetime(exp[c]).tolist(), c


def test_sessionize_batch_semantics(spark):
    rows = [("u", "2024-01-01 00:00:00"), ("u", "2024-01-01 00:29:00"),
            ("u", "2024-01-01 00:59:00"),   # exactly 30min gap: in-session
            ("u", "2024-01-01 01:29:01"),   # 30min+1s: NEW session
            ("v", "2024-01-01 00:00:00"),
            ("v", None),                     # NULL ts dropped
            (None, "2024-01-01 00:00:00"),   # NULL user dropped too:
            (None, "2024-01-02 00:00:00")]   # no pseudo-user sessions
    df = spark.createDataFrame(rows, "user_id string, ts string") \
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    got = {(r["user_id"], r["session_idx"]): r["n_events"]
           for r in sessionize_batch(df, gap_seconds=1800).collect()}
    assert got == {("u", 1): 3, ("u", 2): 1, ("v", 1): 1}


def test_sessionize_batch_single_exchange_plan(spark):
    events = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(sessionize_batch(events))
    assert plan.count("Exchange") == 1, plan


def test_weighted_sample_matches_duckdb(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = weighted_sample(docs, 200, weight_col="n_chars",
                          id_col="doc_id").toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')")
    exp = con.execute(
        weighted_sample_sql("doc_id", "n_chars", "documents", 200)).df()
    assert len(got) == 200
    assert sorted(got["id"]) == sorted(exp["id"])
    assert dict(zip(got["id"], got["weight"])) == \
        dict(zip(exp["id"], exp["weight"]))


def test_weighted_sample_is_weighted_and_deterministic(spark):
    # two weight classes, heavy 100x: the heavy half must dominate
    rows = [(f"h{i}", 1000.0) for i in range(500)] + \
           [(f"l{i}", 10.0) for i in range(500)]
    df = spark.createDataFrame(rows, "id string, w double")
    a = {r["id"] for r in weighted_sample(df, 100, weight_col="w",
                                          id_col="id").collect()}
    b = {r["id"] for r in
         weighted_sample(df.repartition(7), 100, weight_col="w",
                         id_col="id").collect()}
    assert a == b  # partitioning-invariant
    heavy = sum(1 for i in a if i.startswith("h"))
    assert heavy > 80  # heavy class carries ~99% of the mass
    # zero/negative/NULL weights excluded
    df2 = spark.createDataFrame(
        [("a", 1.0), ("b", 0.0), ("c", -5.0), ("d", None)],
        "id string, w double")
    got = {r["id"] for r in weighted_sample(df2, 10, weight_col="w",
                                            id_col="id").collect()}
    assert got == {"a"}


def test_weighted_sample_take_ordered_plan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(weighted_sample(docs, 50, weight_col="n_chars",
                                 id_col="doc_id"))
    assert "TakeOrderedAndProject" in plan, plan


# --- cell_smooth (k-ring box smoothing) -------------------------------------

def test_cell_decode_cols_matches_np(spark):
    import numpy as np
    from kml2geojson_spark.spatial.cells import (cell_decode_np,
                                                 cell_encode_np)
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 300)
    lat = rng.uniform(-90, 90, 300)
    for res in (0, 3, 9, 26):
        cells = cell_encode_np(lon, lat, res)
        df = spark.createDataFrame([(int(c),) for c in cells], "cell_id long")
        from kml2geojson_spark.spatial.cells import cell_decode_cols
        ix, iy, r = cell_decode_cols(F.col("cell_id"))
        got = df.select(ix.alias("ix"), iy.alias("iy"),
                        r.alias("r")).collect()
        eix, eiy, eres = cell_decode_np(cells)
        assert [g["ix"] for g in got] == eix.tolist()
        assert [g["iy"] for g in got] == eiy.tolist()
        assert [g["r"] for g in got] == eres.tolist()


def test_cell_smooth_matches_brute_force(spark):
    import numpy as np
    from kml2geojson_spark.spatial.cells import cell_encode_np, cell_kring_np
    from kml2geojson_spark.spatial.ops import cell_smooth
    rng = np.random.default_rng(3)
    res, radius = 5, 2
    lon = rng.uniform(-180, 180, 400)
    lat = rng.uniform(-90, 90, 400)
    cells, counts = np.unique(cell_encode_np(lon, lat, res),
                              return_counts=True)
    df = spark.createDataFrame(
        [(int(c), int(n)) for c, n in zip(cells, counts)],
        "cell_id long, n long")
    got = {r["cell_id"]: r["smoothed"]
           for r in cell_smooth(df, res, radius).collect()}
    # brute force: scatter each occupied cell's count over its k-ring
    expect: dict = {}
    for c, n in zip(cells, counts):
        for nb in cell_kring_np(int(c), radius):
            expect[int(nb)] = expect.get(int(nb), 0) + int(n)
    assert got == expect


def test_cell_smooth_pole_and_antimeridian(spark):
    from kml2geojson_spark.spatial.cells import cell_encode_np
    from kml2geojson_spark.spatial.ops import cell_smooth
    import numpy as np
    res = 3  # 8x8 grid
    # a cell on the top row at the antimeridian edge
    c = int(cell_encode_np(np.array([-179.0]), np.array([89.0]), res)[0])
    df = spark.createDataFrame([(c, 10)], "cell_id long, n long")
    out = cell_smooth(df, res, 1).collect()
    # 3x3 ring minus the 3 clamped above-pole cells = 6 cells, x wrapped
    assert len(out) == 6
    assert all(r["smoothed"] == 10 for r in out)


def test_cell_smooth_wrong_res_raises(spark):
    import pytest
    from kml2geojson_spark.spatial.cells import cell_encode_np
    from kml2geojson_spark.spatial.ops import cell_smooth
    import numpy as np
    c = int(cell_encode_np(np.array([0.0]), np.array([0.0]), 4)[0])
    df = spark.createDataFrame([(c, 1)], "cell_id long, n long")
    from py4j.protocol import Py4JJavaError
    with pytest.raises(Exception) as ei:
        cell_smooth(df, 5, 1).collect()
    assert "expected resolution 5" in str(ei.value)


def test_cell_smooth_plan_zero_python_one_exchange(spark):
    from kml2geojson_spark.spatial.ops import cell_smooth
    df = spark.range(10).select(
        (F.col("id") * 32 + 9).alias("cell_id"), F.lit(1).alias("n"))
    plan = _plan(cell_smooth(df, 9, 1))
    assert "Python" not in plan and "BatchEval" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_cell_smooth_matches_duckdb_oracle(spark):
    """The exact SQL the round-5 oracle entry will use: smooth the
    q10-style customer-point cell counts at res 9, radius 1."""
    import __spark_entry__ as em
    from kml2geojson_spark.spatial import encode_points
    from kml2geojson_spark.spatial.ops import cell_smooth

    pts = em._customer_points(spark, SF)
    counts = (encode_points(pts, 9)
              .groupBy("cell_id").agg(F.count(F.lit(1)).alias("n")))
    got = cell_smooth(counts, 9, 1).orderBy("cell_id").toPandas()

    n = 1 << 9
    gx, gy = em._grid_sql("x", "y", 9)
    sql = (
        f"WITH pts AS ({em._PTS_SQL}), "
        f"pg AS (SELECT {gx} AS cx, {gy} AS cy FROM pts), "
        "cnt AS (SELECT cx, cy, COUNT(*) AS smoothed FROM pg GROUP BY cx, cy), "
        "offs AS (SELECT t1.dx, t2.dy FROM range(-1,2) t1(dx), range(-1,2) t2(dy)), "
        f"sc AS (SELECT ((cx + dx) % {n} + {n}) % {n} AS gx, cy + dy AS gy, "
        "smoothed FROM cnt, offs "
        f"WHERE cy + dy >= 0 AND cy + dy < {n}), "
        "g AS (SELECT gx, gy, SUM(smoothed) AS smoothed FROM sc GROUP BY gx, gy)"
        + em._morton_ctes("smoothed", 9, "g")
        + " SELECT cell_id, smoothed FROM enc ORDER BY cell_id")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM read_parquet('{SF}/customer.parquet')")
    exp = con.execute(sql).df()
    assert got["cell_id"].tolist() == exp["cell_id"].tolist()
    assert got["smoothed"].astype("int64").tolist() == \
        exp["smoothed"].astype("int64").tolist()


# --- pip_anti_join -----------------------------------------------------------

def test_pip_anti_join_is_exact_complement(spark):
    import __spark_entry__ as em
    from kml2geojson_spark.spatial import pip_join
    from kml2geojson_spark.spatial.ops import pip_anti_join
    pts = em._customer_points(spark, SF)
    polys = em._region_polygons(spark, SF) if hasattr(em, "_region_polygons") \
        else None
    if polys is None:
        # build the same polygon set q11 uses
        q11 = em.queries()["q11_pip"]
        # fall back: synthesize a few rectangles as rings
        rows = [(i, [[[x0, y0], [x0 + 40.0, y0], [x0 + 40.0, y0 + 30.0],
                      [x0, y0 + 30.0], [x0, y0]]])
                for i, (x0, y0) in enumerate(
                    [(-170.0, -80.0), (-60.0, -20.0), (30.0, 10.0),
                     (100.0, 40.0)])]
        polys = spark.createDataFrame(
            rows, "poly_id long, rings array<array<array<double>>>")
    inside = {r["point_id"] for r in
              pip_join(pts, polys, 6).select("point_id").distinct().collect()}
    outside = {r["point_id"] for r in
               pip_anti_join(pts, polys, 6).collect()}
    allp = {r["point_id"] for r in pts.collect()}
    assert inside | outside == allp
    assert inside & outside == set()


def test_pip_anti_join_duckdb_oracle(spark):
    """Round-5 staged oracle: NOT EXISTS ray-cast replay (the same
    crossing rule q11's oracle uses, negated)."""
    import __spark_entry__ as em
    from kml2geojson_spark.spatial.ops import pip_anti_join
    pts = em._customer_points(spark, SF)
    rows = [(i, [[[x0, y0], [x0 + 40.0, y0], [x0 + 40.0, y0 + 30.0],
                  [x0, y0 + 30.0], [x0, y0]]])
            for i, (x0, y0) in enumerate(
                [(-170.0, -80.0), (-60.0, -20.0), (30.0, 10.0),
                 (100.0, 40.0)])]
    polys = spark.createDataFrame(
        rows, "poly_id long, rings array<array<array<double>>>")
    got = sorted(r["point_id"]
                 for r in pip_anti_join(pts, polys, 6).collect())
    # rectangle ray-cast reduces to closed-open bbox containment
    # (west <= x < east, south <= y < north) under the engine's
    # crossing rule — replay that directly
    conds = " OR ".join(
        f"(x >= {x0} AND x < {x0 + 40.0} AND y >= {y0} AND y < {y0 + 30.0})"
        for _i, (x0, y0) in enumerate(
            [(-170.0, -80.0), (-60.0, -20.0), (30.0, 10.0), (100.0, 40.0)]))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM read_parquet('{SF}/customer.parquet')")
    exp = [r[0] for r in con.execute(
        f"WITH pts AS ({em._PTS_SQL}) "
        f"SELECT point_id FROM pts WHERE NOT ({conds}) ORDER BY point_id"
    ).fetchall()]
    assert got == exp


# --- time_bucket_gapfill ------------------------------------------------------

GAPFILL_SQL = """
WITH e AS (
  SELECT event_type AS g, CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
c AS (SELECT g, s - (((s % {step}) + {step}) % {step}) AS b, COUNT(*) AS n
      FROM e GROUP BY 1, 2),
r AS (SELECT g, MIN(b) AS lo, MAX(b) AS hi FROM c GROUP BY g),
grid AS (SELECT g, unnest(generate_series(lo, hi, {step})) AS b FROM r)
SELECT grid.g AS event_type, grid.b AS bucket_sec,
       COALESCE(c.n, 0) AS n_events
FROM grid LEFT JOIN c ON grid.g = c.g AND grid.b = c.b
"""


def test_time_bucket_gapfill_matches_duckdb(spark):
    from kml2geojson_spark.eventops import time_bucket_gapfill
    events = spark.read.parquet(f"{SF}/events.parquet")
    got = (time_bucket_gapfill(events, bucket_seconds=86400)
           .orderBy("event_type", "bucket_sec").toPandas())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')")
    exp = con.execute(GAPFILL_SQL.format(step=86400)
                      + " ORDER BY event_type, bucket_sec").df()
    assert len(got) == len(exp) > 0
    assert got["event_type"].tolist() == exp["event_type"].tolist()
    assert got["bucket_sec"].astype("int64").tolist() == \
        exp["bucket_sec"].astype("int64").tolist()
    assert got["n_events"].astype("int64").tolist() == \
        exp["n_events"].astype("int64").tolist()
    # gaps really are zero-filled dense ranges per group
    for _g, grp in got.groupby("event_type"):
        b = grp["bucket_sec"].astype("int64").to_numpy()
        assert (b[1:] - b[:-1] == 86400).all()


def test_time_bucket_gapfill_semantics(spark):
    from kml2geojson_spark.eventops import time_bucket_gapfill
    rows = [("a", "2024-01-01 00:10:00"), ("a", "2024-01-01 03:50:00"),
            ("a", None), (None, "2024-01-01 01:00:00")]
    df = spark.createDataFrame(rows, "event_type string, ts string") \
        .select("event_type", F.col("ts").cast("timestamp").alias("ts"))
    got = {(r["bucket_sec"]): r["n_events"]
           for r in time_bucket_gapfill(df, bucket_seconds=3600,
                                        group_col="event_type").collect()}
    t0 = 1704067200  # 2024-01-01 00:00:00 UTC
    assert got == {t0: 1, t0 + 3600: 0, t0 + 7200: 0, t0 + 10800: 1}
    import pytest
    with pytest.raises(ValueError):
        time_bucket_gapfill(df, bucket_seconds=0)


def test_time_bucket_gapfill_plan_zero_python(spark):
    from kml2geojson_spark.eventops import time_bucket_gapfill
    events = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(time_bucket_gapfill(events))
    assert "Python" not in plan and "BatchEval" not in plan, plan


# --- event_transition_counts --------------------------------------------------

TRANSITIONS_SQL = """
WITH e AS (
  SELECT event_type AS c,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS p
  FROM events WHERE ts IS NOT NULL),
pr AS (SELECT p, c, COUNT(*) AS n_trans FROM e WHERE p IS NOT NULL
       GROUP BY p, c)
SELECT p AS prev_type, c AS next_type, n_trans,
       CAST((n_trans * 1000000) // SUM(n_trans) OVER (PARTITION BY p)
            AS BIGINT) AS ppm
FROM pr
"""


def test_event_transitions_match_duckdb(spark):
    from kml2geojson_spark.eventops import event_transition_counts
    events = spark.read.parquet(f"{SF}/events.parquet")
    got = (event_transition_counts(events)
           .orderBy("prev_type", "next_type").toPandas())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')")
    exp = con.execute(TRANSITIONS_SQL
                      + " ORDER BY prev_type, next_type").df()
    assert len(got) == len(exp) > 0
    for c in ("prev_type", "next_type"):
        assert got[c].tolist() == exp[c].tolist()
    for c in ("n_trans", "ppm"):
        assert got[c].astype("int64").tolist() == \
            exp[c].astype("int64").tolist(), c


def test_event_transitions_semantics(spark):
    from kml2geojson_spark.eventops import event_transition_counts
    rows = [("u", 1, "A", "2024-01-01 00:00:00"),
            ("u", 2, "B", "2024-01-01 00:01:00"),
            ("u", 3, "A", "2024-01-01 00:02:00"),
            ("v", 4, "B", "2024-01-01 00:00:00"),
            ("v", 5, "B", "2024-01-01 00:00:00"),  # tie: event_id orders
            ("w", 6, "C", None)]                   # NULL ts dropped
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, event_type string, ts string") \
        .select("user_id", "event_id", "event_type",
                F.col("ts").cast("timestamp").alias("ts"))
    got = {(r["prev_type"], r["next_type"]): (r["n_trans"], r["ppm"])
           for r in event_transition_counts(df).collect()}
    assert got == {("A", "B"): (1, 1000000), ("B", "A"): (1, 500000),
                   ("B", "B"): (1, 500000)}


def test_event_transitions_plan_zero_python(spark):
    from kml2geojson_spark.eventops import event_transition_counts
    events = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(event_transition_counts(events))
    assert "Python" not in plan and "BatchEval" not in plan, plan


# --- label_centroids ----------------------------------------------------------

def test_label_centroids_match_duckdb(spark):
    from kml2geojson_spark.simsearch import (label_centroids,
                                             label_centroids_sql)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = label_centroids(emb).orderBy("label", "dim").toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF}/embeddings.parquet')")
    exp = con.execute(label_centroids_sql()
                      + " ORDER BY label, dim").df()
    assert len(got) == len(exp) > 0
    assert got["label"].tolist() == exp["label"].tolist()
    for c in ("dim", "centroid_micro", "n_vectors"):
        assert got[c].astype("int64").tolist() == \
            exp[c].astype("int64").tolist(), c


def test_label_centroids_exact_semantics(spark):
    import math
    from kml2geojson_spark.simsearch import label_centroids

    def trunc_div(s: int, n: int) -> int:
        q = abs(s) // n
        return q if s >= 0 else -q

    vecs = {"a": [[1.0, -1.5], [2.0, -2.1]], "b": [[0.3, 0.7]]}
    rows = [(f"{lab}{i}", v, lab)
            for lab, vs in vecs.items() for i, v in enumerate(vs)]
    df = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>, label string")
    got = {(r["label"], r["dim"]): (r["centroid_micro"], r["n_vectors"])
           for r in label_centroids(df).collect()}
    expect = {}
    for lab, vs in vecs.items():
        for d in range(2):
            s = sum(math.floor(v[d] * 1_000_000.0) for v in vs)
            expect[(lab, d)] = (trunc_div(s, len(vs)), len(vs))
    assert got == expect
    # negative non-divisible sum really exercised trunc-toward-zero
    assert expect[("a", 1)][0] == trunc_div(
        math.floor(-1.5e6) + math.floor(-2.1 * 1e6), 2)


def test_label_centroids_plan_one_exchange_zero_python(spark):
    from kml2geojson_spark.simsearch import label_centroids
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(label_centroids(emb))
    assert "Python" not in plan and "BatchEval" not in plan, plan
    assert plan.count("Exchange") == 1, plan


# --- histogram1d --------------------------------------------------------------

HIST_SQL = """
WITH v AS (SELECT CAST(value AS DOUBLE) AS v FROM events
           WHERE value IS NOT NULL AND value >= 0.0 AND value <= 100.0),
b AS (SELECT CASE WHEN CAST(floor((v - 0.0) / 5.0) AS BIGINT) >= 20 THEN 19
                  ELSE CAST(floor((v - 0.0) / 5.0) AS BIGINT) END AS bin
      FROM v),
c AS (SELECT bin, COUNT(*) AS n FROM b GROUP BY bin)
SELECT r.range AS bin, 0.0 + r.range * 5.0 AS bin_lo,
       COALESCE(c.n, 0) AS n
FROM range(20) r LEFT JOIN c ON r.range = c.bin
"""


def test_histogram1d_matches_duckdb(spark):
    from kml2geojson_spark.relational import histogram1d
    events = spark.read.parquet(f"{SF}/events.parquet")
    got = histogram1d(events, value_col="value", lo=0.0, hi=100.0,
                      n_bins=20).orderBy("bin").toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')")
    exp = con.execute(HIST_SQL + " ORDER BY bin").df()
    assert len(got) == 20 == len(exp)
    assert got["bin"].astype("int64").tolist() == \
        exp["bin"].astype("int64").tolist()
    assert got["bin_lo"].tolist() == exp["bin_lo"].tolist()
    assert got["n"].astype("int64").tolist() == \
        exp["n"].astype("int64").tolist()
    assert got["n"].sum() > 0


def test_histogram1d_semantics(spark):
    import pytest
    from kml2geojson_spark.relational import histogram1d
    df = spark.createDataFrame(
        [(0.0,), (4.999,), (5.0,), (10.0,), (-0.1,), (10.1,), (None,)],
        "value double")
    got = {r["bin"]: (r["bin_lo"], r["n"])
           for r in histogram1d(df, value_col="value", lo=0.0, hi=10.0,
                                n_bins=2).collect()}
    # hi folds into last bin; out-of-range and NULL dropped; all bins present
    assert got == {0: (0.0, 2), 1: (5.0, 2)}
    with pytest.raises(ValueError):
        histogram1d(df, value_col="value", lo=0.0, hi=0.0, n_bins=2)
    with pytest.raises(ValueError):
        histogram1d(df, value_col="value", lo=0.0, hi=1.0, n_bins=0)


def test_histogram1d_plan_zero_python(spark):
    from kml2geojson_spark.relational import histogram1d
    events = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(histogram1d(events, value_col="value", lo=0.0, hi=100.0))
    assert "Python" not in plan and "BatchEval" not in plan, plan


# --- weighted_median ----------------------------------------------------------

WMEDIAN_SQL = """
WITH d0 AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v,
         l_orderkey * 100 + l_linenumber AS i,
         CAST(ROUND(CAST(l_quantity AS DOUBLE) * 1000.0) AS BIGINT) AS wm
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
d AS (SELECT * FROM d0 WHERE wm > 0),
c AS (
  SELECT g, v, i, wm,
         SUM(wm) OVER (PARTITION BY g ORDER BY v, i
                       ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(wm) OVER (PARTITION BY g) AS tot
  FROM d),
q AS (
  SELECT g, v, CAST(tot AS BIGINT) AS tot,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY v, i) AS rn
  FROM c WHERE cum * 2 >= tot)
SELECT g AS l_returnflag, v AS median, tot AS total_weight_milli
FROM q WHERE rn = 1
"""


def test_weighted_median_matches_duckdb(spark):
    from kml2geojson_spark.relational import weighted_median
    li = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .withColumn("lid", F.col("l_orderkey") * 100
                      + F.col("l_linenumber")))
    got = (weighted_median(li, group_col="l_returnflag",
                           value_col="l_extendedprice",
                           weight_col="l_quantity", id_col="lid")
           .orderBy("l_returnflag").toPandas())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{SF}/lineitem.parquet')")
    exp = con.execute(WMEDIAN_SQL + " ORDER BY l_returnflag").df()
    assert len(got) == len(exp) > 0
    assert got["l_returnflag"].tolist() == exp["l_returnflag"].tolist()
    assert got["median"].tolist() == exp["median"].tolist()
    assert got["total_weight_milli"].astype("int64").tolist() == \
        exp["total_weight_milli"].astype("int64").tolist()


def test_weighted_median_semantics(spark):
    from kml2geojson_spark.relational import weighted_median
    rows = [("g", 1, 1.0, 1.0), ("g", 2, 2.0, 1.0), ("g", 3, 3.0, 2.0),
            ("s", 4, 9.0, 5.0),
            ("z", 5, 1.0, 0.0), ("z", 6, 2.0, -1.0), ("z", 7, 3.0, None),
            # sub-milli weights round to ZERO integerized mass: excluded
            # (a raw w > 0 filter would keep the row and report this
            # group's minimum as its median with _tot = 0)
            ("z", 8, 5.0, 0.0004)]
    df = spark.createDataFrame(rows, "g string, i long, v double, w double")
    got = {r["g"]: (r["median"], r["total_weight_milli"])
           for r in weighted_median(df, group_col="g", value_col="v",
                                    weight_col="w", id_col="i").collect()}
    # half-mass boundary: cum(2.0)=2000, tot=4000 -> 2*cum >= tot picks 2.0
    # and the all-sub-milli group z vanishes entirely
    assert got == {"g": (2.0, 4000), "s": (9.0, 5000)}


def test_weighted_median_single_exchange_zero_python(spark):
    from kml2geojson_spark.relational import weighted_median
    li = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .withColumn("lid", F.col("l_orderkey") * 100
                      + F.col("l_linenumber")))
    plan = _plan(weighted_median(li, group_col="l_returnflag",
                                 value_col="l_extendedprice",
                                 weight_col="l_quantity", id_col="lid"))
    assert "Python" not in plan and "BatchEval" not in plan, plan
    assert plan.count("Exchange") == 1, plan


# --- polygon_centroid ---------------------------------------------------------

def test_polygon_centroid_matches_duckdb(spark):
    import __spark_entry__ as em
    from kml2geojson_spark.spatial.ops import polygon_centroid
    out = polygon_centroid(em._nation_diamonds(spark, SF))
    got = (out.select(
        "poly_id",
        F.round(F.col("cx") * 1e6).cast("long").alias("cx_micro"),
        F.round(F.col("cy") * 1e6).cast("long").alias("cy_micro"),
        F.round(F.col("area2") * 1e6).cast("long").alias("area2_micro"))
        .orderBy("poly_id").toPandas())
    sql = f"""
WITH polys AS ({em._POLY_SQL}),
verts AS (
  SELECT poly_id,
         cx + dx1 * r AS x1, cy + dy1 * r AS y1,
         cx + dx2 * r AS x2, cy + dy2 * r AS y2
  FROM polys CROSS JOIN (VALUES
    (1.0, 0.0, 0.0, 1.0), (0.0, 1.0, -1.0, 0.0),
    (-1.0, 0.0, 0.0, -1.0), (0.0, -1.0, 1.0, 0.0)
  ) AS d(dx1, dy1, dx2, dy2)
)
SELECT poly_id,
       CAST(ROUND(SUM((x1 + x2) * (x1 * y2 - x2 * y1))
                  / (3.0 * SUM(x1 * y2 - x2 * y1)) * 1e6) AS BIGINT)
           AS cx_micro,
       CAST(ROUND(SUM((y1 + y2) * (x1 * y2 - x2 * y1))
                  / (3.0 * SUM(x1 * y2 - x2 * y1)) * 1e6) AS BIGINT)
           AS cy_micro,
       CAST(ROUND(SUM(x1 * y2 - x2 * y1) * 1e6) AS BIGINT) AS area2_micro
FROM verts GROUP BY poly_id ORDER BY poly_id
"""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW nation AS SELECT * FROM read_parquet('{SF}/nation.parquet')")
    exp = con.execute(sql).df()
    assert len(got) == len(exp) > 0
    for c in ("poly_id", "cx_micro", "cy_micro", "area2_micro"):
        assert got[c].astype("int64").tolist() == \
            exp[c].astype("int64").tolist(), c


def test_polygon_centroid_hand_cases(spark):
    from kml2geojson_spark.spatial.ops import polygon_centroid
    tri = [[[0.0, 0.0], [6.0, 0.0], [0.0, 3.0], [0.0, 0.0]]]
    degen = [[[1.0, 1.0], [1.0, 1.0]]]        # zero area: centroid NULL
    short = [[[1.0, 1.0]]]                    # < 2 vertices
    df = spark.createDataFrame(
        [(0, tri), (1, degen), (2, short)],
        "poly_id long, rings array<array<array<double>>>")
    got = {r["poly_id"]: (r["cx"], r["cy"], r["area2"])
           for r in polygon_centroid(df).collect()}
    assert got[0] == (2.0, 1.0, 18.0)
    assert got[1] == (None, None, 0.0)
    assert got[2] == (None, None, 0.0)


def test_polygon_centroid_plan_narrow_zero_python(spark):
    import __spark_entry__ as em
    from kml2geojson_spark.spatial.ops import polygon_centroid
    plan = _plan(polygon_centroid(em._nation_diamonds(spark, SF)))
    assert "Python" not in plan and "BatchEval" not in plan, plan
    assert "Exchange" not in plan, plan  # narrow: no shuffle at all


# --- group_mode ---------------------------------------------------------------

MODE_SQL = """
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS n
  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
  GROUP BY user_id, event_type),
r AS (
  SELECT user_id, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type ASC) AS rn
  FROM c)
SELECT user_id, event_type AS mode, n FROM r WHERE rn = 1
"""


def test_group_mode_matches_duckdb(spark):
    from kml2geojson_spark.relational import group_mode
    events = spark.read.parquet(f"{SF}/events.parquet")
    got = (group_mode(events, group_col="user_id", value_col="event_type")
           .orderBy("user_id").toPandas())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')")
    exp = con.execute(MODE_SQL + " ORDER BY user_id").df()
    assert len(got) == len(exp) > 0
    assert got["user_id"].astype("int64").tolist() == \
        exp["user_id"].astype("int64").tolist()
    assert got["mode"].tolist() == exp["mode"].tolist()
    assert got["n"].astype("int64").tolist() == \
        exp["n"].astype("int64").tolist()


def test_group_mode_tie_break_and_nulls(spark):
    from kml2geojson_spark.relational import group_mode
    rows = [("g", "b"), ("g", "b"), ("g", "a"), ("g", "a"),  # tie: a wins
            ("h", None), ("h", "z"),
            (None, "x")]
    df = spark.createDataFrame(rows, "g string, v string")
    got = {r["g"]: (r["mode"], r["n"])
           for r in group_mode(df, group_col="g", value_col="v").collect()}
    assert got == {"g": ("a", 2), "h": ("z", 1)}


def test_group_mode_plan_zero_python(spark):
    from kml2geojson_spark.relational import group_mode
    events = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(group_mode(events, group_col="user_id",
                            value_col="event_type"))
    assert "Python" not in plan and "BatchEval" not in plan, plan
