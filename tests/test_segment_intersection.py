"""segment_intersection_join — properly-crossing segment pairs with
exact intersection points, exactly-once via owner-cell dedup (q136;
post-pin registration, in-repo oracle sweep evidence)."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from kml2geojson_spark.spatial.ops import segment_intersection_join


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _segdf(spark, rows):
    return spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "seg_id long, x0 double, y0 double, x1 double, y1 double")


def _brute(a_rows, b_rows):
    """Pure-Python brute force with the same float expression tree."""
    out = set()
    for i, (ax0, ay0, ax1, ay1) in enumerate(a_rows):
        for j, (bx0, by0, bx1, by1) in enumerate(b_rows):
            rx, ry = ax1 - ax0, ay1 - ay0
            sx, sy = bx1 - bx0, by1 - by0
            d1 = rx * (by0 - ay0) - ry * (bx0 - ax0)
            d2 = rx * (by1 - ay0) - ry * (bx1 - ax0)
            d3 = sx * (ay0 - by0) - sy * (ax0 - bx0)
            d4 = sx * (ay1 - by0) - sy * (ax1 - bx0)
            if not (((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0))
                    and ((d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0))):
                continue
            denom = rx * sy - ry * sx
            t = ((bx0 - ax0) * sy - (by0 - ay0) * sx) / denom
            px, py = ax0 + t * rx, ay0 + t * ry
            out.add((i, j, round(px * 1e9), round(py * 1e9)))
    return out


def test_hand_cases(spark):
    a = _segdf(spark, [(0.0, 0.0, 2.0, 2.0),    # crosses b0 at (1, 1)
                       (5.0, 0.0, 5.0, 2.0),    # b1 touches its endpoint
                       (8.0, 0.0, 9.0, 0.0),    # collinear overlap w/ b2
                       (20.0, 0.0, 21.0, 0.0)])  # parallel to b3, apart
    b = _segdf(spark, [(0.0, 2.0, 2.0, 0.0),
                       (5.0, 2.0, 6.0, 2.0),    # endpoint ON a1: d == 0
                       (8.5, 0.0, 9.5, 0.0),
                       (20.0, 1.0, 21.0, 1.0)])
    got = {(r["seg_a"], r["seg_b"], r["ix_nano"], r["iy_nano"])
           for r in segment_intersection_join(a, b, 6).collect()}
    assert got == {(0, 0, 10**9, 10**9)}


def test_exactly_once_across_many_shared_cells(spark):
    # two long diagonals at a fine res share MANY supercover cells;
    # the owner-cell rule must emit the pair exactly once
    a = _segdf(spark, [(-40.0, -40.0, 40.0, 40.0)])
    b = _segdf(spark, [(-40.0, 40.0, 40.0, -40.0)])
    rows = segment_intersection_join(a, b, 9).collect()
    assert [(r["seg_a"], r["seg_b"], r["ix_nano"], r["iy_nano"])
            for r in rows] == [(0, 0, 0, 0)]


def test_matches_brute_force_random(spark):
    rng = np.random.default_rng(136)
    def gen(n):
        x0 = rng.uniform(-170, 170, n)
        y0 = rng.uniform(-80, 80, n)
        return [(float(x0[k]), float(y0[k]),
                 float(x0[k] + rng.uniform(-3, 3)),
                 float(y0[k] + rng.uniform(-3, 3))) for k in range(n)]
    a_rows, b_rows = gen(150), gen(150)
    want = _brute(a_rows, b_rows)
    assert want  # non-trivial corpus
    for res in (5, 7):
        got = {(r["seg_a"], r["seg_b"], r["ix_nano"], r["iy_nano"])
               for r in segment_intersection_join(
                   _segdf(spark, a_rows), _segdf(spark, b_rows),
                   res).collect()}
        assert got == want


def test_plan_has_no_nested_loop(spark):
    a = _segdf(spark, [(0.0, 0.0, 1.0, 1.0)])
    b = _segdf(spark, [(0.0, 1.0, 1.0, 0.0)])
    plan = _plan(segment_intersection_join(a, b, 6))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
