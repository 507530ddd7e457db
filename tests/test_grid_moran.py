"""grid_moran — global Moran's I of cell density (q137; post-pin
registration, in-repo oracle sweep evidence)."""

from __future__ import annotations

import math

import numpy as np

from kml2geojson_spark.spatial.ops import grid_moran


def _ref(pts, res):
    """Pure-Python reference with the identical expression tree."""
    n_grid = 1 << res
    counts = {}
    for px, py in pts:
        gx = max(0, min(n_grid - 1, math.floor((px + 180.0) / 360.0 * n_grid)))
        gy = max(0, min(n_grid - 1, math.floor((py + 90.0) / 180.0 * n_grid)))
        counts[(gx, gy)] = counts.get((gx, gy), 0) + 1
    n = len(counts)
    sx = sum(counts.values())
    sxx = sum(c * c for c in counts.values())
    w = s1 = s2 = 0
    for (gx, gy), c in counts.items():
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if (dx, dy) == (0, 0):
                    continue
                c2 = counts.get((gx + dx, gy + dy))
                if c2 is not None:
                    w += 1
                    s1 += c * c2
                    s2 += c + c2
    if w == 0:
        return n, w, None
    mean = float(sx) / float(n)
    num = float(s1) - mean * float(s2) + float(w) * mean * mean
    den = float(sxx) - float(n) * mean * mean
    if den == 0.0:
        return n, w, None
    moran = (float(n) / float(w)) * (num / den)
    return n, w, round(moran * 1e9)


def _run(spark, pts, res):
    df = spark.createDataFrame(pts, "x double, y double")
    (row,) = grid_moran(df, res).collect()
    return row["n_cells"], row["n_pairs"], row["moran_nano"]


def test_single_cell_undefined(spark):
    got = _run(spark, [(1.0, 1.0), (1.1, 1.05)], 4)
    assert got == (1, 0, None)


def test_uniform_counts_zero_variance(spark):
    # two adjacent cells, one point each: den = 0 → NULL
    n, w, m = _run(spark, [(1.0, 1.0), (25.0, 1.0)], 4)
    assert (n, w, m) == (2, 2, None)


def test_checkerboard_is_negative(spark):
    # alternating heavy/light columns in one row of cells → I < 0
    pts = []
    for col in range(6):
        cx = 5.0 + col * 22.5  # res 4 cell width
        reps = 5 if col % 2 == 0 else 1
        pts += [(cx, 5.0)] * reps
    n, w, m = _run(spark, pts, 4)
    assert n == 6 and w == 10 and m is not None and m < 0
    assert (n, w, m) == _ref(pts, 4)


def test_matches_reference_random(spark):
    rng = np.random.default_rng(137)
    # clustered: gaussian blobs → expect positive autocorrelation
    blobs = []
    for _ in range(12):
        cx, cy = rng.uniform(-150, 150), rng.uniform(-70, 70)
        blobs += [(float(np.clip(cx + rng.normal(0, 8), -179.9, 179.9)),
                   float(np.clip(cy + rng.normal(0, 4), -89.9, 89.9)))
                  for _ in range(rng.integers(20, 60))]
    for res in (4, 5):
        got = _run(spark, blobs, res)
        assert got == _ref(blobs, res)
    assert _run(spark, blobs, 5)[2] > 0
