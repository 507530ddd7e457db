"""The spatial core: the operators the engine runs over the quadtree
cell index — point encoding, the polygon cover and coverage fractions,
the point-in-polygon join, k-ring kNN and tile assignment — with the
numpy reference oracles their tests compare against. The toolkit in
:mod:`.ops` builds on these; nothing here imports it.

Design rules (BASELINE.json north_star / SURVEY.md §2.3):

- Bulk cell encoding is a pure Column expression (JVM, codegen) — the
  100-TB hot path never crosses into Python.
- Python runs only where a kernel cannot be a Column expression, and
  then once per Arrow batch (``mapInArrow``), never per row or per
  polygon. A Python worker's first task costs about 0.2 CPU-s before
  user code runs, whatever its size: PySpark's per-task
  ``setup_spark_files`` calls ``importlib.invalidate_caches()``, which
  re-reads the zip directories of the ``pyspark.zip``, py4j zip and
  spark-core jar the workers import from (measured on a 4-vCPU host,
  PySpark 4.1). Importing this package in a worker freezes those
  importers (:mod:`kml2geojson_spark.worker_imports`), so a reused
  worker's later tasks skip that cost. So the PIP ray cast is Column
  expressions over the edges of a polygon that span the point's grid
  row, and the coverage clip (Sutherland–Hodgman + shoelace in numpy)
  handles a whole batch of polygons per kernel pass.
- Column kernels stay inside whole-stage codegen: higher-order array
  functions (``aggregate``, ``filter``, ``transform``) are interpreted,
  at roughly 75-350 ns per array element on that host, so work over
  large arrays is exploded into rows instead (the PIP ray cast ran
  about 7x faster that way).
- A job's generated classes fit Spark's codegen cache: 100 entries of
  (classloader, source) in 4 LRU segments of 25, where local mode holds
  each whole-stage subtree twice (driver and executor classloaders) and
  each operator outside whole-stage codegen adds its own classes. Past
  25 in a segment every job recompiles them in its task threads. So a
  plan carries no operator it can do without: the PIP cover is not
  regrouped into per-row edge arrays (an aggregation outside codegen).
- A Column kernel references each of its inputs a bounded number of
  times, never a number that doubles per step. Inside one Project,
  subexpression elimination hides repeated inputs, but Catalyst also
  inlines projections into pushed-down and inferred filters (a join's
  ``isnotnull``, a salted join's ``CASE WHEN cell_id IN (...)``), and
  no subexpression elimination runs there: every copy is evaluated
  per row. So the Morton spread is a byte-table lookup (one reference
  per 8 bits) rather than the 5-step mask cascade (32 references per
  axis); see :mod:`.cells`.
- Joins are plain DataFrame equi-joins on ``cell_id`` so Catalyst picks
  broadcast vs shuffled hash vs SMJ (with AQE); the explicitly-salted
  variant for hot cells lives in :mod:`.salted`.
- Every numeric formula that also appears in a DuckDB oracle query uses
  the identical double-precision expression so results match
  bit-for-bit (ray-cast crossing rule, interval coverage, squared
  distances).
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, Window, functions as F

from .cells import (
    _grid_col,
    _morton_col,
    cell_encode_col,
    cell_encode_grid_col,
    cell_encode_grid_np,
)
from .salted import salted_join


# ---------------------------------------------------------------------------
# Point encoding
# ---------------------------------------------------------------------------

def encode_points(df: DataFrame, res: int, lon_col: str = "x",
                  lat_col: str = "y", out_col: str = "cell_id") -> DataFrame:
    """Attach a cell id to every point row — whole-stage-codegen only."""
    return df.withColumn(out_col, cell_encode_col(F.col(lon_col), F.col(lat_col), res))


# ---------------------------------------------------------------------------
# General polygon cover / coverage fractions (numpy kernel)
# ---------------------------------------------------------------------------

def _clip_half(pts: np.ndarray, axis: int, bound: float, keep_le: bool) -> np.ndarray:
    """Sutherland–Hodgman clip of a polygon against one half-plane."""
    if len(pts) == 0:
        return pts
    vals = pts[:, axis]
    inside = (vals <= bound) if keep_le else (vals >= bound)
    out = []
    m = len(pts)
    for i in range(m):
        j = (i + 1) % m
        p, q = pts[i], pts[j]
        pin, qin = inside[i], inside[j]
        if pin:
            out.append(p)
        if pin != qin:
            t = (bound - p[axis]) / (q[axis] - p[axis])
            out.append(p + t * (q - p))
    return np.asarray(out) if out else np.empty((0, 2))


def _clip_area_rect(ring: np.ndarray, w: float, s: float, e: float, n: float) -> float:
    """|area| of ring ∩ [w,e]×[s,n] (shoelace after 4 half-plane clips).

    Scalar reference implementation — production runs the vectorized
    strip kernels :func:`_ring_cell_areas` / :func:`_rings_cell_areas`;
    tests assert they are bit-identical. The shoelace is an IN-ORDER
    left-to-right fold (matching the SQL oracle's list_reduce and the
    vectorized kernel), not np.sum, whose pairwise summation reorders
    additions."""
    pts = ring
    pts = _clip_half(pts, 0, w, keep_le=False)
    pts = _clip_half(pts, 0, e, keep_le=True)
    pts = _clip_half(pts, 1, s, keep_le=False)
    pts = _clip_half(pts, 1, n, keep_le=True)
    if len(pts) < 3:
        return 0.0
    x, y = pts[:, 0], pts[:, 1]
    terms = x * np.roll(y, -1) - np.roll(x, -1) * y
    acc = 0.0
    for t in terms:
        acc = acc + t
    return abs(0.5 * acc)


def _clip_half_many(pts: np.ndarray, cnt: np.ndarray, axis: int,
                    bounds: np.ndarray, keep_le: bool):
    """Vectorized Sutherland–Hodgman over C polygons at once: ``pts``
    is (C, M, 2) padded vertex storage with per-polygon counts ``cnt``,
    ``bounds`` one half-plane bound per polygon. Emission order per
    edge (kept vertex, then intersection) and the intersection formula
    ``p + t*(q-p)`` with ``t = (bound-p)/(q-p)`` are exactly the scalar
    :func:`_clip_half`'s — results are bit-identical."""
    C, M, _ = pts.shape
    if M == 0 or not cnt.any():
        return pts[:, :0], np.zeros(C, dtype=np.int64)
    idx = np.arange(M)
    valid = idx[None, :] < cnt[:, None]
    safe = np.maximum(cnt, 1)
    nxt = np.where(idx[None, :] + 1 < safe[:, None], idx[None, :] + 1, 0)
    vals_p = pts[:, :, axis]
    vals_q = np.take_along_axis(vals_p, nxt, axis=1)
    b = bounds[:, None]
    inside_p = (vals_p <= b) if keep_le else (vals_p >= b)
    inside_q = (vals_q <= b) if keep_le else (vals_q >= b)
    keep_v = inside_p & valid
    cross = (inside_p != inside_q) & valid
    # interleaved emission slots per edge: (kept vertex, intersection)
    mask = np.empty((C, 2 * M), dtype=bool)
    mask[:, 0::2] = keep_v
    mask[:, 1::2] = cross
    new_cnt = mask.sum(axis=1).astype(np.int64)
    new_m = int(new_cnt.max()) if C else 0
    out = np.zeros((C, new_m, 2))
    if new_m == 0:
        return out, new_cnt
    pos = mask.cumsum(axis=1)
    pos -= 1
    r0, k0 = np.nonzero(keep_v)
    out[r0, pos[r0, 2 * k0]] = pts[r0, k0]
    r1, k1 = np.nonzero(cross)
    if len(r1):
        # intersections computed SPARSELY, only at actual crossings,
        # where the denominator is guaranteed nonzero (the endpoints
        # straddle the bound)
        p = pts[r1, k1]
        q = pts[r1, nxt[r1, k1]]
        t = (bounds[r1] - p[:, axis]) / (q[:, axis] - p[:, axis])
        out[r1, pos[r1, 2 * k1 + 1]] = p + t[:, None] * (q - p)
    return out, new_cnt


def _shoelace_many(pts: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """|shoelace area| per padded polygon, IN-ORDER left-to-right fold
    (bit-matches the SQL oracle's list_reduce and the scalar path)."""
    C, M, _ = pts.shape
    if M == 0:
        return np.zeros(C)
    idx = np.arange(M)
    valid = idx[None, :] < cnt[:, None]
    safe = np.maximum(cnt, 1)
    nxt = np.where(idx[None, :] + 1 < safe[:, None], idx[None, :] + 1, 0)
    x, y = pts[:, :, 0], pts[:, :, 1]
    xn = np.take_along_axis(x, nxt, axis=1)
    yn = np.take_along_axis(y, nxt, axis=1)
    terms = x * yn - xn * y
    acc = np.zeros(C)
    for j in range(M):
        acc = acc + np.where(valid[:, j], terms[:, j], 0.0)
    area = np.abs(0.5 * acc)
    area[cnt < 3] = 0.0
    return area


def _rings_to_np(rings) -> list[np.ndarray]:
    """Nested ring lists → clean float64 (n, 2) arrays: vertices with
    fewer than 2 coordinates are dropped, then rings with fewer than 3
    surviving vertices. The reference semantics for every pip/cover
    path (:func:`_arrow_rings` and :func:`_clean_rings_col` apply the
    same rule): a malformed row must neither crash a task nor change
    the pip verdict between the Column and numpy ray casts."""
    out = []
    for ring in rings:
        pts = [p[:2] for p in ring if p is not None and len(p) >= 2]
        if len(pts) >= 3:
            out.append(np.asarray(pts, dtype=np.float64))
    return out


POLY_COVER_SCHEMA = "poly_id long, cell_id long, fraction double"

# cap on cells × vertices processed per vectorized chunk of one
# polygon's clip (_ring_cell_areas) — bounds the clip scratch
_COVER_CHUNK_CELLS_X_VERTS = 4_000_000
# the same cap for the batched clip (_rings_cell_areas): chunks this
# size stay in cache, and a 4M cap ran it about 2x slower at res 10
_COVER_BATCH_CHUNK_CELLS_X_VERTS = 65_536


def _bbox_grid(outer: np.ndarray, res: int):
    """Grid-index ranges (ix0..ix1, iy0..iy1) of a ring's bbox at
    ``res`` — the same float expressions as the SQL oracle."""
    nn = float(1 << res)
    hi = (1 << res) - 1
    ix0 = int(np.clip(np.floor((outer[:, 0].min() + 180.0) / 360.0 * nn), 0, hi))
    ix1 = int(np.clip(np.ceil((outer[:, 0].max() + 180.0) / 360.0 * nn) - 1, 0, hi))
    iy0 = int(np.clip(np.floor((outer[:, 1].min() + 90.0) / 180.0 * nn), 0, hi))
    iy1 = int(np.clip(np.ceil((outer[:, 1].max() + 90.0) / 180.0 * nn) - 1, 0, hi))
    return ix0, ix1, iy0, iy1


def _ring_cell_areas(ring: np.ndarray, gx: np.ndarray, gy: np.ndarray,
                     cell_w: float, cell_h: float) -> np.ndarray:
    """Clipped |area| of ``ring`` against every grid cell (gx × gy),
    strip-decomposed: the two x clips run ONCE per column strip (cells
    in a column share their w/e bounds — identical operation sequence,
    so still bit-exact vs the scalar path), then only the much smaller
    strip polygons are clipped per cell in y. Output is strip-major
    (gx outer, gy inner)."""
    nx, ny = len(gx), len(gy)
    m = len(ring)
    if nx == 0 or ny == 0 or m < 3:
        return np.zeros(nx * ny)
    w_strip = gx * cell_w - 180.0
    pts = np.broadcast_to(ring, (nx, m, 2)).copy()
    cnt = np.full(nx, m, dtype=np.int64)
    pts, cnt = _clip_half_many(pts, cnt, 0, w_strip, keep_le=False)
    pts, cnt = _clip_half_many(pts, cnt, 0, w_strip + cell_w, keep_le=True)
    ms = max(pts.shape[1], 1)
    s_col = gy * cell_h - 90.0
    areas = np.empty(nx * ny)
    strips_per_chunk = max(1, _COVER_CHUNK_CELLS_X_VERTS // (ms * ny))
    for lo in range(0, nx, strips_per_chunk):
        hi = min(nx, lo + strips_per_chunk)
        k = hi - lo
        cpts = np.repeat(pts[lo:hi], ny, axis=0)
        ccnt = np.repeat(cnt[lo:hi], ny)
        s_all = np.tile(s_col, k)
        cpts, ccnt = _clip_half_many(cpts, ccnt, 1, s_all, keep_le=False)
        cpts, ccnt = _clip_half_many(cpts, ccnt, 1, s_all + cell_h,
                                     keep_le=True)
        areas[lo * ny:hi * ny] = _shoelace_many(cpts, ccnt)
    return areas


def _cover_one(rings: list[np.ndarray], res: int, min_fraction: float):
    """One polygon → (cell_ids, fractions) over its bbox cells at
    ``res``, vectorized across all candidate cells (strip-decomposed,
    chunked to bound memory). The per-polygon reference that
    :func:`_cover_batch` matches bit for bit."""
    nn = float(1 << res)
    cell_w, cell_h = 360.0 / nn, 180.0 / nn
    cell_area = cell_w * cell_h
    outer = rings[0]
    ix0, ix1, iy0, iy1 = _bbox_grid(outer, res)
    gx = np.arange(ix0, ix1 + 1, dtype=np.int64)
    gy = np.arange(iy0, iy1 + 1, dtype=np.int64)
    area = _ring_cell_areas(outer, gx, gy, cell_w, cell_h)
    for hole in rings[1:]:
        area = area - _ring_cell_areas(hole, gx, gy, cell_w, cell_h)
    frac = area / cell_area
    keep = frac > min_fraction
    if not keep.any():
        return (np.empty(0, dtype=np.int64), np.empty(0))
    gxx = np.repeat(gx, len(gy))
    gyy = np.tile(gy, len(gx))
    return (cell_encode_grid_np(gxx[keep], gyy[keep], res), frac[keep])


def _arrow_rings(rings) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Arrow ``list<list<list<double>>>`` rings column → the
    :func:`_rings_to_np` rule applied to every row at once: vertices
    with fewer than 2 coordinates are dropped, then rings with fewer
    than 3 surviving vertices (null rows, rings and vertices count as
    empty). Returns ``(xy, ring_off, ring_row)``: the kept vertices'
    (x, y) as one (N, 2) float64 array, each kept ring's vertex range
    ``xy[ring_off[k]:ring_off[k + 1]]``, and the row each kept ring
    belongs to (non-decreasing, rings in row order)."""
    n_rings = pc.list_value_length(rings).fill_null(0).to_numpy()
    ring_arr = rings.flatten()
    n_verts = pc.list_value_length(ring_arr).fill_null(0).to_numpy()
    verts = ring_arr.flatten()
    vlen = pc.list_value_length(verts).fill_null(0).to_numpy()
    coords = np.asarray(verts.flatten().to_numpy(zero_copy_only=False),
                        dtype=np.float64)
    start = np.cumsum(vlen) - vlen
    ok = vlen >= 2
    ring_of_v = np.repeat(np.arange(len(n_verts)), n_verts)
    good = np.bincount(ring_of_v[ok], minlength=len(n_verts))
    keep_ring = good >= 3
    s = start[ok & keep_ring[ring_of_v]]
    xy = np.stack([coords[s], coords[s + 1]], axis=1)
    ring_off = np.concatenate([[0], np.cumsum(good[keep_ring])])
    ring_row = np.repeat(np.arange(len(n_rings)), n_rings)[keep_ring]
    return xy, ring_off, ring_row


def _ranges(lens: np.ndarray) -> np.ndarray:
    """Index within each run of lengths ``lens``: 0..lens[0]-1, 0..."""
    return np.arange(int(lens.sum())) - np.repeat(np.cumsum(lens) - lens, lens)


def _runs(width: np.ndarray, weight: np.ndarray, cap: int):
    """Cut rows sorted by ascending ``width`` into consecutive runs
    [i, j) whose summed ``weight`` × widest row stays within ``cap``
    (at least one row per run)."""
    c = np.cumsum(weight)
    w = np.maximum(width, 1)
    i, n = 0, len(c)
    while i < n:
        base = c[i - 1] if i else 0
        lo, hi = i + 1, n
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if (c[mid - 1] - base) * w[mid - 1] <= cap:
                lo = mid
            else:
                hi = mid - 1
        yield i, lo
        i = lo


def _padded(xy: np.ndarray, start: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """Ragged vertex ranges ``xy[start:start + cnt]`` → (R, W, 2)
    zero-padded storage for the ``*_many`` kernels."""
    k = np.arange(int(cnt.max()) if len(cnt) else 0)
    valid = k[None, :] < cnt[:, None]
    pts = np.zeros((len(cnt), len(k), 2))
    pts[valid] = xy[(start[:, None] + k[None, :])[valid]]
    return pts


def _rings_cell_areas(xy: np.ndarray, start: np.ndarray, cnt: np.ndarray,
                      gx0: np.ndarray, nx: np.ndarray, gy0: np.ndarray,
                      ny: np.ndarray, cell_w: float,
                      cell_h: float) -> np.ndarray:
    """:func:`_ring_cell_areas` for many rings at once: ring r (vertices
    ``xy[start[r]:start[r] + cnt[r]]``) against the grid block
    ``gx0[r] + [0, nx[r])`` × ``gy0[r] + [0, ny[r])``. Returns one
    strip-major block of ``nx[r] * ny[r]`` areas per ring, concatenated.

    The x clips run over every (ring, column strip) row, the y clips
    and the shoelace over every (strip, grid row) cell, in padded
    chunks of at most ``_COVER_BATCH_CHUNK_CELLS_X_VERTS`` cells ×
    vertices. Strip rows are ordered by ring vertex count first, so one
    long ring does not pad every short one to its width. A row's clip depends only on its own
    vertices and bounds, which use ``_ring_cell_areas``'s expressions,
    so each area is bit-identical to it for any batch and chunking."""
    ncell = nx * ny
    s_ring = np.repeat(np.arange(len(cnt)), nx)
    s_local = _ranges(nx)
    s_ny = ny[s_ring]
    s_dest = (np.cumsum(ncell) - ncell)[s_ring] + s_local * s_ny
    s_w = (gx0[s_ring] + s_local) * cell_w - 180.0
    s_gy0 = gy0[s_ring]
    s_cnt = cnt[s_ring]
    out = np.zeros(int(ncell.sum()))
    order = np.argsort(s_cnt, kind="stable")
    for i, j in _runs(s_cnt[order], np.ones(len(order)),
                      _COVER_BATCH_CHUNK_CELLS_X_VERTS):
        sel = order[i:j]
        pts, pcnt = _clip_half_many(
            _padded(xy, start[s_ring[sel]], s_cnt[sel]), s_cnt[sel], 0,
            s_w[sel], keep_le=False)
        pts, pcnt = _clip_half_many(pts, pcnt, 0, s_w[sel] + cell_w,
                                    keep_le=True)
        # strips ordered by clipped vertex count, for the same reason
        by_cnt = np.argsort(pcnt, kind="stable")
        for a, b in _runs(pcnt[by_cnt], s_ny[sel[by_cnt]],
                          _COVER_BATCH_CHUNK_CELLS_X_VERTS):
            c = by_cnt[a:b]
            part = sel[c]
            rep = s_ny[part]
            row = _ranges(rep)
            s_all = (np.repeat(s_gy0[part], rep) + row) * cell_h - 90.0
            cpts, ccnt = _clip_half_many(
                np.repeat(pts[c, :max(int(pcnt[c].max()), 1)], rep, axis=0),
                np.repeat(pcnt[c], rep), 1, s_all, keep_le=False)
            cpts, ccnt = _clip_half_many(cpts, ccnt, 1, s_all + cell_h,
                                         keep_le=True)
            out[np.repeat(s_dest[part], rep) + row] = \
                _shoelace_many(cpts, ccnt)
    return out


def _cover_batch(xy: np.ndarray, ring_off: np.ndarray, ring_row: np.ndarray,
                 res: int, min_fraction: float):
    """:func:`_cover_one` for every polygon of a batch at once, from
    :func:`_arrow_rings` output → (row, cell_id, fraction), polygons in
    row order and each polygon's cells strip-major, as ``_cover_one``
    emits them. Outer rings are clipped in one
    :func:`_rings_cell_areas` pass, then the first holes of every
    polygon in the next, and so on: holes are subtracted in ring order,
    so the result is bit-identical to ``_cover_one``."""
    if len(ring_row) == 0:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64),
                np.empty(0))
    nn = float(1 << res)
    hi = (1 << res) - 1
    cell_w, cell_h = 360.0 / nn, 180.0 / nn
    first = np.ones(len(ring_row), dtype=bool)
    first[1:] = ring_row[1:] != ring_row[:-1]
    ring_poly = np.cumsum(first) - 1
    ring_ord = np.arange(len(ring_row)) - np.nonzero(first)[0][ring_poly]
    start = ring_off[:-1]
    cnt = np.diff(ring_off)

    def scaled(reduce, axis, off, ext):
        return (reduce.reduceat(xy[:, axis], start)[first] + off) / ext * nn

    # outer-ring bbox → grid ranges, with _bbox_grid's expressions; a
    # NaN coordinate leaves no bbox, so the polygon covers nothing
    grid = [np.clip(g, 0, hi) for g in (
        np.floor(scaled(np.minimum, 0, 180.0, 360.0)),
        np.floor(scaled(np.minimum, 1, 90.0, 180.0)),
        np.ceil(scaled(np.maximum, 0, 180.0, 360.0)) - 1,
        np.ceil(scaled(np.maximum, 1, 90.0, 180.0)) - 1)]
    finite = np.logical_and.reduce([np.isfinite(g) for g in grid])
    ix0, iy0, ix1, iy1 = (np.where(finite, g, 0).astype(np.int64)
                          for g in grid)
    nx = np.where(finite, np.maximum(ix1 - ix0 + 1, 0), 0)
    ny = np.where(finite, np.maximum(iy1 - iy0 + 1, 0), 0)
    ncell = nx * ny
    poly_base = np.cumsum(ncell) - ncell

    area = np.empty(int(ncell.sum()))
    for level in range(int(ring_ord.max()) + 1):
        k = np.nonzero(ring_ord == level)[0]
        p = ring_poly[k]
        got = _rings_cell_areas(xy, start[k], cnt[k], ix0[p], nx[p], iy0[p],
                                ny[p], cell_w, cell_h)
        dst = np.repeat(poly_base[p], ncell[p]) + _ranges(ncell[p])
        area[dst] = got if level == 0 else area[dst] - got
    frac = area / (cell_w * cell_h)
    keep = frac > min_fraction
    c_poly = np.repeat(np.arange(len(ncell)), ncell)[keep]
    c_local = _ranges(ncell)[keep]
    gx = ix0[c_poly] + c_local // ny[c_poly]
    gy = iy0[c_poly] + c_local % ny[c_poly]
    return (ring_row[first][c_poly], cell_encode_grid_np(gx, gy, res),
            frac[keep])


def polygon_cover(polygons: DataFrame, res: int, *,
                  id_col: str = "poly_id", rings_col: str = "rings",
                  min_fraction: float = 0.0) -> DataFrame:
    """General raster←vector coverage: each polygon → the cells of its
    bbox at ``res`` with the exact fraction of each cell covered
    (Sutherland–Hodgman clip + shoelace; ring 0 is the outer ring,
    further rings are holes whose clipped area is subtracted).

    One ``mapInArrow`` over the polygons: :func:`_cover_batch` clips
    every bbox cell of every polygon of an Arrow batch in one
    vectorized pass — no per-polygon or per-cell Python. It matches
    the DuckDB Sutherland–Hodgman formulation operation for operation
    (driver q54). Work and output scale with bbox area; the clip
    scratch is chunked to ``_COVER_BATCH_CHUNK_CELLS_X_VERTS``.
    """
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows, cids, fracs = _cover_batch(*_arrow_rings(batch.column(1)),
                                             res, min_fraction)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(pa.array(rows, pa.int64())),
                 pa.array(cids, pa.int64()), pa.array(fracs, pa.float64())],
                ["poly_id", "cell_id", "fraction"])

    return polygons.select(F.col(id_col).cast("long"), F.col(rings_col)) \
        .mapInArrow(run, POLY_COVER_SCHEMA)


def coverage_fractions(polygons: DataFrame, res: int) -> DataFrame:
    """Per-cell total covered fraction across all polygons.

    The sum is accumulated as integer picounits (each addend rounded
    once, identically on every engine) so the aggregate is independent
    of shuffle/partition order and bit-reproducible — a float SUM over
    doubles would change in the last ulps with the merge order.
    Oracle-checked end-to-end (driver q60). ``total_fraction`` is
    derived from the integer sum (exact division by 1e12).

    Output: (cell_id, total_frac_pico, total_fraction, n_polygons).
    """
    cover = polygon_cover(polygons, res)
    pico = F.sum(F.round(F.col("fraction") * 1e12).cast("long")) \
        .alias("total_frac_pico")
    return (cover.groupBy("cell_id")
            .agg(pico, F.count(F.lit(1)).alias("n_polygons"))
            .withColumn("total_fraction",
                        F.col("total_frac_pico") / F.lit(1e12))
            .select("cell_id", "total_frac_pico", "total_fraction",
                    "n_polygons"))


# ---------------------------------------------------------------------------
# Point-in-polygon join (cell-bucketed + ray cast)
# ---------------------------------------------------------------------------

def _raycast_np(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Vectorized even-odd ray cast of m points against one polygon's
    rings. Crossing rule — identical expression to the SQL oracle:
    ``(y1 > py) != (y2 > py) AND px < (x2-x1)*(py-y1)/(y2-y1) + x1``.
    Holes fall out of even-odd parity automatically."""
    inside = np.zeros(len(px), dtype=np.int64)
    for ring in rings:
        r = ring
        if len(r) < 3:
            continue
        x1, y1 = r[:, 0][:, None], r[:, 1][:, None]  # (k,1)
        x2, y2 = np.roll(r[:, 0], -1)[:, None], np.roll(r[:, 1], -1)[:, None]
        cond = (y1 > py[None, :]) != (y2 > py[None, :])
        with np.errstate(divide="ignore", invalid="ignore"):
            xs = (x2 - x1) * (py[None, :] - y1) / (y2 - y1) + x1
        cross = cond & (px[None, :] < xs)
        inside += cross.sum(axis=0)
    return (inside % 2) == 1


def pip_join(points: DataFrame, polygons: DataFrame, res: int, *,
             point_id: str = "point_id", x: str = "x", y: str = "y",
             poly_id: str = "poly_id", rings: str = "rings",
             salt: Optional[int] = None,
             rings_distribution: str = "cogroup") -> DataFrame:
    """Ray-casting point-in-polygon join, bucketed by quadtree cell.

    Points get a cell id; each polygon's bbox rows at ``res`` get the
    polygon's edges that can cross a ray cast from a point in that row
    (:func:`_pip_bands`), and each cell of a row carries that row's
    edges; the candidate join is one equi-join on ``cell_id``, and the
    even-odd ray cast counts :func:`_crossing` over the row's edges in
    whole-stage-codegen Column expressions (:func:`_pip_pairs`).
    Nothing runs in Python, the rings never touch the driver, and
    building the plan runs no Spark job. Catalyst picks the join: as a
    shuffle join on ``cell_id`` each task holds only its cells' cover
    rows; with the points broadcast (a small or cached point table) the
    cover rows stay in the partition of their polygon. Either way the
    crossing count needs no further exchange, and edge bytes are
    replicated per covering cell, never per point. ``salt`` routes hot
    cells through the explicitly-salted join
    (:func:`.salted.salted_join`). ``rings_distribution`` names this
    plan, ``"cogroup"``, its only value.

    Cost: each candidate pair costs work linear in the edges of its
    polygon that span the point's grid row — about vertices / rows
    spanned, plus the edges crossing each row boundary. So the property
    that sets the cost is vertices per grid row at ``res``: few-vertex
    polygons, or a ``res`` fine enough that many-vertex polygons span
    many rows, keep it small; a polygon with thousands of vertices
    within a few rows pays thousands of edge rows per candidate point.

    A point lives in exactly one cell and a polygon covers a cell at
    most once, so candidate pairs are unique — no post-join dedup
    shuffle.
    """
    if rings_distribution != "cogroup":
        raise ValueError(f"unknown rings_distribution {rings_distribution!r}")
    pts = encode_points(points.select(
        F.col(point_id).alias("point_id"), F.col(x).alias("x"),
        F.col(y).alias("y")), res)
    polys = polygons.select(F.col(poly_id).alias("poly_id"),
                            F.col(rings).alias("rings"))
    return _pip_pairs(pts, polys, res, salt=salt)


def _clean_rings_col(rings: Column) -> Column:
    """:func:`_rings_to_np`'s rule as a Column: vertices with fewer than
    2 coordinates are dropped, then rings with fewer than 3 surviving
    vertices."""
    return F.filter(
        F.transform(rings, lambda r: F.filter(r, lambda v: F.size(v) >= 2)),
        lambda r: F.size(r) >= 3)


def _edges_col(clean_rings: Column) -> Column:
    """Cleaned rings → every ring's closing-wrapped edges as one
    ``array<struct<x1,y1,x2,y2>>`` (edge i runs from vertex i to vertex
    i+1, the last back to the first — ``_raycast_np``'s ``np.roll``)."""
    def ring_edges(r):
        nxt = F.concat(F.slice(r, 2, F.size(r) - 1), F.slice(r, 1, 1))
        return F.zip_with(r, nxt, lambda a, b: F.struct(
            a[0].alias("x1"), a[1].alias("y1"),
            b[0].alias("x2"), b[1].alias("y2")))
    return F.flatten(F.transform(clean_rings, ring_edges))


def _crossing(px: Column, py: Column, e: Column) -> Column:
    """Does edge ``e`` (struct x1, y1, x2, y2) cross the ray from
    (px, py) to +x? ``_raycast_np``'s rule ``(y1 > py) != (y2 > py) AND
    px < (x2-x1)*(py-y1)/(y2-y1) + x1``, the same double operations in
    the same order, so the verdict is bit-identical. The division runs
    only inside the straddle test, where ``y1 != y2`` — no division by
    zero, so it is ANSI-safe. Spark orders NaN above every double
    (``px < NaN`` is true), so a NaN abscissa is refused explicitly, as
    IEEE ``<`` refuses it in numpy; a null coordinate never crosses, as
    its NaN in numpy never does."""
    x1, y1, x2, y2 = e["x1"], e["y1"], e["x2"], e["y2"]
    straddle = (y1 > py) != (y2 > py)
    xs = F.when(straddle, (x2 - x1) * (py - y1) / (y2 - y1) + x1)
    return straddle & (px < xs) & ~F.isnan(xs)


def _pip_polys(polys: DataFrame, res: int) -> DataFrame:
    """(poly_id, rings) → (poly_id, _edges, _x0, _x1, _y0, _y1): each
    polygon's edges (:func:`_edges_col`) and the grid ranges of its
    outer-ring bbox at ``res``. The outer ring is the FIRST ring that
    survives :func:`_clean_rings_col`, as in ``_rings_to_np``. A
    polygon with no ring left keeps its row, with no edges and null
    ranges, so it explodes to no band and no cell. It is not filtered
    out here: a filter on ``_rings`` or ``_edges`` is pushed below this
    projection with the ring-cleaning and edge chains inlined, where no
    subexpression elimination runs (the module's design rules)."""
    n = float(1 << res)
    hi = (1 << res) - 1

    def clamp(v):
        # greatest/least skip nulls, and a polygon with no ring left must
        # keep null ranges, which explode to no bbox row
        v = v.cast("long")
        return F.when(v.isNotNull(), F.greatest(F.lit(0), F.least(F.lit(hi), v)))

    def lo(c, off, ext):
        return clamp(F.floor((c + F.lit(off)) / F.lit(ext) * F.lit(n)))

    def up(c, off, ext):
        return clamp(F.ceil((c + F.lit(off)) / F.lit(ext) * F.lit(n)) - 1)

    clean = polys.select("poly_id", _clean_rings_col(F.col("rings"))
                         .alias("_rings"))
    outer = F.get(F.col("_rings"), 0)
    xs = F.transform(outer, lambda v: v[0])
    ys = F.transform(outer, lambda v: v[1])
    return clean.select(
        "poly_id", _edges_col(F.col("_rings")).alias("_edges"),
        lo(F.array_min(xs), 180.0, 360.0).alias("_x0"),
        up(F.array_max(xs), 180.0, 360.0).alias("_x1"),
        lo(F.array_min(ys), 90.0, 180.0).alias("_y0"),
        up(F.array_max(ys), 90.0, 180.0).alias("_y1"))


def _pip_bands(polys: DataFrame, res: int) -> DataFrame:
    """(poly_id, rings) → (poly_id, _iy, _x0, _x1, _e): one row per grid
    row ``_iy`` of the polygon's outer-ring bbox at ``res`` (whose
    columns run ``_x0.._x1``) and per edge ``_e`` of the polygon (all
    rings) able to cross a ray cast from a point in that row, all rows
    of a polygon in one partition (the polygons are hash-partitioned by
    ``poly_id`` first).

    An edge crosses only when ``min(y1, y2) <= py < max(y1, y2)``, and
    the point's grid row is ``_grid_col(py)``, the same expression
    :func:`encode_points` uses, which is monotone in ``py``. So giving
    each edge the rows ``_grid_col(min y).._grid_col(max y)`` drops only
    edges that cannot cross, and the verdict is unchanged (an edge with
    a non-finite y never crosses: its abscissa is NaN). A horizontal
    edge (``y1 == y2``) or one with a null ``y`` crosses no ray, so it
    has no row. A row without edges has no row here — no point there
    can be inside. Each edge is exploded to its rows, so the work is the
    output size, not rows × edges."""
    def row(c):
        return _grid_col(c, 90.0, 180.0, res)

    # explode from a projection of its own, so the bbox and the edge
    # array are computed once per polygon, not once per output row. An
    # inner explode would make Catalyst infer size(_edges) > 0 below
    # that projection, with the edge chain inlined; explode_outer infers
    # nothing, and the null row of an edgeless polygon is dropped here
    edges = _pip_polys(polys.repartition("poly_id"), res).select(
        "poly_id", "_x0", "_x1", "_y0", "_y1",
        F.explode_outer("_edges").alias("_e")).where(
            F.col("_e").isNotNull() & (F.col("_e.y1") != F.col("_e.y2")))
    return edges.select("poly_id", F.explode(_index_range(
        F.greatest(row(F.least("_e.y1", "_e.y2")), F.col("_y0")),
        F.least(row(F.greatest("_e.y1", "_e.y2")), F.col("_y1"))))
        .alias("_iy"), "_x0", "_x1", "_e")


def _index_range(a: Column, b: Column) -> Column:
    """``sequence(a, b)``, empty when ``b < a`` (sequence would run
    descending on a degenerate bbox on a cell boundary)."""
    return F.when(b >= a, F.sequence(a, b)) \
        .otherwise(F.array().cast("array<bigint>"))


def _cells(rows: DataFrame, res: int) -> DataFrame:
    """Rows with ``_iy``, ``_x0``, ``_x1`` → one row per column
    ``_x0.._x1``, with its ``cell_id``."""
    return (rows.withColumn("_ix", F.explode(_index_range(
                F.col("_x0"), F.col("_x1"))))
            .withColumn("cell_id", cell_encode_grid_col(
                F.col("_ix"), F.col("_iy"), res)))


def _pip_pairs(pts: DataFrame, polys: DataFrame, res: int, *,
               salt: Optional[int] = None) -> DataFrame:
    """Encoded points (point_id, x, y, cell_id) ⋈ the polygons' bbox
    cells on ``cell_id``, kept where the ray cast over the edges of the
    cell's row (:func:`_pip_bands`) says inside → (point_id long,
    poly_id long). Every cell of a band row is one cover row per edge of
    that row, all in one join.

    The join gives one row per candidate and edge; the rows where
    :func:`_crossing` holds are counted and the candidates with an odd
    count kept: all whole-stage codegen, about 7x less CPU per edge than
    an interpreted ``aggregate`` over an edge array. The count groups by
    a row id given to each point, so duplicate points each keep their
    own pair, and by ``cell_id`` and ``poly_id``, so it needs no
    exchange of its own in either plan Catalyst picks: a shuffle join's
    ``cell_id`` partitioning clusters it, and with the points broadcast
    the cover rows keep :func:`_pip_bands`' ``poly_id`` partitioning."""
    cells = _cells(_pip_bands(polys, res), res).select("cell_id", "poly_id", "_e")
    pts = pts.withColumn("_rid", F.monotonically_increasing_id())
    if salt:
        cand = salted_join(pts, cells, "cell_id", n_salt=salt)
    else:
        cand = pts.join(cells, "cell_id")
    px, py = F.col("x").cast("double"), F.col("y").cast("double")
    inside = (cand.where(_crossing(px, py, F.col("_e")))
              .groupBy("cell_id", "_rid", "point_id", "poly_id").count()
              .where(F.col("count") % 2 == 1))
    return inside.select(F.col("point_id").cast("long"),
                         F.col("poly_id").cast("long"))


# ---------------------------------------------------------------------------
# kNN
# ---------------------------------------------------------------------------

def explode_kring(df: DataFrame, lon, lat, res: int, radius: int,
                  out_col: str = "cell_id") -> DataFrame:
    """Explode each row into its k-ring cells at ``res`` — the
    DataFrame-shaped k-ring every candidate generator (kNN, DWithin,
    adaptive kNN) runs on. A literal (dx, dy) offset array is exploded
    FIRST and the Morton encode runs ONCE on the exploded rows, so the
    generated code is one tiny expression whatever the radius —
    measured ~4x faster (plan compile + run) than building a
    (2r+1)²-element array Column per row, which inflates the generated
    method past what Janino compiles cheaply — and still zero Python.
    Semantics match :func:`..cells.cell_kring_np`: x wraps via pmod
    (when the grid is narrower than the ring the offset list shrinks
    to exactly one full row, so no cell repeats), y clamps at the
    poles (out-of-range rows filtered). Rows whose ring is fully
    off-grid vanish, like an empty-array explode."""
    n = 1 << res
    span = 2 * radius + 1
    dxs = list(range(-radius, radius + 1)) if n >= span else list(range(n))
    dys = list(range(-radius, radius + 1))
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx in dxs for dy in dys])
    d = (df.withColumn("_kgx", _grid_col(lon, 180.0, 360.0, res))
         .withColumn("_kgy", _grid_col(lat, 90.0, 180.0, res))
         .withColumn("_koff", F.explode(offs)))
    xs = F.pmod(F.col("_kgx") + F.col("_koff.dx"), F.lit(n))
    ys = F.col("_kgy") + F.col("_koff.dy")
    cell = _morton_col(xs, ys, res)
    return (d.where((ys >= 0) & (ys < F.lit(n)))
            .withColumn(out_col, cell)
            .drop("_kgx", "_kgy", "_koff"))


def _kring_candidates(points: DataFrame, queries: DataFrame, res: int,
                      rings: int, *, point_id: str, x: str, y: str,
                      query_id: str) -> DataFrame:
    """Shared candidate generator for the k-ring family (kNN /
    DWithin): queries explode to the cells within ``rings`` Chebyshev
    rings at ``res``; points get their cell (codegen); equi-join on the
    cell, exact squared distance attached. Output columns:
    (cell_id, _pid, x, y, query_id, _qx, _qy, dist2) — a point lives
    in exactly one cell, so (query, point) candidates are unique."""
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(x).alias("_qx"), F.col(y).alias("_qy"))
    # ring cells as a pure-Column offsets expansion (no per-row Python
    # in the candidate stage; plan-asserted)
    q = explode_kring(q, F.col("_qx"), F.col("_qy"), res, rings)
    p = encode_points(points.select(
        F.col(point_id).alias("_pid"), F.col(x).alias("x"),
        F.col(y).alias("y")), res)
    d2 = ((F.col("x") - F.col("_qx")) * (F.col("x") - F.col("_qx"))
          + (F.col("y") - F.col("_qy")) * (F.col("y") - F.col("_qy")))
    return p.join(q, "cell_id").withColumn("dist2", d2)


def knn_join(points: DataFrame, queries: DataFrame, k: int, res: int,
             radius: int, *, point_id: str = "point_id", x: str = "x",
             y: str = "y", query_id: str = "query_id") -> DataFrame:
    """kNN via k-ring expansion + exact distance re-rank
    (BASELINE.json north_star). Each query point explodes to the cells
    within Chebyshev ``radius`` rings at ``res``; candidates come from
    an equi-join on cell, then a window re-ranks by exact distance.

    Correctness contract: exact iff every query's true k-th neighbor
    lies within ``radius`` rings — i.e. within ``radius × cell_size``
    degrees (Chebyshev). Callers pick (res, radius) from the known
    density (tests verify equality against :func:`.ops.knn_exact`);
    :func:`.ops.knn_join_adaptive` removes the radius knob via
    multi-resolution expansion (driver query q55).
    """
    cand = _kring_candidates(points, queries, res, radius,
                             point_id=point_id, x=x, y=y,
                             query_id=query_id) \
        .select("query_id", F.col("_pid").alias("neighbor_id"), "dist2")
    # query_id first: the exchange's and the window's key projections then
    # read ordinal 0, the same generated classes other operators' long keys
    # compile to, so a job caches fewer classes
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(),
                                               F.col("neighbor_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


# ---------------------------------------------------------------------------
# Tile assignment
# ---------------------------------------------------------------------------

def tile_assignments(features: DataFrame, res: int) -> DataFrame:
    """Point features → per-cell tile stats: the engine's headline
    output table (cell_id, n_features, n_docs). Input is the
    ``extract_features`` frame; only Point geometries contribute
    (lines/polygons tile via :func:`polygon_cover`)."""
    pts = (features.where(F.col("geom_type") == "Point")
           .where(F.size(F.col("parts")) > 0)
           .withColumn("_pos", F.col("parts")[0][0])
           .where(F.size(F.col("_pos")) >= 2)
           .withColumn("x", F.col("_pos")[0])
           .withColumn("y", F.col("_pos")[1]))
    return _tile_agg(pts, res)


def _tile_agg(pts: DataFrame, res: int) -> DataFrame:
    # two-step instead of count+countDistinct in one agg: the combined
    # form plans an Expand that doubles every row into the shuffle; the
    # (cell_id, doc_id) pre-aggregate map-side combines the bulk of the
    # points before any exchange, and the second agg runs on tiny data
    pts = encode_points(pts, res)
    per_doc = (pts.groupBy("cell_id", "doc_id")
               .agg(F.count(F.lit(1)).alias("n")))
    return per_doc.groupBy("cell_id").agg(
        F.sum("n").alias("n_features"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def tile_assignments_from_docs(documents_kml: DataFrame, res: int) -> DataFrame:
    """Hot path: documents_kml → tile stats via the slim point
    extraction (flat Arrow columns, no feature JSON). Identical result
    to ``tile_assignments(extract_features(docs), res)`` for Point
    features — asserted in tests."""
    from ..engine import extract_points

    return _tile_agg(extract_points(documents_kml), res)
