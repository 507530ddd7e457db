"""Output checks that do not go through the program under test.

- ``etree_doc``: a stdlib ``xml.etree`` reading of one corpus document
  (the synthetic grammar only: one geometry or one MultiGeometry of
  Points per Placemark) giving feature geometry types and Point
  coordinates.
- ``tile_rows``: the tile_points answer from those coordinates with an
  independent Morton encoder.
- ``pip_pairs`` / ``knn_rows``: brute-force numpy point-in-polygon and
  k-nearest-neighbour answers for a sample of points or queries.
- ``digest``: an order-independent digest of a set of rows.
"""

from __future__ import annotations

import hashlib
import xml.etree.ElementTree as ET

import numpy as np

_NS = "{http://www.opengis.net/kml/2.2}"
RES_BITS = 5


def digest(rows) -> str:
    """sha256 over the sorted rows, so row order does not matter."""
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def _xy(text: str) -> tuple[float, float]:
    parts = text.strip().split(",")
    return float(parts[0]), float(parts[1])


def _ring(text: str) -> list[tuple[float, float]]:
    return [_xy(t) for t in text.split()]


def etree_doc(kml: str) -> list[tuple[str, list, list]]:
    """One entry per geometry-bearing Placemark, in document order:
    (GeoJSON geometry type, its Point coordinates, its polygon rings)."""
    out = []
    for pm in ET.fromstring(kml).iter(f"{_NS}Placemark"):
        multi = pm.find(f".//{_NS}MultiGeometry")
        if multi is not None:
            pts = [_xy(p.find(f"{_NS}coordinates").text)
                   for p in multi.iter(f"{_NS}Point")]
            out.append(("GeometryCollection" if len(pts) > 1 else "Point", pts, []))
            continue
        for gtype in ("Point", "LineString", "Polygon"):
            geom = pm.find(f".//{_NS}{gtype}")
            if geom is None:
                continue
            pts = [_xy(geom.find(f"{_NS}coordinates").text)] if gtype == "Point" else []
            rings = [_ring(r.find(f"{_NS}coordinates").text)
                     for r in geom.iter(f"{_NS}LinearRing")]
            out.append((gtype, pts, rings))
            break
    return out


def feature_summary(layer: dict) -> list[tuple[str, list, list]]:
    """The same summary as :func:`etree_doc`, read from a converted
    GeoJSON FeatureCollection."""
    out = []
    for feat in layer["features"]:
        geom = feat["geometry"]
        pts, rings = [], []
        if geom["type"] == "GeometryCollection":
            pts = [tuple(g["coordinates"][:2]) for g in geom["geometries"]
                   if g["type"] == "Point"]
        elif geom["type"] == "Point":
            pts = [tuple(geom["coordinates"][:2])]
        elif geom["type"] == "Polygon":
            rings = [[tuple(v[:2]) for v in ring] for ring in geom["coordinates"]]
        out.append((geom["type"], pts, rings))
    return out


def grid_xy(x: np.ndarray, y: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    n = float(1 << res)
    ix = np.clip(np.floor((x + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((y + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return ix, iy


def morton_cells(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """Cell ids: x bits at odd positions, y bits at even ones, shifted
    above a 5-bit resolution field — one bit at a time."""
    ix, iy = grid_xy(np.asarray(x, np.float64), np.asarray(y, np.float64), res)
    code = np.zeros(len(ix), dtype=np.int64)
    for b in range(res):
        code |= ((ix >> b) & 1) << (2 * b + 1)
        code |= ((iy >> b) & 1) << (2 * b)
    return (code << RES_BITS) | res


def tile_rows(doc_points: list[list[tuple[float, float]]], res: int) -> list[tuple]:
    """[(cell_id, n_features, n_docs)] over every Point of every doc."""
    xs, ys, doc = [], [], []
    for d, pts in enumerate(doc_points):
        for x, y in pts:
            xs.append(x)
            ys.append(y)
            doc.append(d)
    cells = morton_cells(np.asarray(xs), np.asarray(ys), res)
    uniq, n_feat = np.unique(cells, return_counts=True)
    pairs = np.unique(np.stack([cells, np.asarray(doc, np.int64)]), axis=1)
    _, n_docs = np.unique(pairs[0], return_counts=True)
    return list(zip(uniq.tolist(), n_feat.tolist(), n_docs.tolist()))


def pip_pairs(px, py, pids, polygons) -> set[tuple[int, int]]:
    """Even-odd ray cast of every sample point against every polygon,
    with the crossing rule ``(y1 > py) != (y2 > py) and
    px < (x2-x1)*(py-y1)/(y2-y1) + x1``."""
    out = set()
    for poly_id, rings in polygons:
        crossings = np.zeros(len(px), dtype=np.int64)
        for ring in rings:
            r = np.asarray(ring, dtype=np.float64)
            if len(r) < 3:
                continue
            x1, y1 = r[:, 0][:, None], r[:, 1][:, None]
            x2, y2 = np.roll(r[:, 0], -1)[:, None], np.roll(r[:, 1], -1)[:, None]
            with np.errstate(divide="ignore", invalid="ignore"):
                xs = (x2 - x1) * (py[None, :] - y1) / (y2 - y1) + x1
            crossings += (((y1 > py[None, :]) != (y2 > py[None, :]))
                          & (px[None, :] < xs)).sum(axis=0)
        for i in np.flatnonzero(crossings % 2 == 1):
            out.add((int(pids[i]), int(poly_id)))
    return out


def knn_rows(px, py, pids, qx, qy, qids, k: int, res: int, radius: int) -> set[tuple]:
    """(query_id, neighbor_id, rank) of the k nearest points among those
    whose grid cell lies within ``radius`` Chebyshev rings of the
    query's cell (x wraps, y does not) — the search space a k-ring kNN
    promises to cover exactly. Ties break on the point id."""
    n = 1 << res
    gx, gy = grid_xy(px, py, res)
    out = set()
    for q, x, y in zip(qids, qx, qy):
        qgx, qgy = grid_xy(np.asarray([x]), np.asarray([y]), res)
        dx = np.abs(gx - qgx[0])
        ring = (np.minimum(dx, n - dx) <= radius) & (np.abs(gy - qgy[0]) <= radius)
        idx = np.flatnonzero(ring)
        d2 = (px[idx] - x) * (px[idx] - x) + (py[idx] - y) * (py[idx] - y)
        order = np.lexsort((pids[idx], d2))[:k]
        for rank, j in enumerate(order, start=1):
            out.add((int(q), int(pids[idx[j]]), rank))
    return out


def clipped_area(rings_list) -> float:
    """Summed area of each polygon's outer ring clipped to the world box
    (all corpus polygons are axis-aligned squares)."""
    total = 0.0
    for rings in rings_list:
        r = np.asarray(rings[0], dtype=np.float64)
        w, e = max(r[:, 0].min(), -180.0), min(r[:, 0].max(), 180.0)
        s, n = max(r[:, 1].min(), -90.0), min(r[:, 1].max(), 90.0)
        total += max(e - w, 0.0) * max(n - s, 0.0)
    return total
