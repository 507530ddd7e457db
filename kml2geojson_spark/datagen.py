"""Deterministic synthetic data: span packing + KML document synthesis.

``pack_spans`` implements the interleaved-span chunking contract from
FIXTURES.md §1: the KML string is split at element-start (``<``)
boundaries into chunks of ≤256 chars, and every ``<href>URL</href>``
payload becomes its own ``kind='media'`` span whose text is the payload
verbatim — so concatenating span text in offset order reconstructs the
exact document (span-sequence equality, BASELINE.json input_hint).

``synthesize_documents_kml`` generates a seed-deterministic corpus of
KML documents *distributively* (spark.range → mapInPandas; the driver
never materializes the corpus) with deliberate hot spots so skew
handling is exercised (FIXTURES.md §1.2).
"""

from __future__ import annotations

import random
import re
from typing import Iterator, Optional

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from .engine import DOCUMENTS_KML_SCHEMA

_HREF = re.compile(r"<href>([^<]*)</href>")

MAX_CHUNK = 256


def _chunk_text(s: str, base: int, out: list, max_chunk: int = MAX_CHUNK) -> None:
    """Greedy ≤max_chunk chunks, preferring to cut at '<' boundaries."""
    start = 0
    n = len(s)
    while start < n:
        end = min(start + max_chunk, n)
        if end < n:
            cut = s.rfind("<", start + 1, end + 1)
            if cut > start:
                end = cut
        out.append({"kind": "text", "text": s[start:end],
                    "media_ref": "", "offset": base + start})
        start = end


def pack_spans(kml_str: str, max_chunk: int = MAX_CHUNK) -> list[dict]:
    """KML string → interleaved span list (sorted by offset)."""
    spans: list[dict] = []
    pos = 0
    for m in _HREF.finditer(kml_str):
        if m.start(1) > pos:
            _chunk_text(kml_str[pos:m.start(1)], pos, spans, max_chunk)
        spans.append({
            "kind": "media",
            "text": m.group(1),
            "media_ref": m.group(1).strip(),
            "offset": m.start(1),
        })
        pos = m.end(1)
    if pos < len(kml_str):
        _chunk_text(kml_str[pos:], pos, spans, max_chunk)
    return spans


def spans_schema() -> str:
    return DOCUMENTS_KML_SCHEMA


# ---------------------------------------------------------------------------
# Synthetic KML corpus
# ---------------------------------------------------------------------------

# Hot boxes: ~20% of placemarks concentrate here so cell-key skew is real
# (FIXTURES.md §1.2; the salted-join path must have something to split).
HOT_BOXES = (
    (-122.5, 37.6, -122.3, 37.9),   # SF-ish
    (2.2, 48.8, 2.5, 48.95),        # Paris-ish
    (139.6, 35.5, 139.9, 35.8),     # Tokyo-ish
)

_STYLE_COLORS = ("7f0000ff", "ee001122", "ffcc00", "f0f", "501400E6")


def _rand_lonlat(rng: random.Random) -> tuple[float, float]:
    if rng.random() < 0.20:
        w, s, e, n = HOT_BOXES[rng.randrange(len(HOT_BOXES))]
        return rng.uniform(w, e), rng.uniform(s, n)
    return rng.uniform(-180.0, 180.0), rng.uniform(-85.0, 85.0)


def _coord(rng: random.Random) -> str:
    lon, lat = _rand_lonlat(rng)
    return f"{round(lon, 6)},{round(lat, 6)},0"


def _placemark(rng: random.Random, idx: int) -> str:
    r = rng.random()
    name = f"pm-{idx}"
    if r < 0.70:
        body = f"<Point><coordinates>{_coord(rng)}</coordinates></Point>"
    elif r < 0.85:
        pts = "\n".join(_coord(rng) for _ in range(rng.randint(2, 6)))
        body = f"<LineString><coordinates>\n{pts}\n</coordinates></LineString>"
    elif r < 0.95:
        cx, cy = _rand_lonlat(rng)
        radius = rng.uniform(0.01, 2.0)
        corners = [(cx - radius, cy - radius), (cx + radius, cy - radius),
                   (cx + radius, cy + radius), (cx - radius, cy + radius),
                   (cx - radius, cy - radius)]
        ring = "\n".join(f"{round(x, 6)},{round(y, 6)},0" for x, y in corners)
        body = ("<Polygon><outerBoundaryIs><LinearRing><coordinates>\n"
                f"{ring}\n</coordinates></LinearRing></outerBoundaryIs></Polygon>")
    else:
        pieces = "".join(
            f"<Point><coordinates>{_coord(rng)}</coordinates></Point>"
            for _ in range(rng.randint(2, 4)))
        body = f"<MultiGeometry>{pieces}</MultiGeometry>"
    style = f"<styleUrl>#s{rng.randrange(3)}</styleUrl>" if rng.random() < 0.5 else ""
    desc = ("<description><![CDATA[ synthetic &stuff ]]></description>"
            if rng.random() < 0.2 else "")
    return (f'<Placemark id="p{idx}"><name>{name}</name>{desc}{style}{body}'
            "</Placemark>")


def synthesize_kml(doc_index: int, seed: int = 42,
                   min_placemarks: int = 1, max_placemarks: int = 50) -> str:
    """One deterministic synthetic KML document (FIXTURES.md §1.2
    grammar: ~70% points, 15% linestrings, 10% polygons, 5% multi)."""
    rng = random.Random((seed << 32) ^ doc_index)
    n = rng.randint(min_placemarks, max_placemarks)
    styles = "".join(
        f'<Style id="s{i}"><LineStyle><color>{_STYLE_COLORS[(doc_index + i) % len(_STYLE_COLORS)]}'
        f"</color><width>{i + 1}</width></LineStyle>"
        '<IconStyle><Icon><href>'
        f"http://example.com/icons/{i}.png"
        "</href></Icon></IconStyle></Style>"
        for i in range(3))
    use_folders = rng.random() < 0.3
    pms = [_placemark(rng, i) for i in range(n)]
    if use_folders and n >= 2:
        half = n // 2
        inner = (f"<Folder><name>alpha</name>{''.join(pms[:half])}</Folder>"
                 f"<Folder><name>beta</name>{''.join(pms[half:])}</Folder>")
    else:
        inner = "".join(pms)
    return ('<?xml version="1.0" encoding="UTF-8"?>\n'
            '<kml xmlns="http://www.opengis.net/kml/2.2">\n'
            f"<Document><name>doc-{doc_index}</name>{styles}{inner}</Document></kml>")


def synthesize_documents_kml(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    *,
    partitions: Optional[int] = None,
    max_placemarks: int = 50,
) -> DataFrame:
    """Distributed deterministic corpus → documents_kml(doc_id, spans).

    Generation happens on executors (spark.range is the only driver-side
    artifact), so corpus size is bounded by the cluster, not the driver —
    the same shape a 10^12-doc generator job would take.
    """
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc_ids = []
            kinds, texts, refs, offs = [], [], [], []
            lengths = []
            for i in np.asarray(batch.column(0)):
                i = int(i)
                kml = synthesize_kml(i, seed, max_placemarks=max_placemarks)
                spans = pack_spans(kml)
                doc_ids.append(f"doc-{i:08d}")
                lengths.append(len(spans))
                for s in spans:
                    kinds.append(s["kind"])
                    texts.append(s["text"])
                    refs.append(s["media_ref"])
                    offs.append(s["offset"])
            # assemble list<struct> from flat child arrays + offsets —
            # no per-span Python dicts cross the Arrow boundary
            bounds = np.zeros(len(lengths) + 1, dtype=np.int32)
            np.cumsum(lengths, out=bounds[1:])
            struct = pa.StructArray.from_arrays(
                [pa.array(kinds, pa.string()), pa.array(texts, pa.string()),
                 pa.array(refs, pa.string()), pa.array(offs, pa.int32())],
                names=["kind", "text", "media_ref", "offset"])
            spans_arr = pa.ListArray.from_arrays(pa.array(bounds), struct)
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids, pa.string()), spans_arr],
                names=["doc_id", "spans"])

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInArrow(gen, DOCUMENTS_KML_SCHEMA)
    )
