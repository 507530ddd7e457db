"""Spark-side conversion engine.

Input contract (BASELINE.json input_hint): an Iceberg-style table

    documents_kml(doc_id: string,
                  spans: array<struct<kind:string, text:string,
                                      media_ref:string, offset:int>>)

where concatenating ``spans.text`` in ``offset`` order reconstructs the
exact KML string the reference reads from disk
(/root/reference/kml2geojson/main.py:577-583) — span-sequence equality.

The engine's Python runs Arrow-batched (``mapInArrow``, one call per
batch); there are no row-at-a-time Python UDFs anywhere in the package.
Parsing is a narrow transformation: one pass over the documents, no
shuffle. Downstream grouping/joins are plain DataFrame ops so Catalyst
owns the physical plan (broadcast vs SMJ, AQE, partial aggregation).
"""

from __future__ import annotations

import json
from typing import Iterator, Optional

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from .convert_core import (
    build_feature_collection_dict,
    build_layers_dicts,
    build_style_catalog,
    convert_kml_string,
)
from .kmlparse import parse_kml

# ---------------------------------------------------------------------------
# Schemas
# ---------------------------------------------------------------------------

SPANS_FIELD = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
DOCUMENTS_KML_SCHEMA = f"doc_id string, spans {SPANS_FIELD}"

CONVERTED_SCHEMA = (
    "doc_id string, style_json string, layer_names array<string>, "
    "layers array<string>"
)

FEATURES_SCHEMA = (
    "doc_id string, layer_idx int, layer_name string, feature_idx int, "
    "geom_idx int, geom_type string, parts array<array<array<double>>>, "
    "name string, style_url string, feature_id string, props_json string, "
    "feature_json string"
)

STYLES_SCHEMA = "doc_id string, style_id string, style_json string"


# ---------------------------------------------------------------------------
# Span reassembly
# ---------------------------------------------------------------------------

def reassemble_spans_kml(spans) -> str:
    """Concatenate span text in offset order → the original KML string.

    Enforces the per-row invariant vs the reference (span-sequence
    equality): spans may arrive unsorted; ``offset`` is authoritative.
    Accepts the shapes Arrow hands to pandas workers (list of dicts) as
    well as Rows/namedtuples for driver-side use.
    """
    def key(s):
        return s["offset"] if isinstance(s, dict) else s.offset

    def text(s):
        return s["text"] if isinstance(s, dict) else s.text

    return "".join(text(s) for s in sorted(spans, key=key))


def iter_docs_from_arrow(batch: pa.RecordBatch) -> Iterator[tuple[str, str]]:
    """Yield (doc_id, kml_string) from an Arrow batch of
    (doc_id, spans) WITHOUT materializing per-span Python dicts.

    This is the zero-copy-ish hot path: the list<struct> column is
    unpacked via its value-length offsets and flat child arrays (one
    C-level ``to_pylist`` for the text strings, numpy for offsets), so
    the only per-row Python work is the final ``str.join``. ~10× faster
    than the pandas representation for span-heavy documents.
    """
    doc_ids = batch.column(0).to_pylist()
    lst = batch.column(1)
    lengths = np.asarray(lst.value_lengths())
    bounds = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=bounds[1:])
    values = lst.flatten()
    texts = values.field("text").to_pylist()
    offs = np.asarray(values.field("offset"))
    for i, doc_id in enumerate(doc_ids):
        s, e = bounds[i], bounds[i + 1]
        seg_o = offs[s:e]
        if len(seg_o) > 1 and not (seg_o[1:] >= seg_o[:-1]).all():
            order = np.argsort(seg_o, kind="stable")
            kml = "".join(texts[s + j] for j in order)
        else:
            kml = "".join(texts[s:e])
        yield doc_id, kml


# ---------------------------------------------------------------------------
# Whole-document conversion (golden-parity surface)
# ---------------------------------------------------------------------------

def convert_documents(
    df: DataFrame,
    feature_collection_name: Optional[str] = None,
    style_type: Optional[str] = None,
    *,
    separate_folders: bool = False,
) -> DataFrame:
    """documents_kml → one row per document with the full conversion
    result: the reference's ``convert`` (main.py:548-603) as a
    distributed table-to-table operator.

    Output: (doc_id, style_json, layer_names, layers) where ``layers``
    holds one canonical-JSON FeatureCollection per layer. JSON strings
    keep int-vs-float fidelity (e.g. ``"stroke-width": 1`` vs ``4.0``).
    """
    _validate_style_type(style_type)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield _convert_batch(iter_docs_from_arrow(batch),
                                 feature_collection_name, style_type,
                                 separate_folders)

    return df.select("doc_id", "spans").mapInArrow(run, CONVERTED_SCHEMA)


def _validate_style_type(style_type) -> None:
    """Fail fast on the driver (reference main.py:594-597 raises the
    same ValueError) instead of lazily inside an executor task."""
    from .constants import STYLE_TYPES

    if style_type is not None and style_type not in STYLE_TYPES:
        raise ValueError(f"style type must be one of {list(STYLE_TYPES)}")


# json.dumps' bytes for the acyclic dicts the builders make, without the
# per-container cycle check
_json_encode = json.JSONEncoder(check_circular=False).encode


def _convert_batch(doc_iter, feature_collection_name, style_type,
                   separate_folders) -> pa.RecordBatch:
    """Conversion kernel: (doc_id, kml_str) iterator → one converted
    RecordBatch."""
    doc_ids, style_jsons, name_lists, layer_lists = [], [], [], []
    for doc_id, kml_str in doc_iter:
        style, layers = convert_kml_string(
            kml_str,
            feature_collection_name=feature_collection_name,
            style_type=style_type,
            separate_folders=separate_folders,
        )
        doc_ids.append(doc_id)
        style_jsons.append(None if style is None else _json_encode(style))
        name_lists.append([la.get("name", "") for la in layers])
        layer_lists.append([_json_encode(la) for la in layers])
    return pa.RecordBatch.from_arrays(
        [pa.array(doc_ids, pa.string()),
         pa.array(style_jsons, pa.string()),
         pa.array(name_lists, pa.list_(pa.string())),
         pa.array(layer_lists, pa.list_(pa.string()))],
        names=["doc_id", "style_json", "layer_names", "layers"])


# ---------------------------------------------------------------------------
# Typed feature extraction (spatial-engine surface)
# ---------------------------------------------------------------------------

def _atomic_geometries(geometry: dict) -> list[dict]:
    if geometry["type"] == "GeometryCollection":
        return geometry["geometries"]
    return [geometry]


def _geometry_parts(geom: dict) -> list[list[list[float]]]:
    """Canonical depth-3 carrier: Polygon → rings; LineString → [line];
    Point → [[position]]. Positions stay 2-D or 3-D as parsed."""
    gtype = geom["type"]
    coords = geom["coordinates"]
    if gtype == "Point":
        return [[coords]] if coords else [[]]
    if gtype == "LineString":
        return [coords]
    return coords  # Polygon rings


def extract_features(
    df: DataFrame,
    *,
    separate_folders: bool = False,
) -> DataFrame:
    """documents_kml → exploded typed feature/geometry rows.

    One output row per atomic geometry (GeometryCollections are
    unnested with a ``geom_idx``), carrying both the typed coordinate
    parts (for the tiling engine) and the canonical feature JSON (for
    layer reassembly / golden checks). Narrow map — no shuffle.
    """

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = {k: [] for k in (
                "doc_id", "layer_idx", "layer_name", "feature_idx",
                "geom_idx", "geom_type", "parts", "name", "style_url",
                "feature_id", "props_json", "feature_json")}
            for doc_id, kml_str in iter_docs_from_arrow(batch):
                root = parse_kml(kml_str)
                if separate_folders:
                    layers = build_layers_dicts(root)
                else:
                    layers = [build_feature_collection_dict(root)]
                for layer_idx, layer in enumerate(layers):
                    layer_name = layer.get("name", "")
                    for feature_idx, feature in enumerate(layer["features"]):
                        props = feature["properties"]
                        fjson = _json_encode(feature)
                        pjson = _json_encode(props)
                        for geom_idx, geom in enumerate(
                                _atomic_geometries(feature["geometry"])):
                            rows["doc_id"].append(doc_id)
                            rows["layer_idx"].append(layer_idx)
                            rows["layer_name"].append(layer_name)
                            rows["feature_idx"].append(feature_idx)
                            rows["geom_idx"].append(geom_idx)
                            rows["geom_type"].append(geom["type"])
                            rows["parts"].append(_geometry_parts(geom))
                            rows["name"].append(props.get("name"))
                            rows["style_url"].append(props.get("styleUrl"))
                            rows["feature_id"].append(feature.get("id"))
                            rows["props_json"].append(pjson)
                            rows["feature_json"].append(fjson)
            yield pa.RecordBatch.from_arrays(
                [pa.array(rows["doc_id"], pa.string()),
                 pa.array(rows["layer_idx"], pa.int32()),
                 pa.array(rows["layer_name"], pa.string()),
                 pa.array(rows["feature_idx"], pa.int32()),
                 pa.array(rows["geom_idx"], pa.int32()),
                 pa.array(rows["geom_type"], pa.string()),
                 pa.array(rows["parts"],
                          pa.list_(pa.list_(pa.list_(pa.float64())))),
                 pa.array(rows["name"], pa.string()),
                 pa.array(rows["style_url"], pa.string()),
                 pa.array(rows["feature_id"], pa.string()),
                 pa.array(rows["props_json"], pa.string()),
                 pa.array(rows["feature_json"], pa.string())],
                names=list(rows.keys()))

    return df.select("doc_id", "spans").mapInArrow(run, FEATURES_SCHEMA)


POINTS_SCHEMA = ("doc_id string, layer_idx int, feature_idx int, "
                 "geom_idx int, x double, y double")


def extract_points(df: DataFrame) -> DataFrame:
    """Slim fast path for the tiling engine: documents_kml → one row per
    Point coordinate, nothing else — no feature JSON, no nested arrays,
    so the Arrow transfer is 6 flat columns. Indices follow the merged
    feature builder (``layer_idx`` is always 0). A plain ``mapInArrow``,
    so it runs on streaming DataFrames too. This is the hot path for
    bulk tile assignment; use :func:`extract_features` when you need the
    full typed feature rows."""

    from .convert_core import iter_point_coords

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc_ids, lids, fids, gids, xs, ys = [], [], [], [], [], []
            for doc_id, kml_str in iter_docs_from_arrow(batch):
                root = parse_kml(kml_str)
                for feature_idx, geom_idx, pos in iter_point_coords(root):
                    doc_ids.append(doc_id)
                    lids.append(0)
                    fids.append(feature_idx)
                    gids.append(geom_idx)
                    xs.append(pos[0])
                    ys.append(pos[1])
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids, pa.string()),
                 pa.array(lids, pa.int32()),
                 pa.array(fids, pa.int32()),
                 pa.array(gids, pa.int32()),
                 pa.array(xs, pa.float64()),
                 pa.array(ys, pa.float64())],
                names=["doc_id", "layer_idx", "feature_idx", "geom_idx",
                       "x", "y"])

    return df.select("doc_id", "spans").mapInArrow(run, POINTS_SCHEMA)


def _iter_file_doc_batches(batches: Iterator[pa.RecordBatch],
                           max_chunksize: int = 2048
                           ) -> Iterator[pa.RecordBatch]:
    """File-granular reader for :func:`tile_counts_from_parquet`: batches
    of file paths → (doc_id, spans) RecordBatches, read worker-side with
    pyarrow (use_threads=False: each concurrent worker reading with its
    own full-width Arrow thread pool would oversubscribe the host)."""
    import pyarrow.parquet as pq

    for b in batches:
        for fpath in b.column(0).to_pylist():
            table = pq.read_table(fpath, columns=["doc_id", "spans"],
                                  use_threads=False)
            yield from table.to_batches(max_chunksize=max_chunksize)


TILE_COUNTS_SCHEMA = "cell_id long, n int"


def _tile_counts_batch(doc_iter, res: int) -> pa.RecordBatch:
    """Fused kernel: parse + numpy Morton encode + per-(cell, doc)
    partial aggregation, all inside one Arrow batch. Emits (cell_id, n)
    where each row is one (cell, document) pair — unique globally
    because a document lives in exactly one batch — so the JVM-side
    ``groupBy(cell).agg(sum(n), count(*))`` yields exact feature and
    distinct-doc counts from a single small shuffle."""
    from .convert_core import iter_point_coords
    from .kmlparse_fast import simple_point_xy
    from .spatial.cells import cell_encode_np

    docords, xs, ys = [], [], []
    for docord, (_doc_id, kml_str) in enumerate(doc_iter):
        # two lanes, bit-equal by construction + differential tests: the
        # expat-validated relevant-tag scan, which returns None whenever
        # unsure, then the parse table
        pts = simple_point_xy(kml_str)
        if pts is not None:
            for x, y in pts:
                docords.append(docord)
                xs.append(x)
                ys.append(y)
            continue
        root = parse_kml(kml_str)
        for _fid, _gid, pos in iter_point_coords(root):
            docords.append(docord)
            xs.append(pos[0])
            ys.append(pos[1])
    if not xs:
        return pa.RecordBatch.from_arrays(
            [pa.array([], pa.int64()), pa.array([], pa.int32())],
            names=["cell_id", "n"])
    cell = cell_encode_np(np.asarray(xs), np.asarray(ys), res)
    docord = np.asarray(docords, dtype=np.int64)
    order = np.lexsort((cell, docord))
    c, d = cell[order], docord[order]
    boundary = np.empty(len(c), dtype=bool)
    boundary[0] = True
    boundary[1:] = (c[1:] != c[:-1]) | (d[1:] != d[:-1])
    starts = np.flatnonzero(boundary)
    counts = np.diff(np.append(starts, len(c))).astype(np.int32)
    return pa.RecordBatch.from_arrays(
        [pa.array(c[starts]), pa.array(counts)], names=["cell_id", "n"])


def tile_counts_from_parquet(spark, path: str, res: int) -> DataFrame:
    """Headline hot path: spans parquet → tile stats with the partial
    aggregate pushed INTO the Arrow kernel. Only pre-combined
    (cell_id, n) pairs cross the JVM boundary (~points-per-cell-per-doc
    fewer rows than raw points, and no strings), so the exchange and
    the final aggregate are trivial. Each Python worker reads its
    parquet files directly with pyarrow, so the JVM never converts the
    nested ``spans`` column to rows. Result identical to
    ``tile_assignments_from_docs(spark.read.parquet(path), res)`` —
    asserted in tests.

    Precondition: each document appears EXACTLY ONCE across the table's
    files (the Iceberg layout invariant — one (doc_id, spans) row per
    doc, never split or duplicated across data files). ``n_docs`` here
    counts per-file document occurrences per cell (the doc_id string
    never crosses the Arrow boundary); a doc_id duplicated across files
    would inflate it relative to the distinct-doc count of
    :func:`.spatial.tile_assignments_from_docs`. Tables that cannot
    guarantee this must use that unfused path."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in _iter_file_doc_batches(batches):
            yield _tile_counts_batch(iter_docs_from_arrow(rb), res)

    pairs = parquet_files_df(spark, path).mapInArrow(run, TILE_COUNTS_SCHEMA)
    return pairs.groupBy("cell_id").agg(
        F.sum("n").alias("n_features"),
        F.count(F.lit(1)).alias("n_docs"))


def parquet_files_df(spark, path: str) -> DataFrame:
    """One row per parquet data file of an (Iceberg-style) table
    directory — the split list a table-format scan hands out, read by
    :func:`tile_counts_from_parquet`."""
    import glob

    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return spark.createDataFrame([(f,) for f in files], "path string") \
        .repartition(len(files))


def extract_styles(df: DataFrame, style_type: str = "svg") -> DataFrame:
    """documents_kml → (doc_id, style_id, style_json): the per-document
    style catalog (reference main.py:215-340) as a join-able dimension
    table. Tiny relative to features — intended for broadcast."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc_ids, style_ids, style_jsons = [], [], []
            for doc_id, kml_str in iter_docs_from_arrow(batch):
                catalog = build_style_catalog(parse_kml(kml_str), style_type)
                for style_id, props in catalog.items():
                    doc_ids.append(doc_id)
                    style_ids.append(style_id)
                    style_jsons.append(_json_encode(props))
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids, pa.string()),
                 pa.array(style_ids, pa.string()),
                 pa.array(style_jsons, pa.string())],
                names=["doc_id", "style_id", "style_json"])

    return df.select("doc_id", "spans").mapInArrow(run, STYLES_SCHEMA)


def resolve_styles(features: DataFrame, styles: DataFrame) -> DataFrame:
    """Attach the referenced style catalog entry to each feature row —
    the distributed equivalent of the reference's styleUrl → style-dict
    lookup (main.py:415-419 + the style catalog). The styles side is a
    small dimension → explicit broadcast hash join, no shuffle of the
    (huge) feature side."""
    dim = F.broadcast(
        styles.select(
            F.col("doc_id").alias("s_doc_id"),
            F.col("style_id"),
            F.col("style_json").alias("resolved_style_json"),
        )
    )
    return features.join(
        dim,
        on=[features["doc_id"] == dim["s_doc_id"],
            features["style_url"] == dim["style_id"]],
        how="left",
    ).drop("s_doc_id", "style_id")


def layer_feature_counts(df: DataFrame, *, separate_folders: bool = True) -> DataFrame:
    """Flagship aggregate: features per (doc, layer) — exercises the
    full physical skeleton (scan → Arrow parse → explode → hash agg)."""
    feats = extract_features(df, separate_folders=separate_folders)
    return (
        feats.where(F.col("geom_idx") == 0)  # one row per feature
        .groupBy("doc_id", "layer_idx", "layer_name")
        .agg(F.count(F.lit(1)).alias("n_features"))
    )
