"""Input sources.

The reference reads one local KML file or file object per call
(/root/reference/kml2geojson/main.py:577-583: utf-8 decode with
``errors="ignore"``). The engine's native input is the interleaved
spans table (``documents_kml``); this module bridges the two so a
reference user can point the engine at their existing files:

- :func:`read_kml_files` — a directory/glob of raw ``.kml`` files →
  ``documents_kml(doc_id, spans)`` via Spark's distributed
  ``binaryFile`` source (file-granular tasks; scales to millions of
  files and prunes on ``pathGlobFilter`` at the scan).
- :func:`convert_kml_dir` — end-to-end ``k2g``-CLI equivalence over a
  whole directory: read → convert → one output subdirectory per input
  document with ``style.json`` + per-layer ``.geojson`` files.
"""

from __future__ import annotations

from pathlib import Path
from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from .datagen import pack_spans, spans_schema


def read_kml_files(spark: SparkSession, path: str, *,
                   pattern: str = "*.kml",
                   doc_ids: str = "stem") -> DataFrame:
    """Distributed scan of raw KML files → spans table.

    ``binaryFile`` lists and reads files on executors (one task per
    file group); bytes are decoded utf-8 ``errors="ignore"`` exactly
    like the reference's reader (main.py:577-583), then packed into the
    interleaved span layout (text chunks + ``kind='media'`` spans for
    icon hrefs).

    ``doc_ids``: "stem" (file name without extension — human-friendly,
    but files with the same stem in DIFFERENT directories collide) or
    "path" (full file path — collision-free; use this for recursive
    multi-directory scans).
    """
    if doc_ids not in ("stem", "path"):
        raise ValueError("doc_ids must be 'stem' or 'path'")
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", pattern)
             .load(path)
             .select("path", "content"))

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, spans = [], []
            for p, blob in zip(pdf["path"], pdf["content"]):
                ids.append(Path(p).stem if doc_ids == "stem" else p)
                spans.append(pack_spans(bytes(blob).decode("utf-8",
                                                           "ignore")))
            yield pd.DataFrame({"doc_id": ids, "spans": spans})

    return files.mapInPandas(pack, spans_schema())


def convert_kml_dir(spark: SparkSession, input_path: str, output_dir: str, *,
                    pattern: str = "*.kml",
                    feature_collection_name: Optional[str] = None,
                    style_type: Optional[str] = None,
                    separate_folders: bool = False,
                    max_files: int = 10_000) -> list[Path]:
    """Reference-CLI (``k2g``) semantics over a directory: each input
    file gets ``<output_dir>/<doc_id>/`` with ``style.json`` (when
    ``style_type`` is set) and one ``.geojson`` per layer. The convert
    itself is distributed; only the small per-file JSON write happens
    on the driver (matching the single-file reference CLI,
    cli.py:48-66). Returns all written paths.

    ``max_files`` is the driver-safety gate: this CLI-parity path
    iterates the converted documents through the driver to write local
    files, which is unbounded state if pointed at a whole corpus —
    above the gate it raises instead of OOMing mid-write. For
    corpus-scale output use the distributed sink (``convert_documents``
    + ``df.write``), which never routes rows through the driver. Rows
    stream through ``toLocalIterator`` (one partition in memory at a
    time), so below the gate peak driver memory is one partition, not
    the directory.
    """
    from .convert_core import disambiguate_names
    from .engine import convert_documents
    from .sinks import write_geojson_dir

    docs = read_kml_files(spark, input_path, pattern=pattern)
    n_files = docs.count()
    if n_files > max_files:
        raise ValueError(
            f"convert_kml_dir: {n_files} input files exceed max_files="
            f"{max_files}; this CLI-parity path writes through the "
            f"driver — raise max_files deliberately or use "
            f"convert_documents + a distributed writer for corpus-scale "
            f"output")
    converted = convert_documents(
        docs, feature_collection_name=feature_collection_name,
        style_type=style_type, separate_folders=separate_folders)
    written: list[Path] = []
    rows = sorted(converted.toLocalIterator(), key=lambda r: r["doc_id"])
    # same-stem files from different directories would collide on one
    # output dir and silently overwrite — disambiguate like the CLI
    # disambiguates layer stems
    dirs = disambiguate_names([r["doc_id"] for r in rows])
    for row, d in zip(rows, dirs):
        written.extend(write_geojson_dir(row, Path(output_dir) / d))
    return written


def read_kmz_files(spark: SparkSession, path: str, *,
                   pattern: str = "*.kmz",
                   doc_ids: str = "stem") -> DataFrame:
    """Distributed scan of KMZ archives (zip-wrapped KML, the Google
    Earth distribution format) → the same spans table as
    :func:`read_kml_files`, so every downstream operator works
    unchanged on zipped corpora.

    Per the KMZ convention the MAIN file is the first ``.kml`` entry
    in the archive, with a root-level ``doc.kml`` preferred when
    present; other entries (icons, overlays) are ignored here — media
    fetch is :mod:`..multimodal`'s job. Unzipping happens on
    EXECUTORS inside the same Arrow-batched ``mapInPandas`` kernel as
    the raw reader (one task per file group — embarrassingly
    parallel, nothing crosses the driver); bytes decode utf-8
    ``errors="ignore"`` exactly like the reference's reader
    (main.py:577-583). Archives with no ``.kml`` entry or that fail
    to open as zip are SKIPPED (corrupt-input discipline: a poisoned
    file must not kill a corpus-scale job); pass ``strict=True`` via
    functools.partial in tests if a hard failure is wanted —
    corruption surfaces in row-count reconciliation instead.
    """
    import io
    import zipfile

    if doc_ids not in ("stem", "path"):
        raise ValueError("doc_ids must be 'stem' or 'path'")
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", pattern)
             .load(path)
             .select("path", "content"))

    def unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, spans = [], []
            for p, blob in zip(pdf["path"], pdf["content"]):
                try:
                    zf = zipfile.ZipFile(io.BytesIO(bytes(blob)))
                    names = [n for n in zf.namelist()
                             if n.lower().endswith(".kml")]
                    if not names:
                        continue
                    main = "doc.kml" if "doc.kml" in names else names[0]
                    text = zf.read(main).decode("utf-8", "ignore")
                except zipfile.BadZipFile:
                    continue
                ids.append(Path(p).stem if doc_ids == "stem" else p)
                spans.append(pack_spans(text))
            if ids:  # an all-skipped batch has no Arrow-typable frame
                yield pd.DataFrame({"doc_id": ids, "spans": spans})

    return files.mapInPandas(unpack, spans_schema())


_GEOJSON_FEATURES_SCHEMA = (
    "doc_id string, feature_idx int, name string, geom_type string, "
    "coordinates_json string, n_geoms int, properties_json string")


def parse_geojson_features(docs: DataFrame, *, id_col: str = "doc_id",
                           json_col: str = "geojson") -> DataFrame:
    """Parse GeoJSON documents (FeatureCollection / single Feature /
    bare geometry) into one row per feature — the INVERSE direction of
    the engine's KML→GeoJSON pipeline, closing the round trip: output
    written by :func:`kml2geojson_spark.sinks.write_geojson_dir` (or
    any other producer) re-enters the engine as a typed features
    frame for the spatial operators.

    Geometry stays exact: ``coordinates_json`` is the canonical
    re-serialization (sorted keys, no whitespace) of the feature's
    coordinates — nesting depth varies by type, so it is carried as a
    JSON string rather than a ragged array column; a
    GeometryCollection carries its ``geometries`` array there and
    reports ``n_geoms`` (single geometries report 1). Properties are
    canonicalized the same way. Malformed JSON or features without a
    geometry yield geom_type NULL (row preserved — auditable, not
    silently dropped).

    Scale shape: per-partition Arrow-batched Python parse
    (``mapInPandas``) exactly like the KML parser lanes — per-doc
    work, zero shuffle, no driver involvement. Feature order within a
    document is the array order (``feature_idx``).
    """
    import json

    cols = docs.select(F.col(id_col).cast("string").alias("doc_id"),
                       F.col(json_col).alias("_j"))

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def canon(x) -> str:
            return json.dumps(x, sort_keys=True, separators=(",", ":"))

        for pdf in batches:
            out = {k: [] for k in ("doc_id", "feature_idx", "name",
                                   "geom_type", "coordinates_json",
                                   "n_geoms", "properties_json")}

            def emit(did, idx, name, gtype, coords, ngeoms, props):
                out["doc_id"].append(did)
                out["feature_idx"].append(idx)
                out["name"].append(name)
                out["geom_type"].append(gtype)
                out["coordinates_json"].append(coords)
                out["n_geoms"].append(ngeoms)
                out["properties_json"].append(props)

            for did, txt in zip(pdf["doc_id"], pdf["_j"]):
                try:
                    obj = json.loads(txt)
                    t = obj.get("type") if isinstance(obj, dict) else None
                except (ValueError, TypeError):
                    obj, t = None, None
                if t == "FeatureCollection":
                    feats = obj.get("features") or []
                elif t == "Feature":
                    feats = [obj]
                elif t in ("Point", "MultiPoint", "LineString",
                           "MultiLineString", "Polygon", "MultiPolygon",
                           "GeometryCollection"):
                    feats = [{"type": "Feature", "geometry": obj,
                              "properties": {}}]
                else:
                    emit(did, 0, None, None, None, 0, None)
                    continue
                if not feats:
                    emit(did, 0, None, None, None, 0, None)
                    continue
                for i, f in enumerate(feats):
                    if not isinstance(f, dict):
                        emit(did, i, None, None, None, 0, None)
                        continue
                    g = f.get("geometry")
                    props = f.get("properties")
                    name = None
                    if isinstance(props, dict):
                        nm = props.get("name")
                        name = nm if isinstance(nm, str) else None
                    pjson = canon(props) if props is not None else None
                    if not isinstance(g, dict) or "type" not in g:
                        emit(did, i, name, None, None, 0, pjson)
                        continue
                    gt = g["type"]
                    if gt == "GeometryCollection":
                        geoms = g.get("geometries") or []
                        emit(did, i, name, gt, canon(geoms),
                             len(geoms), pjson)
                    else:
                        emit(did, i, name, gt,
                             canon(g.get("coordinates")), 1, pjson)
            yield pd.DataFrame(out)

    return cols.mapInPandas(parse, _GEOJSON_FEATURES_SCHEMA)


def read_geojson_files(spark: SparkSession, path: str, *,
                       pattern: str = "*.geojson",
                       doc_ids: str = "stem") -> DataFrame:
    """Distributed scan of ``.geojson`` files → features frame (see
    :func:`parse_geojson_features`). Same ``binaryFile`` listing,
    glob pruning, and doc-id policy as :func:`read_kml_files`."""
    if doc_ids not in ("stem", "path"):
        raise ValueError("doc_ids must be 'stem' or 'path'")
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", pattern)
             .load(path)
             .select("path", "content"))
    docs = files.select(
        F.col("path").alias("_p"),
        F.col("content").cast("string").alias("geojson"))
    if doc_ids == "stem":
        stem = F.regexp_replace(
            F.element_at(F.split(F.col("_p"), "/"), -1),
            r"\.[^.]*$", "")
        docs = docs.select(stem.alias("doc_id"), "geojson")
    else:
        docs = docs.select(F.col("_p").alias("doc_id"), "geojson")
    return parse_geojson_features(docs)


def read_jsonl_docs(spark: SparkSession, path: str, *,
                    id_field: str = "doc_id",
                    text_field: str = "text",
                    pattern: str = "*.jsonl") -> DataFrame:
    """Distributed JSONL corpus source — the lingua franca of LLM
    training dumps (one JSON object per line). Returns the package's
    ``documents`` shape (doc_id, text, extra JSON carried verbatim)
    plus an auditable corrupt-line lane: malformed lines surface as
    rows with NULL doc_id/text and the raw line in ``corrupt_record``
    — NEVER silently dropped (count them, then filter).

    Scale shape: Spark's native JSON reader — line-splittable, so one
    100 GB file still fans out across executors (unlike whole-file
    formats); schema is pinned (no inference pass over 100 TB) to
    exactly (id, text, corrupt) and Catalyst prunes any other key at
    the scan. Zero Python.

    Output: (doc_id, text, corrupt_record).
    """
    schema = (f"`{id_field}` STRING, `{text_field}` STRING, "
              "`_corrupt` STRING")
    df = (spark.read
          .schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .option("pathGlobFilter", pattern)
          .json(path))
    return df.select(F.col(id_field).alias("doc_id"),
                     F.col(text_field).alias("text"),
                     F.col("_corrupt").alias("corrupt_record"))
