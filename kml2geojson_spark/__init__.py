"""kml2geojson_spark — a PySpark-native KML→GeoJSON conversion and
spatial-join / tiling engine.

Built from scratch for Spark (DataFrame API + Arrow-vectorized UDFs); the
conversion semantics exactly reproduce mrcagney/kml2geojson v5.1.0
(reference at /root/reference/kml2geojson/main.py) under span-sequence
equality over interleaved-span document tables
``(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)``.

Layered on top of the parsed features is a quadtree (Morton / Z-order,
S2-like) tiling engine: batched cell encoding, ray-casting
point-in-polygon, kNN via k-ring expansion, raster<->vector coverage
fractions, salted joins with explicit skew splitting, and
checkpoint/lineage manifests.
"""

import sys as _sys

if "pyspark.worker" in _sys.modules:  # inside a PySpark Python worker
    from .worker_imports import install as _install_worker_imports
    _install_worker_imports()

from .constants import GEOTYPES, STYLE_TYPES
from .convert_core import (
    build_feature_collection_dict,
    build_layers_dicts,
    build_style_catalog,
    color_and_opacity,
    disambiguate_names,
    parse_coord_tuple,
    parse_coord_seq,
    parse_gx_coord,
    sanitize_filename,
    convert_kml_string,
)
from .kmlparse import parse_kml, Element
from .engine import (
    convert_documents,
    extract_features,
    extract_points,
    extract_styles,
    reassemble_spans_kml,
    resolve_styles,
    layer_feature_counts,
)
from .datagen import pack_spans, synthesize_documents_kml, spans_schema
from . import compat  # reference-named drop-in API (kml2geojson v5.1.0)

if "pyspark.worker" in _sys.modules:
    from .worker_imports import freeze_heap as _freeze_heap
    _freeze_heap()  # after the package's own imports

__version__ = "0.1.0"

__all__ = [
    "GEOTYPES",
    "STYLE_TYPES",
    "build_feature_collection_dict",
    "build_layers_dicts",
    "build_style_catalog",
    "color_and_opacity",
    "disambiguate_names",
    "parse_coord_tuple",
    "parse_coord_seq",
    "parse_gx_coord",
    "sanitize_filename",
    "convert_kml_string",
    "parse_kml",
    "Element",
    "convert_documents",
    "extract_features",
    "extract_points",
    "extract_styles",
    "reassemble_spans_kml",
    "resolve_styles",
    "layer_feature_counts",
    "pack_spans",
    "synthesize_documents_kml",
    "spans_schema",
]
