"""Drop-in reference-named API.

Every public helper of mrcagney/kml2geojson v5.1.0
(/root/reference/kml2geojson/__init__.py:1 re-exports main.py) is
available here under its ORIGINAL name and call shape, so a porting
user rewrites ``from kml2geojson import X`` as
``from kml2geojson_spark.compat import X`` and nothing else.

Node-taking functions accept any of:

- the engine's :class:`~kml2geojson_spark.kmlparse.Element`,
- a raw KML/XML string (parsed with the engine's state-machine parser),
- an ``xml.dom.minidom`` node (``Document`` or element) — re-serialized
  via ``toxml()`` and re-parsed, so code that feeds ``md.parseString``
  output (the reference's own test style, tests/test_main.py) works
  unchanged.

These wrappers are the single-document Python surface; the distributed
engine entry points live in :mod:`kml2geojson_spark.engine`.
"""

from __future__ import annotations

import pathlib
import re
from typing import Optional

from .constants import GEOTYPES, SPACE, STYLE_TYPES
from .convert_core import (
    build_feature_collection_dict,
    build_feature_dict,
    build_layers_dicts,
    build_style_catalog,
    color_and_opacity,
    convert_kml_string,
    disambiguate_names,
    parse_coord_seq,
    parse_coord_tuple,
    parse_gx_coord,
    sanitize_filename,
    _extract_geometries,
)
from .kmlparse import Element, parse_kml

__all__ = [
    "GEOTYPES", "SPACE", "STYLE_TYPES",
    "get", "get1", "attr", "val", "valf", "numarray",
    "coords1", "coords", "gx_coords1", "gx_coords",
    "disambiguate", "to_filename", "build_rgb_and_opacity",
    "build_svg_style", "build_leaflet_style", "build_geometry",
    "build_feature", "build_feature_collection", "build_layers",
    "convert",
]


def _as_node(node) -> Element:
    """Coerce Element / KML string / minidom node to an engine Element.

    A minidom element re-parses to a one-child document; the element
    itself is returned so attribute/value access targets the right
    node. A minidom Document returns the whole re-parsed tree."""
    if isinstance(node, Element):
        return node
    if isinstance(node, str):
        return parse_kml(node)
    toxml = getattr(node, "toxml", None)
    if toxml is not None:
        root = parse_kml(toxml())
        if getattr(node, "documentElement", None) is not None:
            return root  # minidom Document
        # minidom element: unwrap self, the re-parsed document element
        return Element(root.doc, 1) if len(root.doc.tags) > 1 else root
    raise TypeError(
        f"expected Element, KML string, or minidom node; got {type(node)!r}")


# -- DOM helpers (reference main.py:27-143) ---------------------------------

def get(node, name: str) -> list[Element]:
    """All descendant elements tagged ``name`` (main.py:27)."""
    return _as_node(node).find_all(name)


def get1(node, name: str) -> Optional[Element]:
    """First descendant element tagged ``name``, else None (main.py:34)."""
    return _as_node(node).find(name)


def attr(node, name: str) -> str:
    """Attribute value, "" when absent (main.py:46)."""
    return _as_node(node).attr(name)


def val(node) -> str:
    """Stripped character-data content of the node (main.py:54)."""
    if node is None:
        return ""
    return _as_node(node).text()


def valf(node) -> Optional[float]:
    """``float(val(node))``, None when not parseable (main.py:65)."""
    try:
        return float(val(node))
    except ValueError:
        return None


def numarray(a: list) -> list[float]:
    """Cast a list to floats (main.py:76)."""
    return [float(aa) for aa in a]


coords1 = parse_coord_tuple
coords = parse_coord_seq
gx_coords1 = parse_gx_coord


def gx_coords(node) -> dict:
    """<gx:coord> tuples + <when> timestamps of a track node
    (main.py:126)."""
    el = _as_node(node)
    return {
        "coordinates": [parse_gx_coord(c.text())
                        for c in el.find_all("gx:coord")],
        "times": [w.text() for w in el.find_all("when")],
    }


# -- naming / style helpers (main.py:146-341) -------------------------------

disambiguate = disambiguate_names
to_filename = sanitize_filename
build_rgb_and_opacity = color_and_opacity


def build_svg_style(node) -> dict:
    """styleUrl → simplestyle-spec SVG properties (main.py:215)."""
    return build_style_catalog(_as_node(node), "svg")


def build_leaflet_style(node) -> dict:
    """styleUrl → Leaflet path-style properties (main.py:279)."""
    return build_style_catalog(_as_node(node), "leaflet")


# -- geometry / feature builders (main.py:343-545) --------------------------

def build_geometry(node) -> dict:
    """Geometries + track times of a placemark-ish node, as the
    reference's ``{"geoms": [...], "times": [...]}`` dict
    (main.py:343)."""
    geoms, times = _extract_geometries(_as_node(node))
    return {"geoms": geoms, "times": times}


def build_feature(node) -> Optional[dict]:
    """GeoJSON Feature for a placemark node, or None (main.py:397)."""
    return build_feature_dict(_as_node(node))


def build_feature_collection(node, name: Optional[str] = None) -> dict:
    """Whole-tree GeoJSON FeatureCollection (main.py:487)."""
    return build_feature_collection_dict(_as_node(node), name=name)


def build_layers(node, *, disambiguate_names: bool = True) -> list[dict]:
    """Per-folder FeatureCollections (main.py:511)."""
    return build_layers_dicts(_as_node(node),
                              disambiguate=disambiguate_names)


def convert(kml_path_or_buffer, feature_collection_name: Optional[str] = None,
            style_type: Optional[str] = None, *,
            separate_folders: bool = False):
    """Reference-shaped ``convert`` (main.py:548): path / file object →
    list of FeatureCollections, or ``(style_dict, *collections)`` when
    ``style_type`` is given — the exact variadic return contract of the
    reference (the engine's own normalized entry point is
    :func:`~kml2geojson_spark.convert_core.convert_kml_string`)."""
    if isinstance(kml_path_or_buffer, (str, pathlib.Path)):
        p = pathlib.Path(kml_path_or_buffer).resolve()
        with p.open(encoding="utf-8", errors="ignore") as src:
            kml_str = src.read()
    else:
        kml_str = kml_path_or_buffer.read()
        kml_path_or_buffer.close()
        if isinstance(kml_str, bytes):
            # honor the XML prolog's encoding declaration (the
            # reference hands raw bytes to md.parseString, which does
            # the same) before falling back to UTF-8
            m = re.search(rb'encoding=["\']([A-Za-z0-9._-]+)["\']',
                          kml_str[:200])
            enc = m.group(1).decode("ascii") if m else "utf-8"
            kml_str = kml_str.decode(enc, errors="ignore")

    if style_type is not None and style_type not in STYLE_TYPES:
        raise ValueError(f"style type must be one of {STYLE_TYPES}")
    style, layers = convert_kml_string(
        kml_str, feature_collection_name, style_type,
        separate_folders=separate_folders)
    if style_type is not None:
        return (style, *layers)
    return layers
