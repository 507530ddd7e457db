"""Per-document KML→GeoJSON conversion semantics.

Behavioral contract: byte-for-byte dict equality with
mrcagney/kml2geojson v5.1.0 on every fixture in the reference test
corpus (/root/reference/tests/test_main.py:63-162). Each function's
docstring cites the reference lines whose semantics it reproduces; the
code itself is written fresh for this engine (shared parameterized style
builder, iterative geometry extraction, spec-driven property extraction)
rather than translated.

These functions are pure Python over the :mod:`kmlparse` flat preorder
table: nodes are preorder numbers into a :class:`~.kmlparse.Document`,
a subtree is a range of them, and each placemark's builder makes one
pass over its range. The public builders take an
:class:`~.kmlparse.Element` view. They run inside Arrow-batched Spark
workers (``mapInArrow``) and carry no Spark dependency, so they are
unit-testable without a session.
"""

from __future__ import annotations

import re
from typing import Optional

from .constants import GEOTYPES, MULTI_CONTAINERS, STYLE_KEYS
from .kmlparse import Document, Element

_WS = re.compile(r"\s+")
_FILENAME_JUNK = re.compile(r"(?u)[^-\w. ]")


# ---------------------------------------------------------------------------
# Scalar helpers
# ---------------------------------------------------------------------------

def parse_coord_tuple(s: str) -> list[float]:
    """One KML coordinate tuple → floats. All whitespace is removed
    before splitting on commas, so ``' -112.2,36.0,2357 '`` →
    ``[-112.2, 36.0, 2357.0]`` (reference ``coords1``, main.py:83-93)."""
    # every whitespace character but " " is unprintable, so this skips
    # the regex exactly when there is no whitespace to remove
    if " " in s or not s.isprintable():
        s = _WS.sub("", s)
    return [float(part) for part in s.split(",")]


def parse_coord_seq(s: str) -> list[list[float]]:
    """Whitespace-separated tuple sequence → list of float lists
    (reference ``coords``, main.py:96-110). Empty/blank input → []."""
    return [[float(part) for part in tok.split(",")] for tok in s.split()]


def parse_gx_coord(s: str) -> list[float]:
    """One ``<gx:coord>`` payload, split on single spaces
    (reference ``gx_coords1``, main.py:113-123)."""
    return [float(part) for part in s.split(" ")]


def _float_or_none(s: str) -> Optional[float]:
    """float(s) with the reference's None-on-failure contract
    (``valf``, main.py:65-73; a missing element reads as "")."""
    try:
        return float(s)
    except ValueError:
        return None


def disambiguate_names(names: list[str], mark: str = "1") -> list[str]:
    """Sequential rename: append ``mark`` until the name is unseen.
    Collision chains interact with earlier results, e.g.
    ``['bingo','bingo1','bongo','bingo','bro','bongo']`` →
    ``['bingo','bingo1','bongo','bingo11','bro','bongo1']``
    (reference ``disambiguate``, main.py:146-165; test_main.py:85-89).
    Order-dependent and stateful — intentionally run per-document inside
    the parse worker, never as a window function."""
    taken = set()
    out = []
    for name in names:
        candidate = name
        while candidate in taken:
            candidate = candidate + mark
        taken.add(candidate)
        out.append(candidate)
    return out


def sanitize_filename(s: str) -> str:
    """Filename-safe layer name: strip non ``[-\\w. ]``, trim, spaces→_
    (reference ``to_filename``, main.py:168-182)."""
    cleaned = _FILENAME_JUNK.sub("", s)
    return cleaned.strip().replace(" ", "_")


def color_and_opacity(s: str) -> tuple[str, float]:
    """KML ``aabbggrr`` color → (``#rrggbb``, opacity).

    Reference ``build_rgb_and_opacity`` (main.py:188-212): leading ``#``
    stripped; 8 hex chars → byte-reversed bgr→rgb with opacity
    ``round(alpha/256, 2)`` (division by 256, NOT 255 — ``'ee'`` → 0.93,
    test_main.py:25-28); 6 chars → byte-pair reverse, opacity stays the
    *int* 1; 3 chars → string reverse; anything else → ``#000000``.
    The int-vs-float opacity distinction is preserved for JSON fidelity.
    """
    body = s[1:] if s.startswith("#") else s
    rgb = "000000"
    opacity: float = 1  # int on purpose
    n = len(body)
    if n == 8:
        rgb = body[6:8] + body[4:6] + body[2:4]
        opacity = round(int(body[0:2], 16) / 256, 2)
    elif n == 6:
        rgb = body[4:6] + body[2:4] + body[0:2]
    elif n == 3:
        rgb = body[::-1]
    return "#" + rgb, opacity


# ---------------------------------------------------------------------------
# Style catalogs
# ---------------------------------------------------------------------------

def _apply_poly_style(props: dict, doc: Document, poly: int, K: dict) -> None:
    """PolyStyle contribution to a style/property dict.

    Semantics from reference main.py:237-255 (and the identical inline
    variant main.py:420-439): a color sets fill+default border including
    int stroke-width 1; the 0/1 ``fill``/``outline`` flags force-set on
    0 but only set-if-absent on 1.
    """
    color = doc.text(doc.find(poly, "color"))
    if color:
        rgb, opacity = color_and_opacity(color)
        props[K["fill_color"]] = rgb
        props[K["fill_opacity"]] = opacity
        props[K["stroke_color"]] = rgb
        props[K["stroke_opacity"]] = opacity
        props[K["stroke_width"]] = 1
    fill_flag = _float_or_none(doc.text(doc.find(poly, "fill")))
    if fill_flag == 0:
        props[K["fill_opacity"]] = fill_flag
    elif fill_flag == 1 and K["fill_opacity"] not in props:
        props[K["fill_opacity"]] = fill_flag
    outline_flag = _float_or_none(doc.text(doc.find(poly, "outline")))
    if outline_flag == 0:
        props[K["stroke_opacity"]] = outline_flag
    elif outline_flag == 1 and K["stroke_opacity"] not in props:
        props[K["stroke_opacity"]] = outline_flag


def _apply_line_style(props: dict, doc: Document, line: int, K: dict, *,
                      width_truthy: bool) -> None:
    """LineStyle contribution. In style catalogs a width is applied when
    ``is not None`` (main.py:263-265) but in inline feature styles via
    truthiness — width 0 is dropped (main.py:446-448). The caller picks
    with ``width_truthy``."""
    color = doc.text(doc.find(line, "color"))
    if color:
        rgb, opacity = color_and_opacity(color)
        props[K["stroke_color"]] = rgb
        props[K["stroke_opacity"]] = opacity
    width = _float_or_none(doc.text(doc.find(line, "width")))
    if (width if width_truthy else width is not None):
        props[K["stroke_width"]] = width


def build_style_catalog(root: Element, style_type: str) -> dict:
    """All ``<Style id>`` nodes → ``{"#id": {props}}`` in the requested
    key vocabulary. One parameterized walk replaces the reference's twin
    ``build_svg_style``/``build_leaflet_style`` (main.py:215-340).

    Visit order inside a Style is fixed (PolyStyle → LineStyle →
    IconStyle) and an IconStyle containing an ``<Icon>`` RESETS the
    accumulated props to just ``{iconUrl}`` (main.py:266-272)."""
    K = STYLE_KEYS[style_type]
    doc = root.doc
    catalog = {}
    for style in doc.find_all(root.i, "Style"):
        props: dict = {}
        for poly in doc.find_all(style, "PolyStyle"):
            _apply_poly_style(props, doc, poly, K)
        for line in doc.find_all(style, "LineStyle"):
            _apply_line_style(props, doc, line, K, width_truthy=False)
        for icon_style in doc.find_all(style, "IconStyle"):
            icon = doc.find(icon_style, "Icon")
            if icon < 0:
                continue
            props = {K["icon_url"]: doc.text(doc.find(icon, "href"))}
        catalog["#" + doc.attr(style, "id")] = props
    return catalog


# ---------------------------------------------------------------------------
# Geometry
# ---------------------------------------------------------------------------

_GEOTYPE_SET = frozenset(GEOTYPES)
_GEOTYPE_RANK = {g: r for r, g in enumerate(GEOTYPES)}
# the tags whose first descendant a placemark's builder reads
_PROPERTY_TAGS = ("name", "description", "styleUrl", "PolyStyle",
                  "LineStyle", "ExtendedData", "TimeSpan")
_FIRST_TAGS = frozenset(_PROPERTY_TAGS + MULTI_CONTAINERS)


def _scan(doc: Document, i: int) -> tuple[dict, list]:
    """One pass over the subtree of ``i`` → ({tag: first descendant} for
    the multi-containers and the property tags, [geometry nodes in
    document order]). Replaces the reference's repeated
    ``get1``/``get`` subtree scans (main.py:349-359, 405-459)."""
    tags = doc.tags
    first: dict = {}
    geo = []
    for j in range(i + 1, doc.ends[i]):
        t = tags[j]
        if t in _GEOTYPE_SET:
            geo.append(j)
        elif t in _FIRST_TAGS and t not in first:
            first[t] = j
    return first, geo


def _geometry_nodes(doc: Document, first: dict, geo: list) -> list:
    """The geometry nodes a placemark contributes, in output order.

    The first MultiGeometry / MultiTrack / gx:MultiTrack descendant
    (checked in that order, not by document position) wins and the
    search descends into it, discarding sibling geometries
    (main.py:349-354). The atomic geometries found are grouped in
    GEOTYPES order, document order within a type (main.py:355-359)."""
    while True:
        for tag in MULTI_CONTAINERS:
            c = first.get(tag)
            if c is not None:
                first, geo = _scan(doc, c)
                break
        else:
            break
    if len(geo) > 1:
        tags = doc.tags
        geo.sort(key=lambda j: _GEOTYPE_RANK[tags[j]])
    return geo


def _build_geometries(doc: Document, geo: list) -> tuple[list[dict], list[list[str]]]:
    """Geometry nodes → (geoms, times).

    Point → single tuple; LineString → tuple sequence; Polygon → every
    descendant LinearRing in document order (no outer/inner
    distinction); Track/gx:Track → LineString from ``<gx:coord>``
    values zipped with ``<when>`` timestamps (main.py:360-392,
    gx_coords main.py:126-143)."""
    tags, texts = doc.tags, doc.texts
    geoms: list[dict] = []
    times: list[list[str]] = []
    for g in geo:
        t = tags[g]
        if t == "Point":
            geoms.append({"type": "Point", "coordinates": parse_coord_tuple(
                doc.text(doc.find(g, "coordinates")))})
        elif t == "LineString":
            geoms.append({"type": "LineString", "coordinates": parse_coord_seq(
                doc.text(doc.find(g, "coordinates")))})
        elif t == "Polygon":
            geoms.append({"type": "Polygon", "coordinates": [
                parse_coord_seq(doc.text(doc.find(ring, "coordinates")))
                for ring in doc.find_all(g, "LinearRing")]})
        else:  # Track / gx:Track
            geoms.append({"type": "LineString", "coordinates": [
                parse_gx_coord(texts[c].strip())
                for c in doc.find_all(g, "gx:coord")]})
            whens = [texts[w].strip() for w in doc.find_all(g, "when")]
            if whens:
                times.append(whens)
    return geoms, times


def _extract_geometries(node: Element) -> tuple[list[dict], list[list[str]]]:
    """Geometry extraction for one placemark-ish node → (geoms, times)
    (reference ``build_geometry``, main.py:343-394); see
    :func:`_geometry_nodes` and :func:`_build_geometries`."""
    doc = node.doc
    return _build_geometries(doc, _geometry_nodes(doc, *_scan(doc, node.i)))


# ---------------------------------------------------------------------------
# Features, collections, layers
# ---------------------------------------------------------------------------

_SVG_KEYS = STYLE_KEYS["svg"]


def build_feature_dict(node: Element) -> Optional[dict]:
    """One Placemark → GeoJSON Feature dict, or None when it has no
    geometry (reference ``build_feature``, main.py:397-484).

    Property extraction is first-descendant-only per tag (the
    reference's ``[:1]`` slices). Notables: empty name/description are
    skipped; styleUrl gets ``#`` prepended when missing; inline
    PolyStyle/LineStyle always use the svg key vocabulary; LineStyle
    width uses truthiness (width 0 dropped, main.py:446-448);
    ExtendedData Data@name→<value> text and SimpleData@name→text all
    stay strings; a single track's times flatten to one list
    (main.py:460-465); multiple geometries wrap in a
    GeometryCollection; a placemark ``id`` attribute becomes the
    feature id (main.py:481-482)."""
    return _feature(node.doc, node.i)


def _feature(doc: Document, p: int) -> Optional[dict]:
    first, geo = _scan(doc, p)
    geoms, times = _build_geometries(doc, _geometry_nodes(doc, first, geo))
    if not geoms:
        return None

    texts = doc.texts
    props: dict = {}
    j = first.get("name")
    if j is not None:
        name = texts[j].strip()
        if name:
            props["name"] = name
    j = first.get("description")
    if j is not None:
        desc = texts[j].strip()
        if desc:
            props["description"] = desc
    j = first.get("styleUrl")
    if j is not None:
        style_url = texts[j].strip()
        # reference indexes style_url[0] (main.py:417) — an empty
        # styleUrl crashes there; we normalize "" → "#" instead of
        # failing the whole partition.
        if not style_url.startswith("#"):
            style_url = "#" + style_url
        props["styleUrl"] = style_url
    j = first.get("PolyStyle")
    if j is not None:
        _apply_poly_style(props, doc, j, _SVG_KEYS)
    j = first.get("LineStyle")
    if j is not None:
        _apply_line_style(props, doc, j, _SVG_KEYS, width_truthy=True)
    j = first.get("ExtendedData")
    if j is not None:
        for data in doc.find_all(j, "Data"):
            props[doc.attr(data, "name")] = doc.text(doc.find(data, "value"))
        for simple in doc.find_all(j, "SimpleData"):
            props[doc.attr(simple, "name")] = texts[simple].strip()
    j = first.get("TimeSpan")
    if j is not None:
        props["timeSpan"] = {
            "begin": doc.text(doc.find(j, "begin")),
            "end": doc.text(doc.find(j, "end")),
        }
    if times:
        props["times"] = times[0] if len(times) == 1 else times

    feature: dict = {"type": "Feature", "properties": props}
    if len(geoms) == 1:
        feature["geometry"] = geoms[0]
    else:
        feature["geometry"] = {"type": "GeometryCollection", "geometries": geoms}
    fid = doc.attr(p, "id")
    if fid:
        feature["id"] = fid
    return feature


def iter_point_coords(root: Element):
    """Fast path for bulk tiling: yield (feature_idx, geom_idx, coords)
    for every Point geometry of every geometry-bearing placemark, with
    indices identical to the full feature builder (placemark document
    order; geometry-less placemarks skipped per main.py:402-404; geom
    order = :func:`_geometry_nodes`). Skips all property work AND the
    coordinate parsing of non-Point geometries (their count and order
    still contribute to geom_idx)."""
    doc = root.doc
    tags = doc.tags
    feature_idx = 0
    for p in doc.find_all(root.i, "Placemark"):
        geo = _geometry_nodes(doc, *_scan(doc, p))
        if not geo:
            continue
        for geom_idx, g in enumerate(geo):
            if tags[g] == "Point":
                coords = parse_coord_tuple(doc.text(doc.find(g, "coordinates")))
                if len(coords) >= 2:
                    yield feature_idx, geom_idx, coords
        feature_idx += 1


def build_feature_collection_dict(node: Element, name: Optional[str] = None) -> dict:
    """All descendant Placemarks (recursive) → FeatureCollection;
    geometry-less placemarks dropped; optional ``name`` key
    (reference ``build_feature_collection``, main.py:487-508)."""
    return _feature_collection(node.doc, node.i, name)


def _feature_collection(doc: Document, i: int, name: Optional[str]) -> dict:
    features = []
    for p in doc.find_all(i, "Placemark"):
        feature = _feature(doc, p)
        if feature is not None:
            features.append(feature)
    fc: dict = {"type": "FeatureCollection", "features": features}
    if name is not None:
        fc["name"] = name
    return fc


def build_layers_dicts(root: Element, *, disambiguate: bool = True) -> list[dict]:
    """One FeatureCollection per geodata-bearing ``<Folder>`` descendant
    (recursive — nested folders DUPLICATE their geodata into every
    enclosing folder layer, reference warning main.py:518); falls back
    to the root as a single layer when no folder qualifies; layer names
    pass through :func:`disambiguate_names`
    (reference ``build_layers``, main.py:511-545)."""
    doc = root.doc
    layers: list[dict] = []
    names: list[str] = []
    for folder in doc.find_all(root.i, "Folder"):
        name = doc.text(doc.find(folder, "name"))
        fc = _feature_collection(doc, folder, name)
        if fc["features"]:
            layers.append(fc)
            names.append(name)
    if not layers:
        name = doc.text(doc.find(root.i, "name"))
        fc = _feature_collection(doc, root.i, name)
        if fc["features"]:
            layers.append(fc)
            names.append(name)
    if disambiguate:
        for layer, new_name in zip(layers, disambiguate_names(names)):
            layer["name"] = new_name
    return layers


def convert_kml_string(
    kml_str: str,
    feature_collection_name: Optional[str] = None,
    style_type: Optional[str] = None,
    *,
    separate_folders: bool = False,
) -> tuple[Optional[dict], list[dict]]:
    """Whole-document conversion — the reference's ``convert`` entry
    point (main.py:548-603) over an in-memory string.

    Returns ``(style_catalog_or_None, layers)`` — a normalized shape
    instead of the reference's variadic tuple. ``separate_folders``
    selects folder layers vs one root FeatureCollection named
    ``feature_collection_name``; an unknown ``style_type`` raises
    ValueError against :data:`STYLE_TYPES` (main.py:594-601)."""
    from .kmlparse import parse_kml
    from .constants import STYLE_TYPES

    root = parse_kml(kml_str)
    if separate_folders:
        layers = build_layers_dicts(root)
    else:
        layers = [build_feature_collection_dict(root, name=feature_collection_name)]
    style = None
    if style_type is not None:
        if style_type not in STYLE_TYPES:
            raise ValueError(f"style type must be one of {list(STYLE_TYPES)}")
        style = build_style_catalog(root, style_type)
    return style, layers
