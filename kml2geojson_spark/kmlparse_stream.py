"""Streaming Point extractor — the tile-path fast lane.

Split out of :mod:`kmlparse` to keep the parser module focused; shares
its tokenizer. See :func:`stream_point_xy`.
"""

from __future__ import annotations

from .constants import MULTI_CONTAINERS
from .kmlparse import (_GI_CDATA, _GI_CLOSE, _GI_COMMENT, _GI_OPEN,
                       _GI_SELFCLOSE, _GI_TEXT, _TOKEN, _decode_entities)

_CONTAINERS = frozenset(MULTI_CONTAINERS)


def stream_point_xy(source: str):
    """Tile-path fast lane: the (x, y) of every Point exactly as
    ``iter_point_coords(parse_kml(source))`` yields them — including
    the multi-geometry container descent (points outside the innermost
    first-preorder container chain are dropped) and error parity (a
    Point with no coordinates raises the general path's ValueError) —
    WITHOUT building the parse table: one pass over the token stream
    with depth counters and a per-placemark scope buffer.

    Returns ``None`` whenever the document needs the general path:

    - two DIFFERENT container kinds in one placemark (the reference's
      priority rule — MULTI_CONTAINERS order beats document position,
      main.py:349-359 — needs subtree lookahead);
    - a container opening inside a Point, or nested Points;
    - nested Placemarks (the tree walk emits a Point under k
      placemarks k times, GROUPED PER ANCESTOR placemark — an order a
      single streaming pass cannot produce);
    - Placemark/Point/container elements nested inside a captured
      ``<coordinates>`` run (real subtree elements to the general parser);
    - a mismatched close tag or unclosed elements at EOF (the tree
      parser's recovery semantics differ).

    Callers fall back to the general path, so the two paths are bit-equal
    by construction on every input — asserted differentially against
    the general path on the synthetic corpus AND the fuzz corpus in
    tests/test_fast_paths.py (and on malformed coordinate text both
    paths raise the identical ValueError).

    Why it exists: the fused tile kernel discards feature/geometry
    indices, so the general path's parse table and per-placemark
    subtree scans are pure overhead — measured ~1.9× on the
    parse+extract stage against the object tree the general path
    built before its flat table.
    """
    # local import: convert_core imports kmlparse at its top level
    from .convert_core import parse_coord_tuple
    multi_mode = "MultiGeometry" in source or "MultiTrack" in source
    if "\r" in source:
        source = source.replace("\r\n", "\n").replace("\r", "\n")
    out: list = []
    stack: list = []
    pm_depth = 0
    in_point = False
    pm_at_point = 0       # Placemark-ancestor count of the open Point
    coords_done = False   # first coordinates of the current Point seen
    in_coords = False     # inside that first coordinates element
    coords_elem_depth = 0  # open elements nested inside it
    capturing = False     # still in its leading char-data run
    parts: list = []
    # container mode (multi_mode): per-placemark descent state
    buf: list = []        # points of the current final-candidate scope
    kind = None           # container tag chosen in this placemark
    scope_depth = 0       # len(stack) at the chosen container, 0 = none
    ended = False         # chosen container closed — stop collecting
    for m in _TOKEN.finditer(source):
        li = m.lastindex
        if li == _GI_TEXT:
            if capturing and coords_elem_depth == 0:
                s = m.group(_GI_TEXT)
                parts.append(_decode_entities(s) if "&" in s else s)
        elif li == _GI_SELFCLOSE:
            tag, selfclose = m.group(_GI_OPEN, _GI_SELFCLOSE)
            if in_coords:
                if tag == "Placemark" or tag == "Point" \
                        or tag in _CONTAINERS:
                    # the general parser makes these REAL elements of the
                    # placemark subtree (a Point nested inside another
                    # Point's coordinates is still bucketed and
                    # parsed); replicating that while capturing needs
                    # the tree — bail
                    return None
                # an element child ends the leading char-data run
                capturing = False
                if not selfclose:
                    coords_elem_depth += 1
                    stack.append(tag)
                continue
            if multi_mode and pm_depth and tag in _CONTAINERS:
                if in_point:
                    return None  # container inside a Point: general path
                if kind is not None and tag != kind:
                    return None  # mixed kinds: priority needs lookahead
                kind = tag
                if not ended:
                    # descend: the first container of the current scope
                    # wins; everything collected so far at the outer
                    # level is outside the final subtree
                    buf = []
                    if selfclose:
                        ended = True  # empty final scope
                        continue
                    stack.append(tag)
                    scope_depth = len(stack)
                    continue
                if not selfclose:
                    stack.append(tag)
                continue
            if selfclose:
                # <coordinates/> still claims the first-coordinates
                # slot of its Point (first-descendant semantics) with ""
                # text — which the general path feeds to the coord parser
                # (raising ValueError); raise identically
                if (tag == "coordinates" and in_point and not coords_done):
                    coords_done = True
                    if pm_at_point and not (multi_mode and ended):
                        if multi_mode:
                            buf.append("")  # parsed at placemark close
                        else:
                            parse_coord_tuple("")
                elif tag == "Point":
                    # <Point/>: a Point node with NO coordinates — the
                    # general path reads a missing coordinates as "" and
                    # raises; match it (deferred via buf in container
                    # docs, exactly like a captured empty payload)
                    if in_point:
                        return None  # nested Points: general path decides
                    if pm_depth and not (multi_mode and ended):
                        if multi_mode:
                            buf.append("")
                        else:
                            parse_coord_tuple("")
                continue
            stack.append(tag)
            if tag == "Placemark":
                if pm_depth:
                    # nested placemarks: only the general path implements
                    # the k-fold multiplicity AND its emission order
                    # (grouped per ANCESTOR placemark, not document
                    # order — unreachable in one streaming pass)
                    return None
                pm_depth += 1
                if multi_mode:
                    buf = []
                    kind = None
                    scope_depth = 0
                    ended = False
            elif tag == "Point":
                if in_point:
                    return None  # nested Points: general path decides
                in_point = True
                pm_at_point = pm_depth
                coords_done = False
            elif tag == "coordinates" and in_point and not coords_done:
                in_coords = True
                capturing = True
                coords_elem_depth = 0
                parts = []
        elif li == _GI_CLOSE:
            tag = m.group(_GI_CLOSE)
            if not stack or stack[-1] != tag:
                return None  # recovery semantics: general path decides
            stack.pop()
            if in_coords:
                if coords_elem_depth:
                    coords_elem_depth -= 1
                    continue
                # the coordinates element itself closes
                in_coords = False
                capturing = False
                coords_done = True
                if pm_at_point and not (multi_mode and ended):
                    if multi_mode:
                        # defer the parse: a later container descent may
                        # discard this point — the general path would then
                        # never parse it (so neither may we, even when
                        # the text is malformed)
                        buf.append("".join(parts).strip())
                    else:
                        coords = parse_coord_tuple("".join(parts).strip())
                        if len(coords) >= 2:
                            xy = (coords[0], coords[1])
                            for _ in range(pm_at_point):
                                out.append(xy)
                parts = []
                continue
            if tag == "Placemark":
                pm_depth -= 1
                if multi_mode:
                    for s in buf:
                        coords = parse_coord_tuple(s)
                        if len(coords) >= 2:
                            out.append((coords[0], coords[1]))
                    buf = []
            elif tag == "Point":
                in_point = False
                if not coords_done and pm_at_point \
                        and not (multi_mode and ended):
                    # Point closed with NO coordinates descendant: the
                    # general path reads a missing coordinates as "" and
                    # raises ValueError — match it (deferred via buf
                    # in container docs)
                    if multi_mode:
                        buf.append("")
                    else:
                        parse_coord_tuple("")
            elif (multi_mode and scope_depth and not ended
                  and tag == kind and len(stack) == scope_depth - 1):
                ended = True  # the chosen container closed
        elif li == _GI_CDATA:
            if capturing and coords_elem_depth == 0:
                parts.append(m.group(_GI_CDATA))
        elif li == _GI_COMMENT:
            if in_coords and coords_elem_depth == 0:
                capturing = False  # comment breaks logical adjacency
        # decl / pi: skipped
    if stack:
        return None  # unclosed elements at EOF: general path decides
    return out
