"""Simple-document Point extractor — the tile path's fastest lane.

``simple_point_xy`` sits in FRONT of :func:`kmlparse_stream.
stream_point_xy` in the fused tile kernel. The stream lane already
skips the parse table, but it still walks EVERY token of the document
through a Python state machine (~330 tokens for a typical 25-placemark
document, measured ~2.6 us per token of pure dispatch). This lane gets
the per-document Python work down to the ~130 *relevant* tag events
(Placemark / Point / coordinates / multi-geometry containers) by:

1. validating well-formedness ONCE with the stdlib ``expat`` parser —
   a single C pass with no handlers registered, so the Python state
   machine never needs to defend against mismatched or unclosed tags
   (the cases where the stream lane bails to the general parser's
   recovery semantics, kmlparse._parse_kml_regex);
2. scanning only the six tag names the Point extraction semantics
   depend on with one compiled regex (the regex engine skips all other
   markup and all character data at C speed);
3. slicing each Point's first-``<coordinates>`` payload directly out
   of the source (after expat validation every ``<`` starts markup,
   so the leading character-data run ends exactly at the next ``<``).

Anything outside the validated envelope returns ``None`` and the
caller falls through to the stream lane (which may itself return
``None`` and fall through to the general path) — so the three lanes are
bit-equal by construction on every input, asserted differentially on
the synthetic corpus, the grammar-fuzz corpus and the adversarial
fixtures in tests/test_fast_paths.py. Bail-out conditions:

- any self-closing tag (``/>``): the stream lane implements the
  reference's ``<coordinates/>`` / empty-container semantics
  (main.py:83-93, 349-359); this lane doesn't re-derive them;
- a processing instruction after the leading XML declaration, any
  comment or DOCTYPE, or a CDATA section whose payload contains ``<``
  (could hide markup-looking text from the regex scan);
- CDATA adjacent to a captured coordinates run (CDATA *continues* a
  capture in the stream lane; slicing to ``<`` would truncate it);
- not well-formed XML per expat (undefined entities, mismatched or
  unclosed tags, ``<`` in attribute values, multiple roots, ...);
- nested ``<Point>`` elements, a container opening inside a Point, or
  nested Placemarks — the same subtree-lookahead / emission-order
  cases the stream lane defers to the tree for.

Semantics replicated from the stream lane (see its docstring for the
reference mapping): in container documents the innermost
first-preorder container chain per placemark wins, points outside it
are dropped, and their coordinate text is parsed only if the
placemark's final scope keeps them (deferred to the placemark close,
so malformed text in a discarded scope never raises — exactly like
the general path); a Point with no coordinates descendant raises the
general path's ValueError under the same scope rules.
"""

from __future__ import annotations

import re
from xml.parsers import expat

from .convert_core import parse_coord_tuple
from .kmlparse import _decode_entities

# Only the tags the extraction semantics depend on, one alternative
# per (tag, open/close) so ``m.lastindex`` is a small-int event code —
# no .group() string fetch on the hot loop. Anchored on "<" and
# terminated by the (?=[\s>]) lookahead, so prefixed names
# (<ns:Point>) and longer names (<Pointer>) don't match — matching the
# stream lane's exact-string tag comparisons. "</coordinates" matches
# nothing (no event needed: captures complete at the open tag). No "/"
# in the lookahead: documents with any self-closing tag never reach
# this scan.
_PM_O, _PM_C, _PT_O, _PT_C, _CO_O, _CT_O, _CT_C = range(1, 8)
_REL = re.compile(
    r"<(?:(Placemark)|(/Placemark)|(Point)|(/Point)|(coordinates)"
    r"|(MultiGeometry|MultiTrack|gx:MultiTrack)"
    r"|(/(?:MultiGeometry|MultiTrack|gx:MultiTrack)))(?=[\s>])")

# Precise tag-end matcher for the rare `<coordinates attr="...">` with
# a quoted ">" inside the attribute value (same attribute grammar as
# kmlparse._TOKEN).
_COORD_TAG = re.compile(r"<coordinates(?:\"[^\"]*\"|'[^']*'|[^>])*>")

def _parse_xy(s: str):
    """(x, y) of one coordinate-tuple payload with ``parse_coord_tuple``
    semantics (convert_core.py:32): raises the identical ValueError on
    malformed parts, returns None when fewer than two components. The
    raw comma-split has the same arity as the whitespace-stripped one
    (stripping never adds or removes commas), so the fast float() path
    is exact whenever every part parses; any failure delegates to the
    reference-shaped parser for the authoritative result or error."""
    parts = s.split(",")
    if len(parts) < 2:
        parse_coord_tuple(s)  # raises on malformed, e.g. "" or "junk"
        return None
    try:
        vals = [float(p) for p in parts]
    except ValueError:
        vals = parse_coord_tuple(s)  # whitespace inside parts, etc.
        if len(vals) < 2:
            return None
    return vals[0], vals[1]


def simple_point_xy(source: str):
    """The (x, y) of every Point exactly as ``stream_point_xy`` (and
    therefore the general path) yields them, or ``None`` when the document
    is outside this lane's validated envelope — see the module
    docstring for the envelope and the semantics contract."""
    if "/>" in source:
        return None
    qi = source.find("<?")
    if qi != -1 and not (
            qi == 0 and source.startswith("<?xml")
            and len(source) > 5 and source[5] in " \t\r\n"
            and source.find("<?", 2) == -1):
        # Any processing instruction other than a single leading XML
        # declaration bails: PI data may contain markup-looking text
        # (e.g. "<?a <Placemark >?>") that the _REL scan would match,
        # and a PI at offset 0 or 1 is NOT covered by a find from 2.
        return None
    i = source.find("<!")
    while i != -1:  # every "<!" must be a markup-free CDATA section
        if not source.startswith("<![CDATA[", i):
            return None  # comment / DOCTYPE: stream lane decides
        j = source.find("]]>", i + 9)
        if j == -1 or "<" in source[i + 9:j]:
            return None
        i = source.find("<!", j + 3)
    if "\r" in source:
        # same EOL normalization as kmlparse._parse_kml_regex
        # and the stream lane, applied BEFORE validation so the event
        # offsets below index into the normalized string
        source = source.replace("\r\n", "\n").replace("\r", "\n")
    try:
        expat.ParserCreate().Parse(source, True)
    except expat.ExpatError:
        return None

    multi = "MultiGeometry" in source or "MultiTrack" in source
    out: list = []
    pm_depth = 0
    in_point = False
    pm_at_point = 0
    coords_done = True
    # container-document state, all per-placemark (reset at open):
    buf: list = []    # deferred coordinate payloads of the live scope
    kind = None       # container tag chosen in this placemark
    ended = False     # chosen scope closed — stop collecting
    for m in _REL.finditer(source):
        ev = m.lastindex
        if ev == _PM_O:
            if pm_depth:
                # nested placemarks: the general path is the only lane
                # implementing the k-fold multiplicity AND its emission
                # order (per-ANCESTOR-placemark grouping, not document
                # order — unreachable for a single streaming pass)
                return None
            pm_depth += 1
            if multi:
                buf, kind, ended = [], None, False
        elif ev == _PM_C:
            if multi and pm_depth == 1:
                for s in buf:
                    xy = _parse_xy(s)
                    if xy is not None:
                        out.append(xy)
                buf = []
            pm_depth -= 1
        elif ev == _PT_O:
            if in_point:
                return None  # nested Points: general path decides
            in_point = True
            pm_at_point = pm_depth
            coords_done = False
        elif ev == _PT_C:
            in_point = False
            if not coords_done and pm_at_point:
                # Point closed with NO coordinates descendant: the general
                # path reads a missing coordinates as "" and raises
                # ValueError — match it (deferred via buf in container
                # docs, exactly like a captured empty payload)
                if multi:
                    if not ended:
                        buf.append("")
                else:
                    parse_coord_tuple("")
        elif ev == _CO_O:
            if not in_point or coords_done:
                continue
            coords_done = True
            e = m.end()
            if source[e] != ">":  # attributes: find the true tag end
                tm = _COORD_TAG.match(source, m.start())
                if tm is None:
                    return None
                e = tm.end()
            else:
                e += 1
            nxt = source.index("<", e)
            if source.startswith("<![CDATA[", nxt):
                return None  # CDATA continues the capture: stream lane
            s = source[e:nxt]
            if "&" in s:
                s = _decode_entities(s)
            if multi:
                if pm_at_point and not ended:
                    buf.append(s.strip())
            elif pm_at_point:
                xy = _parse_xy(s.strip())
                if xy is not None:
                    for _ in range(pm_at_point):
                        out.append(xy)
        elif ev == _CT_O:
            if not pm_depth:
                continue  # outside any placemark: inert, like stream
            if in_point:
                return None  # container inside a Point: general path
            tag = m[ev]
            if kind is not None and tag != kind:
                return None  # mixed kinds: priority needs lookahead
            if not ended:
                # (re-)descend: every same-kind open while live resets
                # the scope — innermost first-preorder chain wins
                kind = tag
                buf = []
        else:  # container close
            # closing the live scope ends collection; closes of
            # post-ended or placemark-enclosing containers are
            # inert (proper nesting is guaranteed by expat)
            if pm_depth and not ended and kind is not None:
                ended = True
    return out
