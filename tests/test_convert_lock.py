"""Regression lock on the converter's output.

The behaviour recorded here was checked against the reference library
(kml2geojson v5.1.0) in round 5: the golden fixtures, the 400-seed
differential fuzz and the quirk tests all passed then, and no converter
file changed until this lock was recorded. It is a lock on that
behaviour, not a reference check: the reference tests stay as they are
and still run wherever the reference is present. This file runs without
it.

Per case the lock holds a digest of the feature collection, the folder
layers, both style catalogs and the Point stream of
``iter_point_coords`` (or, for each of them, the exception's type and
message), encoded with ``json.dumps`` so that key order and int-vs-float
are part of the digest. The cases are:

- ``make_fuzz_kml`` seeds 0-1999;
- seeded corruptions of fuzz documents that the strict lane refuses, so
  they exercise the lenient lane (a dropped close, a stray close, an
  undefined entity, a DOCTYPE, CRLF line ends, ``<`` in an attribute);
- 400 ``datagen.synthesize_kml`` documents, a share of them rewritten
  with a comment, a self-closing element or markup inside CDATA.

The quirk documents at the end carry literal expectations instead.

Re-record (only after an intended behaviour change, which then needs its
own reference check): ``python -m tests.test_convert_lock --record``.
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import random
import sys

import pytest

from kml2geojson_spark import (
    build_feature_collection_dict,
    build_layers_dicts,
    build_style_catalog,
    convert_kml_string,
    datagen,
    parse_kml,
)
from kml2geojson_spark.convert_core import iter_point_coords
from kml2geojson_spark.kmlparse import _parse_kml_expat, _parse_kml_regex

from .test_differential_fuzz import make_fuzz_kml

LOCK_PATH = pathlib.Path(__file__).resolve().parent / "data" / "convert_lock.json"

FUZZ_SEEDS = range(0, 2000)
CORRUPTIONS = ("dropped_close", "stray_close", "undefined_entity",
               "doctype", "crlf", "lt_in_attribute")
CORRUPT_SEEDS = range(0, 100)  # per corruption kind
SYNTH_DOCS = 400
SYNTH_SEEDS = (3, 7)
SYNTH_VARIANTS = ("regular", "comment", "selfclose", "cdata_markup")


def _outcome(fn):
    try:
        return fn()
    except Exception as e:  # the exception is part of the behaviour
        return {"raises": type(e).__name__, "message": str(e)}


def conversion_record(kml: str) -> list:
    """Everything the lock pins down for one document."""
    root = parse_kml(kml)
    return [
        _outcome(lambda: build_feature_collection_dict(root, name="f")),
        _outcome(lambda: build_layers_dicts(root)),
        _outcome(lambda: build_style_catalog(root, "svg")),
        _outcome(lambda: build_style_catalog(root, "leaflet")),
        _outcome(lambda: [list(t) for t in iter_point_coords(root)]),
    ]


def digest(kml: str) -> str:
    blob = json.dumps(conversion_record(kml), ensure_ascii=False)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


# -- the documents ----------------------------------------------------------

def corrupt(kml: str, kind: str, seed: int) -> str:
    """A fuzz document with one seeded defect the strict lane refuses."""
    rng = random.Random(f"{kind}:{seed}")
    if kind == "dropped_close":
        closes = [i for i in range(len(kml)) if kml.startswith("</", i)]
        at = closes[rng.randrange(len(closes))]
        return kml[:at] + kml[kml.index(">", at) + 1:]
    if kind == "stray_close":
        body = kml.index("<kml")
        opens = [i for i in range(body + 1, len(kml)) if kml[i] == "<"]
        at = opens[rng.randrange(len(opens))]
        tag = rng.choice(["Placemark", "Point", "name", "Folder", "bogus"])
        return kml[:at] + f"</{tag}>" + kml[at:]
    if kind == "undefined_entity":
        texts = [i + 1 for i in range(kml.index("<kml"), len(kml) - 1)
                 if kml[i] == ">" and kml[i + 1] not in "<]"]
        at = texts[rng.randrange(len(texts))] if texts else kml.index("</kml>")
        return kml[:at] + "a &nope; b" + kml[at:]
    if kind == "doctype":
        decl = ('<!DOCTYPE kml [<!ENTITY e "X">]>\n' if rng.random() < 0.5
                else '<!DOCTYPE kml SYSTEM "kml22.dtd">\n')
        return kml.replace("\n", "\n" + decl, 1).replace(
            "<name>dup</name>", "<name>d&e;p</name>")
    if kind == "crlf":
        # CRLF and lone CR line ends, plus one stray close so the strict
        # lane refuses the document and the lenient lane's end-of-line
        # normalization is what the lock sees
        out = kml.replace("\n", "\r\n" if rng.random() < 0.7 else "\r")
        return out.replace("</kml>", "</bogus></kml>")
    if kind == "lt_in_attribute":
        tags = [i for i in range(len(kml))
                if kml.startswith("<Placemark", i) or kml.startswith("<Style ", i)
                or kml.startswith("<kml ", i)]
        at = tags[rng.randrange(len(tags))]
        end = kml.index(" ", at) if kml[at:at + 6] != "<Place" else at + 10
        return kml[:end] + ' title="a<b"' + kml[end:]
    raise ValueError(kind)


def synth_variant(kml: str, variant: str) -> str:
    if variant == "comment":
        return kml.replace("<Document>", "<Document><!-- a comment -->", 1)
    if variant == "selfclose":
        return kml.replace("<Document>", "<Document><open/>", 1)
    if variant == "cdata_markup":
        return kml.replace(
            "<name>pm-0</name>", "<name>pm-0</name><description><![CDATA["
            "<b>markup</b> inside]]></description>", 1)
    return kml


def lock_cases() -> dict[str, str]:
    """case id -> KML document, in a fixed order."""
    cases = {f"fuzz/{s}": make_fuzz_kml(s) for s in FUZZ_SEEDS}
    for kind in CORRUPTIONS:
        for s in CORRUPT_SEEDS:
            cases[f"corrupt/{kind}/{s}"] = corrupt(make_fuzz_kml(s), kind, s)
    per_seed = SYNTH_DOCS // len(SYNTH_SEEDS)
    for seed in SYNTH_SEEDS:
        for i in range(per_seed):
            variant = SYNTH_VARIANTS[i % len(SYNTH_VARIANTS)]
            cases[f"synth/{seed}/{i}/{variant}"] = synth_variant(
                datagen.synthesize_kml(i, seed), variant)
    return cases


_CASES = lock_cases()


@pytest.fixture(scope="module")
def lock() -> dict:
    return json.loads(LOCK_PATH.read_text())


def test_lock_covers_every_case(lock):
    assert sorted(lock) == sorted(_CASES)


@pytest.mark.parametrize("group", ["fuzz", "corrupt", "synth"])
def test_conversion_matches_lock(lock, group):
    mismatched = [cid for cid, kml in _CASES.items()
                  if cid.startswith(group + "/") and digest(kml) != lock[cid]]
    if mismatched:
        first = mismatched[0]
        pytest.fail(f"{len(mismatched)} {group} case(s) changed, first "
                    f"{first}:\n{_CASES[first]}\n->\n"
                    f"{json.dumps(conversion_record(_CASES[first]))[:4000]}")


def test_corruptions_reach_the_lenient_lane():
    strict = [cid for cid, kml in _CASES.items()
              if cid.startswith("corrupt/") and _parse_kml_expat(kml) is not None]
    assert strict == []


def _table(root) -> tuple:
    d = root.doc
    return d.tags, d.ends, d.texts, d.attrs


def test_lanes_yield_identical_tables():
    """Every well-formed lock document gives the same flat table from
    the strict (expat) and the lenient (regex) lane."""
    well_formed = 0
    for cid, kml in _CASES.items():
        strict = _parse_kml_expat(kml)
        if strict is None:
            continue
        well_formed += 1
        assert _table(strict) == _table(_parse_kml_regex(kml)), cid
    assert well_formed >= 2400


def test_multi_megabyte_coordinate_run_is_linear():
    """Expat hands a long multi-line ``<coordinates>`` run over in many
    buffer-sized pieces. Both lanes keep the whole run, and the strict
    lane's cost stays linear in its length: appending each piece with
    ``+=`` re-copies the run every time (~1.2 s at 10 MB on a 4-core
    x86 host, against ~0.1 s joined once)."""
    import time

    n = 500_000
    coords = "\n".join(f"{i * 1e-6:.6f},{i * 2e-6:.6f},0" for i in range(n))
    kml = (KML_NS + "<Placemark><LineString><coordinates>" + coords
           + "</coordinates></LineString></Placemark></kml>")
    assert len(kml) > 9_000_000
    t0 = time.process_time()
    strict = _parse_kml_expat(kml)
    t_strict = time.process_time() - t0
    t0 = time.process_time()
    lenient = _parse_kml_regex(kml)
    t_lenient = time.process_time() - t0
    assert _table(strict) == _table(lenient)
    assert strict.find("coordinates").text() == coords
    # linear, the strict lane reads ~4x the lenient one; quadratic, ~60x
    assert t_strict < 10 * t_lenient + 0.05, (t_strict, t_lenient)
    [feature] = build_feature_collection_dict(strict)["features"]
    assert len(feature["geometry"]["coordinates"]) == n


def test_split_leading_run_joins_in_order():
    # PIs and CDATA split a run into pieces in the lenient lane; the
    # pieces join in document order, whichever piece comes first
    body = "".join(f"t{k}<?pi {k}?><![CDATA[c{k}]]>" for k in range(500))
    kml = f"<kml><name><![CDATA[]]>{body}&amp;<x/></name></kml>"
    want = "".join(f"t{k}c{k}" for k in range(500)) + "&"
    for lane in (_parse_kml_expat, _parse_kml_regex):
        root = lane(kml)
        assert root.find("name").text() == want, lane.__name__


def test_engine_encoder_writes_json_dumps_bytes():
    from kml2geojson_spark.engine import _json_encode

    encoded = 0
    for kml in _CASES.values():
        try:
            style, layers = convert_kml_string(kml, style_type="svg")
        except ValueError:
            continue
        for obj in [style, *layers]:
            assert _json_encode(obj) == json.dumps(obj)
        encoded += 1
    assert encoded > 2000


def test_synth_variants_are_present():
    for variant, needle in [("comment", "<!--"), ("selfclose", "<open/>"),
                            ("cdata_markup", "<![CDATA[<b>")]:
        assert any(variant in cid and needle in kml
                   for cid, kml in _CASES.items())


# -- quirk documents, literal expectations ------------------------------------

KML_NS = ('<kml xmlns="http://www.opengis.net/kml/2.2" '
          'xmlns:gx="http://www.google.com/kml/ext/2.2">')


def test_nested_multigeometry_inner_container_wins():
    """The first MultiGeometry in preorder is the outer one; recursion
    descends into it and then into ITS first MultiGeometry, so the
    outer's sibling Points are discarded."""
    kml = (KML_NS + "<Document><Placemark><name>nest</name><MultiGeometry>"
           "<Point><coordinates>1,1</coordinates></Point>"
           "<MultiGeometry>"
           "<LineString><coordinates>2,2 3,3</coordinates></LineString>"
           "<Point><coordinates>9,9</coordinates></Point>"
           "</MultiGeometry>"
           "<Point><coordinates>4,4</coordinates></Point>"
           "</MultiGeometry></Placemark></Document></kml>")
    fc = build_feature_collection_dict(parse_kml(kml))
    assert fc == {"type": "FeatureCollection", "features": [{
        "type": "Feature", "properties": {"name": "nest"},
        "geometry": {"type": "GeometryCollection", "geometries": [
            {"type": "LineString", "coordinates": [[2.0, 2.0], [3.0, 3.0]]},
            {"type": "Point", "coordinates": [9.0, 9.0]},
        ]}}]}
    assert list(iter_point_coords(parse_kml(kml))) == [(0, 1, [9.0, 9.0])]


def test_gx_multitrack_times_nest_per_track_and_flatten_for_one():
    two = (KML_NS + "<Placemark><name>trk</name><gx:MultiTrack>"
           "<gx:Track><when>t1</when><when>t2</when>"
           "<gx:coord>-122.2 37.4 156.0</gx:coord>"
           "<gx:coord>-122.3 37.5 152.0</gx:coord></gx:Track>"
           "<gx:Track><when>t3</when>"
           "<gx:coord>-122.4 37.6 147.0</gx:coord></gx:Track>"
           "</gx:MultiTrack></Placemark></kml>")
    f = build_feature_collection_dict(parse_kml(two))["features"][0]
    assert f["properties"] == {"name": "trk", "times": [["t1", "t2"], ["t3"]]}
    assert f["geometry"] == {"type": "GeometryCollection", "geometries": [
        {"type": "LineString",
         "coordinates": [[-122.2, 37.4, 156.0], [-122.3, 37.5, 152.0]]},
        {"type": "LineString", "coordinates": [[-122.4, 37.6, 147.0]]}]}
    one = two.replace("<gx:Track><when>t3</when>"
                      "<gx:coord>-122.4 37.6 147.0</gx:coord></gx:Track>", "")
    f1 = build_feature_collection_dict(parse_kml(one))["features"][0]
    assert f1["properties"]["times"] == ["t1", "t2"]
    assert f1["geometry"]["type"] == "LineString"


def test_geometries_group_by_type_not_document_order():
    kml = (KML_NS + "<Placemark><MultiGeometry>"
           "<Polygon><outerBoundaryIs><LinearRing><coordinates>0,0 1,0 1,1 0,0"
           "</coordinates></LinearRing></outerBoundaryIs><innerBoundaryIs>"
           "<LinearRing><coordinates>5,5 6,5 5,5</coordinates></LinearRing>"
           "</innerBoundaryIs></Polygon>"
           "<LineString><coordinates>7,7 8,8</coordinates></LineString>"
           "<Point><coordinates>3,4,5</coordinates></Point>"
           "</MultiGeometry></Placemark></kml>")
    geoms = build_feature_collection_dict(parse_kml(kml))["features"][0][
        "geometry"]["geometries"]
    assert [g["type"] for g in geoms] == ["Polygon", "LineString", "Point"]
    assert geoms[2]["coordinates"] == [3.0, 4.0, 5.0]
    assert geoms[0]["coordinates"] == [
        [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]],
        [[5.0, 5.0], [6.0, 5.0], [5.0, 5.0]]]
    assert list(iter_point_coords(parse_kml(kml))) == [(0, 2, [3.0, 4.0, 5.0])]


def test_properties_first_descendant_and_overwrite_order():
    kml = (KML_NS + '<Placemark id="p7"><name> A </name><name>B</name>'
           "<description><!-- c -->hidden</description>"
           "<styleUrl>s1</styleUrl>"
           "<Style><PolyStyle><color>7f0000ff</color><fill>0</fill>"
           "</PolyStyle><LineStyle><color>501400E6</color><width>0</width>"
           "</LineStyle></Style>"
           '<ExtendedData><Data name="name"><value>from data</value></Data>'
           '<Data name="k"/><SchemaData><SimpleData name="k"> 2 </SimpleData>'
           "</SchemaData></ExtendedData>"
           "<TimeSpan><begin>b</begin></TimeSpan>"
           "<Point><coordinates>1,2</coordinates></Point></Placemark></kml>")
    f = build_feature_collection_dict(parse_kml(kml))["features"][0]
    assert json.dumps(f["properties"]) == json.dumps({
        "name": "from data", "styleUrl": "#s1",
        "fill": "#ff0000", "fill-opacity": 0.0, "stroke": "#E60014",
        "stroke-opacity": 0.31, "stroke-width": 1,
        "k": "2", "timeSpan": {"begin": "b", "end": ""}})
    assert f["id"] == "p7"


def test_empty_style_url_and_style_catalog_icon_reset():
    kml = (KML_NS + '<Document><Style id="a"><PolyStyle><color>ee001122'
           "</color><outline>1</outline></PolyStyle><LineStyle><width>0"
           "</width></LineStyle></Style>"
           '<Style id="b"><LineStyle><color>ffcc00</color></LineStyle>'
           "<IconStyle><Icon><href> u.png </href></Icon></IconStyle></Style>"
           "<Placemark><styleUrl></styleUrl><Point><coordinates>1,2"
           "</coordinates></Point></Placemark></Document></kml>")
    root = parse_kml(kml)
    assert build_style_catalog(root, "svg") == {
        "#a": {"fill": "#221100", "fill-opacity": 0.93, "stroke": "#221100",
               "stroke-opacity": 0.93, "stroke-width": 0.0},
        "#b": {"iconUrl": "u.png"}}
    assert build_style_catalog(root, "leaflet")["#a"] == {
        "fillColor": "#221100", "fillOpacity": 0.93, "color": "#221100",
        "opacity": 0.93, "weight": 0.0}
    props = build_feature_collection_dict(root)["features"][0]["properties"]
    assert props == {"styleUrl": "#"}


def test_eol_attribute_normalization_and_entities():
    kml = ('<?xml version="1.0"?><kml><Document><Placemark id="x\ty">'
           "<name>a\r\nb</name><description>c\rd &#65;&amp;&lt;"
           "<![CDATA[ &amp; ]]></description>"
           "<Point><coordinates>1.0,2.0</coordinates></Point>"
           "</Placemark></Document></kml>")
    for doc in (kml, kml.replace("</Document>", "</bogus></Document>")):
        _style, layers = convert_kml_string(doc)
        f = layers[0]["features"][0]
        assert f["properties"] == {"name": "a\nb",
                                   "description": "c\nd A&< &amp;"}
        assert f["id"] == "x y"


def test_doctype_pi_keep_entity_reference_verbatim():
    kml = ('<?xml version="1.0"?>\n<!DOCTYPE kml [<!ENTITY e "X">]>\n'
           '<?xml-stylesheet href="s.xsl"?>\n<kml><Document><name>t&#65;il'
           "</name><Placemark><name>&e;<?pi x?>&quot;q</name>"
           "<Point><coordinates>1,2</coordinates></Point></Placemark>"
           "</Document></kml>")
    layers = build_layers_dicts(parse_kml(kml))
    assert layers == [{"type": "FeatureCollection", "features": [{
        "type": "Feature", "properties": {"name": "&e;\"q"},
        "geometry": {"type": "Point", "coordinates": [1.0, 2.0]}}],
        "name": "tAil"}]


def test_nested_folders_duplicate_and_disambiguate():
    kml = (KML_NS + "<Document><Folder><name>dup</name>"
           "<Placemark><name>a</name><Point><coordinates>1,2</coordinates>"
           "</Point></Placemark><Folder><name>dup</name>"
           "<Placemark><name>b</name><Point><coordinates>3,4</coordinates>"
           "</Point></Placemark></Folder></Folder>"
           "<Folder><name>empty</name></Folder></Document></kml>")
    layers = build_layers_dicts(parse_kml(kml))
    assert [la["name"] for la in layers] == ["dup", "dup1"]
    assert [[f["properties"]["name"] for f in la["features"]]
            for la in layers] == [["a", "b"], ["b"]]


def test_coordinate_tuple_skips_the_regex_only_without_whitespace():
    """parse_coord_tuple removes whitespace only when the tuple has some:
    every whitespace character but " " is unprintable."""
    import re
    from kml2geojson_spark.convert_core import parse_coord_tuple

    assert all(c == " " or not c.isprintable()
               for c in map(chr, range(sys.maxunicode + 1)) if c.isspace())
    ws = re.compile(r"\s+")
    for s in ["1,2", " 1 , 2 ", "1,\u20032", "1\u00a0.5,2", "1,2,\n3", "1_0,2",
              "1,\x1f2", "-112.2,36.0,2357"]:
        assert parse_coord_tuple(s) == [float(x) for x in ws.sub("", s).split(",")]


def test_point_with_empty_coordinates_raises():
    kml = (KML_NS + "<Placemark><Point><coordinates/></Point>"
           "</Placemark></kml>")
    with pytest.raises(ValueError, match="could not convert string to float"):
        build_feature_collection_dict(parse_kml(kml))
    with pytest.raises(ValueError, match="could not convert string to float"):
        list(iter_point_coords(parse_kml(kml)))


def test_lenient_lane_recovery():
    # a mismatched close pops to the nearest matching open; a stray
    # close is ignored and does not end the open element's text run;
    # elements still open at the end of input close there
    kml = ("<kml><Placemark><name>ab</x>cd</name><Point><coordinates>1,2"
           "</coordinates></Placemark><Placemark><name>n2</name>"
           "<Point><coordinates>5,6</coordinates></Point>")
    root = parse_kml(kml)
    assert root.find("name").text() == "abcd"
    fc = build_feature_collection_dict(root)
    assert [(f["properties"], f["geometry"]["coordinates"])
            for f in fc["features"]] == [
        ({"name": "abcd"}, [1.0, 2.0]), ({"name": "n2"}, [5.0, 6.0])]


# -- recording ----------------------------------------------------------------

def record() -> None:
    LOCK_PATH.parent.mkdir(parents=True, exist_ok=True)
    lock = {cid: digest(kml) for cid, kml in _CASES.items()}
    LOCK_PATH.write_text(json.dumps(lock, indent=0, sort_keys=True) + "\n")
    print(f"recorded {len(lock)} cases to {LOCK_PATH}")


if __name__ == "__main__":
    if sys.argv[1:] == ["--record"]:
        record()
    else:
        sys.exit("usage: python -m tests.test_convert_lock --record")
