"""Equality of the optimized hot paths vs the full-fidelity paths."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

import kml2geojson_spark as k2gs
from kml2geojson_spark.engine import extract_points, extract_points_from_parquet
from kml2geojson_spark.spatial import tile_assignments, tile_assignments_from_docs


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_extract_points_equals_feature_path(spark):
    docs = k2gs.synthesize_documents_kml(spark, 60, seed=13, max_placemarks=15)
    slim = extract_points(docs).toPandas()
    full = k2gs.extract_features(docs)
    full_pts = (full.where(F.col("geom_type") == "Point")
                .where(F.size(F.col("parts")) > 0)
                .withColumn("_pos", F.col("parts")[0][0])
                .where(F.size(F.col("_pos")) >= 2)
                .select("doc_id", "layer_idx", "feature_idx", "geom_idx",
                        F.col("_pos")[0].alias("x"),
                        F.col("_pos")[1].alias("y"))).toPandas()
    assert _sorted(slim).equals(_sorted(full_pts))


def test_tile_assignments_paths_equal(spark):
    docs = k2gs.synthesize_documents_kml(spark, 60, seed=17, max_placemarks=15)
    a = tile_assignments(k2gs.extract_features(docs), 7).toPandas()
    b = tile_assignments_from_docs(docs, 7).toPandas()
    assert _sorted(a).equals(_sorted(b))


def test_parquet_file_scan_equals_row_scan(spark, tmp_path):
    docs = k2gs.synthesize_documents_kml(spark, 80, seed=19, max_placemarks=10)
    path = str(tmp_path / "corpus")
    docs.write.parquet(path)
    via_rows = extract_points(spark.read.parquet(path)).toPandas()
    via_files = extract_points_from_parquet(spark, path).toPandas()
    assert _sorted(via_rows).equals(_sorted(via_files))


def test_file_scan_missing_dir_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        extract_points_from_parquet(spark, str(tmp_path / "nope"))


def test_tile_counts_fused_kernel_parity(spark, tmp_path):
    """The fused parse+encode+partial-agg kernel must produce exactly
    the same tile table as the unfused extract→encode→agg path."""
    import kml2geojson_spark as k2gs
    from kml2geojson_spark.engine import (extract_points_from_parquet,
                                          tile_counts_from_parquet)
    from kml2geojson_spark.spatial.ops import _tile_agg

    path = str(tmp_path / "corpus")
    k2gs.synthesize_documents_kml(spark, 60, seed=13,
                                  max_placemarks=12).write.parquet(path)
    fused = {(r["cell_id"], r["n_features"], r["n_docs"])
             for r in tile_counts_from_parquet(spark, path, 7).collect()}
    unfused = {(r["cell_id"], r["n_features"], r["n_docs"])
               for r in _tile_agg(
                   extract_points_from_parquet(spark, path), 7).collect()}
    assert fused == unfused
    assert len(fused) > 0


def test_convert_documents_from_parquet_parity(spark, tmp_path):
    """The file-granular conversion scan must equal the DataFrame path
    row-for-row (same doc ids, styles, layer names, layer JSON)."""
    import kml2geojson_spark as k2gs

    docs = k2gs.synthesize_documents_kml(spark, 60, seed=11,
                                         max_placemarks=6)
    path = str(tmp_path / "docs.parquet")
    docs.write.parquet(path)

    via_df = k2gs.convert_documents(
        spark.read.parquet(path), style_type="svg").collect()
    via_files = k2gs.convert_documents_from_parquet(
        spark, path, style_type="svg").collect()

    def norm(rows):
        return sorted((r["doc_id"], r["style_json"],
                       tuple(r["layer_names"]), tuple(r["layers"]))
                      for r in rows)

    assert norm(via_df) == norm(via_files)


# ---------------------------------------------------------------------------
# streaming point extractor (off the tile path; perfbench's per-layer
# rates call it)
# ---------------------------------------------------------------------------

def _tree_points(kml):
    from kml2geojson_spark.convert_core import iter_point_coords
    from kml2geojson_spark.kmlparse import parse_kml
    return [(p[0], p[1]) for _, _, p in iter_point_coords(parse_kml(kml))]


def test_stream_point_xy_differential_corpus():
    """Every synthetic-corpus document must take the fast lane and
    match the tree path exactly (the kernel parity test then covers
    the fused path end-to-end)."""
    from kml2geojson_spark.datagen import synthesize_kml
    from kml2geojson_spark.kmlparse_stream import stream_point_xy
    n_fast = 0
    for i in range(500):
        kml = synthesize_kml(i, max_placemarks=12)
        fast = stream_point_xy(kml)
        if fast is not None:
            n_fast += 1
            assert fast == _tree_points(kml), f"doc {i}"
    assert n_fast == 500  # the corpus has no bail-out shapes


def test_stream_point_xy_differential_fuzz():
    """The grammar fuzzer's nasty corners (CDATA, comments, entities,
    nested multi-geometry, self-closing tags): stream == tree wherever
    the stream accepts, and both raise together on malformed coords."""
    from kml2geojson_spark.kmlparse_stream import stream_point_xy

    from .test_differential_fuzz import make_fuzz_kml
    n_fast = 0
    for seed in range(400):
        kml = make_fuzz_kml(seed)
        try:
            tree = _tree_points(kml)
            tree_err = None
        except ValueError:
            tree, tree_err = None, ValueError
        try:
            fast = stream_point_xy(kml)
            fast_err = None
        except ValueError:
            fast, fast_err = "raised", ValueError
        if fast is None:
            continue  # bail-out: tree path decides
        n_fast += 1
        assert fast_err == tree_err, f"seed {seed}"
        if tree_err is None:
            assert fast == tree, f"seed {seed}"
    assert n_fast > 200  # the fast lane must cover most fuzz docs


def test_stream_point_xy_adversarial_cases():
    from kml2geojson_spark.kmlparse_stream import stream_point_xy
    # descent drops the outer point, keeps the inner
    k = ("<kml><Placemark><Point><coordinates>1,1</coordinates></Point>"
         "<MultiGeometry><Point><coordinates>2,2</coordinates></Point>"
         "</MultiGeometry></Placemark></kml>")
    assert stream_point_xy(k) == _tree_points(k) == [(2.0, 2.0)]
    # nested containers: innermost first-preorder chain wins
    k = ("<kml><Placemark><MultiGeometry><Point><coordinates>1,1"
         "</coordinates></Point><MultiGeometry><Point><coordinates>3,3"
         "</coordinates></Point></MultiGeometry></MultiGeometry>"
         "</Placemark></kml>")
    assert stream_point_xy(k) == _tree_points(k) == [(3.0, 3.0)]
    # point after the chosen container closed: dropped
    k = ("<kml><Placemark><MultiGeometry><Point><coordinates>6,6"
         "</coordinates></Point></MultiGeometry><Point><coordinates>7,7"
         "</coordinates></Point></Placemark></kml>")
    assert stream_point_xy(k) == _tree_points(k) == [(6.0, 6.0)]
    # self-closed container: empty final scope
    k = ("<kml><Placemark><Point><coordinates>8,8</coordinates></Point>"
         "<MultiGeometry/></Placemark></kml>")
    assert stream_point_xy(k) == _tree_points(k) == []
    # malformed coords OUTSIDE the final scope: neither path raises
    k = ("<kml><Placemark><Point><coordinates>junk</coordinates></Point>"
         "<MultiGeometry><Point><coordinates>2,2</coordinates></Point>"
         "</MultiGeometry></Placemark></kml>")
    assert stream_point_xy(k) == _tree_points(k) == [(2.0, 2.0)]
    # mixed container kinds in one placemark: bail to the tree path
    k = ("<kml><Placemark><MultiTrack/><MultiGeometry><Point>"
         "<coordinates>1,1</coordinates></Point></MultiGeometry>"
         "</Placemark></kml>")
    assert stream_point_xy(k) is None
    # nested placemarks: bail — the tree walk's k-fold multiplicity is
    # GROUPED PER ANCESTOR placemark (not document order), so with
    # several points the order is unreachable in one streaming pass
    k = ("<kml><Placemark><Placemark><Point><coordinates>7,8"
         "</coordinates></Point></Placemark></Placemark></kml>")
    assert stream_point_xy(k) is None
    assert _tree_points(k) == [(7.0, 8.0)] * 2
    k = ("<kml><Placemark><Placemark><Point><coordinates>1,2"
         "</coordinates></Point><Point><coordinates>3,4</coordinates>"
         "</Point></Placemark></Placemark></kml>")
    assert stream_point_xy(k) is None
    assert _tree_points(k) == [(1.0, 2.0), (3.0, 4.0)] * 2
    # Point with NO coordinates: the tree path raises — so must we
    k = ("<kml><Placemark><Point><name>x</name></Point></Placemark>"
         "</kml>")
    import pytest as _pytest
    with _pytest.raises(ValueError):
        _tree_points(k)
    with _pytest.raises(ValueError):
        stream_point_xy(k)
    with _pytest.raises(ValueError):
        stream_point_xy("<kml><Placemark><Point/></Placemark></kml>")
    # ... but NOT when the empty Point sits in a discarded scope
    k = ("<kml><Placemark><Point/><MultiGeometry><Point><coordinates>"
         "2,2</coordinates></Point></MultiGeometry></Placemark></kml>")
    assert stream_point_xy(k) == _tree_points(k) == [(2.0, 2.0)]
    # structural elements inside a captured coordinates run: bail
    # (they are REAL subtree elements to the tree parser)
    k = ("<kml><Placemark><Point><coordinates>1,1<Point/>"
         "</coordinates></Point></Placemark></kml>")
    assert stream_point_xy(k) is None
    # unclosed element at EOF: bail
    assert stream_point_xy("<kml><Placemark><Point>") is None
    # mismatched close: bail
    assert stream_point_xy("<kml><a><b></a></b></kml>") is None


def test_simple_point_xy_differential_corpus():
    """Every synthetic-corpus document must take the SIMPLE lane (the
    expat-validated relevant-tag scan) and match the tree path exactly
    — including the ~65% of docs with MultiGeometry placemarks that
    the stream lane also accepts."""
    from kml2geojson_spark.datagen import synthesize_kml
    from kml2geojson_spark.kmlparse_fast import simple_point_xy
    n_fast = 0
    for i in range(500):
        kml = synthesize_kml(i, max_placemarks=12)
        fast = simple_point_xy(kml)
        if fast is not None:
            n_fast += 1
            assert fast == _tree_points(kml), f"doc {i}"
    assert n_fast == 500  # the corpus has no bail-out shapes


def test_simple_point_xy_differential_fuzz():
    """simple == tree wherever the simple lane accepts, and both raise
    together on malformed coordinates (same contract the stream lane
    carries; comments / self-closing tags / markup-bearing CDATA bail
    out, so coverage is lower than the stream lane's by design)."""
    from kml2geojson_spark.kmlparse_fast import simple_point_xy

    from .test_differential_fuzz import make_fuzz_kml
    n_fast = 0
    for seed in range(400):
        kml = make_fuzz_kml(seed)
        try:
            tree = _tree_points(kml)
            tree_err = None
        except ValueError:
            tree, tree_err = None, ValueError
        try:
            fast = simple_point_xy(kml)
            fast_err = None
        except ValueError:
            fast, fast_err = "raised", ValueError
        if fast is None:
            continue  # bail-out: stream lane / tree path decide
        n_fast += 1
        assert fast_err == tree_err, f"seed {seed}"
        if tree_err is None:
            assert fast == tree, f"seed {seed}"
    assert n_fast > 50  # some fuzz docs must exercise the lane


def test_simple_point_xy_adversarial_cases():
    from kml2geojson_spark.kmlparse_fast import simple_point_xy
    # descent drops the outer point, keeps the inner
    k = ("<kml><Placemark><Point><coordinates>1,1</coordinates></Point>"
         "<MultiGeometry><Point><coordinates>2,2</coordinates></Point>"
         "</MultiGeometry></Placemark></kml>")
    assert simple_point_xy(k) == _tree_points(k) == [(2.0, 2.0)]
    # nested containers: innermost first-preorder chain wins
    k = ("<kml><Placemark><MultiGeometry><Point><coordinates>1,1"
         "</coordinates></Point><MultiGeometry><Point><coordinates>3,3"
         "</coordinates></Point></MultiGeometry></MultiGeometry>"
         "</Placemark></kml>")
    assert simple_point_xy(k) == _tree_points(k) == [(3.0, 3.0)]
    # point after the chosen container closed: dropped
    k = ("<kml><Placemark><MultiGeometry><Point><coordinates>6,6"
         "</coordinates></Point></MultiGeometry><Point><coordinates>7,7"
         "</coordinates></Point></Placemark></kml>")
    assert simple_point_xy(k) == _tree_points(k) == [(6.0, 6.0)]
    # malformed coords OUTSIDE the final scope: neither path raises
    k = ("<kml><Placemark><Point><coordinates>junk</coordinates></Point>"
         "<MultiGeometry><Point><coordinates>2,2</coordinates></Point>"
         "</MultiGeometry></Placemark></kml>")
    assert simple_point_xy(k) == _tree_points(k) == [(2.0, 2.0)]
    # malformed coords INSIDE the final scope: both raise
    k = ("<kml><Placemark><MultiGeometry><Point><coordinates>junk"
         "</coordinates></Point></MultiGeometry></Placemark></kml>")
    import pytest as _pytest
    with _pytest.raises(ValueError):
        _tree_points(k)
    with _pytest.raises(ValueError):
        simple_point_xy(k)
    # nested placemarks: bail (tree-only emission order; see the
    # stream-lane adversarial test)
    k = ("<kml><Placemark><Placemark><Point><coordinates>7,8"
         "</coordinates></Point></Placemark></Placemark></kml>")
    assert simple_point_xy(k) is None
    assert _tree_points(k) == [(7.0, 8.0)] * 2
    # Point with NO coordinates: the tree path raises — so must we
    with _pytest.raises(ValueError):
        simple_point_xy(
            "<kml><Placemark><Point><name>x</name></Point></Placemark>"
            "</kml>")
    # ... but NOT in a discarded container scope
    k = ("<kml><Placemark><Point></Point><MultiGeometry><Point>"
         "<coordinates>2,2</coordinates></Point></MultiGeometry>"
         "</Placemark></kml>")
    assert simple_point_xy(k) == _tree_points(k) == [(2.0, 2.0)]
    # CDATA in a sibling element is fine; markup-bearing CDATA bails
    k = ("<kml><Placemark><description><![CDATA[x &stuff]]></description>"
         "<Point><coordinates>4,5</coordinates></Point></Placemark></kml>")
    assert simple_point_xy(k) == _tree_points(k) == [(4.0, 5.0)]
    k = ("<kml><Placemark><description><![CDATA[<Point>]]></description>"
         "<Point><coordinates>4,5</coordinates></Point></Placemark></kml>")
    assert simple_point_xy(k) is None
    # CDATA continuing a coordinates capture bails (stream lane handles)
    k = ("<kml><Placemark><Point><coordinates>1,<![CDATA[2]]>"
         "</coordinates></Point></Placemark></kml>")
    assert simple_point_xy(k) is None
    from kml2geojson_spark.kmlparse_stream import stream_point_xy
    assert stream_point_xy(k) == _tree_points(k) == [(1.0, 2.0)]
    # entity in the payload decodes identically
    k = ("<kml><Placemark><Point><coordinates>1&#44;2</coordinates>"
         "</Point></Placemark></kml>")
    assert simple_point_xy(k) == _tree_points(k)
    # attribute on the coordinates tag (with a quoted '>') still lands
    k = ('<kml><Placemark><Point><coordinates a="b>c">9,9'
         "</coordinates></Point></Placemark></kml>")
    assert simple_point_xy(k) == _tree_points(k) == [(9.0, 9.0)]
    # self-closing tags anywhere: bail to the stream lane
    k = ("<kml><Placemark><MultiGeometry/><Point><coordinates>8,8"
         "</coordinates></Point></Placemark></kml>")
    assert simple_point_xy(k) is None
    # comments anywhere: bail
    assert simple_point_xy(
        "<kml><!-- c --><Placemark><Point><coordinates>1,2"
        "</coordinates></Point></Placemark></kml>") is None
    # not well-formed (mismatched / unclosed / undefined entity): bail
    assert simple_point_xy("<kml><a><b></a></b></kml>") is None
    assert simple_point_xy("<kml><Placemark><Point>") is None
    assert simple_point_xy(
        "<kml><Placemark><name>a &stuff b</name><Point><coordinates>"
        "1,2</coordinates></Point></Placemark></kml>") is None
    # mixed container kinds: bail (priority needs lookahead)
    k = ("<kml><Placemark><MultiTrack><a>x</a></MultiTrack>"
         "<MultiGeometry><Point><coordinates>1,1</coordinates></Point>"
         "</MultiGeometry></Placemark></kml>")
    assert simple_point_xy(k) is None
    # PI at OFFSET 0 with markup-looking data: must bail (a find("<?", 2)
    # guard misses it and the _REL scan would see the fake <Placemark )
    k = ("<?a <Placemark >?>"
         "<kml><Point><coordinates>1,2</coordinates></Point></kml>")
    assert simple_point_xy(k) is None
    from kml2geojson_spark.kmlparse_stream import stream_point_xy
    assert stream_point_xy(k) == _tree_points(k) == []
    # PI named xml-stylesheet at offset 0 is a PI, not a declaration
    k = ("<?xml-stylesheet href='x'?>"
         "<kml><Placemark><Point><coordinates>1,2</coordinates></Point>"
         "</Placemark></kml>")
    assert simple_point_xy(k) is None
    assert stream_point_xy(k) == _tree_points(k) == [(1.0, 2.0)]
    # "<?xml?>" with no whitespace after the name: bail, not a decl
    assert simple_point_xy(
        "<?xml?><kml><Placemark><Point><coordinates>1,2</coordinates>"
        "</Point></Placemark></kml>") is None
    # a real leading XML declaration stays in-lane ...
    k = ('<?xml version="1.0" encoding="UTF-8"?>\n'
         "<kml><Placemark><Point><coordinates>4,5</coordinates></Point>"
         "</Placemark></kml>")
    assert simple_point_xy(k) == _tree_points(k) == [(4.0, 5.0)]
    # ... but a declaration PLUS a later PI bails
    assert simple_point_xy(
        '<?xml version="1.0"?><kml><?pi data?><Placemark><Point>'
        "<coordinates>4,5</coordinates></Point></Placemark></kml>") is None


def test_tile_counts_batch_lane_fallbacks():
    """The fused kernel must produce identical (cell_id, n) batches no
    matter which lane each document lands in: simple (clean docs) or
    tree (simple-lane bail-outs: a self-closing container, which the
    stream extractor would accept, and mixed container kinds, which it
    refuses)."""
    from kml2geojson_spark.datagen import synthesize_kml
    from kml2geojson_spark.engine import _tile_counts_batch
    from kml2geojson_spark.kmlparse_fast import simple_point_xy
    from kml2geojson_spark.kmlparse_stream import stream_point_xy

    docs = [(f"d{i}", synthesize_kml(i, max_placemarks=6))
            for i in range(40)]
    # a doc only the STREAM lane accepts (self-closing container)
    k_stream = ("<kml><Placemark><Point><coordinates>8,8</coordinates>"
                "</Point><MultiGeometry/></Placemark>"
                "<Placemark><Point><coordinates>3,4</coordinates>"
                "</Point></Placemark></kml>")
    assert simple_point_xy(k_stream) is None
    assert stream_point_xy(k_stream) is not None
    # a doc only the TREE path accepts (mixed container kinds)
    k_tree = ("<kml><Placemark><MultiTrack><a>x</a></MultiTrack>"
              "<MultiGeometry><Point><coordinates>1,1</coordinates>"
              "</Point></MultiGeometry></Placemark></kml>")
    assert simple_point_xy(k_tree) is None
    assert stream_point_xy(k_tree) is None
    docs += [("ds", k_stream), ("dt", k_tree)]

    got = _tile_counts_batch(iter(docs), 8)

    # oracle: tree path for every doc, same per-(cell, doc) packing
    import numpy as np
    from kml2geojson_spark.spatial.cells import cell_encode_np
    expect: dict = {}
    for docord, (_id, kml) in enumerate(docs):
        pts = _tree_points(kml)
        if not pts:
            continue
        xs = np.array([p[0] for p in pts])
        ys = np.array([p[1] for p in pts])
        for c in cell_encode_np(xs, ys, 8):
            expect[(docord, int(c))] = expect.get((docord, int(c)), 0) + 1
    got_pairs = sorted(zip(got.column("cell_id").to_pylist(),
                           got.column("n").to_pylist()))
    exp_pairs = sorted((c, n) for (_d, c), n in expect.items())
    assert got_pairs == exp_pairs


def test_point_lanes_hypothesis_consistency():
    """Property: on RANDOMLY COMPOSED documents (random nesting of
    Placemark/Point/containers/irrelevant tags, CDATA, comments,
    self-closes, entities, malformed coordinates), each accepting lane
    yields exactly the tree path's points, and raising is synchronized."""
    hypothesis = pytest.importorskip("hypothesis")
    from hypothesis import given, settings, strategies as st
    from kml2geojson_spark.kmlparse_fast import simple_point_xy
    from kml2geojson_spark.kmlparse_stream import stream_point_xy

    leaf = st.sampled_from([
        "<Point><coordinates>1,2</coordinates></Point>",
        "<Point><coordinates> 3 , 4 ,0</coordinates></Point>",
        "<Point><coordinates>junk</coordinates></Point>",
        "<Point><coordinates/></Point>",
        "<Point><coordinates>5&#44;6</coordinates></Point>",
        "<Point><coordinates>7,8<b>x</b>9,9</coordinates></Point>",
        "<LineString><coordinates>1,1 2,2</coordinates></LineString>",
        "<name>n&amp;m</name>",
        "<description><![CDATA[ d ]]></description>",
        "<!-- a comment -->",
        "<styleUrl/>",
        "plain text",
        "<?pi <Placemark > <Point > data?>",
    ])
    wrap = st.sampled_from(
        ["Placemark", "Folder", "MultiGeometry", "MultiTrack", "Point"])

    def compose(children, tag):
        return f"<{tag}>{''.join(children)}</{tag}>"

    node = st.recursive(
        leaf, lambda kids: st.builds(
            compose, st.lists(kids, min_size=1, max_size=3), wrap),
        max_leaves=12)

    @settings(max_examples=150, deadline=None)
    @given(st.lists(node, min_size=1, max_size=3))
    def check(parts):
        kml = f"<kml>{''.join(parts)}</kml>"
        try:
            tree, tree_err = _tree_points(kml), None
        except ValueError:
            tree, tree_err = None, ValueError
        for lane in (simple_point_xy, stream_point_xy):
            try:
                got, err = lane(kml), None
            except ValueError:
                got, err = "raised", ValueError
            if got is None:
                continue  # bail-out is always allowed
            assert err == tree_err, kml
            if tree_err is None:
                assert got == tree, kml

    check()
