"""Physical-plan shape assertions: the properties that matter at 100 TB
must be visible in the plan, not just hoped for (SURVEY.md §4.2)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

import kml2geojson_spark as k2gs
from kml2geojson_spark.spatial import encode_points


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_parquet_filter_pushdown_and_pruning(spark, tmp_path):
    path = str(tmp_path / "li")
    spark.range(1000).selectExpr(
        "id AS l_orderkey", "id % 7 AS l_linenumber",
        "CAST(id % 50 AS DOUBLE) AS l_quantity",
        "CAST(id AS DOUBLE) AS l_extendedprice").write.parquet(path)
    df = (spark.read.parquet(path)
          .where(F.col("l_quantity") < 10)
          .select("l_orderkey", "l_quantity"))
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,10.0)]" in plan \
        or "LessThan(l_quantity" in plan, plan
    # column pruning: the scan reads only the two needed columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_style_resolution_is_broadcast(spark):
    docs = k2gs.synthesize_documents_kml(spark, 20, seed=3, max_placemarks=5)
    feats = k2gs.extract_features(docs)
    styles = k2gs.extract_styles(docs)
    plan = _plan(k2gs.resolve_styles(feats, styles))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_encode_points_whole_stage_codegen(spark, tmp_path):
    path = str(tmp_path / "pts")
    spark.range(100).selectExpr(
        "id AS point_id", "CAST(id AS DOUBLE) / 10 AS x",
        "CAST(id AS DOUBLE) / 20 AS y").write.parquet(path)
    df = encode_points(spark.read.parquet(path), 12)
    plan = _plan(df)
    # '*' prefix on the Project node == inside a WholeStageCodegen stage
    assert plan.lstrip().startswith("*("), plan[:200]
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "PythonMapInArrow"):
        assert marker not in plan, f"{marker} found in encode plan"


def test_knn_exact_broadcasts_queries(spark):
    from kml2geojson_spark.spatial.ops import knn_exact
    import pandas as pd
    import numpy as np
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(100, dtype=np.int64),
        "x": np.linspace(-10, 10, 100), "y": np.linspace(-10, 10, 100)}))
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": np.arange(5, dtype=np.int64),
        "x": np.zeros(5), "y": np.ones(5)}))
    plan = _plan(knn_exact(pts, qs, 3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_pip_join_is_cell_equi_join(spark):
    """The candidate join must be an equi-join on cell_id (hash/broadcast),
    never a cartesian product."""
    import pandas as pd
    import numpy as np
    from kml2geojson_spark.spatial import pip_join
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(50, dtype=np.int64),
        "x": np.linspace(-10, 10, 50), "y": np.linspace(-10, 10, 50)}))
    polys = spark.createDataFrame(
        [(0, [[[-5.0, -5.0], [5.0, -5.0], [5.0, 5.0], [-5.0, 5.0], [-5.0, -5.0]]])],
        "poly_id long, rings array<array<array<double>>>")
    plan = _plan(pip_join(pts, polys, 6))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan \
        or "SortMergeJoin" in plan


def test_exact_dedup_has_partial_aggregation(spark):
    from kml2geojson_spark.textops import exact_duplicates
    df = spark.createDataFrame([(1, "a"), (2, "a")], "doc_id long, text string")
    plan = _plan(exact_duplicates(df))
    # partial (map-side) + final hash aggregate around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_simhash_signatures_no_python(spark):
    """The SQL SimHash signature path is pure Column expressions: no
    Python eval node anywhere; aggregation is partial+final."""
    from kml2geojson_spark.textops import simhash_sql_signatures
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "c d e")], "doc_id long, text string")
    plan = _plan(simhash_sql_signatures(docs))
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "PythonMapInArrow"):
        assert marker not in plan, f"{marker} found in simhash plan"
    assert "partial_sum" in plan or "HashAggregate" in plan, plan[:400]


def test_asof_join_single_cogroup(spark):
    """As-of join compiles to ONE FlatMapCoGroupsInPandas over two
    bucket exchanges — no cartesian/BNL node, no window."""
    import pandas as pd
    from kml2geojson_spark.asof import asof_join
    l = spark.createDataFrame(
        pd.DataFrame({"lid": [1], "k": [1],
                      "ts": pd.to_datetime(["2024-01-01"])}))
    r = spark.createDataFrame(
        pd.DataFrame({"k": [1], "ts": pd.to_datetime(["2024-01-01"]),
                      "rid": [2]}))
    plan = _plan(asof_join(l, r, key="k", left_ts="ts", right_ts="ts"))
    assert plan.count("FlatMapCoGroupsInPandas") == 1, plan
    for marker in ("BroadcastNestedLoopJoin", "CartesianProduct", "Window"):
        assert marker not in plan, f"{marker} found in asof plan"


def test_ivf_probe_join_broadcasts_codebook(spark):
    """IVF assignment/probe joins broadcast the (tiny) centroid table;
    the candidate join on the list id is an equi-join."""
    from kml2geojson_spark.simsearch import ivf_topk
    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(30)],
        "vec_id long, embedding array<float>")
    qs = (emb.where(F.col("vec_id") < 2)
          .selectExpr("vec_id AS query_id", "embedding"))
    plan = _plan(ivf_topk(emb, qs, 3, n_centroids=3, nprobe=2, iters=1))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pip_cogroup_plan_two_shuffles_no_python_cover(spark):
    """pip_join runs without Python: the bbox cover, the edge arrays and
    the ray cast are Column expressions around a cell equi-join — no
    Python eval or map node of any kind, no CartesianProduct.
    ("MapInArrow" also matches the pre-4.0 node name
    "PythonMapInArrow".)"""
    import numpy as np
    import pandas as pd
    from kml2geojson_spark.spatial import pip_join
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(50, dtype=np.int64),
        "x": np.linspace(-10, 10, 50), "y": np.linspace(-10, 10, 50)}))
    polys = spark.createDataFrame(
        [(0, [[[-5.0, -5.0], [5.0, -5.0], [5.0, 5.0], [-5.0, 5.0],
               [-5.0, -5.0]]])],
        "poly_id long, rings array<array<array<double>>>")
    plan = _plan(pip_join(pts, polys, 6))
    for marker in ("FlatMapCoGroupsInPandas", "MapInPandas", "MapInArrow",
                   "ArrowEvalPython", "BatchEvalPython", "CartesianProduct"):
        assert marker not in plan, f"{marker} in pip plan"


def test_global_quantiles_no_unpartitioned_sample_window(spark):
    """Ungrouped quantiles: every window over sample-sized data is
    keyed by the range bucket; only the tiny per-bucket offset frame
    may use a global window."""
    from kml2geojson_spark.sketch import sampled_quantiles
    df = spark.range(10000).selectExpr("id AS v")
    plan = _plan(sampled_quantiles(df, "v"))
    for line in plan.splitlines():
        if "windowspecdefinition(" in line and "_pid" not in line:
            # global window allowed only over per-bucket totals
            assert "_tot" in line or "_n" in line, line


def test_polygon_cover_is_narrow_map(spark):
    """polygon_cover is a narrow per-partition kernel: no shuffle
    (Exchange) anywhere in its plan, and exactly one Arrow map
    ("MapInArrow" also matches the pre-4.0 name "PythonMapInArrow"),
    with no pandas hop."""
    from kml2geojson_spark.spatial import polygon_cover
    polys = spark.createDataFrame(
        [(0, [[[-5.0, -5.0], [5.0, -5.0], [5.0, 5.0], [-5.0, 5.0],
               [-5.0, -5.0]]])],
        "poly_id long, rings array<array<array<double>>>")
    plan = _plan(polygon_cover(polys, 6))
    assert "Exchange" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan, plan


def test_hll_estimate_partial_aggregation(spark):
    """The register aggregation must show map-side partial aggregation
    (two HashAggregate levels around the exchange)."""
    from kml2geojson_spark.sketch import hll_estimate, hll_registers
    df = spark.range(1000).selectExpr("id % 5 AS g", "id AS v")
    plan = _plan(hll_estimate(hll_registers(df, "v", group_cols=["g"]),
                              group_cols=["g"]))
    assert plan.count("HashAggregate") >= 2
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed by the same key/count must join with ZERO
    Exchange — the write-time shuffle replaces the read-time one —
    and results must equal the plain join."""
    from kml2geojson_spark.bucketed import (colocated_join, read_bucketed,
                                            write_bucketed)
    a = spark.range(2000).selectExpr("id % 97 AS k", "id AS va")
    b = spark.range(500).selectExpr("id % 97 AS k", "id * 10 AS vb")
    write_bucketed(a, "bk_a", "k", 8)
    write_bucketed(b, "bk_b", "k", 8)
    # disable auto-broadcast so the planner actually uses the bucketed
    # layout (a broadcastable build side short-circuits it — at fact
    # x fact scale neither side broadcasts, which is the case bucketing
    # exists for)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, "bk_a", "bk_b", "k")
        plan = _plan(joined.select("k", "va", "vb"))
        assert "Exchange" not in plan, plan
        got = sorted(map(tuple, joined.select("k", "va", "vb").collect()))
        expect = sorted(map(tuple,
                            a.join(b, "k").select("k", "va", "vb").collect()))
        assert got == expect
        # aggregation on the bucket key is shuffle-free too
        agg_plan = _plan(read_bucketed(spark, "bk_a")
                         .groupBy("k").count())
        assert "Exchange" not in agg_plan, agg_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_interval_join_no_nested_loop(spark):
    """The interval join must plan as an equi-join on the bucket, never
    a BroadcastNestedLoopJoin/CartesianProduct, and must equal the
    naive BETWEEN join row-for-row (incl. inverted intervals)."""
    from kml2geojson_spark.rangejoin import interval_join
    facts = spark.range(3000).selectExpr("id AS fid", "id % 997 AS p")
    ivs = spark.range(60).selectExpr(
        "id AS iv_id", "(id * 37) % 900 AS s",
        "CASE WHEN id % 7 = 0 THEN (id * 37) % 900 - 5 "
        "     ELSE (id * 37) % 900 + id END AS e")  # some inverted
    out = interval_join(facts, ivs, point_col="p", start_col="s",
                        end_col="e", bucket_width=64)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    got = sorted(map(tuple, out.select("fid", "iv_id").collect()))
    naive = facts.join(ivs, (F.col("s") <= F.col("p"))
                       & (F.col("p") <= F.col("e")))
    expect = sorted(map(tuple, naive.select("fid", "iv_id").collect()))
    assert got == expect and got


def test_interval_join_rejects_collisions(spark):
    from kml2geojson_spark.rangejoin import interval_join
    import pytest as _pytest
    facts = spark.range(5).selectExpr("id AS p", "id AS s")
    ivs = spark.range(5).selectExpr("id AS s", "id + 1 AS e")
    with _pytest.raises(ValueError, match="collision"):
        interval_join(facts, ivs, point_col="p", start_col="s",
                      end_col="e", bucket_width=4)


def test_tfidf_broadcasts_df_side(spark):
    """The (token → df) dimension must broadcast back onto tf — a
    sort-merge there would shuffle the whole (doc, token) table twice."""
    from kml2geojson_spark.textops import tfidf_top_terms
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma{i % 5}") for i in range(50)],
        "doc_id long, text string")
    plan = _plan(tfidf_top_terms(docs, 3))
    assert "BroadcastHashJoin" in plan, plan


def test_bloom_probe_broadcasts_registers_and_stays_jvm(spark):
    """Probing must broadcast the (tiny) register table — the probe
    side is never shuffled — and the whole path is pure Column work
    (no Python eval nodes anywhere)."""
    from kml2geojson_spark.sketch import bloom_might_contain, bloom_registers
    keys = spark.range(500).selectExpr("CAST(id AS STRING) AS v")
    regs = bloom_registers(keys, "v")
    probe = bloom_might_contain(regs, keys, "v")
    plan = _plan(probe)
    assert "BroadcastHashJoin" in plan, plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, plan


def test_uncompact_cells_stays_jvm(spark):
    """Expansion is sequence+explode bit math — zero Python nodes."""
    from kml2geojson_spark.spatial.ops import uncompact_cells
    from kml2geojson_spark.spatial.cells import cell_encode_grid_np
    cells = spark.createDataFrame(
        [(int(c),) for c in cell_encode_grid_np([0, 1], [0, 1], 3)],
        "cell_id long")
    plan = _plan(uncompact_cells(cells, 6))
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, plan


def test_line_cover_pure_column_no_python(spark, tmp_path):
    """The supercover kernel must stay JVM-side: two Generate
    (sequence explode) stages, zero Python eval nodes — at 100 TB this
    path runs entirely inside codegen + one distinct shuffle."""
    from kml2geojson_spark.spatial.ops import line_cover
    path = str(tmp_path / "lines")
    spark.range(50).selectExpr(
        "id AS line_id",
        "array(array(CAST(id AS DOUBLE), 0.0D),"
        "      array(CAST(id + 30 AS DOUBLE), 20.0D)) AS coords"
    ).write.parquet(path)
    df = line_cover(spark.read.parquet(path), 8)
    plan = _plan(df)
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "PythonMapInArrow"):
        assert marker not in plan, f"{marker} in line_cover plan"
    assert plan.count("Generate explode") == 3, plan  # segs + cols + rows
    assert "HashAggregate" in plan  # the distinct is a hash agg


def test_grid_cluster_no_python_no_nested_loop(spark):
    from kml2geojson_spark.spatial.ops import grid_cluster
    import numpy as np
    rng = np.random.RandomState(2)
    pts = [(float(x), float(y)) for x, y in
           zip(rng.uniform(-170, 170, 200), rng.uniform(-80, 80, 200))]
    df = spark.createDataFrame(pts, "x double, y double")
    out = grid_cluster(df, 5)
    plan = _plan(out)
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "PythonMapInArrow", "BroadcastNestedLoopJoin",
                   "CartesianProduct"):
        assert marker not in plan, f"{marker} in grid_cluster plan"


def test_cms_probe_broadcasts_registers(spark):
    """The sketch side (≤ depth×width rows) must broadcast — probing a
    100-TB corpus is then a narrow map + local join, no probe shuffle
    before the per-value min."""
    from kml2geojson_spark.sketch import cms_estimate, cms_registers
    vals = spark.range(500).selectExpr("CAST(id % 37 AS STRING) AS v")
    regs = cms_registers(vals, "v", depth=4, width=256)
    probes = spark.range(10).selectExpr("CAST(id AS STRING) AS v")
    est = cms_estimate(regs, probes, "v", depth=4, width=256)
    plan = _plan(est)
    assert "BroadcastHashJoin" in plan, plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, f"{marker} in cms plan"


def test_spatial_extent_single_shuffle_map_side_combine(spark, tmp_path):
    from kml2geojson_spark.spatial.ops import spatial_extent
    path = str(tmp_path / "pts")
    spark.range(1000).selectExpr(
        "id % 7 AS g", "CAST(id % 360 AS DOUBLE) - 180.0 AS x",
        "CAST(id % 170 AS DOUBLE) - 85.0 AS y").write.parquet(path)
    df = spatial_extent(spark.read.parquet(path), "g")
    plan = _plan(df)
    # partial + final HashAggregate around exactly ONE exchange
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") == 2, plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, f"{marker} in extent plan"


def test_trajectory_stats_partitioned_window_no_python(spark):
    """The lag window must be keyed by the trajectory id (no global
    sort funnel) and the whole operator stays JVM-side."""
    from kml2geojson_spark.spatial.ops import trajectory_stats
    df = spark.range(1000).selectExpr(
        "id % 50 AS tid", "id AS seq",
        "CAST(id % 37 AS DOUBLE) AS x", "CAST(id % 53 AS DOUBLE) AS y")
    out = trajectory_stats(df, "tid", "seq")
    plan = _plan(out)
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            assert "tid" in line, line
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, marker
    # map-side partial aggregation on the follow-up rollup
    assert plan.count("HashAggregate") >= 2


def test_rect_intersection_no_nested_loop(spark):
    from kml2geojson_spark.spatial.ops import rect_intersection_join
    df = spark.range(100).selectExpr(
        "id AS rect_id",
        "CAST(id % 17 AS DOUBLE) - 8 AS west",
        "CAST(id % 13 AS DOUBLE) - 6 AS south",
        "CAST(id % 17 AS DOUBLE) - 6 AS east",
        "CAST(id % 13 AS DOUBLE) - 4 AS north")
    plan = _plan(rect_intersection_join(df, 5))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pack_sequences_no_unpartitioned_data_window(spark):
    """The running sum must be two-phase: any window over document
    rows is keyed by the range bucket; only the tiny per-bucket totals
    frame may use a global window."""
    from kml2geojson_spark.textops import pack_sequences
    df = spark.range(5000).selectExpr(
        "id AS doc_id", "'w w w w w' AS text")
    plan = _plan(pack_sequences(df, 64))
    for line in plan.splitlines():
        if "windowspecdefinition(" in line and "_pid" not in line:
            assert "_tot" in line, line
    # the per-bucket offsets come back via a broadcast, not a shuffle
    assert "BroadcastHashJoin" in plan


def test_containment_pairs_no_cartesian(spark):
    from kml2geojson_spark.textops import containment_pairs
    df = spark.range(50).selectExpr(
        "id AS doc_id", "repeat('abcdefg ', 5) AS text")
    plan = _plan(containment_pairs(df, n=8, threshold=0.5))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_geohash_whole_stage_codegen(spark):
    from kml2geojson_spark.spatial.cells import geohash_encode_col
    df = spark.range(100).selectExpr(
        "CAST(id AS DOUBLE) / 3 AS x", "CAST(id AS DOUBLE) / 7 AS y")
    plan = _plan(df.select(geohash_encode_col(F.col("x"), F.col("y"), 8)
                           .alias("gh")))
    assert plan.lstrip().startswith("*("), plan[:200]
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_triangle_count_all_equi_joins_no_python(spark):
    from kml2geojson_spark.graph import triangle_count
    edges = spark.range(300).selectExpr("id % 40 AS src",
                                        "(id * 7) % 40 AS dst")
    plan = _plan(triangle_count(edges))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_skyline_only_bucket_frame_window_is_unpartitioned(spark):
    """The point-level window must be keyed by the x bucket; only the
    n_buckets-row aggregate frame (its line mentions bk_min) may use a
    single-partition window, and its result returns via broadcast."""
    from kml2geojson_spark.relational import skyline2d
    df = spark.range(5000).selectExpr("id % 997 AS x", "(id * 7) % 991 AS y")
    plan = _plan(skyline2d(df))
    for line in plan.splitlines():
        if "windowspecdefinition(" in line and "bk_min" not in line:
            assert "windowspecdefinition(bk#" in line, line
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("SinglePartition") == 1, plan


def test_group_outliers_broadcasts_stats_stays_jvm(spark):
    from kml2geojson_spark.eventops import group_outlier_stats
    df = spark.range(2000).selectExpr(
        "id AS event_id", "concat('g', id % 5) AS event_type",
        "CAST(id % 100 AS DOUBLE) AS value")
    plan = _plan(group_outlier_stats(df))
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_" in plan  # map-side combine on the stats aggregate
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_od_matrix_window_is_user_partitioned(spark):
    from kml2geojson_spark.eventops import od_matrix
    df = spark.range(1000).selectExpr(
        "id AS event_id", "id % 50 AS user_id",
        "CAST(id % 360 AS DOUBLE) AS x", "CAST(id % 170 AS DOUBLE) AS y")
    plan = _plan(od_matrix(df))
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            assert "windowspecdefinition(user_id#" in line, line
    assert "partial_" in plan


def test_funnel_no_python_no_cartesian(spark):
    from kml2geojson_spark.eventops import funnel_counts
    df = spark.range(2000).selectExpr(
        "id AS event_id", "id % 100 AS user_id",
        "concat('s', id % 4) AS event_type",
        "timestamp_ntz '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts",
        "0.0 AS value")
    plan = _plan(funnel_counts(df, ["s0", "s1", "s2"]))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_hilbert_encode_linear_codegen_no_python(spark):
    """The unrolled state machine must stay LINEAR in the plan (one
    Project per level, not an exponential substitution) and inside a
    single whole-stage-codegen span with zero Python."""
    from kml2geojson_spark.spatial.hilbert import hilbert_encode
    df = spark.range(100).selectExpr("CAST(id AS DOUBLE) / 3 AS lon",
                                     "CAST(id AS DOUBLE) / 7 AS lat")
    plan = _plan(hilbert_encode(df, "lon", "lat", 16))
    assert plan.lstrip().startswith("*("), plan[:200]
    assert len(plan) < 60_000, f"plan blew up: {len(plan)} chars"
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_span_mix_stats_narrow_map_no_python(spark):
    """The interleaving stats must be a narrow map: array folds in
    codegen — no explode-shuffle, no Python."""
    import kml2geojson_spark as k2gs
    from kml2geojson_spark.multimodal import span_mix_stats
    docs = k2gs.synthesize_documents_kml(spark, 10, seed=1,
                                         max_placemarks=3)
    plan = _plan(span_mix_stats(docs))
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan  # no explode
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def _docs_for_plan(spark):
    return spark.range(500).selectExpr(
        "id AS doc_id",
        "concat('alpha beta gamma doc ', id % 7, ' tail words') AS text")


def test_surprisal_plan_token_join_no_python(spark):
    """Scalar totals may ride a 1-row broadcast nested loop; the
    token join must NOT be a cartesian/BNL, and nothing drops to
    Python."""
    from kml2geojson_spark.textops import unigram_surprisal
    plan = _plan(unigram_surprisal(_docs_for_plan(spark)))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row total
    assert "partial_" in plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_pmi_plan_linear_bigrams_no_python(spark):
    from kml2geojson_spark.textops import pmi_bigrams
    plan = _plan(pmi_bigrams(_docs_for_plan(spark), min_count=2))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # n_uni and n_bi
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_bm25_plan_no_python(spark):
    from kml2geojson_spark.textops import bm25_scores
    plan = _plan(bm25_scores(_docs_for_plan(spark), ["alpha", "beta"]))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the stats row
    assert "partial_" in plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_mutual_knn_join_is_hash_join(spark):
    from kml2geojson_spark.simsearch import mutual_knn_edges
    df = spark.range(50).selectExpr(
        "id AS vec_id",
        "array(CAST(id AS DOUBLE), CAST(id % 7 AS DOUBLE)) AS embedding")
    plan = _plan(mutual_knn_edges(df, 3))
    # the mutuality join itself must be an equi-join on the pair key
    assert "Join" in plan
    last = plan.split("BroadcastHashJoin")
    assert ("BroadcastHashJoin [vec_a" in plan
            or "SortMergeJoin [vec_a" in plan), plan[:500]


def test_knn_join_and_dwithin_fully_jvm(spark):
    """The whole fixed-radius k-ring kNN and DWithin pipelines must
    plan with ZERO Python eval nodes (round 4: the ring expansion is a
    literal-offset explode, not a pandas_udf) and join candidates via a
    hash equi-join on the cell, never a nested loop."""
    import numpy as np
    import pandas as pd
    from kml2geojson_spark.spatial import knn_join
    from kml2geojson_spark.spatial.ops import within_distance_join
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(200, dtype=np.int64),
        "x": np.linspace(-170, 170, 200), "y": np.linspace(-80, 80, 200)}))
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": np.arange(5, dtype=np.int64),
        "x": np.zeros(5), "y": np.ones(5)}))
    for df in (knn_join(pts, qs, 3, res=4, radius=2),
               within_distance_join(pts, qs, 5.0, 4)):
        plan = _plan(df)
        for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                       "PythonMapInArrow", "FlatMapCoGroupsInPandas"):
            assert marker not in plan, f"{marker} in plan:\n{plan[:400]}"
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_touch_attribution_single_exchange(spark):
    """Attribution = one user-key Exchange feeding the window; no
    conversion-by-touch join, no Python."""
    import datetime as dt
    from kml2geojson_spark.eventops import touch_attribution
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1, "view"),
         (2, dt.datetime(2024, 1, 2), 1, "purchase")],
        "event_id long, ts timestamp, user_id long, event_type string")
    plan = _plan(touch_attribution(df, conversion_type="purchase",
                                   touch_types=["view", "click"]))
    assert plan.count("Exchange") == 1, plan
    for marker in ("Join", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, f"{marker} found in attribution plan"


def test_chunk_documents_no_exchange_no_python(spark):
    """Chunking is a narrow map: zero shuffles, zero Python eval."""
    from kml2geojson_spark.textops import chunk_documents
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = _plan(chunk_documents(df, chunk_tokens=2, overlap=1))
    assert "Exchange" not in plan, plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, f"{marker} found in chunk plan"


def test_quantize_embeddings_no_exchange_no_python(spark):
    from kml2geojson_spark.simsearch import quantize_embeddings
    df = spark.createDataFrame([(1, [0.5, 1.0])],
                               "vec_id long, embedding array<float>")
    plan = _plan(quantize_embeddings(df))
    assert "Exchange" not in plan, plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, f"{marker} found in quantize plan"


def test_buffer_cells_single_distinct_exchange(spark):
    """Grid dilation: the offset explode is narrow; the only shuffle
    is the (id, cell) distinct hash aggregate (partial+final)."""
    from kml2geojson_spark.spatial.ops import buffer_cells
    from kml2geojson_spark.spatial.cells import cell_encode_np
    c = int(cell_encode_np([10.0], [20.0], 6)[0])
    df = spark.createDataFrame([(1, c)], "line_id long, cell_id long")
    plan = _plan(buffer_cells(df, 6, 1))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan
    for marker in ("Join", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"{marker} found in buffer plan"


def test_convex_hull_partial_then_grouped(spark):
    """Two-level hull: one narrow MapInPandas (partial hulls) before
    the single group Exchange, one FlatMapGroupsInPandas after — the
    shuffle moves hull-sized rows only."""
    from kml2geojson_spark.spatial.ops import convex_hull
    df = spark.createDataFrame([(1, 0, 0), (1, 2, 2)],
                               "group_id long, x long, y long")
    plan = _plan(convex_hull(df))
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_group_ols_single_hash_agg(spark):
    from kml2geojson_spark.relational import group_ols
    df = spark.createDataFrame([(1, 2, 3)], "g int, x long, y long")
    plan = _plan(group_ols(df, x_col="x", y_col="y", group_cols=["g"]))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan  # map-side combine
    for marker in ("Join", "Window", "ArrowEvalPython"):
        assert marker not in plan, f"{marker} found in ols plan"


def test_welch_and_ztest_single_hash_aggregate(spark):
    """Both two-sample tests: ONE map-side-combinable hash aggregate —
    no window, no join, no Python."""
    from kml2geojson_spark.relational import (two_proportion_ztest,
                                              welch_ttest)
    df = spark.createDataFrame([("g", "A", 1), ("g", "B", 0)],
                               "grp string, side string, v long")
    for out in (welch_ttest(df, value_col="v", group_col="side",
                            group_a="A", group_b="B",
                            group_cols=["grp"]),
                two_proportion_ztest(df, success_col="v",
                                     group_col="side", group_a="A",
                                     group_b="B", group_cols=["grp"])):
        plan = _plan(out)
        assert plan.count("Exchange") == 1, plan
        assert plan.count("HashAggregate") >= 2, plan  # partial+final
        for marker in ("Window", "Join", "ArrowEvalPython",
                       "BatchEvalPython"):
            assert marker not in plan, f"{marker} in two-sample plan"


def test_mannwhitney_one_partitioning(spark):
    """MWU: the value-count agg, the prefix/full-frame windows, and
    the final agg all share the group partitioning — exactly one
    Exchange, no join."""
    from kml2geojson_spark.relational import mannwhitney_u
    df = spark.createDataFrame([("g", "A", 1), ("g", "B", 2)],
                               "grp string, side string, v long")
    plan = _plan(mannwhitney_u(df, value_col="v", side_col="side",
                               side_a="A", side_b="B",
                               group_cols=["grp"]))
    # (group, value) agg exchange + ONE group exchange shared by the
    # prefix window, the full-frame window, and the final aggregate
    assert plan.count("Exchange") == 2, plan
    assert plan.count("Window") == 2, plan
    assert "Join" not in plan, plan


def test_anova_two_aggregates_one_exchange_chain(spark):
    """ANOVA: (group, level) agg then group agg — no window, no join;
    AQE may coalesce but never add a join."""
    from kml2geojson_spark.relational import oneway_anova
    df = spark.createDataFrame([("g", "a", 1), ("g", "b", 2)],
                               "grp string, lvl string, v long")
    plan = _plan(oneway_anova(df, value_col="v", factor_col="lvl",
                              group_cols=["grp"]))
    for marker in ("Window", "Join", "ArrowEvalPython",
                   "BatchEvalPython"):
        assert marker not in plan, f"{marker} in anova plan"
    assert plan.count("HashAggregate") >= 2


def test_benford_single_scan_single_exchange(spark):
    """Benford: one conditional hash agg (9 counters) + scalar
    explode — ONE scan of the base relation, one Exchange, no join."""
    from kml2geojson_spark.quality import benford_audit
    df = spark.createDataFrame([("g", 123)], "grp string, v long")
    plan = _plan(benford_audit(df, value_col="v", group_cols=["grp"]))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("Scan ExistingRDD") <= 1


def test_lag_autocorr_one_window_partitioning(spark):
    """All lag leads ride ONE per-group window sort; then one
    (group, lag) hash agg — two Exchanges total, no join."""
    from kml2geojson_spark.relational import lag_autocorr
    df = spark.createDataFrame([("g", 1, 5), ("g", 2, 6)],
                               "grp string, o long, v long")
    plan = _plan(lag_autocorr(df, value_col="v", order_cols="o",
                              group_cols=["grp"], lags=(1, 2, 3)))
    assert plan.count("Window") == 1, plan
    assert plan.count("Exchange") <= 2, plan
    assert "Join" not in plan, plan


def test_winnow_per_doc_window_no_join(spark):
    """Winnowing: per-doc explode + per-doc ROWS-frame window + one
    distinct — no join, no Python, window partitioned by the id."""
    from kml2geojson_spark.textops import winnow_fingerprints
    df = spark.createDataFrame([(1, "abcdefghij")],
                               "doc_id long, text string")
    plan = _plan(winnow_fingerprints(df, k=4, w=3))
    for marker in ("Join", "ArrowEvalPython", "BatchEvalPython",
                   "MapInPandas"):
        assert marker not in plan, f"{marker} in winnow plan"
    assert "windowspecdefinition(_id" in plan  # partitioned by doc


def test_snm_leads_share_one_window_sort(spark):
    """All window-1..w leads ride the same block-partitioned sort:
    exactly one Window node, one Exchange, no join."""
    from kml2geojson_spark.textops import sorted_neighborhood_pairs
    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    plan = _plan(sorted_neighborhood_pairs(df, window=4))
    assert plan.count("Window") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_pettitt_single_exchange_no_join(spark):
    """Pettitt: both rank windows, the cumulative U window and the
    argmax pick all share ONE group-key partitioning — one Exchange,
    no join, no pair blowup, no Python."""
    from kml2geojson_spark.relational import pettitt_test
    df = spark.createDataFrame([("g", 1, 2)], "g string, t long, v long")
    plan = _plan(pettitt_test(df, value_col="v", order_cols="t",
                              group_cols=["g"]))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_cliffs_delta_single_exchange_no_join(spark):
    """Cliff's delta via the rank identity: two rank windows + the
    reduce share one group partitioning — one Exchange, no pair
    join."""
    from kml2geojson_spark.relational import cliffs_delta
    df = spark.createDataFrame([("g", 1, 1)], "g string, v long, f long")
    plan = _plan(cliffs_delta(df, value_col="v", flag_col="f",
                              group_cols=["g"]))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_jarque_bera_one_hash_aggregate(spark):
    """JB: four power sums in ONE hash-aggregate with map-side
    combine — one Exchange, no window, no join (the one-pass shape,
    not the textbook two-pass)."""
    from kml2geojson_spark.relational import jarque_bera
    df = spark.createDataFrame([("g", 1)], "g string, v long")
    plan = _plan(jarque_bera(df, value_col="v", group_cols=["g"]))
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan and "Join" not in plan, plan


def test_kmv_distinct_then_rank_share_partitioning(spark):
    """KMV: the distinct and the top-k rank window stay in one
    Exchange chain, all JVM-side."""
    from kml2geojson_spark.sketch import kmv_registers
    df = spark.createDataFrame([("a",)], "v string")
    plan = _plan(kmv_registers(df, "v", k=4))
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_hex_bin_and_smooth_single_aggregate(spark):
    """Hex binning/smoothing: pure codegen arithmetic (or literal
    offset explode) then ONE hash-aggregate — one Exchange, no join,
    no Python."""
    from kml2geojson_spark.spatial.ops import hex_bin, hex_smooth
    pts = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
    p1 = _plan(hex_bin(pts, size=2.0))
    assert p1.count("Exchange") == 1 and "Join" not in p1, p1
    cells = spark.createDataFrame([(0, 0, 1)], "hq long, hr long, n long")
    p2 = _plan(hex_smooth(cells))
    assert p2.count("Exchange") == 1 and "Join" not in p2, p2
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in p1 and marker not in p2


def test_neighbor_jaccard_equi_joins_only(spark):
    """Neighbor Jaccard: every join is an equi-join keyed on the
    shared neighbor or the node id — never a nested-loop/cartesian
    candidate generator."""
    from kml2geojson_spark.graph import neighbor_jaccard
    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    plan = _plan(neighbor_jaccard(e))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_grubbs_boxplot_join_back_is_equi(spark):
    """Grubbs / boxplot: the moment join-back is an equi-join on the
    group key — no nested loop, no Python."""
    from kml2geojson_spark.relational import boxplot_stats, grubbs_test
    df = spark.createDataFrame([("g", 1, 5)], "g string, id long, v long")
    for out in (grubbs_test(df, value_col="v", id_col="id",
                            group_cols=["g"]),
                boxplot_stats(df, value_col="v", group_cols=["g"])):
        plan = _plan(out)
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        for marker in ("BatchEvalPython", "ArrowEvalPython",
                       "MapInPandas"):
            assert marker not in plan


def test_sequence_gaps_one_partitioning(spark):
    """Islands/gaps: distinct + LAG window share the group key — no
    join, no Python."""
    from kml2geojson_spark.relational import sequence_gaps
    df = spark.createDataFrame([("g", 1)], "g string, i long")
    plan = _plan(sequence_gaps(df, id_col="i", group_cols=["g"]))
    assert "Join" not in plan, plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_lead_lag_corr_no_self_join(spark):
    """Lead-lag corr: all 2K+1 shifts run over ONE window
    partitioning, the stack is a map-side explode — no self-join."""
    from kml2geojson_spark.relational import lead_lag_corr
    df = spark.createDataFrame([("g", 1, 2, 3)],
                               "g string, t long, x long, y long")
    plan = _plan(lead_lag_corr(df, x_col="x", y_col="y",
                               order_col="t", group_cols=["g"],
                               max_lag=3))
    assert "Join" not in plan, plan
    assert plan.count("Window") == 1, plan


def test_raster_peaks_scatter_join_is_equi(spark):
    """Peak detection: neighbor-max via scatter + ONE aggregate and
    an equi-join back — no window over the raster, no BNL."""
    from kml2geojson_spark.spatial.ops import raster_peaks
    df = spark.createDataFrame([(0, 0, 1)], "cx long, cy long, n long")
    plan = _plan(raster_peaks(df))
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_quadkey_whole_stage_codegen(spark):
    """Quadkey: pure bit arithmetic + concat, zero Python, one
    aggregate exchange in the q315 shape."""
    from kml2geojson_spark.spatial.cells import quadkey_col
    df = spark.createDataFrame([(1, 2)], "ix long, iy long")
    plan = _plan(df.select(quadkey_col(F.col("ix"), F.col("iy"), 8)
                           .alias("qk")))
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert plan.lstrip().startswith("*("), plan[:200]


def test_salted_join_encodes_each_point_a_bounded_number_of_times(ansi_spark):
    """Catalyst inlines the cell encode into the filters it pushes onto
    the cached point scan (the salt's ``CASE WHEN cell_id IN (...)``),
    where no subexpression elimination runs. The encode must reference
    each coordinate once at res 8 (the mask-cascade spread held 64
    copies per encode: 128 FLOORs in this plan), and cell_id keeps its
    NOT NULL type, so no isnotnull(cell_id) filter re-runs the encode."""
    from kml2geojson_spark.spatial.salted import salted_join
    spark = ansi_spark
    geoms = spark.range(100).selectExpr(
        "id", "array(array(array(CAST(id AS DOUBLE) - 50, "
        "CAST(id AS DOUBLE) / 2 - 25))) AS parts").persist()
    try:
        pts = geoms.select(F.col("id").alias("point_id"),
                           F.col("parts")[0][0][0].alias("x"),
                           F.col("parts")[0][0][1].alias("y"))
        probe = encode_points(pts, 8)
        assert not probe.schema["cell_id"].nullable
        dim = spark.range(64).selectExpr("id * 32 + 8 AS cell_id",
                                         "id AS zone")
        joined = salted_join(probe, dim, "cell_id", n_salt=4, hot=[8, 40])
        plan = _optimized(joined)
        assert "InMemoryRelation" in plan, plan
        assert plan.count("FLOOR(") <= 4, plan
    finally:
        geoms.unpersist()


def test_cell_encode_col_res26_is_linear(spark):
    """At res 26 the byte-table spread reads each coordinate 4 times
    (26 bits, 8 per lookup): 8 FLOORs, against 64 for the cascade."""
    from kml2geojson_spark.spatial.cells import cell_encode_col
    df = spark.range(10).selectExpr("CAST(id AS DOUBLE) AS x",
                                    "CAST(id AS DOUBLE) AS y")
    plan = _optimized(df.select(cell_encode_col(F.col("x"), F.col("y"), 26)))
    assert plan.count("FLOOR(") <= 8, plan


def test_pip_cogroup_builds_each_polygons_edges_once(spark):
    """perfbench's pip_join shape: points and polygons selected from one
    cached table. Catalyst inlines projections into the filters it
    pushes down and infers (a where on the cleaned rings, the
    isnotnull/size > 0 it infers from an explode), where no
    subexpression elimination runs; this plan held 3 edge builds
    (``zip_with``) and 4 ring-cleaning chains. It holds one of each."""
    from kml2geojson_spark.spatial import pip_join
    geoms = spark.createDataFrame(
        [(0, "Point", [[[0.5, 0.5]]]), (1, "Point", [[[9.0, 9.0]]]),
         (2, "Polygon", [[[-5.0, -5.0], [5.0, -5.0], [5.0, 5.0],
                          [-5.0, 5.0], [-5.0, -5.0]]])],
        "id long, geom_type string, parts array<array<array<double>>>"
    ).persist()
    try:
        geoms.count()
        pts = geoms.where(F.col("geom_type") == "Point").select(
            F.col("id").alias("point_id"),
            F.col("parts")[0][0][0].alias("x"),
            F.col("parts")[0][0][1].alias("y"))
        polys = geoms.where(F.col("geom_type") == "Polygon").select(
            F.col("id").alias("poly_id"), F.col("parts").alias("rings"))
        joined = pip_join(pts, polys, 8, rings_distribution="cogroup")
        plan = _optimized(joined)
        assert "InMemoryRelation" in plan, plan
        assert plan.count("zip_with(") == 1, plan
        assert plan.count("filter(transform(") == 1, plan
        assert [tuple(r) for r in joined.collect()] == [(0, 2)]
    finally:
        geoms.unpersist()


def test_pip_cogroup_parity_count_needs_no_exchange(spark, pip_plan):
    """The crossing count groups by ``cell_id`` and by every column the
    band regroup partitions by, so a shuffle join's ``cell_id``
    partitioning clusters it, and so does the band regroup's when the
    points are the broadcast side: no Exchange between the candidate
    join and the parity HashAggregate. The shuffle join keeps its 3
    exchanges (band regroup and both join sides); with the points
    broadcast only the band regroup shuffles."""
    import re
    from kml2geojson_spark.spatial import pip_join
    name, ready = pip_plan
    pts = ready(spark.createDataFrame(
        [(i, -10.0 + i * 0.4, -10.0 + i * 0.4) for i in range(50)],
        "point_id long, x double, y double"))
    polys = spark.createDataFrame(
        [(0, [[[-5.0, -5.0], [5.0, -5.0], [5.0, 5.0], [-5.0, 5.0],
               [-5.0, -5.0]]])],
        "poly_id long, rings array<array<array<double>>>")
    plan = _plan(pip_join(pts, polys, 6, rings_distribution="cogroup"))
    lines = plan.splitlines()
    agg = next(i for i, line in enumerate(lines)
               if "HashAggregate" in line and "functions=[count(1)]" in line)
    join = next(i for i, line in enumerate(lines)
                if re.search(r"(BroadcastHash|ShuffledHash|SortMerge)Join", line))
    assert agg < join, plan
    assert not any("Exchange" in line for line in lines[agg:join]), plan
    shuffles = len(re.findall(r"(?<!Broadcast)Exchange hashpartitioning", plan))
    if name == "broadcast":
        assert "BuildLeft" in lines[join], plan
        assert shuffles == 1, plan
    else:
        assert "BroadcastExchange" not in plan, plan
        assert shuffles == 3, plan
