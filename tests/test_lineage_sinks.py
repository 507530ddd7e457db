"""Checkpoint/lineage resume semantics + sink parity with the reference
CLI's file layout."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

import kml2geojson_spark as k2gs
from kml2geojson_spark.lineage import LineageLog, Pipeline
from kml2geojson_spark.sinks import export_layers_table, write_geojson_dir

from .conftest import REFERENCE_DATA, reference_available, spark_jobs


def test_stage_resume_skips_recompute(spark, tmp_path):
    log = LineageLog(tmp_path / "ckpt")
    calls = {"n": 0}

    def builder():
        calls["n"] += 1
        return spark.range(100).withColumn("v", F.col("id") * 2)

    df1, m1 = log.run_stage(spark, "gen", builder, params={"n": 100})
    assert calls["n"] == 1
    assert m1["status"] == "committed"
    assert m1["total_rows"] == 100
    assert len(m1["partitions"]) >= 1
    assert all("rows" in p and "partition_id" in p for p in m1["partitions"])

    # resume: same stage+params → builder NOT invoked, data identical
    df2, m2 = log.run_stage(spark, "gen", builder, params={"n": 100})
    assert calls["n"] == 1
    assert m2["snapshot_id"] == m1["snapshot_id"]
    assert sorted(r["v"] for r in df2.collect()) == \
        sorted(r["v"] for r in df1.collect())
    # resume is schema-transparent: no internal lineage columns leak
    assert df2.columns == df1.columns == ["id", "v"]

    # changed params → new snapshot → recompute
    df3, m3 = log.run_stage(spark, "gen", builder, params={"n": 101})
    assert calls["n"] == 2
    assert m3["snapshot_id"] != m1["snapshot_id"]


def test_pipeline_chain_invalidates_downstream(spark, tmp_path):
    """A changed upstream param changes the downstream snapshot id even
    when the downstream's own params are unchanged (lineage encoded in
    the id chain)."""
    calls = {"a": 0, "b": 0}

    def run(pa):
        p = Pipeline(spark, tmp_path / "ckpt2")

        def build_a():
            calls["a"] += 1
            return spark.range(pa)

        def build_b():
            calls["b"] += 1
            return spark.range(10)

        p.stage("a", build_a, params={"n": pa})
        p.stage("b", build_b, params={"k": 1})
        return p

    run(50)
    assert calls == {"a": 1, "b": 1}
    run(50)  # full resume
    assert calls == {"a": 1, "b": 1}
    run(60)  # upstream changed → both rerun
    assert calls == {"a": 2, "b": 2}


def test_kill_resume_mid_pipeline(spark, tmp_path):
    """Simulated kill between stages: stage A committed, stage B not.
    The rerun reuses A's checkpoint and only computes B."""
    calls = {"a": 0, "b": 0}
    root = tmp_path / "ckpt3"

    def build_a():
        calls["a"] += 1
        return spark.range(20)

    def build_b():
        calls["b"] += 1
        return spark.range(5)

    p = Pipeline(spark, root)
    p.stage("a", build_a, params=None)
    # "killed" before stage b

    p2 = Pipeline(spark, root)
    p2.stage("a", build_a, params=None)
    df = p2.stage("b", build_b, params=None)
    assert calls == {"a": 1, "b": 1}
    assert df.count() == 5
    # partition lineage in b's manifest points at a's snapshot
    assert p2.manifests["b"]["parents"] == [p2.manifests["a"]["snapshot_id"]]
    for part in p2.manifests["b"]["partitions"]:
        assert part["input_snapshot"] == p2.manifests["a"]["snapshot_id"]


def test_cell_lineage_counts(spark, tmp_path):
    from kml2geojson_spark.spatial import encode_points
    log = LineageLog(tmp_path / "ckpt4")
    import pandas as pd
    import numpy as np
    rng = np.random.default_rng(1)
    pdf = pd.DataFrame({"point_id": np.arange(1000, dtype=np.int64),
                        "x": rng.uniform(-180, 180, 1000),
                        "y": rng.uniform(-85, 85, 1000)})

    def builder():
        return encode_points(spark.createDataFrame(pdf), 7)

    _, manifest = log.run_stage(spark, "enc", builder, cell_col="cell_id")
    assert manifest["total_rows"] == 1000
    assert all(p["cells"] is not None and p["cells"] <= p["rows"]
               for p in manifest["partitions"])


def _scan_counts(spark, data_dir, cell_col=None):
    """Per-partition (rows, cells) by a group-by scan of the persisted
    data: the count that the parquet footers replace."""
    aggs = [F.count(F.lit(1)).alias("rows")]
    if cell_col:
        aggs.append(F.countDistinct(cell_col).alias("cells"))
    persisted = spark.read.parquet(str(data_dir))
    return {r["_lineage_pid"]: (r["rows"], r["cells"] if cell_col else None)
            for r in persisted.groupBy("_lineage_pid").agg(*aggs).collect()}


def _manifest_counts(manifest):
    return {p["partition_id"]: (p["rows"], p["cells"]) for p in manifest["partitions"]}


@pytest.mark.parametrize("cell_col", [None, "cell"])
def test_partition_counts_equal_scan(spark, tmp_path, cell_col):
    """Footer row counts (no cell_col) and the scan (cell_col) both equal
    a group-by over the persisted data: 6 partitions, 3 of them empty,
    3 files per non-empty partition."""
    log = LineageLog(tmp_path / "ckpt5")

    def builder():
        # range partition i holds ids [10i, 10i + 10): odd partitions end up empty
        return (spark.range(0, 60, numPartitions=6)
                .where(F.col("id") % 20 < 5)
                .withColumn("cell", F.col("id") % 3))

    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        _, manifest = log.run_stage(spark, "parts", builder, cell_col=cell_col)
    finally:
        spark.conf.set(key, old)
    data = tmp_path / "ckpt5" / "parts" / manifest["snapshot_id"] / "data"
    assert len(list(data.glob("*.parquet"))) == 9
    want = _scan_counts(spark, data, cell_col)
    assert _manifest_counts(manifest) == want
    assert sorted(want) == [0, 2, 4] and manifest["n_partitions"] == 3
    assert manifest["total_rows"] == 15
    assert [list(p) for p in manifest["partitions"]] == \
        [["partition_id", "input_snapshot", "rows", "cells"]] * 3


def test_root_stage_over_a_rewritten_input_rebuilds(spark, tmp_path):
    """A root stage's snapshot covers its input files: overwriting,
    adding to or deleting the input table rebuilds the stage and
    everything downstream of it, instead of resuming stale data."""
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    calls = {"a": 0, "b": 0}

    def run():
        def build_a():
            calls["a"] += 1
            return spark.read.parquet(src)

        def build_b():
            calls["b"] += 1
            return spark.read.parquet(src).where("id % 2 = 0")

        p = Pipeline(spark, tmp_path / "ckpt10")
        a = p.stage("a", build_a)
        b = p.stage("b", build_b)
        return a.count(), b.count(), p.manifests

    assert run()[:2] == (10, 5) and calls == {"a": 1, "b": 1}
    _, _, m1 = run()  # unchanged input: resume without the builders
    assert calls == {"a": 1, "b": 1}

    spark.range(20).write.mode("overwrite").parquet(src)
    n_a, n_b, m2 = run()
    assert (n_a, n_b) == (20, 10) and calls == {"a": 2, "b": 2}
    assert m2["a"]["snapshot_id"] != m1["a"]["snapshot_id"]

    spark.range(100, 103).write.mode("append").parquet(src)
    assert run()[:2] == (23, 12) and calls == {"a": 3, "b": 3}
    assert run()[:2] == (23, 12) and calls == {"a": 3, "b": 3}


@pytest.mark.parametrize("v1_sources", ["parquet", ""])
def test_partition_added_under_an_input_root_rebuilds(spark, tmp_path, v1_sources):
    """The identity lists the table's root recursively, so a partition
    directory added under a partitioned table rebuilds the stage, with
    data source V1 or V2 reading it, and under a root whose name needs
    percent-encoding in a URI."""
    src = str(tmp_path / "in put%20dir")
    spark.range(6).withColumn("k", F.col("id") % 2).write.partitionBy("k").parquet(src)
    calls = []

    def build():
        calls.append(1)
        return spark.read.parquet(src)

    def run():
        return Pipeline(spark, tmp_path / "ckpt11").stage("a", build).count()

    old = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", v1_sources)
    try:
        assert (run(), run(), len(calls)) == (6, 6, 1)
        spark.range(6, 9).withColumn("k", F.lit(7)).write.mode("append") \
            .partitionBy("k").parquet(src)  # a new directory k=7
        assert (run(), run(), len(calls)) == (9, 9, 2)
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", old)


def test_input_identity_of_a_missing_root_is_none(spark, tmp_path):
    from kml2geojson_spark.lineage import _input_identity

    gone = str(tmp_path / "gone")
    assert _input_identity(spark, [gone]) == [[gone, None]]


def test_empty_stage_has_no_partitions(spark, tmp_path):
    log = LineageLog(tmp_path / "ckpt6")
    df, manifest = log.run_stage(spark, "empty",
                                 lambda: spark.range(0, 10, numPartitions=2).where("id < 0"))
    assert manifest["partitions"] == [] and manifest["total_rows"] == 0
    assert df.count() == 0


def test_run_stage_starts_only_the_write_job(spark, tmp_path):
    log = LineageLog(tmp_path / "ckpt7")
    with spark_jobs(spark) as jobs:
        _, manifest = log.run_stage(
            spark, "one", lambda: spark.range(0, 1000, numPartitions=4)
            .withColumn("v", F.col("id") * 2))
    assert manifest["total_rows"] == 1000
    assert len(jobs) == 1


def test_fresh_and_resumed_stage_share_schema(spark, tmp_path):
    log = LineageLog(tmp_path / "ckpt8")

    def builder():
        return (spark.range(0, 20, numPartitions=2)
                .withColumn("s", F.struct(F.col("id").alias("a"), F.lit("x").alias("b")))
                .withColumn("arr", F.array(F.lit(1), F.col("id").cast("int")))
                .withColumn("m", F.create_map(F.lit("k"), F.col("id")))
                .withColumn("d", F.lit(1.5).cast("decimal(10,2)"))
                .withColumn("ts", F.current_timestamp()))

    fresh, _ = log.run_stage(spark, "schema", builder)
    resumed, _ = log.run_stage(spark, "schema", builder)
    assert fresh.schema == resumed.schema
    assert "_lineage_pid" not in fresh.columns
    assert sorted(fresh.select("id", "s", "arr", "m").collect()) == \
        sorted(resumed.select("id", "s", "arr", "m").collect())


def test_latest_pointer_survives_a_torn_write(spark, tmp_path, monkeypatch):
    """A crash while writing LATEST leaves the previous pointer whole."""
    import pathlib

    log = LineageLog(tmp_path / "ckpt9")
    _, m1 = log.run_stage(spark, "gen", lambda: spark.range(5), params={"n": 5})
    assert log.latest("gen")["snapshot_id"] == m1["snapshot_id"]

    write_text = pathlib.Path.write_text

    def torn(self, text, *a, **kw):
        if self.name.startswith("LATEST"):
            write_text(self, text[: len(text) // 2], *a, **kw)
            raise OSError("killed mid-write")
        return write_text(self, text, *a, **kw)

    monkeypatch.setattr(pathlib.Path, "write_text", torn)
    with pytest.raises(OSError, match="killed mid-write"):
        log.run_stage(spark, "gen", lambda: spark.range(6), params={"n": 6})
    assert log.latest("gen")["snapshot_id"] == m1["snapshot_id"]

    assert (log.root / "gen" / "LATEST").read_text() == m1["snapshot_id"]

    monkeypatch.setattr(pathlib.Path, "write_text", write_text)
    _, m3 = log.run_stage(spark, "gen", lambda: spark.range(7), params={"n": 7})
    assert log.latest("gen")["snapshot_id"] == m3["snapshot_id"] != m1["snapshot_id"]


@pytest.mark.skipif(not reference_available(), reason="reference missing")
def test_write_geojson_dir_matches_reference_cli_layout(spark, tmp_path):
    """two_layers → style.json + Bingo.geojson + Bingo1.geojson with
    contents equal to the reference's checked-in CLI outputs
    (tests/data/two_layers/, exercised by reference test_cli.py)."""
    k_path = REFERENCE_DATA / "two_layers" / "two_layers.kml"
    kml = k_path.read_text(encoding="utf-8", errors="ignore")
    df = spark.createDataFrame([("two_layers", k2gs.pack_spans(kml))],
                               k2gs.spans_schema())
    row = k2gs.convert_documents(df, style_type="svg",
                                 separate_folders=True).collect()[0]
    written = write_geojson_dir(row, tmp_path / "out")
    names = [p.name for p in written]
    assert names == ["style.json", "Bingo.geojson", "Bingo1.geojson"]
    for p in written:
        expected = json.loads((k_path.parent / p.name).read_text())
        assert json.loads(p.read_text()) == expected


def test_export_layers_table(spark):
    docs = k2gs.synthesize_documents_kml(spark, 10, seed=2, max_placemarks=6)
    conv = k2gs.convert_documents(docs, style_type="svg", separate_folders=True)
    tbl = export_layers_table(conv)
    pdf = tbl.toPandas()
    assert {"doc_id", "style_json", "layer_idx", "layer_name", "geojson"} \
        <= set(pdf.columns)
    assert len(pdf) >= 10
    sample = json.loads(pdf.iloc[0]["geojson"])
    assert sample["type"] == "FeatureCollection"
