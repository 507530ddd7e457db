"""The three closed-loop workloads, each driving the KML engine only
through its public functions.

Every workload has ``setup`` (materialization that belongs to set-up
time), ``job`` (one timed unit of work whose result is consumed on the
driver) and ``check`` (verifies that result; a mismatch fails the job).
"""

from __future__ import annotations

import json
import random
import shutil
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from kml2geojson_spark import engine, lineage, sinks
from kml2geojson_spark.convert_core import convert_kml_string
from kml2geojson_spark.spatial import ops, salted

import oracle
from corpus import docs_per_file

TILE_RES = 8
SPATIAL_RES = 8
KNN_K = 5
KNN_RADIUS = 2
N_QUERIES = 200
N_PIP_SAMPLE = 400
ORACLE_SAMPLE = 40
N_SALT = 8
# spatial_join reads the first half of the corpus files. On one file its
# jobs were almost all per-action overhead (executor threads and Python
# workers spent a fifth of the job's CPU); on four they spend two fifths,
# at ~2 s more per job and ~4 s more set-up.
SPATIAL_FILES = 4


class Corpus:
    """The seeded documents plus the oracle's reading of them."""

    def __init__(self, seed: int, docs: list[tuple[str, str]]):
        self.seed = seed
        self.docs = docs
        self.etree = [oracle.etree_doc(kml) for _, kml in docs]
        self.doc_points = [[p for _, pts, _ in doc for p in pts] for doc in self.etree]
        self.n_docs = len(docs)
        self.n_points = sum(len(p) for p in self.doc_points)
        rng = random.Random(seed ^ 0x5EED)
        self.sample = sorted(rng.sample(range(self.n_docs), min(ORACLE_SAMPLE, self.n_docs)))
        # geometry ids as spatial_join derives them from extract_features:
        # doc number, geometry-bearing feature index, geometry index
        ids, xs, ys, self.polygons = [], [], [], []
        for doc_id, feats in zip((d for d, _ in docs), self.etree):
            base = int(doc_id[4:]) * 4096
            for f, (gtype, pts, rings) in enumerate(feats):
                for g, (x, y) in enumerate(pts):
                    ids.append(base + f * 8 + g)
                    xs.append(x)
                    ys.append(y)
                if gtype == "Polygon":
                    self.polygons.append((base + f * 8, rings))
        self.pid = np.asarray(ids, dtype=np.int64)
        self.px = np.asarray(xs, dtype=np.float64)
        self.py = np.asarray(ys, dtype=np.float64)


def convert_rows(doc_id: str, kml: str) -> list[tuple]:
    """The exported layer rows of one document, built by the
    single-process converter: the golden side of convert_geojson."""
    style, layers = convert_kml_string(kml, style_type="svg")
    style_json = None if style is None else json.dumps(style)
    return [(doc_id, style_json, i, la.get("name", ""), json.dumps(la))
            for i, la in enumerate(layers)]


@contextmanager
def traced_methods(tracer, patches):
    """While tracing, wrap ``cls.attr`` in a span named ``name`` for each
    (cls, attr, name) — the boundary between a layer and Spark when the
    layer makes the call itself."""
    if not tracer.enabled:
        yield
        return
    saved = []
    for cls, attr, name in patches:
        orig = getattr(cls, attr)

        def wrapper(self, *a, _orig=orig, _name=name, **kw):
            with tracer.span(_name):
                return _orig(self, *a, **kw)

        setattr(cls, attr, wrapper)
        saved.append((cls, attr, orig))
    try:
        yield
    finally:
        for cls, attr, orig in saved:
            setattr(cls, attr, orig)


class ConvertGeojson:
    """convert_documents (svg styles) → export_layers_table → a fresh
    lineage snapshot per job."""

    name = "convert_geojson"

    def __init__(self, corpus: Corpus, golden: str):
        self.corpus = corpus
        self.golden = golden
        self.docs_per_job, self.points_per_job = corpus.n_docs, corpus.n_points
        self.jobs = 0

    def setup(self, spark, corpus_dir: Path, work: Path) -> None:
        self.spark, self.corpus_dir = spark, str(corpus_dir)
        self.log = lineage.LineageLog(work / "lineage")
        df = spark.range(1)
        self._patches = [(type(df.write), "parquet", "lineage.write"),
                         (type(df), "collect", "lineage.partition_scan")]

    def job(self, tracer):
        self.jobs += 1
        spark = self.spark

        def build():
            spans = spark.read.parquet(self.corpus_dir)
            return sinks.export_layers_table(
                engine.convert_documents(spans, style_type="svg"))

        with traced_methods(tracer, self._patches):
            _, manifest = self.log.run_stage(spark, "layers", build,
                                             params={"job": self.jobs})
        return manifest

    def check(self, manifest) -> tuple[bool, dict]:
        snap = self.log.root / "layers" / manifest["snapshot_id"]
        data = snap / "data"
        nbytes = sum(f.stat().st_size for f in data.glob("*.parquet"))
        table = pq.read_table(data, columns=["doc_id", "style_json", "layer_idx",
                                             "layer_name", "geojson"])
        rows = list(zip(*(table.column(c).to_pylist() for c in table.column_names)))
        ok = oracle.digest(rows) == self.golden
        by_doc = {r[0]: r for r in rows if r[2] == 0}
        for i in self.corpus.sample:
            doc_id = self.corpus.docs[i][0]
            row = by_doc.get(doc_id)
            if row is None or oracle.feature_summary(json.loads(row[4])) != \
                    self.corpus.etree[i]:
                ok = False
        shutil.rmtree(snap)
        return ok, {"lineage_bytes": nbytes}


class TilePoints:
    """tile_counts_from_parquet at res 8 over the span table."""

    name = "tile_points"

    def __init__(self, corpus: Corpus, golden: str):
        self.corpus = corpus
        self.golden = golden
        self.docs_per_job, self.points_per_job = corpus.n_docs, corpus.n_points

    def setup(self, spark, corpus_dir: Path, work: Path) -> None:
        self.spark, self.corpus_dir = spark, str(corpus_dir)

    def job(self, tracer):
        return engine.tile_counts_from_parquet(self.spark, self.corpus_dir, TILE_RES).toArrow()

    def check(self, table: pa.Table) -> tuple[bool, dict]:
        rows = zip(*(table.column(c).to_pylist()
                     for c in ("cell_id", "n_features", "n_docs")))
        return oracle.digest(rows) == self.golden, {}


class SpatialJoin:
    """pip_join (cogroup), knn_join, coverage_fractions and a salted
    join over the points and polygons that extract_features pulled from
    the corpus, materialized during set-up."""

    name = "spatial_join"

    def __init__(self, corpus: Corpus, golden=None):
        self.corpus = corpus
        self.docs_per_job = min(corpus.n_docs, docs_per_file(corpus.n_docs) * SPATIAL_FILES)
        keep = corpus.pid // 4096 < self.docs_per_job
        self.pid, self.px, self.py = corpus.pid[keep], corpus.px[keep], corpus.py[keep]
        self.polys = [p for p in corpus.polygons if p[0] // 4096 < self.docs_per_job]
        self.points_per_job = len(self.pid)
        rng = np.random.default_rng(corpus.seed)
        q = rng.choice(len(self.pid), size=min(N_QUERIES, len(self.pid)), replace=False)
        self.qid = np.arange(len(q), dtype=np.int64)
        self.qx = self.px[q] + rng.uniform(-0.01, 0.01, len(q))
        self.qy = self.py[q] + rng.uniform(-0.01, 0.01, len(q))
        cells = oracle.morton_cells(self.px, self.py, SPATIAL_RES)
        uniq = np.unique(cells)
        self.dim_cells = uniq[rng.random(len(uniq)) < 0.7]
        in_dim = np.isin(cells, self.dim_cells)
        self.expect_salted = (int(in_dim.sum()), int((cells[in_dim] % 97).sum()))
        sample = rng.choice(len(self.pid), size=min(N_PIP_SAMPLE, len(self.pid)),
                            replace=False)
        self.sample_ids = set(self.pid[sample].tolist())
        self.expect_pip = oracle.pip_pairs(self.px[sample], self.py[sample],
                                           self.pid[sample], self.polys)
        self.expect_knn = oracle.knn_rows(self.px, self.py, self.pid, self.qx, self.qy,
                                          self.qid, KNN_K, SPATIAL_RES, KNN_RADIUS)
        cell_area = (360.0 / (1 << SPATIAL_RES)) * (180.0 / (1 << SPATIAL_RES))
        self.expect_cover = oracle.clipped_area(r for _, r in self.polys) / cell_area

    def setup(self, spark, corpus_dir: Path, work: Path) -> None:
        files = sorted(str(f) for f in corpus_dir.glob("*.parquet"))[:SPATIAL_FILES]
        feats = engine.extract_features(spark.read.parquet(*files))
        gid = (F.substring("doc_id", 5, 8).cast("long") * 4096
               + F.col("feature_idx") * 8 + F.col("geom_idx"))
        # one cached table and one action: every Spark action on a fresh
        # context costs seconds of set-up time, whatever its size
        geoms = (feats.where(F.col("geom_type").isin("Point", "Polygon"))
                 .select(gid.alias("id"), "geom_type", "parts").persist())
        geoms.count()
        self.points = (geoms.where(F.col("geom_type") == "Point")
                       .select(F.col("id").alias("point_id"),
                               F.col("parts")[0][0][0].alias("x"),
                               F.col("parts")[0][0][1].alias("y")))
        self.polygons = (geoms.where(F.col("geom_type") == "Polygon")
                         .select(F.col("id").alias("poly_id"), F.col("parts").alias("rings")))
        # small driver-side tables, held in the plan as local relations
        self.queries = spark.createDataFrame(pd.DataFrame(
            {"query_id": self.qid, "x": self.qx, "y": self.qy}))
        self.dim = spark.createDataFrame(pd.DataFrame(
            {"cell_id": self.dim_cells, "zone": self.dim_cells % 97}))

    def check_setup(self) -> bool:
        """The materialized points and polygons equal the oracle's."""
        pts = self.points.toArrow()
        got = sorted(zip(*(pts.column(k).to_pylist() for k in ("point_id", "x", "y"))))
        polys = self.polygons.toArrow()
        got_polys = sorted(
            (pid, [[tuple(v[:2]) for v in ring] for ring in rings])
            for pid, rings in zip(polys.column("poly_id").to_pylist(),
                                  polys.column("rings").to_pylist()))
        return (got == sorted(zip(self.pid.tolist(), self.px.tolist(), self.py.tolist()))
                and got_polys == sorted(self.polys))

    def job(self, tracer):
        out = {}
        with tracer.span("spatial.ops.pip_join") as sp:
            out["pip"] = ops.pip_join(self.points, self.polygons, SPATIAL_RES,
                                      rings_distribution="cogroup").toArrow()
            if sp:
                sp.counts["results"] = out["pip"].num_rows
        with tracer.span("spatial.ops.knn_join") as sp:
            out["knn"] = ops.knn_join(self.points, self.queries, KNN_K, SPATIAL_RES,
                                      KNN_RADIUS).toArrow()
            if sp:
                sp.counts["results"] = out["knn"].num_rows
        with tracer.span("spatial.ops.coverage"):
            out["cover"] = ops.coverage_fractions(self.polygons, SPATIAL_RES).agg(
                F.sum("total_frac_pico").alias("pico")).collect()[0]["pico"]
        probe = ops.encode_points(self.points, SPATIAL_RES)
        with tracer.span("spatial.salted.hot_keys"):
            hot = salted.hot_keys(probe, "cell_id")
        with tracer.span("spatial.salted.join"):
            r = salted.salted_join(probe, self.dim, "cell_id", n_salt=N_SALT, hot=hot) \
                .agg(F.count(F.lit(1)).alias("n"), F.sum("zone").alias("z")).collect()[0]
            out["salted"] = (int(r["n"]), int(r["z"] or 0))
        return out

    def check(self, out) -> tuple[bool, dict]:
        pip = out["pip"]
        got_pip = {(p, q) for p, q in zip(pip.column("point_id").to_pylist(),
                                          pip.column("poly_id").to_pylist())
                   if p in self.sample_ids}
        knn = out["knn"]
        got_knn = set(zip(knn.column("query_id").to_pylist(),
                          knn.column("neighbor_id").to_pylist(),
                          knn.column("rank").to_pylist()))
        cover = out["cover"] / 1e12
        mismatch = [name for name, ok in (
            ("pip", got_pip == self.expect_pip),
            ("knn", got_knn == self.expect_knn),
            ("coverage", abs(cover - self.expect_cover) <= 1e-6 * max(1.0, self.expect_cover)),
            ("salted", out["salted"] == self.expect_salted)) if not ok]
        return not mismatch, {"mismatch": mismatch} if mismatch else {}


WORKLOADS = {w.name: w for w in (ConvertGeojson, TilePoints, SpatialJoin)}
