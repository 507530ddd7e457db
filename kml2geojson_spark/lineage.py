"""Checkpoint / lineage: Iceberg-style snapshot manifests per stage so a
killed job resumes without recompute (BASELINE.json north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

No Iceberg runtime jars exist in this environment (SURVEY.md §0), so the
layer is parquet data files + a JSON snapshot manifest we maintain
ourselves, Iceberg-shaped:

    <root>/<stage>/<snapshot_id>/data/*.parquet
    <root>/<stage>/<snapshot_id>/manifest.json
    <root>/<stage>/LATEST            (pointer file)

- ``snapshot_id`` is a content hash of (stage name, parent snapshot ids,
  stage params, input identity) — the lineage DAG is encoded in the ids
  themselves, so a resume only reuses a checkpoint whose *entire
  upstream chain* is unchanged. The input identity is every data file
  (path, size, mtime) under the root paths of the file relations the
  stage's plan reads, so a root stage over a rewritten input table, or
  one with a partition added, gets a new id, and so does everything
  downstream of it.
- ``manifest.json`` records status, wall time, totals, and per-partition
  lineage rows ``(partition_id, input_snapshot, rows, cells)``. Row
  counts come from the footers of the parquet files just written (each
  file holds one write task's rows, so its partition-id column has
  min = max), so a stage runs no Spark job besides its write; only
  ``cell_col``'s distinct-cell counts need an aggregation over the
  persisted data.
- Writes are atomic: data first, then the manifest and the ``LATEST``
  pointer each to a temp name + rename; a crash mid-write leaves
  status != "committed" and the stage reruns.

``run_stage`` also cuts the Spark lineage chain: downstream stages read
the checkpointed parquet, so a 40-stage pipeline never rebuilds a
kilometer-long logical plan and retried tasks re-read stable input.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from pathlib import Path
from typing import Callable, Optional, Sequence

import pyarrow.parquet as pq
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession, functions as F

_PID = "_lineage_pid"


def _snapshot_id(stage: str, parents: Sequence[str], params, inputs=()) -> str:
    payload = json.dumps({"stage": stage, "parents": list(parents),
                          "params": params, "inputs": list(inputs)},
                         sort_keys=True, default=str)
    return hashlib.md5(payload.encode()).hexdigest()[:16]


def _input_roots(df: DataFrame) -> list[str]:
    """The root paths of the file relations ``df``'s plan reads, as
    Hadoop path strings: a partitioned table's root rather than its
    partition directories, so a partition added later is seen too."""
    roots = set()
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    for j in range(leaves.length()):
        leaf = leaves.apply(j)
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRelation":  # data source V1
            relation = leaf.relation()
            if relation.getClass().getSimpleName() != "HadoopFsRelation":
                continue
            index = relation.location()
        elif kind == "DataSourceV2ScanRelation":  # V2 file tables
            try:
                index = leaf.relation().table().fileIndex()
            except Py4JError:  # not a file table
                continue
        else:
            continue
        paths = index.rootPaths()
        roots.update(paths.apply(k).toString() for k in range(paths.length()))
    return sorted(roots)


def _input_identity(spark: SparkSession, roots: Sequence[str]) -> list:
    """Per input root, every data file under it (recursively) as sorted
    (path relative to the root, size, mtime in ms) triples, or None when
    the root is gone. Names Spark's file index skips are skipped too: a
    leading ``.``, or a leading ``_`` without ``=`` (``_SUCCESS``,
    ``_temporary``; not a ``_k=v`` partition). Listed through the
    session's Hadoop file system, which serves ``file:`` paths too, one
    ``listStatus`` per directory: ``listFiles`` also fetches each file's
    block locations and read ~7x slower on a local 750-file table."""
    conf = spark._jsc.hadoopConfiguration()
    out = []
    for root in roots:
        path = spark._jvm.org.apache.hadoop.fs.Path(root)
        fs = path.getFileSystem(conf)
        files = None
        if fs.exists(path):
            files = []
            todo = [("", path)]
            while todo:
                rel, d = todo.pop()
                for st in fs.listStatus(d):
                    p = st.getPath()
                    name = p.getName()
                    if name.startswith(".") or (name.startswith("_") and "=" not in name):
                        continue
                    sub = f"{rel}/{name}" if rel else name
                    if st.isDirectory():
                        todo.append((sub, p))
                    else:
                        files.append((sub, st.getLen(), st.getModificationTime()))
            files.sort()
        out.append([root, files])
    return out


def _write_atomic(path: Path, text: str) -> None:
    """Write to a temp name, then rename: readers see the old file or the
    whole new one, never a torn write."""
    tmp = path.with_name(path.name + ".tmp")
    tmp.write_text(text)
    os.replace(tmp, path)


def _footer_rows(data_dir: Path) -> Optional[dict[int, int]]:
    """Rows per partition id, summed over the row groups of the parquet
    files in ``data_dir``. A Spark write task writes only its own
    partition's rows, so each row group's ``_PID`` statistics have
    min = max; None if any footer lacks those statistics."""
    rows: dict[int, int] = {}
    for path in data_dir.glob("*.parquet"):
        meta = pq.read_metadata(path)
        col = [meta.schema.column(j).path for j in range(meta.num_columns)].index(_PID)
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            if group.num_rows == 0:
                continue
            stats = group.column(col).statistics
            if stats is None or not stats.has_min_max or stats.min != stats.max:
                return None
            rows[stats.min] = rows.get(stats.min, 0) + group.num_rows
    return rows


class LineageLog:
    """Snapshot log for one pipeline root directory."""

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- paths ------------------------------------------------------------

    def _stage_dir(self, stage: str, sid: str) -> Path:
        return self.root / stage / sid

    def manifest(self, stage: str, sid: str) -> Optional[dict]:
        p = self._stage_dir(stage, sid) / "manifest.json"
        if not p.is_file():
            return None
        try:
            return json.loads(p.read_text())
        except (OSError, json.JSONDecodeError):
            return None

    # -- core -------------------------------------------------------------

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        builder: Callable[[], DataFrame],
        *,
        parents: Sequence[str] = (),
        params=None,
        cell_col: Optional[str] = None,
    ) -> tuple[DataFrame, dict]:
        """Build-or-resume one stage.

        The snapshot id covers (stage, parents, params) and the identity
        of the stage's input files. The root paths of the tables the
        stage reads are recorded per (stage, parents, params) when the
        stage is built; on a later call they are listed again, so a
        resume needs neither the builder nor a Spark job. If a
        committed manifest exists for the resulting snapshot, the
        builder is NOT invoked — the persisted parquet is returned
        (resume without recompute).
        Otherwise (first run, changed params or parents, or input files
        added, removed or rewritten) the builder runs, the result is
        persisted, per-partition lineage is recorded, and the manifest
        committed.

        Returns (DataFrame read from the checkpoint, manifest dict).
        """
        base = _snapshot_id(stage, parents, params)
        inputs_file = self.root / stage / f"inputs-{base}.json"
        if inputs_file.is_file():
            roots = json.loads(inputs_file.read_text())
            sid = _snapshot_id(stage, parents, params, _input_identity(spark, roots))
            existing = self.manifest(stage, sid)
            if existing is not None and existing.get("status") == "committed":
                # drop the internal partition column on resume too, so
                # the schema is identical between fresh and resumed runs
                data_dir = self._stage_dir(stage, sid) / "data"
                return spark.read.parquet(str(data_dir)).drop(_PID), existing

        t0 = time.time()
        built = builder()
        roots = _input_roots(built)
        sid = _snapshot_id(stage, parents, params, _input_identity(spark, roots))
        sdir = self._stage_dir(stage, sid)
        data_dir = sdir / "data"
        df = built.withColumn(_PID, F.spark_partition_id())
        df.write.mode("overwrite").parquet(str(data_dir))
        # the written schema, so reading back runs no schema-inference job
        persisted = spark.read.schema(df.schema).parquet(str(data_dir))

        scan_cells = cell_col is not None and cell_col in persisted.columns
        rows = None if scan_cells else _footer_rows(data_dir)
        if rows is None:
            aggs = [F.count(F.lit(1)).alias("rows")]
            if scan_cells:
                aggs.append(F.countDistinct(cell_col).alias("cells"))
            part_rows = [r.asDict() for r in persisted.groupBy(_PID).agg(*aggs).collect()]
        else:
            part_rows = [{_PID: pid, "rows": n} for pid, n in rows.items()]
        wall = time.time() - t0

        input_snapshot = parents[0] if parents else None
        partitions = sorted(
            ({"partition_id": int(r[_PID]),
              "input_snapshot": input_snapshot,
              "rows": int(r["rows"]),
              "cells": int(r["cells"]) if "cells" in r else None}
             for r in part_rows),
            key=lambda d: d["partition_id"])

        manifest = {
            "format": "kml2geojson-spark/lineage-v1",
            "stage": stage,
            "snapshot_id": sid,
            "parents": list(parents),
            "params": params,
            "inputs": roots,
            "status": "committed",
            "created_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "wall_time_s": round(wall, 3),
            "total_rows": sum(p["rows"] for p in partitions),
            "n_partitions": len(partitions),
            "partitions": partitions,
        }
        _write_atomic(sdir / "manifest.json", json.dumps(manifest, indent=1))
        _write_atomic(inputs_file, json.dumps(roots))
        _write_atomic(self.root / stage / "LATEST", sid)

        return persisted.drop(_PID), manifest

    def latest(self, stage: str) -> Optional[dict]:
        p = self.root / stage / "LATEST"
        if not p.is_file():
            return None
        return self.manifest(stage, p.read_text().strip())


class Pipeline:
    """Thin sequential-stage runner threading snapshot ids so each
    stage's identity covers its whole upstream chain."""

    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        self.log = LineageLog(root)
        self._last_sid: list[str] = []
        self.manifests: dict[str, dict] = {}

    def stage(self, name: str, builder: Callable[[], DataFrame], *,
              params=None, cell_col: Optional[str] = None) -> DataFrame:
        df, manifest = self.log.run_stage(
            self.spark, name, builder,
            parents=tuple(self._last_sid), params=params, cell_col=cell_col)
        self._last_sid = [manifest["snapshot_id"]]
        self.manifests[name] = manifest
        return df
