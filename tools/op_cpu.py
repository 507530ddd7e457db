"""Executor CPU per operation of a perfbench workload, read from Spark's
event log:

    python tools/op_cpu.py --workload spatial_join --seed 1201 [--jobs 3]

Sets up the workload as ``perfbench/run.py`` does (same corpus, session
settings and set-up), runs one cold and one warm-up job, then ``--jobs``
jobs whose operations each run under a job group of their own (the
workload's perfbench spans). perfbench's spans give only wall time; this
prints, per operation and per stage, the executor CPU of Spark's task
threads (``Executor CPU Time``), the task deserialization CPU, the task
count and the shuffle records read and written, as medians over the
jobs. Python worker CPU is not in these figures: it is not part of a
task's metrics.

It also prints the Janino compilations of every job, per operation and
in total: the change in Spark's ``CodegenMetrics`` compilation count
around each span and around the whole job. The cold job's figures are
the codegen-cache entries each operation adds (a class an earlier
operation or the set-up already compiled counts once); a warm job that
compiles anything recompiles classes the cache evicted.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCH = ROOT / "perfbench"


def stage_label(info: dict) -> str:
    """The plan operators a stage ran (the scopes of its RDDs, such as
    ``WholeStageCodegen (3)`` or ``Exchange``), in RDD order; the
    stage's name (its action's call site) when it has none."""
    names = []
    for rdd in sorted(info.get("RDD Info", []), key=lambda r: r["RDD ID"]):
        name = json.loads(rdd["Scope"])["name"] if rdd.get("Scope") else None
        if name and name not in names:
            names.append(name)
    return ", ".join(names) or info["Stage Name"]


def stage_rows(log_dir: Path) -> list[dict]:
    """One row per stage that ran tasks: its job group, id, name, task
    count, CPU-s and shuffle records."""
    stages: dict = {}
    for f in sorted(log_dir.iterdir()):
        if f.name.startswith("."):  # checksum files
            continue
        group_of: dict[int, str] = {}
        for line in f.read_text().splitlines():
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    group_of.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (f.name, info["Stage ID"])
                if key in stages:
                    stages[key]["name"] = stage_label(info)
            elif kind == "SparkListenerTaskEnd":
                key = (f.name, ev["Stage ID"])
                row = stages.setdefault(key, {
                    "group": group_of.get(ev["Stage ID"]), "stage": ev["Stage ID"],
                    "name": "", "tasks": 0, "cpu_s": 0.0, "deser_cpu_s": 0.0,
                    "shuffle_read": 0, "shuffle_written": 0})
                m = ev.get("Task Metrics") or {}
                row["tasks"] += 1
                row["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                row["deser_cpu_s"] += m.get("Executor Deserialize CPU Time", 0) / 1e9
                row["shuffle_read"] += (m.get("Shuffle Read Metrics") or {}).get(
                    "Total Records Read", 0)
                row["shuffle_written"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Records Written", 0)
    return [stages[k] for k in sorted(stages)]


def report(spans, rows: list[dict]) -> None:
    """Print per-operation and per-stage medians over the traced jobs.
    Stages are matched across jobs by their position within the
    operation's run."""
    name_of = {sp.group: sp.name for sp in spans}
    runs: dict[str, list[list[dict]]] = defaultdict(list)
    by_group = defaultdict(list)
    for r in rows:
        by_group[r["group"]].append(r)
    for sp in spans:
        runs[sp.name].append(by_group.get(sp.group, []))
    untraced = [r for r in rows if r["group"] not in name_of]
    fields = ("tasks", "cpu_s", "deser_cpu_s", "shuffle_read", "shuffle_written")

    def med(vals):
        return statistics.median(vals) if vals else 0

    print(f"{'operation / stage':44} {'tasks':>6} {'cpu_s':>7} {'deser_s':>7}"
          f" {'shuf_read':>10} {'shuf_written':>12}")
    for op, jobs in runs.items():
        tot = {k: med([sum(s[k] for s in job) for job in jobs]) for k in fields}
        print(f"{op:44} {tot['tasks']:6.0f} {tot['cpu_s']:7.3f} {tot['deser_cpu_s']:7.3f}"
              f" {tot['shuffle_read']:10.0f} {tot['shuffle_written']:12.0f}")
        for i in range(max(len(job) for job in jobs)):
            at = [job[i] for job in jobs if len(job) > i]
            st = {k: med([s[k] for s in at]) for k in fields}
            label = f"  {i}: {at[-1]['name']}"[:44]
            print(f"{label:44} {st['tasks']:6.0f} {st['cpu_s']:7.3f}"
                  f" {st['deser_cpu_s']:7.3f} {st['shuffle_read']:10.0f}"
                  f" {st['shuffle_written']:12.0f}")
    print(f"jobs traced: {len(next(iter(runs.values()), []))}; stages outside any "
          f"operation (set-up, cold and warm-up jobs): {len(untraced)}")


def compile_report(jobs: list) -> None:
    """Print the Janino compilations per operation and per job total: the
    cold job, the warm-up job, then each traced job."""
    labels = ["cold", "warm-up"] + [f"job {i + 1}" for i in range(len(jobs) - 2)]
    print("janino compilations (cold job = codegen-cache entries it adds)")
    print(f"{'operation':44}" + "".join(f" {lab:>7}" for lab in labels))
    for name in jobs[0]["ops"]:
        print(f"{name:44}" + "".join(f" {job['ops'].get(name, 0):7d}" for job in jobs))
    print(f"{'job total':44}" + "".join(f" {job['total']:7d}" for job in jobs))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("convert_geojson", "tile_points", "spatial_join"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--jobs", type=int, default=3)
    args = ap.parse_args()
    sys.path[:0] = [str(ROOT), str(BENCH)]
    import corpus as corpus_mod
    import host
    from run import spark_conf
    from spans import Tracer
    from workloads import WORKLOADS, Corpus

    facts = host.host_facts()
    cores = min(facts["nproc_affinity"], 4)
    mem_mb = max(1024, min(4096, facts["mem_total_kb"] // 1024 // 8))
    work = ROOT / ".perfbench_work" / f"op_cpu-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        (work / d).mkdir(parents=True)
    os.environ.update({
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"), "TMPDIR": str(work / "tmp"),
    })
    seed = corpus_mod.corpus_seed(args.seed)
    docs = corpus_mod.make_documents(seed, corpus_mod.N_DOCS)
    golden = json.loads((BENCH / "golden.json").read_text())
    corpus = Corpus(seed, docs)
    wl = WORKLOADS[args.workload](corpus, golden.get(f"{args.workload}:{seed}:{corpus.n_docs}"))

    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession

    class CompileTracer(Tracer):
        """perfbench's tracer, also counting Janino compilations per span
        into the current job's entry of ``compiles``, enabled or not."""

        @contextmanager
        def span(self, name):
            before = compilations()
            with super().span(name) as sp:
                yield sp
            ops = compiles[-1]["ops"]
            ops[name] = ops.get(name, 0) + compilations() - before

    def run_job(tracer, what: str) -> None:
        compiles.append({"ops": {}})
        before = compilations()
        ok, extra = wl.check(wl.job(tracer))
        compiles[-1]["total"] = compilations() - before
        if not ok:
            raise SystemExit(f"op_cpu: {what} failed its check: {extra}")

    conf = SparkConf().setAll(spark_conf(work, cores, mem_mb, event_log=True).items())
    tracer = CompileTracer(True)
    compiles: list = []
    spark = SparkSession(SparkContext.getOrCreate(conf))
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compilations() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    try:
        spark.sparkContext.setLogLevel("ERROR")
        corpus_mod.write_span_table(docs, work / "corpus")
        wl.setup(spark, work / "corpus", work)
        off = CompileTracer(False)
        for what in ("the cold job", "the warm-up job"):  # as perfbench runs them
            run_job(off, what)
        tracer.spark = spark
        for _ in range(args.jobs):
            run_job(tracer, "a job")
    finally:
        spark.stop()  # flushes the event log
    report(tracer.spans, stage_rows(work / "eventlog"))
    compile_report(compiles)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
