#!/usr/bin/env python3
"""Closed-loop benchmark of the KML engine.

    python3 perfbench/run.py --workload {convert_geojson,tile_points,spatial_join}
                             --seed N --seconds S --trace {0,1}

One client process runs one job at a time against a local Spark session
sized to the host (``local[min(nproc, 4)]``). Each run:

1. builds the seeded corpus and the expected outputs (not timed);
2. sets up once — JVM and SparkContext start, corpus build, workload
   materialization, first (cold) job — and reports that as ``setup_s``;
3. runs one untimed warm-up job, then jobs back to back within a window
   of ``--seconds`` seconds (at least ``MIN_JOBS``), checking each job's
   output (a mismatch fails the job);
4. prints one JSON line: end-to-end metrics with ``--trace 0``,
   per-layer metrics with ``--trace 1``.

A traced run alternates traced and untraced jobs, so it also reports the
tracing overhead. Spans, host facts and the job-time tail percentile go
to ``.perfbench_out/`` and to the ``info`` line before the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# A traced run needs a traced and an untraced job, and one job's time alone
# would be its noise. Two, not more: a spatial_join job takes 6-10 s on a
# 4-core host, and 4 + 22 × 2 runs must fit in 3420 s.
MIN_JOBS = 2
DIRECT_SAMPLE = 150
DIRECT_MIN_CPU_S = 0.25
# A fixed percentile, so the metric keeps its meaning when a change makes
# jobs faster and a run holds more of them. A 4-core host fits 2-3 jobs
# in a 5 s window, too few for any percentile above the median to have
# ten samples beyond it; info records how many it has.
TAIL_PERCENTILE = 75


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("convert_geojson", "tile_points", "spatial_join"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_conf(work: Path, cores: int, mem_mb: int, event_log: bool) -> dict:
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{mem_mb}m",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": str(event_log).lower(),
        "spark.eventLog.dir": (work / "eventlog").as_uri(),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


def percentile(values, p):
    import numpy as np
    return float(np.percentile(values, p))


def stop_jvm(host) -> dict:
    """Stop Spark and the JVM it runs in, then wait until every process
    started below this one has ended. Returns how long that took and the
    command lines of any process that had to be killed."""
    from pyspark import SparkContext

    t0 = time.monotonic()
    before = host.start_times(host.descendants())
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    jvm_exit_s = time.monotonic() - t0
    deadline = time.monotonic() + 10
    sig, killed = signal.SIGTERM, []
    while True:
        alive = [p for p, start in before.items() if host.running(p, start)]
        if not alive:
            return {"stop_s": time.monotonic() - t0, "jvm_exit_s": jvm_exit_s,
                    "killed": killed}
        if time.monotonic() > deadline and sig != signal.SIGKILL:
            sig, killed = signal.SIGKILL, [host.cmdline(p) for p in alive]
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def direct_calls(corpus, tracer) -> dict:
    """Single-core CPU rates of the layers' public functions on a seeded
    sample of corpus documents, each inside its own span."""
    import random

    import pyarrow as pa

    from kml2geojson_spark import datagen
    from kml2geojson_spark.engine import iter_docs_from_arrow
    from kml2geojson_spark.kmlparse import parse_kml
    from kml2geojson_spark.kmlparse_fast import simple_point_xy
    from kml2geojson_spark.kmlparse_stream import stream_point_xy
    from kml2geojson_spark.spatial.cells import cell_encode_np

    import corpus as corpus_mod
    from workloads import TILE_RES, convert_rows

    rng = random.Random(corpus.seed ^ 0xD1EC7)
    idx = sorted(rng.sample(range(corpus.n_docs), min(DIRECT_SAMPLE, corpus.n_docs)))
    docs = [corpus.docs[i] for i in idx]
    kmls = [k for _, k in docs]

    def rate(name, fn, items, units_per_item=1):
        with tracer.span(f"direct.{name}") as sp:
            n, c0 = 0, time.process_time()
            while True:
                for it in items:
                    fn(it)
                n += len(items) * units_per_item
                cpu = time.process_time() - c0
                if cpu >= DIRECT_MIN_CPU_S:
                    break
            sp.counts.update(units=n, cpu_s=cpu)
            return n / cpu

    fast = [simple_point_xy(k) for k in kmls]
    refused = [k for k, r in zip(kmls, fast) if r is None]
    batch = pa.RecordBatch.from_pydict(
        {"doc_id": [d for d, _ in docs],
         "spans": [datagen.pack_spans(k) for k in kmls]},
        schema=pa.schema([("doc_id", pa.string()), ("spans", corpus_mod.SPANS_TYPE)]))
    json_bytes = sum(len(r[1] or "") + len(r[4]) for d, k in docs for r in convert_rows(d, k))

    return {
        "kmlparse_fast.docs_per_cpu_s": rate("simple_point_xy", simple_point_xy, kmls),
        "kmlparse_fast.hit_ratio": 1 - len(refused) / len(kmls),
        "kmlparse_stream.docs_per_cpu_s": rate("stream_point_xy", stream_point_xy, kmls),
        "kmlparse_stream.hit_ratio":
            sum(stream_point_xy(k) is not None for k in refused) / len(refused)
            if refused else 1.0,
        "kmlparse.docs_per_cpu_s": rate("parse_kml", parse_kml, kmls),
        "convert_core.docs_per_cpu_s": rate(
            "convert_kml_string", lambda d: convert_rows(*d), docs),
        "convert_core.json_bytes_per_doc": json_bytes / len(docs),
        "engine.arrow_docs_per_cpu_s": rate(
            "iter_docs_from_arrow", lambda b: sum(1 for _ in iter_docs_from_arrow(b)),
            [batch], batch.num_rows),
        "spatial.cells.points_per_cpu_s": rate(
            "cell_encode_np", lambda xy: cell_encode_np(xy[0], xy[1], TILE_RES),
            [(corpus.px, corpus.py)], len(corpus.px)),
    }


def layer_metrics(wl, tracer, jobs, by_group, cores) -> dict:
    """Per-layer metrics from the traced jobs' spans and Spark tasks."""
    from spans import stage_skew

    children: dict = {}
    for s in tracer.spans:
        children.setdefault(s.parent, []).append(s)

    def subtree(sp):
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children.get(s.id, []))
        return out

    def tasks_of(spans):
        return [t for s in spans for t in by_group.get(s.group, [])]

    roots = [j["span"] for j in jobs if j["span"] is not None]
    all_spans = [s for r in roots for s in subtree(r)]
    tasks = tasks_of(all_spans)
    n = max(len(roots), 1)
    wall = sum(r.end - r.start for r in roots)
    run_ms = sum(t.run_ms for t in tasks)

    def named(name):
        return [s for s in all_spans if s.name == name]

    def med_s(name):
        d = [s.end - s.start for s in named(name)]
        return statistics.median(d) if d else 0.0

    spatial_ops = named("spatial.ops.pip_join") + named("spatial.ops.knn_join")
    results = sum(s.counts.get("results", 0) for s in spatial_ops)
    lineage_bytes = [j["extra"]["lineage_bytes"] for j in jobs
                     if j["span"] is not None and "lineage_bytes" in j["extra"]]
    traced = [j["job_s"] for j in jobs if j["span"] is not None]
    untraced = [j["job_s"] for j in jobs if j["span"] is None]
    return {
        "engine.tasks": len(tasks) / n,
        "engine.task_skew": stage_skew(tasks),
        "engine.core_util": run_ms / 1000 / (wall * cores) if wall else 0.0,
        "engine.failed_tasks": sum(t.failed for t in tasks),
        "engine.shuffle_bytes_per_doc":
            sum(t.shuffle_write for t in tasks) / (n * wl.docs_per_job),
        "engine.spill_bytes": sum(t.spill for t in tasks) / n,
        "engine.gc_share": sum(t.gc_ms for t in tasks) / run_ms if run_ms else 0.0,
        "lineage.write_job_s": med_s("lineage.write"),
        "lineage.partition_scan_s": med_s("lineage.partition_scan"),
        "lineage.bytes_per_doc":
            statistics.median(lineage_bytes) / wl.docs_per_job if lineage_bytes else 0.0,
        "spatial.ops.pip_join_s": med_s("spatial.ops.pip_join"),
        "spatial.ops.knn_join_s": med_s("spatial.ops.knn_join"),
        "spatial.ops.coverage_s": med_s("spatial.ops.coverage"),
        "spatial.ops.rows_read_per_result":
            sum(t.rows_read for t in tasks_of(spatial_ops)) / results if results else 0.0,
        "spatial.salted.hot_keys_s": med_s("spatial.salted.hot_keys"),
        "spatial.salted.join_s": med_s("spatial.salted.join"),
        "spatial.salted.task_skew":
            stage_skew(tasks_of(named("spatial.salted.join")))
            if named("spatial.salted.join") else 0.0,
        "trace.overhead_frac":
            statistics.median(traced) / statistics.median(untraced) - 1
            if traced and untraced else 0.0,
    }


def run(args) -> dict:
    import host
    from spans import Tracer, read_event_log

    import corpus as corpus_mod
    from workloads import WORKLOADS, Corpus

    # BENCHMARK.json names the metrics a run prints, with their units; the
    # info line has every end-to-end figure measured
    listed = json.loads((ROOT / "BENCHMARK.json").read_text())[
        "per_layer" if args.trace else "end_to_end"]
    facts = host.host_facts()
    cores = min(facts["nproc_affinity"], 4)
    mem_mb = max(1024, min(4096, facts["mem_total_kb"] // 1024 // 8))
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        (work / d).mkdir(parents=True)
    out_dir.mkdir(exist_ok=True)
    os.environ.update({
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"), "TMPDIR": str(work / "tmp"),
    })

    t0 = time.perf_counter()
    seed = corpus_mod.corpus_seed(args.seed)
    corpus = Corpus(seed, corpus_mod.make_documents(seed, corpus_mod.N_DOCS))
    golden = json.loads((Path(__file__).parent / "golden.json").read_text())
    wl = WORKLOADS[args.workload](
        corpus, golden.get(f"{args.workload}:{seed}:{corpus.n_docs}"))
    prep_s = time.perf_counter() - t0

    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession

    conf = SparkConf().setAll(spark_conf(work, cores, mem_mb, event_log=bool(args.trace)).items())
    off = Tracer(False)
    tracer = Tracer(bool(args.trace))
    failed, attempted = 0, 0
    try:
        t0 = time.perf_counter()
        spark = SparkSession(SparkContext.getOrCreate(conf))
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter()
        corpus_dir = work / "corpus"
        corpus_mod.write_span_table(
            corpus_mod.make_documents(seed, corpus_mod.N_DOCS), corpus_dir)
        t_corpus = time.perf_counter()
        wl.setup(spark, corpus_dir, work)
        t_setup = time.perf_counter()
        cold = wl.job(off)
        t1 = time.perf_counter()
        setup_s = t1 - t0
        setup_phases = {"session_s": t_session - t0, "corpus_s": t_corpus - t_session,
                        "materialize_s": t_setup - t_corpus, "cold_job_s": t1 - t_setup}
        attempted += 1
        failed += not (wl.check(cold)[0] and getattr(wl, "check_setup", lambda: True)())
        tracer.spark = spark

        def run_job(tr) -> dict:
            nonlocal attempted, failed
            cpu0 = host.cpu_snapshot()
            t0 = time.perf_counter()
            root, ok, extra = None, False, {}
            try:
                with tr.span(f"{args.workload}.job") as root:
                    res = wl.job(tr)
                job_s = time.perf_counter() - t0
                cpu = host.cpu_spent(cpu0, host.cpu_snapshot())
                ok, extra = wl.check(res)
            except Exception as e:
                job_s = time.perf_counter() - t0
                cpu = host.cpu_spent(cpu0, host.cpu_snapshot())
                extra = {"error": f"{type(e).__name__}: {e}"[:2000]}
                traceback.print_exc()
            attempted += 1
            failed += not ok
            return {"job_s": job_s, "cpu": cpu, "ok": ok, "extra": extra, "span": root}

        # The first warm job after a cold one runs slower while the JIT
        # keeps compiling; it is checked but neither timed nor traced.
        warmup = run_job(off)
        jobs = []
        load_start = host.loadavg()
        t_loop = time.perf_counter()
        while True:
            jobs.append(run_job(tracer if args.trace and len(jobs) % 2 == 0 else off))
            # Start no job that the last one's time says would end after the
            # window, so a run's job count stays put while the host's speed
            # drifts; but measure at least MIN_JOBS.
            if (len(jobs) >= MIN_JOBS
                    and time.perf_counter() - t_loop + jobs[-1]["job_s"] > args.seconds):
                break
        loop_s = time.perf_counter() - t_loop
        # A full collection first, so that the memory figures count what
        # the program still holds, not garbage the collector had not yet
        # reclaimed.
        jvm = spark.sparkContext._jvm
        jvm.System.gc()
        rss_after = host.tree_rss_mb()
        mgmt = jvm.java.lang.management.ManagementFactory
        heap, nonheap = (mgmt.getMemoryMXBean().getHeapMemoryUsage(),
                         mgmt.getMemoryMXBean().getNonHeapMemoryUsage())

        def heap_after_gc():
            # the heap as the last collection left it: its current use also
            # counts the allocation buffers that threads claimed since, which
            # grow with the heap's size, not with what the program holds
            return sum(p.getCollectionUsage().getUsed() for p in mgmt.getMemoryPoolMXBeans()
                       if p.getType().name() == "HEAP" and p.getCollectionUsage() is not None)

        # A collection only queues the finished jobs' shuffles and
        # broadcasts for Spark's cleaner thread, which frees them after it,
        # sometimes a round late. Without two rounds in a row that free
        # nothing, the live heap reads 10-35% high by a varying amount.
        heap_live, idle = heap_after_gc(), 0
        for _ in range(10):
            time.sleep(0.5)
            jvm.System.gc()
            prev, heap_live = heap_live, heap_after_gc()
            idle = idle + 1 if heap_live > prev - 2**19 else 0
            if idle == 2:
                break
        jvm_mem = {"heap_live": heap_live / 2**20, "heap_used": heap.getUsed() / 2**20,
                   "nonheap_used": nonheap.getUsed() / 2**20,
                   "heap_committed": heap.getCommitted() / 2**20}
        peak_rss = host.tree_peak_rss_mb()
        direct = direct_calls(corpus, tracer) if args.trace else {}
    finally:
        stopped = stop_jvm(host)

    times = [j["job_s"] for j in jobs]
    n = len(jobs)
    job_s = statistics.median(times)
    # CPU per job still falls by up to 10% from one job to the next while
    # the JIT compiles, so it is taken over the first MIN_JOBS jobs, which
    # every run has: over all jobs it would fall whenever a faster host
    # fits one more job into the window.
    def cpu_s(*classes):
        return statistics.median(sum(j["cpu"][c] for c in classes) for j in jobs[:MIN_JOBS])

    job_cpu_s = cpu_s("all")
    # the executors' share: Spark task threads and Python workers, the
    # CPU that reads, converts, joins and aggregates the data
    exec_cpu_s = cpu_s("task", "python")
    e2e = {
        "setup_s": setup_s,
        "docs_per_s": wl.docs_per_job / job_s,
        "points_per_s": wl.points_per_job / job_s,
        "job_s_p50": job_s,
        "job_s_tail": percentile(times, TAIL_PERCENTILE),
        "cpu_s_per_kdoc": job_cpu_s / (wl.docs_per_job / 1e3),
        "cpu_s_per_mpoint": job_cpu_s / (wl.points_per_job / 1e6),
        "exec_cpu_s_per_kdoc": exec_cpu_s / (wl.docs_per_job / 1e3),
        "exec_cpu_s_per_mpoint": exec_cpu_s / (wl.points_per_job / 1e6),
        "peak_rss_mb": peak_rss,
        "rss_after_mb": rss_after,
        "jvm_live_mb": jvm_mem["heap_live"] + jvm_mem["nonheap_used"],
        "jobs_ok_frac": sum(j["ok"] for j in jobs) / n,
    }
    if args.trace:
        measured = dict(direct)
        measured.update(layer_metrics(wl, tracer, jobs,
                                      read_event_log(work / "eventlog"), cores))
    else:
        measured = e2e
    shutil.rmtree(work, ignore_errors=True)

    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": facts, "loadavg_loop_start": load_start, "loadavg_end": host.loadavg(),
        "cores": cores, "driver_memory_mb": mem_mb, "corpus_docs": corpus.n_docs,
        "docs_per_job": wl.docs_per_job, "points_per_job": wl.points_per_job,
        "corpus_seed": seed,
        "prep_s": prep_s, "setup_phases": setup_phases, "warmup_job_s": warmup["job_s"],
        "loop_s": loop_s, "jobs": n, "job_s": times,
        "job_cpu_s": [{c: round(s, 3) for c, s in j["cpu"].items()} for j in jobs],
        "jvm_after_gc_mb": jvm_mem,
        "failed_jobs": [dict(j["extra"], job=i) for i, j in enumerate([warmup] + jobs)
                        if not j["ok"]],
        "stop": stopped,
        "job_s_tail_percentile": TAIL_PERCENTILE,
        "job_s_tail_samples_above": sum(t > e2e["job_s_tail"] for t in times),
        "end_to_end": e2e,
        "not_measured_from_outside": {
            "per-lane document counts inside executor tasks":
                "the tile kernel picks a parser lane per document inside the task; "
                "hit ratios are measured on a driver-side sample instead",
            "self time of convert_core inside the lineage write job":
                "the conversion runs inside the write job's tasks; only the whole "
                "job (lineage.write_job_s) and direct single-core calls are timed",
        },
    }
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(dict(info, spans=tracer.records()), indent=1))
    print("info " + json.dumps(info))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
                        for m in listed}}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    try:
        import kml2geojson_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
