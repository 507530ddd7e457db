"""Host facts and process-tree accounting read from ``/proc``.

The benchmark's Spark driver JVM is a child of the benchmark process and
the Python workers are children of the JVM, so "the system's" CPU and
memory is the process tree below the benchmark process (the benchmark
process itself, which only drives jobs and checks outputs, is excluded).
"""

from __future__ import annotations

import os
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def host_facts() -> dict:
    mem_kb = 0
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            mem_kb = int(line.split()[1])
    return {"nproc": os.cpu_count(), "nproc_affinity": len(os.sched_getaffinity(0)),
            "mem_total_kb": mem_kb, "loadavg": loadavg()}


def loadavg() -> list[float]:
    return [float(v) for v in Path("/proc/loadavg").read_text().split()[:3]]


def _fields(pid: int) -> list[str] | None:
    """/proc/<pid>/stat after the command name (field 3 onwards), or
    None when the process has exited."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def _stat(pid: int):
    """(ppid, cpu seconds incl. reaped children) of one process, or None
    when it has exited."""
    f = _fields(pid)
    if f is None:
        return None
    return int(f[1]), sum(int(v) for v in f[11:15]) / _TICK  # utime stime cutime cstime


def start_times(pids) -> dict[int, str]:
    """{pid: start time} — a pid together with its start time names one
    process even after the pid is reused."""
    out = {}
    for pid in pids:
        f = _fields(pid)
        if f is not None:
            out[pid] = f[19]
    return out


def running(pid: int, start: str) -> bool:
    f = _fields(pid)
    return f is not None and f[19] == start and f[0] != "Z"


def cmdline(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/cmdline").read_bytes().replace(b"\0", b" ").decode()[:200]
    except OSError:
        return ""


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live process below ``root`` (default: this one)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat(int(entry))
        if st is not None:
            children.setdefault(st[0], []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _jvm_thread_class(name: str) -> str:
    if name.startswith("Executor task"):  # "Executor task launch worker ..."
        return "task"
    if "CompilerThre" in name:
        return "jit"
    if name.startswith(("GC ", "G1 ", "VM ")):
        return "gc"
    return "driver"


def cpu_snapshot() -> dict:
    """CPU seconds consumed so far by the processes below this one:
    ``{"all": s, "python": s, "threads": {(pid, tid): (class, s)}}``.

    The JVM's threads are classed by name: ``task`` (Spark's executor task
    threads), ``jit`` (its compiler threads), ``gc`` (collector and VM
    threads) and ``driver`` (every other thread: planning, scheduling,
    shuffle service, RPC). Every other process below this one is a Python
    worker, daemon or launcher; their CPU, and what the JVM's reaped
    children used, is ``python``."""
    snap = {"all": 0.0, "python": 0.0, "threads": {}}
    for pid in descendants():
        f = _fields(pid)
        if f is None:
            continue
        own, reaped = (sum(int(v) for v in f[11:13]) / _TICK,
                       sum(int(v) for v in f[13:15]) / _TICK)
        snap["all"] += own + reaped
        try:
            comm = Path(f"/proc/{pid}/comm").read_text().strip()
        except OSError:
            continue
        if comm != "java":
            snap["python"] += own + reaped
            continue
        snap["python"] += reaped
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                raw = Path(f"/proc/{pid}/task/{tid}/stat").read_text()
            except OSError:
                continue
            tf = raw[raw.rindex(")") + 2:].split()
            snap["threads"][(pid, tid)] = (
                _jvm_thread_class(raw[raw.index("(") + 1:raw.rindex(")")]),
                sum(int(v) for v in tf[11:13]) / _TICK)
    return snap


def cpu_spent(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds by class between two snapshots, plus ``all``. A JVM
    thread that ended in between takes its CPU out of the per-thread
    figures; ``driver`` is what the JVM used beyond the other classes, so
    that CPU lands there and the classes still add up to ``all``."""
    out = {"task": 0.0, "jit": 0.0, "gc": 0.0,
           "python": after["python"] - before["python"]}
    for key, (cls, s) in after["threads"].items():
        if cls != "driver":
            out[cls] += s - before["threads"].get(key, (cls, 0.0))[1]
    out["all"] = after["all"] - before["all"]
    out["driver"] = out["all"] - out["task"] - out["jit"] - out["gc"] - out["python"]
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(key):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb() -> float:
    return sum(_status_kb(p, "VmRSS:") for p in descendants()) / 1024.0


def tree_peak_rss_mb() -> float:
    """Sum of each live descendant's peak resident set (VmHWM)."""
    return sum(_status_kb(p, "VmHWM:") for p in descendants()) / 1024.0
