"""Paired perfbench runs, parent commit vs working tree:

    python tools/perf_pairs.py --workload convert_geojson --seeds 41-50 [--parent HEAD]

Extracts ``--parent`` with ``git archive`` and copies the working tree's
tracked and untracked, non-ignored files (``git ls-files -co
--exclude-standard``) into sibling temporary directories, so both sides
run from fresh copies at the same depth; then, per seed, runs
``perfbench/run.py`` on both sides, alternating which side goes first.
Prints per pair the listed metrics, the unlisted end-to-end
``job_s_p50`` and ``cpu_s_per_*`` (so a change that trades executor CPU
for driver wall time shows up), each ``info.setup_phases`` phase as
``setup.<phase>`` (so a slow ``setup_s`` names its phase: session
start, corpus write, workload materialize or cold job), and the per-job
median of each ``info.job_cpu_s`` class; then each side's median and
quartiles, and per metric the median change/parent ratio and how many
pairs read lower at the change.
"""

from __future__ import annotations

import argparse
import io
import json
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
UNLISTED = ("job_s_p50", "cpu_s_per_kdoc", "cpu_s_per_mpoint")


def run(tree: Path, args, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace)],
        cwd=tree, capture_output=True, text=True, check=True).stdout.splitlines()
    info = json.loads(next(line for line in out if line.startswith("info "))[5:])
    row = {k: v["value"] for k, v in json.loads(out[-1])["metrics"].items()}
    row.update({k: info["end_to_end"][k] for k in UNLISTED})
    row.update({f"setup.{k}": v for k, v in info["setup_phases"].items()})
    for c in info["job_cpu_s"][0]:
        row[f"cpu.{c}"] = statistics.median(j[c] for j in info["job_cpu_s"])
    return row


def copy_worktree(dest: Path) -> None:
    names = subprocess.run(["git", "ls-files", "-co", "--exclude-standard", "-z"], cwd=ROOT,
                           check=True, capture_output=True, text=True).stdout.split("\0")
    for name in filter(None, names):
        src = ROOT / name
        if src.is_symlink() or src.is_file():  # a tracked file deleted in the tree is skipped
            (dest / name).parent.mkdir(parents=True, exist_ok=True)
            shutil.copy2(src, dest / name, follow_symlinks=False)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 41-50")
    ap.add_argument("--parent", default="HEAD")
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    first, last = map(int, args.seeds.split("-"))
    sides = {"parent": [], "change": []}
    with tempfile.TemporaryDirectory(prefix="perf_pairs-") as tmp:
        parent, change = Path(tmp, "parent"), Path(tmp, "change")
        tar = subprocess.run(["git", "archive", args.parent], cwd=ROOT, check=True,
                             capture_output=True).stdout
        tarfile.open(fileobj=io.BytesIO(tar)).extractall(parent)
        copy_worktree(change)
        trees = [("parent", parent), ("change", change)]
        for i, seed in enumerate(range(first, last + 1)):
            for name, tree in trees[:: 1 if i % 2 == 0 else -1]:
                sides[name].append(run(tree, args, seed))
            print(f"seed {seed}", {n: {k: round(v, 3) for k, v in rows[-1].items()}
                                   for n, rows in sides.items()}, flush=True)
    for name, rows in sides.items():
        for k in rows[0]:
            vals = [r[k] for r in rows]
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else vals * 3
            print(f"{name:6} {k:28} median {q[1]:.4f}  quartiles {q[0]:.4f} .. {q[2]:.4f}")
    for k in sides["parent"][0]:
        pairs = [(p[k], c[k]) for p, c in zip(sides["parent"], sides["change"])]
        ratios = [c / p for p, c in pairs if p]
        lower = sum(c < p for p, c in pairs)
        print(f"pairs  {k:28} median ratio {statistics.median(ratios) if ratios else float('nan'):.4f}"
              f"  change lower in {lower}/{len(pairs)}")


if __name__ == "__main__":
    main()
