"""CPU per document of the convert kernel, parent commit vs working tree:

    python tools/kernel_bench.py --seed 401 [--rounds 6] [--parent HEAD]

The kernel is what a convert_geojson task runs per document: parse
(``parse_kml``), build (the feature collection and the svg style
catalog) and JSON (encoding both). Each measurement is one pass, in a
fresh Python process, over the 1,200 documents of the perfbench corpus
that ``--seed`` selects; every document is converted once, as in a
worker, not best-of-N over warm repeats (which overstates a gain). The
parent (``git archive --parent``) and the working tree run in
alternating order, ``--rounds`` times each. Prints per round the ms/doc
of each phase, then per side the median and per phase the median
change/parent ratio over the rounds.

It takes seconds, so it is a first signal before ``tools/perf_pairs.py``;
it does not replace it (no Spark, no Arrow, no lineage write).
"""

from __future__ import annotations

import argparse
import io
import json
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PHASES = ("parse", "build", "json", "total")


def worker(tree: str, docs_path: str) -> None:
    """One fresh pass over the documents with the package of ``tree``;
    prints CPU seconds per phase as JSON."""
    sys.path.insert(0, tree)
    from kml2geojson_spark import engine
    from kml2geojson_spark.convert_core import (build_feature_collection_dict,
                                                build_style_catalog)
    from kml2geojson_spark.kmlparse import parse_kml

    # the tree's own encoder, as its _convert_batch uses it
    encode = getattr(engine, "_json_encode", json.dumps)
    kmls = json.loads(Path(docs_path).read_text())
    clock = time.process_time
    cpu = dict.fromkeys(PHASES[:3], 0.0)
    for kml in kmls:
        t0 = clock()
        root = parse_kml(kml)
        t1 = clock()
        layers = [build_feature_collection_dict(root)]
        style = build_style_catalog(root, "svg")
        t2 = clock()
        encode(style)
        for la in layers:
            encode(la)
        t3 = clock()
        cpu["parse"] += t1 - t0
        cpu["build"] += t2 - t1
        cpu["json"] += t3 - t2
    cpu["total"] = sum(cpu.values())
    print(json.dumps({k: v / len(kmls) * 1e3 for k, v in cpu.items()}))


def measure(tree: Path, docs_path: str) -> dict:
    out = subprocess.run(
        [sys.executable, __file__, "--worker", str(tree), docs_path],
        capture_output=True, text=True, check=True).stdout
    return json.loads(out.splitlines()[-1])


def main() -> None:
    if sys.argv[1:2] == ["--worker"]:
        worker(sys.argv[2], sys.argv[3])
        return
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rounds", type=int, default=6)
    ap.add_argument("--parent", default="HEAD")
    args = ap.parse_args()

    sys.path.insert(0, str(ROOT / "perfbench"))
    sys.path.insert(0, str(ROOT))
    import corpus

    docs = corpus.make_documents(corpus.corpus_seed(args.seed), corpus.N_DOCS)
    sides = {"parent": [], "change": []}
    with tempfile.TemporaryDirectory(prefix="kernel_bench-") as tmp:
        docs_path = str(Path(tmp) / "docs.json")
        Path(docs_path).write_text(json.dumps([k for _, k in docs]))
        parent = Path(tmp) / "parent"
        tar = subprocess.run(["git", "archive", args.parent], cwd=ROOT, check=True,
                             capture_output=True).stdout
        tarfile.open(fileobj=io.BytesIO(tar)).extractall(parent)
        trees = [("parent", parent), ("change", ROOT)]
        for r in range(args.rounds):
            for name, tree in trees[:: 1 if r % 2 == 0 else -1]:
                sides[name].append(measure(tree, docs_path))
            print(f"round {r}  " + "  ".join(
                f"{n} " + " ".join(f"{k} {rows[-1][k]:.3f}" for k in PHASES)
                for n, rows in sides.items()), flush=True)
    for name, rows in sides.items():
        print(f"{name:6} ms/doc median  " + "  ".join(
            f"{k} {statistics.median(r[k] for r in rows):.3f}" for k in PHASES))
    for k in PHASES:
        ratios = [c[k] / p[k] for p, c in zip(sides["parent"], sides["change"]) if p[k]]
        lower = sum(c[k] < p[k] for p, c in zip(sides["parent"], sides["change"]))
        print(f"ratio  {k:6} median {statistics.median(ratios):.3f}"
              f"  change lower in {lower}/{len(ratios)}")


if __name__ == "__main__":
    main()
