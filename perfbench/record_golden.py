#!/usr/bin/env python3
"""Record the golden output digests of convert_geojson and tile_points
for corpora 0 .. GOLDEN_SEEDS-1 into golden.json:

    python3 perfbench/record_golden.py

A run compares every job against this record and never recomputes it, so
a change to the converter's output fails the check. convert_geojson's
digest comes from the single-process converter (``convert_kml_string``),
tile_points' from the xml.etree oracle with its own Morton encoder.
"""

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import corpus as corpus_mod  # noqa: E402
import oracle  # noqa: E402
from workloads import TILE_RES, Corpus, convert_rows  # noqa: E402


def main() -> None:
    golden = {}
    for seed in range(corpus_mod.GOLDEN_SEEDS):
        c = Corpus(seed, corpus_mod.make_documents(seed, corpus_mod.N_DOCS))
        golden[f"convert_geojson:{seed}:{c.n_docs}"] = oracle.digest(
            r for d, k in c.docs for r in convert_rows(d, k))
        golden[f"tile_points:{seed}:{c.n_docs}"] = oracle.digest(
            oracle.tile_rows(c.doc_points, TILE_RES))
    (HERE / "golden.json").write_text(json.dumps(dict(sorted(golden.items())), indent=0) + "\n")


if __name__ == "__main__":
    main()
