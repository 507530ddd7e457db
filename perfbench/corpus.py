"""The benchmark's seeded corpus.

Regular documents come from ``datagen.synthesize_kml``. A seeded share
is rewritten into irregular documents that ``kmlparse_fast`` must refuse
(an XML comment, a self-closing element, or markup inside CDATA), so the
tile path's fallback lanes do real work. Documents are packed with
``datagen.pack_spans`` and written as a span table of parquet files;
the program under test only ever sees that table.
"""

from __future__ import annotations

import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from kml2geojson_spark import datagen

N_DOCS = 1200
N_FILES = 8
# golden.json records the expected outputs of corpora 0 .. GOLDEN_SEEDS-1;
# a run's --seed picks one of them (see corpus_seed)
GOLDEN_SEEDS = 200
IRREGULAR_SHARE = 0.10
IRREGULAR_KINDS = ("comment", "selfclose", "cdata_markup")

SPANS_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32())]))


def _irregular(kml: str, kind: str) -> str:
    if kind == "comment":
        return kml.replace("<Document>", "<Document><!-- irregular: comment -->", 1)
    if kind == "selfclose":
        return kml.replace("<Document>", "<Document><open/>", 1)
    # markup inside CDATA, as the first placemark's first description
    return kml.replace(
        "<name>pm-0</name>", "<name>pm-0</name><description><![CDATA["
        "<b>irregular</b> markup]]></description>", 1)


def corpus_seed(seed: int) -> int:
    """The recorded corpus a run's --seed selects."""
    return seed % GOLDEN_SEEDS


def make_documents(seed: int, n_docs: int) -> list[tuple[str, str]]:
    """[(doc_id, kml)] — identical for identical (seed, n_docs)."""
    rng = random.Random(seed * 1_000_003 + 17)
    docs = []
    for i in range(n_docs):
        kml = datagen.synthesize_kml(i, seed)
        if rng.random() < IRREGULAR_SHARE:
            kml = _irregular(kml, IRREGULAR_KINDS[rng.randrange(len(IRREGULAR_KINDS))])
        docs.append((f"doc-{i:08d}", kml))
    return docs


def docs_per_file(n_docs: int, n_files: int = N_FILES) -> int:
    return -(-n_docs // n_files)


def write_span_table(docs: list[tuple[str, str]], out_dir: Path,
                     n_files: int = N_FILES) -> None:
    """Pack every document into spans and write ``n_files`` parquet
    files of contiguous documents (one row per document)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    per_file = docs_per_file(len(docs), n_files)
    for f in range(n_files):
        chunk = docs[f * per_file:(f + 1) * per_file]
        if not chunk:
            break
        table = pa.table({
            "doc_id": pa.array([d for d, _ in chunk], pa.string()),
            "spans": pa.array([datagen.pack_spans(k) for _, k in chunk], SPANS_TYPE),
        })
        pq.write_table(table, out_dir / f"part-{f:05d}.parquet")
