"""Training-data pipeline text operators over a ``documents(doc_id,
text, ...)`` table — deduplication, fingerprinting, token statistics,
quality scoring, language guessing.

Everything SQL-shaped is a pure Column expression (JVM, codegen, no
Python) — including the MinHash and SimHash signature pipelines. All
hash functions used in cross-engine-checked paths derive from md5
(identical in Spark and DuckDB), never from engine-specific
``hash()``, so the driver oracle replays signatures bit-exactly.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window as SparkWindow, functions as F

# ---------------------------------------------------------------------------
# Column-expression operators (exact dedup, fingerprints, stats)
# ---------------------------------------------------------------------------

def content_hash_col(text: F.Column) -> F.Column:
    """Stable cross-engine content hash (md5 hex)."""
    return F.md5(text)


def fingerprint64_col(text: F.Column) -> F.Column:
    """64-bit-ish document fingerprint: first 12 md5 hex chars → BIGINT
    (DuckDB equivalent: ``CAST('0x' || substr(md5(t),1,12) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(text), 1, 12), 16, 10).cast("long")


def exact_duplicates(documents: DataFrame, *, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash-groupBy: one row per duplicated content,
    with the cluster size and the keeper (min id). Partial aggregation
    (map-side combine) makes this a single cheap shuffle at scale."""
    return (documents
            .select(F.col(id_col).alias("doc_id"),
                    content_hash_col(F.col(text_col)).alias("content_hash"))
            .groupBy("content_hash")
            .agg(F.count(F.lit(1)).alias("n_dups"),
                 F.min("doc_id").alias("keeper_id"))
            .where(F.col("n_dups") > 1))


def token_count_col(text: F.Column) -> F.Column:
    """Whitespace token count (single-space split, matching the DuckDB
    oracle's ``len(string_split(t, ' '))``)."""
    return F.size(F.split(text, " "))


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def bpe_token_count_col(text: F.Column) -> F.Column:
    """BPE-ish token count: alpha runs, digit runs, and single
    punctuation marks — the pre-tokenization split a byte-pair encoder
    applies before merges (ASCII-only pattern so Java-regex and RE2
    engines agree)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def bpe_token_stats(documents: DataFrame) -> DataFrame:
    alpha = F.size(F.regexp_extract_all(
        F.col("text"), F.lit(r"[A-Za-z]+"), F.lit(0)))
    digit = F.size(F.regexp_extract_all(
        F.col("text"), F.lit(r"[0-9]+"), F.lit(0)))
    return documents.select(
        "doc_id",
        bpe_token_count_col(F.col("text")).alias("n_bpe_tokens"),
        alpha.alias("n_alpha_tokens"),
        digit.alias("n_digit_tokens"),
    )


def md5_bucket_col(col: F.Column) -> F.Column:
    """Engine-portable 8-bit hash bucket (0..255): first 2 md5 hex
    chars of the value's string form. The ONE definition shared by the
    split assigner and the deterministic sampler — DuckDB equivalent:
    ``('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 2))::BIGINT``."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 2), 16, 10) \
        .cast("long")


def split_assign_col(id_col: F.Column, *, train_pct: int = 80,
                     val_pct: int = 10) -> F.Column:
    """Deterministic train/val/test assignment by content-independent
    hash of the id: md5 → 2 hex chars → bucket 0..255. Stable across
    runs, engines and cluster sizes (no RNG, no partition dependence) —
    the property a reproducible training-data split needs.
    """
    bucket = md5_bucket_col(id_col)
    train_hi = 256 * train_pct // 100
    val_hi = train_hi + 256 * val_pct // 100
    return (F.when(bucket < train_hi, F.lit("train"))
            .when(bucket < val_hi, F.lit("val"))
            .otherwise(F.lit("test")))


def stratified_split_counts(documents: DataFrame, *,
                            strata_col: str = "lang") -> DataFrame:
    """Split sizes per stratum — the sanity check a pipeline runs after
    assigning splits (one hash-groupBy; assignment itself is a pure
    Column, so splitting 10^12 docs is a narrow map)."""
    return (documents
            .withColumn("split", split_assign_col(F.col("doc_id")))
            .groupBy(strata_col, "split")
            .agg(F.count(F.lit(1)).alias("n_docs")))


def keyword_search_all(documents: DataFrame, terms: list[str]) -> DataFrame:
    """Documents containing ALL query terms as exact space-delimited
    tokens — the inverted-index retrieval shape: explode distinct
    tokens, keep only query terms (a tiny broadcast-able filter),
    count distinct matched terms per doc, require all of them.

    At scale the exploded (token, doc_id) table IS the inverted index —
    materialize it partitioned by token and every subsequent query is a
    posting-list merge instead of a corpus scan. Matches the scan-side
    SQL ``' '||lower(text)||' ' LIKE '% term %'`` formulation exactly
    for SINGLE-token terms; phrases are rejected (a space-split token
    can never equal a multi-word term).
    """
    lowered = sorted({t.lower() for t in terms})
    if any(" " in t for t in lowered):
        raise ValueError("terms must be single tokens (no spaces); "
                         "phrase search needs positional postings")
    toks = documents.select(
        "doc_id",
        F.explode(F.array_distinct(
            F.split(F.lower(F.col("text")), " "))).alias("tok"))
    return (toks.where(F.col("tok").isin(lowered))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") == len(lowered))
            .select("doc_id"))


def token_stats(documents: DataFrame) -> DataFrame:
    return documents.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Cheap quality heuristics: alpha ratio, mean token length, and a
    composite score — all exact integer-length arithmetic divided once,
    so values are bit-identical across engines."""
    n_chars = F.length("text")
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    n_tokens = token_count_col(F.col("text"))
    return documents.select(
        "doc_id",
        n_chars.alias("n_chars_measured"),
        (n_alpha.cast("double") / n_chars).alias("alpha_ratio"),
        (n_chars.cast("double") / n_tokens).alias("mean_token_len"),
    ).where(n_chars > 0)


_LANG_MARKERS = [
    ("en", " the "), ("fr", " le "), ("de", " der "), ("es", " el "),
    ("zh", " ba "),
]


def _occurrences(text: F.Column, needle: str) -> F.Column:
    return ((F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
            / F.lit(len(needle))).cast("long")


def lang_guess(documents: DataFrame) -> DataFrame:
    """Marker-token language heuristic. Deterministic argmax: the first
    marker (fixed order) with count == greatest(counts) wins; all-zero
    counts → 'und'. Mirrors a plain CASE expression in the oracle."""
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    counts = {lang: _occurrences(padded, needle) for lang, needle in _LANG_MARKERS}
    best = F.greatest(*counts.values())
    expr = F.lit("und")
    for lang, _ in reversed(_LANG_MARKERS):
        expr = F.when((counts[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    # re-evaluate in fixed order: earlier markers override later ones
    return documents.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        expr.alias("lang_guess"),
    )


# ---------------------------------------------------------------------------
# MinHash / SimHash near-duplicate detection (numpy kernels)
# ---------------------------------------------------------------------------

MERSENNE = (1 << 61) - 1


def _shingle_hashes(text: str, width: int) -> np.ndarray:
    """Unique 64-bit polynomial hashes of all character shingles
    (vectorized: `width` shifted adds over the byte array, wrap-around
    uint64 arithmetic)."""
    b = np.frombuffer(text.encode("utf-8", "ignore"), dtype=np.uint8)
    if len(b) < width:
        return np.array([hash_bytes_u64(bytes(b))], dtype=np.uint64)
    acc = np.zeros(len(b) - width + 1, dtype=np.uint64)
    base = np.uint64(1099511628211)
    for i in range(width):
        acc = acc * base + b[i: len(b) - width + 1 + i].astype(np.uint64)
    return np.unique(acc)


def hash_bytes_u64(data: bytes) -> np.uint64:
    h = np.uint64(14695981039346656037)
    for byte in data:
        h = (h ^ np.uint64(byte)) * np.uint64(1099511628211)
    return h


# MinHash permutation arithmetic: the 60-bit md5 shingle hash is split
# into 30-bit halves so (a1*hi + a2*lo + b) stays < 2^62 — never
# overflowing signed 64-bit in EITHER engine (Spark wraps silently on
# overflow; DuckDB raises — staying in range keeps both exact and
# identical). The modulus is the Mersenne prime 2^61-1.
MINHASH_HALF_BITS = 30
MINHASH_HALF_MASK = (1 << MINHASH_HALF_BITS) - 1


def minhash_permutation_constants(n_hashes: int, seed: int = 42):
    """Deterministic (a1, a2, b) permutation constants shared by the
    Spark signatures and the DuckDB oracle (which inlines them as a
    VALUES list)."""
    rng = np.random.default_rng(seed)
    a1 = rng.integers(1, 1 << MINHASH_HALF_BITS, n_hashes, dtype=np.int64)
    a2 = rng.integers(1, 1 << MINHASH_HALF_BITS, n_hashes, dtype=np.int64)
    b = rng.integers(0, MERSENNE, n_hashes, dtype=np.int64)
    return a1, a2, b


def _char_ngram_arr(text_col: str, n: int, *, distinct: bool = True,
                    short_text: str = "empty") -> F.Column:
    """Character n-grams of ``text_col`` as an array Column — the ONE
    definition every gram-based operator builds on (jaccard,
    decontamination, repetition, minhash shingles), so the subtle
    guards live in one place: Spark's ``sequence(1, 0)`` runs
    DESCENDING, so texts shorter than ``n`` are handled explicitly —
    ``short_text="empty"`` yields no grams (matching SQL
    generate_series semantics), ``short_text="whole"`` yields the
    whole NULL-coalesced text as a single gram (the MinHash shingle
    fallback)."""
    if short_text == "whole":
        src = f"coalesce({text_col}, '')"
    elif short_text == "empty":
        src = text_col
    else:
        raise ValueError(f"unknown short_text mode {short_text!r}")
    grams = F.expr(f"transform(sequence(1, length({src}) - {n - 1}), "
                   f"i -> substring({src}, i, {n}))")
    if distinct:
        grams = F.array_distinct(grams)
    if short_text == "whole":
        t = F.coalesce(F.col(text_col), F.lit(""))
        return F.when(F.length(t) >= n, grams).otherwise(F.array(t))
    return F.when(F.length(F.col(text_col)) >= n, grams) \
        .otherwise(F.array().cast("array<string>"))


def _shingle_gram_arr(text_col: str, shingle: int) -> F.Column:
    """Distinct character shingles of ``text_col``; texts shorter than
    the shingle width contribute the whole text as their single
    shingle (mirrors the classic rolling-hash fallback). NULL text is
    treated as empty."""
    return _char_ngram_arr(text_col, shingle, distinct=True,
                           short_text="whole")


def minhash_signatures(documents: DataFrame, *, n_hashes: int = 32,
                       shingle: int = 5, text_col: str = "text",
                       id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Per-document MinHash signature over character shingles —
    entirely in JVM Column expressions (codegen; zero Python).

    Shingle hash = first 15 md5 hex chars → 60-bit integer (the same
    md5 trick as the SimHash/fingerprint/HLL operators), permuted by
    ``min((a1*hi + a2*lo + b) mod (2^61-1))`` over the hash's 30-bit
    halves — every step replayable in DuckDB, so the driver oracle
    checks signatures bit-exactly (q40/q58) instead of rows-only. The
    ``n_hashes`` mins ride ONE hash-groupBy (single shuffle, map-side
    partial aggregation — the same shape as the 60-sum SimHash
    aggregate). Output: (doc_id, sig array<long>).
    """
    a1, a2, b = minhash_permutation_constants(n_hashes, seed)
    grams = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_shingle_gram_arr(text_col, shingle)).alias("_gram"))
    h = F.conv(F.substring(F.md5("_gram"), 1, 15), 16, 10).cast("long")
    hh = grams.select(
        "doc_id",
        F.shiftright(h, MINHASH_HALF_BITS).alias("_hi"),
        h.bitwiseAND(F.lit(MINHASH_HALF_MASK)).alias("_lo"))
    aggs = [
        F.min((F.lit(int(a1[i])) * F.col("_hi")
               + F.lit(int(a2[i])) * F.col("_lo")
               + F.lit(int(b[i]))) % F.lit(MERSENNE)).alias(f"_m{i}")
        for i in range(n_hashes)
    ]
    mins = hh.groupBy("doc_id").agg(*aggs)
    sig = F.array(*[F.col(f"_m{i}") for i in range(n_hashes)])
    return mins.select("doc_id", sig.alias("sig"))


def minhash_candidate_pairs(documents: DataFrame, *, n_hashes: int = 32,
                            bands: int = 8, shingle: int = 5,
                            seed: int = 42) -> DataFrame:
    """LSH banding: signatures → (band_idx, band_key) buckets →
    self-join within buckets → candidate near-duplicate pairs
    (doc_a < doc_b, deduplicated). The classic shingle→minhash→band→
    bucket-join pipeline as pure DataFrame ops (one shuffle on the
    bucket key + one aggregate). The band key is the comma-joined
    signature slice — engine-portable, so the DuckDB oracle replays
    the candidate set exactly (a Spark-only ``hash()`` would not)."""
    assert n_hashes % bands == 0
    rows_per_band = n_hashes // bands
    sigs = minhash_signatures(documents, n_hashes=n_hashes, shingle=shingle,
                              seed=seed)
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(*[
                F.concat_ws(
                    ",", *[F.col("sig")[i].cast("string")
                           for i in range(b * rows_per_band,
                                          (b + 1) * rows_per_band)])
                for b in range(bands)
            ])
        ).alias("band_idx", "band_key"),
    )
    left = banded.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_key")
    right = banded.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_key")
    pairs = (left.join(right, ["band_idx", "band_key"])
             .where(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b").distinct())
    return pairs


def minhash_similarity(pairs: DataFrame, sigs: DataFrame) -> DataFrame:
    """Estimated Jaccard for candidate pairs: fraction of equal
    signature positions. Two broadcast-able joins against the signature
    table."""
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    joined = pairs.join(sa, "doc_a").join(sb, "doc_b")
    eq = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b))")
    return joined.select(
        "doc_a", "doc_b",
        (eq.cast("double") / F.size("sig_a")).alias("est_jaccard"))


def simhash_col_signatures(documents: DataFrame, *, bits: int = 64,
                           shingle: int = 4, seed: int = 7) -> DataFrame:
    """SimHash: per-doc 64-bit signature — sum of ±1 per bit over
    shingle hashes, sign → bit. numpy vectorized per doc."""
    id_type = documents.schema["doc_id"].dataType.simpleString()

    bitvals = np.uint64(1) << np.arange(bits, dtype=np.uint64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                sh = _shingle_hashes(text or "", shingle)
                # expand each 64-bit hash into bit matrix
                bits_m = ((sh[:, None] >> np.arange(bits, dtype=np.uint64)[None, :])
                          & np.uint64(1)).astype(np.int64)
                weights = (bits_m * 2 - 1).sum(axis=0)
                # vectorized bit assembly: positive-weight bit values
                # summed in one pass (no per-bit Python loop)
                sig = np.where(weights > 0, bitvals,
                               np.uint64(0)).sum(dtype=np.uint64)
                ids.append(doc_id)
                sigs.append(sig)
            yield pd.DataFrame(
                {"doc_id": ids,
                 "simhash": np.asarray(sigs,
                                       dtype=np.uint64).astype(np.int64)})

    return documents.select("doc_id", "text") \
        .mapInPandas(run, f"doc_id {id_type}, simhash long")


SIMHASH_BITS = 60  # 15 md5 hex chars → fits a signed 64-bit in both engines


def simhash_sql_signatures(documents: DataFrame, *,
                           bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over distinct lowercase word tokens, entirely in JVM
    Column expressions (codegen; zero Python in the hot path).

    Token hash = first 15 hex chars of md5 → 60-bit integer — the same
    formula a DuckDB oracle can run (``('0x' || substr(md5(t),1,15))::
    BIGINT``), so signatures are bit-identical cross-engine.

    Per-bit weights need only the per-bit ONES count c_b and the token
    count n (weight = 2·c_b − n, so bit b is set iff 2·c_b > n). The
    ones counts are PACKED two per aggregate — bit pair (b, b+1)
    summed as ``ones(b+1) << 32 | ones(b)`` — halving the aggregate
    width (60 → 31) and with it the whole-stage-codegen compile cost
    of the groupBy, while remaining one shuffle with map-side partial
    aggregation. 32-bit lanes cannot overflow into each other: the
    count of DISTINCT tokens in one document is far below 2^32.
    Output: (doc_id, sig) — identical values to the unpacked
    formulation (the q26 brute-force oracle and the near-pair tests
    pin this).
    """
    toks = documents.select(
        "doc_id",
        F.explode(F.array_distinct(F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda t: t != ""))).alias("tok"))
    h = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
        .cast("long").alias("h"))
    bitpairs = [(b, b + 1 if b + 1 < bits else None)
                for b in range(0, bits, 2)]

    def ones(b):
        return F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))

    aggs = [F.sum(ones(lo) if hi is None
                  else F.shiftleft(ones(hi).cast("long"), 32) + ones(lo))
            .alias(f"p{lo}") for lo, hi in bitpairs]
    aggs.append(F.count(F.lit(1)).alias("n"))
    sums = h.groupBy("doc_id").agg(*aggs)
    one = F.lit(1).cast("long")
    sig = F.lit(0).cast("long")
    for lo, hi in bitpairs:
        c_lo = F.col(f"p{lo}").bitwiseAND(F.lit((1 << 32) - 1))
        sig = sig.bitwiseOR(F.when(c_lo * 2 > F.col("n"),
                                   F.shiftleft(one, lo)).otherwise(F.lit(0)))
        if hi is not None:
            c_hi = F.shiftright(F.col(f"p{lo}"), 32)
            sig = sig.bitwiseOR(F.when(c_hi * 2 > F.col("n"),
                                       F.shiftleft(one, hi))
                                .otherwise(F.lit(0)))
    return sums.select("doc_id", sig.alias("sig"))


def simhash_near_pairs(documents: DataFrame, *, max_hamming: int = 3,
                       bands: int = 4,
                       bits: int = SIMHASH_BITS) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance, found via a
    banded self-join that is PROVABLY complete: with ``bands`` bands and
    ``max_hamming < bands``, any pair within the distance budget has at
    least one band with zero differing bits (pigeonhole), so the
    band-bucket equi-join loses nothing — the result equals the O(n²)
    brute force the DuckDB oracle runs. One shuffle on the bucket key,
    candidate dedup, then exact ``bit_count(xor)`` filter (all JVM).

    Output: (doc_a, doc_b, hamming) with doc_a < doc_b.

    Scale note: a cluster of k IDENTICAL documents shares every bucket
    and genuinely produces k² pairs — that is the true answer, not a
    skew bug. On dup-heavy corpora run :func:`exact_duplicates` FIRST,
    keep one representative per content hash, and near-dup only the
    representatives; residual hot buckets are handled like hot cells
    (sampled heavy-hitter detection + salting, :mod:`.spatial.salted`).
    """
    if max_hamming >= bands:
        raise ValueError("completeness requires max_hamming < bands")
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    sigs = simhash_sql_signatures(documents, bits=bits)
    buckets = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftright(F.col("sig"), b * band_bits)
                 .bitwiseAND(F.lit(mask)).alias("bucket"))
        for b in range(bands)])
    banded = (sigs.select("doc_id", "sig", F.explode(buckets).alias("bb"))
              .select("doc_id", "sig", "bb.band", "bb.bucket"))
    a = banded.select(F.col("doc_id").alias("doc_a"),
                      F.col("sig").alias("sig_a"), "band", "bucket")
    b_ = banded.select(F.col("doc_id").alias("doc_b"),
                       F.col("sig").alias("sig_b"), "band", "bucket")
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    # hamming filter BEFORE the dedup: it is a cheap codegen'd row
    # filter on the join output, so the distinct() shuffle only carries
    # surviving pairs instead of every band collision
    return (a.join(b_, ["band", "bucket"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .withColumn("hamming", ham)
            .where(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming").distinct())


def ngram_jaccard_pairs(documents: DataFrame, *, n: int = 3,
                        threshold: float = 0.0,
                        max_doc_freq: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard for all candidate pairs sharing at least one
    n-gram: explode distinct n-grams, self-join on the gram, count
    shared per pair, |A∪B| = |A|+|B|-shared. Pure DataFrame ops —
    SQL-expressible (the DuckDB oracle runs the same algorithm).

    ``max_doc_freq`` drops grams appearing in more than that many
    documents BEFORE the self-join — a single ubiquitous gram (a stop
    phrase, boilerplate) otherwise contributes O(df²) candidate pairs,
    the quadratic blowup that kills this join at 100 TB. The trade is
    documented incompleteness: a pair sharing ONLY capped grams is not
    emitted, and for emitted pairs ``n_shared``/``jaccard`` still count
    ALL grams (sizes stay uncapped, shared counts only uncapped grams),
    so ``jaccard`` is a lower bound. Leave None (default) for the
    exact oracle-matched semantics."""
    grams = documents.select(
        "doc_id",
        F.explode(_char_ngram_arr("text", n, distinct=True)).alias("gram"))
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    if max_doc_freq is not None:
        # one extra aggregation on the gram key (map-side combinable),
        # then a semi-join filter — far cheaper than the df² candidate
        # pairs a hot gram would emit downstream
        rare = (grams.groupBy("gram")
                .agg(F.count(F.lit(1)).alias("_df"))
                .where(F.col("_df") <= max_doc_freq)
                .select("gram"))
        grams = grams.join(rare, "gram", "left_semi")
    a = grams.select(F.col("doc_id").alias("doc_a"), "gram")
    b = grams.select(F.col("doc_id").alias("doc_b"), "gram")
    shared = (a.join(b, "gram").where(F.col("doc_a") < F.col("doc_b"))
              .groupBy("doc_a", "doc_b")
              .agg(F.count(F.lit(1)).alias("n_shared")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("nb"))
    out = (shared.join(sa, "doc_a").join(sb, "doc_b")
           .withColumn("jaccard",
                       F.col("n_shared").cast("double")
                       / (F.col("na") + F.col("nb") - F.col("n_shared"))))
    if threshold > 0:
        out = out.where(F.col("jaccard") >= threshold)
    return out.select("doc_a", "doc_b", "n_shared", "jaccard")


def near_dedup_representatives(documents: DataFrame, *,
                               max_hamming: int = 3,
                               bands: int = 4) -> DataFrame:
    """The canonical training-corpus near-dedup pipeline in ONE call:
    exact duplicates (content-hash groups) ∪ SimHash near-duplicate
    pairs → connected components → representative = minimum doc_id per
    component. Output: (doc_id, rep_id) for EVERY input document
    (singletons map to themselves); the deduped corpus is
    ``WHERE doc_id = rep_id``.

    Scale shape — exact-dedup FIRST, SimHash over representatives only
    (the mitigation simhash_near_pairs' own docstring prescribes): a
    content repeated k times collapses to ONE representative before the
    band join, so identical duplicates can never produce the k² band
    collisions the raw corpus would. Each document then maps through
    its content-hash representative to that representative's component
    minimum — identical output to running the band join over the full
    corpus (an exact-dup group's members share a signature, so their
    component is their representative's). Components come from the
    diameter-independent large-star/small-star method (O(log² n) rounds
    — a 100-TB corpus with long transitive near-dup chains, e.g.
    boilerplate laddering, converges in a dozen rounds where min-label
    propagation needs one round per hop and would raise after
    ``max_iters``). Oracle-checked end-to-end (driver q59:
    recursive-CTE closure over the equivalent full edge set)."""
    from .graph import connected_components_star

    docs = documents.select("doc_id", "text")
    h = docs.select("doc_id", "text",
                    content_hash_col(F.col("text")).alias("_h"))
    gmin = h.groupBy("_h").agg(F.min("doc_id").alias("_rep"))
    rep_docs = (h.join(gmin, "_h")
                .where(F.col("doc_id") == F.col("_rep"))
                .select("doc_id", "text"))
    near = simhash_near_pairs(rep_docs, max_hamming=max_hamming,
                              bands=bands).select("doc_a", "doc_b")
    rep_label = connected_components_star(near).select(
        F.col("node").alias("_rep"), F.col("component").alias("_label"))
    return (h.select("doc_id", "_h")
            .join(gmin, "_h")
            .join(rep_label, "_rep", "left")
            .select("doc_id",
                    F.coalesce(F.col("_label"), F.col("_rep"))
                    .alias("rep_id")))


# patterns safe in BOTH Java regex (Spark) and RE2 (DuckDB): no
# lookaround, no backrefs, ASCII classes only
REDACT_PATTERNS = (
    ("email", r"[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z0-9]", "<EMAIL>"),
    ("number", r"[0-9][0-9.]*", "<NUM>"),
)


def redact_text(documents: DataFrame, *,
                patterns=REDACT_PATTERNS) -> DataFrame:
    """PII/noise scrubbing for training corpora: replace each pattern
    with its tag, reporting per-pattern match counts. Pure Column
    regexp work (JVM, no Python); patterns are restricted to the
    regex-dialect intersection of Java and RE2 so the DuckDB oracle
    computes the identical result (driver q62). Patterns apply in
    order — earlier replacements can consume later patterns' matches
    (emails are redacted before their digits would be).

    Output: (doc_id, clean_text, n_<name> per pattern).
    """
    out = documents.select("doc_id", F.col("text").alias("clean_text"))
    for name, pat, tag in patterns:
        n = F.size(F.regexp_extract_all(
            F.col("clean_text"), F.lit(pat), F.lit(0)))
        out = (out.withColumn(f"n_{name}", n)
               .withColumn("clean_text",
                           F.regexp_replace("clean_text", pat, tag)))
    return out.select("doc_id", "clean_text",
                      *[f"n_{name}" for name, _, _ in patterns])


def quality_quota_sample(documents: DataFrame, per_group: int, *,
                         group_col: str = "lang") -> DataFrame:
    """Corpus curation: keep the top ``per_group`` documents per group
    (language, domain, …) ranked by quality — the balanced-mixture
    sampling step of a training-data pipeline, as a deterministic
    operator instead of an RNG (re-runs, engines and cluster sizes all
    pick the identical corpus).

    Rank = alpha_ratio desc (the exact integer-ratio quality signal
    from :func:`quality_score`), doc_id asc tie-break. The window
    partitions by group, so no global funnel; each group's partition
    is bounded by the corpus' per-group size — for pathologically hot
    groups pre-filter with an approximate per-group threshold first.

    Output: (doc_id, <group_col>, alpha_ratio, rank).
    """
    from pyspark.sql import Window

    n_chars = F.length("text")
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    scored = documents.where(n_chars > 0).select(
        "doc_id", group_col,
        (n_alpha.cast("double") / n_chars).alias("alpha_ratio"))
    w = Window.partitionBy(group_col).orderBy(
        F.col("alpha_ratio").desc(), F.col("doc_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= per_group))


def decontaminate_against(documents: DataFrame, benchmark: DataFrame, *,
                          n: int = 8, min_shared: int = 1) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at
    least ``min_shared`` distinct character n-grams with ANY benchmark
    document — the standard guard against test-set leakage into
    training data. Output: (doc_id, n_shared_grams) for flagged docs;
    the clean corpus is an anti-join against it.

    The benchmark gram set is tiny relative to the corpus (distinct
    grams of a few thousand eval documents) — it broadcasts, so the
    corpus side is a narrow scan + explode with NO shuffle of corpus
    rows; only the per-doc shared-gram counts aggregate.
    """
    arr = _char_ngram_arr("text", n, distinct=True)
    corpus_grams = documents.select("doc_id", F.explode(arr).alias("gram"))
    bench_grams = benchmark.select(F.explode(arr).alias("gram")).distinct()
    return (corpus_grams
            .join(F.broadcast(bench_grams), "gram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared_grams"))
            .where(F.col("n_shared_grams") >= min_shared))


def repetition_stats(documents: DataFrame, *, n: int = 8) -> DataFrame:
    """Intra-document repetition signals — the boilerplate/spam filter:
    total vs distinct character n-grams and the hottest gram's
    frequency. ``rep_ratio = 1 - distinct/total`` is 0 for fully novel
    text and → 1 for a repeated phrase. Pure Column explode + two
    map-side-combinable aggregates; the division is a single exact
    double op (cross-engine identical).

    Output: (doc_id, n_grams, n_distinct, rep_ratio, max_gram_freq).
    """
    grams = documents.select(
        "doc_id",
        F.explode(_char_ngram_arr("text", n, distinct=False)).alias("gram"))
    per_gram = grams.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("_c"))
    return (per_gram.groupBy("doc_id")
            .agg(F.sum("_c").alias("n_grams"),
                 F.count(F.lit(1)).alias("n_distinct"),
                 F.max("_c").alias("max_gram_freq"))
            .withColumn(
                "rep_ratio",
                F.lit(1.0) - F.col("n_distinct").cast("double")
                / F.col("n_grams"))
            .select("doc_id", "n_grams", "n_distinct", "rep_ratio",
                    "max_gram_freq"))


def tfidf_top_terms(documents: DataFrame, k: int = 5, *,
                    min_token_len: int = 1) -> DataFrame:
    """Per-document top-``k`` characteristic terms by a tf·idf-style
    score — the keyword-extraction primitive for corpus triage and
    near-dup explanation. Score = tf / df (term frequency over
    document frequency): both are exact integers and the single
    division is bit-identical across engines, so the driver oracle
    hash-matches doubles (a log-idf would hinge on libm parity).
    Deterministic tie-break (score desc, token asc).

    Shapes at scale: tf is one (doc, token) hash aggregate; df one
    (token) aggregate whose result broadcast-joins back (token
    vocabulary ≪ corpus); the top-k window partitions by doc_id, so no
    global funnel — per-doc term counts bound each partition.

    Output: (doc_id, token, tf, df, score, rank).
    """
    toks = documents.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")) \
        .where((F.col("token") != "")
               & (F.length("token") >= min_token_len))
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf"))
    df_ = (toks.select("doc_id", "token").distinct()
           .groupBy("token").agg(F.count(F.lit(1)).alias("df")))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token").asc())
    return (tf.join(F.broadcast(df_), "token")
            .withColumn("score", F.col("tf").cast("double") / F.col("df"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("doc_id", "token", "tf", "df", "score", "rank"))


def vocabulary(documents: DataFrame, *, min_df: int = 1,
               top_k: int | None = None) -> DataFrame:
    """Corpus vocabulary with document frequencies — the tokenizer-
    training / stopword-mining primitive: explode distinct lowercase
    space-tokens per doc, count docs per token (one map-side-combinable
    shuffle), keep ``df >= min_df``, rank deterministically by
    (df desc, token asc). ``top_k`` truncates after ranking.

    Distributed ranking: a naive ``row_number`` over (df desc, token)
    would funnel the WHOLE vocabulary through one window task — and a
    window partitioned by df merely moves the funnel to the Zipf-heavy
    lowest df class. Ranks are instead assembled two-phase over a
    RANGE partitioning of (df desc, token asc): per-range-bucket
    row numbers plus a global-offset merge over the tiny per-bucket
    totals (the same shape as the distributed quantiles). With
    ``top_k``, a df cutoff derived from the df histogram prunes the
    vocabulary BEFORE any ranking, so the ranked set is ≈ top_k rows
    regardless of corpus size.

    Output: (token, df, rank).
    """
    from pyspark.sql import Window

    spark = documents.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    toks = documents.select(
        F.explode(F.array_distinct(
            F.split(F.lower(F.col("text")), " "))).alias("token")) \
        .where(F.col("token") != "")
    counts = (toks.groupBy("token")
              .agg(F.count(F.lit(1)).alias("df"))
              .where(F.col("df") >= min_df))
    if top_k is not None:
        hist = counts.groupBy("df").agg(F.count(F.lit(1)).alias("_n"))
        w_off = (Window.orderBy(F.col("df").desc())
                 .rowsBetween(Window.unboundedPreceding, -1))
        cum_before = hist.withColumn(
            "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0)))
        keep = cum_before.where(F.col("_off") < top_k).select("df")
        counts = counts.join(F.broadcast(keep), "df")
    # two-phase global rank (lineage-truncated so bucket ids stay
    # consistent between the offset computation and the rank probe)
    ranked = (counts.repartitionByRange(
                  n_parts, F.col("df").desc(), F.col("token").asc())
              .withColumn("_pid", F.spark_partition_id())
              .withColumn("_rn", F.row_number().over(
                  Window.partitionBy("_pid")
                  .orderBy(F.col("df").desc(), F.col("token").asc())))
              .localCheckpoint(eager=False))
    ptot = ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_p = (Window.orderBy(F.col("_pid").asc())
           .rowsBetween(Window.unboundedPreceding, -1))
    offs = ptot.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_p), F.lit(0)))
    out = (ranked.join(F.broadcast(offs.select("_pid", "_off")), "_pid")
           .select("token", "df",
                   (F.col("_rn") + F.col("_off")).cast("long")
                   .alias("rank")))
    if top_k is not None:
        out = out.where(F.col("rank") <= top_k)
    return out


def _word_ngram_arr(text_col: str, n: int) -> F.Column:
    """Distinct word n-grams (space-token windows re-joined with a
    single space) as an array Column; texts with fewer than ``n``
    tokens yield no grams. Same descending-``sequence`` guard as
    :func:`_char_ngram_arr`."""
    toks = f"split({text_col}, ' ')"
    grams = F.expr(
        f"transform(sequence(1, size({toks}) - {n - 1}), "
        f"i -> array_join(slice({toks}, i, {n}), ' '))")
    return F.when(F.expr(f"size({toks})") >= n,
                  F.array_distinct(grams)) \
        .otherwise(F.array().cast("array<string>"))


def boilerplate_ngrams(documents: DataFrame, *, n: int = 8,
                       min_docs: int = 2) -> DataFrame:
    """Cross-document boilerplate detection: the fraction of each
    document's distinct word ``n``-grams that also appear in at least
    ``min_docs`` documents (headers, footers, licence blocks, template
    chrome — the spans a corpus-curation pipeline strips before
    training). Complements :func:`repetition_stats`, which is
    INTRA-document.

    Scale shape: one distinct-gram explode, one (gram) doc-frequency
    aggregate (map-side combinable), one hash join back on the gram
    key — the gram vocabulary is Zipf-truncated by construction
    (n-word spans repeat far less than tokens), so no broadcast is
    attempted. The final ratio is one exact int/int division.

    Output: (doc_id, n_grams, n_boiler, boiler_ratio).
    """
    grams = documents.select(
        "doc_id", F.explode(_word_ngram_arr("text", n)).alias("gram"))
    df_ = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("_df"))
    return (grams.join(df_, "gram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum(F.when(F.col("_df") >= min_docs, 1).otherwise(0))
                 .alias("n_boiler"))
            .withColumn("boiler_ratio",
                        F.col("n_boiler").cast("double")
                        / F.col("n_grams"))
            .select("doc_id", "n_grams", "n_boiler", "boiler_ratio"))


def containment_pairs(documents: DataFrame, *, n: int = 8,
                      threshold: float = 0.8) -> DataFrame:
    """Asymmetric near-duplicate detection by n-gram CONTAINMENT:
    ``cont(a→b) = |grams(a) ∩ grams(b)| / |grams(a)|`` — catches a
    short document embedded in a longer one, which symmetric Jaccard
    (:func:`ngram_jaccard_pairs`) misses because the union is
    dominated by the longer side. Pairs are kept when EITHER direction
    reaches ``threshold``.

    Same scale shape as the Jaccard join: distinct char-gram explode,
    self equi-join on the gram key (never all-pairs), shared counts
    via one map-side-combinable aggregate, sizes broadcast back in.
    Divisions are single exact double ops.

    Output: (doc_a, doc_b, n_shared, cont_a, cont_b) with
    doc_a < doc_b.
    """
    grams = documents.select(
        "doc_id", F.explode(_char_ngram_arr("text", n)).alias("gram"))
    sizes = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"))
    shared = (grams.alias("a")
              .join(grams.alias("b"), "gram")
              .where(F.col("a.doc_id") < F.col("b.doc_id"))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"))
              .agg(F.count(F.lit(1)).alias("n_shared")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_grams").alias("_na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_grams").alias("_nb"))
    return (shared.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("cont_a",
                        F.col("n_shared").cast("double") / F.col("_na"))
            .withColumn("cont_b",
                        F.col("n_shared").cast("double") / F.col("_nb"))
            .where((F.col("cont_a") >= threshold)
                   | (F.col("cont_b") >= threshold))
            .select("doc_a", "doc_b", "n_shared", "cont_a", "cont_b"))


def pack_sequences(documents: DataFrame, capacity: int, *,
                   order_col: str = "doc_id",
                   size_col: str | None = None) -> DataFrame:
    """Concat-and-chunk sequence packing — the LLM-pretraining step
    that lays tokenized documents end-to-end in ``order_col`` order
    and cuts the stream into fixed ``capacity``-token context windows.
    Each document gets its global token start offset, its first bin
    (window) id, its offset inside that bin, and the number of bins it
    spans (documents may straddle a boundary — the standard GPT-style
    packing; use the span count to decide masking downstream).

    ``size_col`` defaults to the whitespace token count of ``text``.

    Scale shape: the global running sum is NOT a single-task window —
    it is the same two-phase range-partition pattern as the
    distributed quantiles: per-range-bucket cumulative sums in
    parallel, then a tiny (#partitions-row) offset merge broadcast
    back. Phase data is lineage-truncated so re-sampled range
    boundaries cannot corrupt offsets on recompute. Bin arithmetic is
    pure integer (div/mod), cross-engine exact.

    Output: (order_col, n_tokens, start, bin_id, offset_in_bin,
    n_bins).
    """
    if capacity <= 0:
        raise ValueError("capacity must be positive")
    from pyspark.sql import Window

    spark = documents.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    size = (F.col(size_col) if size_col is not None
            else token_count_col(F.col("text")))
    d = documents.select(order_col, size.cast("long").alias("n_tokens"))
    ranked = (d.repartitionByRange(n_parts, F.col(order_col).asc())
              .withColumn("_pid", F.spark_partition_id())
              .withColumn("_local_cum", F.sum("n_tokens").over(
                  Window.partitionBy("_pid")
                  .orderBy(F.col(order_col).asc())))
              .localCheckpoint(eager=False))
    ptot = ranked.groupBy("_pid").agg(F.sum("n_tokens").alias("_tot"))
    w_off = (Window.orderBy(F.col("_pid").asc())
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = ptot.withColumn(
        "_off", F.coalesce(F.sum("_tot").over(w_off), F.lit(0)))
    cap = F.lit(int(capacity))
    start = F.col("_local_cum") + F.col("_off") - F.col("n_tokens")
    return (ranked.join(F.broadcast(offs.select("_pid", "_off")), "_pid")
            .withColumn("start", start)
            .withColumn("bin_id", F.expr(f"start div {int(capacity)}"))
            .withColumn("offset_in_bin", F.col("start") % cap)
            .withColumn(
                "n_bins",
                F.expr(f"(start + greatest(n_tokens, 1L) - 1) "
                       f"div {int(capacity)}") - F.col("bin_id") + 1)
            .select(order_col, "n_tokens", "start", "bin_id",
                    "offset_in_bin", "n_bins"))


def unigram_surprisal(documents: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document mean unigram surprisal — the simplest corpus-level
    language-model quality score (low = repetitive/common wording,
    high = rare vocabulary; extreme values flag boilerplate and junk
    in training-data curation).

    Each token occurrence contributes ``round(ln(total/tf) * 1000)``
    milli-nats, INTEGERIZED PER TOKEN before any sum, so the per-doc
    totals are addition-order independent (a float sum would vary in
    ULPs across partitionings and engines). The only float op is one
    ``ln`` per DISTINCT token — the rounding boundary of a milli-nat
    would need ``ln`` of a rational to land within ~1e-12 of 0.0005,
    which transcendence rules out for any real vocabulary.

    Scale shape: token explode → one hash-aggregate for term
    frequencies (map-side combine) → 1-row total (broadcast) → token
    equi-join back (AQE broadcasts when the vocabulary is small;
    shuffles on the token key — NOT the doc key — when it is not, so a
    Zipf head token never concentrates a doc's worth of rows in one
    task beyond its own frequency, and a hot token is a hot KEY fixable
    by salting, not an algorithmic funnel) → one per-doc aggregate.

    Output: (id_col, n_tokens, surprisal_sum_milli,
    mean_surprisal_milli) — mean by integer floor division.
    """
    toks = documents.select(
        id_col,
        F.explode(F.filter(F.split(F.lower(F.col(text_col)), " "),
                           lambda t: t != "")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    total = freq.agg(F.sum("tf").alias("total"))
    per_tok = (freq.crossJoin(F.broadcast(total))
               .select("tok",
                       F.round(F.log(F.col("total").cast("double")
                                     / F.col("tf")) * 1000.0)
                       .cast("long").alias("sm")))
    return (toks.join(per_tok, "tok")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum("sm").alias("surprisal_sum_milli"))
            .withColumn("mean_surprisal_milli",
                        F.expr("surprisal_sum_milli div n_tokens")))


def bm25_scores(documents: DataFrame, terms: list[str], *,
                id_col: str = "doc_id", text_col: str = "text",
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 relevance of every document against a bag of query terms
    (the Lucene-style formula: idf = ln((N − df + 0.5)/(df + 0.5) + 1),
    tf saturation with k1, length normalization with b).

    Per-(doc, term) contributions are rounded to MILLI-SCORE integers
    before the per-doc sum, so totals are addition-order independent
    and hash-exact cross-engine; the float expression is evaluated with
    one fixed parenthesization on both engines.

    Scale shape: the token explode is filtered to the query terms
    BEFORE any aggregate (predicate on the exploded value — the
    (doc, term, tf) frame is |terms|-bounded per doc); document length
    needs one full-corpus hash-aggregate (map-side combined); N and
    avgdl are 1-row aggregates; the per-term df/idf frame is
    |terms| rows and broadcasts. One doc-key equi-join (tf × dl), one
    broadcast join, one final per-doc aggregate — no windows.

    Output: (id_col, bm25_milli) for documents matching ≥ 1 term.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    toks = documents.select(
        id_col,
        F.explode(F.filter(F.split(F.lower(F.col(text_col)), " "),
                           lambda t: t != "")).alias("tok"))
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("dl").alias("sum_dl"))
    qt = toks.where(F.col("tok").isin(list(terms)))
    tf = qt.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = (df_.crossJoin(F.broadcast(stats))
           .select("tok",
                   F.log((F.col("n_docs") - F.col("df") + 0.5)
                         / (F.col("df") + 0.5) + 1.0).alias("idf"),
                   (F.col("sum_dl").cast("double")
                    / F.col("n_docs")).alias("avgdl")))
    j = tf.join(dl, id_col).join(F.broadcast(idf), "tok")
    denom = (F.col("tf")
             + k1 * (1.0 - b + b * (F.col("dl").cast("double")
                                    / F.col("avgdl"))))
    contrib = F.col("idf") * ((F.col("tf") * (k1 + 1.0)) / denom)
    return (j.select(id_col, F.round(contrib * 1000.0).cast("long")
                     .alias("c_milli"))
            .groupBy(id_col)
            .agg(F.sum("c_milli").alias("bm25_milli")))


def pmi_bigrams(documents: DataFrame, *, id_col: str = "doc_id",
                text_col: str = "text", min_count: int = 5) -> DataFrame:
    """Pointwise mutual information of ADJACENT token bigrams — the
    classic collocation signal (tokenizer-merge candidates, multi-word
    entities). PMI = ln(p(a,b) / (p(a)·p(b))) with p from corpus
    unigram/bigram counts; emitted as milli-nats (one float expression
    per OUTPUT row with a fixed operand order, identical on both
    engines; all counting is exact integers).

    Scale shape: bigrams are linear in tokens (adjacent pairs via two
    array slices zipped — never a token self-join); one hash-aggregate
    each for unigram and bigram counts (map-side combined);
    ``min_count`` prunes the bigram tail BEFORE the two token-key
    equi-joins against the unigram counts (Zipf-safe: both join keys
    are tokens, and the surviving bigram frame is small). Totals are
    1-row broadcasts.

    Output: (tok_a, tok_b, n_ab, pmi_milli) for bigrams with
    ``n_ab >= min_count``.
    """
    toks_arr = F.filter(F.split(F.lower(F.col(text_col)), " "),
                        lambda t: t != "")
    d = documents.select(toks_arr.alias("toks"))
    uni = d.select(F.explode("toks").alias("tok"))
    uc = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_uni = uni.agg(F.count(F.lit(1)).alias("n_uni"))
    pairs = d.select(F.explode(F.arrays_zip(
        F.slice("toks", 1, F.greatest(F.size("toks") - 1, F.lit(0))),
        F.slice("toks", 2, F.greatest(F.size("toks") - 1, F.lit(0)))))
        .alias("p")).select(F.col("p.0").alias("tok_a"),
                            F.col("p.1").alias("tok_b"))
    n_bi = pairs.agg(F.count(F.lit(1)).alias("n_bi"))
    bc = (pairs.groupBy("tok_a", "tok_b")
          .agg(F.count(F.lit(1)).alias("n_ab"))
          .where(F.col("n_ab") >= min_count))
    ca = uc.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    cb = uc.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    j = (bc.join(ca, "tok_a").join(cb, "tok_b")
         .crossJoin(F.broadcast(n_uni)).crossJoin(F.broadcast(n_bi)))
    ratio = ((F.col("n_ab").cast("double") * F.col("n_uni")
              * F.col("n_uni"))
             / (F.col("n_bi").cast("double") * F.col("c_a")
                * F.col("c_b")))
    return j.select("tok_a", "tok_b", "n_ab",
                    F.round(F.log(ratio) * 1000.0).cast("long")
                    .alias("pmi_milli"))


def edit_distance_pairs(df: DataFrame, *, col: str = "name") -> DataFrame:
    """All distinct string pairs at Levenshtein distance <= 1 —
    typo-level fuzzy matching (entity resolution, OCR/typo dedup of
    names, near-identical label merging in a training corpus).

    Candidate generation is the deletion-neighborhood blocking scheme
    (SymSpell): every string emits itself plus each single-character
    deletion; d <= 1 IMPLIES the neighborhoods intersect (equal →
    trivially; substitution at i → both emit the string minus position
    i; insertion/deletion → the longer one's deletion at the inserted
    position equals the shorter string itself), so the candidate
    equi-join on the variant key is provably COMPLETE for d <= 1. The
    converse does NOT hold (e.g. 'ab'/'ba' share deletion variants 'a'
    and 'b' but are at distance 2) — the exact ``levenshtein`` filter
    on candidates removes such false positives, making precision 1 —
    and it is never an all-pairs comparison.

    Scale shape: a string of length L emits L+1 variant rows (pure
    Column ``transform(sequence(...))`` — no Python); the join is a
    hash equi-join on the variant string, shuffling n·(L+1) rows
    instead of comparing n² pairs. Bucket skew is bounded by how many
    strings share one deletion variant — at most alphabet-size·L per
    bucket for real text.

    Output: (name_a, name_b) with name_a < name_b, distinct.
    """
    w = df.select(F.col(col).alias("_w")).where(
        F.col("_w").isNotNull()).distinct()
    dels = F.transform(
        F.sequence(F.lit(1), F.length("_w")),
        lambda i: F.concat(
            F.col("_w").substr(F.lit(1), i - 1),
            F.col("_w").substr(i + 1, F.length("_w"))))
    # guard the empty string explicitly: sequence(1, 0) runs DESCENDING
    # in Spark, so without it the result would lean on
    # descending-sequence + negative-length-substr edge semantics that
    # other engines (and future Sparks) don't guarantee
    dels = F.when(F.length("_w") > 0, dels) \
        .otherwise(F.array().cast("array<string>"))
    variants = F.array_distinct(F.concat(F.array(F.col("_w")), dels))
    ex = w.select("_w", F.explode(variants).alias("_var"))
    a = ex.select(F.col("_w").alias("name_a"), "_var")
    b = ex.select(F.col("_w").alias("name_b"), "_var")
    return (a.join(b, "_var")
            .where(F.col("name_a") < F.col("name_b"))
            .select("name_a", "name_b").distinct()
            .where(F.levenshtein("name_a", "name_b") <= 1))


def passage_dedup(documents: DataFrame, *, window: int = 20,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Passage-level exact dedup (the C4/RefinedWeb recipe one level
    below document dedup): split each document into fixed
    ``window``-token passages and find passages that recur across the
    corpus — boilerplate headers, licence blocks, navigation chrome —
    which document-level dedup can never see because the surrounding
    text differs. (The reference, a KML converter
    /root/reference/kml2geojson/main.py, has no text surface; §2.4
    training-data-pipeline extension.) Fixed token windows stand in
    for paragraph splits on newline-free corpora; pass the corpus
    through a paragraph splitter first if real paragraph bounds exist.

    Tokenization is the package-wide single-space split (see
    :func:`token_count_col` — consecutive spaces yield empty tokens in
    BOTH engines, so the oracle replays bit-exact); passage ``i`` is
    tokens ``[i*window, (i+1)*window)`` joined by a single space, and
    the chunk count is the exact integer ``(n_tokens + window - 1) div
    window`` (no float ceil on either engine).

    Scale shape: pure Column end to end — ``split`` →
    ``transform(sequence(...))`` chunking → ``posexplode`` → md5 →
    ONE hash-aggregate with map-side combine. A document of T tokens
    emits ceil(T/window) rows; the only shuffle is the groupBy on the
    passage hash. No windows, no joins, no Python.

    Output: one row per passage content seen more than once —
    (passage_hash, n_dups, n_docs, keeper_doc = min doc id).
    """
    if window <= 0:
        raise ValueError("window must be positive")
    toks = f"split({text_col}, ' ')"
    chunks = F.expr(
        f"transform(sequence(0, (size({toks}) + {window - 1}) div {window} - 1), "
        f"i -> array_join(slice({toks}, i * {window} + 1, {window}), ' '))")
    return (documents
            .where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("doc_id"), chunks.alias("_chunks"))
            .select("doc_id", F.posexplode("_chunks").alias("passage_idx",
                                                            "_chunk"))
            .select("doc_id", F.md5("_chunk").alias("passage_hash"))
            .groupBy("passage_hash")
            .agg(F.count(F.lit(1)).alias("n_dups"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.min("doc_id").alias("keeper_doc"))
            .where(F.col("n_dups") > 1))


def lang_ngram_profile(documents: DataFrame, *, n: int = 3, k: int = 10,
                       lang_col: str = "lang",
                       text_col: str = "text") -> DataFrame:
    """Per-language character n-gram frequency profile — the training
    side of the engine's n-gram language guesser (:func:`lang_guess`):
    the top-``k`` character ``n``-grams per language by corpus
    frequency, the classic langid.py / fastText-style feature table.
    (§2.4 training-data-pipeline extension; the reference has no text
    surface.)

    Grams come from the package's single n-gram definition
    (:func:`_char_ngram_arr`, NON-distinct — profiles are frequency
    weighted), so the short-text guard and SQL ``generate_series``
    parity live in one place. Ties rank deterministically
    (count desc, gram asc) so every engine returns the same rows.

    Scale shape: a text of length L emits L-n+1 gram rows, collapsed
    by ONE (lang, gram) hash-aggregate with map-side combine; the
    ranking window then runs on the aggregated frame, bounded by the
    distinct-gram count per language (≤ alphabet^n), never the corpus
    size. No joins, no global sort, no Python.

    Output: (lang, gram, n_occurrences, rank 1..k).
    """
    if n <= 0 or k <= 0:
        raise ValueError("n and k must be positive")
    from pyspark.sql import Window
    counts = (documents
              .where(F.col(lang_col).isNotNull()
                     & F.col(text_col).isNotNull())
              .select(F.col(lang_col).alias("lang"),
                      F.explode(_char_ngram_arr(text_col, n,
                                                distinct=False))
                      .alias("gram"))
              .groupBy("lang", "gram")
              .agg(F.count(F.lit(1)).alias("n_occurrences")))
    w = Window.partitionBy("lang").orderBy(F.col("n_occurrences").desc(),
                                           F.col("gram").asc())
    return (counts.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def decontaminate_near(documents: DataFrame, benchmark: DataFrame, *,
                       max_hamming: int = 3, bands: int = 4,
                       bits: int = SIMHASH_BITS) -> DataFrame:
    """FUZZY benchmark decontamination: flag corpus documents whose
    SimHash signature is within ``max_hamming`` bits of ANY benchmark
    document — catches paraphrased / lightly-edited test-set leakage
    that the exact n-gram guard (:func:`decontaminate_against`) misses.
    The clean corpus is an anti-join against the output.

    Same completeness contract as :func:`simhash_near_pairs`: with
    ``max_hamming < bands`` the banded corpus×benchmark equi-join
    provably finds every within-budget pair (pigeonhole), so the
    result equals the O(|corpus|·|benchmark|) brute force the DuckDB
    oracle runs — never an all-pairs join on the engine side. The
    benchmark side is tiny (an eval suite), so its banded signatures
    broadcast; corpus rows never shuffle, only the per-doc min-hamming
    aggregate does (map-side combined).

    Output: (doc_id, min_hamming) — corpus docs only, one row each.
    """
    if max_hamming >= bands:
        raise ValueError("completeness requires max_hamming < bands")
    band_bits = bits // bands
    mask = (1 << band_bits) - 1

    def _banded(docs: DataFrame, tag: str) -> DataFrame:
        sigs = simhash_sql_signatures(docs, bits=bits)
        buckets = F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright(F.col("sig"), b * band_bits)
                     .bitwiseAND(F.lit(mask)).alias("bucket"))
            for b in range(bands)])
        return (sigs.select("doc_id", "sig", F.explode(buckets).alias("bb"))
                .select(F.col("doc_id").alias(f"_{tag}id"),
                        F.col("sig").alias(f"_{tag}sig"),
                        "bb.band", "bb.bucket"))

    corpus = _banded(documents, "c")
    bench = _banded(benchmark, "b")
    ham = F.bit_count(F.col("_csig").bitwiseXOR(F.col("_bsig")))
    return (corpus.join(F.broadcast(bench), ["band", "bucket"])
            .withColumn("_h", ham)
            .where(F.col("_h") <= max_hamming)
            .groupBy(F.col("_cid").alias("doc_id"))
            .agg(F.min("_h").alias("min_hamming")))


def chunk_documents(documents: DataFrame, *, chunk_tokens: int = 256,
                    overlap: int = 32, doc_id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Fixed-size overlapping token chunking — the context-window
    splitter that precedes embedding / training-example packing: each
    document's whitespace tokens are windowed into chunks of
    ``chunk_tokens`` tokens stepping by ``chunk_tokens - overlap``, so
    consecutive chunks share ``overlap`` tokens and every token is
    covered. The last chunk may be shorter but is never empty; a
    document of ≤ ``chunk_tokens`` tokens yields exactly one chunk;
    zero-token documents yield no rows. Chunk text is the tokens
    re-joined with single spaces (whitespace-normalizing, like every
    tokenizing operator here: split on ``' '``, empty tokens dropped).

    Chunk count uses exact INTEGER ceiling division
    (``1 + (n - chunk) div stride``) — no float division whose
    last-ulp could flip a boundary document's chunk count between
    engines.

    Scale shape: pure Column — split + filter + integer-sequence
    explode + ``slice``/``array_join`` — zero Python, zero shuffle,
    zero join; parallelism is the scan's. Output grows by roughly
    ``1/(1 - overlap/chunk_tokens)`` in tokens; the explode is
    per-row bounded by the document's own length.

    Output: (doc_id_col, chunk_idx, n_tokens, chunk_text).
    """
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("overlap must satisfy 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.filter(F.split(F.col(text_col), " "),
                    lambda t: t != F.lit(""))
    base = documents.select(F.col(doc_id_col), toks.alias("_toks"),
                            F.size(toks).alias("_nt"))
    n_chunks = F.expr(
        f"CASE WHEN _nt <= {chunk_tokens} THEN 1 "
        f"ELSE 1 + (_nt - {chunk_tokens} + {stride - 1}) div {stride} END")
    return (base.where(F.col("_nt") > 0)
            .withColumn("chunk_idx",
                        F.explode(F.sequence(F.lit(0), n_chunks - 1)))
            .select(
                doc_id_col,
                "chunk_idx",
                F.size(F.slice(F.col("_toks"),
                               F.col("chunk_idx") * stride + 1,
                               chunk_tokens)).alias("n_tokens"),
                F.array_join(F.slice(F.col("_toks"),
                                     F.col("chunk_idx") * stride + 1,
                                     chunk_tokens),
                             " ").alias("chunk_text")))


def sorted_neighborhood_pairs(documents: DataFrame, *,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              window: int = 3,
                              key_len: int = 16,
                              block_len: int = 2) -> DataFrame:
    """Sorted-neighborhood blocking (the classic entity-resolution
    candidate generator, Hernández & Stolfo 1995): sort records by a
    normalized key and pair each record with its next ``window − 1``
    neighbors — the third candidate-pair family next to MinHash
    banding (:func:`minhash_candidate_pairs`) and SimHash
    (:func:`simhash_near_pairs`), and the cheapest one when near-dups
    share a PREFIX (titles, names, URLs) rather than shingle sets.

    Key = first ``key_len`` chars of the text lowered and stripped to
    ``[a-z0-9]``; rows with NULL text or an empty key are dropped
    (an empty key would fuse all junk rows into one mega-block).
    Sort order is totalized by the id, so the emitted pair set is
    partition-count independent; pairs are canonicalized to
    ``id_a < id_b``.

    Scale shape: the sort is PARTITIONED by the first ``block_len``
    key chars — one shuffle on the block prefix, per-block windows,
    never a global single-partition sort (the textbook single-sort
    SNM does not survive 10¹² rows). Pairs straddling a block
    boundary are lost, exactly the standard multi-pass SNM trade-off:
    run a second pass with a different key (e.g. reversed) rather
    than growing ``window``. Skewed blocks = skewed key prefixes;
    raise ``block_len`` to split them.

    Output: (id_a, id_b, key_a, key_b) — candidate pairs only;
    verify with an exact similarity on the candidates, as
    :func:`cosine_neardup_pairs_lsh` does for LSH.
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    if not 0 < block_len < key_len:
        raise ValueError("need 0 < block_len < key_len")
    key = F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", ""),
        1, key_len)
    base = (documents
            .where(F.col(text_col).isNotNull()
                   & F.col(id_col).isNotNull())
            .select(F.col(id_col).alias("_id"), key.alias("_key"))
            .where(F.length("_key") > 0)
            .withColumn("_blk", F.substring("_key", 1, block_len)))
    w = SparkWindow.partitionBy("_blk").orderBy("_key", "_id")
    led = base
    for j in range(1, window):
        led = (led
               .withColumn(f"_nid{j}", F.lead("_id", j).over(w))
               .withColumn(f"_nkey{j}", F.lead("_key", j).over(w)))
    neigh = led.select(
        "_id", "_key",
        F.explode(F.array(*[
            F.struct(F.col(f"_nid{j}").alias("nid"),
                     F.col(f"_nkey{j}").alias("nkey"))
            for j in range(1, window)])).alias("_nb"))
    nid, nkey = F.col("_nb.nid"), F.col("_nb.nkey")
    return (neigh.where(nid.isNotNull())
            .select(F.least(F.col("_id"), nid).alias("id_a"),
                    F.greatest(F.col("_id"), nid).alias("id_b"),
                    F.when(F.col("_id") < nid, F.col("_key"))
                    .otherwise(nkey).alias("key_a"),
                    F.when(F.col("_id") < nid, nkey)
                    .otherwise(F.col("_key")).alias("key_b")))


def winnow_fingerprints(documents: DataFrame, *,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        k: int = 8,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken
    2003, the MOSS algorithm): hash every ``k``-gram of the text and,
    in each sliding window of ``w`` consecutive k-gram hashes, select
    the minimum — guaranteeing any shared substring of length
    ``k + w − 1`` between two documents yields at least one shared
    fingerprint, with only ~2/(w+1) of positions retained. The
    substring-level complement to shingle-set MinHash: it localizes
    WHERE the overlap is (plagiarism spans, license boilerplate),
    not just that it exists.

    Cross-engine determinism: the k-gram hash is the package md5
    discipline (first 8 hex chars → 32-bit BIGINT; DuckDB replays
    ``('0x' || substr(md5(g), 1, 8))::BIGINT``); ties inside a window
    break to the LEFTMOST position (documented deviation from MOSS's
    rightmost rule) by packing ``hash · 2²⁰ + pos`` into one BIGINT
    and taking a plain window MIN — positions beyond 2²⁰ − k are
    ignored (fingerprint the first ~1M chars; chunk longer docs with
    :func:`chunk_documents` first). Documents shorter than ``k``
    yield no rows; documents with fewer than ``w`` k-grams yield the
    min over all their grams (one truncated window), so every doc
    with ≥ 1 gram fingerprints.

    Scale shape: the explode and the window are PER-DOCUMENT (the
    window partitions by id over contiguous positions — ROWS frame,
    no shuffle wider than the doc), then one distinct on
    (id, fingerprint, pos). No join, no global sort, no Python.

    Output: (id_col, fp BIGINT 32-bit, pos INT 1-based k-gram start),
    distinct.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    if w < 1:
        raise ValueError("w must be >= 1")
    cap = (1 << 20) - 1
    n_grams = F.least(F.length(F.col(text_col)) - k + 1, F.lit(cap))
    base = (documents
            .where(F.col(id_col).isNotNull()
                   & F.col(text_col).isNotNull()
                   & (F.length(F.col(text_col)) >= k))
            .select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"),
                    n_grams.alias("_ng"))
            .withColumn("_pos", F.explode(F.sequence(F.lit(1), F.col("_ng"))))
            .select("_id", "_ng", "_pos",
                    (F.conv(F.substring(
                        F.md5(F.expr(f"substring(_t, _pos, {k})")), 1, 8),
                        16, 10).cast("long") * F.lit(1 << 20)
                     + F.col("_pos")).alias("_key")))
    win = (SparkWindow.partitionBy("_id").orderBy("_pos")
           .rowsBetween(0, w - 1))
    sel = (base
           .withColumn("_sel", F.min("_key").over(win))
           .where(F.col("_pos") <= F.greatest(F.col("_ng") - w + 1,
                                              F.lit(1))))
    return (sel.select(
        F.col("_id").alias(id_col),
        F.expr(f"_sel div {1 << 20}").alias("fp"),
        (F.col("_sel") % F.lit(1 << 20)).cast("int").alias("pos"))
        .distinct())


def zipf_fit(documents: DataFrame, *, text_col: str = "text",
             min_freq: int = 1) -> DataFrame:
    """Zipf-law fit of the corpus token-frequency distribution: OLS
    of ``ln(freq)`` on ``ln(rank)`` over the ranked term-frequency
    table — slope ≈ −1 with high R² is the classic natural-language
    signature, so deviation flags synthetic/boilerplate/spam corpora
    and the fitted slope feeds vocabulary-size planning.

    Determinism: ranks are the deterministic total order
    (freq desc, token asc) assembled with :func:`vocabulary`'s
    two-phase range-partitioned row numbers (never one global window
    task); both regression variables are micro-nat integerized lns
    (``round(ln(k)·10⁶)`` per exact integer — the
    :func:`~kml2geojson_spark.relational.group_entropy` rule), the
    five sufficient statistics are exact DECIMAL(38,0) sums, and
    slope/intercept/R² are fixed IEEE expressions of those exact
    integers — bit-identical across engines and partitionings.

    Scale shape: one token explode + (token) hash-aggregate with
    map-side combine, one range repartition + per-bucket row
    numbers + broadcast of the tiny per-bucket offsets (the
    :func:`vocabulary` shape), one final global aggregate. No global
    window, no Python.

    Output: ONE row (n_terms, slope, intercept, r2) — slope/R² NULL
    when fewer than 2 distinct ranked terms.
    """
    if min_freq < 1:
        raise ValueError("zipf_fit: min_freq must be >= 1")
    from pyspark.sql import Window

    spark = documents.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    toks = documents.where(F.col(text_col).isNotNull()).select(
        F.explode(F.split(F.lower(F.col(text_col)), " "))
        .alias("token")).where(F.col("token") != "")
    tf = (toks.groupBy("token")
          .agg(F.count(F.lit(1)).alias("freq"))
          .where(F.col("freq") >= min_freq))
    ranked = (tf.repartitionByRange(
                  n_parts, F.col("freq").desc(), F.col("token").asc())
              .withColumn("_pid", F.spark_partition_id())
              .withColumn("_rn", F.row_number().over(
                  Window.partitionBy("_pid")
                  .orderBy(F.col("freq").desc(), F.col("token").asc())))
              .localCheckpoint(eager=False))
    ptot = ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_p = (Window.orderBy(F.col("_pid").asc())
           .rowsBetween(Window.unboundedPreceding, -1))
    offs = ptot.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_p), F.lit(0)))
    rr = (ranked.join(F.broadcast(offs.select("_pid", "_off")), "_pid")
          .select("freq", (F.col("_rn") + F.col("_off")).cast("long")
                  .alias("rank")))

    def _lnmu(col: F.Column) -> F.Column:
        return F.round(F.log(col.cast("double")) * 1e6) \
            .cast("decimal(38,0)")

    lx = rr.select(_lnmu(F.col("rank")).alias("_x"),
                   _lnmu(F.col("freq")).alias("_y"))
    s = lx.agg(F.count(F.lit(1)).alias("n_terms"),
               F.sum("_x").alias("_sx"), F.sum("_y").alias("_sy"),
               F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
               F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
               F.sum(F.col("_y") * F.col("_y")).alias("_syy"))
    nn = F.col("n_terms").cast("decimal(38,0)")
    num = nn * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    dx = nn * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    dy = nn * F.col("_syy") - F.col("_sy") * F.col("_sy")
    slope = num.cast("double") / dx.cast("double")
    intercept = ((F.col("_sy").cast("double")
                  - slope * F.col("_sx").cast("double"))
                 / F.col("n_terms").cast("double")) / F.lit(1e6)
    r2 = (num.cast("double") * num.cast("double")
          / (dx.cast("double") * dy.cast("double")))
    okx = (F.col("n_terms") >= 2) & (dx > 0)
    return s.select(
        "n_terms",
        F.when(okx, slope).alias("slope"),
        F.when(okx, intercept).alias("intercept"),
        F.when(okx & (dy > 0), r2).alias("r2"))


def bigram_lm_surprisal(documents: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Per-document average bigram surprisal under an add-1-smoothed
    bigram language model trained on the corpus itself — the
    perplexity-proxy quality filter a pretraining pipeline runs
    where :func:`unigram_surprisal` is too blunt (it cannot see word
    order): gibberish with common words scores high here, fluent
    text low.

    Model: ``P(w₂|w₁) = (C(w₁w₂)+1)/(C(w₁)+V)`` with corpus bigram /
    unigram counts and vocabulary size V. Per document,
    ``logprob_micro = Σ lnμ(C₁₂+1) − lnμ(C₁+V)`` over its adjacent
    token pairs — every ln micro-nat integerized per exact integer
    (the :func:`~kml2geojson_spark.relational.group_entropy` rule),
    so the sum is an exact BIGINT and the average surprisal
    ``−logprob/(n·10⁶)`` is one fixed double expression —
    bit-identical across engines.

    Scale shape: tokens via ONE posexplode of the empty-filtered
    split (positions are over the filtered array, so adjacency is
    well-defined); bigrams via LEAD on the per-doc partitioning (one
    Exchange); corpus counts are two hash-aggregates; scoring is two
    hash equi-joins (bigram, unigram) plus a broadcast 1-row V; one
    final per-doc aggregate. Zipf-heavy unigram keys self-combine
    map-side. No Python.

    Output: (doc_id, n_bigrams, logprob_micro, avg_surprisal) — one
    row per document with ≥ 2 tokens; surprisal NULL never (every
    self-corpus bigram has count ≥ 1).
    """
    arr = F.filter(F.split(F.lower(F.col(text_col)), " "),
                   lambda x: x != "")
    toks = (documents.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("doc_id"),
                    F.posexplode(arr).alias("pos", "w1")))
    w = SparkWindow.partitionBy("doc_id").orderBy(F.col("pos").asc())
    big = (toks.select("doc_id", "w1",
                       F.lead("w1").over(w).alias("w2"))
           .where(F.col("w2").isNotNull()))
    cb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c12"))
    cu = toks.groupBy("w1").agg(F.count(F.lit(1)).alias("_c1"))
    vv = cu.agg(F.count(F.lit(1)).alias("_v")).withColumn(
        "_k", F.lit(1))

    def _lnmu(col: F.Column) -> F.Column:
        return F.round(F.log(col.cast("double")) * 1e6).cast("long")

    scored = (big.join(cb, ["w1", "w2"]).join(cu, "w1")
              .withColumn("_k", F.lit(1))
              .join(F.broadcast(vv), "_k"))
    contrib = (_lnmu(F.col("_c12") + 1)
               - _lnmu(F.col("_c1") + F.col("_v")))
    s = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(contrib).alias("logprob_micro"))
    avg = (-F.col("logprob_micro").cast("double")
           / (F.col("n_bigrams").cast("double") * F.lit(1e6)))
    return s.select("doc_id", "n_bigrams", "logprob_micro",
                    avg.alias("avg_surprisal"))


def bpe_train_merges(documents: DataFrame, *, num_merges: int,
                     text_col: str = "text",
                     max_word_len: int = 64) -> list:
    """Train byte-pair-encoding merge rules on a corpus — the
    tokenizer-training primitive (the :func:`bpe_token_stats` scorer
    APPLIES a BPE-ish pretokenizer; this LEARNS the merge table):
    classic Sennrich BPE over the word-frequency table, greedy
    left-to-right pair application, end-of-word marker ``</w>``.

    Distributed shape: the STATE is the (symbols array, freq) word
    table — vocabulary-sized, not corpus-sized — built from one
    tokenize + hash-aggregate over the corpus and checkpointed. Each
    merge round is (1) one adjacent-pair explode + weighted count +
    global argmax, all in one job (the winning pair — ONE row — is
    collected, the :func:`~kml2geojson_spark.simsearch.ivf_centroids`
    size-gated-collect rule), and (2) one pure-Column greedy fold
    (``F.aggregate``) rewriting every word's symbol array, lineage-
    truncated per round. No Python UDF anywhere; corpus size only
    affects the initial aggregate.

    Determinism: pair counts are exact BIGINTs; ties break on
    (count desc, left asc, right asc) via one ``max(struct(...))``
    with inverted-lexicographic helpers — bit-stable across
    partitionings. Contract is the pytest against a pure-Python
    reference implementation (the merge list is exact, so no float
    oracle is needed; it is not registered as a SQL query because a
    10-round iterative argmax is not one DuckDB statement).

    Returns the ordered list of ``(left, right)`` merge pairs
    (length ≤ ``num_merges``; shorter if the corpus runs dry).
    """
    if num_merges < 1:
        raise ValueError("bpe_train_merges: num_merges must be >= 1")
    toks = (documents.where(F.col(text_col).isNotNull())
            .select(F.explode(F.filter(
                F.split(F.lower(F.col(text_col)), " "),
                lambda x: x != "")).alias("w")))
    words = (toks.where(F.length("w") <= max_word_len)
             .groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
             .select(F.concat(F.split(F.col("w"), ""),
                              F.array(F.lit("</w>"))).alias("syms"),
                     "freq")
             .localCheckpoint(eager=True))
    merges: list = []
    for _ in range(num_merges):
        pair_arr = F.when(
            F.size("syms") >= 2,
            F.expr("transform(sequence(1, size(syms) - 1), "
                   "i -> struct(syms[i - 1] AS a, syms[i] AS b))")) \
            .otherwise(F.expr(
                "CAST(array() AS array<struct<a: string, b: string>>)"))
        pairs = words.select("freq", F.explode(pair_arr).alias("p"))
        cnt = (pairs.groupBy("p").agg(F.sum("freq").alias("c"))
               .localCheckpoint(eager=True))
        top = cnt.agg(F.max("c").alias("maxc")).first()
        if top is None or top["maxc"] is None or top["maxc"] < 2:
            break
        best = (cnt.where(F.col("c") == top["maxc"])
                .agg(F.min(F.struct(F.col("p.a").alias("a"),
                                    F.col("p.b").alias("b")))
                     .alias("m")).first()["m"])
        a, b = best["a"], best["b"]
        merges.append((a, b))
        la, lb = F.lit(a), F.lit(b)
        merged = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == la) & (x == lb),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(F.concat(la, lb))))
            .otherwise(F.concat(acc, F.array(x))))
        words = words.select(merged.alias("syms"), "freq") \
            .localCheckpoint(eager=True)
    return merges


def char_entropy(documents: DataFrame, *, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-document character-level Shannon entropy (nats) — the
    classic gibberish / base64-blob / keyboard-mash filter: natural
    language sits in a narrow entropy band, encoded blobs above it,
    repeated-character spam below. Complements
    :func:`bigram_lm_surprisal` (word order) and
    :func:`repetition_stats` (span repeats) at the character level;
    the per-DOCUMENT counterpart of
    :func:`~kml2geojson_spark.relational.group_entropy` (which
    measures one categorical column's mix per GROUP).

    Determinism (the :func:`~kml2geojson_spark.relational
    .group_entropy` micro-nat rule applied per document): per-doc
    char counts c are exact BIGINTs; entropy numerator
    ``n·lnμ(n) − Σ c·lnμ(c)`` is an exact BIGINT (each ln
    integerized per exact integer), and the entropy is ONE division
    of identical integers.

    Scale shape: one char explode (rows = total corpus chars — the
    same cost class as the tokenize path), one (doc, char)
    hash-aggregate with map-side combine, one doc hash-aggregate.
    No window, no join.

    Output: (doc_id, n_chars_counted, k_chars, ent_num_micro,
    char_entropy) — empty/NULL texts yield no row.
    """
    chars = (documents.where(F.col(text_col).isNotNull())
             .select(F.col(id_col).alias("doc_id"),
                     F.explode(F.split(F.col(text_col), ""))
                     .alias("ch"))
             .where(F.col("ch") != ""))
    per_c = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("_c"))
    lnc = F.round(F.log(F.col("_c").cast("double")) * 1e6).cast("long")
    s = per_c.groupBy("doc_id").agg(
        F.sum("_c").alias("n_chars_counted"),
        F.count(F.lit(1)).alias("k_chars"),
        F.sum(F.col("_c") * lnc).alias("_sclc"))
    lnn = F.round(F.log(F.col("n_chars_counted").cast("double"))
                  * 1e6).cast("long")
    num = F.col("n_chars_counted") * lnn - F.col("_sclc")
    return s.select(
        "doc_id", "n_chars_counted", "k_chars",
        num.alias("ent_num_micro"),
        (num.cast("double")
         / (F.col("n_chars_counted").cast("double") * F.lit(1e6)))
        .alias("char_entropy"))


def doc_novelty(documents: DataFrame, *, n: int = 3,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Per-document n-gram novelty — what fraction of a document's
    DISTINCT word n-grams appear in NO other document? The inverse
    lens of :func:`boilerplate_ngrams` (which surfaces the shared
    spans): high novelty = fresh content worth upsampling, near-zero
    novelty = templated/mirrored text a curriculum should downweight.

    Determinism: tokenization is the package's standard
    lower+space-split+empty-filter; n-grams are formed by LEAD over
    the per-doc position order (exact, no regex); the document
    universe per gram is a DISTINCT (doc, gram) set, so repeats
    inside one document never inflate its document frequency; counts
    are exact BIGINTs and novelty is ONE division. Documents with
    fewer than ``n`` tokens emit a row with n_grams = 0 and NULL
    novelty (they have no n-gram evidence either way).

    Scale shape: one posexplode (corpus-token rows), one LEAD on the
    per-doc partitioning, one (doc, gram) distinct-agg, one gram
    hash-agg for document frequency, one equi-join back on the gram
    key, one doc hash-agg. All joins are equi-joins on the gram hash;
    no all-pairs anything.

    Output: (doc_id, n_grams, n_novel, novelty).
    """
    if n < 1:
        raise ValueError("doc_novelty: n must be >= 1")
    arr = F.filter(F.split(F.lower(F.col(text_col)), " "),
                   lambda t: t != "")
    base = (documents.where(F.col(text_col).isNotNull()
                            & F.col(id_col).isNotNull())
            .select(F.col(id_col).alias("doc_id"), arr.alias("_ts")))
    toks = base.select("doc_id",
                       F.posexplode("_ts").alias("pos", "w0"))
    w = SparkWindow.partitionBy("doc_id").orderBy(F.col("pos").asc())
    cols = [F.col("w0")]
    g = toks
    for i in range(1, n):
        g = g.withColumn(f"w{i}", F.lead("w0", i).over(w))
        cols.append(F.col(f"w{i}"))
    gram = F.concat_ws("\x1f", *cols)
    keep = cols[-1].isNotNull() if n > 1 else F.lit(True)
    dg = (g.where(keep)
          .select("doc_id", F.md5(gram).alias("_g"))
          .distinct())
    df_counts = dg.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_df"))
    per_doc = (dg.join(df_counts, "_g")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_grams"),
                    F.sum(F.when(F.col("_df") == 1, 1).otherwise(0))
                    .alias("n_novel")))
    all_docs = base.select("doc_id").distinct()
    out = all_docs.join(per_doc, "doc_id", "left")
    ng = F.coalesce(F.col("n_grams"), F.lit(0))
    nv = F.coalesce(F.col("n_novel"), F.lit(0))
    return out.select(
        "doc_id", ng.alias("n_grams"), nv.alias("n_novel"),
        F.when(ng > 0, nv.cast("double") / ng.cast("double"))
        .alias("novelty"))


def compression_ratio(documents: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text",
                      level: int = 6) -> DataFrame:
    """Per-document zlib compression ratio — the classic "is this
    text?" filter the big web-corpus pipelines run first: natural
    language compresses to ~0.3-0.5 of its size, base64/random blobs
    barely compress (ratio → 1), and pathological repetition
    compresses to almost nothing. The byte-level complement to
    :func:`char_entropy` (symbol mix) and :func:`repetition_stats`
    (span repeats) — zlib sees LONG-RANGE redundancy both miss.

    Determinism: zlib with a FIXED level and default strategy is a
    deterministic pure function of the utf-8 bytes (same bytes →
    same compressed length on every CPython/zlib the sandbox and a
    cluster ship), so the ratio is a ratio of exact integers. No SQL
    oracle exists (DuckDB has no zlib) — contract pinned by pytest
    against direct ``zlib.compress`` calls, same evidence class as
    the streaming operators.

    Scale shape: ONE Arrow-batched ``mapInPandas`` projection — per
    batch, a tight loop of C-implemented zlib calls; no shuffle, no
    driver work, embarrassingly parallel.

    Output: (doc_id, n_bytes, n_compressed, ratio) — empty texts
    yield ratio NULL; NULL texts/ids drop.
    """
    import zlib as _zlib  # stdlib, executor-side

    if not (0 <= level <= 9):
        raise ValueError("compression_ratio: level must be in 0..9")
    base = (documents.where(F.col(text_col).isNotNull()
                            & F.col(id_col).isNotNull())
            .select(F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("_t")))

    def kernel(batches):
        import pandas as pd  # noqa: F811 (executor import)
        for pdf in batches:
            raw = [t.encode("utf-8") for t in pdf["_t"]]
            nb = [len(b) for b in raw]
            nc = [len(_zlib.compress(b, level)) for b in raw]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"], "n_bytes": nb,
                "n_compressed": nc,
                "ratio": [c / n if n > 0 else None
                          for n, c in zip(nb, nc)]})

    return base.mapInPandas(
        kernel,
        "doc_id long, n_bytes long, n_compressed long, ratio double")


def script_mix_stats(documents: DataFrame, *, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document character-class composition — the script/noise
    profile beside :func:`quality_score` (word-level ratios) and
    :func:`lang_guess` (n-gram hints): how much of each document is
    lowercase / uppercase / digit / whitespace / ASCII punctuation /
    other. Mixed-script and symbol-heavy documents are classic
    training-data noise (code dumps, table fragments, mojibake) and
    this is the cheap first-pass filter signal for them.

    Determinism: every count is ``length(s) -
    length(regexp_replace(s, class, ''))`` over EXPLICIT ASCII
    character classes (``[a-z]``, ``[A-Z]``, ``[0-9]``,
    ``[ \\t\\n\\r]``, ``[!-/:-@[-`{-~]``) — no locale- or
    Unicode-category-dependent classes, so Java regex and RE2
    agree symbol-for-symbol; ``n_other`` is the exact integer
    remainder. Lengths are UTF-16 code units on the JVM — identical
    to code points for all BMP text; documented caveat for astral
    symbols. Fractions are single divisions of exact BIGINTs.

    Scale shape: pure-Column, whole-stage codegen, zero shuffle,
    zero Python — a scan-shaped operator safe at any corpus size.

    Output: (doc_id, n_chars, n_lower, n_upper, n_digit, n_space,
    n_punct, n_other, frac_alpha, frac_digit, frac_punct) —
    fractions NULL for empty text; NULL text/id drop.
    """
    t = F.col("_t")

    def cnt(pattern: str):
        return (F.length(t)
                - F.length(F.regexp_replace(t, pattern, ""))) \
            .cast("long")

    base = (documents.where(F.col(text_col).isNotNull()
                            & F.col(id_col).isNotNull())
            .select(F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("_t")))
    c = base.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars"),
        cnt("[a-z]").alias("n_lower"),
        cnt("[A-Z]").alias("n_upper"),
        cnt("[0-9]").alias("n_digit"),
        cnt("[ \t\n\r]").alias("n_space"),
        cnt("[!-/:-@\\[-`{-~]").alias("n_punct"))
    other = (F.col("n_chars") - F.col("n_lower") - F.col("n_upper")
             - F.col("n_digit") - F.col("n_space")
             - F.col("n_punct")).alias("n_other")

    def frac(num):
        return F.when(F.col("n_chars") > 0,
                      num.cast("double")
                      / F.col("n_chars").cast("double"))

    return c.select(
        "doc_id", "n_chars", "n_lower", "n_upper", "n_digit",
        "n_space", "n_punct", other,
        frac(F.col("n_lower") + F.col("n_upper")).alias("frac_alpha"),
        frac(F.col("n_digit")).alias("frac_digit"),
        frac(F.col("n_punct")).alias("frac_punct"))


def readability_scores(documents: DataFrame, *, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    quality signal (training corpora skew unreadable when scraped
    from tables/code/navigation): ``206.835 - 1.015·(words/sentence)
    - 84.6·(syllables/word)`` with the standard cheap proxies —
    words = ``[a-zA-Z]+`` runs, sentences = ``[.!?]+`` runs,
    syllables = vowel-group (``[aeiouyAEIOUY]+``) runs. A heuristic
    by construction (documented); the VALUE is fully deterministic.

    Determinism: all three counts are ``regexp_count`` over explicit
    ASCII classes (Java regex ≡ RE2 for these patterns) as exact
    BIGINTs; the score is derived by IEEE-exact ops on the exact
    integers (two divisions, two multiplications by decimal literals,
    two subtractions — identical order cross-engine, hence
    bit-identical doubles). Score NULL when words or sentences are 0.

    Scale shape: pure-Column, whole-stage codegen, zero shuffle,
    zero Python. Scan-shaped, any-scale-safe.

    Output: (doc_id, n_words, n_sentences, n_syllables,
    words_per_sentence, syllables_per_word, flesch).
    """
    t = F.col("_t")
    base = (documents.where(F.col(text_col).isNotNull()
                            & F.col(id_col).isNotNull())
            .select(F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("_t")))
    c = base.select(
        "doc_id",
        F.regexp_count(t, F.lit("[a-zA-Z]+")).cast("long")
        .alias("n_words"),
        F.regexp_count(t, F.lit("[.!?]+")).cast("long")
        .alias("n_sentences"),
        F.regexp_count(t, F.lit("[aeiouyAEIOUY]+")).cast("long")
        .alias("n_syllables"))
    w = F.col("n_words").cast("double")
    s = F.col("n_sentences").cast("double")
    y = F.col("n_syllables").cast("double")
    wps = F.when(F.col("n_sentences") > 0, w / s)
    spw = F.when(F.col("n_words") > 0, y / w)
    flesch = F.when((F.col("n_sentences") > 0) & (F.col("n_words") > 0),
                    F.lit(206.835) - F.lit(1.015) * (w / s)
                    - F.lit(84.6) * (y / w))
    return c.select("doc_id", "n_words", "n_sentences", "n_syllables",
                    wps.alias("words_per_sentence"),
                    spw.alias("syllables_per_word"),
                    flesch.alias("flesch"))


def keyword_snippets(documents: DataFrame, term: str, *,
                     context: int = 30, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """First-occurrence keyword-in-context snippets — the search
    preview beside :func:`keyword_search_all` (which only flags):
    documents containing ``term`` (exact, case-sensitive substring)
    with ``context`` characters either side of the first hit.

    Determinism: pure integer position arithmetic on 1-based
    ``locate``/``substring`` (identical semantics in Spark SQL and
    DuckDB's strpos/substr); no regex, so no engine-dialect risk.

    Scale shape: pure-Column, zero shuffle, zero Python —
    scan-shaped with the contains-filter pushed into the scan.

    Output: (doc_id, pos, snippet) — pos is the 1-based offset of
    the first occurrence; non-matching/NULL documents drop.
    """
    if not term:
        raise ValueError("keyword_snippets: term must be non-empty")
    if context < 0:
        raise ValueError("keyword_snippets: context must be >= 0")
    t = F.col(text_col)
    pos = F.locate(term, t)
    start = F.greatest(F.lit(1), pos - F.lit(context))
    width = F.lit(context + len(term) + context)
    return (documents
            .where(t.isNotNull() & F.col(id_col).isNotNull())
            .select(F.col(id_col).alias("doc_id"),
                    pos.alias("pos"),
                    F.substring(t, start, width).alias("_s"))
            .where(F.col("pos") > 0)
            .select("doc_id", F.col("pos").cast("long").alias("pos"),
                    F.col("_s").alias("snippet")))


def simhash_threshold_curve(documents: DataFrame, *,
                            max_hamming: int = 3, bands: int = 4,
                            bits: int = 60) -> DataFrame:
    """Near-dup pair counts by SimHash hamming distance — the
    threshold-tuning curve for :func:`simhash_near_pairs`: "how many
    more pairs does raising max_hamming from 2 to 3 pull in?" is the
    question every dedup rollout asks before committing a threshold.

    Same determinism and scale shape as the underlying banded pair
    join (exact BIGINT pair counts per distance); distances with no
    pairs emit no row.

    Output: (hamming, n_pairs) for hamming in 0..max_hamming.
    """
    pairs = simhash_near_pairs(documents, max_hamming=max_hamming,
                               bands=bands, bits=bits)
    return pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).alias("n_pairs"))


def distinctive_terms(documents: DataFrame, *, group_col: str = "source",
                      alpha0: float = 100.0, k: int = 10,
                      min_count: int = 2,
                      min_token_len: int = 1) -> DataFrame:
    """Per-group distinctive terms by the informative-Dirichlet
    log-odds z-score (Monroe et al. 2008, "Fightin' Words") — the
    corpus-comparison primitive beside :func:`tfidf_top_terms`'s
    per-document view: which tokens does THIS source/language slice
    over-use relative to the rest of the corpus, normalized so rare
    tokens don't dominate on noise (raw log-odds variance shrinks
    with evidence; the z-score divides it back out).

    For token t in group g with count y_g (group total n_g), rest
    count y_r = total_t − y_g (rest total n_r = N − n_g) and prior
    α_t = alpha0·total_t/N (prior mass proportional to corpus
    frequency, Σα_t = alpha0):

        δ = ln((y_g+α_t)/(n_g+alpha0−y_g−α_t))
          − ln((y_r+α_t)/(n_r+alpha0−y_r−α_t))
        z = δ / sqrt(1/(y_g+α_t) + 1/(y_r+α_t))

    Determinism: all counts are exact BIGINTs from hash-aggregates;
    δ/z are ONE fixed IEEE expression of identical integers, and the
    OUTPUT quantizes z to micro-units (``zeta_micro`` BIGINT, the
    :func:`~kml2geojson_spark.spatial.ops.haversine_m` libm rule —
    ln may differ by an ulp across engines, far below 1e-6). The
    top-k ordering compares the quantized value with a token
    tiebreak, so ranks are engine-stable.

    Scale shape: one tokenize-explode → (group, token) hash-aggregate
    with map-side combine; token totals re-aggregate THAT frame (no
    second corpus scan) and join back on token; group totals are a
    tiny broadcast. The rank window partitions by group. Vocabulary
    skew (stopwords) is bounded by the per-(group, token) collapse —
    the join key frame holds one row per distinct token.

    Output: (group, token, n_group, n_rest, zeta_micro, rank) with
    rank ≤ k by (zeta_micro desc, token asc), n_group ≥ min_count.
    """
    if alpha0 <= 0:
        raise ValueError(f"alpha0 must be > 0, got {alpha0}")
    toks = (documents
            .where(F.col(group_col).isNotNull()
                   & F.col("text").isNotNull())
            .select(F.col(group_col).alias("grp"),
                    F.explode(F.split(F.lower(F.col("text")), " "))
                    .alias("token"))
            .where((F.col("token") != "")
                   & (F.length("token") >= min_token_len)))
    gt = toks.groupBy("grp", "token").agg(
        F.count(F.lit(1)).alias("y_g"))
    tot_t = gt.groupBy("token").agg(F.sum("y_g").alias("tot_t"))
    tot_g = gt.groupBy("grp").agg(F.sum("y_g").alias("n_g"))
    big_n = gt.agg(F.sum("y_g").alias("N"))
    j = (gt.join(tot_t, "token")
         .join(F.broadcast(tot_g), "grp")
         .crossJoin(F.broadcast(big_n)))
    a0 = F.lit(float(alpha0))
    alpha_t = (a0 * F.col("tot_t").cast("double")
               / F.col("N").cast("double"))
    yg = F.col("y_g").cast("double") + alpha_t
    yr = ((F.col("tot_t") - F.col("y_g")).cast("double") + alpha_t)
    dg = (F.col("n_g").cast("double") + a0
          - F.col("y_g").cast("double") - alpha_t)
    dr = ((F.col("N") - F.col("n_g")).cast("double") + a0
          - (F.col("tot_t") - F.col("y_g")).cast("double") - alpha_t)
    delta = F.log(yg / dg) - F.log(yr / dr)
    z = delta / F.sqrt(F.lit(1.0) / yg + F.lit(1.0) / yr)
    scored = (j.where(F.col("y_g") >= min_count)
              .select(F.col("grp").alias(group_col), "token",
                      F.col("y_g").alias("n_group"),
                      (F.col("tot_t") - F.col("y_g")).alias("n_rest"),
                      F.round(z * F.lit(1_000_000.0)).cast("long")
                      .alias("zeta_micro")))
    w = SparkWindow.partitionBy(group_col).orderBy(
        F.col("zeta_micro").desc(), F.col("token").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def source_mix_weights(docs: DataFrame, *, group_col: str = "source",
                       alpha: float = 0.5,
                       target_total: int | None = None) -> DataFrame:
    """Temperature-based source mixing weights for a training-data
    recipe: weight each source ∝ count^α and normalize — α = 1
    reproduces natural proportions, α = 0 uniform, the standard
    α ≈ 0.5–0.7 upsamples small high-quality sources (the
    multilingual/pile mixing rule). Completing the sampling family:
    :func:`quality_quota_sample` enforces per-bucket quotas,
    :func:`split_assign` deterministic splits — this computes the
    quota TABLE itself.

    Determinism: count^α routes through libm pow, so the raw weight
    is quantized ONCE to exact micro-units
    (``w_micro = floor(count^α·10⁶ + 0.5)``) and the normalization
    is one correctly-rounded IEEE division of exact BIGINTs —
    bit-exact cross-engine (α = 0.5 even avoids the pow ulp risk:
    sqrt is correctly rounded).

    Scale shape: ONE hash-aggregate (source cardinality is tiny) +
    one unpartitioned window over the aggregated rows — the window
    input is the source table, never the data.

    Output: (source, n_docs BIGINT, w_micro BIGINT, weight DOUBLE
    [, target_docs BIGINT when target_total given]).
    """
    from pyspark.sql import Window
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    counts = (docs.where(F.col(group_col).isNotNull())
              .groupBy(F.col(group_col).alias("source"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_docs")))
    if alpha == 0.5:
        raw = F.sqrt(F.col("n_docs").cast("double"))
    else:
        raw = F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
    wm = F.floor(raw * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    w = Window.partitionBy()
    out = (counts.withColumn("w_micro", wm)
           .withColumn("_tot", F.sum("w_micro").over(w))
           .withColumn("weight", F.col("w_micro").cast("double")
                       / F.col("_tot").cast("double")))
    if target_total is not None:
        out = out.withColumn(
            "target_docs",
            F.floor(F.col("weight") * F.lit(float(target_total))
                    + F.lit(0.5)).cast("long"))
    return out.drop("_tot")


def chao1_richness(docs: DataFrame, *, text_col: str = "text",
                   group_cols: list[str]) -> DataFrame:
    """Chao1 vocabulary-richness estimator per group — "how many
    token types does this corpus slice REALLY have, including the
    ones we haven't seen yet?": the abundance-based estimator
    ``chao1 = D + f1·(f1−1) / (2·(f2+1))`` (bias-corrected form)
    from the observed distinct count D, singletons f1 and doubletons
    f2. The coverage extrapolation beside :func:`vocabulary`'s
    observed counts — a slice whose chao1 far exceeds D is
    undersampled (more scraping will keep finding new words).

    Tokenization: the :func:`vocabulary` recipe exactly —
    ``split(lower(text), ' ')``, empty tokens dropped — so the
    DuckDB replay is shared.

    Determinism: D, f1, f2 and the correction numerator are exact
    BIGINTs; chao1 is one correctly-rounded IEEE division —
    bit-exact cross-engine.

    Scale shape: explode → one (group, token) hash-aggregate with
    map-side combine → one group reduce. Two shuffles, no window
    over the vocabulary, no join.

    Output: (group..., n_tokens BIGINT, distinct_tokens BIGINT,
    f1 BIGINT, f2 BIGINT, chao1 DOUBLE).
    """
    if not group_cols:
        raise ValueError("chao1_richness: group_cols must be non-empty")
    keep = F.col(text_col).isNotNull()
    for c in group_cols:
        keep = keep & F.col(c).isNotNull()
    toks = (docs.where(keep)
            .select(*group_cols,
                    F.explode(F.split(F.lower(F.col(text_col)),
                                      " ")).alias("_tok"))
            .where(F.col("_tok") != ""))
    freq = (toks.groupBy(*group_cols, "_tok")
            .agg(F.count(F.lit(1)).cast("long").alias("_c")))
    agg = (freq.groupBy(*group_cols)
           .agg(F.sum("_c").alias("n_tokens"),
                F.count(F.lit(1)).cast("long").alias("distinct_tokens"),
                F.sum(F.when(F.col("_c") == 1, 1).otherwise(0))
                .cast("long").alias("f1"),
                F.sum(F.when(F.col("_c") == 2, 1).otherwise(0))
                .cast("long").alias("f2")))
    chao = (F.col("distinct_tokens").cast("double")
            + (F.col("f1") * (F.col("f1") - 1)).cast("double")
            / (F.lit(2) * (F.col("f2") + 1)).cast("double"))
    return agg.select(*group_cols, "n_tokens", "distinct_tokens",
                      "f1", "f2", chao.alias("chao1"))
