"""Similarity search over embedding columns (``array<float>``).

- :func:`cosine_topk_exact` — brute-force exact top-k, the baseline:
  broadcast the (small) query set, fold the dot product JVM-side with
  ``aggregate``/``zip_with`` in double precision (in-order fold → the
  DuckDB oracle's ``list_dot_product`` over ``DOUBLE[]`` matches
  bit-for-bit), window top-k with deterministic tie-break.
- :func:`hyperplane_lsh_topk` — the scale path: random-hyperplane sign
  signatures, candidates from Hamming-band buckets, exact re-rank of
  candidates only. Default hyperplanes are md5-derived ±1 rows
  (:func:`rademacher_hyperplanes`) packed into 64-bit sign-mask
  literals and evaluated as unrolled in-order multiply-add chains in
  whole-stage codegen — zero Python in the plan and bit-replayable by
  the DuckDB oracle (driver q41); ``hyperplanes="gaussian"`` keeps the
  numpy Arrow-batched matmul variant. Recall < 1 by design; tests
  measure it against the exact baseline.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F


def _as_double(col: str) -> F.Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a: str, b: str) -> F.Column:
    """In-order double fold of the elementwise product — deterministic
    and reproducible across engines."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot_chain(a: str, b: str, dim: int) -> F.Column:
    """The same in-order dot as :func:`_dot`, unrolled to a
    left-associated ``a[1]*b[1] + a[2]*b[2] + ...`` chain when ``dim``
    is statically known. Bit-identical to the fold (``0.0 + t1 == t1``
    exactly in IEEE double) and to the DuckDB oracle's
    ``list_dot_product``, but it stays in whole-stage codegen — the
    HOF fold pays an interpreted lambda dispatch per element, which
    dominates candidate re-ranking at bench scale."""
    terms = [F.element_at(a, i + 1) * F.element_at(b, i + 1)
             for i in range(dim)]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def cosine_topk_exact(embeddings: DataFrame, queries: DataFrame, k: int, *,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      query_id_col: str = "query_id") -> DataFrame:
    """Exact cosine top-k: every query against every vector.

    Output: (query_id, neighbor_id, cosine, rank). Self-matches are
    excluded. Tie-break on neighbor_id keeps ranks deterministic.
    """
    base = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("_v"),
    ).withColumn("_vnorm", F.sqrt(_dot("_v", "_v")))

    q = F.broadcast(queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double(vec_col).alias("_q"),
    ).withColumn("_qnorm", F.sqrt(_dot("_q", "_q"))))

    cos = _dot("_v", "_q") / (F.col("_vnorm") * F.col("_qnorm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (base.crossJoin(q)
            .where(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("cosine", cos)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def cosine_neardup_pairs(embeddings: DataFrame, threshold: float, *,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: all (a < b) with
    cosine >= threshold. Brute-force baseline (O(n²) pairwise — the
    oracle-matched reference path); at 100 TB use
    :func:`cosine_neardup_pairs_lsh`, which prefilters candidates
    through hyperplane-LSH band buckets and applies this same exact
    filter to candidates only.

    Output: (vec_a, vec_b) — ids only, so cross-engine comparison never
    touches float formatting; the in-order double fold in :func:`_dot`
    makes the threshold test itself bit-identical to the oracle.
    """
    a = (embeddings.select(F.col(id_col).alias("vec_a"),
                           _as_double(vec_col).alias("_va"))
         .withColumn("_na", F.sqrt(_dot("_va", "_va"))))
    b = (embeddings.select(F.col(id_col).alias("vec_b"),
                           _as_double(vec_col).alias("_vb"))
         .withColumn("_nb", F.sqrt(_dot("_vb", "_vb"))))
    cos = _dot("_va", "_vb") / (F.col("_na") * F.col("_nb"))
    return (a.join(b, F.col("vec_a") < F.col("vec_b"))
            .where(cos >= F.lit(threshold))
            .select("vec_a", "vec_b"))


# ---------------------------------------------------------------------------
# IVF (inverted-file) approximate nearest neighbour
# ---------------------------------------------------------------------------

def _sq_dist(a: str, b: str) -> F.Column:
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)


def _mean_vectors(assigned: DataFrame, group_col: str,
                  vec_col: str) -> DataFrame:
    """Per-group elementwise mean of array<double> — distributed:
    posexplode → (group, pos) avg → re-assemble sorted. Two narrow-ish
    shuffles on small keys; never collects vectors to the driver."""
    e = assigned.select(group_col,
                        F.posexplode(F.col(vec_col)).alias("pos", "val"))
    avg = e.groupBy(group_col, "pos").agg(F.avg("val").alias("val"))
    packed = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "val"))),
        lambda s: s.val)
    return avg.groupBy(group_col).agg(packed.alias("cvec"))


def _materialize_codebook(cents: DataFrame) -> DataFrame:
    """Collect the (tiny — n_centroids rows) codebook to the driver and
    recreate it: truncates the Lloyd-iteration lineage and avoids
    leaking a cached RDD per call (``cache()`` with no ``unpersist()``
    accumulates for the session lifetime)."""
    rows = cents.collect()
    return cents.sparkSession.createDataFrame(rows, cents.schema)


def ivf_centroids(embeddings: DataFrame, n_centroids: int, *,
                  iters: int = 2, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  train_rate: tuple[int, int] | None = None) -> DataFrame:
    """IVF codebook: deterministic hash-spread init (md5 bucket of the
    id → per-bucket mean — decorrelated from id order, unlike a plain
    ``id % n_centroids``, which would seed every centroid identically
    on range-clustered or strided id spaces), then ``iters`` Lloyd
    steps (assign to nearest centroid via a broadcast cross join +
    hash-aggregate argmin; re-average). The vector table is only ever
    scanned; the codebook is materialized per iteration (n_centroids
    rows on the driver), truncating lineage.

    Determinism: the init and every tie-break are deterministic, but
    centroid coordinates come from ``avg`` over doubles, whose rounding
    depends on partition/merge order — coordinates are reproducible
    only to ~ulp across different partitionings, so a vector lying
    exactly between two centroids may flip lists. ANN recall is
    unaffected; bit-exact runs require a fixed partitioning.

    The codebook may hold FEWER than ``n_centroids`` rows: a hash
    bucket that receives no vectors (likely only when n_vectors is
    within a few multiples of n_centroids), or a Lloyd step that
    empties a cluster, simply drops it — standard k-means
    empty-cluster behavior. Callers sizing ``nprobe`` should read the
    codebook's actual row count rather than assume ``n_centroids``.

    ``train_rate=(num, den)`` trains on the hash-DETERMINISTIC sample
    (md5 bucket of the id, the :func:`~kml2geojson_spark.sketch.
    deterministic_sample` discipline) keeping ~num/den of the vectors
    — the 100-TB shape: Lloyd is 1 + 2·iters FULL passes over the
    vector table, so at scale the codebook is trained on a sample
    (k-means cluster shapes stabilize at sample sizes of ~100–1000
    vectors per centroid; sampling error shifts list boundaries, which
    ``nprobe`` already absorbs) and the full table is scanned exactly
    ONCE — by the final assignment in :func:`ivf_topk`. Every pass
    here (init and each Lloyd step) touches ONLY the sampled rows:
    the sample filter is applied before the persist, so the cached
    training frame is the sample itself (value-asserted in tests).
    ``None`` (default) trains on the full table — right below ~10⁶
    rows where the sample would thin small clusters.

    Output: (cid int, cvec array<double>).
    """
    # cache the projected vectors for the duration of the Lloyd loop —
    # init + every iteration scans them (1 + 2·iters passes); without
    # the cache each pass re-reads and re-casts the source table
    # (MLlib's KMeans caches for the same reason). Released before
    # returning.
    vecs = embeddings.select(F.col(id_col).alias("_id"),
                             _as_double(vec_col).alias("_v"))
    if train_rate is not None:
        from .textops import md5_bucket_col

        num, den = train_rate
        if not 0 < num <= den:
            raise ValueError("train_rate must satisfy 0 < num <= den")
        vecs = vecs.where(
            md5_bucket_col(F.col("_id")) < (256 * num) // den)
    vecs = vecs.persist()
    try:
        seed_bucket = (F.conv(F.substring(F.md5(F.col("_id").cast("string")),
                                          1, 15), 16, 10).cast("long")
                       % n_centroids).cast("int")
        cents = _materialize_codebook(_mean_vectors(
            vecs.withColumn("cid", seed_bucket), "cid", "_v"))
        for _ in range(iters):
            assigned = ivf_assign(vecs.select(F.col("_id"), F.col("_v")),
                                  cents, id_col="_id", vec_col="_v")
            cents = _materialize_codebook(
                _mean_vectors(assigned, "cid", "_v"))
    finally:
        vecs.unpersist()
    return cents.select("cid", "cvec")


def ivf_assign(vectors: DataFrame, centroids: DataFrame, *,
               id_col: str = "vec_id", vec_col: str = "_v") -> DataFrame:
    """Nearest-centroid assignment: broadcast the codebook, argmin L2.

    The argmin is ``min(struct(d2, cid, vec))`` — a plain hash
    aggregate with map-side combine (struct ordering gives the
    deterministic d2-then-cid tie-break), instead of a window
    ``row_number``, which would sort every (vector × centroid) row
    inside each partition. At 100 TB the aggregate shuffles one row per
    vector; the window shuffles n_centroids rows per vector and sorts."""
    joined = vectors.crossJoin(F.broadcast(centroids))
    best = F.min(F.struct(F.col("_d2"), F.col("cid"),
                          F.col(vec_col))).alias("_best")
    return (joined.withColumn("_d2", _sq_dist(vec_col, "cvec"))
            .groupBy(id_col).agg(best)
            .select(id_col, F.col("_best.cid").alias("cid"),
                    F.col(f"_best.{vec_col}").alias(vec_col)))


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int, *,
             n_centroids: int = 16, nprobe: int = 4, iters: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id",
             train_rate: tuple[int, int] | None = None) -> DataFrame:
    """IVF-bucketed approximate cosine top-k — the classic ANN scale
    path: vectors are pre-partitioned into ``n_centroids`` inverted
    lists; each query probes only its ``nprobe`` nearest lists and
    exact-re-ranks those candidates. The candidate join is an equi-join
    on ``cid`` (hash-partitionable at 100 TB; the codebook itself is
    always broadcast). Recall < 1 by design; tests measure it against
    :func:`cosine_topk_exact`. ``train_rate=(num, den)`` trains the
    codebook on the deterministic ~num/den id-hash sample (see
    :func:`ivf_centroids`) so the FULL table is scanned exactly once —
    by the assignment below — instead of 1 + 2·iters times; set it for
    any corpus where two extra full passes per Lloyd iteration matter.

    Output: (query_id, neighbor_id, cosine, rank).
    """
    cents = ivf_centroids(embeddings, n_centroids, iters=iters,
                          id_col=id_col, vec_col=vec_col,
                          train_rate=train_rate)
    base = embeddings.select(F.col(id_col).alias("neighbor_id"),
                             _as_double(vec_col).alias("_v"))
    assigned = (ivf_assign(base, cents, id_col="neighbor_id")
                .withColumn("_vnorm", F.sqrt(_dot("_v", "_v"))))

    q = queries.select(F.col(query_id_col).alias("query_id"),
                       _as_double(vec_col).alias("_q"))
    qc = q.crossJoin(F.broadcast(cents)).withColumn(
        "_d2", _sq_dist("_q", "cvec"))
    wp = Window.partitionBy("query_id").orderBy(F.col("_d2").asc(),
                                                F.col("cid").asc())
    probes = (qc.withColumn("_rn", F.row_number().over(wp))
              .where(F.col("_rn") <= nprobe)
              .select("query_id", "cid"))

    q_full = F.broadcast(q.withColumn("_qnorm", F.sqrt(_dot("_q", "_q"))))
    cand = probes.join(assigned, "cid").join(q_full, "query_id")
    cos = _dot("_v", "_q") / (F.col("_vnorm") * F.col("_qnorm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (cand.where(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("cosine", cos)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def rademacher_hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    """±1 hyperplane matrix ``H[dim, bits]`` derived from md5 — the
    engine-independent analogue of the MinHash permutation constants
    (textops.minhash_permutation_constants): ``H[i, j] = +1`` iff bit
    ``i`` of ``md5(f"hp:{seed}:{j}")`` is set. Sign-random-projection
    LSH with Rademacher (±1) projections has the same collision
    guarantees as Gaussian ones (Achlioptas 2001, database-friendly
    random projections), and because any engine can recompute the md5
    digests, a DuckDB oracle can replay the sign bits exactly — the
    hyperplanes are inlined into the oracle SQL as literal arrays."""
    if dim > 128:
        raise ValueError("md5 hyperplane derivation covers dim <= 128")
    import hashlib
    rows = []
    for j in range(bits):
        digest = hashlib.md5(f"hp:{seed}:{j}".encode()).digest()
        bits_j = np.unpackbits(np.frombuffer(digest, dtype=np.uint8))
        rows.append(np.where(bits_j[:dim] == 1, 1.0, -1.0))
    return np.stack(rows, axis=1)  # (dim, bits)


def hyperplane_band_buckets(df: DataFrame, ident: str, *, dim: int,
                            bits: int = 64, bands: int = 8,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            seed: int = 42) -> DataFrame:
    """(id, band, bucket) LSH bucket rows with ZERO Python in the plan
    and bit-replayable sign bits (driver q41).

    Shape: each md5-derived ±1 hyperplane (:func:`rademacher_hyperplanes`)
    is packed into ONE 64-bit sign-mask literal, and the ``bits``
    (band, weight 2^pos, mask) structs ride a small literal array
    exploded against each vector — no join, no broadcast, ~200 literal
    nodes. Each exploded row computes one unrolled
    ``v[1]*±1 + v[2]*±1 + ...`` chain (sign = mask bit, multiplication
    by ±1.0 is exact) — left-associated, so the float result is
    IDENTICAL to the in-order fold the DuckDB oracle's
    ``list_dot_product`` computes over the inlined ±1 arrays. Buckets
    are one integer hash-aggregate of the sign weights per (id, band).
    Elements cast float→double AT THE ACCESS (exact), never through a
    ``transform`` HOF whose lambda is re-interpreted per reference
    after projection collapse; everything stays in whole-stage codegen.

    Rejected formulations (all measured slower): per-row HOF-fold
    bucket arrays (~2M interpreted lambda dispatches per 500 vectors +
    a Janino-hostile method); hyperplanes as a 4096-double-literal
    exploded array (Catalyst re-walks the tree every optimizer pass —
    planning-time blowup); a broadcast hyperplane DataFrame (the
    constant-key fan-out join plans as a BroadcastNestedLoopJoin,
    breaking the suite's no-nested-loop plan guards). No packed 64-bit
    signature for the BUCKETS, so no signed-overflow edge at bit 63 —
    the sign-mask literal is the only 64-bit packing and only ever
    bit-tested."""
    assert bits % bands == 0
    if dim > 64:
        raise ValueError("sign-mask hyperplanes cover dim <= 64; use "
                         "hyperplanes='gaussian' beyond that")
    band_bits = bits // bands
    H = rademacher_hyperplanes(dim, bits, seed)
    structs = []
    for j in range(bits):
        mask = 0
        for i in range(dim):
            if H[i, j] > 0:
                mask |= 1 << i
        if mask >= 1 << 63:
            mask -= 1 << 64  # two's-complement into a signed long literal
        structs.append(F.struct(
            F.lit(j // band_bits).alias("band"),
            F.lit(1 << (j % band_bits)).cast("long").alias("w"),
            F.lit(mask).cast("long").alias("mask")))
    d = (df.select(F.col(id_col).alias(ident), F.col(vec_col).alias("_v"))
         .withColumn("_hp", F.explode(F.array(*structs))))
    mask_col = F.col("_hp.mask")

    def term(i: int) -> F.Column:
        sign = F.when(F.shiftright(mask_col, i).bitwiseAND(F.lit(1)) == 1,
                      F.lit(1.0)).otherwise(F.lit(-1.0))
        return F.element_at("_v", i + 1).cast("double") * sign

    dot = term(0)
    for i in range(1, dim):
        dot = dot + term(i)
    return (d.select(ident, F.col("_hp.band").alias("band"),
                     F.when(dot > 0, F.col("_hp.w")).otherwise(F.lit(0))
                     .alias("_wbit"))
            .groupBy(ident, "band")
            .agg(F.sum("_wbit").alias("bucket")))


def hyperplane_signatures(df: DataFrame, *, dim: int, bits: int = 64,
                          vec_col: str = "embedding", id_col: str = "vec_id",
                          seed: int = 42) -> DataFrame:
    """Random-hyperplane LSH signature per vector (sign pattern of
    ``V @ H`` for a fixed seeded Gaussian H) — one numpy matmul per
    Arrow batch."""
    H = np.random.default_rng(seed).standard_normal((dim, bits))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"vec_id": pd.Series([], dtype="int64"),
                                    "sig_bits": pd.Series([], dtype="int64")})
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            signs = (V @ H) > 0
            weights = np.uint64(1) << np.arange(bits, dtype=np.uint64)
            sig = (signs.astype(np.uint64) * weights[None, :]).sum(axis=1)
            yield pd.DataFrame({"vec_id": pdf[id_col].astype("int64"),
                                "sig_bits": sig.astype(np.int64)})

    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        run, "vec_id long, sig_bits long")


def _banded_buckets(sig_df: DataFrame, ident: str, *, bands: int,
                    band_bits: int) -> DataFrame:
    """Explode a signature table into (id, band, bucket) rows — the LSH
    band keys both the top-k search and the near-dup candidate join
    bucket on."""
    mask = (1 << band_bits) - 1
    cols = [((F.shiftright(F.col("sig_bits"), b * band_bits))
             .bitwiseAND(F.lit(mask))).alias(f"_b{b}")
            for b in range(bands)]
    d = sig_df.select(F.col("vec_id").alias(ident), *cols)
    pairs = F.array(*[
        F.struct(F.lit(b).alias("band"), F.col(f"_b{b}").alias("bucket"))
        for b in range(bands)])
    return (d.select(ident, F.explode(pairs).alias("bb"))
            .select(ident, F.col("bb.band").alias("band"),
                    F.col("bb.bucket").alias("bucket")))


def hyperplane_lsh_topk(embeddings: DataFrame, queries: DataFrame, k: int, *,
                        dim: int, bits: int = 64, bands: int = 8,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        query_id_col: str = "query_id",
                        seed: int = 42,
                        hyperplanes: str = "md5") -> DataFrame:
    """Approximate cosine top-k: band the signature into ``bands``
    chunks; vectors sharing any band bucket with a query become
    candidates; candidates re-rank by exact cosine. One shuffle on the
    bucket key; re-rank joins are narrow after that.

    ``hyperplanes`` picks the sign-bit source: ``"md5"`` (default) is
    the pure-Column md5-Rademacher path (:func:`hyperplane_band_buckets`
    — zero Python in the plan, candidate set replayable in the DuckDB
    oracle bit-for-bit); ``"gaussian"`` is the Arrow-batched numpy
    matmul (:func:`hyperplane_signatures`)."""
    assert bits % bands == 0
    band_bits = bits // bands

    if hyperplanes == "md5":
        cand_base = hyperplane_band_buckets(
            embeddings, "neighbor_id", dim=dim, bits=bits, bands=bands,
            id_col=id_col, vec_col=vec_col, seed=seed)
        cand_q = hyperplane_band_buckets(
            queries, "query_id", dim=dim, bits=bits, bands=bands,
            id_col=query_id_col, vec_col=vec_col, seed=seed)
    elif hyperplanes == "gaussian":
        sig_base = hyperplane_signatures(embeddings, dim=dim, bits=bits,
                                         vec_col=vec_col, id_col=id_col,
                                         seed=seed)
        sig_q = hyperplane_signatures(queries, dim=dim, bits=bits,
                                      vec_col=vec_col, id_col=query_id_col,
                                      seed=seed)
        cand_base = _banded_buckets(sig_base, "neighbor_id", bands=bands,
                                    band_bits=band_bits)
        cand_q = _banded_buckets(sig_q, "query_id", bands=bands,
                                 band_bits=band_bits)
    else:
        raise ValueError(f"unknown hyperplanes mode {hyperplanes!r}")
    cand = (cand_base
            .join(cand_q, ["band", "bucket"])
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id").distinct())

    base = embeddings.select(F.col(id_col).alias("neighbor_id"),
                             _as_double(vec_col).alias("_v"))
    base = base.withColumn("_vnorm", F.sqrt(_dot_chain("_v", "_v", dim)))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       _as_double(vec_col).alias("_q"))
    q = F.broadcast(q.withColumn("_qnorm",
                                 F.sqrt(_dot_chain("_q", "_q", dim))))

    cos = _dot_chain("_v", "_q", dim) / (F.col("_vnorm") * F.col("_qnorm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (cand.join(base, "neighbor_id").join(q, "query_id")
            .withColumn("cosine", cos)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def cosine_neardup_pairs_lsh(embeddings: DataFrame, threshold: float, *,
                             dim: int, bits: int = 64, bands: int = 8,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             seed: int = 42,
                             hyperplanes: str = "md5") -> DataFrame:
    """Near-duplicate pairs via LSH candidates — the 100-TB shape of
    :func:`cosine_neardup_pairs`: random-hyperplane signatures, banded
    self-join on (band, bucket) for candidates (one shuffle on the
    bucket key — never an all-pairs comparison), then the SAME exact
    in-order-fold cosine threshold applied to candidates only.

    Recall < 1 by design (a true pair whose signatures differ in every
    band is missed — probability decays with ``bands`` and pair
    cosine); precision is 1 (every emitted pair passed the exact
    filter). ``hyperplanes``: see :func:`hyperplane_lsh_topk`.
    Output: (vec_a, vec_b) with vec_a < vec_b.
    """
    assert bits % bands == 0
    band_bits = bits // bands
    if hyperplanes == "md5":
        ba = hyperplane_band_buckets(embeddings, "vec_a", dim=dim,
                                     bits=bits, bands=bands, id_col=id_col,
                                     vec_col=vec_col, seed=seed)
        bb = hyperplane_band_buckets(embeddings, "vec_b", dim=dim,
                                     bits=bits, bands=bands, id_col=id_col,
                                     vec_col=vec_col, seed=seed)
    elif hyperplanes == "gaussian":
        sig = hyperplane_signatures(embeddings, dim=dim, bits=bits,
                                    vec_col=vec_col, id_col=id_col, seed=seed)
        ba = _banded_buckets(sig, "vec_a", bands=bands, band_bits=band_bits)
        bb = _banded_buckets(sig, "vec_b", bands=bands, band_bits=band_bits)
    else:
        raise ValueError(f"unknown hyperplanes mode {hyperplanes!r}")
    cand = (ba.join(bb, ["band", "bucket"])
            .where(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b").distinct())
    a = (embeddings.select(F.col(id_col).alias("vec_a"),
                           _as_double(vec_col).alias("_va"))
         .withColumn("_na", F.sqrt(_dot_chain("_va", "_va", dim))))
    b = (embeddings.select(F.col(id_col).alias("vec_b"),
                           _as_double(vec_col).alias("_vb"))
         .withColumn("_nb", F.sqrt(_dot_chain("_vb", "_vb", dim))))
    cos = _dot_chain("_va", "_vb", dim) / (F.col("_na") * F.col("_nb"))
    return (cand.join(a, "vec_a").join(b, "vec_b")
            .where(cos >= F.lit(threshold))
            .select("vec_a", "vec_b"))


def embedding_dedup_representatives(embeddings: DataFrame,
                                    threshold: float, *,
                                    id_col: str = "vec_id",
                                    vec_col: str = "embedding",
                                    candidates: str = "exact",
                                    dim: int | None = None,
                                    bits: int = 64, bands: int = 8,
                                    seed: int = 42) -> DataFrame:
    """Embedding-space near-dedup in one call: cosine near-dup pairs →
    connected components → representative = component-minimum id; every
    input vector maps to its representative (self for singletons), and
    the deduped set is ``WHERE vec_id = rep_id`` — the embedding-space
    counterpart of ``textops.near_dedup_representatives`` (driver q61,
    recursive-CTE closure oracle).

    ``candidates`` picks the pair source:

    - ``"exact"`` (default, the oracle-matched baseline) — the O(n²)
      pairwise comparison of :func:`cosine_neardup_pairs`.
    - ``"lsh"`` (the 100-TB path; requires ``dim``) — hyperplane-LSH
      band buckets prefilter candidates, the exact cosine threshold
      runs on candidates only (:func:`cosine_neardup_pairs_lsh`); the
      plan contains no nested-loop join (plan-asserted in tests).
      Components and representative selection are identical; recall vs
      exact is measured in tests.
    """
    from .graph import connected_components

    if candidates == "exact":
        pairs = cosine_neardup_pairs(embeddings, threshold,
                                     id_col=id_col, vec_col=vec_col)
    elif candidates == "lsh":
        if dim is None:
            raise ValueError("candidates='lsh' requires dim")
        pairs = cosine_neardup_pairs_lsh(embeddings, threshold, dim=dim,
                                         bits=bits, bands=bands,
                                         id_col=id_col, vec_col=vec_col,
                                         seed=seed)
    else:
        raise ValueError(f"unknown candidates mode {candidates!r}")
    comp = connected_components(pairs, src="vec_a", dst="vec_b")
    reps = comp.select(F.col("node").alias("vec_id"),
                       F.col("component").alias("rep_id"))
    singles = (embeddings.select(F.col(id_col).alias("vec_id"))
               .join(reps, "vec_id", "left_anti")
               .select("vec_id", F.col("vec_id").alias("rep_id")))
    return reps.unionByName(singles)


def mutual_knn_edges(embeddings: DataFrame, k: int, *,
                     method: str = "exact", id_col: str = "vec_id",
                     vec_col: str = "embedding", **ivf_kwargs) -> DataFrame:
    """Mutual k-NN graph over an embedding table: the edge (a, b)
    exists iff b is in a's top-k AND a is in b's top-k — the standard
    graph for density clustering and embedding-space dedup (mutuality
    kills the hub problem: a generic centroid-ish vector appears in
    everyone's top-k but reciprocates almost nobody).

    ``method="exact"`` ranks every pair (the oracle baseline; the
    whole table becomes the broadcast query side — small corpora
    only). ``method="ivf"`` routes through the bucketed IVF index
    (broadcast codebook, list-id equi-join) — the 100-TB path;
    approximate, so pytest-recall-tested rather than oracled.

    The mutuality join is one self-equi-join of the top-k frame on the
    reversed pair key — |edges| ≤ n·k rows on both sides, never the
    n² distance matrix.

    Output: (vec_a, vec_b, rank_ab, rank_ba) with vec_a < vec_b.
    """
    q = embeddings.select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).alias("embedding"))
    if method == "exact":
        topk = cosine_topk_exact(
            embeddings.select(F.col(id_col).alias("vec_id"),
                              F.col(vec_col).alias("embedding")), q, k)
    elif method == "ivf":
        topk = ivf_topk(
            embeddings.select(F.col(id_col).alias("vec_id"),
                              F.col(vec_col).alias("embedding")), q, k,
            **ivf_kwargs)
    else:
        raise ValueError(f"unknown method {method!r}")
    fwd = topk.select(F.col("query_id").alias("vec_a"),
                      F.col("neighbor_id").alias("vec_b"),
                      F.col("rank").alias("rank_ab"))
    rev = topk.select(F.col("neighbor_id").alias("vec_a"),
                      F.col("query_id").alias("vec_b"),
                      F.col("rank").alias("rank_ba"))
    return (fwd.join(rev, ["vec_a", "vec_b"])
            .where(F.col("vec_a") < F.col("vec_b")))


def label_centroids(embeddings: DataFrame, *, vec_col: str = "embedding",
                    label_col: str = "label",
                    scale: int = 1_000_000) -> DataFrame:
    """Per-label centroid components in EXACT integer micro-units —
    the class-prototype statistic (nearest-centroid classification,
    embedding-drift monitoring, cluster summarization). Components are
    integerized PER ROW (``floor(v * scale)`` on the widened double —
    bit-identical on every engine), summed as exact BIGINTs, and
    divided by the count with truncating integer division, so no float
    aggregate ever happens and partial-aggregation order cannot
    perturb the result (the same discipline as
    ``eventops.group_outlier_stats``).

    Overflow headroom: |v| ≤ 10³ at scale 10⁶ keeps per-row magnitude
    ≤ 10⁹, safe to ~9·10⁹ rows per (label, dim) group.

    Scale shape: ``posexplode`` is a narrow map (rows × dim, no
    shuffle), then ONE (label, dim) hash-aggregate with map-side
    combine — at 10^12 rows the combine collapses each partition to
    |labels|·dim cells before the exchange. No joins, no windows, no
    Python.

    Output: (label, dim BIGINT 0-based, centroid_micro BIGINT,
    n_vectors BIGINT).
    """
    if scale <= 0:
        raise ValueError("scale must be positive")
    d = (embeddings
         .where(F.col(label_col).isNotNull() & F.col(vec_col).isNotNull())
         .select(F.col(label_col).alias("label"),
                 F.posexplode(F.col(vec_col)).alias("dim", "_v")))
    comp = F.floor(F.col("_v").cast("double") * F.lit(float(scale))) \
        .cast("long")
    return (d.groupBy("label", "dim")
            .agg(F.sum(comp).alias("_s"),
                 F.count(F.lit(1)).alias("n_vectors"))
            .select("label", F.col("dim").cast("long").alias("dim"),
                    F.expr("_s div n_vectors").alias("centroid_micro"),
                    "n_vectors"))


def label_centroids_sql(table: str = "embeddings",
                        vec_col: str = "embedding",
                        label_col: str = "label",
                        scale: int = 1_000_000) -> str:
    """DuckDB oracle for :func:`label_centroids` — identical
    integerization (floor on the widened double), exact BIGINT sums,
    and truncating integer division (DuckDB's ``//`` truncates toward
    zero on integers, matching Spark's ``div``). Parallel ``unnest``
    calls in one SELECT zip elementwise, giving the (dim, value)
    pairing."""
    return f"""
WITH d AS (
  SELECT {label_col} AS label,
         unnest(range(len({vec_col}))) AS dim,
         unnest({vec_col}) AS v
  FROM {table}
  WHERE {label_col} IS NOT NULL AND {vec_col} IS NOT NULL)
SELECT label, dim,
       CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * {float(scale)!r}) AS BIGINT))
            // COUNT(*) AS BIGINT) AS centroid_micro,
       COUNT(*) AS n_vectors
FROM d GROUP BY label, dim
"""


def quantize_embeddings(embeddings: DataFrame, *, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization — the 4× embedding-store
    compressor (scale = max|v| / 127, q = round(v / scale)) that
    precedes shipping vectors to an ANN index or a training shard
    (:func:`int8_quantize_stats` is the error AUDIT run before
    committing to a quantized layout).
    Emitted FLAT (one row per component) rather than as an array so
    the cross-engine hash covers every component; re-assembly is one
    ``collect_list`` over (id, idx).

    Determinism: every element is cast float→double (exact) before
    any arithmetic, so the max-abs reduction, the division, and the
    half-away-from-zero ROUND are the identical IEEE double
    expression on every engine. All-zero vectors (scale 0) quantize
    to all zeros rather than dividing by zero. NULL ids/vectors drop.

    Scale shape: pure Column (``transform``/``array_max`` +
    ``posexplode``) — zero Python, zero shuffle, zero join;
    parallelism is the scan's. Output rows = Σ vector lengths.

    Output: (id_col, idx INT 0-based, qval INT in [-127, 127],
    scale DOUBLE).
    """
    xd = F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    scale = (F.array_max(xd) / F.lit(127.0)).alias("scale")
    base = (embeddings
            .where(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
            .select(F.col(id_col), F.col(vec_col).alias("_v"), scale))
    exploded = base.select(
        id_col, "scale",
        F.posexplode(F.col("_v")).alias("idx", "_x"))
    qval = (F.when(F.col("scale") == 0, F.lit(0))
            .otherwise(F.round(F.col("_x").cast("double")
                               / F.col("scale")))
            .cast("int"))
    return exploded.select(id_col, F.col("idx").cast("int").alias("idx"),
                           qval.alias("qval"), "scale")


def embedding_centroid_drift(embeddings: DataFrame, *,
                             vec_col: str = "embedding",
                             split_col: str = "split",
                             split_a=0, split_b=1) -> DataFrame:
    """Cosine drift between the centroids of two embedding slices —
    the embedding-space companion to :func:`~kml2geojson_spark.
    quality.psi_drift` (did the new crawl's representation
    distribution move?): quantize each vector to int8 (the
    :func:`quantize_embeddings` rule — per-vector scale, identical
    IEEE expression), then compare the PER-DIMENSION EXACT BIGINT
    component sums of the two slices by cosine.

    Determinism: the float centroid of 10¹² vectors is a
    partial-sum-order-dependent reduction no engine pair reproduces
    bit-for-bit; the int8-quantized component sums are exact BIGINTs
    (|q| ≤ 127, so Σq is exact beyond 10¹⁶ vectors), and the cosine
    between the two sum-vectors is ONE fixed double expression of
    three exact BIGINT aggregates (Σ sa·sb, Σ sa², Σ sb²). The
    quantization-induced approximation of the true centroid cosine is
    bounded by the int8 step; the DRIFT SIGNAL (1 − cosine trend over
    snapshots) is what matters and it is exactly reproducible.

    Scale shape: one narrow posexplode (no Python), ONE per-dimension
    conditional hash-aggregate (map-side combined to ≤ dims cells per
    side per partition), one final single-row aggregate over dims
    rows. No window, no join, single scan.

    Output: ONE row (n_a, n_b, dims, dot, norm2_a, norm2_b, cosine,
    drift = 1 − cosine); cosine NULL when either slice is empty or a
    sum-vector is all-zero.
    """
    is_a = F.col(split_col) == F.lit(split_a)
    is_b = F.col(split_col) == F.lit(split_b)
    xd = F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    scale = F.array_max(xd) / F.lit(127.0)
    base = (embeddings
            .where(F.col(vec_col).isNotNull() & (is_a | is_b))
            .select(is_a.alias("_ia"), F.col(vec_col).alias("_v"),
                    scale.alias("_sc")))
    exploded = base.select(
        "_ia", "_sc", F.posexplode(F.col("_v")).alias("_d", "_x"))
    q = (F.when(F.col("_sc") == 0, F.lit(0))
         .otherwise(F.round(F.col("_x").cast("double") / F.col("_sc")))
         .cast("long"))
    per_dim = (exploded
               .groupBy(F.col("_d").alias("dim"))
               .agg(F.sum(F.when(F.col("_ia"), q).otherwise(0))
                    .alias("_sa"),
                    F.sum(F.when(~F.col("_ia"), q).otherwise(0))
                    .alias("_sb"),
                    F.sum(F.when(F.col("_ia") & (F.col("_d") == 0), 1)
                          .otherwise(0)).alias("_na0"),
                    F.sum(F.when(~F.col("_ia") & (F.col("_d") == 0), 1)
                          .otherwise(0)).alias("_nb0")))
    agg = per_dim.agg(
        F.max("_na0").alias("n_a"), F.max("_nb0").alias("n_b"),
        F.count(F.lit(1)).alias("dims"),
        F.sum(F.col("_sa") * F.col("_sb")).alias("dot"),
        F.sum(F.col("_sa") * F.col("_sa")).alias("norm2_a"),
        F.sum(F.col("_sb") * F.col("_sb")).alias("norm2_b"))
    cos = (F.col("dot").cast("double")
           / (F.sqrt(F.col("norm2_a").cast("double"))
              * F.sqrt(F.col("norm2_b").cast("double"))))
    ok = ((F.col("n_a") > 0) & (F.col("n_b") > 0)
          & (F.col("norm2_a") > 0) & (F.col("norm2_b") > 0))
    return (agg.withColumn("cosine", F.when(ok, cos))
            .withColumn("drift", F.when(ok, F.lit(1.0) - F.col("cosine"))))


def embedding_top_component(embeddings: DataFrame, *,
                            vec_col: str = "embedding",
                            iters: int = 20,
                            center: bool = True) -> tuple:
    """Top principal component of an embedding column via distributed
    POWER ITERATION — matrix-free PCA-1 for drift direction, debiasing
    (project out the dominant axis), and 1-D visualization ordering,
    at corpus scales where materializing a d×d covariance via outer
    products per row would still work but a full eigensolve on the
    driver would not generalize past the top few components.

    Each round is ONE job: with the current unit vector v broadcast
    as literals, every row contributes ``(x−μ)·((x−μ)·v)`` via a
    posexplode to (dim, partial) pairs pre-combined map-side, and the
    d-dimensional result (d doubles — size-gated, like the IVF
    codebook at simsearch.py:149) is collected, normalized on the
    driver, and fed back. The mean μ is one prior aggregate (same
    shape). Convergence is the standard |⟨v, v′⟩| → 1 power-iteration
    guarantee (gap-dependent); ``iters`` bounds the rounds.

    Floating-point note: this is a NUMERIC-ITERATIVE operator like
    :func:`ivf_centroids` — results are deterministic for a fixed
    partition count but carry float rounding, so its contract is the
    pytest against numpy's eigensolver (|cos| ≈ 1), not a DuckDB
    hash oracle.

    Returns ``(component, eigenvalue, n_rows)`` — component a Python
    list of unit-norm doubles, eigenvalue the Rayleigh quotient
    estimate of the (centered if ``center``) second moment along it.
    """
    if iters < 1:
        raise ValueError("embedding_top_component: iters must be >= 1")
    base = embeddings.where(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).cast("array<double>").alias("x"))
    base = base.localCheckpoint(eager=True)
    n = base.count()
    if n == 0:
        raise ValueError("embedding_top_component: no vectors")
    d = len(base.first()["x"])
    if center:
        sums = (base.select(F.posexplode("x").alias("i", "v"))
                .groupBy("i").agg(F.sum("v").alias("s"))
                .collect())
        mu = [0.0] * d
        for r in sums:
            mu[r["i"]] = r["s"] / n
    else:
        mu = [0.0] * d
    mu_lit = F.array(*[F.lit(float(m)) for m in mu])
    import math as _math

    v = [0.0] * d
    v[0] = 1.0
    lam = 0.0
    for _ in range(iters):
        v_lit = F.array(*[F.lit(float(c)) for c in v])
        cx = F.zip_with("x", mu_lit, lambda a, b: a - b)
        dot = F.aggregate(
            F.zip_with(cx, v_lit, lambda a, b: a * b),
            F.lit(0.0), lambda acc, y: acc + y)
        contrib = base.select(
            F.posexplode(F.transform(cx, lambda c: c * dot))
            .alias("i", "p"))
        rows = contrib.groupBy("i").agg(F.sum("p").alias("s")).collect()
        w = [0.0] * d
        for r in rows:
            w[r["i"]] = r["s"]
        lam = _math.sqrt(sum(c * c for c in w) / max(n, 1)) \
            if any(w) else 0.0
        nrm = _math.sqrt(sum(c * c for c in w))
        if nrm == 0.0:
            break
        # sign convention: first nonzero component positive
        w = [c / nrm for c in w]
        for c in w:
            if abs(c) > 1e-12:
                if c < 0:
                    w = [-y for y in w]
                break
        v = w
    # Rayleigh quotient along the final direction
    v_lit = F.array(*[F.lit(float(c)) for c in v])
    cx = F.zip_with("x", mu_lit, lambda a, b: a - b)
    dot = F.aggregate(F.zip_with(cx, v_lit, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, y: acc + y)
    lam = base.select(F.avg(dot * dot).alias("l")).first()["l"]
    return v, float(lam), n


def embedding_norm_stats(embeddings: DataFrame, *,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         threshold_milli: int = 3000) -> DataFrame:
    """Per-vector L2-norm² + corpus z-score + outlier flag — the
    embedding-table health check: collapsed encoders emit near-zero
    norms, exploded activations emit huge ones, and both poison
    cosine ANN (norms cancel in cosine but dominate recall when
    quantizing or using dot-product indexes).

    Determinism: norm² is the package's in-order double fold
    (:func:`_dot` — bit-identical to DuckDB ``list_dot_product``)
    micro-integerized PER VECTOR (``round(norm²·10⁶)`` exact BIGINT);
    corpus n, S = Σm and Q = Σm² are exact DECIMAL(38,0) sums (the
    :func:`~kml2geojson_spark.graph.degree_assortativity` rule —
    n·Q alone overflows BIGINT at corpus scale), z is one fixed IEEE
    expression, and the outlier verdict is an EXACT INTEGER
    comparison (``(n·m − S)²·10⁶ > thr²·(n·Q − S²)`` in DECIMAL —
    the `rolling_zscore` rule, widened). NULL ids/vectors drop.

    Scale shape: one narrow projection (fold per row), ONE global
    hash-aggregate producing a 1-row frame broadcast back — no
    window, no shuffle of the vector column itself beyond the scan.

    Output: (vec_id, dim, norm2_micro, z_norm, is_outlier) —
    is_outlier total (FALSE when the corpus is degenerate).
    """
    if threshold_milli <= 0:
        raise ValueError(
            "embedding_norm_stats: threshold_milli must be > 0")
    b = (embeddings.where(F.col(id_col).isNotNull()
                          & F.col(vec_col).isNotNull())
         .select(F.col(id_col).alias("vec_id"),
                 _as_double(vec_col).alias("_v")))
    m = F.round(_dot("_v", "_v") * F.lit(1000000.0)).cast("long")
    per = b.select("vec_id", F.size("_v").alias("dim"),
                   m.alias("norm2_micro"))
    md = F.col("norm2_micro").cast("decimal(38,0)")
    g = per.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
                F.sum(md).alias("_s"),
                F.sum(md * md).alias("_q"))
    j = per.crossJoin(F.broadcast(g))
    num = F.col("_n") * md - F.col("_s")
    den2 = F.col("_n") * F.col("_q") - F.col("_s") * F.col("_s")
    thr = F.lit(int(threshold_milli)).cast("decimal(38,0)")
    return j.select(
        "vec_id", "dim", "norm2_micro",
        F.when(den2 > 0,
               num.cast("double") / F.sqrt(den2.cast("double")))
        .alias("z_norm"),
        F.when(den2 > 0,
               num * num * F.lit(1000000) > thr * thr * den2)
        .otherwise(F.lit(False)).alias("is_outlier"))


def fisher_separability(embeddings: DataFrame, *,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        label_col: str = "label") -> DataFrame:
    """Per-class Fisher scatter diagnostic over an embedding table —
    "are my labels actually separable in this embedding space?":
    within-class scatter (how diffuse each class is) vs between-class
    scatter (how far its centroid sits from the global centroid),
    per label. A class whose between/within ratio ≈ 0 is invisible
    to any linear probe; the table-level ratio is the one-way-ANOVA
    F statistic generalized to vectors (sum the per-label columns —
    k rows — for the global decomposition).

    Determinism: elements are micro-integerized per coordinate
    (``round(x·10⁶)`` exact BIGINT); per (label, dim) sums S and Σx²
    and all scatter numerators are exact DECIMAL(38,0) (the
    :func:`~kml2geojson_spark.graph.degree_assortativity` rule):
    ``within_num_l = Σ_d (n_l·Q_ld − S_ld²)`` and
    ``between_num_l = Σ_d (n·S_ld − n_l·S_d)²`` — the real-unit
    doubles are ONE fixed IEEE division each
    (within /(n_l·10¹²), between /(n_l·n²·10¹²)). Emitting PER-LABEL
    rows (never a cross-label float sum) keeps every aggregate an
    integer aggregate. Caller guarantees n·|x|·10⁶ < 10¹⁹ per
    coordinate (unit-norm embeddings at 10⁹ rows are safe).

    Scale shape: ONE posexplode to (label, dim, x_micro) — n·d rows,
    the linear cost any per-coordinate statistic pays — then one
    (label, dim) hash-agg with map-side combine, one dim-level
    hash-agg for global sums broadcast back (d rows), one label-level
    hash-agg. Equi-joins on the dim key only.

    Output: (label, n_vecs, dim, within_num_dec, between_num_dec,
    within_ss, between_ss, fisher_ratio) — ratio NULL for a
    zero-variance class.
    """
    b = (embeddings.where(F.col(id_col).isNotNull()
                          & F.col(vec_col).isNotNull()
                          & F.col(label_col).isNotNull())
         .select(F.col(label_col).alias("label"),
                 _as_double(vec_col).alias("_v")))
    ex = b.select(
        "label", F.posexplode("_v").alias("d", "_x")).select(
        "label", "d",
        F.round(F.col("_x") * F.lit(1000000.0)).cast("long")
        .alias("_xm"))
    xd = F.col("_xm").cast("decimal(38,0)")
    per_ld = ex.groupBy("label", "d").agg(
        F.count(F.lit(1)).alias("_nl"),
        F.sum(xd).alias("_s"),
        F.sum(xd * xd).alias("_q"))
    per_d = per_ld.groupBy("d").agg(
        F.sum("_s").alias("_sd"),
        F.sum(F.col("_nl").cast("decimal(38,0)")).alias("_n"))
    j = per_ld.join(F.broadcast(per_d), "d")
    nl = F.col("_nl").cast("decimal(38,0)")
    w_term = nl * F.col("_q") - F.col("_s") * F.col("_s")
    b_inner = F.col("_n") * F.col("_s") - nl * F.col("_sd")
    per_l = j.groupBy("label").agg(
        F.max("_nl").alias("n_vecs"),
        F.count(F.lit(1)).alias("dim"),
        F.sum(w_term).alias("within_num_dec"),
        F.sum(b_inner * b_inner).alias("between_num_dec"),
        F.max("_n").alias("_nd"))
    nld = F.col("n_vecs").cast("double")
    nd = F.col("_nd").cast("double")
    w_ss = (F.col("within_num_dec").cast("double")
            / (nld * F.lit(1e12)))
    b_ss = (F.col("between_num_dec").cast("double")
            / (nld * nd * nd * F.lit(1e12)))
    return per_l.select(
        "label", "n_vecs", "dim", "within_num_dec",
        "between_num_dec", w_ss.alias("within_ss"),
        b_ss.alias("between_ss"),
        F.when(F.col("within_num_dec") > 0, b_ss / w_ss)
        .alias("fisher_ratio"))


def simplified_silhouette(embeddings: DataFrame, *,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          label_col: str = "label") -> DataFrame:
    """Per-label simplified (centroid) silhouette — "do my labels
    form tight, well-separated clusters in this embedding space?":
    for each vector, a = distance to its OWN label centroid, b = the
    nearest OTHER label centroid, s = (b − a)/max(a, b) ∈ [−1, 1];
    positive s means the vector sits closer to its own centroid than
    to any rival. The simplified variant (centroid distances instead
    of all-pairs mean distances) is the only silhouette that scales:
    exact Rousseeuw silhouette is O(n²) pairwise, this is O(n·d·k)
    with k = #labels — the classic large-n substitute (Hruschka et
    al.). Complements :func:`fisher_separability` (variance ratios)
    with a per-POINT margin statistic.

    Determinism: coordinates micro-integerized (``round(x·10⁶)``,
    the :func:`fisher_separability` rule); the squared centroid
    distance is the exact DECIMAL(38,0) numerator
    ``D_k = Σ_d (n_k·x_d − S_kd)²`` (centroid = S/n kept as an exact
    rational — never a float mean), made real by ONE fixed IEEE
    division ``D_k/(n_k²·10¹²)``; a and b are IEEE ``sqrt`` of those
    doubles (correctly rounded, engine-independent); per-row s is
    nano-floored to BIGINT before the group sum, so the per-label
    aggregate is an exact integer aggregate (cross-row float sums
    would never hash-replay).

    Scale shape: one posexplode to (vec, dim, x_micro) — n·d rows —
    one (label, dim) hash-agg for the k·d centroid table (broadcast:
    k·d rows), one equi-join on the dim key fanning each coordinate
    to k candidate labels (n·d·k rows, map-side-combined into n·k
    groups), then a and b fold in ONE further vec-key hash-agg
    (conditional mins — NOT an own⋈other self-join) and one label
    hash-agg. No window, no join wider than the broadcast, no
    all-pairs.

    Output: (label, n_vecs, n_positive, silh_nano_sum,
    mean_silhouette) — mean_silhouette is the nano-floored mean,
    NULL never (labels with one vector get a = 0 exactly). Requires
    ≥ 2 distinct labels (b is undefined otherwise; rows vanish).
    """
    b = (embeddings.where(F.col(id_col).isNotNull()
                          & F.col(vec_col).isNotNull()
                          & F.col(label_col).isNotNull())
         .select(F.col(id_col).alias("_vid"),
                 F.col(label_col).alias("label"),
                 _as_double(vec_col).alias("_v")))
    ex = b.select(
        "_vid", "label", F.posexplode("_v").alias("d", "_x")).select(
        "_vid", "label", "d",
        F.round(F.col("_x") * F.lit(1000000.0)).cast("long")
        .alias("_xm"))
    xd = F.col("_xm").cast("decimal(38,0)")
    cent = (ex.groupBy(F.col("label").alias("_k"), "d")
            .agg(F.count(F.lit(1)).cast("long").alias("_nk"),
                 F.sum(xd).alias("_s")))
    nk_dec = F.col("_nk").cast("decimal(38,0)")
    term = (nk_dec * xd - F.col("_s")) * (nk_dec * xd - F.col("_s"))
    per_vk = (ex.join(F.broadcast(cent), "d")
              .groupBy("_vid", "label", "_k")
              .agg(F.sum(term).alias("_dd"), F.max("_nk").alias("_n")))
    nkd = F.col("_n").cast("double")
    d2 = per_vk.select(
        "_vid", "label", "_k",
        (F.col("_dd").cast("double") / (nkd * nkd * F.lit(1e12)))
        .alias("_d2"))
    per_v = (d2.groupBy("_vid", "label")
             .agg(F.min(F.when(F.col("label") == F.col("_k"),
                               F.col("_d2"))).alias("_a2"),
                  F.min(F.when(F.col("label") != F.col("_k"),
                               F.col("_d2"))).alias("_b2"))
             .where(F.col("_b2").isNotNull()))
    a = F.sqrt("_a2")
    bb = F.sqrt("_b2")
    mx = F.greatest(a, bb)
    s_nano = F.when(mx > 0, F.floor((bb - a) / mx * F.lit(1e9))
                    .cast("long")).otherwise(F.lit(0).cast("long"))
    rows = per_v.select("label", s_nano.alias("_sq"))
    return (rows.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.sum(F.when(F.col("_sq") > 0, 1).otherwise(0))
                 .cast("long").alias("n_positive"),
                 F.sum("_sq").alias("silh_nano_sum"))
            .select("label", "n_vecs", "n_positive", "silh_nano_sum",
                    (F.col("silh_nano_sum").cast("double")
                     / (F.col("n_vecs").cast("double") * F.lit(1e9)))
                    .alias("mean_silhouette")))


def int8_quantize_stats(embeddings: DataFrame, *,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Per-vector int8 (0..255) min-max quantization AUDIT — the
    "can I ship these embeddings quantized" readout that precedes
    committing to :func:`quantize_embeddings` (q149, which emits the
    quantized values under the SYMMETRIC scale=max|v|/127 layout):
    each vector's range, its worst reconstruction error and the mean
    error after round-trip through ``q = floor((x-mn)/rng·255+0.5)``.
    Min-max here deliberately bounds the error of the asymmetric
    layout too (its per-vector range is what min-max measures).

    Determinism: min/max/max-error are order-independent reductions
    over per-element values computed by an IEEE-exact op sequence
    replayed verbatim by the SQL oracle; the error SUM is an
    IN-ORDER left fold (``F.aggregate`` ≡ ``list_reduce``), so every
    double matches bit-for-bit cross-engine. Constant vectors
    (rng = 0) quantize to 0 with zero error.

    Scale shape: pure-Column array expressions (transform/
    aggregate), zero shuffle, zero Python — scan-shaped.

    Output: (vec_id, dim, vmin, vmax, max_abs_err, mean_abs_err).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = (embeddings.where(F.col(vec_col).isNotNull()
                             & F.col(id_col).isNotNull())
            .select(F.col(id_col).alias("vec_id"), v.alias("_v"))
            .where(F.size("_v") > 0))
    mn = F.array_min("_v")
    mx = F.array_max("_v")
    rng = mx - mn
    b = base.select("vec_id", "_v",
                    F.size("_v").cast("long").alias("dim"),
                    mn.alias("vmin"), mx.alias("vmax"))

    def err(x):
        q = F.floor((x - F.col("vmin"))
                    / (F.col("vmax") - F.col("vmin"))
                    * F.lit(255.0) + F.lit(0.5))
        recon = (F.col("vmin")
                 + q.cast("double") * (F.col("vmax") - F.col("vmin"))
                 / F.lit(255.0))
        return F.abs(x - recon)

    errs = F.when(F.col("vmax") > F.col("vmin"),
                  F.transform(F.col("_v"), err)) \
        .otherwise(F.transform(F.col("_v"), lambda x: F.lit(0.0)))
    e = b.select("vec_id", "dim", "vmin", "vmax", errs.alias("_e"))
    esum = F.aggregate("_e", F.lit(0.0), lambda a, x: a + x)
    return e.select(
        "vec_id", "dim", "vmin", "vmax",
        F.array_max("_e").alias("max_abs_err"),
        (esum / F.col("dim").cast("double")).alias("mean_abs_err"))


def dimension_profile(embeddings: DataFrame, *,
                      vec_col: str = "embedding",
                      scale: int = 1_000_000) -> DataFrame:
    """Per-DIMENSION statistics across the whole embedding corpus —
    the "which dimensions are dead or dominant" audit (collapsed
    dims mean the encoder is under-using capacity; wildly dominant
    ones break cosine geometry and quantization alike; run before
    :func:`int8_quantize_stats` commits to a layout).

    Determinism: each element is micro-quantized
    (``round(x·scale)`` as exact BIGINT — the silhouette/q224
    discipline) so sums and sums-of-squares are exact integers in
    any partial-aggregation order; mean/variance are fixed double
    expressions over the exact sums. Overflow headroom: sum-of-
    squares ~ (|x|·scale)²·n — lower ``scale`` for >10⁶-row corpora
    of unit-scale vectors (documented).

    Scale shape: one posexplode (rows × dim — the honest cost of a
    per-dimension audit) and ONE hash-aggregate keyed by dimension
    (at most `dim` groups, map-side combined). No window, no join.

    Output: (dim, n, sum_q, sumsq_q, mean, variance) — dim 0-based.
    """
    base = embeddings.where(F.col(vec_col).isNotNull()) \
        .select(F.posexplode(F.col(vec_col)).alias("dim", "_x"))
    xm = F.round(F.col("_x").cast("double") * F.lit(float(scale))) \
        .cast("long")
    g = base.select(F.col("dim").cast("long").alias("dim"),
                    xm.alias("_q")) \
        .groupBy("dim").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_q").alias("sum_q"),
            F.sum(F.col("_q") * F.col("_q")).alias("sumsq_q"))
    nd = F.col("n").cast("double")
    sd = F.lit(float(scale))
    mean = F.col("sum_q").cast("double") / (nd * sd)
    m_q = F.col("sum_q").cast("double") / nd
    var = (F.col("sumsq_q").cast("double") / nd - m_q * m_q) \
        / (sd * sd)
    return g.select("dim", "n", "sum_q", "sumsq_q",
                    mean.alias("mean"), var.alias("variance"))


def jl_project(df: DataFrame, *, dim: int, out_dim: int = 8,
               id_col: str = "vec_id", vec_col: str = "embedding",
               seed: int = 42) -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dim``
    dimensions with md5-derived Rademacher (±1) directions
    (Achlioptas 2001 — same distance-preservation guarantees as
    Gaussian, and any engine can recompute the signs) — the cheap
    dimensionality-reduction front end for clustering / coarse ANN /
    visualization when 64-d cosine work is overkill. Output is the
    long-format reduced representation; join it back by (id,
    proj_idx) or pivot for a vector column.

    Determinism: the same sign-mask-literal unrolled-chain machinery
    as :func:`hyperplane_band_buckets` (driver q41) — each projection
    is a left-associated ``v[1]·±1 + v[2]·±1 + ...`` chain,
    bit-identical to the DuckDB oracle's in-order
    ``list_dot_product`` over the inlined ±1 arrays; the 1/√K scale
    is ONE further multiply by a fixed literal, and the OUTPUT
    quantizes to micro-units (``y_micro`` BIGINT) so the exactness
    never depends on a libm call. NULL ids/vectors drop.

    Scale shape: a K-struct literal array explodes against each
    vector and every chain runs inside whole-stage codegen — zero
    Python, zero join, zero shuffle; output is K rows per vector.

    Output: (id, proj_idx INT, y_micro BIGINT).
    """
    if not 1 <= out_dim <= 64:
        raise ValueError(f"out_dim must be in [1, 64], got {out_dim}")
    if dim > 64:
        raise ValueError("sign-mask projection covers dim <= 64")
    import math
    H = rademacher_hyperplanes(dim, out_dim, seed)
    structs = []
    for j in range(out_dim):
        mask = 0
        for i in range(dim):
            if H[i, j] > 0:
                mask |= 1 << i
        if mask >= 1 << 63:
            mask -= 1 << 64
        structs.append(F.struct(
            F.lit(j).alias("k"), F.lit(mask).cast("long").alias("mask")))
    d = (df.where(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
         .select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
         .withColumn("_jp", F.explode(F.array(*structs))))
    mask_col = F.col("_jp.mask")

    def term(i: int) -> F.Column:
        sign = F.when(F.shiftright(mask_col, i).bitwiseAND(F.lit(1)) == 1,
                      F.lit(1.0)).otherwise(F.lit(-1.0))
        return F.element_at("_v", i + 1).cast("double") * sign

    dot = term(0)
    for i in range(1, dim):
        dot = dot + term(i)
    y = dot * F.lit(1.0 / math.sqrt(float(out_dim)))
    return d.select("id", F.col("_jp.k").alias("proj_idx"),
                    F.round(y * F.lit(1_000_000.0)).cast("long")
                    .alias("y_micro"))
