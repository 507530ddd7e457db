"""Text/dedup/similarity/multimodal operator tests with brute-force
oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from kml2geojson_spark.textops import (
    exact_duplicates,
    minhash_candidate_pairs,
    minhash_signatures,
    minhash_similarity,
    ngram_jaccard_pairs,
    simhash_col_signatures,
)
from kml2geojson_spark.simsearch import cosine_topk_exact, hyperplane_lsh_topk
from kml2geojson_spark.multimodal import (
    fetch_media_stub,
    media_features,
    media_table,
    sample_frames,
)


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog "
    rows = [
        (0, base * 10),
        (1, base * 10),                                  # exact dup of 0
        (2, base * 9 + "and then some extra tail text "),  # near dup
        (3, "completely different content about spark engines and tiles "),
        (4, "completely different content about spark engines and tiles "),
        (5, "nothing like the others at all zzz qqq www "),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark):
    d = exact_duplicates(_docs(spark)).toPandas()
    got = {(r.n_dups, r.keeper_id) for r in d.itertuples()}
    assert got == {(2, 0), (2, 3)}


def test_minhash_similarity_tracks_jaccard(spark):
    docs = _docs(spark)
    sigs = minhash_signatures(docs, n_hashes=64)
    pairs = minhash_candidate_pairs(docs, n_hashes=64, bands=16)
    sims = minhash_similarity(pairs, sigs).toPandas()
    sim = {(int(a), int(b)): s for a, b, s in
           zip(sims["doc_a"], sims["doc_b"], sims["est_jaccard"])}
    # exact dups: estimated jaccard 1.0; near-dups high; they must be found
    assert sim[(0, 1)] == 1.0
    assert sim[(3, 4)] == 1.0
    assert (0, 2) in sim and sim[(0, 2)] > 0.5
    # unrelated doc never pairs with the dup clusters at high bands
    assert (0, 5) not in sim and (3, 5) not in sim


def test_minhash_signature_determinism(spark):
    docs = _docs(spark)
    a = minhash_signatures(docs).toPandas().sort_values("doc_id")
    b = minhash_signatures(docs).toPandas().sort_values("doc_id")
    assert [list(s) for s in a["sig"]] == [list(s) for s in b["sig"]]


def test_simhash_near_dup_distance(spark):
    sigs = {int(r["doc_id"]): int(r["simhash"]) & ((1 << 64) - 1)
            for r in simhash_col_signatures(_docs(spark)).collect()}

    def ham(a, b):
        return bin(int(a) ^ int(b)).count("1")

    assert ham(sigs[0], sigs[1]) == 0          # exact dup
    assert ham(sigs[0], sigs[2]) <= 12         # near dup: small distance
    assert ham(sigs[0], sigs[3]) > 12          # different content: far


def test_ngram_jaccard_oracle(spark):
    docs = _docs(spark)
    got = ngram_jaccard_pairs(docs, n=4).toPandas()
    rows = {(int(r.doc_a), int(r.doc_b)): (int(r.n_shared), float(r.jaccard))
            for r in got.itertuples()}
    # brute-force oracle
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    grams = {k: {t[i:i + 4] for i in range(len(t) - 3)} for k, t in texts.items()}
    for (a, b), (n_shared, jac) in rows.items():
        inter = len(grams[a] & grams[b])
        union = len(grams[a] | grams[b])
        assert n_shared == inter
        assert jac == pytest.approx(inter / union)
    assert rows[(0, 1)][1] == 1.0


def _embeddings(spark, n=200, dim=32, seed=3):
    rng = np.random.default_rng(seed)
    V = rng.standard_normal((n, dim)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                        "embedding": [v.tolist() for v in V]})
    return spark.createDataFrame(pdf), V


def test_cosine_topk_exact_oracle(spark):
    df, V = _embeddings(spark)
    q = df.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = cosine_topk_exact(df, q, 10).toPandas()
    Vd = V.astype(np.float64)
    norms = np.linalg.norm(Vd, axis=1)
    for qid in range(5):
        cos = (Vd @ Vd[qid]) / (norms * norms[qid])
        cos[qid] = -np.inf
        expect = np.argsort(-cos, kind="stable")[:10]
        mine = got[got["query_id"] == qid].sort_values("rank")["neighbor_id"]
        assert list(mine) == list(expect)


def test_lsh_topk_recall(spark):
    df, _ = _embeddings(spark, n=300, dim=32)
    q = df.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = cosine_topk_exact(df, q, 10).toPandas()
    approx = hyperplane_lsh_topk(df, q, 10, dim=32, bits=64, bands=16).toPandas()
    e = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
    a = {(r.query_id, r.neighbor_id) for r in approx.itertuples()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_multimodal_plumbing(spark):
    import kml2geojson_spark as k2gs
    docs = k2gs.synthesize_documents_kml(spark, 20, seed=9, max_placemarks=5)
    media = media_table(docs)
    m = media.toPandas()
    assert len(m) > 0
    assert set(m["ext"]) == {"png"}
    assert (m["media_ref"].str.startswith("http://")).all()

    fetched = fetch_media_stub(media)
    feats = media_features(fetched, dim=16).toPandas()
    assert all(len(f) == 16 for f in feats["feature"])
    # deterministic fake: same ref → same feature
    by_ref = feats.groupby("media_ref")["feature"].apply(
        lambda s: len({tuple(np.round(v, 6)) for v in s}))
    assert (by_ref == 1).all()

    frames = sample_frames(fetched, n_frames=3).toPandas()
    assert set(frames["frame_idx"]) == {0, 1, 2}
    assert (frames["frame"].str.len() > 0).all()

    with pytest.raises(Exception) as exc_info:
        fetch_media_stub(media, strict=True).collect()
    assert "NotImplementedError" in str(exc_info.value) or \
        isinstance(exc_info.value, NotImplementedError)


def test_simhash_sql_near_pairs_complete(spark):
    """Banded SimHash self-join equals the O(n²) brute force (pigeonhole
    completeness: max_hamming < bands) on a corpus with planted near-dups."""
    from kml2geojson_spark.textops import (simhash_near_pairs,
                                           simhash_sql_signatures)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    rows = [(i, base + f"doc {i % 3} tail") for i in range(12)]
    rows += [(100, "xyz completely other vocabulary entirely qqq")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = {r["doc_id"]: r["sig"]
            for r in simhash_sql_signatures(docs).collect()}
    brute = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin(sigs[a] ^ sigs[b]).count("1") <= 3:
                brute.add((a, b))
    got = {(r["doc_a"], r["doc_b"])
           for r in simhash_near_pairs(docs, max_hamming=3, bands=4).collect()}
    assert got == brute
    assert len(brute) > 0  # planted duplicates actually collide
    # hamming values are symmetric-consistent with the signatures
    for r in simhash_near_pairs(docs, max_hamming=3, bands=4).collect():
        assert r["hamming"] == bin(sigs[r["doc_a"]] ^ sigs[r["doc_b"]]).count("1")


def test_cosine_neardup_pairs(spark):
    from kml2geojson_spark.simsearch import cosine_neardup_pairs
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.98, 0.21]),    # near-dup of 2
        (4, [0.577, 0.577, 0.577]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["vec_a"], r["vec_b"])
           for r in cosine_neardup_pairs(emb, 0.97).collect()}
    assert got == {(0, 1), (2, 3)}


def test_ivf_topk_recall(spark):
    """IVF ANN recall vs the exact baseline on a clustered corpus."""
    from kml2geojson_spark.simsearch import cosine_topk_exact, ivf_topk
    rng = np.random.default_rng(3)
    centers = rng.standard_normal((6, 16)) * 4
    vecs = []
    for i in range(180):
        c = centers[i % 6]
        vecs.append((i, (c + rng.standard_normal(16) * 0.3).tolist()))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    qs = (emb.where(F.col("vec_id") < 6)
          .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = cosine_topk_exact(emb, qs, 8).toPandas()
    approx = ivf_topk(emb, qs, 8, n_centroids=6, nprobe=2).toPandas()
    e = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
    a = {(r.query_id, r.neighbor_id) for r in approx.itertuples()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"IVF recall too low: {recall}"
    # sample-then-train (codebook from the ~1/2 id-hash sample, full
    # table assigned once) keeps recall on the clustered corpus
    sampled = ivf_topk(emb, qs, 8, n_centroids=6, nprobe=2,
                       train_rate=(1, 2)).toPandas()
    s = {(r.query_id, r.neighbor_id) for r in sampled.itertuples()}
    recall_s = len(e & s) / len(e)
    assert recall_s >= 0.9, f"sampled-training IVF recall: {recall_s}"


def test_ivf_sampled_training_touches_only_the_sample(spark):
    """Value-level proof that ``train_rate`` trains on EXACTLY the
    deterministic id-hash sample: with iters=0 the codebook is the
    per-seed-bucket mean of the training vectors, which must equal a
    numpy replay over precisely the md5-sampled subset (and differ
    from the full-data means)."""
    import hashlib

    from kml2geojson_spark.simsearch import ivf_centroids

    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(4).tolist()) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["cid"]: r["cvec"]
           for r in ivf_centroids(emb, 4, iters=0,
                                  train_rate=(1, 4)).collect()}

    def bucket8(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:2], 16)

    def seed(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 4

    sample = [(i, v) for i, v in rows if bucket8(i) < 64]
    assert 0 < len(sample) < len(rows)
    expect: dict = {}
    for i, v in sample:
        expect.setdefault(seed(i), []).append(v)
    assert set(got) == set(expect)
    for cid, vs in expect.items():
        assert np.allclose(got[cid], np.mean(vs, axis=0), atol=1e-12)
    full = {r["cid"]: r["cvec"]
            for r in ivf_centroids(emb, 4, iters=0).collect()}
    assert any(not np.allclose(full[c], got[c]) for c in got)


def test_ngram_jaccard_short_texts_no_phantom_grams(spark):
    """Texts shorter than n must contribute NO grams (Spark sequence
    runs descending when the range is empty — previously produced
    phantom whole-text grams the SQL oracle never emits)."""
    docs = spark.createDataFrame(
        [(1, "abc"), (2, "abc"), (3, ""), (4, "abcdefghij"), (5, "abcdefghij")],
        "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"])
           for r in ngram_jaccard_pairs(docs, n=8).collect()}
    assert got == {(4, 5)}


def test_minhash_string_doc_ids(spark):
    """Signature ops adopt the input id type (string ids from the spans
    corpus must not crash on a hardcoded long schema)."""
    docs = spark.createDataFrame(
        [("doc-a", "the quick brown fox " * 5),
         ("doc-b", "the quick brown fox " * 5)],
        "doc_id string, text string")
    sigs = minhash_signatures(docs).collect()
    assert {r["doc_id"] for r in sigs} == {"doc-a", "doc-b"}
    sim = simhash_col_signatures(docs).collect()
    assert {r["doc_id"] for r in sim} == {"doc-a", "doc-b"}


def test_hll_sketch_estimate_accuracy(spark):
    """HLL registers are deterministic; the estimate lands within 3x
    the standard error of the exact distinct count."""
    from kml2geojson_spark.sketch import hll_estimate, hll_registers
    df = spark.range(20000).selectExpr("id % 7 AS g", "CAST(id % 3137 AS LONG) AS v")
    regs = hll_registers(df, "v", group_cols=["g"], p=10)
    est = {r["g"]: r["estimate"]
           for r in hll_estimate(regs, group_cols=["g"], p=10).collect()}
    exact = {r["g"]: r["n"] for r in
             df.groupBy("g").agg(F.countDistinct("v").alias("n")).collect()}
    stderr = 1.04 / (1 << 10) ** 0.5
    for g, n in exact.items():
        assert abs(est[g] - n) <= 3 * stderr * n + 3, (g, est[g], n)
    # determinism: same input -> identical registers
    a = sorted(map(tuple, regs.collect()))
    b = sorted(map(tuple, hll_registers(df, "v", group_cols=["g"], p=10).collect()))
    assert a == b


def test_keyword_search_all_exact_tokens(spark):
    from kml2geojson_spark.textops import keyword_search_all
    docs = spark.createDataFrame(
        [(1, "spark join window"), (2, "spark join"), (3, "spark, join window"),
         (4, "SPARK JOIN WINDOW extra")],
        "doc_id long, text string")
    got = {r["doc_id"] for r in
           keyword_search_all(docs, ["spark", "join", "window"]).collect()}
    # doc 3: "spark," is not the token "spark"; doc 4: case-insensitive
    assert got == {1, 4}


def test_sampled_quantiles_deterministic(spark):
    from kml2geojson_spark.sketch import sampled_quantiles
    df = spark.range(5000).selectExpr("id % 3 AS g", "id AS v")
    a = sorted(map(tuple, sampled_quantiles(
        df, "v", group_cols=["g"]).collect()))
    b = sorted(map(tuple, sampled_quantiles(
        df.repartition(17), "v", group_cols=["g"]).collect()))
    assert a == b and len(a) == 9  # 3 groups x 3 quantiles
    # quantile values are roughly where they should be (uniform data)
    for g, q, v in a:
        assert abs(v / 5000.0 - q) < 0.12, (g, q, v)


def test_keyword_search_duplicates_and_phrases(spark):
    from kml2geojson_spark.textops import keyword_search_all
    docs = spark.createDataFrame([(1, "spark join")], "doc_id long, text string")
    got = {r["doc_id"] for r in
           keyword_search_all(docs, ["spark", "Spark"]).collect()}
    assert got == {1}  # duplicate terms collapse, not empty
    import pytest
    with pytest.raises(ValueError, match="single tokens"):
        keyword_search_all(docs, ["new york"])


def test_hll_ignores_nulls(spark):
    from kml2geojson_spark.sketch import hll_estimate, hll_registers
    df = spark.createDataFrame(
        [(1, 10), (1, 20), (1, None), (2, None)],
        "g int, v int")
    regs = hll_registers(df, "v", group_cols=["g"], p=8)
    rows = regs.collect()
    assert all(r["bucket"] is not None and r["max_rho"] is not None
               for r in rows)
    est = {r["g"]: r["estimate"]
           for r in hll_estimate(regs, group_cols=["g"], p=8).collect()}
    assert est.get(1) == 2      # small range: exact via linear counting
    assert 2 not in est         # all-NULL group contributes no registers


def test_global_quantiles_distributed_and_correct(spark):
    """Ungrouped sampled_quantiles: two-phase order statistics — no
    single-task window over the sample, same values as the windowed
    formula, robust to input partitioning."""
    from kml2geojson_spark.sketch import sampled_quantiles

    df = spark.range(20000).selectExpr("id AS v")
    out = sampled_quantiles(df, "v")
    got = {r["q"]: r["value"] for r in out.collect()}

    # reference: the same rank formula computed locally on the same
    # deterministic sample
    sample = sorted(
        r["v"] for r in df.collect()
        if int(__import__("hashlib").md5(str(r["v"]).encode())
               .hexdigest()[:2], 16) < 16)
    n = len(sample)
    expect = {q: sample[int(q * (n - 1))] for q in (0.25, 0.5, 0.75)}
    assert got == expect

    # partitioning-invariant (range re-bucketing must not change values)
    got2 = {r["q"]: r["value"]
            for r in sampled_quantiles(df.repartition(17), "v").collect()}
    assert got2 == got

    # the ranked stage is genuinely distributed: the only windows in
    # the plan are keyed by the range bucket (_pid) or run over the
    # tiny per-bucket totals — never an unpartitioned window over the
    # sample values themselves
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition(" in line and "_pid" not in line:
            assert "_tot" in line or "_n" in line, line


def test_global_quantiles_empty_and_nulls(spark):
    from kml2geojson_spark.sketch import sampled_quantiles

    empty = spark.range(0).selectExpr("id AS v")
    assert sampled_quantiles(empty, "v").count() == 0

    withnulls = spark.createDataFrame(
        [(None,), (1,), (2,), (3,)], "v: long")
    # nulls are excluded, not ranked first
    rows = sampled_quantiles(withnulls, "v", rate_den=1).collect()
    assert all(r["value"] is not None for r in rows)


def test_hll_std_error_exposed():
    from kml2geojson_spark.sketch import hll_std_error
    assert abs(hll_std_error(8) - 1.04 / 16.0) < 1e-12


def test_ngram_jaccard_doc_freq_cap(spark):
    """max_doc_freq drops ubiquitous grams before the pair join: pairs
    sharing only capped grams vanish; cap off matches exact output."""
    from kml2geojson_spark.textops import ngram_jaccard_pairs
    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran"), (3, "the dog ran"),
         (4, "xyz the qqq")],
        "doc_id long, text string")
    exact = ngram_jaccard_pairs(docs, n=3).collect()
    uncapped = ngram_jaccard_pairs(docs, n=3, max_doc_freq=None).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, uncapped))
    # "the" appears in all 4 docs -> capped at 3; doc 4 shares ONLY
    # grams of "the " with the others, so its pairs disappear
    capped = ngram_jaccard_pairs(docs, n=3, max_doc_freq=3).collect()
    capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped}
    exact_pairs = {(r["doc_a"], r["doc_b"]) for r in exact}
    assert capped_pairs < exact_pairs
    assert not any(4 in p for p in capped_pairs)
    # emitted pairs: n_shared only counts uncapped grams (lower bound)
    exact_map = {(r["doc_a"], r["doc_b"]): r["n_shared"] for r in exact}
    for r in capped:
        assert r["n_shared"] <= exact_map[(r["doc_a"], r["doc_b"])]


def test_near_dedup_representatives_pipeline(spark):
    """End-to-end near-dedup: exact dup groups merge, near-dup chains
    merge transitively, singletons keep themselves, representatives
    are component minima, and the deduped corpus is doc_id == rep_id."""
    from kml2geojson_spark.textops import near_dedup_representatives
    base = "the quick brown fox jumps over the lazy dog " * 4
    docs = spark.createDataFrame(
        [(1, base), (2, base),                      # exact dups
         (3, base + "extra tail words here"),       # near dup of 1/2
         (4, "completely different content about spark joins and maps"),
         (5, "another unique document talking about window functions")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["rep_id"]
           for r in near_dedup_representatives(docs).collect()}
    assert len(out) == 5
    assert out[1] == out[2] == 1        # exact pair collapses to min
    assert out[4] == 4 and out[5] == 5  # singletons survive
    # rep is always the min of its component and reps map to themselves
    for d, r in out.items():
        assert r <= d and out[r] == r
    kept = {d for d, r in out.items() if d == r}
    assert 4 in kept and 5 in kept and 1 in kept and 2 not in kept


def test_redact_text_counts_and_order(spark):
    from kml2geojson_spark.textops import redact_text
    docs = spark.createDataFrame(
        [(1, "mail bob.smith@example.com or call 555.1234 x99"),
         (2, "no pii here at all")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in redact_text(docs).collect()}
    r1 = rows[1]
    assert r1["n_email"] == 1 and r1["n_number"] == 2
    # email redacted BEFORE numbers: its digits never count as numbers
    assert "<EMAIL>" in r1["clean_text"] and "<NUM>" in r1["clean_text"]
    assert "example" not in r1["clean_text"]
    r2 = rows[2]
    assert r2["n_email"] == 0 and r2["n_number"] == 0
    assert r2["clean_text"] == "no pii here at all"


def test_vocabulary_ranking_and_min_df(spark):
    from kml2geojson_spark.textops import vocabulary
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "A  c"), (4, "a")],
        "doc_id long, text string")
    rows = {r["token"]: (r["df"], r["rank"])
            for r in vocabulary(docs).collect()}
    assert rows["a"] == (4, 1) and rows["b"] == (2, 2) and rows["c"] == (2, 3)
    top = vocabulary(docs, min_df=2, top_k=2).collect()
    assert [(r["token"], r["rank"]) for r in
            sorted(top, key=lambda r: r["rank"])] == [("a", 1), ("b", 2)]


def test_near_dedup_star_algorithm_same_output(spark):
    from kml2geojson_spark.textops import near_dedup_representatives

    # components come from the diameter-independent star algorithm: a
    # 100-TB corpus with long transitive near-dup chains (boilerplate
    # laddering) converges in O(log² n) rounds there, while min-label
    # propagation needs one round per hop and raises past max_iters
    # (see test_graph.test_star_components_long_chain_beats_propagation)
    base = "alpha beta gamma delta epsilon zeta " * 5
    docs = spark.createDataFrame(
        [(i, base + ("x" * (i % 3))) for i in range(1, 8)]
        + [(9, "entirely different text about shuffles and joins")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["rep_id"]
           for r in near_dedup_representatives(docs).collect()}
    # exact groups {1, 4, 7}, {2, 5}, {3, 6} map to their minimum; the
    # groups' one extra token ("x", "xx" or none) among six puts their
    # SimHashes 8-13 bits apart, past max_hamming, and doc 9 stands alone
    assert got == {1: 1, 4: 1, 7: 1, 2: 2, 5: 2, 3: 3, 6: 3, 9: 9}


def test_tfidf_top_terms_tiny_corpus(spark):
    from kml2geojson_spark.textops import tfidf_top_terms
    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "cherry")],
        "doc_id long, text string")
    out = tfidf_top_terms(docs, 2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["rank"], r["token"], r["tf"], r["df"], r["score"]))
    # doc 1: apple tf=2 df=1 score=2.0 beats banana tf=1 df=2 score=0.5
    assert sorted(by_doc[1]) == [(1, "apple", 2, 1, 2.0),
                                 (2, "banana", 1, 2, 0.5)]
    # doc 2: cherry 1/2 vs banana 1/2 — token asc tie-break
    assert sorted(by_doc[2]) == [(1, "banana", 1, 2, 0.5),
                                 (2, "cherry", 1, 2, 0.5)]
    assert sorted(by_doc[3]) == [(1, "cherry", 1, 2, 0.5)]


def test_bloom_filter_no_false_negatives_and_fp_bound(spark):
    """Every inserted key must probe positive; the false-positive rate
    on disjoint probes stays near the analytic bound."""
    from pyspark.sql import functions as F
    from kml2geojson_spark.sketch import bloom_might_contain, bloom_registers
    import math
    n, m, k = 2000, 1 << 16, 4
    inserted = spark.range(n).select(
        F.concat(F.lit("key-"), F.col("id")).alias("v"))
    regs = bloom_registers(inserted, "v", m_bits=m, k=k)
    hits = bloom_might_contain(regs, inserted, "v", m_bits=m, k=k)
    assert hits.where(~F.col("might_contain")).count() == 0  # no FN
    absent = spark.range(n, 3 * n).select(
        F.concat(F.lit("key-"), F.col("id")).alias("v"))
    probe = bloom_might_contain(regs, absent, "v", m_bits=m, k=k)
    fp = probe.where(F.col("might_contain")).count() / (2 * n)
    bound = (1 - math.exp(-k * n / m)) ** k
    assert fp <= 3 * bound + 0.01, (fp, bound)


def test_bloom_registers_merge_by_or(spark):
    """Registers of A ∪ B == bit_or-merge of registers(A), registers(B)
    — the distributed-merge property a sketch needs."""
    from pyspark.sql import functions as F
    from kml2geojson_spark.sketch import bloom_registers
    a = spark.range(0, 500).select(F.col("id").cast("string").alias("v"))
    b = spark.range(300, 900).select(F.col("id").cast("string").alias("v"))
    both = a.unionByName(b)
    direct = {(r["word_idx"], r["bits"])
              for r in bloom_registers(both, "v").collect()}
    merged = (bloom_registers(a, "v").unionByName(bloom_registers(b, "v"))
              .groupBy("word_idx")
              .agg(F.expr("bit_or(bits)").alias("bits")))
    assert {(r["word_idx"], r["bits"]) for r in merged.collect()} == direct


def test_quality_quota_sample_deterministic(spark):
    from kml2geojson_spark.textops import quality_quota_sample
    docs = spark.createDataFrame(
        [(1, "en", "pure alpha text here"), (2, "en", "half 1234 digits 99"),
         (3, "en", "abc"), (4, "fr", "oui oui"), (5, "fr", "123 456 789")],
        "doc_id long, lang string, text string")
    out = quality_quota_sample(docs, 2).collect()
    picked = {(r["lang"], r["rank"]): r["doc_id"] for r in out}
    # en: doc 3 (all alpha except 0 non-alpha? 'abc' ratio 1.0) beats 1
    assert picked[("en", 1)] == 3
    assert picked[("en", 2)] == 1
    assert picked[("fr", 1)] == 4
    assert len(out) == 4  # 2 per group, fr has only 2 candidates


def test_decontaminate_against_flags_overlap(spark):
    from kml2geojson_spark.textops import decontaminate_against
    corpus = spark.createDataFrame(
        [(10, "the quick brown fox jumps"), (11, "completely novel words"),
         (12, "short")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(1, "a quick brown fox appears")], "doc_id long, text string")
    out = {r["doc_id"]: r["n_shared_grams"]
           for r in decontaminate_against(corpus, bench, n=8).collect()}
    assert 10 in out and out[10] > 0   # shares "quick brown fox" grams
    assert 11 not in out and 12 not in out


def test_repetition_stats_detects_loops(spark):
    from kml2geojson_spark.textops import repetition_stats
    docs = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"), (2, "all fresh words here x")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_stats(docs, n=5).collect()}
    assert out[1]["rep_ratio"] > 0.5          # looped text
    assert out[2]["rep_ratio"] == 0.0         # fully novel
    assert out[1]["max_gram_freq"] > 1
    assert out[2]["max_gram_freq"] == 1


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


def test_cms_never_underestimates_and_exact_when_wide(spark):
    from kml2geojson_spark.sketch import cms_estimate, cms_registers
    import numpy as np
    rng = np.random.RandomState(9)
    vals = []
    truth = {}
    for i in range(60):
        c = int(rng.randint(1, 40))
        truth[f"t{i}"] = c
        vals += [f"t{i}"] * c
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    probes = spark.createDataFrame(
        [(t,) for t in list(truth) + ["absent_a", "absent_b"]], "v string")

    # narrow sketch: overestimates allowed, underestimates never
    regs = cms_registers(df, "v", depth=3, width=64)
    est = {r.v: r.estimate
           for r in cms_estimate(regs, probes, "v",
                                 depth=3, width=64).collect()}
    for t, c in truth.items():
        assert est[t] >= c, (t, est[t], c)
    assert est["absent_a"] >= 0 and est["absent_b"] >= 0

    # wide sketch: collisions vanish, estimates exact (and absent = 0
    # with overwhelming probability at width 1<<14, checked exactly
    # here for this fixed seed)
    regs_w = cms_registers(df, "v", depth=4, width=1 << 14)
    est_w = {r.v: r.estimate
             for r in cms_estimate(regs_w, probes, "v",
                                   depth=4, width=1 << 14).collect()}
    assert {t: est_w[t] for t in truth} == truth
    assert est_w["absent_a"] == 0 and est_w["absent_b"] == 0


def test_cms_merge_by_summing_registers(spark):
    from pyspark.sql import functions as F
    from kml2geojson_spark.sketch import cms_estimate, cms_registers
    a = spark.createDataFrame([("x",)] * 5 + [("y",)] * 2, "v string")
    b = spark.createDataFrame([("x",)] * 3 + [("z",)] * 7, "v string")
    kw = dict(depth=4, width=512)
    merged = (cms_registers(a, "v", **kw)
              .unionByName(cms_registers(b, "v", **kw))
              .groupBy("sketch_row", "bucket")
              .agg(F.sum("cnt").alias("cnt")))
    direct = cms_registers(a.unionByName(b), "v", **kw)
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, direct.collect())))
    probes = spark.createDataFrame([("x",), ("y",), ("z",)], "v string")
    est = {r.v: r.estimate
           for r in cms_estimate(merged, probes, "v", **kw).collect()}
    assert est == {"x": 8, "y": 2, "z": 7}


def test_cms_weight_col(spark):
    from kml2geojson_spark.sketch import cms_estimate, cms_registers
    df = spark.createDataFrame([("x", 10), ("x", 4), ("y", 1)],
                               "v string, w long")
    regs = cms_registers(df, "v", depth=4, width=1024, weight_col="w")
    probes = spark.createDataFrame([("x",), ("y",)], "v string")
    est = {r.v: r.estimate
           for r in cms_estimate(regs, probes, "v",
                                 depth=4, width=1024).collect()}
    assert est == {"x": 14, "y": 1}


# ---------------------------------------------------------------------------
# boilerplate_ngrams / containment_pairs / pack_sequences
# ---------------------------------------------------------------------------


def test_boilerplate_ngrams_hand_example(spark):
    from kml2geojson_spark.textops import boilerplate_ngrams
    docs = spark.createDataFrame([
        (1, "shared header line one unique body alpha beta"),
        (2, "shared header line one unique body gamma delta"),
        (3, "nothing in common here at all today friend"),
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in
           boilerplate_ngrams(docs, n=4, min_docs=2).collect()}
    # 8 tokens → 5 distinct 4-grams each; docs 1/2 share the first 3
    assert out[1].n_grams == 5 and out[1].n_boiler == 3
    assert out[2].n_boiler == 3
    assert out[3].n_boiler == 0 and out[3].boiler_ratio == 0.0
    assert abs(out[1].boiler_ratio - 3 / 5) < 1e-15


def test_boilerplate_ngrams_short_docs_absent(spark):
    """Docs with fewer than n tokens have no grams — and no output
    row (nothing to measure)."""
    from kml2geojson_spark.textops import boilerplate_ngrams
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "one two three four five")],
        "doc_id long, text string")
    ids = {r.doc_id for r in boilerplate_ngrams(docs, n=4).collect()}
    assert ids == {2}


def test_containment_catches_what_jaccard_misses(spark):
    from kml2geojson_spark.textops import (containment_pairs,
                                           ngram_jaccard_pairs)
    short = "the quick brown fox jumps over it"
    long_ = short + " " + " ".join(f"filler{i:03d} pad pad" for i in range(40))
    docs = spark.createDataFrame([(1, short), (2, long_)],
                                 "doc_id long, text string")
    got = containment_pairs(docs, n=8, threshold=0.9).collect()
    assert len(got) == 1
    r = got[0]
    assert r.cont_a > 0.9          # short doc fully inside the long one
    assert r.cont_b < 0.5          # but the long doc is mostly novel
    # symmetric jaccard at the same bar finds nothing
    jac = ngram_jaccard_pairs(docs, n=8, threshold=0.9).collect()
    assert jac == []


def test_pack_sequences_matches_brute_force(spark):
    from kml2geojson_spark.textops import pack_sequences
    rows = [(i, " ".join(f"t{j}" for j in range(3 + (i * 7) % 11)))
            for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(8)
    cap = 16
    got = {r.doc_id: r for r in pack_sequences(docs, cap).collect()}
    start = 0
    for i, text in rows:
        n = len(text.split(" "))
        r = got[i]
        assert r.n_tokens == n
        assert r.start == start
        assert r.bin_id == start // cap
        assert r.offset_in_bin == start % cap
        assert r.n_bins == (start + max(n, 1) - 1) // cap - start // cap + 1
        start += n


def test_pack_sequences_partitioning_invariant(spark):
    """The two-phase running sum must not depend on the range
    partition count."""
    from kml2geojson_spark.textops import pack_sequences
    docs = spark.createDataFrame(
        [(i, "w " * (1 + i % 5) + "end") for i in range(40)],
        "doc_id long, text string")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(map(tuple, pack_sequences(docs, 8).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = sorted(map(tuple, pack_sequences(docs, 8).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b


def test_pack_sequences_capacity_validation(spark):
    from kml2geojson_spark.textops import pack_sequences
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        pack_sequences(docs, 0)


def test_unigram_surprisal_hand_example(spark):
    import math
    from kml2geojson_spark.textops import unigram_surprisal
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string")
    # corpus: a=3, b=1, c=1, total=5
    got = {r["doc_id"]: (r["n_tokens"], r["surprisal_sum_milli"],
                         r["mean_surprisal_milli"])
           for r in unigram_surprisal(docs).collect()}
    sa = round(math.log(5 / 3) * 1000)
    sb = round(math.log(5 / 1) * 1000)
    assert got[1] == (3, 2 * sa + sb, (2 * sa + sb) // 3)
    assert got[2] == (2, sa + sb, (sa + sb) // 2)


def test_unigram_surprisal_rare_scores_higher(spark):
    from kml2geojson_spark.textops import unigram_surprisal
    rows = [(i, "common common common") for i in range(20)]
    rows.append((99, "zyzzyva qwerty"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["mean_surprisal_milli"]
           for r in unigram_surprisal(docs).collect()}
    assert got[99] > got[0]


def test_bm25_hand_example(spark):
    import math
    from kml2geojson_spark.textops import bm25_scores
    docs = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog bird"), (3, "fish fish fish fish")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["bm25_milli"]
           for r in bm25_scores(docs, ["cat", "dog"]).collect()}
    n, avgdl = 3, 9 / 3
    k1, b = 1.2, 0.75

    def c(tf, dl, df):
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        return round(idf * ((tf * (k1 + 1.0))
                            / (tf + k1 * (1.0 - b + b * (dl / avgdl))))
                     * 1000.0)

    assert got[1] == c(2, 3, 1) + c(1, 3, 2)  # cat tf=2 df=1; dog tf=1 df=2
    assert got[2] == c(1, 2, 2)
    assert 3 not in got  # no matching term


def test_bm25_rare_term_outscores_common(spark):
    from kml2geojson_spark.textops import bm25_scores
    rows = [(i, "common filler words here") for i in range(30)]
    rows += [(100, "rare common filler"), (101, "common filler target")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["bm25_milli"]
           for r in bm25_scores(docs, ["rare", "common"]).collect()}
    assert got[100] > got[101]  # the rare-term doc wins


def test_bm25_validation(spark):
    import pytest
    from kml2geojson_spark.textops import bm25_scores
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        bm25_scores(docs, [])


def test_span_mix_stats_hand_example(spark):
    import kml2geojson_spark as k2gs
    from kml2geojson_spark.multimodal import span_mix_stats

    def t(text, off):
        return ("text", text, None, off)

    def m(ref, off):
        return ("media", "", ref, off)

    rows = [
        ("1", [t("ab", 0), m("x.png", 2), t("cde", 2), t("f", 5)]),
        ("2", [t("hello", 0)]),
        ("3", [m("a.jpg", 0), m("b.jpg", 0)]),  # media-media: no transition
        ("4", []),
        ("5", [t(None, 0)]),                    # null text counts 0 chars
    ]
    df = spark.createDataFrame(rows, k2gs.spans_schema())
    got = {r["doc_id"]: (r["n_spans"], r["n_media"], r["text_chars"],
                         r["n_transitions"])
           for r in span_mix_stats(df).collect()}
    assert got["1"] == (4, 1, 6, 2)   # text->media->text->text
    assert got["2"] == (1, 0, 5, 0)
    assert got["3"] == (2, 2, 0, 0)
    assert got["4"] == (0, 0, 0, 0)
    assert got["5"] == (1, 0, 0, 0)


def test_span_mix_stats_on_synthesized_corpus(spark):
    import kml2geojson_spark as k2gs
    from kml2geojson_spark.multimodal import media_table, span_mix_stats
    docs = k2gs.synthesize_documents_kml(spark, 40, seed=9,
                                         max_placemarks=6)
    stats = {r["doc_id"]: r for r in span_mix_stats(docs).collect()}
    media_counts = {r["doc_id"]: r["n"]
                    for r in (media_table(docs).groupBy("doc_id")
                              .count().withColumnRenamed("count", "n")
                              .collect())}
    assert len(stats) == 40
    for doc_id, r in stats.items():
        assert r["n_media"] == media_counts.get(doc_id, 0)
        assert 0 <= r["n_transitions"] < r["n_spans"] or r["n_spans"] == 0


def test_pmi_bigrams_hand_example(spark):
    import math
    from kml2geojson_spark.textops import pmi_bigrams
    # corpus: "a b" x3, "a c" x2  -> unigrams a=5 b=3... build precisely:
    rows = [(1, "a b a b"), (2, "a b c"), (3, "c a")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["tok_a"], r["tok_b"]): (r["n_ab"], r["pmi_milli"])
           for r in pmi_bigrams(docs, min_count=2).collect()}
    # bigrams: (a,b)x3 (b,a)x1 (b,c)x1 (c,a)x1 -> n_bi=6
    # unigrams: a=4, b=3, c=2 -> n_uni=9
    n_uni, n_bi = 9, 6
    pmi_ab = round(math.log((3 * n_uni * n_uni) / (n_bi * 4 * 3)) * 1000)
    assert got == {("a", "b"): (3, pmi_ab)}


def test_pmi_bigrams_no_cross_doc_pairs(spark):
    from kml2geojson_spark.textops import pmi_bigrams
    # "x" ends doc 1 and "y" starts doc 2: (x,y) must NOT be a bigram
    rows = [(1, "q x"), (2, "y q")] * 3
    docs = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(rows)],
        "doc_id long, text string")
    got = {(r["tok_a"], r["tok_b"]) for r in
           pmi_bigrams(docs, min_count=1).collect()}
    assert got == {("q", "x"), ("y", "q")}


def test_edit_distance_pairs_matches_brute_force(spark):
    """Deletion-neighborhood candidates are complete for d<=1: the
    operator's pairs equal the O(n^2) levenshtein brute force on a
    vocabulary covering substitution, insertion, deletion, doubled
    letters, length-1 strings, and far-apart words."""
    from itertools import combinations
    from kml2geojson_spark.textops import edit_distance_pairs

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    words = ["cat", "cart", "car", "bat", "bats", "a", "at", "hello",
             "hallo", "hellos", "xyzzy", "book", "boook", "bok", "cat"]
    docs = spark.createDataFrame([(w,) for w in words], "name string")
    got = {(r["name_a"], r["name_b"])
           for r in edit_distance_pairs(docs).collect()}
    want = {(min(a, b), max(a, b))
            for a, b in combinations(sorted(set(words)), 2)
            if lev(a, b) <= 1}
    assert got == want


def test_edit_distance_pairs_plan_no_nested_loop(spark):
    from kml2geojson_spark.textops import edit_distance_pairs
    docs = spark.createDataFrame([("aa",), ("ab",)], "name string")
    plan = edit_distance_pairs(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_chunk_documents_brute_force(spark):
    from kml2geojson_spark.textops import chunk_documents
    import random as _random
    rng = _random.Random(13)
    docs = []
    for i in range(40):
        n = rng.choice([0, 1, 5, 15, 16, 17, 31, 32, 33, 64, 200])
        # double spaces sprinkled in: empty tokens must be dropped
        sep = lambda: "  " if rng.random() < 0.2 else " "
        docs.append((i, sep().join(f"w{j}" for j in range(n))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    chunk, overlap = 16, 4
    stride = chunk - overlap
    got = {(r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_text"])
           for r in chunk_documents(df, chunk_tokens=chunk,
                                    overlap=overlap).collect()}
    expect = {}
    for i, text in docs:
        toks = [t for t in text.split(" ") if t]
        if not toks:
            continue
        nc = 1 if len(toks) <= chunk else \
            1 + (len(toks) - chunk + stride - 1) // stride
        for ci in range(nc):
            part = toks[ci * stride: ci * stride + chunk]
            expect[(i, ci)] = (len(part), " ".join(part))
    assert got == expect
    # invariants: full coverage, no empty chunk, overlap honored
    assert all(n > 0 for n, _ in got.values())


def test_chunk_documents_param_guards(spark):
    from kml2geojson_spark.textops import chunk_documents
    import pytest
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=0)
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=8, overlap=8)
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=8, overlap=-1)
