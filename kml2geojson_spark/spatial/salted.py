"""Explicitly-salted joins for hot-cell skew (BASELINE.json north_rule:
"partitioning / shuffle / skew handled explicitly ... salted
broadcast/hash joins with explicit skew splitting on hot cells").

AQE's skew-join only rewrites sort-merge joins after the fact; the
engine's geographic key distribution is *known* to be pathological
(cities → a handful of cells carry a large share of all points), so we
split hot keys deterministically before the shuffle:

- sample-count the join key to find hot keys (driver gets only the
  top-N list — a few KB);
- probe side (large): hot rows get a deterministic salt in [0, S) from
  a hash of the row, cold rows salt 0 — each hot key's rows spread
  over S shuffle partitions instead of one;
- build side (small): hot rows are replicated S× (explode), cold rows
  once — join key becomes (key, salt).

Result is row-identical to the unsalted join (tests assert equality).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F


def hot_keys(df: DataFrame, key: str, *, top: int = 64,
             min_share: float = 0.01, sample_fraction: float = 0.05,
             seed: int = 42) -> list:
    """Sampled heavy-hitter detection: keys whose sampled share exceeds
    ``min_share`` (and that occur at least twice), capped at ``top``.

    One query: a rollup over the key counts every key of the sample and,
    in the same aggregation, the sample's total (the row where
    ``grouping(key)`` is 1). The total row and the ``top`` most frequent
    keys leave the executor, so the driver only ever sees ≤ ``top + 1``
    rows, and is cut there at the threshold ``max(2, min_share *
    total)``. No separate count job runs, and the whole query is
    whole-stage codegen apart from its exchange and the final top-N.
    Keys with equal counts come out in descending key order."""
    sample = df.sample(fraction=sample_fraction, seed=seed) \
        if sample_fraction < 1.0 else df
    rows = (sample.rollup(key)
            .agg(F.count(F.lit(1)).alias("_n"), F.grouping(key).alias("_total"))
            .orderBy(F.desc("_total"), F.desc("_n"), F.desc(key))
            .limit(top + 1).collect())
    if not rows:
        return []
    threshold = max(2.0, min_share * rows[0]["_n"])
    return [r[key] for r in rows[1:] if r["_n"] >= threshold]


def salted_join(probe: DataFrame, build: DataFrame, key: str, *,
                n_salt: int = 8, hot: Optional[Sequence] = None,
                how: str = "inner") -> DataFrame:
    """Skew-split equi-join: ``probe`` (large/skewed) ⋈ ``build``
    (small) on ``key``. ``hot`` keys (auto-detected from a probe sample
    when None) are split ``n_salt`` ways with a deterministic salt.

    The salt is derived from a hash of the probe row's non-key columns,
    so retried tasks produce identical salt assignments — required for
    checkpoint/lineage resume determinism.

    Supported ``how``: inner / left / left_semi / left_anti — joins
    where replicating unmatched BUILD rows cannot surface in the output.
    right/full outer would emit each unmatched hot build row ``n_salt``
    times and are rejected.
    """
    allowed = {"inner", "left", "left_outer", "leftouter",
               "left_semi", "leftsemi", "semi",
               "left_anti", "leftanti", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join does not support how={how!r}: replicated build "
            "rows would duplicate unmatched-right output; use an unsalted "
            "join for right/full outer")
    if hot is None:
        hot = hot_keys(probe, key)
    hot = list(hot)
    if not hot:
        return probe.join(build, key, how)

    hash_cols = [c for c in probe.columns if c != key]
    if not hash_cols:
        # key-only probe: no row content to hash — spread hot keys with
        # a per-partition row counter instead. Stable under plain task
        # retry (which replays the same partition content), but NOT
        # under upstream shuffle recomputation, where partition row
        # order can change and with it the salt assignment: join RESULTS
        # stay row-identical either way, only lineage-resume determinism
        # of intermediate salt values is weakened. A probe that carries
        # a row id or any other non-key column gets the row-hash salt.
        salt_src = F.pmod(F.monotonically_increasing_id(), F.lit(n_salt))
    else:
        salt_src = F.pmod(F.hash(*[F.col(c) for c in hash_cols]),
                          F.lit(n_salt))
    salt_probe = F.when(
        F.col(key).isin(hot), salt_src,
    ).otherwise(F.lit(0)).cast("int")
    p = probe.withColumn("_salt", salt_probe)

    salts = F.when(
        F.col(key).isin(hot),
        F.sequence(F.lit(0), F.lit(n_salt - 1)),
    ).otherwise(F.array(F.lit(0)))
    b = (build.withColumn("_salts", salts)
         .withColumn("_salt", F.explode(F.col("_salts")))
         .withColumn("_salt", F.col("_salt").cast("int"))
         .drop("_salts"))

    return p.join(b, [key, "_salt"], how).drop("_salt")
