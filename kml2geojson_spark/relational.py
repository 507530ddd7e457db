"""Relational analytics beyond plain SQL aggregates: the Pareto
skyline (multi-criteria dominance frontier).

The reference (a KML converter, /root/reference/kml2geojson/main.py)
has no relational surface; this is a §2.4-style extension — skylines
are the canonical "pick the non-dominated training examples" primitive
(e.g. quality-vs-length frontiers over a document corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def skyline2d(points: DataFrame, *, x_col: str = "x", y_col: str = "y",
              n_buckets: int = 256) -> DataFrame:
    """Two-dimensional skyline (Pareto frontier, minimizing both
    coordinates): return the distinct (x, y) points not dominated by
    any other point, where q dominates p iff q.x <= p.x and
    q.y <= p.y with at least one strict inequality.

    Algorithm — TWO-PHASE, never a global sort:

    After deduplication, order points by (x asc, y asc); a point is
    dominated iff some predecessor has y <= its y, i.e. it survives
    iff the strict-prefix minimum of y exceeds its own y. That prefix
    minimum is split into two independently-computable parts:

    1. **Bucket phase** — points are binned by ``x`` into
       ``n_buckets`` equal-width bins; one hash-aggregate produces the
       per-bucket min y (map-side combined, ``n_buckets`` rows), and
       the exclusive running minimum over that TINY frame gives each
       bucket the min y of everything strictly to its left. The frame
       is ``n_buckets`` rows, so its single-partition window is free,
       and it broadcast-joins back onto the points.
    2. **In-bucket phase** — a window PARTITIONED by bucket (never
       unpartitioned) ordered by (x, y) supplies the within-bucket
       strict-prefix min. Each partition holds ~n/n_buckets points;
       at 10^12 rows raise ``n_buckets`` (the bucket frame stays
       driver-trivial up to millions of buckets). Heavily skewed x
       distributions concentrate a bucket — pick bucket width from
       the data's x quantiles in that case.

    A point survives iff y < both partial prefix minima. One extra
    tiny aggregate (global min/max of x) sizes the bins; it collects
    exactly one row.

    Output: the skyline points (x, y), distinct, with input types
    preserved.
    """
    pts = (points.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
           .where(F.col("x").isNotNull() & F.col("y").isNotNull())
           .distinct())
    lo, hi = pts.agg(F.min("x"), F.max("x")).first()
    if lo is None:
        return pts
    span = float(hi) - float(lo)
    width = (span / n_buckets) or 1.0
    bucket = F.least(F.floor((F.col("x") - F.lit(lo)) / F.lit(width)),
                     F.lit(n_buckets - 1)).cast("long")
    b = pts.select("x", "y", bucket.alias("bk"))
    # Phase 1: per-bucket min y, then the exclusive running min over the
    # n_buckets-row frame (single-partition window over a tiny frame).
    wb = (Window.orderBy(F.col("bk").asc())
          .rowsBetween(Window.unboundedPreceding, -1))
    bmins = (b.groupBy("bk").agg(F.min("y").alias("bk_min"))
             .select("bk", F.min("bk_min").over(wb).alias("left_min")))
    j = b.join(F.broadcast(bmins), "bk")
    # Phase 2: within-bucket strict-prefix min, partitioned by bucket.
    wp = (Window.partitionBy("bk").orderBy(F.col("x").asc(), F.col("y").asc())
          .rowsBetween(Window.unboundedPreceding, -1))
    j = j.withColumn("in_min", F.min("y").over(wp))
    survives = ((F.col("left_min").isNull()
                 | (F.col("y") < F.col("left_min")))
                & (F.col("in_min").isNull()
                   | (F.col("y") < F.col("in_min"))))
    return j.where(survives).select("x", "y")


def histogram1d(df: DataFrame, *, value_col: str, lo: float, hi: float,
                n_bins: int = 32) -> DataFrame:
    """Fixed-width histogram over ``[lo, hi]`` with ALL bins present
    (gaps zero-filled) — the profiling/data-quality primitive behind
    distribution dashboards and drift checks. Unlike
    ``approx_percentile``-style sketches this is EXACT and
    engine-replayable: bin assignment is one double expression
    (``floor((v - lo) / width)``, identical IEEE arithmetic on every
    engine), values equal to ``hi`` fold into the last bin (standard
    closed-right top edge), NULLs and out-of-range values are dropped.

    Scale shape: one filter + one bin hash-aggregate with map-side
    combine (each partition collapses to ≤ n_bins cells before the
    exchange), then a broadcast left join against the tiny
    ``range(n_bins)`` frame to surface empty bins. No windows, no
    global sort, no Python.

    Output: (bin BIGINT 0-based, bin_lo DOUBLE inclusive lower edge,
    n BIGINT).
    """
    if n_bins <= 0:
        raise ValueError("n_bins must be positive")
    lo = float(lo)
    hi = float(hi)
    if not hi > lo:
        raise ValueError("hi must be greater than lo")
    width = (hi - lo) / n_bins
    v = F.col(value_col).cast("double")
    raw = F.floor((v - F.lit(lo)) / F.lit(width)).cast("long")
    bin_ = F.when(raw >= n_bins, F.lit(n_bins - 1).cast("long")) \
        .otherwise(raw)
    counts = (df.where(v.isNotNull() & (v >= lo) & (v <= hi))
              .select(bin_.alias("bin"))
              .groupBy("bin").agg(F.count(F.lit(1)).alias("_n")))
    bins = df.sparkSession.range(n_bins).select(F.col("id").alias("bin"))
    return (bins.join(counts, "bin", "left")
            .select("bin",
                    (F.lit(lo) + F.col("bin") * F.lit(width))
                    .alias("bin_lo"),
                    F.coalesce(F.col("_n"), F.lit(0)).cast("long")
                    .alias("n")))


def weighted_median(df: DataFrame, *, group_col: str, value_col: str,
                    weight_col: str, id_col: str) -> DataFrame:
    """Exact weighted median per group: the smallest value whose
    cumulative weight (ordered by value, ties by id) reaches half the
    group's total weight — the robust central-tendency statistic when
    rows carry unequal mass (quantity-weighted price, token-weighted
    quality). Weights are integerized to milli-units per row
    (``round(w * 1000)`` — bit-identical on every engine), so the
    running and total sums are exact BIGINTs and the half-mass test
    ``2·cum ≥ tot`` never touches a float aggregate.

    NULL values/ids are excluded, and the mass filter is applied to
    the INTEGERIZED weight (``wm > 0``): weights are quantized to
    milli-units, so a row with 0 < w < 0.0005 carries zero mass and is
    excluded outright (a raw ``w > 0`` filter would admit it and let a
    group whose weights ALL round to zero report its minimum as the
    median), and weights closer than ~1e-3 quantize equal — pick a
    larger scale upstream if sub-milli weight resolution matters.

    Scale shape: ONE shuffle on the group key — the running-sum
    window, the total-weight window, and the final aggregate all share
    that partitioning. Per-group window state is bounded by the group
    size; for a single planetary-scale group, pre-bucket by value like
    :func:`skyline2d` does (two-phase prefix sums) instead. The
    qualifying-row reduction is ``min(struct(value, id))`` — an
    order-free aggregate, not a second sort.

    Output: (group_col, median DOUBLE, total_weight_milli BIGINT).
    """
    wm = F.round(F.col(weight_col).cast("double") * 1000.0).cast("long")
    d = (df.where(F.col(value_col).isNotNull()
                  & F.col(weight_col).isNotNull()
                  & (wm > 0) & F.col(id_col).isNotNull())
         .select(F.col(group_col).alias("_g"),
                 F.col(value_col).cast("double").alias("_v"),
                 F.col(id_col).alias("_i"), wm.alias("_wm")))
    wrun = (Window.partitionBy("_g")
            .orderBy(F.col("_v").asc(), F.col("_i").asc())
            .rowsBetween(Window.unboundedPreceding, 0))
    q = (d.withColumn("_cum", F.sum("_wm").over(wrun))
         .withColumn("_tot", F.sum("_wm").over(Window.partitionBy("_g")))
         .where(F.col("_cum") * 2 >= F.col("_tot")))
    return (q.groupBy("_g")
            .agg(F.min(F.struct("_v", "_i")).alias("_m"),
                 F.max("_tot").alias("total_weight_milli"))
            .select(F.col("_g").alias(group_col),
                    F.col("_m._v").alias("median"), "total_weight_milli"))


def group_mode(df: DataFrame, *, group_col: str,
               value_col: str) -> DataFrame:
    """Deterministic mode per group: the most frequent value, ties
    broken by the smallest value — the categorical summary statistic
    SQL engines lack a portable primitive for (DuckDB's ``mode`` and
    Spark's ``mode`` both leave ties engine-defined, so neither is
    oracle-safe; this one pins the tie-break and replays exactly).
    NULL values are dropped (they are absence, not a category).

    Scale shape: the raw rows collapse FIRST through one (group,
    value) hash-aggregate with map-side combine; the ranking window
    runs on that aggregated frame partitioned by group (bounded by the
    group's distinct-value count, never the row count — a planetary
    group with a planetary distinct-value cardinality is a data bug).
    No joins, no global sort, no Python.

    Output: (group_col, mode, n BIGINT).
    """
    counts = (df.where(F.col(value_col).isNotNull()
                       & F.col(group_col).isNotNull())
              .select(F.col(group_col).alias("_g"),
                      F.col(value_col).alias("_v"))
              .groupBy("_g", "_v").agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("_g").orderBy(F.col("n").desc(),
                                         F.col("_v").asc())
    return (counts.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(F.col("_g").alias(group_col),
                    F.col("_v").alias("mode"), "n"))


def key_skew_stats(df: DataFrame, key_col: str, *,
                   k: int = 10) -> DataFrame:
    """Join-key skew report: the top-``k`` heaviest keys of a column
    with exact row counts, each key's corpus share and its multiple of
    the average key load (both in exact ppm) — the measurement you run
    BEFORE choosing a salting factor for :func:`~kml2geojson_spark.
    spatial.salted.salted_join` or trusting AQE's skew-join split.
    (§2.4-style extension; measured skew, not asserted, is this
    package's discipline — cf. the salted/unsalted bench pair.)

    All derived measures are exact BIGINT floor divisions replayed
    identically in the DuckDB oracle — no float ratios to hash-drift.

    Scale shape: ONE hash-aggregate on the key (map-side combined, so
    the skew being measured never concentrates the measurement
    itself — the hot key's billion rows combine to one partial per
    input partition), a single-row global aggregate broadcast back,
    and a ``TakeOrderedAndProject`` top-k (count desc, key asc) — no
    global sort, no windows, no Python.

    Output: (key, cnt, share_ppm = cnt·1e6 div total,
    avg_multiple_ppm = cnt·n_keys·1e6 div total), top-k keys.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    counts = (df.where(F.col(key_col).isNotNull())
              .groupBy(F.col(key_col).alias("key"))
              .agg(F.count(F.lit(1)).alias("cnt")))
    totals = counts.agg(F.sum("cnt").alias("_total"),
                        F.count(F.lit(1)).alias("_n_keys"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("key").asc()).limit(k)
    return (top.crossJoin(F.broadcast(totals))
            .select("key", "cnt",
                    F.expr("cnt * 1000000 div _total").alias("share_ppm"),
                    F.expr("cnt * _n_keys * 1000000 div _total")
                    .alias("avg_multiple_ppm")))


def cooccurrence_pairs(df: DataFrame, *, basket_col: str, item_col: str,
                       min_count: int = 1,
                       max_basket: int | None = None) -> DataFrame:
    """Market-basket co-occurrence: for every unordered item pair,
    the number of baskets containing both — the co-purchase /
    co-citation graph builder (frequent-itemset support counting at
    k = 2, the step before association rules or item-similarity).

    Multiplicity inside a basket is ignored (a basket contributes a
    pair at most once): the input collapses to DISTINCT (basket, item)
    first — one hash-agg. Pairs come from a self-equi-join on the
    basket key (co-located if the table is bucketed by it; exactly the
    q64-family shape), ``item_a < item_b``, then a map-side-combinable
    pair count; ``min_count`` prunes the long tail AFTER counting (the
    count is exact).

    Scale note: a basket with k distinct items emits k·(k−1)/2 pairs —
    the same quadratic hazard as a hot n-gram
    (:func:`..textops.ngram_jaccard_pairs`). ``max_basket`` drops
    whale baskets (more than that many distinct items) BEFORE the
    self-join — documented incompleteness, identical to the
    ``max_doc_freq`` contract there: counts for surviving pairs do not
    include dropped baskets. TPC-H-shaped orders are bounded (≤ ~13
    lines) so the default None is exact there.

    Output: (item_a, item_b, n_baskets) with item_a < item_b.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    base = (df.where(F.col(basket_col).isNotNull()
                     & F.col(item_col).isNotNull())
            .select(F.col(basket_col).alias("_bk"),
                    F.col(item_col).alias("_it"))
            .distinct())
    if max_basket is not None:
        small = (base.groupBy("_bk")
                 .agg(F.count(F.lit(1)).alias("_sz"))
                 .where(F.col("_sz") <= max_basket)
                 .select("_bk"))
        base = base.join(small, "_bk", "left_semi")
    a = base.select("_bk", F.col("_it").alias("item_a"))
    b = base.select("_bk", F.col("_it").alias("item_b"))
    return (a.join(b, "_bk")
            .where(F.col("item_a") < F.col("item_b"))
            .groupBy("item_a", "item_b")
            .agg(F.count(F.lit(1)).alias("n_baskets"))
            .where(F.col("n_baskets") >= min_count))


def group_ols(df: DataFrame, *, x_col: str, y_col: str,
              group_cols: list[str]) -> DataFrame:
    """Per-group ordinary-least-squares trend — slope, intercept, and
    R² of ``y ~ x`` for every group (the metric-drift / price-trend /
    growth-rate primitive), via the closed form over five sufficient
    statistics.

    Determinism contract (the :func:`grid_moran` pattern): ``x`` and
    ``y`` must be INTEGER columns (nano-integerize floats first;
    floating-point inputs raise), so Σx, Σy, Σxy, Σx², Σy² are EXACT
    BIGINT aggregates whose value is independent of partial-aggregate
    order — float sums would differ run-to-run. The coefficients are
    then ONE fixed double expression over the casted sums, bit-
    identical across engines and partitionings. Caller guarantees the
    sums fit in 64 bits (|Σx·y|, Σx², Σy² < 2⁶³ — raises under ANSI
    mode otherwise, never wraps silently).

    Degenerate groups: constant x → slope/intercept/R² NULL; constant
    y with varying x → slope 0, R² NULL (0/0). NULL group keys and
    NULL x/y rows are dropped.

    Scale shape: ONE map-side-combinable hash aggregate; the
    closed-form assembly is per-group scalar arithmetic. No window,
    no join, no second pass.

    Output: (group..., n, sx, sy, sxy, sx2, sy2, slope, intercept,
    r2) — the exact sums are emitted alongside the doubles so
    downstream exact re-assembly stays possible.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    for c in (x_col, y_col):
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"group_ols: {c!r} is floating-point — integerize first "
                "(exact integer sums are the determinism contract)")
    if not group_cols:
        raise ValueError("group_ols: group_cols must be non-empty")
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    keep = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    base = df.where(keep)
    s = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sx2"),
        F.sum(y * y).alias("sy2"))
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sx2d = F.col("sx2").cast("double")
    sy2d = F.col("sy2").cast("double")
    num = nd * sxyd - sxd * syd
    denx = nd * sx2d - sxd * sxd
    deny = nd * sy2d - syd * syd
    return s.select(
        *group_cols, "n", "sx", "sy", "sxy", "sx2", "sy2",
        F.when(denx == 0, F.lit(None))
        .otherwise(num / denx).alias("slope"),
        F.when(denx == 0, F.lit(None))
        .otherwise((syd - (num / denx) * sxd) / nd).alias("intercept"),
        F.when((denx == 0) | (deny == 0), F.lit(None))
        .otherwise(num * num / (denx * deny)).alias("r2"))


def group_gini(df: DataFrame, *, value_col: str,
               group_cols: list[str]) -> DataFrame:
    """Per-group Gini coefficient — the concentration / inequality
    measure (revenue concentration per segment, traffic concentration
    per region) via the rank formulation
    ``G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx)`` over values ranked
    ascending within the group.

    Determinism: values must be NON-NEGATIVE INTEGERS (floats raise up
    front; negatives raise inside the task — Gini is undefined below
    zero), so both Σx and Σ i·xᵢ are EXACT BIGINT aggregates. Rank
    ties need no pinning: permuting equal values among their tied
    ranks leaves Σ i·xᵢ unchanged (the xᵢ are equal), so the result
    is bit-stable across engines and partitionings even though
    ``row_number`` tie order is not. The final G is one fixed double
    expression. Caller guarantees Σ i·xᵢ < 2⁶³ (ANSI-raises, never
    wraps). All-zero groups (Σx = 0) emit NULL.

    Scale shape: ONE group-partitioned window sort + one map-side-
    combinable hash-agg — no join, no global sort.

    Output: (group..., n, total, gini).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"group_gini: {value_col!r} is floating-point — integerize "
            "first (exact integer sums are the determinism contract)")
    if not group_cols:
        raise ValueError("group_gini: group_cols must be non-empty")
    keep = F.col(value_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    v = F.when(F.col(value_col) < 0, F.raise_error(F.concat(
        F.lit("group_gini: negative value "),
        F.col(value_col).cast("string")))) \
        .otherwise(F.col(value_col).cast("long"))
    w = Window.partitionBy(*group_cols).orderBy(F.col("_v").asc())
    ranked = (df.where(keep).select(*group_cols, v.alias("_v"))
              .withColumn("_rk", F.row_number().over(w)))
    s = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_v").alias("total"),
        F.sum(F.col("_rk").cast("long") * F.col("_v")).alias("_srx"))
    nd = F.col("n").cast("double")
    sxd = F.col("total").cast("double")
    srxd = F.col("_srx").cast("double")
    return s.select(
        *group_cols, "n", "total",
        F.when(F.col("total") == 0, F.lit(None))
        .otherwise((2.0 * srxd - (nd + 1.0) * sxd) / (nd * sxd))
        .alias("gini"))


def group_mad_outliers(df: DataFrame, *, value_col: str, id_col: str,
                       group_cols: list[str],
                       k_milli: int = 3000) -> DataFrame:
    """Robust per-group outlier detection via MAD (median absolute
    deviation) — the heavy-tail-safe twin of mean/std z-scores (one
    whale inflates a std enough to hide itself; it cannot move a
    median). A row is flagged iff
    ``|x − median| · 1000 > k_milli · MAD`` — an EXACT INTEGER
    comparison (k = 3.0 → ``k_milli=3000``), so the verdict never
    touches a float and is bit-stable everywhere. Zero-MAD groups
    (>50% identical values) flag every deviating row, the standard
    MAD degenerate case.

    Medians are the LOW order statistic (rank ``floor((n+1)/2)`` on
    (value, id) — the q19 ``group_median`` rule), applied twice:
    once to values, once to the integer deviations. Values must be
    INTEGER (floats raise; nano-integerize first).

    Scale shape: ONE Exchange on the group key; both median passes
    are windows over that same partitioning (the second pass re-sorts
    in place, it does not re-shuffle), and the per-group median/MAD
    are full-frame conditional ``max`` windows — NO join back. NULL
    keys/values/ids drop.

    Output: one row per input row — (group..., id, value, dev, mad,
    is_outlier) — aggregate downstream for rates.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"group_mad_outliers: {value_col!r} is floating-point — "
            "integerize first (exact integer medians are the contract)")
    if not group_cols:
        raise ValueError("group_mad_outliers: group_cols must be non-empty")
    if k_milli <= 0:
        raise ValueError("group_mad_outliers: k_milli must be positive")
    keep = F.col(value_col).isNotNull() & F.col(id_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    base = df.where(keep).select(
        *group_cols, F.col(id_col).alias("_id"),
        F.col(value_col).cast("long").alias("_v"))
    wg = Window.partitionBy(*group_cols)
    w1 = wg.orderBy(F.col("_v").asc(), F.col("_id").asc())
    mid = F.floor((F.count(F.lit(1)).over(wg) + 1) / 2)
    s1 = (base
          .withColumn("_rn", F.row_number().over(w1))
          .withColumn("_med", F.max(F.when(F.col("_rn") == mid,
                                           F.col("_v"))).over(wg))
          .withColumn("dev", F.abs(F.col("_v") - F.col("_med"))))
    w2 = wg.orderBy(F.col("dev").asc(), F.col("_id").asc())
    s2 = (s1
          .withColumn("_rn2", F.row_number().over(w2))
          .withColumn("mad", F.max(F.when(F.col("_rn2") == mid,
                                          F.col("dev"))).over(wg)))
    return s2.select(
        *group_cols, F.col("_id").alias(id_col),
        F.col("_v").alias("value"), "dev", "mad",
        (F.col("dev") * 1000 > F.lit(int(k_milli)) * F.col("mad"))
        .alias("is_outlier"))


def group_auc(df: DataFrame, *, score_col: str, label_col: str,
              group_cols: list[str]) -> DataFrame:
    """Per-group ROC AUC (equivalently the Mann-Whitney U statistic)
    of an integer score against a binary label — the classifier-eval
    primitive for quality/toxicity/dedup-scorer validation over a
    labeled corpus slice.

    Tie handling is the textbook midrank rule, carried EXACTLY: with
    scores grouped by value, the positives at a tied score of block
    size c preceded by ``cb`` rows contribute ``p·(2·cb + c + 1)`` to
    TWICE the positive rank-sum — an integer, so the whole statistic
    stays in BIGINTs: ``auc_num = 2·ΣR₊ − P·(P+1)`` and
    ``auc = auc_num / (2·P·N)`` is ONE fixed double expression
    (bit-identical across engines and partitionings, the
    :func:`group_ols` determinism contract). Floating-point scores
    raise (nano-integerize first); labels outside {0, 1} raise inside
    the task; NULL keys/scores/labels are dropped.

    Scale shape: one (group, score) hash-aggregate with map-side
    combine (the score-distinct table is the small intermediate), one
    group-partitioned window cumsum over it, one final hash-agg. No
    join, no global sort, nothing proportional to P·N.

    Output: (group..., n_pos, n_neg, auc_num, auc); auc NULL when a
    group lacks either class.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[score_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"group_auc: {score_col!r} is floating-point — integerize "
            "first (exact integer rank sums are the determinism "
            "contract)")
    if not group_cols:
        raise ValueError("group_auc: group_cols must be non-empty")
    keep = (F.col(score_col).isNotNull()
            & F.col(label_col).isNotNull())
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    lab = F.when(~F.col(label_col).cast("long").isin(0, 1),
                 F.raise_error(F.concat(
                     F.lit("group_auc: label not in {0,1}: "),
                     F.col(label_col).cast("string")))) \
        .otherwise(F.col(label_col).cast("long"))
    base = df.where(keep).select(
        *group_cols,
        F.col(score_col).cast("long").alias("_s"),
        lab.alias("_y"))
    per_score = base.groupBy(*group_cols, "_s").agg(
        F.sum("_y").alias("_p"),
        F.count(F.lit(1)).alias("_c"))
    wg = Window.partitionBy(*group_cols)
    w = wg.orderBy(F.col("_s").asc())
    cum = F.sum("_c").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = per_score.withColumn(
        "_contrib",
        F.col("_p") * (2 * (cum - F.col("_c")) + F.col("_c") + 1))
    s = ranked.groupBy(*group_cols).agg(
        F.sum("_p").alias("n_pos"),
        (F.sum("_c") - F.sum("_p")).alias("n_neg"),
        F.sum("_contrib").alias("_s2"))
    num = F.col("_s2") - F.col("n_pos") * (F.col("n_pos") + 1)
    return s.select(
        *group_cols, "n_pos", "n_neg", num.alias("auc_num"),
        F.when((F.col("n_pos") == 0) | (F.col("n_neg") == 0),
               F.lit(None))
        .otherwise(num.cast("double")
                   / (2.0 * F.col("n_pos").cast("double")
                      * F.col("n_neg").cast("double"))).alias("auc"))


def ks_2sample(df: DataFrame, *, value_col: str, side_col: str,
               side_a: str, side_b: str,
               group_cols: list[str]) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov statistic between the
    integer-value distributions of two labeled sides — the drift /
    split-balance detector (did shard A's length distribution drift
    from shard B's?).

    D = max over values of |F̂ₐ − F̂ᵦ| is a RATIONAL with denominator
    nₐ·nᵦ, so the statistic is carried as the EXACT BIGINT numerator
    ``max |cumA·nB − cumB·nA|`` and divided once at the end (the
    :func:`group_ols` fixed-expression contract; caller guarantees
    nₐ·nᵦ < 2⁶³). Floating-point values raise; rows whose side is
    neither ``side_a`` nor ``side_b`` and NULL keys/values are
    dropped.

    Scale shape: one (group, value) hash-aggregate, then cumulative
    AND full-frame sums over the SAME group partitioning (a single
    Exchange — the :func:`group_mad_outliers` two-window rule), one
    final hash-agg. No join, no global sort.

    Output: (group..., n_a, n_b, ks_num, ks); ks NULL when a side is
    empty.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"ks_2sample: {value_col!r} is floating-point — integerize "
            "first (exact integer numerators are the determinism "
            "contract)")
    if not group_cols:
        raise ValueError("ks_2sample: group_cols must be non-empty")
    if side_a == side_b:
        raise ValueError("ks_2sample: side_a and side_b must differ")
    keep = (F.col(value_col).isNotNull()
            & F.col(side_col).isin(side_a, side_b))
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    base = df.where(keep).select(
        *group_cols,
        F.col(value_col).cast("long").alias("_v"),
        (F.col(side_col) == side_a).cast("long").alias("_a"))
    per_val = base.groupBy(*group_cols, "_v").agg(
        F.sum("_a").alias("_ca"),
        (F.count(F.lit(1)) - F.sum("_a")).alias("_cb"))
    wg = Window.partitionBy(*group_cols)
    w = wg.orderBy(F.col("_v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    stepped = per_val.select(
        *group_cols,
        F.sum("_ca").over(w).alias("_cuma"),
        F.sum("_cb").over(w).alias("_cumb"),
        F.sum("_ca").over(wg).alias("_na"),
        F.sum("_cb").over(wg).alias("_nb"))
    dev = F.abs(F.col("_cuma") * F.col("_nb")
                - F.col("_cumb") * F.col("_na"))
    s = stepped.groupBy(*group_cols).agg(
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
        F.max(dev).alias("ks_num"))
    return s.select(
        *group_cols, "n_a", "n_b", "ks_num",
        F.when((F.col("n_a") == 0) | (F.col("n_b") == 0), F.lit(None))
        .otherwise(F.col("ks_num").cast("double")
                   / (F.col("n_a").cast("double")
                      * F.col("n_b").cast("double"))).alias("ks"))


def top_p_coverage(df: DataFrame, *, item_col: str,
                   group_cols: list[str],
                   p_milli: int = 900) -> DataFrame:
    """Per-group head concentration: the minimal number of distinct
    items (ranked by row count descending) whose cumulative mass
    reaches ``p_milli``/1000 of the group's total — "how many domains
    make up 90 % of the corpus", the quota/diversity planning twin of
    :func:`group_gini`.

    The rank order is PINNED (count desc, item asc) so the answer is
    unique, and the coverage test is the EXACT INTEGER comparison
    ``cum_before·1000 < p_milli·total`` (a row is needed iff the head
    strictly before it is still short) — no float ever enters, so the
    result is bit-stable across engines and partitionings. NULL keys
    and items are dropped. 0 < p_milli ≤ 1000 required.

    Scale shape: one (group, item) hash-aggregate with map-side
    combine, one group-partitioned window over the item-distinct
    table, one final hash-agg. No join, no global sort.

    Output: (group..., n_items, total, k_items, head_mass) where
    head_mass is the row count covered by those k_items.
    """
    if not group_cols:
        raise ValueError("top_p_coverage: group_cols must be non-empty")
    if not (0 < int(p_milli) <= 1000):
        raise ValueError("top_p_coverage: p_milli must be in (0, 1000]")
    keep = F.col(item_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    per_item = df.where(keep).groupBy(
        *group_cols, F.col(item_col).alias("_it")).agg(
        F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("_c").desc(), F.col("_it").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    wg = Window.partitionBy(*group_cols)
    stepped = per_item.select(
        *group_cols, "_c",
        F.sum("_c").over(w).alias("_cum"),
        F.sum("_c").over(wg).alias("_total"))
    needed = ((F.col("_cum") - F.col("_c")) * 1000
              < F.lit(int(p_milli)) * F.col("_total"))
    return stepped.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.max("_total").alias("total"),
        F.sum(needed.cast("long")).alias("k_items"),
        F.max(F.when(needed, F.col("_cum"))).alias("head_mass"))


def group_entropy(df: DataFrame, *, cat_col: str,
                  group_cols: list[str]) -> DataFrame:
    """Per-group Shannon entropy (nats) of a categorical column — the
    diversity / balance diagnostic (source mix per language, label
    balance per shard) completing :func:`top_p_coverage`'s head-count
    view of the same question.

    Determinism (the `unigram_surprisal` micro-nat rule): with
    category counts c exact BIGINTs, each category contributes
    ``c · round(ln(c)·10⁶)`` micro-nats — ``ln`` is integerized PER
    DISTINCT COUNT before any sum, so the total is addition-order
    independent (a float Σ c·ln c would vary in ULPs across engines
    and partitionings; a micro-nat rounding boundary would need ln of
    an integer within ~1e-12 of 5e-7, which transcendence rules out).
    The entropy numerator ``n·round(ln(n)·10⁶) − Σ c·round(ln(c)·10⁶)``
    is an exact BIGINT and the final entropy is ONE division of
    identical integers — bit-identical across engines. NULL keys and
    categories are dropped. Caller guarantees n·ln(n)·10⁶ < 2⁶³
    (n < ~4·10¹¹ — ANSI-raises, never wraps).

    Scale shape: one (group, category) hash-aggregate with map-side
    combine, one group hash-aggregate. No window, no join, no
    collected list — cardinality-unbounded.

    Output: (group..., n, k_cats, ent_num_micro, entropy).
    """
    if not group_cols:
        raise ValueError("group_entropy: group_cols must be non-empty")
    keep = F.col(cat_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    per_cat = df.where(keep).groupBy(
        *group_cols, F.col(cat_col).alias("_cat")).agg(
        F.count(F.lit(1)).alias("_c"))
    lnc = F.round(F.log(F.col("_c").cast("double")) * 1e6).cast("long")
    s = per_cat.groupBy(*group_cols).agg(
        F.sum("_c").alias("n"),
        F.count(F.lit(1)).alias("k_cats"),
        F.sum(F.col("_c") * lnc).alias("_sclc"))
    lnn = F.round(F.log(F.col("n").cast("double")) * 1e6).cast("long")
    num = F.col("n") * lnn - F.col("_sclc")
    return s.select(
        *group_cols, "n", "k_cats", num.alias("ent_num_micro"),
        (num.cast("double")
         / (F.col("n").cast("double") * 1e6)).alias("entropy"))


def rolling_median(df: DataFrame, *, value_col: str, order_col: str,
                   id_col: str, group_cols: list[str],
                   window: int = 25) -> DataFrame:
    """Per-group trailing-window median (last ``window`` rows
    including the current, ordered by (order, id)) — the robust
    smoother for metric dashboards and spike suppression, the
    windowed twin of :func:`group_median`'s q19 low-median rule.

    Exactness: values must be INTEGER (floats raise); each frame's
    median is the LOW order statistic ``sorted[(k+1) div 2]`` of the
    ≤ ``window`` collected values — integer in, integer out, no float
    ever, so bit-stable across engines and partitionings. The
    per-row collected array is bounded by the constant ``window``
    (this is NOT an unbounded collect: frame size ≤ window by
    construction), so task memory is O(window).

    Scale shape: ONE group-partitioned window — a single Exchange on
    the group key; no join, no global sort.

    Output: input group/order/id/value columns + ``roll_med``.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"rolling_median: {value_col!r} is floating-point — "
            "integerize first (exact integer order statistics are the "
            "determinism contract)")
    if not group_cols:
        raise ValueError("rolling_median: group_cols must be non-empty")
    if int(window) < 1:
        raise ValueError("rolling_median: window must be >= 1")
    keep = (F.col(value_col).isNotNull() & F.col(order_col).isNotNull()
            & F.col(id_col).isNotNull())
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(order_col).asc(), F.col(id_col).asc()).rowsBetween(
        -(int(window) - 1), Window.currentRow)
    frame = F.sort_array(F.collect_list(
        F.col(value_col).cast("long")).over(w))
    med = F.element_at(frame, ((F.size(frame) + 1) / 2)
                       .cast("int"))
    return df.where(keep).select(
        *group_cols, order_col, id_col,
        F.col(value_col).cast("long").alias("value"),
        med.alias("roll_med"))


def jaccard_pairs(df: DataFrame, *, basket_col: str, item_col: str,
                  min_both: int = 1,
                  max_basket: int | None = None) -> DataFrame:
    """Pairwise Jaccard similarity between items by the baskets they
    share — audience overlap (how much do two event types' user bases
    overlap?), tag similarity, co-listening: J = |A∩B| / |A∪B| over
    basket sets.

    Composition, not a new kernel: the intersection counts are
    :func:`cooccurrence_pairs` (distinct → self-equi-join on the
    basket key → exact pair counts; same whale-basket ``max_basket``
    contract) and the set sizes are one more hash-agg broadcast back
    onto the pairs. The union is derived, never counted:
    |A∪B| = |A| + |B| − |A∩B|, all exact BIGINTs; the final J is ONE
    division of identical integers (bit-identical across engines).

    Output: (item_a, item_b, n_a, n_b, n_both, jaccard) with
    item_a < item_b; pairs with fewer than ``min_both`` shared
    baskets are pruned after exact counting.
    """
    pairs = cooccurrence_pairs(df, basket_col=basket_col,
                               item_col=item_col, min_count=min_both,
                               max_basket=max_basket)
    base = (df.where(F.col(basket_col).isNotNull()
                     & F.col(item_col).isNotNull())
            .select(F.col(basket_col).alias("_bk"),
                    F.col(item_col).alias("_it"))
            .distinct())
    if max_basket is not None:
        small = (base.groupBy("_bk")
                 .agg(F.count(F.lit(1)).alias("_sz"))
                 .where(F.col("_sz") <= max_basket)
                 .select("_bk"))
        base = base.join(small, "_bk", "left_semi")
    deg = base.groupBy(F.col("_it")).agg(F.count(F.lit(1)).alias("_d"))
    out = (pairs
           .join(F.broadcast(deg.select(F.col("_it").alias("item_a"),
                                        F.col("_d").alias("n_a"))),
                 "item_a")
           .join(F.broadcast(deg.select(F.col("_it").alias("item_b"),
                                        F.col("_d").alias("n_b"))),
                 "item_b"))
    union = F.col("n_a") + F.col("n_b") - F.col("n_baskets")
    return out.select(
        "item_a", "item_b", "n_a", "n_b",
        F.col("n_baskets").alias("n_both"),
        (F.col("n_baskets").cast("double") / union.cast("double"))
        .alias("jaccard"))


def percentile_rank(df: DataFrame, *, value_col: str, id_col: str,
                    group_cols: list[str]) -> DataFrame:
    """Per-row percentile rank within its group — the
    curriculum-ordering / difficulty-normalization primitive:
    ``pct_rank = (rank − 1) / (n − 1)`` with MIN-rank ties (ANSI
    PERCENT_RANK semantics), carried as exact integers and divided
    once at the end (bit-identical across engines). Values must be
    INTEGER (floats raise); single-row groups emit NULL (0/0). NULL
    keys/values/ids are dropped.

    Scale shape: rank and the full-frame count are windows over ONE
    group partitioning — a single Exchange, no join, no global sort.

    Output: (group..., id_col, value, rnk, n, pct_rank).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"percentile_rank: {value_col!r} is floating-point — "
            "integerize first (exact integer ranks are the "
            "determinism contract)")
    if not group_cols:
        raise ValueError(
            "percentile_rank: group_cols must be non-empty")
    keep = F.col(value_col).isNotNull() & F.col(id_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    wg = Window.partitionBy(*group_cols)
    w = wg.orderBy(F.col("_v").asc())
    base = df.where(keep).select(
        *group_cols, F.col(id_col).alias("_id"),
        F.col(value_col).cast("long").alias("_v"))
    ranked = base.select(
        *group_cols, "_v", "_id",
        F.rank().over(w).cast("long").alias("rnk"),
        F.count(F.lit(1)).over(wg).alias("n"))
    return ranked.select(
        *group_cols, F.col("_id").alias(id_col),
        F.col("_v").alias("value"), "rnk", "n",
        F.when(F.col("n") == 1, F.lit(None))
        .otherwise((F.col("rnk") - 1).cast("double")
                   / (F.col("n") - 1).cast("double")).alias("pct_rank"))


def corr_matrix(df: DataFrame, *, value_cols: list[str],
                group_cols: list[str]) -> DataFrame:
    """Per-group pairwise Pearson correlation matrix over k integer
    metrics — the EDA screen before any modeling (which quality
    signals are redundant?), :func:`group_ols` generalized from one
    pair to all of them.

    Determinism: all five sufficient statistics per pair are EXACT
    BIGINT aggregates over rows with NO NULL among the value columns
    (listwise deletion — every pair sees the same n, so the matrix is
    coherent); floats raise (integerize first; caller guarantees the
    sums fit 2⁶³ — ANSI-raises, never wraps). Each correlation is one
    fixed expression num/sqrt(denx·deny) — sqrt is correctly rounded
    by IEEE on both engines, so identical integer inputs give
    bit-identical doubles. Constant columns → NULL.

    Scale shape: ONE map-side-combinable hash-aggregate computing all
    k·(k+1)/2 cross sums; the long-format explosion afterwards is
    per-group scalar work. No window, no join, no second pass.

    Output: (group..., col_a, col_b, n, corr) for the k·(k−1)/2
    unordered pairs with col_a < col_b alphabetically.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    for c in value_cols:
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"corr_matrix: {c!r} is floating-point — integerize "
                "first (exact integer sums are the determinism "
                "contract)")
    if not group_cols:
        raise ValueError("corr_matrix: group_cols must be non-empty")
    if len(value_cols) < 2:
        raise ValueError("corr_matrix: need at least two value_cols")
    keep = F.lit(True)
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    for c in value_cols:
        keep = keep & F.col(c).isNotNull()
    cols = sorted(value_cols)
    longs = {c: F.col(c).cast("long") for c in cols}
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, a in enumerate(cols):
        aggs.append(F.sum(longs[a]).alias(f"_s_{a}"))
        for b_ in cols[i:]:
            aggs.append(F.sum(longs[a] * longs[b_]).alias(f"_p_{a}_{b_}"))
    s = df.where(keep).groupBy(*group_cols).agg(*aggs)
    pair_rows = []
    nd = F.col("_n").cast("double")
    for i, a in enumerate(cols):
        for b_ in cols[i + 1:]:
            sa, sb = F.col(f"_s_{a}"), F.col(f"_s_{b_}")
            pab = F.col(f"_p_{a}_{b_}")
            paa, pbb = F.col(f"_p_{a}_{a}"), F.col(f"_p_{b_}_{b_}")
            num = nd * pab.cast("double") \
                - sa.cast("double") * sb.cast("double")
            denx = nd * paa.cast("double") \
                - sa.cast("double") * sa.cast("double")
            deny = nd * pbb.cast("double") \
                - sb.cast("double") * sb.cast("double")
            pair_rows.append(F.struct(
                F.lit(a).alias("col_a"), F.lit(b_).alias("col_b"),
                F.when((denx <= 0) | (deny <= 0), F.lit(None))
                .otherwise(num / F.sqrt(denx * deny)).alias("corr")))
    return (s.select(*group_cols, "_n",
                     F.explode(F.array(*pair_rows)).alias("_pr"))
            .select(*group_cols,
                    F.col("_pr.col_a").alias("col_a"),
                    F.col("_pr.col_b").alias("col_b"),
                    F.col("_n").alias("n"),
                    F.col("_pr.corr").alias("corr")))


def chi2_independence(df: DataFrame, *, col_a: str, col_b: str,
                      ) -> DataFrame:
    """Pearson chi-square test of independence between two LOW-
    CARDINALITY categorical columns, with Cramér's V effect size —
    the "are these two labels related" diagnostic every experiment /
    data-audit pipeline wants next to :func:`corr_matrix` (which
    covers the numeric case).

    Determinism (the `group_entropy` micro-unit rule): cell counts
    ``obs``, row totals ``ra``, column totals ``cb`` and ``n`` are
    exact BIGINTs, so each cell's deviation ``d = obs·n − ra·cb`` is
    an exact BIGINT. The cell contribution
    ``floor(((d² as double) / (n·ra·cb as double)) · 10⁶)`` is ONE
    fixed IEEE expression of identical integers — bit-identical
    across engines — and the statistic is an exact BIGINT SUM of
    those micro-units, so it is addition-order independent (a float
    Σ (o−e)²/e would vary in ULPs across partitionings). Missing
    cells of the full k_a×k_b grid participate with obs = 0, as the
    statistic requires. Caller guarantees n·max(obs) < 2⁶³ and
    n·ra·cb < 2⁶³ (n < ~2·10⁶ per side is always safe; TPC-H sf100
    orders is fine) — ANSI mode raises, never wraps.

    Scale shape: ONE map-side-combinable hash-aggregate over the
    data produces the (a, b) cell counts; everything after runs on
    k_a·k_b category-level rows (row/column marginals, a tiny
    broadcast-sized cross grid, one final single-row aggregate).
    Low-cardinality is the documented contract — the grid is
    category-level, never data-level.

    Output: ONE row (n, k_a, k_b, dof, chi2_micro, chi2, cramers_v);
    ``chi2 = chi2_micro / 10⁶`` and Cramér's V are single divisions /
    sqrt of identical numbers. dof = (k_a−1)(k_b−1); dof = 0 → both
    doubles NULL.
    """
    # The cell frame is re-used by four downstream branches (row and
    # column marginals, the grid join, the grand total); materialize it
    # ONCE — it is category-level (k_a·k_b observed cells), so the
    # checkpoint is tiny and the base table is scanned exactly once.
    cells = (df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
             .groupBy(F.col(col_a).alias("_a"), F.col(col_b).alias("_b"))
             .agg(F.count(F.lit(1)).alias("_obs"))
             .localCheckpoint(eager=True))
    ra = cells.groupBy("_a").agg(F.sum("_obs").alias("_ra"))
    cb = cells.groupBy("_b").agg(F.sum("_obs").alias("_cb"))
    grid = (ra.crossJoin(cb)
            .join(cells, ["_a", "_b"], "left")
            .select("_a", "_b", "_ra", "_cb",
                    F.coalesce(F.col("_obs"), F.lit(0)).alias("_obs")))
    total = F.broadcast(ra.agg(F.sum("_ra").alias("_n")))
    # d and the denominator are exact BIGINTs; the contribution is one
    # fixed double expression of them, floored to micro-units.
    agg = (grid
           .crossJoin(total)
           .withColumn("_d", F.col("_obs") * F.col("_n")
                       - F.col("_ra") * F.col("_cb"))
           .withColumn(
               "_contrib",
               F.floor(F.col("_d").cast("double")
                       * F.col("_d").cast("double")
                       / (F.col("_n") * F.col("_ra")
                          * F.col("_cb")).cast("double")
                       * F.lit(1000000.0)))
           .agg(F.max("_n").alias("n"),
                F.count_distinct(F.col("_a")).alias("k_a"),
                F.count_distinct(F.col("_b")).alias("k_b"),
                F.sum("_contrib").alias("chi2_micro")))
    dof = (F.col("k_a") - 1) * (F.col("k_b") - 1)
    chi2 = F.col("chi2_micro").cast("double") / F.lit(1000000.0)
    kmin = F.least(F.col("k_a"), F.col("k_b")) - 1
    return (agg
            .select("n", "k_a", "k_b", dof.alias("dof"), "chi2_micro")
            .withColumn("chi2", F.when(F.col("dof") > 0, chi2))
            .withColumn(
                "cramers_v",
                F.when((F.col("dof") > 0) & (F.col("n") > 0),
                       F.sqrt(F.col("chi2")
                              / (F.col("n") * kmin).cast("double")))))


def welch_ttest(df: DataFrame, *, value_col: str, group_col: str,
                group_a: str, group_b: str,
                group_cols: list[str] | None = None) -> DataFrame:
    """Welch's unequal-variance t statistic comparing ``value_col``
    between two levels of ``group_col`` (optionally within each
    combination of ``group_cols``) — the A/B-experiment primitive
    beside :func:`group_auc` and :func:`ks_2sample`.

    Determinism (the `corr_matrix` rule): ``value_col`` must be an
    INTEGER column (ANSI-raises on float input — integerize first),
    so per-side n / Σv / Σv² are exact BIGINTs from ONE conditional
    hash-aggregate; mean, Welch variance, t and the
    Welch–Satterthwaite dof are then fixed IEEE double expressions of
    identical integers — bit-identical across engines regardless of
    partitioning (n·Σv² is computed in doubles, so only Σv² itself
    must stay under 2⁶³: |v| < ~10⁵ is safe beyond 10¹² rows).

    Scale shape: ONE map-side-combinable hash-aggregate; no window,
    no join, no second pass. Cardinality-unbounded in ``group_cols``.

    Output: (group..., n_a, n_b, mean_a, mean_b, t_stat, welch_df);
    t/dof are NULL when either side has n < 2 or the pooled standard
    error is 0.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fld = {f.name: f for f in df.schema.fields}
    if isinstance(fld[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"welch_ttest: {value_col!r} is floating-point — "
            "integerize first (exact integer sums are the "
            "determinism contract)")
    gcols = list(group_cols or [])
    keep = F.col(value_col).isNotNull() & F.col(group_col).isin(
        group_a, group_b)
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    v = F.col(value_col).cast("long")
    sides = {}
    aggs = []
    for tag, lvl in (("a", group_a), ("b", group_b)):
        hit = F.col(group_col) == lvl
        aggs += [
            F.sum(F.when(hit, 1).otherwise(0)).alias(f"_n_{tag}"),
            F.sum(F.when(hit, v).otherwise(0)).alias(f"_s_{tag}"),
            F.sum(F.when(hit, v * v).otherwise(0)).alias(f"_ss_{tag}"),
        ]
        sides[tag] = None
    s = (df.where(keep)
         .groupBy(*[F.col(g) for g in gcols]) if gcols
         else df.where(keep).groupBy())
    s = s.agg(*aggs)
    out = {}
    for tag in ("a", "b"):
        nd = F.col(f"_n_{tag}").cast("double")
        sd = F.col(f"_s_{tag}").cast("double")
        ssd = F.col(f"_ss_{tag}").cast("double")
        mean = sd / nd
        # unbiased sample variance over n: (n·Σv² − (Σv)²) / (n·(n−1))
        var = (nd * ssd - sd * sd) / (nd * (nd - F.lit(1.0)))
        out[tag] = (nd, mean, var / nd)  # (n, mean, var/n)
    se2 = out["a"][2] + out["b"][2]
    t = (out["a"][1] - out["b"][1]) / F.sqrt(se2)
    wdf = (se2 * se2) / (
        out["a"][2] * out["a"][2] / (out["a"][0] - F.lit(1.0))
        + out["b"][2] * out["b"][2] / (out["b"][0] - F.lit(1.0)))
    ok = ((F.col("_n_a") >= 2) & (F.col("_n_b") >= 2)
          & (se2 > F.lit(0.0)))
    return s.select(
        *gcols,
        F.col("_n_a").alias("n_a"), F.col("_n_b").alias("n_b"),
        F.when(F.col("_n_a") > 0, out["a"][1]).alias("mean_a"),
        F.when(F.col("_n_b") > 0, out["b"][1]).alias("mean_b"),
        F.when(ok, t).alias("t_stat"),
        F.when(ok, wdf).alias("welch_df"))


def mannwhitney_u(df: DataFrame, *, value_col: str, side_col: str,
                  side_a: str, side_b: str,
                  group_cols: list[str]) -> DataFrame:
    """Per-group Mann-Whitney U (Wilcoxon rank-sum) test between two
    labeled sides — the NONPARAMETRIC two-sample comparison that
    :func:`welch_ttest` users reach for when the distributions are
    skewed or outlier-heavy, completing the two-sample family
    (Welch = means, KS = max CDF gap, MWU = stochastic dominance).

    Determinism (the :func:`ks_2sample` value-count rule): U is
    computed from per-value side counts, never per-row ranks —
    ``2·U_a = Σ_v c_a(v) · (2·Σ_{w<v} c_b(w) + c_b(v))`` (each a-row
    beats every b-row below it and half-ties the b-rows at its own
    value), an exact BIGINT carried ×2 so tie-halves stay integral.
    The normal approximation's tie-corrected variance uses
    ``T3 = Σ_v (t³ − t)`` with ``t = c_a + c_b`` — also exact; z is
    one fixed IEEE expression of those integers. Floats raise
    (integerize first); caller guarantees n³ < 2⁶³ (n < ~2·10⁶ per
    group). Rows whose side is neither label and NULL keys/values
    drop.

    Scale shape: one (group, value) hash-aggregate, then the
    exclusive prefix sum and full-frame totals over the SAME group
    partitioning (one Exchange), one final hash-agg. The window
    frame is value-level, not row-level — cardinality = distinct
    values per group.

    Output: (group..., n_a, n_b, u2_a BIGINT, u_a DOUBLE, z DOUBLE);
    z NULL when a side is empty or every row ties (zero variance).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"mannwhitney_u: {value_col!r} is floating-point — "
            "integerize first (exact integer rank sums are the "
            "determinism contract)")
    if not group_cols:
        raise ValueError("mannwhitney_u: group_cols must be non-empty")
    if side_a == side_b:
        raise ValueError("mannwhitney_u: side_a and side_b must differ")
    keep = (F.col(value_col).isNotNull()
            & F.col(side_col).isin(side_a, side_b))
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    base = df.where(keep).select(
        *group_cols,
        F.col(value_col).cast("long").alias("_v"),
        (F.col(side_col) == side_a).cast("long").alias("_a"))
    per_val = base.groupBy(*group_cols, "_v").agg(
        F.sum("_a").alias("_ca"),
        (F.count(F.lit(1)) - F.sum("_a")).alias("_cb"))
    wg = Window.partitionBy(*group_cols)
    wprev = wg.orderBy(F.col("_v").asc()).rowsBetween(
        Window.unboundedPreceding, -1)
    t = F.col("_ca") + F.col("_cb")
    stepped = per_val.select(
        *group_cols, "_ca", "_cb",
        F.coalesce(F.sum("_cb").over(wprev), F.lit(0)).alias("_beforeb"),
        F.sum("_ca").over(wg).alias("_na"),
        F.sum("_cb").over(wg).alias("_nb"),
        (t * t * t - t).alias("_t3"))
    s = stepped.groupBy(*group_cols).agg(
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
        F.sum(F.col("_ca") * (2 * F.col("_beforeb") + F.col("_cb")))
        .alias("u2_a"),
        F.sum("_t3").alias("_T3"))
    nad = F.col("n_a").cast("double")
    nbd = F.col("n_b").cast("double")
    nd = (F.col("n_a") + F.col("n_b")).cast("double")
    var = (nad * nbd / F.lit(12.0)) \
        * ((nd + F.lit(1.0))
           - F.col("_T3").cast("double") / (nd * (nd - F.lit(1.0))))
    z = (F.col("u2_a").cast("double") - nad * nbd) \
        / (F.lit(2.0) * F.sqrt(var))
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return s.select(
        *group_cols, "n_a", "n_b", "u2_a",
        F.when(ok, F.col("u2_a").cast("double") / F.lit(2.0))
        .alias("u_a"),
        F.when(ok & (var > F.lit(0.0)), z).alias("z"))


def two_proportion_ztest(df: DataFrame, *, success_col: str,
                         group_col: str, group_a: str, group_b: str,
                         group_cols: list[str] | None = None
                         ) -> DataFrame:
    """Two-proportion z-test (pooled) between two levels of
    ``group_col`` — the CTR / conversion-rate experiment readout
    (success must be an INTEGER 0/1 column; cast booleans first).

    Determinism: successes and trials per side are exact BIGINTs
    from ONE conditional hash-aggregate; rates, the pooled
    proportion, and z are fixed IEEE double expressions of identical
    integers. Rows whose success value is outside {0, 1} drop (same
    discipline as NULLs); floats raise outright.

    Scale shape: one map-side-combinable hash-aggregate; no window,
    no join. Cardinality-unbounded in ``group_cols``.

    Output: (group..., n_a, n_b, s_a, s_b, p_a, p_b, z); z NULL when
    either side is empty or the pooled proportion is 0 or 1.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[success_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"two_proportion_ztest: {success_col!r} is floating-point "
            "— use an integer 0/1 column (exact integer counts are "
            "the determinism contract)")
    gcols = list(group_cols or [])
    v = F.col(success_col).cast("long")
    keep = (v.isin(0, 1)
            & F.col(group_col).isin(group_a, group_b))
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    hit_a = F.col(group_col) == group_a
    grouped = (df.where(keep).groupBy(*[F.col(g) for g in gcols])
               if gcols else df.where(keep).groupBy())
    s = grouped.agg(
        F.sum(F.when(hit_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~hit_a, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(hit_a, v).otherwise(0)).alias("s_a"),
        F.sum(F.when(~hit_a, v).otherwise(0)).alias("s_b"))
    nad, nbd = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sad, sbd = F.col("s_a").cast("double"), F.col("s_b").cast("double")
    pa, pb = sad / nad, sbd / nbd
    pool = (sad + sbd) / (nad + nbd)
    se = F.sqrt(pool * (F.lit(1.0) - pool)
                * (F.lit(1.0) / nad + F.lit(1.0) / nbd))
    ok = ((F.col("n_a") > 0) & (F.col("n_b") > 0)
          & (F.col("s_a") + F.col("s_b") > 0)
          & (F.col("s_a") + F.col("s_b") < F.col("n_a") + F.col("n_b")))
    return s.select(
        *gcols, "n_a", "n_b", "s_a", "s_b",
        F.when(F.col("n_a") > 0, pa).alias("p_a"),
        F.when(F.col("n_b") > 0, pb).alias("p_b"),
        F.when(ok, (pa - pb) / se).alias("z"))


def lag_autocorr(df: DataFrame, *, value_col: str,
                 order_cols: list[str] | str,
                 group_cols: list[str],
                 lags: tuple[int, ...] = (1, 2, 3)) -> DataFrame:
    """Per-series autocorrelation at the given lags — the
    seasonality / persistence diagnostic (does yesterday predict
    today?) beside :func:`cusum_changepoint`'s level-shift view.
    For each lag k, Pearson correlation between the series and
    itself shifted k steps, over the n−k overlapping pairs.

    Determinism (the :func:`corr_matrix` rule): values must be
    INTEGER (floats raise); the six sufficient statistics per
    (group, lag) — pair count, Σx, Σy, Σx², Σy², Σxy — are exact
    BIGINTs, and the correlation is one fixed IEEE expression of
    them. ``order_cols`` (one column or a composite) must be UNIQUE
    per group — duplicate order keys re-sort nondeterministically
    across engines; pass enough tiebreak columns to totalize the
    sort. NULL keys/values/orders drop.

    Scale shape: ONE window partitioning (all lag leads share the
    per-group sort), the lag explosion is k rows per input row, then
    one (group, lag) hash-aggregate. No join, no global sort; state
    is bounded by max(lags), not the series length.

    Output: (group..., lag, n_pairs, acf) — acf NULL when fewer than
    2 pairs or either side is constant.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"lag_autocorr: {value_col!r} is floating-point — "
            "integerize first (exact integer sums are the "
            "determinism contract)")
    if not group_cols:
        raise ValueError("lag_autocorr: group_cols must be non-empty")
    if not lags or any(k < 1 for k in lags) or len(set(lags)) != len(lags):
        raise ValueError("lags must be distinct positive integers")
    ocols = [order_cols] if isinstance(order_cols, str) else \
        list(order_cols)
    if not ocols:
        raise ValueError("order_cols must be non-empty")
    keep = F.col(value_col).isNotNull()
    for c in ocols:
        keep = keep & F.col(c).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    led = df.where(keep).select(
        *group_cols,
        *[F.col(c).alias(f"_o{i}") for i, c in enumerate(ocols)],
        F.col(value_col).cast("long").alias("_x"))
    w = Window.partitionBy(*group_cols).orderBy(
        *[F.col(f"_o{i}").asc() for i in range(len(ocols))])
    for k in lags:
        led = led.withColumn(f"_y{k}", F.lead("_x", k).over(w))
    pairs = led.select(
        *group_cols, "_x",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("lag"), F.col(f"_y{k}").alias("y"))
            for k in lags])).alias("_p"))
    y = F.col("_p.y")
    s = (pairs.where(y.isNotNull())
         .groupBy(*group_cols, F.col("_p.lag").alias("lag"))
         .agg(F.count(F.lit(1)).alias("n_pairs"),
              F.sum("_x").alias("_sx"), F.sum(y).alias("_sy"),
              F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
              F.sum(y * y).alias("_syy"),
              F.sum(F.col("_x") * y).alias("_sxy")))
    nd = F.col("n_pairs").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    num = nd * F.col("_sxy").cast("double") - sx * sy
    denx = nd * F.col("_sxx").cast("double") - sx * sx
    deny = nd * F.col("_syy").cast("double") - sy * sy
    return s.select(
        *group_cols, "lag", "n_pairs",
        F.when((F.col("n_pairs") >= 2) & (denx > 0) & (deny > 0),
               num / F.sqrt(denx * deny)).alias("acf"))


def oneway_anova(df: DataFrame, *, value_col: str, factor_col: str,
                 group_cols: list[str] | None = None) -> DataFrame:
    """One-way ANOVA F statistic across the k levels of
    ``factor_col`` (optionally within each ``group_cols`` combination)
    — the k-group generalization closing the comparison family
    (:func:`welch_ttest` = 2 means, :func:`mannwhitney_u` = 2 ranks,
    ANOVA = k means).

    Determinism (the :func:`chi2_independence` micro-unit rule):
    per-level n/Σv/Σv² are exact BIGINTs from ONE hash-aggregate;
    each level's between-groups contribution
    ``floor((Σvᵢ)²·10³ / nᵢ)`` is one fixed IEEE expression of exact
    integers, floored to milli-units and SUMMED AS BIGINT — so the
    sums of squares are addition-order independent (a float
    Σ sᵢ²/nᵢ would vary in ULPs across partitionings):
    ``SSB_milli = Σᵢ floor(sᵢ²·10³/nᵢ) − floor(S²·10³/N)`` and
    ``SSW_milli = 10³·Σv² − Σᵢ floor(sᵢ²·10³/nᵢ)``. F is one double
    expression of those integers. Floats raise (integerize first);
    caller guarantees 10³·Σv² < 2⁶³ and Σv < 2⁵³ (|v| < ~10⁵ is safe
    beyond 10¹⁰ rows per group). NULL keys/values drop.

    Scale shape: one (group, level) hash-aggregate with map-side
    combine, one group hash-aggregate over level rows. No window, no
    join, no second scan.

    Output: (group..., k, n, ssb_milli, ssw_milli, f_stat) — f_stat
    NULL when k < 2, N ≤ k, or SSW is 0 (all within-level values
    equal).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"oneway_anova: {value_col!r} is floating-point — "
            "integerize first (exact integer sums are the "
            "determinism contract)")
    gcols = list(group_cols or [])
    keep = F.col(value_col).isNotNull() & F.col(factor_col).isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    v = F.col(value_col).cast("long")
    lvl = (df.where(keep)
           .groupBy(*gcols, F.col(factor_col).alias("_lvl"))
           .agg(F.count(F.lit(1)).alias("_n"),
                F.sum(v).alias("_s"),
                F.sum(v * v).alias("_ss")))
    contrib = F.floor(F.col("_s").cast("double")
                      * F.col("_s").cast("double")
                      / F.col("_n").cast("double") * F.lit(1000.0))
    grouped = (lvl.groupBy(*gcols) if gcols else lvl.groupBy())
    s = grouped.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("_n").alias("n"),
        F.sum("_s").alias("_S"),
        F.sum("_ss").alias("_SS"),
        F.sum(contrib).alias("_cb"))
    grand = F.floor(F.col("_S").cast("double") * F.col("_S").cast("double")
                    / F.col("n").cast("double") * F.lit(1000.0))
    ssb = F.col("_cb") - grand
    ssw = F.lit(1000) * F.col("_SS") - F.col("_cb")
    out = s.select(*gcols, "k", "n",
                   ssb.alias("ssb_milli"), ssw.alias("ssw_milli"))
    fd = (F.col("ssb_milli").cast("double")
          / (F.col("k") - 1).cast("double")) \
        / (F.col("ssw_milli").cast("double")
           / (F.col("n") - F.col("k")).cast("double"))
    ok = ((F.col("k") >= 2) & (F.col("n") > F.col("k"))
          & (F.col("ssw_milli") > 0))
    return out.withColumn("f_stat", F.when(ok, fd))


def ndcg_at_k(df: DataFrame, *, group_cols: list[str], id_col: str,
              score_col: str, rel_col: str, k: int = 10) -> DataFrame:
    """NDCG@k per group — THE ranking-quality metric for search /
    recommendation eval: how close does the system ranking (by
    ``score_col``) come to the ideal ordering of the graded
    relevances ``rel_col``.

    Determinism: relevances must be INTEGER (floats raise) and the
    position discounts ``1/log2(i+1)`` are precomputed micro-scaled
    INTEGER LITERALS for the k fixed positions (a runtime log2 could
    differ by an ulp across libms — same rule as
    ``quality._BENFORD_MICRO``), so DCG@k and IDCG@k are exact BIGINT
    dot products ``Σ relᵢ·disc_micro(i)`` and NDCG is ONE division of
    identical integers. Both rankings are totalized (score/rel desc,
    id asc) so ties never re-order across engines. NULL
    keys/ids/scores/relevances drop.

    Scale shape: TWO row_number windows over the SAME group
    partitioning (one Exchange — system rank and ideal rank), a
    filter to rank ≤ k, one final hash-aggregate. The discount lookup
    is a literal array index — no join.

    Output: (group..., n_items, dcg_micro, idcg_micro, ndcg) — ndcg
    NULL when the group has no positive relevance (IDCG 0).
    """
    import math

    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[rel_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"ndcg_at_k: {rel_col!r} is floating-point — integerize "
            "first (exact integer gains are the determinism contract)")
    if not group_cols:
        raise ValueError("ndcg_at_k: group_cols must be non-empty")
    if k < 1:
        raise ValueError("k must be >= 1")
    disc = [round(1_000_000 / math.log2(i + 1)) for i in range(1, k + 1)]
    keep = (F.col(id_col).isNotNull() & F.col(score_col).isNotNull()
            & F.col(rel_col).isNotNull())
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    base = df.where(keep).select(
        *group_cols, F.col(id_col).alias("_id"),
        F.col(score_col).alias("_s"),
        F.col(rel_col).cast("long").alias("_r"))
    w_sys = Window.partitionBy(*group_cols).orderBy(
        F.col("_s").desc(), F.col("_id").asc())
    w_ideal = Window.partitionBy(*group_cols).orderBy(
        F.col("_r").desc(), F.col("_id").asc())
    darr = F.array(*[F.lit(d) for d in disc])
    ranked = base.select(
        *group_cols, "_r",
        F.row_number().over(w_sys).alias("_rk_sys"),
        F.row_number().over(w_ideal).alias("_rk_ideal"))
    dcg = F.sum(F.when(F.col("_rk_sys") <= k,
                       F.col("_r")
                       * F.element_at(darr, F.col("_rk_sys")))
                .otherwise(F.lit(0)))
    idcg = F.sum(F.when(F.col("_rk_ideal") <= k,
                        F.col("_r")
                        * F.element_at(darr, F.col("_rk_ideal")))
                 .otherwise(F.lit(0)))
    s = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_items"),
        dcg.alias("dcg_micro"), idcg.alias("idcg_micro"))
    return s.withColumn(
        "ndcg",
        F.when(F.col("idcg_micro") > 0,
               F.col("dcg_micro").cast("double")
               / F.col("idcg_micro").cast("double")))


def rrf_fuse(runs: list[DataFrame], *, item_col: str = "item",
             rank_col: str = "rnk", k: int = 60) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack/Clarke/Büttcher 2009) over m
    ranked runs: ``score(item) = Σ_runs 1/(k + rank)`` — the
    no-tuning ensemble that routinely beats its inputs when fusing
    lexical + vector retrieval (the hybrid-search default).

    Determinism: ranks are integers and the fused score is a FIXED
    left-to-right sum of m terms in run order (missing run → +0.0) —
    the same IEEE expression tree on every engine; never a
    data-ordered float aggregation. Duplicate items within one run
    raise the ambiguity to the caller by keeping the MIN rank
    (order-free aggregate).

    Scale shape: each run collapses to (item, min rank) with one
    hash-aggregate, then m−1 full-outer equi-joins on the item id
    (m is the number of RUNS — 2 or 3 — not data); no window, no
    global sort. Downstream top-n selection is the caller's
    ``orderBy(...).limit(n)`` (TakeOrdered — no full sort at scale).

    Output: (item, n_runs_hit, rank_1..rank_m, rrf_score).
    """
    if not runs or len(runs) < 2:
        raise ValueError("rrf_fuse: need at least two runs")
    if k < 1:
        raise ValueError("k must be >= 1")
    sides = []
    for i, r in enumerate(runs, start=1):
        sides.append(
            r.where(F.col(item_col).isNotNull()
                    & F.col(rank_col).isNotNull())
            .groupBy(F.col(item_col).alias("item"))
            .agg(F.min(F.col(rank_col).cast("long"))
                 .alias(f"rank_{i}")))
    fused = sides[0]
    for s in sides[1:]:
        fused = fused.join(s, "item", "full_outer")
    rank_cols = [F.col(f"rank_{i}") for i in range(1, len(runs) + 1)]
    score = F.lit(0.0)
    for rc in rank_cols:
        score = score + F.when(
            rc.isNotNull(),
            F.lit(1.0) / (F.lit(float(k)) + rc.cast("double"))) \
            .otherwise(F.lit(0.0))
    hits = sum((rc.isNotNull().cast("int") for rc in rank_cols[1:]),
               rank_cols[0].isNotNull().cast("int"))
    return fused.select(
        "item", hits.alias("n_runs_hit"),
        *[F.col(f"rank_{i}") for i in range(1, len(runs) + 1)],
        score.alias("rrf_score"))


def trimmed_mean(df: DataFrame, *, value_col: str,
                 group_cols: list[str],
                 trim_milli: int = 50) -> DataFrame:
    """Per-group trimmed mean: drop the lowest and highest
    ``trim_milli``/1000 fraction of rows (BY COUNT, ties broken by
    value order) and average the rest — the robust location estimate
    between the mean (trim 0) and the median (trim 500), standard for
    latency and revenue metrics with heavy tails.

    Determinism (the :func:`ks_2sample` value-count rule): values
    must be INTEGER (floats raise); per-value counts and the
    exclusive prefix sum are exact BIGINTs, the per-side trim count
    is the exact integer ``floor(n·trim_milli/1000)``, each value's
    KEPT multiplicity is
    ``max(0, min(cum, n−k) − max(cum_before, k))`` — pure integer
    arithmetic — and the trimmed mean is ONE division of the exact
    BIGINT kept-sum by the exact kept-count. No sort-based
    percentile, no float quantile.

    Scale shape: one (group, value) hash-aggregate, then the prefix
    sum and full-frame total over the SAME group partitioning (the
    two-Exchange MWU shape), one final hash-aggregate. Window frames
    are value-level, not row-level.

    Output: (group..., n, n_kept, trimmed_sum, trimmed_mean) —
    mean NULL when the trim consumes the whole group.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"trimmed_mean: {value_col!r} is floating-point — "
            "integerize first (exact integer sums are the "
            "determinism contract)")
    if not group_cols:
        raise ValueError("trimmed_mean: group_cols must be non-empty")
    if not 0 <= trim_milli < 500:
        raise ValueError("trim_milli must be in [0, 500)")
    keep = F.col(value_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    per_val = (df.where(keep)
               .groupBy(*group_cols,
                        F.col(value_col).cast("long").alias("_v"))
               .agg(F.count(F.lit(1)).alias("_c")))
    wg = Window.partitionBy(*group_cols)
    wprev = wg.orderBy(F.col("_v").asc()).rowsBetween(
        Window.unboundedPreceding, -1)
    stepped = per_val.select(
        *group_cols, "_v", "_c",
        F.coalesce(F.sum("_c").over(wprev), F.lit(0)).alias("_before"),
        F.sum("_c").over(wg).alias("_n"))
    k = F.expr(f"(_n * {int(trim_milli)}) div 1000")
    cum = F.col("_before") + F.col("_c")
    kept = F.greatest(
        F.lit(0),
        F.least(cum, F.col("_n") - k) - F.greatest(F.col("_before"), k))
    s = (stepped
         .withColumn("_kept", kept)
         .groupBy(*group_cols)
         .agg(F.max("_n").alias("n"),
              F.sum("_kept").alias("n_kept"),
              F.sum(F.col("_v") * F.col("_kept")).alias("trimmed_sum")))
    return s.withColumn(
        "trimmed_mean",
        F.when(F.col("n_kept") > 0,
               F.col("trimmed_sum").cast("double")
               / F.col("n_kept").cast("double")))


def ratio_metric_stats(df: DataFrame, *, num_col: str, den_col: str,
                       group_cols: list[str]) -> DataFrame:
    """Per-group ratio-of-means metric with its delta-method standard
    error — the experiment readout for ratio KPIs (revenue per
    session, clicks per impression) where both numerator and
    denominator are per-unit measurements and a naive per-row ratio
    average is simply the wrong estimator.

    ``R = Σx/Σy`` and
    ``Var(R) ≈ (sₓₓ + R²·s_yy − 2R·sₓy) / (n·ȳ²)`` with the sample
    (co)variances — the standard randomization-unit delta method
    (Deng et al., KDD 2018 practice).

    Determinism (the :func:`corr_matrix` rule): both columns must be
    INTEGER (floats raise); the six sufficient statistics are exact
    BIGINTs from ONE hash-aggregate, and R / se are fixed IEEE double
    expressions of them. NULL keys or values drop (listwise — both
    columns present).

    Scale shape: one map-side-combinable hash-aggregate; no window,
    no join, no second pass.

    Output: (group..., n, sum_num, sum_den, ratio, se) — ratio NULL
    when Σy = 0, se NULL when n < 2 or Σy = 0.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    for c in (num_col, den_col):
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"ratio_metric_stats: {c!r} is floating-point — "
                "integerize first (exact integer sums are the "
                "determinism contract)")
    if not group_cols:
        raise ValueError("ratio_metric_stats: group_cols must be "
                         "non-empty")
    keep = F.col(num_col).isNotNull() & F.col(den_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    x = F.col(num_col).cast("long")
    y = F.col(den_col).cast("long")
    s = (df.where(keep)
         .groupBy(*group_cols)
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(x).alias("sum_num"), F.sum(y).alias("sum_den"),
              F.sum(x * x).alias("_sxx"), F.sum(y * y).alias("_syy"),
              F.sum(x * y).alias("_sxy")))
    nd = F.col("n").cast("double")
    sx = F.col("sum_num").cast("double")
    sy = F.col("sum_den").cast("double")
    r = sx / sy
    # sample (co)variances: (n·Σab − Σa·Σb) / (n·(n−1))
    def _cov(pab, sa, sb):
        return (nd * pab.cast("double") - sa * sb) \
            / (nd * (nd - F.lit(1.0)))
    vxx = _cov(F.col("_sxx"), sx, sx)
    vyy = _cov(F.col("_syy"), sy, sy)
    vxy = _cov(F.col("_sxy"), sx, sy)
    ybar = sy / nd
    var_r = (vxx + r * r * vyy - F.lit(2.0) * r * vxy) \
        / (nd * ybar * ybar)
    ok_r = F.col("sum_den") != 0
    # nested whens: var_r divides by ybar² and n(n−1) — under ANSI it
    # must only be EVALUATED once the guards hold (a flat condition
    # containing var_r would itself divide by zero)
    return s.select(
        *group_cols, "n", "sum_num", "sum_den",
        F.when(ok_r, r).alias("ratio"),
        F.when(ok_r & (F.col("n") >= 2),
               F.when(var_r >= F.lit(0.0), F.sqrt(var_r)))
        .alias("se"))


def spearman_corr(df: DataFrame, *, x_col: str, y_col: str,
                  group_cols: list[str]) -> DataFrame:
    """Per-group Spearman rank correlation of ``y`` vs ``x`` — the
    monotone-association diagnostic that is robust to outliers and
    nonlinear-but-monotone relationships, completing the Pearson view
    :func:`corr_matrix` gives (price/quantity monotonicity, metric
    drift vs time, feature/label screening).

    Determinism contract (the :func:`group_ols` rule): ``x`` and
    ``y`` must be INTEGER columns (floats raise). Each row's rank is
    the textbook midrank (ties share the average rank) carried
    DOUBLED so it stays integral: for a row in a tie block with
    ``before`` strictly-smaller rows and block size ``c``,
    ``2·midrank = 2·before + c + 1 = 2·RANK() + COUNT(tie block) − 1``
    — exact BIGINTs via two same-partition window passes. Spearman is
    Pearson on the doubled ranks (scale-invariant, so the doubling
    cancels): the five sufficient statistics are summed as
    DECIMAL(38,0) (exact, addition-order independent; doubled ranks
    ≤ 2n so Σrxry ≤ 4n³ — 38 digits holds to n ≈ 10¹¹), the closed
    form's cross products stay in DECIMAL(38,0), and ONLY the final
    ratio converts to double — identical integers round identically
    on every engine.

    Scale shape: one Exchange (hash by group), two in-partition sorts
    (the two rank orders share the partitioning), one hash-aggregate.
    No join, no crossJoin, no Python. NULL keys/values are dropped.

    Output: (group..., n, spearman) — NULL when either variable is
    constant within the group (zero rank variance) or n < 2.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    for c in (x_col, y_col):
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"spearman_corr: {c!r} is floating-point — integerize "
                "first (exact integer rank sums are the determinism "
                "contract)")
    if not group_cols:
        raise ValueError("spearman_corr: group_cols must be non-empty")
    keep = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    b = df.where(keep).select(
        *group_cols,
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"))
    wg = Window.partitionBy(*group_cols)
    wx = wg.orderBy(F.col("_x").asc())
    wy = wg.orderBy(F.col("_y").asc())
    # doubled midrank = 2*RANK() + tie-block size - 1 (exact BIGINT)
    rx = (F.lit(2) * F.rank().over(wx)
          + F.count(F.lit(1)).over(wg.partitionBy(*group_cols, "_x"))
          - F.lit(1)).cast("decimal(38,0)")
    ry = (F.lit(2) * F.rank().over(wy)
          + F.count(F.lit(1)).over(wg.partitionBy(*group_cols, "_y"))
          - F.lit(1)).cast("decimal(38,0)")
    ranked = b.select(*group_cols, rx.alias("_rx"), ry.alias("_ry"))
    s = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_rx").alias("_sx"), F.sum("_ry").alias("_sy"),
        F.sum(F.col("_rx") * F.col("_rx")).alias("_sxx"),
        F.sum(F.col("_ry") * F.col("_ry")).alias("_syy"),
        F.sum(F.col("_rx") * F.col("_ry")).alias("_sxy"))
    nn = F.col("n").cast("decimal(38,0)")
    num = nn * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    vx = nn * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vy = nn * F.col("_syy") - F.col("_sy") * F.col("_sy")
    ok = (F.col("n") >= 2) & (vx > 0) & (vy > 0)
    rho = F.when(ok, num.cast("double")
                 / F.sqrt(vx.cast("double") * vy.cast("double")))
    return s.select(*group_cols, "n", rho.alias("spearman"))


def kruskal_wallis(df: DataFrame, *, value_col: str, factor_col: str,
                   group_cols: list[str] | None = None) -> DataFrame:
    """Kruskal–Wallis H (rank-based one-way ANOVA, with tie
    correction) across the k levels of ``factor_col`` — the
    distribution-free k-sample test completing the rank family
    (:func:`mannwhitney_u` = 2 samples, :func:`spearman_corr` =
    association, KW = k samples) for skewed metrics where
    :func:`oneway_anova`'s mean comparison is the wrong tool.

    Determinism: values must be INTEGER (floats raise). Each row's
    rank over the WHOLE group is the doubled midrank
    ``2·RANK() + tie-block − 1`` (the :func:`spearman_corr` rule —
    exact BIGINT window expressions). Per level, the doubled rank
    sum S' is an exact DECIMAL(38,0); the between-levels term
    ``floor(S'²/n_level)`` is one fixed IEEE expression of exact
    integers floored to an exact BIGINT and SUMMED AS BIGINT (the
    :func:`oneway_anova` rule — addition-order independent). The tie
    correction ``C = 1 − Σ(t³−t)/(N³−N)`` uses exact DECIMAL(38,0)
    cubes of the per-value tie counts. H is ONE double expression of
    those integers:
    ``H = (3·T/(N(N+1)) − 3(N+1)) / C`` with ``T = Σ floor(S'²/n)``
    (the doubling cancels: Σ(S'/2)²/n = T/4 and 12/4 = 3). Caller
    guarantees ``S'²/n < 2⁶³`` per level (N ≲ 10⁶ rows per group is
    safe) — ANSI-raises, never wraps. NULL keys/values drop.

    Scale shape: one Exchange (hash by group), one in-partition rank
    sort, a (group, level) hash-aggregate and a (group, value)
    hash-aggregate sharing that partitioning, one final group
    aggregate. No join, no Python.

    Output: (group..., k, n, t_sum, tie_cube, h_stat) — h_stat NULL
    when k < 2 or every value in the group is tied (C = 0).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"kruskal_wallis: {value_col!r} is floating-point — "
            "integerize first (exact integer rank sums are the "
            "determinism contract)")
    gcols = list(group_cols or [])
    keep = F.col(value_col).isNotNull() & F.col(factor_col).isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    b = df.where(keep).select(
        *gcols, F.col(factor_col).alias("_lvl"),
        F.col(value_col).cast("long").alias("_v"))
    wg = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    wv = wg.orderBy(F.col("_v").asc())
    tie = F.count(F.lit(1)).over(
        Window.partitionBy(*gcols, "_v") if gcols
        else Window.partitionBy("_v"))
    rr = (F.lit(2) * F.rank().over(wv) + tie - F.lit(1))
    ranked = b.select(*gcols, "_lvl", "_v",
                      rr.cast("decimal(38,0)").alias("_r"))
    lvl = ranked.groupBy(*gcols, "_lvl").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_r").alias("_s"))
    term = F.floor(F.col("_s").cast("double") * F.col("_s").cast("double")
                   / F.col("_n").cast("double"))
    g1 = (lvl.groupBy(*gcols) if gcols else lvl.groupBy()).agg(
        F.count(F.lit(1)).alias("k"), F.sum("_n").alias("n"),
        F.sum(term).alias("t_sum"))
    tc = F.col("_t").cast("decimal(38,0)")
    ties = ranked.groupBy(*gcols, "_v").agg(
        F.count(F.lit(1)).alias("_t"))
    g2 = (ties.groupBy(*gcols) if gcols else ties.groupBy()).agg(
        F.sum(tc * tc * tc - tc).alias("tie_cube"))
    s = g1.join(g2, gcols) if gcols else g1.crossJoin(g2)
    nd = F.col("n").cast("double")
    nn = F.col("n").cast("decimal(38,0)")
    denom = (nn * nn * nn - nn).cast("double")
    c = F.lit(1.0) - F.col("tie_cube").cast("double") / denom
    h = (F.lit(3.0) * F.col("t_sum").cast("double")
         / (nd * (nd + F.lit(1.0)))
         - F.lit(3.0) * (nd + F.lit(1.0))) / c
    ok = (F.col("k") >= 2) & (F.col("n") >= 2) & (c > F.lit(0.0))
    return s.select(*gcols, "k", "n", "t_sum", "tie_cube",
                    F.when(ok, h).alias("h_stat"))


def group_moments(df: DataFrame, *, value_col: str,
                  group_cols: list[str]) -> DataFrame:
    """Per-group skewness and excess kurtosis (population moments) —
    the distribution-shape diagnostics completing the location
    (:func:`trimmed_mean`) / spread (:func:`group_mad_outliers`) /
    association (:func:`corr_matrix`) family: heavy-tail detection
    for latency and revenue metrics, symmetry checks before a t-test.

    Determinism: values must be INTEGER (floats raise). The four
    power sums S₁..S₄ = Σx..Σx⁴ are exact DECIMAL(38,0) aggregates;
    the scaled central moments are exact integer combinations
    (``n²m₂ = n·S₂ − S₁²``, ``n³m₃ = n²·S₃ − 3n·S₂·S₁ + 2S₁³``,
    ``n⁴m₄ = n³·S₄ − 4n²·S₃·S₁ + 6n·S₂·S₁² − 3S₁⁴``), and the shape
    statistics are fixed IEEE expressions of those exact integers
    (``g₁ = n³m₃ / (n²m₂ · √(n²m₂))`` — sqrt is correctly rounded by
    IEEE 754 so this is bit-identical across engines;
    ``g₂ = n⁴m₄/(n²m₂)² − 3``). Caller guarantees every combination
    term fits DECIMAL(38,0): |x| ≤ 10³ with n ≤ 10⁶ rows per group
    is safe (S₁⁴ ≤ 10³⁶); pre-scale wider values first — overflow
    ANSI-raises, never wraps. NULL keys/values drop.

    Scale shape: ONE map-side-combinable hash aggregate; the moment
    assembly is per-group scalar arithmetic. No window, no join.

    Output: (group..., n, mean, m2, skewness, kurtosis_excess) —
    shape stats NULL when the group is constant (m₂ = 0) or n < 2.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"group_moments: {value_col!r} is floating-point — "
            "integerize first (exact integer power sums are the "
            "determinism contract)")
    if not group_cols:
        raise ValueError("group_moments: group_cols must be non-empty")
    keep = F.col(value_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    v = F.col(value_col).cast("decimal(38,0)")
    s = df.where(keep).groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("_s1"), F.sum(v * v).alias("_s2"),
        F.sum(v * v * v).alias("_s3"),
        F.sum(v * v * v * v).alias("_s4"))
    nn = F.col("n").cast("decimal(38,0)")
    s1, s2 = F.col("_s1"), F.col("_s2")
    s3, s4 = F.col("_s3"), F.col("_s4")
    m2n = nn * s2 - s1 * s1
    m3n = nn * nn * s3 - F.lit(3).cast("decimal(38,0)") * nn * s2 * s1 \
        + F.lit(2).cast("decimal(38,0)") * s1 * s1 * s1
    m4n = (nn * nn * nn * s4
           - F.lit(4).cast("decimal(38,0)") * nn * nn * s3 * s1
           + F.lit(6).cast("decimal(38,0)") * nn * s2 * s1 * s1
           - F.lit(3).cast("decimal(38,0)") * s1 * s1 * s1 * s1)
    m2d = m2n.cast("double")
    mean = s1.cast("double") / F.col("n").cast("double")
    m2 = m2d / (F.col("n").cast("double") * F.col("n").cast("double"))
    ok = (F.col("n") >= 2) & (m2n > 0)
    g1 = F.when(ok, m3n.cast("double") / (m2d * F.sqrt(m2d)))
    g2 = F.when(ok, m4n.cast("double") / (m2d * m2d) - F.lit(3.0))
    return s.select(*group_cols, "n", mean.alias("mean"),
                    F.when(F.col("n") >= 1, m2).alias("m2"),
                    g1.alias("skewness"), g2.alias("kurtosis_excess"))


def group_quantiles(df: DataFrame, *, value_col: str,
                    group_cols: list[str],
                    permilles: list[int]) -> DataFrame:
    """Exact per-group discrete quantiles (type-1 / lower order
    statistic) at the requested permille points — the p50/p90/p99
    latency-dashboard primitive, exact where
    :func:`sampled_quantiles` trades exactness for a single pass and
    :func:`quantile_bucket_assign` assigns rows to buckets.

    Determinism: values must be INTEGER (floats raise); quantile
    probabilities are INTEGER PERMILLES (500 = median) so the target
    index ``ceil(n·pm/1000)`` is exact integer arithmetic — no float
    probability ever multiplies a count. The answer for permille pm
    is the unique value whose inclusive cumulative count first
    reaches the target — integer in, integer out, bit-stable.

    Scale shape: one (group, value) hash-aggregate with map-side
    combine, one cumulative window over the SAME group partitioning
    (value-level rows, not raw rows — the :func:`trimmed_mean`
    two-Exchange shape), then a constant-width explode of the
    permille literals on value-level rows and one filter that keeps
    exactly one row per (group, permille). No join, no Python,
    cardinality bounded by distinct values × len(permilles).

    Output: (group..., permille, n, value) — one row per group and
    requested permille, empty groups absent.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"group_quantiles: {value_col!r} is floating-point — "
            "integerize first (exact integer order statistics are "
            "the determinism contract)")
    if not group_cols:
        raise ValueError("group_quantiles: group_cols must be non-empty")
    if not permilles or any(
            not isinstance(p, int) or not 1 <= p <= 1000
            for p in permilles):
        raise ValueError(
            "group_quantiles: permilles must be non-empty ints in "
            "[1, 1000]")
    if len(set(permilles)) != len(permilles):
        raise ValueError("group_quantiles: duplicate permilles")
    keep = F.col(value_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    per_val = (df.where(keep)
               .groupBy(*group_cols,
                        F.col(value_col).cast("long").alias("_v"))
               .agg(F.count(F.lit(1)).alias("_c")))
    wg = Window.partitionBy(*group_cols).orderBy(F.col("_v").asc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wn = Window.partitionBy(*group_cols)
    cum = per_val.select(
        *group_cols, "_v", "_c",
        F.sum("_c").over(wg).alias("_cum"),
        F.sum("_c").over(wn).alias("n"))
    pm = F.explode(F.array(*[F.lit(int(p)) for p in
                             sorted(permilles)])).alias("permille")
    ex = cum.select(*group_cols, "_v", "_c", "_cum", "n", pm)
    target = F.ceil((F.col("n") * F.col("permille")) / F.lit(1000.0))
    hit = (F.col("_cum") >= target) & (F.col("_cum") - F.col("_c")
                                       < target)
    return (ex.where(hit)
            .select(*group_cols, "permille", "n",
                    F.col("_v").alias("value")))


def theil_index(df: DataFrame, *, value_col: str,
                group_cols: list[str]) -> DataFrame:
    """Per-group Theil T inequality index
    ``T = (1/n)·Σ (xᵢ/μ)·ln(xᵢ/μ)`` — the decomposable concentration
    measure (0 = perfect equality, ln n = one row holds everything)
    for traffic/revenue/token-budget concentration, complementing
    :func:`group_gini` (rank-based) and :func:`top_p_coverage`
    (head-count) with the information-theoretic view.

    Determinism (the :func:`group_entropy` micro-nat rule): values
    must be POSITIVE INTEGERS (floats raise; rows with v ≤ 0 are
    dropped — ln is undefined there). Using
    ``T = (Σ x·ln x)/S − ln S + ln n`` with ``S = Σx``, every ln is
    integerized PER exact integer (``round(ln(k)·10⁶)``) before any
    sum, so ``Σ x·lnμ(x)`` is an exact addition-order-independent
    BIGINT and T is ONE fixed double expression of exact integers —
    bit-identical across engines. Resolution is 1 micro-nat. Caller
    guarantees Σ x·lnμ(x) < 2⁶³ (x ≤ 10⁶ with ~4·10⁴ rows per group,
    or x ≤ 10³ with ~10⁸ rows, is safe) — ANSI-raises, never wraps.

    Scale shape: one (group, value) hash-aggregate with map-side
    combine, one group hash-aggregate. No window, no join.

    Output: (group..., n, sum_v, xlnx_micro, theil).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"theil_index: {value_col!r} is floating-point — "
            "integerize first (exact integer sums are the "
            "determinism contract)")
    if not group_cols:
        raise ValueError("theil_index: group_cols must be non-empty")
    keep = F.col(value_col).isNotNull() & (F.col(value_col) > 0)
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    per_val = (df.where(keep)
               .groupBy(*group_cols,
                        F.col(value_col).cast("long").alias("_v"))
               .agg(F.count(F.lit(1)).alias("_c")))
    lnv = F.round(F.log(F.col("_v").cast("double")) * 1e6).cast("long")
    s = per_val.groupBy(*group_cols).agg(
        F.sum("_c").alias("n"),
        F.sum(F.col("_c") * F.col("_v")).alias("sum_v"),
        F.sum(F.col("_c") * F.col("_v") * lnv).alias("xlnx_micro"))
    lns = F.round(F.log(F.col("sum_v").cast("double")) * 1e6) \
        .cast("long")
    lnn = F.round(F.log(F.col("n").cast("double")) * 1e6).cast("long")
    theil = (F.col("xlnx_micro").cast("double")
             / F.col("sum_v").cast("double")
             - (lns - lnn).cast("double")) / F.lit(1e6)
    return s.select(*group_cols, "n", "sum_v", "xlnx_micro",
                    theil.alias("theil"))


def odds_ratio(df: DataFrame, *, exposure_col: str, outcome_col: str,
               group_cols: list[str]) -> DataFrame:
    """Per-group 2×2 odds ratio with a log-scale Wald interval — the
    exposure/outcome association primitive (did clicking raise the
    purchase odds; does a feature flag raise the error odds)
    completing :func:`two_proportion_ztest` (difference view) and
    :func:`chi2_independence` (k×m view) with the ratio view.

    Input: INTEGER 0/1 ``exposure_col`` and ``outcome_col`` (floats
    raise; rows with values outside {0, 1} or NULL drop).

    Determinism: the four cell counts are exact BIGINTs from ONE
    conditional hash-aggregate. ``odds_ratio = (n11·n00)/(n10·n01)``
    is one division of exact integer products;
    ``log_or_micro = lnμ(n11)+lnμ(n00)−lnμ(n10)−lnμ(n01)`` uses the
    micro-nat integerized ln (the :func:`group_entropy` rule) so it
    is an exact BIGINT; the Wald SE ``√(1/n11+1/n10+1/n01+1/n00)``
    and the log-scale CI bounds are fixed IEEE expressions of exact
    integers — bit-identical across engines. The CI is left in
    micro-nat log scale (exponentiating is engine-local: exp differs
    by 1 ulp across libms — measured).

    Scale shape: ONE map-side-combinable hash aggregate; no window,
    no join.

    Output: (group..., n11, n10, n01, n00, odds_ratio, log_or_micro,
    se_log_or, ci_lo_log_micro, ci_hi_log_micro) — ratio columns
    NULL when any cell is 0 (apply a continuity correction upstream
    if needed).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    for c in (exposure_col, outcome_col):
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"odds_ratio: {c!r} is floating-point — integerize "
                "first (exact integer counts are the determinism "
                "contract)")
    if not group_cols:
        raise ValueError("odds_ratio: group_cols must be non-empty")
    e = F.col(exposure_col).cast("long")
    o = F.col(outcome_col).cast("long")
    keep = e.isin(0, 1) & o.isin(0, 1)
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()

    def _cell(ev: int, ov: int) -> F.Column:
        return F.sum(F.when((e == ev) & (o == ov), 1).otherwise(0))

    s = df.where(keep).groupBy(*group_cols).agg(
        _cell(1, 1).alias("n11"), _cell(1, 0).alias("n10"),
        _cell(0, 1).alias("n01"), _cell(0, 0).alias("n00"))

    def _lnmu(c: str) -> F.Column:
        return F.round(F.log(F.col(c).cast("double")) * 1e6) \
            .cast("long")

    ok = ((F.col("n11") > 0) & (F.col("n10") > 0)
          & (F.col("n01") > 0) & (F.col("n00") > 0))
    orr = (F.col("n11") * F.col("n00")).cast("double") \
        / (F.col("n10") * F.col("n01")).cast("double")
    lom = _lnmu("n11") + _lnmu("n00") - _lnmu("n10") - _lnmu("n01")
    se = F.sqrt(F.lit(1.0) / F.col("n11").cast("double")
                + F.lit(1.0) / F.col("n10").cast("double")
                + F.lit(1.0) / F.col("n01").cast("double")
                + F.lit(1.0) / F.col("n00").cast("double"))
    z = F.lit(1.959964)
    lo = F.col("log_or_micro").cast("double") - z * se * F.lit(1e6)
    hi = F.col("log_or_micro").cast("double") + z * se * F.lit(1e6)
    return (s.withColumn("log_or_micro", F.when(ok, lom))
            .select(*group_cols, "n11", "n10", "n01", "n00",
                    F.when(ok, orr).alias("odds_ratio"),
                    "log_or_micro",
                    F.when(ok, se).alias("se_log_or"),
                    F.when(ok, lo).alias("ci_lo_log_micro"),
                    F.when(ok, hi).alias("ci_hi_log_micro")))


def cohens_d(df: DataFrame, *, value_col: str, group_col: str,
             group_a: str, group_b: str,
             group_cols: list[str] | None = None) -> DataFrame:
    """Cohen's d (pooled-SD standardized mean difference) and the
    small-sample Hedges' g correction between two levels of
    ``group_col`` — the EFFECT-SIZE companion to
    :func:`welch_ttest`'s significance: a tiny p with d ≈ 0.02 is a
    no-op launch; report both.

    Determinism (the :func:`welch_ttest` rule): values must be
    INTEGER (floats raise); per-side n/Σv/Σv² are exact BIGINTs from
    ONE conditional hash-aggregate, and d/g are fixed IEEE double
    expressions of those integers (n·Σv² is formed in doubles, so
    only Σv² itself must stay under 2⁶³).

    Scale shape: ONE map-side-combinable hash aggregate; no window,
    no join.

    Output: (group..., n_a, n_b, mean_a, mean_b, cohens_d,
    hedges_g) — effect sizes NULL when either side has n < 2 or the
    pooled variance is 0.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"cohens_d: {value_col!r} is floating-point — integerize "
            "first (exact integer sums are the determinism contract)")
    gcols = list(group_cols or [])
    keep = (F.col(value_col).isNotNull()
            & F.col(group_col).isin(group_a, group_b))
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    v = F.col(value_col).cast("long")
    is_a = F.col(group_col) == group_a

    def _side(side_a: bool):
        cond = is_a if side_a else ~is_a
        tag = "a" if side_a else "b"
        return [F.sum(F.when(cond, 1).otherwise(0)).alias(f"_n{tag}"),
                F.sum(F.when(cond, v).otherwise(0)).alias(f"_s{tag}"),
                F.sum(F.when(cond, v * v).otherwise(0))
                .alias(f"_ss{tag}")]

    grouped = (df.where(keep).groupBy(*gcols) if gcols
               else df.where(keep).groupBy())
    s = grouped.agg(*(_side(True) + _side(False)))
    na, nb = F.col("_na").cast("double"), F.col("_nb").cast("double")
    sa, sb = F.col("_sa").cast("double"), F.col("_sb").cast("double")
    ssa = F.col("_ssa").cast("double")
    ssb = F.col("_ssb").cast("double")
    mean_a, mean_b = sa / na, sb / nb
    # (n-1)·s² per side as one double expression of exact ints
    pa = (na * ssa - sa * sa) / na
    pb = (nb * ssb - sb * sb) / nb
    sp2 = (pa + pb) / (na + nb - F.lit(2.0))
    d = (mean_a - mean_b) / F.sqrt(sp2)
    g_corr = F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (na + nb)
                                        - F.lit(9.0))
    ok = (F.col("_na") >= 2) & (F.col("_nb") >= 2) & (sp2 > F.lit(0.0))
    return s.select(
        *gcols, F.col("_na").alias("n_a"), F.col("_nb").alias("n_b"),
        mean_a.alias("mean_a"), mean_b.alias("mean_b"),
        F.when(ok, d).alias("cohens_d"),
        F.when(ok, d * g_corr).alias("hedges_g"))


def mantel_haenszel_or(df: DataFrame, *, exposure_col: str,
                       outcome_col: str, strata_col: str,
                       group_cols: list[str] | None = None) -> DataFrame:
    """Mantel–Haenszel pooled odds ratio across strata — the
    confounder-adjusted association estimate (pool the per-cohort
    2×2 tables of :func:`odds_ratio` instead of collapsing them,
    which Simpson's paradox can invert):
    ``OR_MH = Σₛ(aₛdₛ/nₛ) / Σₛ(bₛcₛ/nₛ)``.

    Determinism (the :func:`oneway_anova` milli-unit rule): the four
    cells per stratum are exact BIGINTs from ONE conditional
    hash-aggregate; each stratum's numerator/denominator term is
    ``floor(a·d·10³/n)`` / ``floor(b·c·10³/n)`` — one fixed IEEE
    expression of exact integers floored to BIGINT milli-units and
    SUMMED AS BIGINT (addition-order independent) — and OR_MH is one
    division of those integers. Strata with n = 0 cannot occur;
    caller guarantees a·d·10³/n < 2⁶³ (n ≤ ~10⁸ per stratum is
    safe). Inputs must be INTEGER 0/1 (floats raise; other values
    drop).

    Scale shape: one (group, stratum) hash-aggregate with map-side
    combine, one group hash-aggregate over stratum rows. No window,
    no join — cardinality-unbounded in strata.

    Output: (group..., k_strata, num_milli, den_milli, or_mh) —
    or_mh NULL when the pooled denominator is 0.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    for c in (exposure_col, outcome_col):
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"mantel_haenszel_or: {c!r} is floating-point — "
                "integerize first (exact integer counts are the "
                "determinism contract)")
    gcols = list(group_cols or [])
    e = F.col(exposure_col).cast("long")
    o = F.col(outcome_col).cast("long")
    keep = e.isin(0, 1) & o.isin(0, 1) & F.col(strata_col).isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()

    def _cell(ev: int, ov: int) -> F.Column:
        return F.sum(F.when((e == ev) & (o == ov), 1).otherwise(0))

    per_s = df.where(keep).groupBy(*gcols, strata_col).agg(
        _cell(1, 1).alias("_a"), _cell(1, 0).alias("_b"),
        _cell(0, 1).alias("_c"), _cell(0, 0).alias("_d"))
    n_s = (F.col("_a") + F.col("_b") + F.col("_c")
           + F.col("_d")).cast("double")
    num = F.floor(F.col("_a").cast("double") * F.col("_d").cast("double")
                  * F.lit(1000.0) / n_s)
    den = F.floor(F.col("_b").cast("double") * F.col("_c").cast("double")
                  * F.lit(1000.0) / n_s)
    grouped = (per_s.groupBy(*gcols) if gcols else per_s.groupBy())
    s = grouped.agg(F.count(F.lit(1)).alias("k_strata"),
                    F.sum(num).alias("num_milli"),
                    F.sum(den).alias("den_milli"))
    orr = F.when(F.col("den_milli") > 0,
                 F.col("num_milli").cast("double")
                 / F.col("den_milli").cast("double"))
    return s.select(*gcols, "k_strata", "num_milli", "den_milli",
                    orr.alias("or_mh"))


def js_divergence(df: DataFrame, *, cat_col: str, group_col: str,
                  group_a: str, group_b: str,
                  group_cols: list[str] | None = None) -> DataFrame:
    """Jensen–Shannon divergence (nats) between the categorical
    distributions of two cohorts — the SYMMETRIC, bounded (≤ ln 2)
    drift measure beside :func:`psi_drift` (which blows up on empty
    bins) and :func:`ks_2sample` (ordinal only): source-mix shift
    between snapshots, label drift between train/eval shards.

    Determinism: with per-category counts c₁, c₂ and totals N₁, N₂
    (exact BIGINTs from ONE conditional hash-aggregate), every log
    term is a log of a RATIO OF INTEGERS, so the micro-nat rule
    applies end-to-end:
    ``ln(p/m) = ln(2c₁N₂) − ln(c₁N₂ + c₂N₁)`` (p = c₁/N₁,
    m = (p+q)/2), each ln integerized PER exact integer product.
    The two weighted sums ``Σ c₁·lnμ(…)`` are exact BIGINTs and JSD
    is ONE fixed double expression of them. Caller guarantees
    c·N < 2⁶² (N ≤ ~10⁹ per side is safe). NULL keys drop; rows of
    other ``group_col`` levels drop.

    Scale shape: one (group, category) conditional hash-aggregate
    with map-side combine, one window total over category-level rows
    on the same partitioning, one final hash-aggregate. No join.

    Output: (group..., n_a, n_b, k_cats, jsd_num_a_micro,
    jsd_num_b_micro, jsd) — jsd NULL when either side is empty;
    0 ≤ jsd ≤ ln 2 + 2 micro-nats.
    """
    gcols = list(group_cols or [])
    keep = (F.col(cat_col).isNotNull()
            & F.col(group_col).isin(group_a, group_b))
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    is_a = F.col(group_col) == group_a
    per_cat = df.where(keep).groupBy(*gcols, cat_col).agg(
        F.sum(F.when(is_a, 1).otherwise(0)).alias("_c1"),
        F.sum(F.when(~is_a, 1).otherwise(0)).alias("_c2"))
    wg = (Window.partitionBy(*gcols) if gcols
          else Window.partitionBy(F.lit(1)))
    n1 = F.sum("_c1").over(wg)
    n2 = F.sum("_c2").over(wg)
    staged = per_cat.select(*gcols, "_c1", "_c2",
                            n1.alias("_n1"), n2.alias("_n2"))

    def _lnmu(col: F.Column) -> F.Column:
        return F.round(F.log(col.cast("double")) * 1e6).cast("long")

    mix = F.col("_c1") * F.col("_n2") + F.col("_c2") * F.col("_n1")
    ta = F.when(F.col("_c1") > 0,
                F.col("_c1")
                * (_lnmu(F.lit(2) * F.col("_c1") * F.col("_n2"))
                   - _lnmu(mix))).otherwise(F.lit(0))
    tb = F.when(F.col("_c2") > 0,
                F.col("_c2")
                * (_lnmu(F.lit(2) * F.col("_c2") * F.col("_n1"))
                   - _lnmu(mix))).otherwise(F.lit(0))
    grouped = (staged.groupBy(*gcols) if gcols else staged.groupBy())
    s = grouped.agg(F.max("_n1").alias("n_a"),
                    F.max("_n2").alias("n_b"),
                    F.count(F.lit(1)).alias("k_cats"),
                    F.sum(ta).alias("jsd_num_a_micro"),
                    F.sum(tb).alias("jsd_num_b_micro"))
    jsd = (F.col("jsd_num_a_micro").cast("double")
           / F.col("n_a").cast("double")
           + F.col("jsd_num_b_micro").cast("double")
           / F.col("n_b").cast("double")) / F.lit(2e6)
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return s.select(*gcols, "n_a", "n_b", "k_cats",
                    "jsd_num_a_micro", "jsd_num_b_micro",
                    F.when(ok, jsd).alias("jsd"))


def map_at_k(df: DataFrame, *, group_cols: list[str], id_col: str,
             score_col: str, rel_col: str, k: int = 10) -> DataFrame:
    """Mean-average-precision@k per group — the binary-relevance
    ranking metric beside :func:`ndcg_at_k` (graded) and
    :func:`rrf_fuse` (fusion): AP = mean over the relevant hits in
    the top k of precision-at-that-hit, normalized by
    ``min(n_rel, k)``.

    Determinism: relevance must be INTEGER 0/1 (floats raise); the
    ranking is totalized (score desc, id asc) so ties never reorder
    across engines; each hit's precision ``cum_rel/rank`` is a ratio
    of small exact integers milli-floored PER HIT
    (``floor(cum_rel·10³/rank)`` — the :func:`oneway_anova` rule)
    and summed as exact BIGINT; AP is ONE division of exact
    integers. NULL keys/scores/relevances drop.

    Scale shape: ONE row_number window per group partitioning, a
    rank ≤ k filter, one hash-aggregate (plus a group-total
    aggregate for n_rel over the SAME partitioning). No join.

    Output: (group..., n_rel, n_hits_at_k, ap_milli_sum, map_at_k)
    — NULL when the group has no relevant item.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[rel_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"map_at_k: {rel_col!r} is floating-point — binarize "
            "first (exact integer precision sums are the determinism "
            "contract)")
    if not group_cols:
        raise ValueError("map_at_k: group_cols must be non-empty")
    if k < 1:
        raise ValueError("map_at_k: k must be >= 1")
    rel = F.col(rel_col).cast("long")
    keep = (rel.isin(0, 1) & F.col(score_col).isNotNull()
            & F.col(id_col).isNotNull())
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    b = df.where(keep).select(*group_cols,
                              F.col(id_col).alias("_id"),
                              F.col(score_col).alias("_s"),
                              rel.alias("_r"))
    wg = Window.partitionBy(*group_cols)
    wo = wg.orderBy(F.col("_s").desc(), F.col("_id").asc())
    ranked = b.select(
        *group_cols, "_r",
        F.row_number().over(wo).alias("_rank"),
        F.sum("_r").over(wo.rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow))
        .alias("_cum"),
        F.sum("_r").over(wg).alias("_nrel"))
    hit = F.when((F.col("_r") == 1) & (F.col("_rank") <= k),
                 F.floor(F.col("_cum").cast("double") * F.lit(1000.0)
                         / F.col("_rank").cast("double"))) \
        .otherwise(F.lit(0))
    s = ranked.groupBy(*group_cols).agg(
        F.max("_nrel").alias("n_rel"),
        F.sum(F.when((F.col("_r") == 1) & (F.col("_rank") <= k), 1)
              .otherwise(0)).alias("n_hits_at_k"),
        F.sum(hit).alias("ap_milli_sum"))
    denom = F.least(F.col("n_rel"), F.lit(k))
    ap = F.when(F.col("n_rel") > 0,
                F.col("ap_milli_sum").cast("double")
                / (denom.cast("double") * F.lit(1000.0)))
    return s.select(*group_cols, "n_rel", "n_hits_at_k",
                    "ap_milli_sum", ap.alias("map_at_k"))


def runs_test(df: DataFrame, *, flag_col: str, order_col: str,
              id_col: str, group_cols: list[str]) -> DataFrame:
    """Wald–Wolfowitz runs test per group — is a binary sequence
    randomly ordered, or does it cluster (fewer runs: flaky-test
    streaks, regime-switching errors) / alternate (more runs:
    oscillation)? The sequence-randomness check none of the
    two-sample tests cover.

    Determinism: the flag must be INTEGER 0/1 (floats raise); the
    sequence order is totalized by (order, id) — supply a unique
    ``id_col``; ties in ``order_col`` alone would make "the
    sequence" ill-defined. Run count R = 1 + Σ(xᵢ ≠ xᵢ₋₁) via ONE
    LAG on the group partitioning; n₁/n₀/R are exact BIGINTs and
    ``z = (R − 1 − 2n₁n₀/n) / √(2n₁n₀(2n₁n₀ − n)/(n²(n−1)))`` is one
    fixed IEEE expression of them (the big products are formed in
    doubles — the :func:`welch_ttest` rule).

    Scale shape: one Exchange (hash by group), one in-partition
    sort + LAG, one hash-aggregate. No join, no Python.

    Output: (group..., n, n1, n0, runs, z) — z NULL when either
    symbol is absent or n < 2.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[flag_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"runs_test: {flag_col!r} is floating-point — binarize "
            "first (exact integer run counts are the determinism "
            "contract)")
    if not group_cols:
        raise ValueError("runs_test: group_cols must be non-empty")
    x = F.col(flag_col).cast("long")
    keep = (x.isin(0, 1) & F.col(order_col).isNotNull()
            & F.col(id_col).isNotNull())
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    b = df.where(keep).select(*group_cols, x.alias("_x"),
                              F.col(order_col).alias("_o"),
                              F.col(id_col).alias("_i"))
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("_o").asc(), F.col("_i").asc())
    prev = F.lag("_x").over(w)
    staged = b.select(*group_cols, "_x",
                      F.when(prev.isNull() | (prev != F.col("_x")), 1)
                      .otherwise(0).alias("_brk"))
    s = staged.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("n1"),
        F.sum(F.lit(1) - F.col("_x")).alias("n0"),
        F.sum("_brk").alias("runs"))
    nd = F.col("n").cast("double")
    p2 = (F.lit(2.0) * F.col("n1").cast("double")
          * F.col("n0").cast("double"))
    var = p2 * (p2 - nd) / (nd * nd * (nd - F.lit(1.0)))
    z = (F.col("runs").cast("double") - F.lit(1.0) - p2 / nd) \
        / F.sqrt(var)
    ok = ((F.col("n1") > 0) & (F.col("n0") > 0) & (F.col("n") >= 2)
          & (var > F.lit(0.0)))
    return s.select(*group_cols, "n", "n1", "n0", "runs",
                    F.when(ok, z).alias("z"))


def poisson_rate_ztest(df: DataFrame, *, count_col: str,
                       exposure_col: str, group_col: str,
                       group_a: str, group_b: str,
                       group_cols: list[str] | None = None
                       ) -> DataFrame:
    """Two-sample Poisson rate z-test — compares EVENT RATES PER
    EXPOSURE (errors per machine-hour, orders per session-minute)
    between two cohorts, which :func:`two_proportion_ztest` cannot
    (it needs bounded trials, not open exposure windows).

    Determinism: counts and exposures must be INTEGER (floats
    raise); per-side Σk and Σt are exact BIGINTs from ONE
    conditional hash-aggregate, and
    ``z = (k₁/t₁ − k₂/t₂) / √(k₁/t₁² + k₂/t₂²)`` is one fixed IEEE
    expression of them.

    Scale shape: ONE map-side-combinable hash aggregate; no window,
    no join.

    Output: (group..., k_a, t_a, k_b, t_b, rate_a, rate_b, z) — z
    NULL when either exposure is 0 or both counts are 0.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    for c in (count_col, exposure_col):
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"poisson_rate_ztest: {c!r} is floating-point — "
                "integerize first (exact integer sums are the "
                "determinism contract)")
    gcols = list(group_cols or [])
    keep = (F.col(count_col).isNotNull()
            & F.col(exposure_col).isNotNull()
            & (F.col(count_col) >= 0) & (F.col(exposure_col) > 0)
            & F.col(group_col).isin(group_a, group_b))
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    k = F.col(count_col).cast("long")
    t = F.col(exposure_col).cast("long")
    is_a = F.col(group_col) == group_a
    grouped = (df.where(keep).groupBy(*gcols) if gcols
               else df.where(keep).groupBy())
    s = grouped.agg(
        F.sum(F.when(is_a, k).otherwise(0)).alias("k_a"),
        F.sum(F.when(is_a, t).otherwise(0)).alias("t_a"),
        F.sum(F.when(~is_a, k).otherwise(0)).alias("k_b"),
        F.sum(F.when(~is_a, t).otherwise(0)).alias("t_b"))
    ka, ta = F.col("k_a").cast("double"), F.col("t_a").cast("double")
    kb, tb = F.col("k_b").cast("double"), F.col("t_b").cast("double")
    ra, rb = ka / ta, kb / tb
    z = (ra - rb) / F.sqrt(ka / (ta * ta) + kb / (tb * tb))
    ok = ((F.col("t_a") > 0) & (F.col("t_b") > 0)
          & ((F.col("k_a") > 0) | (F.col("k_b") > 0)))
    return s.select(*gcols, "k_a", "t_a", "k_b", "t_b",
                    F.when(F.col("t_a") > 0, ra).alias("rate_a"),
                    F.when(F.col("t_b") > 0, rb).alias("rate_b"),
                    F.when(ok, z).alias("z"))


def basket_lift(df: DataFrame, *, basket_col: str, item_col: str,
                min_count: int = 2, max_basket: int = 64) -> DataFrame:
    """Market-basket pair association (support / confidence / lift)
    — the co-occurrence miner behind "items bought together", related
    queries, and co-edited files: which item PAIRS appear in the same
    basket more often than independence predicts (lift > 1)?
    Extends :func:`cooccurrence_pairs` (raw pair counts) with the
    association-rule metrics AND the apriori frequent-item prune
    BEFORE the pair join — prefer this one when min_count > 1, the
    prune shrinks the join input by the infrequent-item mass.

    Determinism: all counts (basket total, per-item, per-pair) are
    exact BIGINTs; support/confidence/lift are single fixed IEEE
    divisions of exact integer products. Pair identity is totalized
    as ``item_a < item_b``. NULL baskets/items drop.

    Scale shape — the apriori pruning cascade, never all-pairs:
    (1) distinct (basket, item) hash-agg; (2) baskets with more than
    ``max_basket`` distinct items are EXCLUDED OUTRIGHT (a pathological
    mega-basket contributes quadratically many pairs and no signal —
    the same cap discipline as `common_neighbor_similarity`'s
    max_degree); (3) per-item counts, items below ``min_count`` are
    pruned BEFORE the pair join (broadcast frequent-item semi-join —
    the frequent set is small by construction); (4) pair generation is
    an EQUI-join on the basket key over frequent items only, bounded
    by max_basket² pairs per basket; (5) pairs below ``min_count``
    drop. Item counts join back via broadcast.

    Caller guarantees counts < 2³¹ so n_ab·n_baskets and n_a·n_b stay
    inside BIGINT.

    Output: (item_a, item_b, n_a, n_b, n_ab, n_baskets, support,
    confidence, lift) — confidence is P(b|a) with a the
    lower-sorted item.
    """
    if min_count < 1:
        raise ValueError("basket_lift: min_count must be >= 1")
    if max_basket < 2:
        raise ValueError("basket_lift: max_basket must be >= 2")
    b = (df.where(F.col(basket_col).isNotNull()
                  & F.col(item_col).isNotNull())
         .select(F.col(basket_col).alias("_b"),
                 F.col(item_col).alias("_i"))
         .distinct())
    wb = Window.partitionBy("_b")
    kept = (b.withColumn("_sz", F.count(F.lit(1)).over(wb))
            .where(F.col("_sz") <= max_basket)
            .drop("_sz"))
    item_counts = kept.groupBy("_i").agg(
        F.count(F.lit(1)).alias("_ni"))
    freq = item_counts.where(F.col("_ni") >= min_count)
    f = kept.join(F.broadcast(freq), "_i").select("_b", "_i", "_ni")
    a_side = f.select("_b", F.col("_i").alias("item_a"),
                      F.col("_ni").alias("n_a"))
    b_side = f.select("_b", F.col("_i").alias("item_b"),
                      F.col("_ni").alias("n_b"))
    pairs = (a_side.join(b_side, "_b")
             .where(F.col("item_a") < F.col("item_b"))
             .groupBy("item_a", "item_b")
             .agg(F.max("n_a").alias("n_a"),
                  F.max("n_b").alias("n_b"),
                  F.count(F.lit(1)).alias("n_ab"))
             .where(F.col("n_ab") >= min_count))
    nb = kept.agg(F.count_distinct("_b").alias("n_baskets"))
    out = pairs.crossJoin(F.broadcast(nb))
    nbd = F.col("n_baskets").cast("double")
    return out.select(
        "item_a", "item_b", "n_a", "n_b", "n_ab", "n_baskets",
        (F.col("n_ab").cast("double") / nbd).alias("support"),
        (F.col("n_ab").cast("double") / F.col("n_a").cast("double"))
        .alias("confidence"),
        ((F.col("n_ab") * F.col("n_baskets")).cast("double")
         / (F.col("n_a") * F.col("n_b")).cast("double"))
        .alias("lift"))


def rolling_zscore(df: DataFrame, *, value_col: str, order_col: str,
                   id_col: str, group_cols: list[str],
                   window: int = 20, min_periods: int = 5,
                   threshold_milli: int = 3000) -> DataFrame:
    """Per-point trailing-window z-score anomaly detection — "is this
    reading unusual vs its OWN recent history?" (the streaming-shaped
    complement to :func:`group_mad_outliers`' whole-group view).

    Determinism: the value must be INTEGER (floats raise — integerize
    upstream to the resolution that matters); the sequence is
    totalized by (order, id). Over the trailing frame of the last
    ``window`` rows (inclusive), n, S = Σv and Q = Σv² are exact
    BIGINTs, ``z = (n·v − S)/√(n·Q − S²)`` is one fixed IEEE
    expression, and the anomaly verdict never touches a float:
    ``is_anomaly ⇔ (n·v − S)²·10⁶ > thr²·(n·Q − S²)`` with
    ``thr = threshold_milli`` — an EXACT INTEGER comparison (the
    :func:`group_mad_outliers` k_milli rule). Caller guarantees
    n·Q < 2⁶² (|v| ≤ ~10⁸ at window 20 is safe). Rows in a frame
    shorter than ``min_periods`` emit NULL z and are NEVER flagged
    (``is_anomaly`` is total — FALSE on short or zero-variance
    frames — so downstream filters need no NULL handling).

    Threshold sizing: the frame INCLUDES the current point, so |z| is
    mathematically bounded by √(n−1) — a window of 10 can never
    produce z > 3. Pick ``window ≥ threshold² + 1`` (e.g. window 20
    for the default 3.0 threshold, max attainable z ≈ 4.36) or the
    flag is unsatisfiable by construction.

    Scale shape: ONE Exchange (hash by group), one in-partition sort,
    three frame aggregates over the SAME window spec (one Window
    node). No join, no Python.

    Output: (group..., id, order, value, n_window, z, is_anomaly).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"rolling_zscore: {value_col!r} is floating-point — "
            "integerize first (exact integer frame sums are the "
            "determinism contract)")
    if not group_cols:
        raise ValueError("rolling_zscore: group_cols must be non-empty")
    if window < 2 or min_periods < 2 or min_periods > window:
        raise ValueError(
            "rolling_zscore: need window >= 2 and "
            "2 <= min_periods <= window")
    if threshold_milli <= 0:
        raise ValueError("rolling_zscore: threshold_milli must be > 0")
    v = F.col(value_col).cast("long")
    keep = (v.isNotNull() & F.col(order_col).isNotNull()
            & F.col(id_col).isNotNull())
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    b = df.where(keep).select(*group_cols, v.alias("_v"),
                              F.col(order_col).alias("_o"),
                              F.col(id_col).alias("_i"))
    w = (Window.partitionBy(*group_cols)
         .orderBy(F.col("_o").asc(), F.col("_i").asc())
         .rowsBetween(-(window - 1), Window.currentRow))
    staged = b.select(
        *group_cols, "_i", "_o", "_v",
        F.count(F.lit(1)).over(w).alias("_n"),
        F.sum("_v").over(w).alias("_s"),
        F.sum(F.col("_v") * F.col("_v")).over(w).alias("_q"))
    num = F.col("_n") * F.col("_v") - F.col("_s")
    den2 = F.col("_n") * F.col("_q") - F.col("_s") * F.col("_s")
    ok = (F.col("_n") >= min_periods) & (den2 > 0)
    thr = F.lit(int(threshold_milli))
    return staged.select(
        *group_cols, F.col("_i").alias("id"),
        F.col("_o").alias("order"), F.col("_v").alias("value"),
        F.col("_n").alias("n_window"),
        F.when(ok, num.cast("double") / F.sqrt(den2.cast("double")))
        .alias("z"),
        F.when(ok, num * num * F.lit(1000000) > thr * thr * den2)
        .otherwise(F.lit(False)).alias("is_anomaly"))


def topk_overlap(df: DataFrame, *, group_cols: list[str], id_col: str,
                 score_a_col: str, score_b_col: str,
                 k: int = 10) -> DataFrame:
    """Overlap@k between two rankings of the same items per group —
    the rank-stability diagnostic behind "did the new scorer change
    what surfaces?": A/B scorer comparison, ANN-vs-exact recall,
    feature-ablation impact on a leaderboard.

    Determinism: both rankings are TOTALIZED (score desc, id asc);
    the overlap count is an exact BIGINT; overlap@k (= recall@k of B
    against A when both lists are full) is ONE division by
    ``min(k, n_items)`` so short groups score against what exists.
    NULL keys/ids/scores drop.

    Scale shape: two row_number windows over the SAME group exchange
    (one sort each, zero joins — the two ranks are computed
    side-by-side on the same rows), one hash-aggregate. Never a
    self-join of ranked lists.

    Output: (group..., n_items, n_top_a, n_overlap, overlap_at_k).
    """
    if not group_cols:
        raise ValueError("topk_overlap: group_cols must be non-empty")
    if k < 1:
        raise ValueError("topk_overlap: k must be >= 1")
    keep = (F.col(id_col).isNotNull()
            & F.col(score_a_col).isNotNull()
            & F.col(score_b_col).isNotNull())
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    b = df.where(keep).select(*group_cols,
                              F.col(id_col).alias("_i"),
                              F.col(score_a_col).alias("_sa"),
                              F.col(score_b_col).alias("_sb"))
    wg = Window.partitionBy(*group_cols)
    ra = F.row_number().over(
        wg.orderBy(F.col("_sa").desc(), F.col("_i").asc()))
    rb = F.row_number().over(
        wg.orderBy(F.col("_sb").desc(), F.col("_i").asc()))
    ranked = b.select(*group_cols, ra.alias("_ra"), rb.alias("_rb"))
    s = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.when(F.col("_ra") <= k, 1).otherwise(0))
        .alias("n_top_a"),
        F.sum(F.when((F.col("_ra") <= k) & (F.col("_rb") <= k), 1)
              .otherwise(0)).alias("n_overlap"))
    denom = F.least(F.lit(k).cast("long"), F.col("n_items"))
    return s.select(*group_cols, "n_items", "n_top_a", "n_overlap",
                    (F.col("n_overlap").cast("double")
                     / denom.cast("double")).alias("overlap_at_k"))


def calibration_bins(df: DataFrame, *, score_col: str, label_col: str,
                     id_col: str, bins: int = 10,
                     group_cols: list[str] | None = None) -> DataFrame:
    """Reliability-curve bins (calibration table) — does a score of
    0.8 convert 80% of the time? Equal-COUNT score bins (NTILE
    deciles by default), each reporting predicted (mean score) vs
    observed (positive fraction); feed a reliability plot or an ECE
    sum downstream. (For plain value bucketing without labels — and
    without the global NTILE sort — use the shuffle-free
    `quantile_bucket_assign`; this operator's deliverable is the
    predicted-vs-observed CURVE, which needs the label join the
    bucketing op doesn't have.)

    Determinism: labels must be INTEGER 0/1 (floats raise); the bin
    assignment is a TOTALIZED NTILE by (score, id); scores are
    integerized to milli-units per row (``round(s·10³)`` — the
    :func:`weighted_median` rule) so the per-bin score sum is an
    exact BIGINT and both curve coordinates are single divisions of
    exact integers. NULL keys/scores/labels drop.

    Scale shape: ONE NTILE window per group partitioning (global
    sort when ungrouped — over the scored table, document the
    single-reducer sort; at true 100-TB pre-bin with
    `sampled_quantiles` edges), one hash-aggregate.

    Output: (group..., bin, n, n_pos, score_milli_sum, mean_score,
    frac_pos) — bin 1 = lowest scores.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[label_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"calibration_bins: {label_col!r} is floating-point — "
            "binarize first (exact integer positive counts are the "
            "determinism contract)")
    if bins < 2:
        raise ValueError("calibration_bins: bins must be >= 2")
    gcols = list(group_cols or [])
    lab = F.col(label_col).cast("long")
    keep = (lab.isin(0, 1) & F.col(score_col).isNotNull()
            & F.col(id_col).isNotNull())
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    sm = F.round(F.col(score_col).cast("double") * 1000.0).cast("long")
    b = df.where(keep).select(*gcols, lab.alias("_y"),
                              F.col(score_col).alias("_s"),
                              F.col(id_col).alias("_i"),
                              sm.alias("_sm"))
    w = (Window.partitionBy(*gcols) if gcols
         else Window.partitionBy(F.lit(1)))
    nt = F.ntile(bins).over(
        w.orderBy(F.col("_s").asc(), F.col("_i").asc()))
    s = (b.withColumn("bin", nt)
         .groupBy(*gcols, "bin")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("_y").alias("n_pos"),
              F.sum("_sm").alias("score_milli_sum")))
    return s.select(
        *gcols, "bin", "n", "n_pos", "score_milli_sum",
        (F.col("score_milli_sum").cast("double")
         / (F.col("n").cast("double") * F.lit(1000.0)))
        .alias("mean_score"),
        (F.col("n_pos").cast("double") / F.col("n").cast("double"))
        .alias("frac_pos"))


def period_over_period(df: DataFrame, *, ts_col: str, value_col: str,
                       group_cols: list[str],
                       period_seconds: int = 604800) -> DataFrame:
    """Period-over-period deltas (WoW/MoM-style) per group — the
    dashboard staple: bucket a timeline into fixed-length periods,
    then compare each period's total to the PREVIOUS OBSERVED
    period's. Fixed-length buckets (epoch // period_seconds) rather
    than calendar months keep the bucketing an exact integer
    operation with no engine-local calendar conventions; compose with
    :func:`~kml2geojson_spark.eventops.time_bucket_gapfill` first if
    empty periods must count as zero rather than be skipped.

    Determinism: values must be INTEGER (floats raise — integerize to
    cents upstream); bucket ids and per-bucket sums are exact
    BIGINTs; prev comes from ONE LAG over the bucket order (bucket
    ids are unique per group, so the order is total); delta is exact
    and pct_change is ONE division (NULL on first period or zero
    base). NULL keys/ts/values drop.

    Scale shape: one (group, bucket) hash-aggregate with map-side
    combine, one LAG over the AGGREGATED frame (tiny: one row per
    period) on the same group partitioning. No join.

    Output: (group..., bucket, period_start_s, n_events, value_sum,
    prev_sum, delta, pct_change).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"period_over_period: {value_col!r} is floating-point — "
            "integerize first (exact integer period sums are the "
            "determinism contract)")
    if not group_cols:
        raise ValueError(
            "period_over_period: group_cols must be non-empty")
    if period_seconds < 1:
        raise ValueError(
            "period_over_period: period_seconds must be >= 1")
    t = F.col(ts_col).cast("timestamp").cast("long")
    v = F.col(value_col).cast("long")
    keep = (F.col(ts_col).isNotNull() & v.isNotNull())
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    b = df.where(keep).select(
        *group_cols, F.floor(t / F.lit(period_seconds)).alias("bucket"),
        v.alias("_v"))
    per = b.groupBy(*group_cols, "bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("_v").alias("value_sum"))
    w = Window.partitionBy(*group_cols).orderBy(F.col("bucket").asc())
    prev = F.lag("value_sum").over(w)
    staged = per.select(
        *group_cols, "bucket",
        (F.col("bucket") * period_seconds).alias("period_start_s"),
        "n_events", "value_sum", prev.alias("prev_sum"))
    return staged.select(
        *group_cols, "bucket", "period_start_s", "n_events",
        "value_sum", "prev_sum",
        (F.col("value_sum") - F.col("prev_sum")).alias("delta"),
        F.when(F.col("prev_sum") != 0,
               (F.col("value_sum") - F.col("prev_sum")).cast("double")
               / F.col("prev_sum").cast("double")).alias("pct_change"))


def wilson_ci(df: DataFrame, *, label_col: str,
              group_cols: list[str],
              z_milli: int = 1960) -> DataFrame:
    """Wilson score confidence interval for a per-group binomial rate
    — the interval that stays honest at small n and extreme p where
    the naive normal interval collapses or escapes [0, 1]: ranking
    conversion rates of low-traffic variants, sorting items by
    "percent positive" without letting 1-of-1 beat 98-of-100.

    Determinism: labels must be INTEGER 0/1 (floats raise); n and k
    are exact BIGINTs from ONE conditional hash-aggregate; with
    z = z_milli/10³ a FIXED literal, center/half-width are one fixed
    IEEE expression tree of (n, k, z) — bit-identical across engines.
    NULL keys/labels drop; groups with n = 0 cannot occur (a group
    exists only if a row survived).

    Scale shape: ONE map-side-combinable hash aggregate; no window,
    no join, no Python.

    Output: (group..., n, k, p_hat, ci_lo, ci_hi) with
    0 ≤ ci_lo ≤ p̂-center ≤ ci_hi ≤ 1.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[label_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"wilson_ci: {label_col!r} is floating-point — binarize "
            "first (exact integer success counts are the determinism "
            "contract)")
    if not group_cols:
        raise ValueError("wilson_ci: group_cols must be non-empty")
    if z_milli <= 0:
        raise ValueError("wilson_ci: z_milli must be > 0")
    lab = F.col(label_col).cast("long")
    keep = lab.isin(0, 1)
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    s = df.where(keep).groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"), F.sum(lab).alias("k"))
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    z = F.lit(z_milli / 1000.0)
    p = kd / nd
    z2n = z * z / nd
    denom = F.lit(1.0) + z2n
    center = (p + z2n / F.lit(2.0)) / denom
    half = (z * F.sqrt(p * (F.lit(1.0) - p) / nd
                       + z * z / (F.lit(4.0) * nd * nd))) / denom
    return s.select(*group_cols, "n", "k", p.alias("p_hat"),
                    (center - half).alias("ci_lo"),
                    (center + half).alias("ci_hi"))


def information_gain(df: DataFrame, *, x_col: str, y_col: str,
                     group_cols: list[str] | None = None) -> DataFrame:
    """Mutual information / information gain I(X; Y) in nats between
    two categorical columns — the feature-selection score beside
    :func:`chi2_independence` (significance) and
    :func:`group_entropy` (one column's mix): how many nats of the
    label Y does knowing feature X buy?

    Determinism (the exact micro-nat decomposition — every term is an
    exact BIGINT): with cell counts c_xy, marginals c_x, c_y and
    total n, ``IG_num = n·lnμ(n) − Σ_y c_y·lnμ(c_y)
    − Σ_x c_x·lnμ(c_x) + Σ_xy c_xy·lnμ(c_xy)`` (each ln integerized
    per exact integer — the :func:`group_entropy` rule), and
    ``info_gain = IG_num/(n·10⁶)`` is ONE division. Identically-zero
    when X and Y are independent count-wise; ≤ min(H(X), H(Y)) up to
    micro-nat slack. NULL keys drop.

    Scale shape: one (x, y) hash-aggregate with map-side combine,
    marginals via two windows OVER THE AGGREGATED (k_x·k_y-row)
    frame on the same partitioning, one final hash-aggregate. No
    join against the base table.

    Output: (group..., n, k_x, k_y, ig_num_micro, info_gain).
    """
    gcols = list(group_cols or [])
    keep = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    cell = df.where(keep).groupBy(
        *gcols, F.col(x_col).alias("_x"), F.col(y_col).alias("_y")
    ).agg(F.count(F.lit(1)).alias("_c"))
    wg = (Window.partitionBy(*gcols) if gcols
          else Window.partitionBy(F.lit(1)))
    wx = (Window.partitionBy(*gcols, "_x") if gcols
          else Window.partitionBy("_x"))
    wy = (Window.partitionBy(*gcols, "_y") if gcols
          else Window.partitionBy("_y"))
    staged = cell.select(
        *gcols, "_x", "_y", "_c",
        F.sum("_c").over(wg).alias("_n"),
        F.sum("_c").over(wx).alias("_cx"),
        F.sum("_c").over(wy).alias("_cy"))

    def _lnmu(col: F.Column) -> F.Column:
        return F.round(F.log(col.cast("double")) * 1e6).cast("long")

    # per-cell contribution: c·lnμ(c); the marginal terms divide out
    # evenly because Σ_y over cells of one x is c_x (and vice versa):
    # attribute −c·lnμ(c_x) − c·lnμ(c_y) + c·lnμ(n) per cell
    contrib = (F.col("_c") * (_lnmu(F.col("_c"))
                              - _lnmu(F.col("_cx"))
                              - _lnmu(F.col("_cy"))
                              + _lnmu(F.col("_n"))))
    grouped = (staged.groupBy(*gcols) if gcols else staged.groupBy())
    s = grouped.agg(
        F.max("_n").alias("n"),
        F.count_distinct("_x").alias("k_x"),
        F.count_distinct("_y").alias("k_y"),
        F.sum(contrib).alias("ig_num_micro"))
    return s.select(
        *gcols, "n", "k_x", "k_y", "ig_num_micro",
        (F.col("ig_num_micro").cast("double")
         / (F.col("n").cast("double") * F.lit(1e6)))
        .alias("info_gain"))


def cume_gains(df: DataFrame, *, score_col: str, label_col: str,
               n_buckets: int = 10, rate_num: int = 1,
               rate_den: int = 16) -> DataFrame:
    """Cumulative gains / lift table — the model-eval staple beside
    :func:`group_auc` and the q213 calibration bins: rank rows by a
    model score, cut into ``n_buckets`` score bands, and report how
    much of the positive class the TOP bands capture ("the top decile
    holds 4.1× its share of converters"). AUC says the ranking is
    good; the gains table says where to spend the budget.

    Determinism: scores must be INTEGER (floats raise — the
    :func:`group_auc` rule); labels must be 0/1 (anything else raises
    inside the plan). Banding comes from
    :func:`~kml2geojson_spark.sketch.quantile_bucket_assign`'s
    hash-deterministic sampled boundaries — NOT a global ntile sort —
    so bucket membership replays cross-engine; boundary-equal scores
    fall in the lower bucket. All counts are exact BIGINTs; capture
    and lift are single fixed divisions of BIGINT products.

    Scale shape: one full-data pass for the pure-Column bucket
    assignment (boundaries are broadcast literals), one bucket-grain
    hash-agg with map-side combine, then cumulative windows over the
    ≤ n_buckets-row AGGREGATE — never over base rows. Buckets are
    cumulated HIGHEST-score-first (bucket N−1 is rank 1): the "top
    k%" reading a gains chart expects.

    Output: (rank, bucket, n, n_pos, cum_n, cum_pos, capture, lift)
    — rank 1 = highest-score band; capture = cum_pos/total_pos;
    lift = (cum_pos/cum_n)/(total_pos/total_n). NULL capture/lift
    when the table has no positives.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[score_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"cume_gains: {score_col!r} is floating-point — "
            "integerize first (exact integer order statistics are "
            "the determinism contract)")
    lab = F.when(~F.col(label_col).cast("long").isin(0, 1),
                 F.raise_error(F.concat(
                     F.lit("cume_gains: label not in {0,1}: "),
                     F.col(label_col).cast("string")))) \
        .otherwise(F.col(label_col).cast("long"))
    base = (df.where(F.col(score_col).isNotNull()
                     & F.col(label_col).isNotNull())
            .select(F.col(score_col).cast("long").alias("_s"),
                    lab.alias("_y")))
    from .sketch import quantile_bucket_assign
    assigned = quantile_bucket_assign(base, "_s", n_buckets=n_buckets,
                                      rate_num=rate_num,
                                      rate_den=rate_den)
    per_b = (assigned.groupBy("bucket")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("_y").alias("n_pos")))
    w_all = Window.partitionBy(F.lit(1))
    w_cum = (w_all.orderBy(F.col("bucket").desc())
             .rowsBetween(Window.unboundedPreceding,
                          Window.currentRow))
    g = per_b.select(
        "bucket", "n", "n_pos",
        F.row_number().over(w_all.orderBy(F.col("bucket").desc()))
        .alias("rank"),
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("n_pos").over(w_cum).alias("cum_pos"),
        F.sum("n").over(w_all).alias("_tn"),
        F.sum("n_pos").over(w_all).alias("_tp"))
    capture = F.when(F.col("_tp") > 0,
                     F.col("cum_pos").cast("double")
                     / F.col("_tp").cast("double"))
    lift = F.when(
        (F.col("_tp") > 0) & (F.col("cum_n") > 0),
        (F.col("cum_pos") * F.col("_tn")).cast("double")
        / (F.col("cum_n") * F.col("_tp")).cast("double"))
    return g.select("rank", "bucket", "n", "n_pos", "cum_n",
                    "cum_pos", capture.alias("capture"),
                    lift.alias("lift"))


def mrr_at_k(df: DataFrame, *, group_cols: list[str], id_col: str,
             score_col: str, rel_col: str, k: int = 10) -> DataFrame:
    """Mean-reciprocal-rank@k per group — the "where does the FIRST
    relevant item land" metric beside :func:`map_at_k` (all hits
    weighted) and :func:`ndcg_at_k` (graded): RR = 1/rank of the
    first relevant item inside the top ``k``, 0 when the group has
    relevant items but none rank ≤ k, NULL when it has none at all.

    Determinism: relevance must be INTEGER 0/1 (floats raise); the
    ranking is totalized (score desc, id asc) so ties never reorder
    across engines; ``first_rel_rank`` is an exact integer MIN and
    the reciprocal is ONE division of exact integers. NULL
    keys/scores/relevances drop.

    Scale shape: ONE row_number window per group partitioning and
    one hash-aggregate over the same keys — no join, no second
    shuffle (the window's sort partitioning is reused by the agg).

    Output: (group..., n_rel, first_rel_rank, rr_at_k).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[rel_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"mrr_at_k: {rel_col!r} is floating-point — binarize "
            "first (exact integer rank arithmetic is the determinism "
            "contract)")
    if not group_cols:
        raise ValueError("mrr_at_k: group_cols must be non-empty")
    if k < 1:
        raise ValueError("mrr_at_k: k must be >= 1")
    rel = F.col(rel_col).cast("long")
    keep = (rel.isin(0, 1) & F.col(score_col).isNotNull()
            & F.col(id_col).isNotNull())
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    b = df.where(keep).select(*group_cols,
                              F.col(id_col).alias("_id"),
                              F.col(score_col).alias("_s"),
                              rel.alias("_r"))
    wo = Window.partitionBy(*group_cols) \
        .orderBy(F.col("_s").desc(), F.col("_id").asc())
    ranked = b.select(*group_cols, "_r",
                      F.row_number().over(wo).alias("_rank"))
    s = ranked.groupBy(*group_cols).agg(
        F.sum("_r").alias("n_rel"),
        F.min(F.when((F.col("_r") == 1) & (F.col("_rank") <= k),
                     F.col("_rank"))).alias("first_rel_rank"))
    rr = F.when(F.col("n_rel") > 0,
                F.when(F.col("first_rel_rank").isNotNull(),
                       F.lit(1.0)
                       / F.col("first_rel_rank").cast("double"))
                .otherwise(F.lit(0.0)))
    return s.select(*group_cols, "n_rel", "first_rel_rank",
                    rr.alias("rr_at_k"))


def winsorized_mean(df: DataFrame, *, value_col: str,
                    group_cols: list[str],
                    wins_milli: int = 50) -> DataFrame:
    """Per-group winsorized mean: CLAMP the lowest and highest
    ``wins_milli``/1000 fraction of rows (by count) to the nearest
    kept value instead of dropping them — :func:`trimmed_mean`'s
    sibling that preserves sample size, the standard robust location
    for metrics where the tail rows still count (revenue caps,
    latency SLOs).

    Determinism (the :func:`trimmed_mean` value-count rule): values
    must be INTEGER (floats raise); per-value counts and exclusive
    prefix sums are exact BIGINTs; the per-side clamp count is
    ``k = floor(n·wins_milli/1000)``; the clamp boundaries are the
    values whose count-intervals contain ranks ``k+1`` and ``n−k``;
    the winsorized sum is ``Σ v·kept + k·lo + k·hi`` — pure integer
    arithmetic — and the mean is ONE division of exact BIGINTs.

    Scale shape: one (group, value) hash-aggregate, prefix-sum
    windows over the SAME group partitioning, one final
    hash-aggregate (the trimmed_mean two-Exchange shape).

    Output: (group..., n, k_per_side, lo_clamp, hi_clamp,
    winsorized_sum, winsorized_mean) — NULL mean for empty groups
    never appears (empty groups emit no row).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"winsorized_mean: {value_col!r} is floating-point — "
            "integerize first (exact integer sums are the "
            "determinism contract)")
    if not group_cols:
        raise ValueError("winsorized_mean: group_cols must be non-empty")
    if not 0 <= wins_milli < 500:
        raise ValueError("wins_milli must be in [0, 500)")
    keep = F.col(value_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    per_val = (df.where(keep)
               .groupBy(*group_cols,
                        F.col(value_col).cast("long").alias("_v"))
               .agg(F.count(F.lit(1)).alias("_c")))
    wg = Window.partitionBy(*group_cols)
    wprev = wg.orderBy(F.col("_v").asc()).rowsBetween(
        Window.unboundedPreceding, -1)
    stepped = per_val.select(
        *group_cols, "_v", "_c",
        F.coalesce(F.sum("_c").over(wprev), F.lit(0)).alias("_before"),
        F.sum("_c").over(wg).alias("_n"))
    k = F.expr(f"(_n * {int(wins_milli)}) div 1000")
    cum = F.col("_before") + F.col("_c")
    mid = F.greatest(
        F.lit(0),
        F.least(cum, F.col("_n") - k) - F.greatest(F.col("_before"), k))
    lo_here = (F.col("_before") <= k) & (cum > k)
    hi_here = (F.col("_before") < F.col("_n") - k) \
        & (cum >= F.col("_n") - k)
    s = (stepped
         .withColumn("_k", k)
         .groupBy(*group_cols)
         .agg(F.max("_n").alias("n"),
              F.max("_k").alias("k_per_side"),
              F.max(F.when(lo_here, F.col("_v"))).alias("lo_clamp"),
              F.max(F.when(hi_here, F.col("_v"))).alias("hi_clamp"),
              F.sum(F.col("_v") * mid).alias("_midsum")))
    wsum = (F.col("_midsum")
            + F.col("k_per_side") * F.col("lo_clamp")
            + F.col("k_per_side") * F.col("hi_clamp"))
    return s.select(
        *group_cols, "n", "k_per_side", "lo_clamp", "hi_clamp",
        wsum.alias("winsorized_sum"),
        (wsum.cast("double") / F.col("n").cast("double"))
        .alias("winsorized_mean"))


def mann_kendall(df: DataFrame, *, value_col: str,
                 order_cols: list[str] | str,
                 group_cols: list[str]) -> DataFrame:
    """Mann–Kendall monotonic-trend test per group — the
    nonparametric "is this series drifting?" primitive beside
    :func:`cusum_changepoint`'s level-shift view and
    :func:`lag_autocorr`'s persistence view: S = Σ_{i<j}
    sign(x_j − x_i) over all ordered pairs, with the tie-corrected
    variance and the standard ±1-continuity z.

    Determinism: values must be INTEGER (floats raise — integerize
    first, the :func:`corr_matrix` rule); S is an exact BIGINT sum of
    ±1/0, and 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) over tie
    groups t is exact BIGINT arithmetic, so z is ONE fixed IEEE
    expression (sqrt is correctly rounded) — bit-identical across
    engines with no quantization needed. ``order_cols`` must be
    UNIQUE per group (composite keys allowed; the pair predicate is
    lexicographic), exactly the :func:`lag_autocorr` contract.

    Scale shape: the pair generation is a PER-GROUP self-join (one
    equi-join on the group key) — O(n²) pairs per group by
    definition of S, so this is for MANY SMALL SERIES (per-user /
    per-sensor trend screens), not one giant series; a hot group with
    n rows forms n² candidates in one bucket. For a single huge
    series, thin it first (e.g. daily aggregates). Tie counts and n
    come from two more hash-aggregates sharing the group key.

    Output: (group..., n, s_stat BIGINT, var18 BIGINT, z DOUBLE) — z
    NULL when n < 2 or Var(S) = 0 (all values tied).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"mann_kendall: {value_col!r} is floating-point — "
            "integerize first (exact integer sums are the "
            "determinism contract)")
    if not group_cols:
        raise ValueError("mann_kendall: group_cols must be non-empty")
    ocols = [order_cols] if isinstance(order_cols, str) else \
        list(order_cols)
    if not ocols:
        raise ValueError("order_cols must be non-empty")
    keep = F.col(value_col).isNotNull()
    for c in ocols + group_cols:
        keep = keep & F.col(c).isNotNull()
    base = df.where(keep).select(
        *group_cols,
        F.struct(*[F.col(c) for c in ocols]).alias("_o"),
        F.col(value_col).cast("long").alias("_x"))
    a = base.select(*group_cols, F.col("_o").alias("_oi"),
                    F.col("_x").alias("_xi"))
    b = base.select(*group_cols, F.col("_o").alias("_oj"),
                    F.col("_x").alias("_xj"))
    s = (a.join(b, group_cols)
         .where(F.col("_oi") < F.col("_oj"))
         .groupBy(*group_cols)
         .agg(F.sum(F.signum(F.col("_xj") - F.col("_xi"))
                    .cast("long")).alias("s_stat")))
    nrow = base.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n"))
    ties = (base.groupBy(*group_cols, "_x")
            .agg(F.count(F.lit(1)).alias("_t"))
            .groupBy(*group_cols)
            .agg(F.sum(F.col("_t") * (F.col("_t") - 1)
                       * (2 * F.col("_t") + 5)).alias("_corr")))
    nn = F.col("n").cast("long")
    var18 = (nn * (nn - 1) * (2 * nn + 5) - F.col("_corr"))
    out = (nrow.join(ties, group_cols).join(s, group_cols, "left")
           .select(*group_cols, "n",
                   F.coalesce(F.col("s_stat"), F.lit(0).cast("long"))
                   .alias("s_stat"),
                   var18.alias("var18")))
    sd = F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    zc = (F.when(F.col("s_stat") > 0,
                 (F.col("s_stat") - 1).cast("double") / sd)
          .when(F.col("s_stat") < 0,
                (F.col("s_stat") + 1).cast("double") / sd)
          .otherwise(F.lit(0.0)))
    ok = (F.col("n") >= 2) & (F.col("var18") > 0)
    return out.withColumn("z", F.when(ok, zc))


def brown_forsythe(df: DataFrame, *, value_col: str,
                   factor_col: str) -> DataFrame:
    """Brown–Forsythe equality-of-variances test across the k levels
    of ``factor_col`` — the robust Levene variant: one-way ANOVA on
    the absolute deviations from each level's MEDIAN. The gatekeeper
    you run before trusting :func:`oneway_anova`'s equal-variance
    assumption.

    Determinism: values must be INTEGER (floats raise); the level
    median is the LOWER median (the ceil(n/2)-th smallest — kept
    integral so |x − med| stays an exact BIGINT; for even n this
    deviates from the interpolated median by at most half the central
    gap, a documented robustness-irrelevant choice). The deviations
    then flow through :func:`oneway_anova`'s exact milli-unit sums —
    every cross-engine guarantee carries over.

    Scale shape: one window per level (row_number + count share a
    single Exchange) to select the median row, a broadcast join of
    the k-row median frame back onto the data, then oneway_anova's
    two hash-aggregates. NULL values/levels drop.

    Output: (k, n, ssb_milli, ssw_milli, f_stat) — oneway_anova's
    contract on the deviation frame.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"brown_forsythe: {value_col!r} is floating-point — "
            "integerize first (exact integer sums are the "
            "determinism contract)")
    base = (df.where(F.col(value_col).isNotNull()
                     & F.col(factor_col).isNotNull())
            .select(F.col(factor_col).alias("_lvl"),
                    F.col(value_col).cast("long").alias("_x")))
    w = Window.partitionBy("_lvl").orderBy(F.col("_x").asc())
    wall = Window.partitionBy("_lvl").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    med = (base.select("_lvl", "_x",
                       F.row_number().over(w).alias("_rn"),
                       F.count(F.lit(1)).over(wall).alias("_n"))
           .where(F.col("_rn") == F.expr("(_n + 1) div 2"))
           .select("_lvl", F.col("_x").alias("_med")))
    dev = (base.join(F.broadcast(med), "_lvl")
           .select("_lvl", F.abs(F.col("_x") - F.col("_med"))
                   .alias("_z")))
    return oneway_anova(dev, value_col="_z", factor_col="_lvl")


#: Abramowitz & Stegun 7.1.26 erfc coefficients — FIXED literals so
#: both engines evaluate the identical polynomial (the
#: quality._BENFORD_MICRO rule: never let a runtime libm special
#: function shape a value the oracle must reproduce beyond exp, whose
#: ulp noise the micro-quantized outputs absorb).
_ERFC_P = 0.3275911
_ERFC_A = (0.254829592, -0.284496736, 1.421413741,
           -1.453152027, 1.061405429)


def normal_two_sided_p(z):
    """Two-sided normal tail probability ``P(|Z| > |z|)`` as a pure
    Column — erfc(|z|/√2) via the Abramowitz–Stegun 7.1.26 rational
    approximation (|error| < 1.5e-7, ample for screening): a fixed
    5-term polynomial in t = 1/(1 + p·x) times exp(−x²). Single fixed
    IEEE expression; exp may differ by an ulp across engines, so
    cross-engine comparisons quantize to micro-units (the
    :func:`~kml2geojson_spark.spatial.ops.haversine_m` rule).
    """
    import math
    x = F.abs(z) / F.lit(math.sqrt(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_ERFC_P) * x)
    poly = F.lit(_ERFC_A[4])
    for a in reversed(_ERFC_A[:4]):
        poly = poly * t + F.lit(a)
    return poly * t * F.exp(-(x * x))


def normal_two_sided_p_sql(z_expr: str) -> str:
    """The ANSI-SQL replay of :func:`normal_two_sided_p` — the same
    literals in the same evaluation order, for DuckDB oracles."""
    import math
    x = f"(ABS({z_expr}) / {math.sqrt(2.0)!r})"
    t = f"(1.0 / (1.0 + {_ERFC_P!r} * {x}))"
    poly = repr(_ERFC_A[4])
    for a in reversed(_ERFC_A[:4]):
        poly = f"(({poly}) * {t} + {a!r})"
    return f"(({poly}) * {t} * EXP(-({x} * {x})))"


def kendall_tau(df: DataFrame, *, col_x: str, col_y: str,
                id_col: str, group_cols: list[str]) -> DataFrame:
    """Kendall's τ-b rank correlation per group — the pair-concordance
    association measure beside :func:`spearman_corr` (rank Pearson)
    and :func:`mann_kendall` (which tests ONE series against time;
    this relates TWO columns): over all unordered row pairs, C counts
    concordant ((xᵢ−xⱼ)(yᵢ−yⱼ) > 0), D discordant, and

        τ_b = (C − D) / sqrt((n₀ − n₁)(n₀ − n₂))

    with n₀ = n(n−1)/2 and the tie corrections n₁ = Σ_t t(t−1)/2 over
    x-tie groups, n₂ likewise over y.

    Determinism: both value columns must be INTEGER (floats raise —
    integerize first, the :func:`corr_matrix` rule); C, D, n₀, n₁, n₂
    are exact BIGINTs and τ_b is ONE fixed IEEE expression of them —
    bit-identical across engines. ``id_col`` must be UNIQUE per group
    (it de-duplicates the pair self-join; which row is "i" never
    matters because concordance is symmetric).

    Scale shape: the pair generation is a PER-GROUP self-join — O(n²)
    pairs per group BY DEFINITION of τ (the same contract as
    :func:`mann_kendall`): built for MANY SMALL SERIES (per-user /
    per-segment association screens), not one giant series — a hot
    group with n rows forms n² candidates in one bucket; thin a huge
    series first. Tie counts come from two more hash-aggregates
    sharing the group key.

    Output: (group..., n, concordant, discordant, n0, n1, n2, tau_b)
    — tau_b NULL when either tie-corrected denominator factor is 0
    (all x tied or all y tied, or n < 2).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    for c in (col_x, col_y):
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"kendall_tau: {c!r} is floating-point — integerize "
                "first (exact integer sums are the determinism "
                "contract)")
    if not group_cols:
        raise ValueError("kendall_tau: group_cols must be non-empty")
    keep = (F.col(col_x).isNotNull() & F.col(col_y).isNotNull()
            & F.col(id_col).isNotNull())
    for c in group_cols:
        keep = keep & F.col(c).isNotNull()
    base = df.where(keep).select(
        *group_cols, F.col(id_col).alias("_i"),
        F.col(col_x).cast("long").alias("_x"),
        F.col(col_y).cast("long").alias("_y"))
    a = base.select(*group_cols, F.col("_i").alias("_ia"),
                    F.col("_x").alias("_xa"), F.col("_y").alias("_ya"))
    b = base.select(*group_cols, F.col("_i").alias("_ib"),
                    F.col("_x").alias("_xb"), F.col("_y").alias("_yb"))
    prod = ((F.col("_xa") - F.col("_xb"))
            * (F.col("_ya") - F.col("_yb")))
    cd = (a.join(b, group_cols)
          .where(F.col("_ia") < F.col("_ib"))
          .groupBy(*group_cols)
          .agg(F.sum(F.when(prod > 0, 1).otherwise(0)).cast("long")
               .alias("concordant"),
               F.sum(F.when(prod < 0, 1).otherwise(0)).cast("long")
               .alias("discordant")))
    nrow = base.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n"))
    tx = (base.groupBy(*group_cols, "_x")
          .agg(F.count(F.lit(1)).alias("_t"))
          .groupBy(*group_cols)
          .agg((F.sum(F.col("_t") * (F.col("_t") - 1)) / 2)
               .cast("long").alias("n1")))
    ty = (base.groupBy(*group_cols, "_y")
          .agg(F.count(F.lit(1)).alias("_t"))
          .groupBy(*group_cols)
          .agg((F.sum(F.col("_t") * (F.col("_t") - 1)) / 2)
               .cast("long").alias("n2")))
    nn = F.col("n").cast("long")
    out = (nrow.join(tx, group_cols).join(ty, group_cols)
           .join(cd, group_cols, "left")
           .select(*group_cols, "n",
                   F.coalesce(F.col("concordant"), F.lit(0).cast("long"))
                   .alias("concordant"),
                   F.coalesce(F.col("discordant"), F.lit(0).cast("long"))
                   .alias("discordant"),
                   (nn * (nn - 1) / 2).cast("long").alias("n0"),
                   "n1", "n2"))
    f1 = (F.col("n0") - F.col("n1")).cast("double")
    f2 = (F.col("n0") - F.col("n2")).cast("double")
    tau = ((F.col("concordant") - F.col("discordant")).cast("double")
           / F.sqrt(f1 * f2))
    ok = (F.col("n0") > F.col("n1")) & (F.col("n0") > F.col("n2"))
    return out.withColumn("tau_b", F.when(ok, tau))


def rolling_corr(df: DataFrame, *, x_col: str, y_col: str,
                 order_col: str, id_col: str,
                 group_cols: list[str], window: int = 20,
                 min_periods: int = 5) -> DataFrame:
    """Per-point trailing-window Pearson correlation between two
    INTEGER series — "are these two metrics moving together RIGHT
    NOW?" (pairs trading, sensor cross-checks, metric drift): the
    two-column sibling of :func:`rolling_zscore`, over the same
    totalized trailing frame of the last ``window`` rows (inclusive).

    Determinism: both values must be INTEGER (floats raise); over the
    frame n, Sx, Sy, Sxy, Sxx, Syy are exact BIGINT window sums —
    frame membership is row-count-defined, so they are partitioning-
    independent — and

        corr = (n·Sxy − Sx·Sy)
               / sqrt((n·Sxx − Sx²) · (n·Syy − Sy²))

    is ONE fixed IEEE expression of identical integers, quantized to
    micro-units (``corr_micro``) for cross-engine comparison. The
    sequence totalizes by (order, id); ``id_col`` must be unique per
    group. Caller guarantees n·|x·y| < 2⁶³ per frame. corr_micro NULL
    while fewer than ``min_periods`` rows are in frame or either
    variance term is 0.

    Scale shape: ONE window partitioning per group supplies every
    sum — single Exchange, no join, no second scan; state per task is
    the ``window``-row frame buffer. NULL keys/ids/values drop.

    Output: input keys + (order, id, x, y, n_window, corr_micro).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    for c in (x_col, y_col):
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"rolling_corr: {c!r} is floating-point — integerize "
                "first (exact integer sums are the determinism "
                "contract)")
    if not group_cols:
        raise ValueError("rolling_corr: group_cols must be non-empty")
    if window < 2 or min_periods < 2:
        raise ValueError("window and min_periods must be >= 2")
    keep = (F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
            & F.col(order_col).isNotNull() & F.col(id_col).isNotNull())
    for c in group_cols:
        keep = keep & F.col(c).isNotNull()
    base = df.where(keep).select(
        *group_cols, F.col(order_col).alias("o"),
        F.col(id_col).alias("id"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"))
    w = (Window.partitionBy(*group_cols)
         .orderBy(F.col("o").asc(), F.col("id").asc())
         .rowsBetween(-(window - 1), 0))
    n = F.count(F.lit(1)).over(w)
    sx = F.sum("x").over(w)
    sy = F.sum("y").over(w)
    sxy = F.sum(F.col("x") * F.col("y")).over(w)
    sxx = F.sum(F.col("x") * F.col("x")).over(w)
    syy = F.sum(F.col("y") * F.col("y")).over(w)
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    corr = (cov.cast("double")
            / F.sqrt(vx.cast("double") * vy.cast("double")))
    ok = (n >= min_periods) & (vx > 0) & (vy > 0)
    return base.select(
        *group_cols, "o", "id", "x", "y",
        n.cast("long").alias("n_window"),
        F.when(ok, F.round(corr * F.lit(1_000_000.0)).cast("long"))
        .alias("corr_micro"))


def target_encode_loo(df: DataFrame, *, cat_col: str, target_col: str,
                      id_col: str, n_folds: int = 5) -> DataFrame:
    """Leakage-guarded (leave-fold-out) target encoding table — the
    standard way to turn a high-cardinality categorical into a model
    feature without letting each row see its own label: rows are
    assigned to ``n_folds`` deterministic folds by md5 of their id
    (the :func:`~kml2geojson_spark.textops.split_assign_col`
    discipline — stable across runs, engines and partitionings), and
    fold f's encoding for a category is the target mean computed from
    the OTHER folds only. Join the output back on (cat, fold) to
    attach the feature.

    Determinism: the target must be INTEGER (floats raise); per
    (cat, fold) n/sum are exact BIGINTs from ONE hash-aggregate,
    category totals re-aggregate THAT frame (no second scan), the
    leave-out numerator/denominator are exact differences, and the
    encoding is ONE division. ``encoding`` NULL when the category
    exists only in that fold (loo_n = 0 — caller falls back to the
    global prior).

    Scale shape: one (cat, fold) hash-aggregate with map-side
    combine, one re-aggregate keyed by cat, one equi-join back on cat
    — never keyed by row. NULL cats/ids/targets drop.

    Output: (cat, fold INT, loo_n BIGINT, loo_sum BIGINT,
    encoding DOUBLE).
    """
    from pyspark.sql.types import DoubleType, FloatType

    from .textops import md5_bucket_col

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[target_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"target_encode_loo: {target_col!r} is floating-point — "
            "integerize first (exact integer sums are the "
            "determinism contract)")
    if not 2 <= n_folds <= 256:
        raise ValueError(f"n_folds must be in [2, 256], got {n_folds}")
    base = (df.where(F.col(cat_col).isNotNull()
                     & F.col(id_col).isNotNull()
                     & F.col(target_col).isNotNull())
            .select(F.col(cat_col).alias("cat"),
                    (md5_bucket_col(F.col(id_col)) % n_folds)
                    .cast("int").alias("fold"),
                    F.col(target_col).cast("long").alias("_y")))
    cf = (base.groupBy("cat", "fold")
          .agg(F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_s")))
    tot = (cf.groupBy("cat")
           .agg(F.sum("_n").alias("_tn"), F.sum("_s").alias("_ts")))
    j = cf.join(tot, "cat")
    loo_n = (F.col("_tn") - F.col("_n")).alias("loo_n")
    loo_s = (F.col("_ts") - F.col("_s")).alias("loo_sum")
    return j.select(
        "cat", "fold", loo_n, loo_s,
        F.when(F.col("_tn") - F.col("_n") > 0,
               (F.col("_ts") - F.col("_s")).cast("double")
               / (F.col("_tn") - F.col("_n")).cast("double"))
        .alias("encoding"))


def cronbach_alpha(df: DataFrame, *, item_cols: list[str]) -> DataFrame:
    """Cronbach's α internal-consistency reliability over k INTEGER
    item columns — "do these k measurements hang together as one
    scale?" (survey items, repeated quality raters, redundant
    sensors); the reliability closer beside
    :func:`~kml2geojson_spark.quality.cohens_kappa` (two raters,
    categorical) and :func:`corr_matrix` (pairwise only):

        α = k/(k−1) · (1 − Σᵢ σ²ᵢ / σ²_T),   T = Σᵢ itemᵢ

    Determinism: population variances enter only as a RATIO with the
    same n² denominator, so it cancels exactly: A = Σᵢ (n·Σxᵢ² −
    Sᵢ²) and B = n·ΣT² − S_T² are exact BIGINTs off ONE
    hash-aggregate pass, and α = k/(k−1)·(1 − A/B) is ONE fixed IEEE
    expression — no flooring, no quantization needed. Rows with ANY
    NULL item drop (complete-case, the classical definition). Floats
    raise; caller guarantees n·k²·max|x|² < 2⁶³.

    Scale shape: one scan, one single-row aggregate (map-side
    combinable) — the k item sums and the total-score sums ride the
    same pass. α NULL when n < 2, k < 2 or σ²_T = 0.

    Output: ONE row (k, n, item_var_num BIGINT, total_var_num BIGINT,
    alpha DOUBLE).
    """
    from pyspark.sql.types import DoubleType, FloatType

    k = len(item_cols)
    if k < 2:
        raise ValueError("cronbach_alpha needs >= 2 item columns")
    fields = {f.name: f for f in df.schema.fields}
    for c in item_cols:
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"cronbach_alpha: {c!r} is floating-point — "
                "integerize first (exact integer sums are the "
                "determinism contract)")
    keep = F.lit(True)
    for c in item_cols:
        keep = keep & F.col(c).isNotNull()
    items = [F.col(c).cast("long") for c in item_cols]
    t = items[0]
    for it in items[1:]:
        t = t + it
    base = df.where(keep).select(
        *[it.alias(f"_x{i}") for i, it in enumerate(items)],
        t.alias("_t"))
    aggs = [F.count(F.lit(1)).alias("n"),
            F.sum("_t").alias("_st"),
            F.sum(F.col("_t") * F.col("_t")).alias("_sst")]
    for i in range(k):
        aggs += [F.sum(f"_x{i}").alias(f"_s{i}"),
                 F.sum(F.col(f"_x{i}") * F.col(f"_x{i}"))
                 .alias(f"_ss{i}")]
    g = base.agg(*aggs)
    nn = F.col("n").cast("long")
    a = F.lit(0).cast("long")
    for i in range(k):
        a = a + (nn * F.col(f"_ss{i}") - F.col(f"_s{i}") * F.col(f"_s{i}"))
    b = nn * F.col("_sst") - F.col("_st") * F.col("_st")
    out = g.select(F.lit(k).alias("k"), "n",
                   a.alias("item_var_num"), b.alias("total_var_num"))
    alpha = (F.lit(float(k) / (k - 1))
             * (F.lit(1.0) - F.col("item_var_num").cast("double")
                / F.col("total_var_num").cast("double")))
    ok = (F.col("n") >= 2) & (F.col("total_var_num") > 0)
    return out.withColumn("alpha", F.when(ok, alpha))


def hashed_features(df: DataFrame, *, id_col: str,
                    cat_cols: list[str],
                    n_buckets: int = 64) -> DataFrame:
    """The hashing trick (feature hashing, Weinberger et al. 2009):
    map arbitrary-cardinality categorical columns into a fixed
    ``n_buckets``-dimensional signed count vector per row — the
    vocabulary-free vectorizer for linear/GBDT baselines over web-
    scale categoricals (no fit pass, no dictionary to ship). Long
    format: join/pivot downstream as needed.

    Feature value ``col=value`` hashes with md5 (engine-portable, the
    :func:`~kml2geojson_spark.textops.md5_bucket_col` discipline):
    bucket = 60-bit hex prefix mod ``n_buckets``; the collision-bias
    sign is the parity of hex digit 16 (+1 even, −1 odd) — the
    standard signed variant that makes colliding features cancel in
    expectation rather than accumulate. Per (id, bucket) the value is
    an exact BIGINT sum of ±1. NULL category values contribute
    nothing (skipped, not hashed).

    Scale shape: a k-struct literal array explodes each row into its
    k present features (zero Python, whole-stage codegen md5), then
    ONE (id, bucket) hash-aggregate with map-side combine. Output
    rows ≤ k per input row — never n_buckets.

    Output: (id, bucket INT, feat_val BIGINT).
    """
    if not cat_cols:
        raise ValueError("hashed_features: cat_cols must be non-empty")
    if not 2 <= n_buckets <= 1 << 20:
        raise ValueError(
            f"n_buckets must be in [2, 2^20], got {n_buckets}")
    feats = F.array(*[
        F.when(F.col(c).isNotNull(),
               F.concat_ws("=", F.lit(c), F.col(c).cast("string")))
        for c in cat_cols])
    d = (df.where(F.col(id_col).isNotNull())
         .select(F.col(id_col).alias("id"),
                 F.explode(feats).alias("_f"))
         .where(F.col("_f").isNotNull()))
    hx = F.md5(F.col("_f"))
    h = F.conv(F.substring(hx, 1, 15), 16, 10).cast("long")
    sign_digit = F.conv(F.substring(hx, 16, 1), 16, 10).cast("long")
    sign = F.when(sign_digit % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    return (d.select("id",
                     F.pmod(h, F.lit(n_buckets)).cast("int")
                     .alias("bucket"),
                     sign.alias("_sgn"))
            .groupBy("id", "bucket")
            .agg(F.sum("_sgn").cast("long").alias("feat_val")))


def cuped_adjusted_means(df: DataFrame, *, metric_col: str,
                         covariate_col: str,
                         arm_col: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. 2013):
    per arm, the pre-period-covariate-adjusted metric mean

        ŷ_arm = ȳ_arm − θ·(x̄_arm − x̄),   θ = cov(x, y) / var(x)

    with θ estimated on the POOLED data — the standard trick that
    removes pre-existing user-level variation from an A/B readout
    (often 30-60% variance reduction). Pair with
    :func:`welch_ttest` on the adjusted metric for the final call.

    Determinism: metric and covariate must be INTEGER (floats raise);
    per-arm n/Σy/Σx and pooled Σxy/Σx² are exact BIGINTs from ONE
    hash-aggregate pass (the pooled terms are exact sums of the arm
    partials); θ = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) is ONE fixed IEEE
    expression of exact integers, and each arm's adjusted mean is a
    fixed expression of θ and exact arm sums. Caller guarantees
    n·|x·y| < 2⁶³.

    Scale shape: one (arm) hash-aggregate with map-side combine; the
    pooled re-aggregate runs on the arm-level rows. No window, no
    join. θ NULL (and adjusted = raw mean) when pooled var(x) = 0.

    Output: (arm, n, mean_y, mean_x, theta, adjusted_mean).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    for c in (metric_col, covariate_col):
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"cuped_adjusted_means: {c!r} is floating-point — "
                "integerize first (exact integer sums are the "
                "determinism contract)")
    base = (df.where(F.col(arm_col).isNotNull()
                     & F.col(metric_col).isNotNull()
                     & F.col(covariate_col).isNotNull())
            .select(F.col(arm_col).alias("arm"),
                    F.col(metric_col).cast("long").alias("_y"),
                    F.col(covariate_col).cast("long").alias("_x")))
    arms = (base.groupBy("arm")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("_y").alias("_sy"), F.sum("_x").alias("_sx"),
                 F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
                 F.sum(F.col("_x") * F.col("_x")).alias("_sxx")))
    pooled = F.broadcast(arms.agg(
        F.sum("n").alias("_pn"), F.sum("_sy").alias("_psy"),
        F.sum("_sx").alias("_psx"), F.sum("_sxy").alias("_psxy"),
        F.sum("_sxx").alias("_psxx")))
    j = arms.crossJoin(pooled)
    # the pooled cross-products overflow BIGINT at ~1e5 rows of
    # cent-scale metrics (pn·Σxy ~ n²·mean(xy)) — carry them as
    # DECIMAL(38,0)/HUGEINT exact values; the oracle-comparison
    # caveat is the jarque_bera 2^53 conversion-window rule: size
    # the integerization so |pn·Σxy| < 2^53 when hash-comparing
    # cross-engine
    pn = F.col("_pn").cast("decimal(38,0)")
    psxx = F.col("_psxx").cast("decimal(38,0)")
    psxy = F.col("_psxy").cast("decimal(38,0)")
    psx = F.col("_psx").cast("decimal(38,0)")
    psy = F.col("_psy").cast("decimal(38,0)")
    varx = pn * psxx - psx * psx
    covxy = pn * psxy - psx * psy
    theta = F.when(varx > 0, covxy.cast("double") / varx.cast("double"))
    mean_y = F.col("_sy").cast("double") / F.col("n").cast("double")
    mean_x = F.col("_sx").cast("double") / F.col("n").cast("double")
    pooled_mx = F.col("_psx").cast("double") / pn.cast("double")
    adj = F.when(varx > 0, mean_y - theta * (mean_x - pooled_mx)) \
        .otherwise(mean_y)
    return j.select("arm", "n", mean_y.alias("mean_y"),
                    mean_x.alias("mean_x"), theta.alias("theta"),
                    adj.alias("adjusted_mean"))


def diff_in_diff(df: DataFrame, *, metric_col: str,
                 group_col: str, period_col: str,
                 treated_value, post_value) -> DataFrame:
    """Difference-in-differences estimator over a 2×2 design — the
    quasi-experimental workhorse when you could not randomize:

        DID = (ȳ_treated,post − ȳ_treated,pre)
            − (ȳ_control,post − ȳ_control,pre)

    ``group_col`` rows equal to ``treated_value`` are the treated
    arm; ``period_col`` rows equal to ``post_value`` are the post
    period; everything else is control/pre respectively.

    Determinism: the metric must be INTEGER (floats raise); the four
    cell n/Σ pairs are exact BIGINTs from ONE hash-aggregate, each
    mean is ONE division, and DID is one fixed IEEE expression.

    Scale shape: one scan, one 4-row hash-aggregate (map-side
    combinable), one single-row reassembly. DID NULL when any of the
    four cells is empty.

    Output: ONE row (n_tp, n_tr, n_cp, n_cr, mean_treated_post,
    mean_treated_pre, mean_control_post, mean_control_pre, did) —
    ``*_pre`` suffixed "r" counts for brevity in the n columns.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[metric_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"diff_in_diff: {metric_col!r} is floating-point — "
            "integerize first (exact integer sums are the "
            "determinism contract)")
    tr = (F.col(group_col) == F.lit(treated_value)).cast("int")
    po = (F.col(period_col) == F.lit(post_value)).cast("int")
    base = (df.where(F.col(group_col).isNotNull()
                     & F.col(period_col).isNotNull()
                     & F.col(metric_col).isNotNull())
            .select(tr.alias("_t"), po.alias("_p"),
                    F.col(metric_col).cast("long").alias("_y")))

    def cell(t, p, what):
        cond = (F.col("_t") == t) & (F.col("_p") == p)
        if what == "n":
            return F.sum(cond.cast("long"))
        return F.sum(F.when(cond, F.col("_y")).otherwise(F.lit(0)))

    g = base.agg(
        cell(1, 1, "n").alias("n_tp"), cell(1, 1, "s").alias("_stp"),
        cell(1, 0, "n").alias("n_tr"), cell(1, 0, "s").alias("_str"),
        cell(0, 1, "n").alias("n_cp"), cell(0, 1, "s").alias("_scp"),
        cell(0, 0, "n").alias("n_cr"), cell(0, 0, "s").alias("_scr"))

    def mean(s, n):
        return F.when(F.col(n) > 0,
                      F.col(s).cast("double") / F.col(n).cast("double"))

    mtp, mtr = mean("_stp", "n_tp"), mean("_str", "n_tr")
    mcp, mcr = mean("_scp", "n_cp"), mean("_scr", "n_cr")
    ok = ((F.col("n_tp") > 0) & (F.col("n_tr") > 0)
          & (F.col("n_cp") > 0) & (F.col("n_cr") > 0))
    return g.select(
        "n_tp", "n_tr", "n_cp", "n_cr",
        mtp.alias("mean_treated_post"), mtr.alias("mean_treated_pre"),
        mcp.alias("mean_control_post"), mcr.alias("mean_control_pre"),
        F.when(ok, (mtp - mtr) - (mcp - mcr)).alias("did"))


def theil_sen(df: DataFrame, *, value_col: str, t_col: str,
              group_cols: list[str]) -> DataFrame:
    """Theil–Sen slope estimator per group — the robust trend
    MAGNITUDE beside :func:`mann_kendall`'s trend DIRECTION test
    (same pairwise shape; run them together): the lower median of the
    pairwise slopes (x_j − x_i)/(t_j − t_i) over all pairs with
    t_i < t_j.  Breakdown point ~29% — a single wild outlier that
    would wreck :func:`group_ols`'s least-squares slope moves the
    pairwise-slope median not at all.

    Determinism: value AND time must be INTEGER (floats raise — the
    :func:`mann_kendall` integerize-first rule).  Each pair slope is
    ONE long-subtraction pair and ONE IEEE double division
    (correctly rounded) — bit-identical on every engine; pairs with
    t_i = t_j are EXCLUDED (slope undefined; ties in t belong to the
    Mann–Kendall tie correction, not the slope set).  The reported
    slope is the LOWER median — the ceil(m/2)-th smallest of the m
    pair slopes — selected by sort position, so it is always an
    actual quotient of the data, never an interpolated midpoint.

    Scale shape: pair generation is a per-group equi-self-join
    (O(n²) pairs per group — MANY SMALL SERIES, the mann_kendall
    contract; thin a single huge series first), then ONE window
    (row_number over slope) per group to select the median position.
    NULL values/times/keys drop.

    Output: (group..., n_pairs BIGINT, slope DOUBLE) — slope NULL
    when no pair has distinct times.
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    for c in (value_col, t_col):
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"theil_sen: {c!r} is floating-point — integerize "
                "first (exact integer differences are the "
                "determinism contract)")
    if not group_cols:
        raise ValueError("theil_sen: group_cols must be non-empty")
    keep = F.col(value_col).isNotNull() & F.col(t_col).isNotNull()
    for c in group_cols:
        keep = keep & F.col(c).isNotNull()
    base = df.where(keep).select(
        *group_cols,
        F.col(t_col).cast("long").alias("_t"),
        F.col(value_col).cast("long").alias("_x"))
    a = base.select(*group_cols, F.col("_t").alias("_ti"),
                    F.col("_x").alias("_xi"))
    b = base.select(*group_cols, F.col("_t").alias("_tj"),
                    F.col("_x").alias("_xj"))
    pairs = (a.join(b, group_cols)
             .where(F.col("_ti") < F.col("_tj"))
             .select(*group_cols,
                     ((F.col("_xj") - F.col("_xi")).cast("double")
                      / (F.col("_tj") - F.col("_ti")).cast("double"))
                     .alias("_slope")))
    w = Window.partitionBy(*group_cols).orderBy(F.col("_slope").asc())
    ranked = (pairs
              .withColumn("_rn", F.row_number().over(w))
              .withColumn("_m", F.count(F.lit(1)).over(
                  Window.partitionBy(*group_cols))))
    med = (ranked
           .where(F.col("_rn") == F.floor((F.col("_m") + 1) / 2))
           .select(*group_cols, F.col("_m").alias("n_pairs"),
                   F.col("_slope").alias("slope")))
    # groups whose every pair is t-tied produce zero pairs: surface
    # them with NULL slope so the caller sees the degenerate series
    allg = base.select(*group_cols).distinct()
    return (allg.join(med, group_cols, "left")
            .select(*group_cols,
                    F.coalesce(F.col("n_pairs"), F.lit(0).cast("long"))
                    .alias("n_pairs"),
                    "slope"))


#: Poisson(1) CDF at k = 0..6 — the exact double literals shared with
#: the DuckDB oracle's CASE chain (draws capped at 7; P(X>7) ~ 1e-5).
POISSON1_CDF = (0.36787944117144233, 0.7357588823428847,
                0.9196986029286058, 0.9810118431238463,
                0.9963401531726563, 0.9994058151824183,
                0.999916758850712)

#: 2^52 — md5's first 13 hex chars as an exactly-double-representable
#: uniform denominator (u = h / 2^52 is exact; no rounding in the
#: threshold compares).
_U52_DEN = 4503599627370496.0


def _md5_u52(*parts: F.Column) -> F.Column:
    """Deterministic uniform in [0,1): first 13 md5 hex chars (52
    bits) of the ':'-joined parts → exact double division. DuckDB
    replay: ``('0x' || substr(md5(s), 1, 13))::BIGINT / 2^52``."""
    s = F.concat_ws(":", *parts)
    return (F.conv(F.substring(F.md5(s), 1, 13), 16, 10)
            .cast("long").cast("double") / F.lit(_U52_DEN))


def poisson1_draw(u: F.Column) -> F.Column:
    """Inverse-CDF Poisson(1) draw from a uniform — the multinomial
    approximation a DISTRIBUTED bootstrap uses for resample weights
    (Kleiner et al.'s bag-of-little-bootstraps observation: per-row
    iid Poisson(1) counts ≈ sampling with replacement, with no global
    coordination). Fixed literal thresholds → engine-portable."""
    out = F.lit(7)
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        out = F.when(u < F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(out)
    return out


def bootstrap_ci(df: DataFrame, *, value_col: str, id_col: str,
                 n_resamples: int = 200, alpha_permille: int = 50,
                 seed: str = "boot") -> DataFrame:
    """Deterministic percentile-bootstrap CI for the mean — the
    uncertainty attachment for any pipeline metric
    (:func:`winsorized_mean`, quality scores, A/B deltas) without a
    normality assumption.  Resampling is DERANDOMIZED: row weights
    are Poisson(1) draws from md5(seed:id:b) (:func:`poisson1_draw`
    — the distributed bootstrap's multinomial approximation), so
    every engine, run, and partitioning produces the SAME resamples
    — the reproducibility contract of :func:`split_assign_col`.

    Determinism: values must be INTEGER (floats raise); each
    resample mean is exact BIGINT Σw·x / Σw with ONE IEEE division;
    the CI bounds are ORDER STATISTICS of the resample means (the
    ceil(B_eff·α/2·10⁻³)-th smallest / largest — selected, never
    interpolated).  Resamples whose total weight is 0 (possible only
    for tiny n) are dropped and B_eff reported.

    Scale shape: one explode to n·B rows (generated map-side, no
    shuffle), ONE hash-aggregate to B rows (map-side partials), one
    tiny window over B rows.  B multiplies the scan — at 100 TB
    bound B (~100-500) or bootstrap a deterministic sample
    (:func:`~kml2geojson_spark.sketch.deterministic_sample`).

    Output ONE row: (n BIGINT, observed_mean DOUBLE, b_eff BIGINT,
    lo_mean DOUBLE, hi_mean DOUBLE).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"bootstrap_ci: {value_col!r} is floating-point — "
            "integerize first (exact integer sums are the "
            "determinism contract)")
    if n_resamples < 2:
        raise ValueError(f"n_resamples must be >= 2, got {n_resamples}")
    if not 0 < alpha_permille < 1000:
        raise ValueError(
            f"alpha_permille must be in (0, 1000), got {alpha_permille}")
    base = (df.where(F.col(value_col).isNotNull()
                     & F.col(id_col).isNotNull())
            .select(F.col(id_col).cast("string").alias("_id"),
                    F.col(value_col).cast("long").alias("_x")))
    obs = base.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("_x").cast("double")
         / F.count(F.lit(1)).cast("double")).alias("observed_mean"))
    rs = base.select(
        "_id", "_x",
        F.explode(F.sequence(F.lit(1), F.lit(int(n_resamples))))
        .alias("_b"))
    w = poisson1_draw(_md5_u52(F.lit(seed), F.col("_id"),
                               F.col("_b").cast("string"))).cast("long")
    means = (rs.withColumn("_w", w)
             .groupBy("_b")
             .agg(F.sum(F.col("_w") * F.col("_x")).alias("_sx"),
                  F.sum("_w").alias("_sw"))
             .where(F.col("_sw") > 0)
             .select((F.col("_sx").cast("double")
                      / F.col("_sw").cast("double")).alias("_m")))
    wnd = Window.orderBy(F.col("_m").asc())
    ranked = (means.withColumn("_rn", F.row_number().over(wnd))
              .withColumn("_beff", F.count(F.lit(1)).over(
                  Window.partitionBy())))
    half = F.ceil(F.col("_beff") * F.lit(int(alpha_permille))
                  / F.lit(2000.0)).cast("long")
    lo = (ranked.where(F.col("_rn") == half)
          .select(F.col("_beff").alias("b_eff"),
                  F.col("_m").alias("lo_mean")))
    hi = (ranked.where(F.col("_rn") == F.col("_beff") - half + 1)
          .select(F.col("_beff").alias("b_eff2"),
                  F.col("_m").alias("hi_mean")))
    return (obs.crossJoin(lo).crossJoin(hi)  # all single-row frames
            .select("n", "observed_mean", "b_eff", "lo_mean", "hi_mean"))


def permutation_test(df: DataFrame, *, value_col: str, group_col: str,
                     group_a: str, group_b: str, id_col: str,
                     n_rounds: int = 200,
                     seed: str = "perm") -> DataFrame:
    """Derandomized two-sample randomization test for the difference
    of means — the nonparametric p-value beside :func:`welch_ttest`'s
    parametric one, with NO distributional assumption: in each round
    every row is RELABELED to pseudo-group A with probability
    n_a/(n_a+n_b) by its md5(seed:id:round) uniform (the
    binomial-relabeling variant of the permutation test — group
    sizes vary binomially instead of being held exactly fixed, the
    price of a coordination-free distributed shuffle; exact
    fixed-size permutation would need a global sort per round), and
    the round's mean difference is compared to the observed one.

    p = (1 + #{|d_r| ≥ |d_obs|}) / (R_eff + 1) — the add-one
    estimator, never exactly 0.  Rounds where either pseudo-group is
    empty are dropped (tiny-n edge) and R_eff reported.

    Determinism: integer values enforced; every mean is exact BIGINT
    sums + ONE division; the relabeling threshold n_a/n is one
    double division — all engine-portable, zero RNG state.

    Scale shape: one explode to n·R rows (map-side), ONE
    hash-aggregate to R rows (conditional sums — no join), driver-free
    final reduce.  Same B-bounding advice as :func:`bootstrap_ci`.

    Output ONE row: (n_a BIGINT, n_b BIGINT, observed_diff DOUBLE,
    r_eff BIGINT, n_extreme BIGINT, p_value DOUBLE).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"permutation_test: {value_col!r} is floating-point — "
            "integerize first (exact integer sums are the "
            "determinism contract)")
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")
    if group_a == group_b:
        raise ValueError("group_a and group_b must differ")
    base = (df.where(F.col(value_col).isNotNull()
                     & F.col(id_col).isNotNull()
                     & F.col(group_col).isin(group_a, group_b))
            .select(F.col(id_col).cast("string").alias("_id"),
                    (F.col(group_col) == group_a).alias("_is_a"),
                    F.col(value_col).cast("long").alias("_x")))
    obs = base.groupBy().agg(
        F.sum(F.when(F.col("_is_a"), 1).otherwise(0)).cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("_is_a"), 0).otherwise(1)).cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("_is_a"), F.col("_x"))).alias("_sa"),
        F.sum(F.when(~F.col("_is_a"), F.col("_x"))).alias("_sb"))
    obs = obs.select(
        "n_a", "n_b",
        (F.col("_sa").cast("double") / F.col("n_a").cast("double")
         - F.col("_sb").cast("double") / F.col("n_b").cast("double"))
        .alias("observed_diff"),
        (F.col("n_a").cast("double")
         / (F.col("n_a") + F.col("n_b")).cast("double")).alias("_pa"))
    rs = base.select(
        "_id", "_x",
        F.explode(F.sequence(F.lit(1), F.lit(int(n_rounds))))
        .alias("_r"))
    u = _md5_u52(F.lit(seed), F.col("_id"), F.col("_r").cast("string"))
    # threshold _pa is a 1-row broadcast join (scalar, no shuffle skew)
    rounds = (rs.crossJoin(F.broadcast(obs.select("_pa")))
              .withColumn("_to_a", u < F.col("_pa"))
              .groupBy("_r")
              .agg(F.sum(F.when(F.col("_to_a"), 1).otherwise(0))
                   .cast("long").alias("_na"),
                   F.sum(F.when(~F.col("_to_a"), 1).otherwise(0))
                   .cast("long").alias("_nb"),
                   F.sum(F.when(F.col("_to_a"), F.col("_x")))
                   .alias("_sa"),
                   F.sum(F.when(~F.col("_to_a"), F.col("_x")))
                   .alias("_sb"))
              .where((F.col("_na") > 0) & (F.col("_nb") > 0))
              .select((F.col("_sa").cast("double")
                       / F.col("_na").cast("double")
                       - F.col("_sb").cast("double")
                       / F.col("_nb").cast("double")).alias("_d")))
    tally = rounds.crossJoin(F.broadcast(obs)).groupBy().agg(
        F.first("n_a").alias("n_a"), F.first("n_b").alias("n_b"),
        F.first("observed_diff").alias("observed_diff"),
        F.count(F.lit(1)).alias("r_eff"),
        F.sum(F.when(F.abs(F.col("_d"))
                     >= F.abs(F.col("observed_diff")), 1)
              .otherwise(0)).cast("long").alias("n_extreme"))
    return tally.select(
        "n_a", "n_b", "observed_diff", "r_eff", "n_extreme",
        ((F.lit(1) + F.col("n_extreme")).cast("double")
         / (F.col("r_eff") + F.lit(1)).cast("double")).alias("p_value"))


def hodges_lehmann(df: DataFrame, *, value_col: str,
                   order_cols: list[str] | str,
                   group_cols: list[str]) -> DataFrame:
    """Hodges–Lehmann location estimator per group — the robust
    CENTER beside :func:`theil_sen`'s robust slope: the lower median
    of the Walsh averages (x_i + x_j)/2 over all pairs i ≤ j
    (singletons included).  ~29% breakdown, ~95% Gaussian efficiency
    — strictly better than the median's 64% when the data is clean,
    just as robust when it isn't.

    Determinism: values must be INTEGER (floats raise); each Walsh
    average is ONE exact long addition and ONE IEEE halving; the
    reported value is the LOWER median selected by sort position.
    ``order_cols`` must be unique per group (the
    :func:`mann_kendall` contract) — they only define the i ≤ j pair
    universe, never the result value.

    Scale shape: per-group equi-self-join (O(n²) Walsh pairs — many
    small series) + ONE selection window per group.

    Output: (group..., n_pairs BIGINT, hl_estimate DOUBLE).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[value_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"hodges_lehmann: {value_col!r} is floating-point — "
            "integerize first (exact integer sums are the "
            "determinism contract)")
    if not group_cols:
        raise ValueError("hodges_lehmann: group_cols must be non-empty")
    ocols = [order_cols] if isinstance(order_cols, str) else \
        list(order_cols)
    keep = F.col(value_col).isNotNull()
    for c in ocols + group_cols:
        keep = keep & F.col(c).isNotNull()
    base = df.where(keep).select(
        *group_cols,
        F.struct(*[F.col(c) for c in ocols]).alias("_o"),
        F.col(value_col).cast("long").alias("_x"))
    a = base.select(*group_cols, F.col("_o").alias("_oi"),
                    F.col("_x").alias("_xi"))
    b = base.select(*group_cols, F.col("_o").alias("_oj"),
                    F.col("_x").alias("_xj"))
    pairs = (a.join(b, group_cols)
             .where(F.col("_oi") <= F.col("_oj"))
             .select(*group_cols,
                     ((F.col("_xi") + F.col("_xj")).cast("double")
                      / F.lit(2.0)).alias("_w")))
    w = Window.partitionBy(*group_cols).orderBy(F.col("_w").asc())
    ranked = (pairs.withColumn("_rn", F.row_number().over(w))
              .withColumn("_m", F.count(F.lit(1)).over(
                  Window.partitionBy(*group_cols))))
    return (ranked.where(F.col("_rn") == F.floor((F.col("_m") + 1) / 2))
            .select(*group_cols, F.col("_m").alias("n_pairs"),
                    F.col("_w").alias("hl_estimate")))


def siegel_slope(df: DataFrame, *, value_col: str, t_col: str,
                 group_cols: list[str]) -> DataFrame:
    """Siegel repeated-medians slope per group — the 50%-breakdown
    upgrade of :func:`theil_sen` (29%): for every point i take the
    lower median over j (t_j ≠ t_i) of the pairwise slope
    (x_j − x_i)/(t_j − t_i), then report the lower median of those
    per-point medians.  Survives even when HALF the points are
    corrupted.

    Determinism: integer value and time enforced; each slope is one
    exact-long-difference IEEE division; both median levels are
    selected by sort position (never interpolated).  Points whose
    every partner is t-tied contribute no per-point median;
    duplicate (t, x) rows collapse into one per-point median (their
    slope sets are identical); groups with no usable point yield no
    row (degenerate series — all timestamps equal).

    Scale shape: the same per-group pair equi-self-join as
    :func:`theil_sen` (many small series), then TWO selection
    windows — per (group, point) and per group.

    Output: (group..., n_points BIGINT, slope DOUBLE).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    for c in (value_col, t_col):
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"siegel_slope: {c!r} is floating-point — integerize "
                "first (exact integer differences are the "
                "determinism contract)")
    if not group_cols:
        raise ValueError("siegel_slope: group_cols must be non-empty")
    keep = F.col(value_col).isNotNull() & F.col(t_col).isNotNull()
    for c in group_cols:
        keep = keep & F.col(c).isNotNull()
    base = df.where(keep).select(
        *group_cols,
        F.col(t_col).cast("long").alias("_t"),
        F.col(value_col).cast("long").alias("_x"))
    a = base.select(*group_cols, F.col("_t").alias("_ti"),
                    F.col("_x").alias("_xi"))
    b = base.select(*group_cols, F.col("_t").alias("_tj"),
                    F.col("_x").alias("_xj"))
    pairs = (a.join(b, group_cols)
             .where(F.col("_ti") != F.col("_tj"))
             .select(*group_cols, "_ti", "_xi",
                     ((F.col("_xj") - F.col("_xi")).cast("double")
                      / (F.col("_tj") - F.col("_ti")).cast("double"))
                     .alias("_s")))
    # point identity = (t, x): duplicate (t, x) rows collapse into one
    # per-point median (their slope sets are identical), documented
    w1 = Window.partitionBy(*group_cols, "_ti", "_xi")         .orderBy(F.col("_s").asc())
    per_pt = (pairs.withColumn("_rn", F.row_number().over(w1))
              .withColumn("_m", F.count(F.lit(1)).over(
                  Window.partitionBy(*group_cols, "_ti", "_xi")))
              .where(F.col("_rn") == F.floor((F.col("_m") + 1) / 2))
              .select(*group_cols, F.col("_s").alias("_mi")))
    w2 = Window.partitionBy(*group_cols).orderBy(F.col("_mi").asc())
    return (per_pt.withColumn("_rn", F.row_number().over(w2))
            .withColumn("_np", F.count(F.lit(1)).over(
                Window.partitionBy(*group_cols)))
            .where(F.col("_rn") == F.floor((F.col("_np") + 1) / 2))
            .select(*group_cols, F.col("_np").alias("n_points"),
                    F.col("_mi").alias("slope")))


def _require_integer(df: DataFrame, col: str, op: str) -> None:
    """Raise when ``col`` is floating-point — exact integer sums are
    the cross-engine determinism contract (the :func:`mann_kendall`
    rule)."""
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"{op}: {col!r} is floating-point — integerize first "
            "(exact integer sums are the determinism contract)")


def pettitt_test(df: DataFrame, *, value_col: str,
                 order_cols: list[str] | str,
                 group_cols: list[str]) -> DataFrame:
    """Pettitt single-changepoint test per group — the nonparametric
    "WHERE did this series shift?" primitive completing the trend
    family: :func:`mann_kendall` asks IS it drifting,
    :func:`cusum_changepoint` finds a mean shift parametrically, and
    Pettitt locates the split t maximizing the rank statistic
    ``U_t = Σ_{i≤t} Σ_{j>t} sign(x_i − x_j)`` with no distribution
    assumption.

    Algorithm (rank identity, NO pair join): since
    ``Σ_{i,j≤t} sign(x_i − x_j) = 0`` by antisymmetry,
    ``U_t = Σ_{i≤t} (r_lo(i) + r_hi(i) − 1 − n)`` where r_lo/r_hi are
    the min/max competition ranks of x_i in the group (their sum is
    2× the average rank, an exact integer even with ties). So the
    whole test is two rank windows + one cumulative sum —
    O(n log n), not the textbook O(n²).

    Determinism: values must be INTEGER (floats raise); every U_t is
    an exact BIGINT; K = max_{1≤t<n} |U_t| with the EARLIEST t on
    ties. The approximate significance
    ``p = min(1, 2·exp(−6K²/(n³+n²)))`` routes through libm exp, so
    it is reported micro-quantized (``p_micro``, the
    :func:`normal_two_sided_p` rule). ``order_cols`` must be unique
    per group (the :func:`mann_kendall` contract).

    Scale shape: three windows sharing ONE hash partitioning on the
    group key (rank asc, rank desc, cumulative-by-time) plus a final
    per-group argmax window — no self-join, no shuffle beyond the
    group key. Groups with n < 2 are dropped (no interior split
    exists).

    Output: (group..., n BIGINT, k_stat BIGINT, t_index BIGINT
    (1-based prefix length of the pre-change segment), u_at_t BIGINT,
    p_micro BIGINT).
    """
    _require_integer(df, value_col, "pettitt_test")
    if not group_cols:
        raise ValueError("pettitt_test: group_cols must be non-empty")
    ocols = [order_cols] if isinstance(order_cols, str) else \
        list(order_cols)
    if not ocols:
        raise ValueError("order_cols must be non-empty")
    keep = F.col(value_col).isNotNull()
    for c in ocols + group_cols:
        keep = keep & F.col(c).isNotNull()
    base = df.where(keep).select(
        *group_cols,
        F.struct(*[F.col(c) for c in ocols]).alias("_o"),
        F.col(value_col).cast("long").alias("_x"))
    g = Window.partitionBy(*group_cols)
    r_lo = F.rank().over(g.orderBy(F.col("_x").asc())).cast("long")
    r_hi_rev = F.rank().over(g.orderBy(F.col("_x").desc())).cast("long")
    n = F.count(F.lit(1)).over(g).cast("long")
    # r_hi = n + 1 - rank_desc = count of values <= x (max rank)
    sgn = (r_lo + (n + 1 - r_hi_rev) - 1 - n)
    wt = g.orderBy(F.col("_o").asc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stamped = (base
               .withColumn("_sgn", sgn)
               .withColumn("_n", n)
               .withColumn("_u", F.sum("_sgn").over(wt))
               .withColumn("_t", F.row_number().over(
                   g.orderBy(F.col("_o").asc())).cast("long")))
    cand = stamped.where(F.col("_t") < F.col("_n"))
    pick = Window.partitionBy(*group_cols).orderBy(
        F.abs(F.col("_u")).desc(), F.col("_t").asc())
    kd = F.abs(F.col("_u")).cast("double")
    nd = F.col("_n").cast("double")
    p_raw = F.lit(2.0) * F.exp(F.lit(-6.0) * kd * kd
                               / (nd * nd * nd + nd * nd))
    return (cand.withColumn("_rn", F.row_number().over(pick))
            .where(F.col("_rn") == 1)
            .select(*group_cols, F.col("_n").alias("n"),
                    F.abs(F.col("_u")).alias("k_stat"),
                    F.col("_t").alias("t_index"),
                    F.col("_u").alias("u_at_t"),
                    F.floor(F.least(p_raw, F.lit(1.0))
                            * F.lit(1000000.0) + F.lit(0.5))
                    .cast("long").alias("p_micro")))


def grubbs_test(df: DataFrame, *, value_col: str, id_col: str,
                group_cols: list[str]) -> DataFrame:
    """Grubbs extreme-outlier statistic per group — "is the single
    most extreme point too extreme?": G = max|x − mean| / sd, with
    the offending row id. The single-point complement to
    :func:`mad_outliers`' bulk flagging (MAD flags many; Grubbs
    scores THE one, with a known null distribution for testing).

    Determinism: values must be INTEGER (floats raise); Σx and Σx²
    are exact DECIMAL(38,0) sums (HUGEINT on the DuckDB side), and
    n·Σx² − (Σx)² stays exact before ONE conversion to double, so
    sd = sqrt(exact/(n(n−1))) and every |x − mean| are fixed trees of
    correctly-rounded IEEE ops — bit-identical cross-engine, no
    quantization needed. Ties on the max deviation break to the
    SMALLEST id.

    Scale shape: one hash-aggregate for the moments, joined back on
    the group key (one shuffle each), then a per-group argmax window
    sharing that partitioning. The critical-value lookup (a
    t-quantile) is left to the caller — the statistic itself is the
    deterministic part.

    Output: (group..., n BIGINT, outlier_id, outlier_value BIGINT,
    max_dev DOUBLE, g_stat DOUBLE — NULL when n < 3 or sd = 0).
    """
    _require_integer(df, value_col, "grubbs_test")
    if not group_cols:
        raise ValueError("grubbs_test: group_cols must be non-empty")
    keep = (F.col(value_col).isNotNull() & F.col(id_col).isNotNull())
    for c in group_cols:
        keep = keep & F.col(c).isNotNull()
    base = df.where(keep).select(
        *group_cols, F.col(id_col).alias("_id"),
        F.col(value_col).cast("long").alias("_x"))
    xd = F.col("_x").cast("decimal(38,0)")
    mom = (base.groupBy(*group_cols)
           .agg(F.count(F.lit(1)).cast("long").alias("_n"),
                F.sum(xd).alias("_s1"),
                F.sum(xd * xd).alias("_s2")))
    nn = F.col("_n").cast("decimal(38,0)")
    varnum = (nn * F.col("_s2") - F.col("_s1") * F.col("_s1")) \
        .cast("double")
    ndd = F.col("_n").cast("double")
    sd = F.sqrt(varnum / (ndd * (ndd - F.lit(1.0))))
    mom = mom.withColumn(
        "_mean", F.col("_s1").cast("double") / F.col("_n").cast("double")) \
        .withColumn("_sd", F.when(F.col("_n") >= 2, sd))
    j = base.join(mom.select(*group_cols, "_n", "_mean", "_sd"),
                  group_cols)
    dev = F.abs(F.col("_x").cast("double") - F.col("_mean"))
    pick = Window.partitionBy(*group_cols).orderBy(
        dev.desc(), F.col("_id").asc())
    ok = (F.col("_n") >= 3) & F.col("_sd").isNotNull() \
        & (F.col("_sd") > 0)
    return (j.withColumn("_dev", dev)
            .withColumn("_rn", F.row_number().over(pick))
            .where(F.col("_rn") == 1)
            .select(*group_cols, F.col("_n").alias("n"),
                    F.col("_id").alias("outlier_id"),
                    F.col("_x").alias("outlier_value"),
                    F.col("_dev").alias("max_dev"),
                    F.when(ok, F.col("_dev") / F.col("_sd"))
                    .alias("g_stat")))


def jarque_bera(df: DataFrame, *, value_col: str,
                group_cols: list[str]) -> DataFrame:
    """Jarque–Bera normality screen per group:
    ``JB = n/6 · (S² + (K−3)²/4)`` from the sample skewness S and
    kurtosis K — the "can I even use the parametric tests on this
    segment?" gate in front of :func:`welch_ttest` /
    :func:`cohens_d` (both assume rough normality).

    Determinism: values must be INTEGER (floats raise); Σx..Σx⁴ are
    exact DECIMAL(38,0) sums (HUGEINT in the DuckDB oracle), so the
    central-moment formulas are ONE fixed tree of correctly-rounded
    IEEE ops applied to identical doubles — bit-exact cross-engine.
    Keep |x| ≤ ~10⁶ so x⁴ sums fit 38 digits at any realistic group
    size (10²⁴ per row × 10¹³ rows). Oracle-comparison caveat: the
    exact→double conversion itself is only guaranteed identical
    across engines while |Σx⁴| < 2⁵³ (exactly representable);
    beyond that DuckDB's two-step HUGEINT→DOUBLE can differ from the
    JVM by an ulp — integerize coarsely enough to stay inside the
    window (whole units, not cents, for wide-range metrics) or
    quantize before comparing.

    Scale shape: ONE hash-aggregate with map-side combine — four
    power sums per group, no window, no join. The textbook two-pass
    (mean first, then centered powers) is deliberately avoided.

    Output: (group..., n BIGINT, skewness DOUBLE, ex_kurtosis DOUBLE,
    jb_stat DOUBLE — NULL when n < 4 or variance = 0).
    """
    _require_integer(df, value_col, "jarque_bera")
    if not group_cols:
        raise ValueError("jarque_bera: group_cols must be non-empty")
    keep = F.col(value_col).isNotNull()
    for c in group_cols:
        keep = keep & F.col(c).isNotNull()
    base = df.where(keep).select(
        *group_cols, F.col(value_col).cast("long").alias("_x"))
    xd = F.col("_x").cast("decimal(38,0)")
    agg = (base.groupBy(*group_cols)
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(xd).alias("_s1"),
                F.sum(xd * xd).alias("_s2"),
                F.sum(xd * xd * xd).alias("_s3"),
                F.sum(xd * xd * xd * xd).alias("_s4")))
    nd = F.col("n").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    s3 = F.col("_s3").cast("double")
    s4 = F.col("_s4").cast("double")
    mu = s1 / nd
    m2 = s2 / nd - mu * mu
    m3 = s3 / nd - F.lit(3.0) * mu * (s2 / nd) + F.lit(2.0) * mu * mu * mu
    m4 = (s4 / nd - F.lit(4.0) * mu * (s3 / nd)
          + F.lit(6.0) * mu * mu * (s2 / nd)
          - F.lit(3.0) * mu * mu * mu * mu)
    skew = m3 / (m2 * F.sqrt(m2))
    exk = m4 / (m2 * m2) - F.lit(3.0)
    jb = nd / F.lit(6.0) * (skew * skew + exk * exk / F.lit(4.0))
    ok = (F.col("n") >= 4) & (m2 > 0)
    return agg.select(*group_cols, "n",
                      F.when(ok, skew).alias("skewness"),
                      F.when(ok, exk).alias("ex_kurtosis"),
                      F.when(ok, jb).alias("jb_stat"))


def mcnemar_test(df: DataFrame, *, before_col: str, after_col: str,
                 group_cols: list[str]) -> DataFrame:
    """McNemar paired-binary test per group — "did the flag FLIP more
    one way than the other?" over paired observations (same subject
    before/after): only the discordant counts b = #(1→0) and
    c = #(0→1) matter; χ² = (|b−c|−1)²/(b+c) with the standard
    continuity correction. The paired complement to
    :func:`prop_ztest`'s independent two-sample comparison.

    Determinism: b, c are exact BIGINT counts; χ² is one fixed IEEE
    tree — bit-exact. The 1-df significance routes through
    :func:`normal_two_sided_p` (erfc poly, includes exp) so it is
    micro-quantized (``p_micro``).

    Scale shape: ONE hash-aggregate with map-side combine. Rows with
    a NULL flag on either side are dropped (the pair is incomplete).

    Output: (group..., n_pairs BIGINT, b BIGINT, c BIGINT,
    chi2 DOUBLE, p_micro BIGINT — chi2/p NULL when b + c = 0).
    """
    if not group_cols:
        raise ValueError("mcnemar_test: group_cols must be non-empty")
    keep = (F.col(before_col).isNotNull() & F.col(after_col).isNotNull())
    for c in group_cols:
        keep = keep & F.col(c).isNotNull()
    bf = F.col(before_col).cast("int")
    af = F.col(after_col).cast("int")
    agg = (df.where(keep)
           .groupBy(*group_cols)
           .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.sum(F.when((bf == 1) & (af == 0), 1).otherwise(0))
                .cast("long").alias("b"),
                F.sum(F.when((bf == 0) & (af == 1), 1).otherwise(0))
                .cast("long").alias("c")))
    disc = (F.col("b") + F.col("c")).cast("double")
    num = F.greatest(
        F.abs(F.col("b") - F.col("c")) - F.lit(1), F.lit(0)) \
        .cast("double")
    chi2 = num * num / disc
    ok = (F.col("b") + F.col("c")) > 0
    p = normal_two_sided_p(F.sqrt(chi2))
    return agg.select(*group_cols, "n_pairs", "b", "c",
                      F.when(ok, chi2).alias("chi2"),
                      F.when(ok, F.floor(F.least(p, F.lit(1.0))
                                         * F.lit(1000000.0)
                                         + F.lit(0.5)).cast("long"))
                      .alias("p_micro"))


def quantile_normalize(df: DataFrame, *, value_col: str, id_col: str,
                       dist_col: str) -> DataFrame:
    """Quantile normalization across distributions: rank every row
    within its distribution (``dist_col`` — a source, a shard, a
    day), then replace each value with the MEAN of the values holding
    the same rank across all distributions — after which every
    distribution has an identical empirical distribution. The batch
    de-biasing primitive for cross-source score comparison (the
    microarray-normalization classic), completing
    :func:`percentile_rank`'s within-group view with a cross-group
    equalizer.

    Determinism: values must be INTEGER (floats raise); rank is
    ``row_number`` ordered by (value, id) — total order; the target
    for rank r is the exact BIGINT sum of the rank-r values divided
    by their count (one correctly-rounded IEEE division). Unequal
    distribution sizes: rank r averages over the distributions that
    HAVE a rank r (the simple variant; interpolation is out of
    scope and documented away).

    Scale shape: one window (hash-partitioned by distribution), one
    hash-aggregate keyed on rank, one equi-join back on rank — three
    shuffles total, no all-pairs anything. Rank cardinality = max
    distribution size, so the rank-mean table is small relative to
    the data and AQE will broadcast the join side when it fits.

    Output: (dist, id, value BIGINT, rank BIGINT,
    normalized DOUBLE).
    """
    _require_integer(df, value_col, "quantile_normalize")
    keep = (F.col(value_col).isNotNull() & F.col(id_col).isNotNull()
            & F.col(dist_col).isNotNull())
    base = df.where(keep).select(
        F.col(dist_col).alias("dist"), F.col(id_col).alias("id"),
        F.col(value_col).cast("long").alias("value"))
    w = Window.partitionBy("dist").orderBy(
        F.col("value").asc(), F.col("id").asc())
    ranked = base.withColumn("rank",
                             F.row_number().over(w).cast("long"))
    means = (ranked.groupBy("rank")
             .agg((F.sum("value").cast("double")
                   / F.count(F.lit(1)).cast("double"))
                  .alias("normalized")))
    return ranked.join(means, "rank").select(
        "dist", "id", "value", "rank", "normalized")


def friedman_test(df: DataFrame, *, block_col: str,
                  treatment_col: str, value_col: str) -> DataFrame:
    """Friedman rank test — "do the k treatments differ, blocking by
    subject?": rank the k treatment values WITHIN each block, sum
    ranks per treatment, and compute
    ``χ²_F = 12/(n·k·(k+1)) · Σ_j R_j² − 3·n·(k+1)`` (k−1 df). The
    repeated-measures complement to :func:`kruskal_wallis`'s
    independent-groups test.

    Only COMPLETE blocks count: k = the global number of distinct
    treatments, and a block enters iff it has exactly one
    non-NULL value per treatment (duplicates raise — aggregate
    first). Ties within a block take average ranks, carried as the
    exact integer 2R = r_min + r_max (competition ranks), so every
    rank sum is an exact BIGINT; the tie CORRECTION term is omitted
    (the classic uncorrected statistic — documented bias toward
    conservatism with heavy ties).

    Determinism: values must be INTEGER (floats raise); χ² is one
    fixed IEEE tree over exact BIGINTs — bit-exact cross-engine.
    The k−1-df significance needs the incomplete gamma — out of
    scope; callers test χ²_F against their own critical value.

    Scale shape: one distinct-count for k, one per-block
    completeness filter (hash-aggregate + semi join), two rank
    windows partitioned by block, one treatment hash-aggregate, one
    final single-row reduce. Blocks are small (k rows) — the block
    windows are cheap; everything shuffles on block or treatment
    keys only.

    Output: ONE row (k_treatments BIGINT, n_blocks BIGINT,
    chi2_f DOUBLE — NULL when n_blocks = 0 or k < 2) plus the
    per-treatment rank sums as a sorted array of (treatment,
    rank2_sum) structs for auditability.
    """
    _require_integer(df, value_col, "friedman_test")
    keep = (F.col(block_col).isNotNull()
            & F.col(treatment_col).isNotNull()
            & F.col(value_col).isNotNull())
    base = df.where(keep).select(
        F.col(block_col).alias("_b"),
        F.col(treatment_col).alias("_tr"),
        F.col(value_col).cast("long").alias("_x"))
    kdf = base.agg(F.countDistinct("_tr").alias("_k"))
    # completeness: one row per (block, treatment), all k present
    per = (base.groupBy("_b", "_tr")
           .agg(F.count(F.lit(1)).alias("_c")))
    dup = per.where(F.col("_c") > 1).limit(1).count()
    if dup:
        raise ValueError(
            "friedman_test: duplicate (block, treatment) rows — "
            "aggregate to one value per cell first")
    complete = (per.groupBy("_b")
                .agg(F.count(F.lit(1)).alias("_nt"))
                .join(kdf)
                .where(F.col("_nt") == F.col("_k"))
                .select("_b"))
    kept = base.join(complete, "_b")
    wb = Window.partitionBy("_b")
    r_lo = F.rank().over(wb.orderBy(F.col("_x").asc())).cast("long")
    r_rev = F.rank().over(wb.orderBy(F.col("_x").desc())).cast("long")
    k_in_block = F.count(F.lit(1)).over(wb).cast("long")
    ranked = kept.withColumn("_r2", r_lo + (k_in_block + 1 - r_rev))
    per_tr = (ranked.groupBy("_tr")
              .agg(F.sum("_r2").alias("_s2r")))
    tot = (per_tr.agg(
        F.count(F.lit(1)).cast("long").alias("k_treatments"),
        F.sum(F.col("_s2r") * F.col("_s2r")).alias("_sumsq4"),
        F.sort_array(F.collect_list(F.struct(
            F.col("_tr").alias("treatment"),
            F.col("_s2r").alias("rank2_sum")))).alias("rank_sums"))
           .join(kept.agg((F.count(F.lit(1))
                           / F.countDistinct("_tr"))
                          .cast("long").alias("n_blocks"))))
    nd = F.col("n_blocks").cast("double")
    kd = F.col("k_treatments").cast("double")
    # R_j = S2_j / 2 -> sum R_j^2 = sumsq4 / 4
    chi2 = (F.lit(12.0) / (nd * kd * (kd + F.lit(1.0)))
            * (F.col("_sumsq4").cast("double") / F.lit(4.0))
            - F.lit(3.0) * nd * (kd + F.lit(1.0)))
    ok = (F.col("n_blocks") > 0) & (F.col("k_treatments") >= 2)
    return tot.select("k_treatments", "n_blocks",
                      F.when(ok, chi2).alias("chi2_f"),
                      "rank_sums")


def cochran_armitage(df: DataFrame, *, dose_col: str, label_col: str,
                     group_cols: list[str]) -> DataFrame:
    """Cochran–Armitage trend test per group — "does the event RATE
    rise with the ordered dose?": for categories with integer dose
    score s, totals n_s and cases r_s, the trend statistic is
    ``z = A / sqrt(B / N)`` with the exact integer numerators
    ``A = N·Σs·r − R·Σs·n`` and
    ``B = R·(N−R)·(N·Σs²·n − (Σs·n)²)`` (N = total rows, R = total
    cases). The ORDERED complement to :func:`chi2`'s unordered k×2
    association — a monotone dose–response spends all its power on
    one degree of freedom.

    Determinism: doses and labels must be INTEGER (floats raise;
    labels must be 0/1 — violators raise at action time); A and B
    are exact DECIMAL(38,0)/HUGEINT arithmetic, z is one
    correctly-rounded IEEE tree. Oracle-comparison caveat (the
    :func:`jarque_bera` rule): B's exact→double conversion is only
    guaranteed identical cross-engine while B < 2⁵³ — keep
    |dose| ≤ ~10 and group sizes ≤ ~10⁵, or quantize z before
    comparing.

    Scale shape: one per-(group, dose) hash-aggregate, one per-group
    reduce — two shuffles on the group key, no window, no join.

    Output: (group..., n BIGINT, cases BIGINT, a_stat exact,
    b_stat exact, z DOUBLE — NULL when B ≤ 0 or fewer than two
    doses).
    """
    _require_integer(df, dose_col, "cochran_armitage")
    _require_integer(df, label_col, "cochran_armitage")
    if not group_cols:
        raise ValueError("cochran_armitage: group_cols must be non-empty")
    keep = (F.col(dose_col).isNotNull() & F.col(label_col).isNotNull())
    for c in group_cols:
        keep = keep & F.col(c).isNotNull()
    lab = F.col(label_col).cast("long")
    chk = F.when((lab == 0) | (lab == 1), lab).otherwise(
        F.raise_error(F.concat(
            F.lit("cochran_armitage: label must be 0/1, got "),
            lab.cast("string"))))
    base = df.where(keep).select(
        *group_cols, F.col(dose_col).cast("long").alias("_s"),
        chk.alias("_y"))
    per = (base.groupBy(*group_cols, "_s")
           .agg(F.count(F.lit(1)).cast("long").alias("_n"),
                F.sum("_y").alias("_r")))
    sd = F.col("_s").cast("decimal(38,0)")
    nd = F.col("_n").cast("decimal(38,0)")
    rd = F.col("_r").cast("decimal(38,0)")
    agg = (per.groupBy(*group_cols)
           .agg(F.sum("_n").alias("n"),
                F.sum("_r").alias("cases"),
                F.countDistinct("_s").alias("_k"),
                F.sum(sd * rd).alias("_sr"),
                F.sum(sd * nd).alias("_sn"),
                F.sum(sd * sd * nd).alias("_ssn")))
    nn = F.col("n").cast("decimal(38,0)")
    rr = F.col("cases").cast("decimal(38,0)")
    a = (nn * F.col("_sr") - rr * F.col("_sn"))
    b = (rr * (nn - rr)
         * (nn * F.col("_ssn") - F.col("_sn") * F.col("_sn")))
    z = (a.cast("double")
         / F.sqrt(b.cast("double") / F.col("n").cast("double")))
    ok = (b > 0) & (F.col("_k") >= 2)
    return agg.select(*group_cols, "n", "cases",
                      a.alias("a_stat"), b.alias("b_stat"),
                      F.when(ok, z).alias("z"))


def durbin_watson(df: DataFrame, *, y_col: str, t_col: str,
                  group_cols: list[str]) -> DataFrame:
    """Durbin–Watson serial-correlation statistic of per-group OLS
    residuals — "after the trend line, are the errors still
    correlated in time?" (DW ≈ 2 → none, → 0 positive, → 4
    negative): fit y = a + b·t by least squares, then
    ``DW = Σ(e_t − e_{t−1})² / Σe_t²`` over the time-ordered
    residuals. The residual-diagnostics complement to
    :func:`lag_autocorr`'s raw-series view and :func:`group_ols`'s
    fit itself.

    Determinism: y and t must be INTEGER (floats raise); the OLS
    slope/intercept are fixed IEEE trees over exact BIGINT sums, and
    each residual is quantized ONCE to milli-units
    (``floor(e·1000 + 0.5)`` — documented approximation) so both DW
    sums are exact BIGINTs and the final division is one
    correctly-rounded IEEE op. Keep |y| ≤ ~10⁶ and per-group n ≤
    ~10⁶ so the milli-residual square sums stay < 2⁵³ (the
    :func:`jarque_bera` conversion window). ``t_col`` must be unique
    per group.

    Scale shape: one hash-aggregate for the OLS sums, one join back
    on the group key, one LAG window sharing that partitioning, one
    final reduce.

    Output: (group..., n BIGINT, slope DOUBLE, intercept DOUBLE,
    dw DOUBLE — NULL when n < 3, the t-values are all equal, or all
    residuals quantize to zero).
    """
    _require_integer(df, y_col, "durbin_watson")
    _require_integer(df, t_col, "durbin_watson")
    if not group_cols:
        raise ValueError("durbin_watson: group_cols must be non-empty")
    keep = (F.col(y_col).isNotNull() & F.col(t_col).isNotNull())
    for c in group_cols:
        keep = keep & F.col(c).isNotNull()
    base = df.where(keep).select(
        *group_cols, F.col(t_col).cast("long").alias("_t"),
        F.col(y_col).cast("long").alias("_y"))
    mom = (base.groupBy(*group_cols)
           .agg(F.count(F.lit(1)).cast("long").alias("_n"),
                F.sum("_t").alias("_st"),
                F.sum("_y").alias("_sy"),
                F.sum(F.col("_t") * F.col("_t")).alias("_stt"),
                F.sum(F.col("_t") * F.col("_y")).alias("_sty")))
    nn = F.col("_n").cast("double")
    den = (F.col("_n") * F.col("_stt")
           - F.col("_st") * F.col("_st")).cast("double")
    num = (F.col("_n") * F.col("_sty")
           - F.col("_st") * F.col("_sy")).cast("double")
    mom = (mom.withColumn("_b", F.when(den > 0, num / den))
           .withColumn("_a", (F.col("_sy").cast("double")
                              - F.col("_b") * F.col("_st").cast("double"))
                       / nn))
    j = base.join(mom, group_cols)
    e = (F.col("_y").cast("double")
         - (F.col("_a") + F.col("_b") * F.col("_t").cast("double")))
    em = F.floor(e * F.lit(1000.0) + F.lit(0.5)).cast("long")
    w = Window.partitionBy(*group_cols).orderBy(F.col("_t").asc())
    lagd = (j.withColumn("_em", em)
            .withColumn("_dm", F.col("_em") - F.lag("_em", 1).over(w)))
    out = (lagd.groupBy(*group_cols)
           .agg(F.max("_n").alias("n"),
                F.max("_b").alias("slope"),
                F.max("_a").alias("intercept"),
                F.sum(F.col("_dm") * F.col("_dm")).alias("_sd2"),
                F.sum(F.col("_em") * F.col("_em")).alias("_se2")))
    ok = (F.col("n") >= 3) & F.col("slope").isNotNull() \
        & (F.col("_se2") > 0)
    return out.select(*group_cols, "n", "slope", "intercept",
                      F.when(ok, F.col("_sd2").cast("double")
                             / F.col("_se2").cast("double"))
                      .alias("dw"))


def cliffs_delta(df: DataFrame, *, value_col: str, flag_col: str,
                 group_cols: list[str]) -> DataFrame:
    """Cliff's delta ordinal effect size per group —
    ``δ = P(x_A > x_B) − P(x_A < x_B)`` between the flag=1 (A) and
    flag=0 (B) samples — the magnitude companion to
    :func:`mannwhitney`'s significance: δ ∈ [−1, 1] with the
    conventional |δ| bands negligible < 0.147 ≤ small < 0.33 ≤
    medium < 0.474 ≤ large.

    Algorithm (rank identity, NO pair join): with combined average
    ranks carried as the exact integer 2R = r_min + r_max,
    ``2·U_A = Σ_A 2R − n_A(n_A + 1)`` counts ties at ½ each, and
    ``δ = (2·U_A − n_A·n_B) / (n_A·n_B)`` exactly — one rank window
    pair + one reduce, O(n log n).

    Determinism: values must be INTEGER (floats raise); flags must
    be 0/1 (violators raise at action time); the numerator is an
    exact BIGINT and δ is one correctly-rounded IEEE division (keep
    n_A·n_B < 2⁵³ — any realistic group). Band edges compare that
    exact-ratio double against fixed literals.

    Scale shape: two rank windows sharing one hash partitioning on
    the group key, one reduce. No join, no pairs.

    Output: (group..., n_a BIGINT, n_b BIGINT, delta_num BIGINT,
    delta DOUBLE, magnitude STRING — delta NULL when either sample
    is empty).
    """
    _require_integer(df, value_col, "cliffs_delta")
    _require_integer(df, flag_col, "cliffs_delta")
    if not group_cols:
        raise ValueError("cliffs_delta: group_cols must be non-empty")
    keep = (F.col(value_col).isNotNull() & F.col(flag_col).isNotNull())
    for c in group_cols:
        keep = keep & F.col(c).isNotNull()
    fl = F.col(flag_col).cast("long")
    chk = F.when((fl == 0) | (fl == 1), fl).otherwise(
        F.raise_error(F.concat(
            F.lit("cliffs_delta: flag must be 0/1, got "),
            fl.cast("string"))))
    base = df.where(keep).select(
        *group_cols, F.col(value_col).cast("long").alias("_x"),
        chk.alias("_f"))
    g = Window.partitionBy(*group_cols)
    r_lo = F.rank().over(g.orderBy(F.col("_x").asc())).cast("long")
    r_rev = F.rank().over(g.orderBy(F.col("_x").desc())).cast("long")
    n = F.count(F.lit(1)).over(g).cast("long")
    r2 = r_lo + (n + 1 - r_rev)
    agg = (base.withColumn("_r2", r2)
           .groupBy(*group_cols)
           .agg(F.sum(F.when(F.col("_f") == 1, 1).otherwise(0))
                .cast("long").alias("n_a"),
                F.sum(F.when(F.col("_f") == 0, 1).otherwise(0))
                .cast("long").alias("n_b"),
                F.sum(F.when(F.col("_f") == 1, F.col("_r2"))
                      .otherwise(0)).cast("long").alias("_r2a")))
    num = (F.col("_r2a") - F.col("n_a") * (F.col("n_a") + 1)
           - F.col("n_a") * F.col("n_b"))
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    delta = num.cast("double") / (F.col("n_a") * F.col("n_b")) \
        .cast("double")
    mag = (F.when(F.abs(delta) < 0.147, "negligible")
           .when(F.abs(delta) < 0.33, "small")
           .when(F.abs(delta) < 0.474, "medium")
           .otherwise("large"))
    return agg.select(*group_cols, "n_a", "n_b",
                      F.when(ok, num).alias("delta_num"),
                      F.when(ok, delta).alias("delta"),
                      F.when(ok, mag).alias("magnitude"))


def boxplot_stats(df: DataFrame, *, value_col: str,
                  group_cols: list[str]) -> DataFrame:
    """Tukey boxplot summary per group — the five-number EDA
    primitive beside :func:`mad_outliers` (robust flags) and
    :func:`winsorized_mean` (robust center): exact rank-selected
    quartiles, the 1.5·IQR fences, and the outlier counts beyond
    each fence.

    Quartile convention (documented, deterministic): q1 = value at
    ascending rank ⌈n/4⌉, median = lower median (rank ⌊(n+1)/2⌋),
    q3 = value at rank ⌈3n/4⌉ — pure order statistics, never
    interpolated, so every reported quartile is an actual data
    value.

    Determinism: values must be INTEGER (floats raise); quartiles
    and IQR are exact BIGINTs; the fences are ONE fixed IEEE tree
    (q1 − 1.5·IQR) and outlier comparisons cast the exact value to
    double once — bit-exact cross-engine.

    Scale shape: one rank window (hash-partitioned on the group
    key), one hash-aggregate picking the three ranks, one join back
    on the group key for the fence counts — no self-join, no
    all-pairs.

    Output: (group..., n BIGINT, q1 BIGINT, median BIGINT,
    q3 BIGINT, iqr BIGINT, lo_fence DOUBLE, hi_fence DOUBLE,
    n_low BIGINT, n_high BIGINT).
    """
    _require_integer(df, value_col, "boxplot_stats")
    if not group_cols:
        raise ValueError("boxplot_stats: group_cols must be non-empty")
    keep = F.col(value_col).isNotNull()
    for c in group_cols:
        keep = keep & F.col(c).isNotNull()
    base = df.where(keep).select(
        *group_cols, F.col(value_col).cast("long").alias("_x"))
    g = Window.partitionBy(*group_cols)
    rn = F.row_number().over(g.orderBy(F.col("_x").asc())).cast("long")
    n = F.count(F.lit(1)).over(g).cast("long")
    stamped = (base.withColumn("_rn", rn).withColumn("_n", n)
               .withColumn("_r1", F.ceil(F.col("_n").cast("double")
                                         / F.lit(4.0)).cast("long"))
               .withColumn("_r2", F.floor((F.col("_n") + 1)
                                          .cast("double") / F.lit(2.0))
                           .cast("long"))
               .withColumn("_r3", F.ceil(F.lit(3.0)
                                         * F.col("_n").cast("double")
                                         / F.lit(4.0)).cast("long")))
    q = (stamped.groupBy(*group_cols)
         .agg(F.max("_n").alias("n"),
              F.max(F.when(F.col("_rn") == F.col("_r1"), F.col("_x")))
              .alias("q1"),
              F.max(F.when(F.col("_rn") == F.col("_r2"), F.col("_x")))
              .alias("median"),
              F.max(F.when(F.col("_rn") == F.col("_r3"), F.col("_x")))
              .alias("q3")))
    iqr = F.col("q3") - F.col("q1")
    lo = (F.col("q1").cast("double")
          - F.lit(1.5) * iqr.cast("double"))
    hi = (F.col("q3").cast("double")
          + F.lit(1.5) * iqr.cast("double"))
    q = (q.withColumn("iqr", iqr).withColumn("lo_fence", lo)
         .withColumn("hi_fence", hi))
    j = base.join(q, group_cols)
    return (j.groupBy(*group_cols)
            .agg(F.max("n").alias("n"), F.max("q1").alias("q1"),
                 F.max("median").alias("median"),
                 F.max("q3").alias("q3"), F.max("iqr").alias("iqr"),
                 F.max("lo_fence").alias("lo_fence"),
                 F.max("hi_fence").alias("hi_fence"),
                 F.sum(F.when(F.col("_x").cast("double")
                              < F.col("lo_fence"), 1).otherwise(0))
                 .cast("long").alias("n_low"),
                 F.sum(F.when(F.col("_x").cast("double")
                              > F.col("hi_fence"), 1).otherwise(0))
                 .cast("long").alias("n_high")))


def mood_median_test(df: DataFrame, *, value_col: str,
                     group_col: str) -> DataFrame:
    """Mood's median test — "do the k groups share a common median?":
    split every row at the GLOBAL lower median and chi²-test the
    k×2 above/at-or-below table. The crudest but most
    assumption-free of the k-sample location tests (beside
    :func:`kruskal_wallis`, which needs comparable shapes) — it only
    uses sign information, so it survives wild outliers and censored
    tails.

    Determinism: values must be INTEGER (floats raise); the global
    median is SELECTED (smallest value whose cumulative count ≥
    ⌊(N+1)/2⌋ — the lower median, computed over the DISTINCT-value
    histogram, never a row sort); cell counts are exact BIGINTs;
    each group's chi² contribution is one fixed IEEE tree quantized
    to micro-units so the k-term total is an exact BIGINT sum
    (addition-order independent — the :func:`adamic_adar` rule).

    Scale shape: one distinct-value histogram + one cumulative
    window over DISTINCT VALUES (cardinality-bounded, not
    row-bounded), one broadcast 1-row median join, one per-group
    hash-aggregate, one k-row total window. No row-level window, no
    pair join.

    Output: one row per group (group, n BIGINT, n_above BIGINT,
    contrib_micro BIGINT, chi2_micro BIGINT — the same total on
    every row, NULL when a margin is empty, k BIGINT).
    """
    _require_integer(df, value_col, "mood_median_test")
    base = df.where(F.col(value_col).isNotNull()
                    & F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("long").alias("_x"))
    hist = base.groupBy("_x").agg(F.count(F.lit(1)).alias("_c"))
    wcum = Window.orderBy(F.col("_x").asc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    med = (hist.withColumn("_cum", F.sum("_c").over(wcum))
           .withColumn("_tot", F.sum("_c").over(wall))
           .where(F.col("_cum")
                  >= F.floor((F.col("_tot") + 1).cast("double")
                             / F.lit(2.0)))
           .agg(F.min("_x").alias("_med"),
                F.max("_tot").alias("_n_total")))
    j = base.join(F.broadcast(med))
    per = (j.groupBy("grp")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.when(F.col("_x") > F.col("_med"), 1)
                      .otherwise(0)).cast("long").alias("n_above"),
                F.max("_n_total").alias("_nt")))
    wk = Window.partitionBy()
    per = (per.withColumn("_a_tot", F.sum("n_above").over(wk))
           .withColumn("_k", F.count(F.lit(1)).over(wk).cast("long")))
    nt = F.col("_nt").cast("double")
    at = F.col("_a_tot").cast("double")
    bt = (F.col("_nt") - F.col("_a_tot")).cast("double")
    ng = F.col("n").cast("double")
    ea = ng * at / nt
    eb = ng * bt / nt
    oa = F.col("n_above").cast("double")
    ob = (F.col("n") - F.col("n_above")).cast("double")
    contrib = ((oa - ea) * (oa - ea) / ea
               + (ob - eb) * (ob - eb) / eb)
    ok = (F.col("_a_tot") > 0) & (F.col("_a_tot") < F.col("_nt"))
    per = per.withColumn(
        "contrib_micro",
        F.when(ok, F.floor(contrib * F.lit(1000000.0) + F.lit(0.5))
               .cast("long")))
    return (per.withColumn("chi2_micro",
                           F.sum("contrib_micro").over(wk))
            .select(F.col("grp").alias(group_col), "n", "n_above",
                    "contrib_micro", "chi2_micro",
                    F.col("_k").alias("k")))


def page_trend_test(df: DataFrame, *, block_col: str,
                    treatment_col: str, value_col: str) -> DataFrame:
    """Page's L trend test — :func:`friedman_test` with an ORDERED
    alternative ("values rise with the treatment level"): over
    complete blocks, rank within block (average ranks as the exact
    integer 2R), weight each treatment's rank sum by its order index
    j, and compare ``L = Σ j·R_j`` against the no-trend null
    (μ = nk(k+1)²/4, σ² = nk²(k+1)(k²−1)/144). Spends its power on
    the monotone direction the unordered Friedman χ² dilutes —
    exactly :func:`cochran_armitage`'s relationship to :func:`chi2`.

    Treatment ORDER is the ascending sort of the distinct treatment
    values (dense rank 1..k — a tiny k-row window); pass an integer
    level column when the natural order isn't lexicographic.
    Completeness, duplicate-cell raising, and the exact-2R rank
    discipline are shared with :func:`friedman_test` verbatim.

    Determinism: L is carried doubled (``l2 = Σ j·S2_j`` with
    S2 = 2R, an exact BIGINT); z = (l2 − 2μ)/(2σ) is one fixed IEEE
    tree. Output one row: (k_treatments BIGINT, n_blocks BIGINT,
    l2_stat BIGINT, z DOUBLE — NULL when k < 3 or n = 0).
    """
    _require_integer(df, value_col, "page_trend_test")
    keep = (F.col(block_col).isNotNull()
            & F.col(treatment_col).isNotNull()
            & F.col(value_col).isNotNull())
    base = df.where(keep).select(
        F.col(block_col).alias("_b"),
        F.col(treatment_col).alias("_tr"),
        F.col(value_col).cast("long").alias("_x"))
    kdf = base.agg(F.countDistinct("_tr").alias("_k"))
    per = (base.groupBy("_b", "_tr")
           .agg(F.count(F.lit(1)).alias("_c")))
    dup = per.where(F.col("_c") > 1).limit(1).count()
    if dup:
        raise ValueError(
            "page_trend_test: duplicate (block, treatment) rows — "
            "aggregate to one value per cell first")
    complete = (per.groupBy("_b")
                .agg(F.count(F.lit(1)).alias("_nt"))
                .join(kdf)
                .where(F.col("_nt") == F.col("_k"))
                .select("_b"))
    kept = base.join(complete, "_b")
    wb = Window.partitionBy("_b")
    r_lo = F.rank().over(wb.orderBy(F.col("_x").asc())).cast("long")
    r_rev = F.rank().over(wb.orderBy(F.col("_x").desc())).cast("long")
    k_in = F.count(F.lit(1)).over(wb).cast("long")
    ranked = kept.withColumn("_r2", r_lo + (k_in + 1 - r_rev))
    per_tr = (ranked.groupBy("_tr")
              .agg(F.sum("_r2").alias("_s2r")))
    wj = Window.orderBy(F.col("_tr").asc())
    per_tr = per_tr.withColumn("_j",
                               F.dense_rank().over(wj).cast("long"))
    tot = (per_tr.agg(
        F.count(F.lit(1)).cast("long").alias("k_treatments"),
        F.sum(F.col("_j") * F.col("_s2r")).alias("l2_stat"))
        .join(kept.agg((F.count(F.lit(1)) / F.countDistinct("_tr"))
                       .cast("long").alias("n_blocks"))))
    nd = F.col("n_blocks").cast("double")
    kd = F.col("k_treatments").cast("double")
    mu2 = nd * kd * (kd + F.lit(1.0)) * (kd + F.lit(1.0)) / F.lit(2.0)
    var = (nd * kd * kd * (kd + F.lit(1.0))
           * (kd * kd - F.lit(1.0)) / F.lit(144.0))
    z = (F.col("l2_stat").cast("double") - mu2) \
        / (F.lit(2.0) * F.sqrt(var))
    ok = (F.col("k_treatments") >= 3) & (F.col("n_blocks") > 0)
    return tot.select("k_treatments", "n_blocks", "l2_stat",
                      F.when(ok, z).alias("z"))


def lead_lag_corr(df: DataFrame, *, x_col: str, y_col: str,
                  order_col: str, group_cols: list[str],
                  max_lag: int = 4) -> DataFrame:
    """Lead–lag cross-correlation per group: Pearson corr(x_t,
    y_{t+k}) for every lag k ∈ [−max_lag, max_lag] — "does x LEAD y
    (peak at k > 0) or LAG it?", the alignment question
    :func:`rolling_corr` (same-time, windowed) and
    :func:`lag_autocorr` (one series with itself) cannot answer.

    Determinism: x and y must be INTEGER (floats raise — the
    :func:`corr_matrix` rule); per lag, the five sufficient sums are
    exact BIGINTs over the overlapping pairs and corr is ONE fixed
    IEEE tree — bit-exact cross-engine. ``order_col`` must be a
    unique integer time index per group (build one with
    row_number, the :func:`durbin_watson` registration pattern).

    Scale shape: 2·max_lag+1 LEAD/LAG columns over ONE window
    partitioning, stacked by a literal array explode (map-side), one
    (group, lag) hash-aggregate. No self-join.

    Output: (group..., lag INT, n BIGINT, corr DOUBLE — NULL when
    n < 2 or either variance is 0).
    """
    _require_integer(df, x_col, "lead_lag_corr")
    _require_integer(df, y_col, "lead_lag_corr")
    if not group_cols:
        raise ValueError("lead_lag_corr: group_cols must be non-empty")
    if not 1 <= max_lag <= 16:
        raise ValueError(f"max_lag must be in [1, 16], got {max_lag}")
    keep = (F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
            & F.col(order_col).isNotNull())
    for c in group_cols:
        keep = keep & F.col(c).isNotNull()
    base = df.where(keep).select(
        *group_cols, F.col(order_col).cast("long").alias("_t"),
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"))
    w = Window.partitionBy(*group_cols).orderBy(F.col("_t").asc())
    names = []
    shifted = base
    for k in range(-max_lag, max_lag + 1):
        if k >= 0:
            yk = F.lead("_y", k).over(w)
        else:
            yk = F.lag("_y", -k).over(w)
        name = f"_yk{k + max_lag}"
        names.append((k, name))
        shifted = shifted.withColumn(name, yk)
    pairs = [F.struct(F.lit(k).alias("lag"),
                      F.col("_x").alias("x"),
                      F.col(name).alias("y"))
             for k, name in names]
    ex = (shifted.withColumn("_p", F.explode(F.array(*pairs)))
          .select(*group_cols, F.col("_p.lag").alias("lag"),
                  F.col("_p.x").alias("_x"), F.col("_p.y").alias("_y"))
          .where(F.col("_y").isNotNull()))
    agg = (ex.groupBy(*group_cols, "lag")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("_x").alias("_sx"), F.sum("_y").alias("_sy"),
                F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
                F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
                F.sum(F.col("_x") * F.col("_y")).alias("_sxy")))
    nn = F.col("n")
    cnum = (nn * F.col("_sxy") - F.col("_sx") * F.col("_sy")) \
        .cast("double")
    vx = (nn * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
    vy = (nn * F.col("_syy") - F.col("_sy") * F.col("_sy"))
    ok = (nn >= 2) & (vx > 0) & (vy > 0)
    corr = cnum / F.sqrt(vx.cast("double") * vy.cast("double"))
    return agg.select(*group_cols, "lag", "n",
                      F.when(ok, corr).alias("corr"))


def elbow_point(df: DataFrame, *, x_col: str, y_col: str,
                group_cols: list[str]) -> DataFrame:
    """Knee/elbow detection on a per-group curve (the Kneedle chord
    rule, exact form): the point maximizing the distance to the
    straight chord between the curve's endpoints — "how many
    clusters / how deep a threshold" read off an inertia or
    coverage curve without eyeballing.

    Determinism: x and y must be INTEGER (floats raise); the
    distance ordering is decided by the UNNORMALIZED cross product
    ``|(x₂−x₁)(y₁−y) − (x₁−x)(y₂−y₁)|`` — an exact BIGINT per point
    (the common √((x₂−x₁)²+(y₂−y₁)²) denominator never changes the
    argmax) — with ties broken to the smallest x. Endpoints are the
    rows at min/max x (smallest y on an x tie, exact struct
    selection).

    Scale shape: one endpoint hash-aggregate joined back on the
    group key, one argmax window sharing that partitioning. Curves
    are small by nature (one row per candidate k); the shape stays
    shuffle-minimal anyway.

    Output: (group..., n BIGINT, elbow_x BIGINT, elbow_y BIGINT,
    cross_stat BIGINT — groups with fewer than 3 points are
    dropped, no interior point exists).
    """
    _require_integer(df, x_col, "elbow_point")
    _require_integer(df, y_col, "elbow_point")
    if not group_cols:
        raise ValueError("elbow_point: group_cols must be non-empty")
    keep = (F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    for c in group_cols:
        keep = keep & F.col(c).isNotNull()
    base = df.where(keep).select(
        *group_cols, F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"))
    ends = (base.groupBy(*group_cols)
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.min(F.struct(F.col("_x"), F.col("_y"))).alias("_p1"),
                 F.max(F.struct(F.col("_x"), F.col("_y"))).alias("_p2")))
    j = base.join(ends, group_cols).where(F.col("n") >= 3)
    x1, y1 = F.col("_p1._x"), F.col("_p1._y")
    x2, y2 = F.col("_p2._x"), F.col("_p2._y")
    cross = F.abs((x2 - x1) * (y1 - F.col("_y"))
                  - (x1 - F.col("_x")) * (y2 - y1))
    pick = Window.partitionBy(*group_cols).orderBy(
        cross.desc(), F.col("_x").asc())
    return (j.withColumn("_cr", cross)
            .withColumn("_rn", F.row_number().over(pick))
            .where(F.col("_rn") == 1)
            .select(*group_cols, "n", F.col("_x").alias("elbow_x"),
                    F.col("_y").alias("elbow_y"),
                    F.col("_cr").alias("cross_stat")))


def sequence_gaps(df: DataFrame, *, id_col: str,
                  group_cols: list[str]) -> DataFrame:
    """Missing-range detection in a per-group integer sequence (the
    SQL islands-and-gaps classic): report every maximal run of
    absent ids between the observed min and max — the data-quality
    "which partitions / offsets / invoice numbers are missing?"
    primitive beside :func:`fd_violations`.

    Determinism: exact integer lag arithmetic — bit-exact
    cross-engine. Duplicate ids collapse (distinct first).

    Scale shape: one distinct (map-side combine), one LAG window on
    the group partitioning, then the gap filter — output is bounded
    by the number of GAPS, not ids.

    Output: (group..., gap_start BIGINT, gap_end BIGINT,
    gap_len BIGINT).
    """
    if not group_cols:
        raise ValueError("sequence_gaps: group_cols must be non-empty")
    keep = F.col(id_col).isNotNull()
    for c in group_cols:
        keep = keep & F.col(c).isNotNull()
    base = (df.where(keep)
            .select(*group_cols, F.col(id_col).cast("long").alias("_i"))
            .distinct())
    w = Window.partitionBy(*group_cols).orderBy(F.col("_i").asc())
    lagd = base.withColumn("_prev", F.lag("_i", 1).over(w))
    return (lagd.where(F.col("_prev").isNotNull()
                       & (F.col("_i") - F.col("_prev") > 1))
            .select(*group_cols,
                    (F.col("_prev") + 1).alias("gap_start"),
                    (F.col("_i") - 1).alias("gap_end"),
                    (F.col("_i") - F.col("_prev") - 1).alias("gap_len")))


def sn_scale(df: DataFrame, *, value_col: str,
             order_cols: list[str] | str,
             group_cols: list[str]) -> DataFrame:
    """Rousseeuw–Croux Sₙ robust scale per group — the 50%-breakdown
    spread estimator beside :func:`mad_outliers`' MAD (Sₙ needs no
    location estimate, keeps ~58% Gaussian efficiency vs MAD's 37%,
    and behaves at asymmetric distributions):
    ``Sₙ = 1.1926 · lowmed_i ( highmed_{j≠i} |x_i − x_j| )``.

    Determinism: values must be INTEGER (floats raise); every
    pairwise distance is an exact BIGINT; both medians are
    SELECTIONS by sort position (inner HIGH median = rank
    ⌊(n−1)/2⌋+1 of the n−1 distances, outer LOW median = rank
    ⌊(n+1)/2⌋ of the n per-point medians — the Rousseeuw–Croux
    convention), so ``sn_raw`` is an exact BIGINT and only the final
    1.1926 consistency scaling is IEEE. ``order_cols`` must be
    unique per group (point identity — the :func:`hodges_lehmann`
    contract). Groups with n < 2 are dropped.

    Scale shape: per-group pair self-join (O(n²) — many small
    series, the :func:`mann_kendall` family note) + two selection
    windows sharing the group partitioning.

    Output: (group..., n BIGINT, sn_raw BIGINT, sn DOUBLE).
    """
    _require_integer(df, value_col, "sn_scale")
    if not group_cols:
        raise ValueError("sn_scale: group_cols must be non-empty")
    ocols = [order_cols] if isinstance(order_cols, str) else \
        list(order_cols)
    keep = F.col(value_col).isNotNull()
    for c in ocols + group_cols:
        keep = keep & F.col(c).isNotNull()
    base = df.where(keep).select(
        *group_cols,
        F.struct(*[F.col(c) for c in ocols]).alias("_o"),
        F.col(value_col).cast("long").alias("_x"))
    a = base.select(*group_cols, F.col("_o").alias("_oi"),
                    F.col("_x").alias("_xi"))
    b = base.select(*group_cols, F.col("_o").alias("_oj"),
                    F.col("_x").alias("_xj"))
    pairs = (a.join(b, group_cols)
             .where(F.col("_oi") != F.col("_oj"))
             .select(*group_cols, "_oi",
                     F.abs(F.col("_xi") - F.col("_xj")).alias("_d")))
    wi = Window.partitionBy(*group_cols, "_oi") \
        .orderBy(F.col("_d").asc())
    per_i = (pairs.withColumn("_rn", F.row_number().over(wi))
             .withColumn("_m", F.count(F.lit(1)).over(
                 Window.partitionBy(*group_cols, "_oi")))
             .where(F.col("_rn")
                    == F.floor(F.col("_m").cast("double") / F.lit(2.0))
                    .cast("long") + 1)
             .select(*group_cols, F.col("_d").alias("_mi")))
    wo = Window.partitionBy(*group_cols).orderBy(F.col("_mi").asc())
    return (per_i.withColumn("_rn", F.row_number().over(wo))
            .withColumn("_n", F.count(F.lit(1)).over(
                Window.partitionBy(*group_cols)))
            .where(F.col("_rn")
                   == F.floor((F.col("_n") + 1).cast("double")
                              / F.lit(2.0)).cast("long"))
            .select(*group_cols, F.col("_n").alias("n"),
                    F.col("_mi").alias("sn_raw"),
                    (F.col("_mi").cast("double") * F.lit(1.1926))
                    .alias("sn")))


def cochran_q(df: DataFrame, *, block_col: str, treatment_col: str,
              label_col: str) -> DataFrame:
    """Cochran's Q test — the k-treatment BINARY repeated-measures
    test completing the family (``mcnemar_test`` is its k = 2 case,
    :func:`friedman_test` its ordinal generalization): over complete
    blocks, ``Q = (k−1)·(k·ΣG_j² − N²) / (k·N − ΣL_i²)`` from the
    per-treatment success totals G_j, per-block success totals L_i
    and the grand total N; Q ~ χ²(k−1) under "all treatments share
    one success rate".

    Completeness, duplicate-cell raising and the 0/1-label contract
    follow :func:`friedman_test` / :func:`mcnemar_test` verbatim.

    Determinism: every total and both Q numerator/denominator are
    exact BIGINTs; Q is ONE correctly-rounded IEEE division —
    bit-exact cross-engine.

    Scale shape: one completeness filter (hash-aggregate + semi
    join), one treatment aggregate, one block aggregate, one final
    reduce — everything keyed on block or treatment, no window over
    the data.

    Output: ONE row (k_treatments BIGINT, n_blocks BIGINT,
    grand_total BIGINT, q_stat DOUBLE — NULL when k < 2, n = 0, or
    the denominator is 0 i.e. every block is all-0 or all-1).
    """
    keep = (F.col(block_col).isNotNull()
            & F.col(treatment_col).isNotNull()
            & F.col(label_col).isNotNull())
    lab = F.col(label_col).cast("long")
    chk = F.when((lab == 0) | (lab == 1), lab).otherwise(
        F.raise_error(F.concat(
            F.lit("cochran_q: label must be 0/1, got "),
            lab.cast("string"))))
    base = df.where(keep).select(
        F.col(block_col).alias("_b"),
        F.col(treatment_col).alias("_tr"),
        chk.alias("_y"))
    kdf = base.agg(F.countDistinct("_tr").alias("_k"))
    per = (base.groupBy("_b", "_tr")
           .agg(F.count(F.lit(1)).alias("_c")))
    dup = per.where(F.col("_c") > 1).limit(1).count()
    if dup:
        raise ValueError(
            "cochran_q: duplicate (block, treatment) rows — "
            "aggregate to one flag per cell first")
    complete = (per.groupBy("_b")
                .agg(F.count(F.lit(1)).alias("_nt"))
                .join(kdf)
                .where(F.col("_nt") == F.col("_k"))
                .select("_b"))
    kept = base.join(complete, "_b")
    gj = (kept.groupBy("_tr").agg(F.sum("_y").alias("_g")))
    li = (kept.groupBy("_b").agg(F.sum("_y").alias("_l")))
    tg = gj.agg(F.count(F.lit(1)).cast("long").alias("k_treatments"),
                F.sum(F.col("_g") * F.col("_g")).alias("_sg2"),
                F.sum("_g").alias("grand_total"))
    tl = li.agg(F.count(F.lit(1)).cast("long").alias("n_blocks"),
                F.sum(F.col("_l") * F.col("_l")).alias("_sl2"))
    tot = tg.join(tl)
    k = F.col("k_treatments")
    nn = F.col("grand_total")
    num = (k - 1) * (k * F.col("_sg2") - nn * nn)
    den = k * nn - F.col("_sl2")
    ok = (k >= 2) & (F.col("n_blocks") > 0) & (den > 0)
    return tot.select("k_treatments", "n_blocks", "grand_total",
                      F.when(ok, num.cast("double")
                             / den.cast("double")).alias("q_stat"))


def poisson_dispersion(df: DataFrame, *, count_col: str,
                       group_cols: list[str]) -> DataFrame:
    """Poisson overdispersion screen per group — "are these counts
    really Poisson?": the variance-to-mean ratio (index of
    dispersion) and the χ²-shaped statistic (n−1)·s²/x̄ that is
    ~χ²(n−1) under Poisson. Rates drifting (D ≫ 1, clumping) or
    under-dispersed (D ≪ 1, regularity) both break the Poisson
    assumptions behind :func:`poisson_rate_z`-style comparisons —
    run this gate first.

    Determinism: counts must be INTEGER (floats raise); Σx and Σx²
    are exact BIGINT sums and both reported statistics are fixed
    IEEE trees over them — bit-exact cross-engine (keep Σx² < 2⁶³,
    any realistic count table).

    Scale shape: ONE hash-aggregate with map-side combine.

    Output: (group..., n BIGINT, mean DOUBLE, dispersion DOUBLE,
    chi2_stat DOUBLE — NULL when n < 2 or the mean is 0).
    """
    _require_integer(df, count_col, "poisson_dispersion")
    if not group_cols:
        raise ValueError(
            "poisson_dispersion: group_cols must be non-empty")
    keep = F.col(count_col).isNotNull()
    for c in group_cols:
        keep = keep & F.col(c).isNotNull()
    base = df.where(keep).select(
        *group_cols, F.col(count_col).cast("long").alias("_x"))
    agg = (base.groupBy(*group_cols)
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("_x").alias("_s"),
                F.sum(F.col("_x") * F.col("_x")).alias("_ss")))
    nd = F.col("n").cast("double")
    mean = F.col("_s").cast("double") / nd
    varnum = (F.col("n") * F.col("_ss")
              - F.col("_s") * F.col("_s")).cast("double")
    svar = varnum / (nd * (nd - F.lit(1.0)))
    disp = svar / mean
    ok = (F.col("n") >= 2) & (F.col("_s") > 0)
    return agg.select(*group_cols, "n",
                      F.when(ok, mean).alias("mean"),
                      F.when(ok, disp).alias("dispersion"),
                      F.when(ok, (nd - F.lit(1.0)) * disp)
                      .alias("chi2_stat"))


def holm_adjust(df: DataFrame, *, p_col: str, test_id_col: str,
                alpha: float = 0.05) -> DataFrame:
    """Holm step-down multiple-testing adjustment — family-wise-error
    control (no independence assumption): order the m p-values ascending,
    ``adj_i = min(1, max_{j≤i} (m−j+1)·p_j)``, reject while
    adj ≤ α.

    Determinism: the order is (p, test_id) — total; each candidate
    is ONE IEEE multiplication of the input double by an exact
    integer, and the running max / min(1, ·) are selections — so the
    output is a pure function of the inputs (feed micro-quantized
    p-values, the package-wide p discipline, for cross-engine hash
    equality).

    Scale shape: the m tests are the OUTPUT of upstream aggregation
    (one row per test), so the single unpartitioned window runs over
    an already-tiny frame.

    Output: (test_id, p, rank BIGINT, adj_p DOUBLE,
    significant BOOLEAN).
    """
    base = df.where(F.col(p_col).isNotNull()
                    & F.col(test_id_col).isNotNull()).select(
        F.col(test_id_col).alias("test_id"),
        F.col(p_col).cast("double").alias("p"))
    w = Window.orderBy(F.col("p").asc(), F.col("test_id").asc())
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m = F.count(F.lit(1)).over(Window.partitionBy())
    ranked = (base.withColumn("rank", F.row_number().over(w)
                              .cast("long"))
              .withColumn("_m", m))
    cand = (F.col("_m") - F.col("rank") + 1).cast("double") \
        * F.col("p")
    stepped = (ranked.withColumn("_cand", cand)
               .withColumn("adj_p", F.least(
                   F.lit(1.0), F.max("_cand").over(wrun))))
    return stepped.select("test_id", "p", "rank", "adj_p",
                          (F.col("adj_p") <= F.lit(float(alpha)))
                          .alias("significant"))
