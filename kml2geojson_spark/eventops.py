"""Event-stream analytics: funnels, origin-destination flows, cohort
retention, and grouped outlier statistics.

The reference (a KML converter, /root/reference/kml2geojson/main.py)
has no event surface; these are §2.4-style training-/product-analytics
operators over the synthetic ``events`` table. Every operator is pure
Column (whole-stage codegen), every window is PARTITIONED (per-user —
never a global sort), and every emitted measure is integerized so the
DuckDB oracle hashes bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def funnel_counts(events: DataFrame, stages: list[str], *,
                  user_col: str = "user_id", ts_col: str = "ts",
                  type_col: str = "event_type") -> DataFrame:
    """Ordered-funnel completion counts: a user completes stage ``i``
    when an event of type ``stages[i]`` occurs STRICTLY AFTER the
    timestamp at which they completed stage ``i-1`` (earliest-possible
    completion — the standard greedy funnel, which maximizes the number
    of users reaching later stages).

    Scale shape: one hash-aggregate (min ts per user) plus one
    user-key equi-join per stage — the per-stage frontier is one row
    per surviving user, so each round's join input shrinks
    monotonically. No windows, no event-sequence collection into a
    single task, no Python.

    Output: (stage_idx, stage, n_users), one row per stage.
    """
    if not stages:
        raise ValueError("stages must be non-empty")
    per_stage = []
    frontier = None  # (user, reached_ts) for the previous stage
    for i, stage in enumerate(stages):
        ev = events.where(F.col(type_col) == stage).select(
            F.col(user_col).alias("user"), F.col(ts_col).alias("t"))
        if frontier is None:
            frontier = ev.groupBy("user").agg(F.min("t").alias("reached"))
        else:
            frontier = (ev.join(frontier, "user")
                        .where(F.col("t") > F.col("reached"))
                        .groupBy("user").agg(F.min("t").alias("reached")))
        per_stage.append(
            frontier.agg(F.count(F.lit(1)).alias("n_users"))
            .select(F.lit(i).alias("stage_idx"), F.lit(stage).alias("stage"),
                    "n_users"))
    out = per_stage[0]
    for s in per_stage[1:]:
        out = out.unionByName(s)
    return out


def od_matrix(points: DataFrame, *, user_col: str = "user_id",
              order_col: str = "event_id", x_col: str = "x",
              y_col: str = "y", cell_size: float = 1.0) -> DataFrame:
    """Origin-destination flow matrix: consecutive per-user positions
    (ordered by ``order_col``) become trips between integer grid cells
    of side ``cell_size``; output counts per (from-cell, to-cell) pair.

    Scale shape: one per-user lag window (partitioned — each user's
    trajectory is small even when the fleet is 10^9 users) + one
    hash-aggregate on the 4-int cell-pair key with map-side combine.
    Self-loops (both endpoints in the same cell) are kept: dwell flows
    are signal for a tiling engine.

    Output: (from_cx, from_cy, to_cx, to_cy, n_trips).
    """
    cx = F.floor(F.col(x_col) / cell_size).cast("long")
    cy = F.floor(F.col(y_col) / cell_size).cast("long")
    w = Window.partitionBy(user_col).orderBy(F.col(order_col).asc())
    d = (points.select(F.col(user_col), F.col(order_col),
                       cx.alias("to_cx"), cy.alias("to_cy"))
         .withColumn("from_cx", F.lag("to_cx").over(w))
         .withColumn("from_cy", F.lag("to_cy").over(w))
         .where(F.col("from_cx").isNotNull()))
    return (d.groupBy("from_cx", "from_cy", "to_cx", "to_cy")
            .agg(F.count(F.lit(1)).alias("n_trips")))


def cohort_retention(events: DataFrame, *, user_col: str = "user_id",
                     ts_col: str = "ts", epoch: str = "2024-01-01",
                     period_days: int = 7) -> DataFrame:
    """Classic cohort-retention triangle: users are cohorted by the
    period (default week) of their first event; each (cohort, offset)
    cell counts distinct users active ``offset`` periods after their
    cohort period. Day numbers come from DATE arithmetic against a
    fixed epoch (timezone-free on TIMESTAMP_NTZ), never unix seconds —
    session-timezone independent on both engines.

    Scale shape: first-day is one hash-aggregate on the user key; the
    activity join is a user-key equi-join against that (small) frame;
    the final count-distinct is one aggregate on the (cohort, offset)
    key. No windows.

    Output: (cohort_period, period_offset, n_users).
    """
    day = F.datediff(F.to_date(F.col(ts_col)), F.lit(epoch).cast("date"))
    ev = events.select(F.col(user_col).alias("user"), day.alias("day"))
    first = ev.groupBy("user").agg(F.min("day").alias("first_day"))
    j = ev.join(first, "user")
    cohort = (F.col("first_day") / period_days).cast("long")
    offset = ((F.col("day") / period_days).cast("long") - cohort)
    return (j.select("user", cohort.alias("cohort_period"),
                     offset.alias("period_offset"))
            .groupBy("cohort_period", "period_offset")
            .agg(F.count_distinct(F.col("user")).alias("n_users")))


def group_outlier_stats(events: DataFrame, *, group_col: str = "event_type",
                        value_col: str = "value",
                        z_milli: int = 2000) -> DataFrame:
    """Per-group outlier counts by z-score threshold, in PURE INTEGER
    arithmetic: values are integerized to milli-units per row (the
    stored doubles round identically on every engine), mean and
    variance come from exact BIGINT sums with floor division, and the
    threshold test compares ``(v − mean)² · 10⁶ > z_milli² · var`` —
    no float aggregate ever happens, so partial-aggregation order
    cannot perturb the result (float mean/stddev would differ in ULPs
    across engines and flip boundary rows).

    Definitions (documented, engine-replayable): ``mean_milli = Σv div
    n``; ``var_milli² = (Σv² div n) − mean_milli²`` — floor-division
    population variance. Overflow headroom: milli-values |v| ≤ 10⁶
    keep Σv² ≤ n·10¹² (safe to n ≈ 9·10⁶ rows per group; integerize
    to centi-units beyond that) and the comparison operands ≤ 10¹⁸.

    Scale shape: one hash-aggregate on the group key for the stats,
    one broadcast join of the (tiny — group-cardinality) stats frame
    back onto the rows, one counting aggregate. No windows.

    Output: (group, n, mean_milli, n_outliers).
    """
    vm = F.round(F.col(value_col) * 1000.0).cast("long")
    d = events.select(F.col(group_col).alias("grp"), vm.alias("vm"))
    stats = (d.groupBy("grp")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("vm").alias("s"),
                  F.sum(F.col("vm") * F.col("vm")).alias("s2"))
             .select("grp", "n",
                     F.expr("s div n").alias("mean_milli"),
                     (F.expr("s2 div n")
                      - F.expr("(s div n) * (s div n)")).alias("var_milli2")))
    j = d.join(F.broadcast(stats), "grp")
    dev = F.col("vm") - F.col("mean_milli")
    is_out = (dev * dev * 1_000_000) > (F.lit(z_milli * z_milli)
                                        * F.col("var_milli2"))
    return (j.groupBy("grp", "n", "mean_milli")
            .agg(F.sum(F.when(is_out, 1).otherwise(0)).alias("n_outliers"))
            .select(F.col("grp").alias("group"), "n", "mean_milli",
                    "n_outliers"))


def merge_intervals(intervals: DataFrame, *, key_col: str = "key",
                    start_col: str = "start", end_col: str = "end") -> DataFrame:
    """Gaps-and-islands: merge overlapping-or-touching ``[start, end]``
    intervals per key into maximal covered islands — the classic
    availability / sensor-uptime / coverage-consolidation operator the
    reference has no counterpart for (its closest relative is the
    engine's 1-D interval cover in the tiling layer).

    Semantics: intervals sort by (start, end) within a key; an interval
    STARTS a new island iff its start is strictly greater than the
    running maximum end of all earlier intervals (touching endpoints
    merge — ``[1,3]`` and ``[3,5]`` are one island). ``start > end``
    rows are treated as written (they still carry their endpoints into
    the running max), matching the SQL oracle exactly. The result is
    invariant to the order of duplicate (start, end) rows, and both
    window functions here evaluate over the ONE sort of this plan's
    single Window node; a SQL replay that splits the flag and the
    running island sum into two windowed subqueries must add a unique
    tiebreaker to both ORDER BYs (two independent sorts can order
    duplicates differently and splice an island — see the q104 oracle
    note in __spark_entry__.py).

    Scale shape: ONE shuffle on the key (the window partition), then
    the island aggregation reuses the same partitioning — no second
    exchange, no global sort, no Python. Per-key interval counts bound
    window state; keys are independent so skew is per-key only.

    Output: (key, island_start, island_end, n_intervals).
    """
    w = Window.partitionBy("_k").orderBy(F.col("_s").asc(), F.col("_e").asc())
    prev_max_end = F.max("_e").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    d = (intervals.select(F.col(key_col).alias("_k"),
                          F.col(start_col).alias("_s"),
                          F.col(end_col).alias("_e"))
         .withColumn("_new", F.when(
             prev_max_end.isNull() | (F.col("_s") > prev_max_end),
             F.lit(1)).otherwise(F.lit(0)))
         .withColumn("_island", F.sum("_new").over(
             w.rowsBetween(Window.unboundedPreceding, 0))))
    return (d.groupBy("_k", "_island")
            .agg(F.min("_s").alias("island_start"),
                 F.max("_e").alias("island_end"),
                 F.count(F.lit(1)).alias("n_intervals"))
            .select(F.col("_k").alias("key"), "island_start", "island_end",
                    "n_intervals"))


def sessionize_batch(events: DataFrame, *, gap_seconds: int = 1800,
                     user_col: str = "user_id",
                     ts_col: str = "ts") -> DataFrame:
    """Batch sessionization: split each user's event stream into
    sessions wherever the gap between consecutive events exceeds
    ``gap_seconds`` — the batch counterpart of the engine's streaming
    ``sessionize`` (streaming.py), for backfills and training-data
    session features over historical logs. (The reference, a KML
    converter, has no event surface; §2.4-style extension.)

    Semantics: events order by timestamp within a user (equal
    timestamps always share a session — their gap is 0 — so no
    tie-break column is needed HERE: both window functions evaluate
    over the one sort this plan's single Window node produces; a SQL
    replay that computes the flag and the running sum in two separate
    windowed subqueries MUST totalize both ORDER BYs with a unique
    column, or duplicate timestamps can re-sort between the passes
    and splice a session boundary — see the q104/q106 oracle notes in
    __spark_entry__.py); an event opens a new session iff
    ``epoch(ts) - epoch(prev ts) > gap_seconds`` (strictly greater:
    a gap of exactly ``gap_seconds`` stays in-session). NULL
    timestamps AND NULL user ids are dropped — the package's NULL-key
    discipline (a NULL user is an unidentified visitor, and grouping
    all of them into one window partition would sessionize distinct
    people together as a single pseudo-user).

    Scale shape: identical to :func:`merge_intervals` — ONE shuffle on
    the user key (the window partition), and the per-session
    aggregation reuses the same partitioning, so the plan carries a
    single Exchange, no global sort, no Python. Window state is
    bounded per user; skew is per-user only (a planetary-scale hot
    user is a data bug, not a partitioning bug).

    Output: (user_id, session_idx 1-based per user, session_start,
    session_end, n_events).
    """
    if gap_seconds < 0:
        raise ValueError("gap_seconds must be >= 0")
    w = Window.partitionBy("_u").orderBy(F.col("_t").asc())
    sec = F.unix_timestamp(F.col("_t"))
    prev_sec = F.lag(sec).over(w)
    d = (events.select(F.col(user_col).alias("_u"),
                       F.col(ts_col).alias("_t"))
         .where(F.col("_t").isNotNull() & F.col("_u").isNotNull())
         .withColumn("_new", F.when(
             prev_sec.isNull() | ((sec - prev_sec) > gap_seconds),
             F.lit(1)).otherwise(F.lit(0)))
         .withColumn("_sess", F.sum("_new").over(
             w.rowsBetween(Window.unboundedPreceding, 0))))
    return (d.groupBy("_u", "_sess")
            .agg(F.min("_t").alias("session_start"),
                 F.max("_t").alias("session_end"),
                 F.count(F.lit(1)).alias("n_events"))
            .select(F.col("_u").alias("user_id"),
                    F.col("_sess").alias("session_idx"),
                    "session_start", "session_end", "n_events"))


def time_bucket_gapfill(events: DataFrame, *, bucket_seconds: int = 3600,
                        group_col: str = "event_type",
                        ts_col: str = "ts") -> DataFrame:
    """Tumbling-bucket counts with ZERO-FILLED gaps per group — the
    hypertable/Timescale-style ``time_bucket_gapfill`` primitive: a
    downstream charting or feature pipeline needs a DENSE series per
    key, and "no events this hour" is a real observation (0), not a
    missing row. Buckets span each group's own [first, last] bucket.
    (The reference, a KML converter, has no event surface; §2.4-style
    extension.)

    Semantics: ``bucket_sec = epoch(ts) - epoch(ts) mod bucket_seconds``
    (pmod — a true floor for pre-1970 timestamps too); NULL timestamps
    and NULL groups are dropped; every bucket between a group's min and
    max bucket appears exactly once with its event count (0 for gaps).

    Scale shape: the raw events collapse FIRST through one (group,
    bucket) hash-aggregate (map-side combined) — everything after runs
    on the aggregated frame, which is bounded by time-range/bucket per
    group, not by event count. The per-group [min, max] range is one
    more tiny aggregate; the dense grid is a per-group ``sequence``
    explode of ONE row per group (bounded by the group's bucket span —
    pick ``bucket_seconds`` so span/bucket is sane, it is the OUTPUT
    size); the final left join keys on (group, bucket) between two
    aggregated frames. No windows, no global sort, no Python.

    Output: (group_col, bucket_sec BIGINT, n_events BIGINT).
    """
    step = int(bucket_seconds)
    if step <= 0:
        raise ValueError("bucket_seconds must be positive")
    sec = F.unix_timestamp(F.col(ts_col)).cast("long")
    bucket = (sec - F.pmod(sec, F.lit(step))).alias("_b")
    counts = (events
              .where(F.col(ts_col).isNotNull()
                     & F.col(group_col).isNotNull())
              .select(F.col(group_col).alias("_g"), bucket)
              .groupBy("_g", "_b").agg(F.count(F.lit(1)).alias("_n")))
    ranges = counts.groupBy("_g").agg(F.min("_b").alias("_lo"),
                                      F.max("_b").alias("_hi"))
    grid = ranges.select(
        "_g",
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"),
                             F.lit(step).cast("long"))).alias("_b"))
    return (grid.join(counts, ["_g", "_b"], "left")
            .select(F.col("_g").alias(group_col),
                    F.col("_b").alias("bucket_sec"),
                    F.coalesce(F.col("_n"), F.lit(0)).cast("long")
                    .alias("n_events")))


def event_transition_counts(events: DataFrame, *, user_col: str = "user_id",
                            ts_col: str = "ts",
                            type_col: str = "event_type",
                            order_col: str = "event_id") -> DataFrame:
    """First-order Markov transition counts over per-user event
    streams: for every ordered pair of CONSECUTIVE events of one user,
    count (prev_type → next_type), plus the transition probability in
    exact parts-per-million (sequence mining / next-event-prediction
    features; product analytics "what do users do after X").
    (The reference, a KML converter, has no event surface; §2.4-style
    extension.)

    Semantics: a user's events order by (ts, order_col) — the order
    column makes equal timestamps deterministic; NULL timestamps are
    dropped; each user's first event has no predecessor and feeds no
    pair. ``ppm = (n_trans * 10^6) div Σ n_trans over prev_type`` —
    integer truncating division, so the oracle replays it bit-exactly
    (no float probability ever materializes).

    Scale shape: one shuffle on the user key for the lag window
    (bounded per-user state, never a global sort), one (prev, next)
    hash-aggregate, and the normalizing window runs on the TINY
    aggregated pair frame (≤ |types|² rows) partitioned by prev_type.
    No Python.

    Output: (prev_type, next_type, n_trans BIGINT, ppm BIGINT).
    """
    w = Window.partitionBy("_u").orderBy(F.col("_t").asc(),
                                         F.col("_i").asc())
    d = (events
         .where(F.col(ts_col).isNotNull())
         .select(F.col(user_col).alias("_u"), F.col(ts_col).alias("_t"),
                 F.col(order_col).alias("_i"),
                 F.col(type_col).alias("_c"))
         .withColumn("_p", F.lag("_c").over(w))
         .where(F.col("_p").isNotNull()))
    pairs = d.groupBy("_p", "_c").agg(F.count(F.lit(1)).alias("n_trans"))
    tot = F.sum("n_trans").over(Window.partitionBy("_p"))
    return (pairs.withColumn("_tot", tot)
            .select(F.col("_p").alias("prev_type"),
                    F.col("_c").alias("next_type"), "n_trans",
                    F.expr("(n_trans * 1000000) div _tot").alias("ppm")))


def inter_event_stats(events: DataFrame, *, user_col: str = "user_id",
                      ts_col: str = "ts",
                      order_col: str = "event_id") -> DataFrame:
    """Per-user inter-arrival statistics — the raw features behind
    burstiness / engagement-cadence models and the input for choosing
    a sessionization gap (:func:`sessionize_batch`): for each user,
    the count of events and the min / max / total of the gaps between
    consecutive events, in exact integer seconds. (The reference, a
    KML converter, has no event surface; §2.4-style extension.)

    Ordering is (ts, order_col) so equal timestamps break
    deterministically on both engines; NULL timestamps and NULL users
    are dropped (the package's NULL-key discipline). All outputs are
    BIGINT (epoch-second arithmetic), so the DuckDB oracle hashes
    bit-exact.

    Scale shape: ONE shuffle on the user key — the lag window and the
    per-user aggregate share the same partitioning, so the plan
    carries a single Exchange, no global sort, no Python. Window state
    is one row of lookback per user.

    Beyond min/max/span, the exact second moment ``gap_sq_sum = Σg²``
    (BIGINT; caller guarantees n·Σg² < 2⁶² — gaps ≤ ~30 years at 10⁶
    events/user is safe) feeds the Goh–Barabási burstiness
    ``B = (σ − μ)/(σ + μ)`` (population σ = √(nΣg² − S²)/n), emitted
    as one fixed IEEE expression: machine-regular streams → −1,
    scraper bursts → +1, human browsing ≈ 0. NULL when a user has no
    gaps or all gaps are zero.

    Output: (user_id, n_events, n_gaps, min_gap_s, max_gap_s,
    span_s = sum of gaps = last - first, gap_sq_sum, mean_gap_s,
    burstiness).
    """
    w = Window.partitionBy("_u").orderBy(F.col("_t").asc(),
                                         F.col("_o").asc())
    sec = F.unix_timestamp(F.col("_t")).cast("long")
    gap = (sec - F.lag(sec).over(w)).alias("_gap")
    d = (events.select(F.col(user_col).alias("_u"),
                       F.col(ts_col).alias("_t"),
                       F.col(order_col).alias("_o"))
         .where(F.col("_t").isNotNull() & F.col("_u").isNotNull())
         .select("_u", gap))
    s = (d.groupBy("_u")
         .agg(F.count(F.lit(1)).alias("n_events"),
              F.count("_gap").alias("n_gaps"),
              F.min("_gap").alias("min_gap_s"),
              F.max("_gap").alias("max_gap_s"),
              F.coalesce(F.sum("_gap"), F.lit(0)).cast("long")
              .alias("span_s"),
              F.coalesce(F.sum(F.col("_gap") * F.col("_gap")),
                         F.lit(0)).cast("long").alias("gap_sq_sum"))
         .withColumnRenamed("_u", "user_id"))
    n = F.col("n_gaps").cast("double")
    mu = F.col("span_s").cast("double") / n
    var_num = (F.col("n_gaps") * F.col("gap_sq_sum")
               - F.col("span_s") * F.col("span_s"))
    sigma = F.sqrt(var_num.cast("double")) / n
    return s.select(
        "user_id", "n_events", "n_gaps", "min_gap_s", "max_gap_s",
        "span_s", "gap_sq_sum",
        F.when(F.col("n_gaps") > 0, mu).alias("mean_gap_s"),
        F.when((F.col("n_gaps") > 0) & ((sigma + mu) > 0),
               (sigma - mu) / (sigma + mu)).alias("burstiness"))


def customer_rfm(orders: DataFrame, *, cust_col: str = "o_custkey",
                 ts_col: str = "o_orderdate",
                 amount_col: str = "o_totalprice",
                 n_tiles: int = 5) -> DataFrame:
    """RFM (recency / frequency / monetary) customer scoring — the
    classic behavioural segmentation table: days since each customer's
    last order (relative to the corpus-wide latest order date, so the
    score is reproducible from the data alone), order count, and total
    spend in exact integer cents, each bucketed into ``n_tiles``
    quantile scores. (§2.4-style extension; the reference has no
    relational surface.)

    Determinism: every metric is an exact integer, and each NTILE
    orders by (metric, customer key), a total order — so Spark and
    DuckDB assign identical tiles (both use the standard
    remainder-to-leading-buckets NTILE). Recency scores ascending
    (most recent = tile 1), frequency and monetary score descending
    (biggest = tile 1).

    Scale shape: one hash-aggregate per customer (map-side combined),
    a broadcast of the single-row global max date, and three NTILE
    windows over the aggregated per-customer frame (one row per
    customer, not per order). Global windows sort the per-customer
    frame — at planetary customer counts swap NTILE for a two-pass
    quantile-boundary join; the aggregate shape is already right.

    Output: (custkey, recency_days, frequency, monetary_cents,
    r_score, f_score, m_score).
    """
    if n_tiles <= 0:
        raise ValueError("n_tiles must be positive")
    per_cust = (orders
                .where(F.col(cust_col).isNotNull()
                       & F.col(ts_col).isNotNull())
                .groupBy(F.col(cust_col).alias("custkey"))
                .agg(F.max(F.to_date(ts_col)).alias("_last"),
                     F.count(F.lit(1)).alias("frequency"),
                     F.sum(F.round(F.col(amount_col) * 100.0)
                           .cast("long")).alias("monetary_cents")))
    anchor = per_cust.agg(F.max("_last").alias("_anchor"))
    d = (per_cust.crossJoin(F.broadcast(anchor))
         .withColumn("recency_days",
                     F.datediff(F.col("_anchor"), F.col("_last"))
                     .cast("long")))
    wr = Window.orderBy(F.col("recency_days").asc(), F.col("custkey").asc())
    wf = Window.orderBy(F.col("frequency").desc(), F.col("custkey").asc())
    wm = Window.orderBy(F.col("monetary_cents").desc(),
                        F.col("custkey").asc())
    return (d.select("custkey", "recency_days", "frequency",
                     "monetary_cents")
            .withColumn("r_score", F.ntile(n_tiles).over(wr))
            .withColumn("f_score", F.ntile(n_tiles).over(wf))
            .withColumn("m_score", F.ntile(n_tiles).over(wm)))


def session_path_counts(events: DataFrame, *, gap_seconds: int = 1800,
                        max_len: int = 5,
                        user_col: str = "user_id",
                        ts_col: str = "ts",
                        id_col: str = "event_id",
                        type_col: str = "event_type") -> DataFrame:
    """How many sessions follow each event-type path — the funnel-
    discovery / UX-flow-mining aggregate (which journeys actually
    happen, and how often) over the same gap-based sessions as
    :func:`sessionize_batch`.

    Semantics: rows with a NULL user, timestamp, id or type are
    dropped (NULL-key discipline); events order within a user by the
    TOTALIZED key ``(ts, id)`` — the unique id tie-break matters here,
    unlike :func:`sessionize_batch`, because equal-timestamp events
    are interchangeable for session MEMBERSHIP but not for path ORDER
    (and the SQL replay's separate windowed passes must totalize the
    same way — the q104/q106 oracle lesson). A session's path is its
    first ``max_len`` event types joined with ``'>'``; longer sessions
    truncate silently (the head identifies the journey; unbounded
    paths would make the output cardinality unbounded).

    Scale shape: ONE shuffle on the user key feeds both window passes
    (boundary lag + running session index — same single-Exchange plan
    as :func:`sessionize_batch`), a second window ranks inside the
    session (same partitioning prefix, no new Exchange), then the
    bounded per-session ``collect_list`` (≤ ``max_len`` structs) and a
    map-side-combinable path count. No Python anywhere.

    Output: (path, n_sessions).
    """
    if gap_seconds < 0:
        raise ValueError("gap_seconds must be >= 0")
    if max_len < 1:
        raise ValueError("max_len must be >= 1")
    w = Window.partitionBy("_u").orderBy(F.col("_t").asc(),
                                         F.col("_i").asc())
    sec = F.unix_timestamp(F.col("_t"))
    prev_sec = F.lag(sec).over(w)
    d = (events.select(F.col(user_col).alias("_u"),
                       F.col(ts_col).alias("_t"),
                       F.col(id_col).alias("_i"),
                       F.col(type_col).alias("_ty"))
         .where(F.col("_u").isNotNull() & F.col("_t").isNotNull()
                & F.col("_i").isNotNull() & F.col("_ty").isNotNull())
         .withColumn("_new", F.when(
             prev_sec.isNull() | ((sec - prev_sec) > gap_seconds),
             F.lit(1)).otherwise(F.lit(0)))
         .withColumn("_s", F.sum("_new").over(w))
         .withColumn("_rn", F.row_number().over(
             Window.partitionBy("_u", "_s").orderBy(
                 F.col("_t").asc(), F.col("_i").asc())))
         .where(F.col("_rn") <= max_len))
    path = F.concat_ws(">", F.expr(
        "transform(sort_array(collect_list(struct(_rn, _ty))), p -> p._ty)"))
    return (d.groupBy("_u", "_s").agg(path.alias("path"))
            .groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_sessions")))


def touch_attribution(events: DataFrame, *, conversion_type: str,
                      touch_types: list[str],
                      user_col: str = "user_id", ts_col: str = "ts",
                      id_col: str = "event_id",
                      type_col: str = "event_type") -> DataFrame:
    """Multi-touch attribution: for every CONVERSION event (type
    ``conversion_type``), the same user's FIRST and LAST preceding
    TOUCH event (type in ``touch_types``) — first-touch and last-touch
    marketing attribution in one pass. "Preceding" is strict in the
    TOTALIZED per-user order ``(ts, id)``, so an equal-timestamp touch
    attributes iff its id is smaller — deterministic under duplicate
    timestamps, replayable as the SQL row-value predicate
    ``(t.ts, t.id) < (c.ts, c.id)``.

    Output: one row per conversion — ``(conversion id, user,
    first_type, first_id, last_type, last_id)`` with NULLs when the
    user has no preceding touch. Aggregate downstream as needed (e.g.
    group by (first_type, last_type) for the attribution matrix).

    Scale shape: ONE exchange on the user key; first/last touch are
    null-skipping min/max of a ``struct(ts, id, type)`` over a
    rows-frame window (UNBOUNDED PRECEDING .. 1 PRECEDING) — no
    conversion×touch join, no per-user collect, no Python. NULL user
    ids are dropped (the package's NULL-key discipline); NULL
    timestamps are dropped (no position in the order).
    """
    e = (events.select(F.col(user_col).alias("user_id"),
                       F.col(ts_col).alias("ts"),
                       F.col(id_col).alias("event_id"),
                       F.col(type_col).alias("event_type"))
         .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull()
                & F.col("event_type").isin([conversion_type,
                                            *touch_types])))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    touch = F.when(F.col("event_type").isin(list(touch_types)),
                   F.struct(F.col("ts").alias("ts"),
                            F.col("event_id").alias("event_id"),
                            F.col("event_type").alias("event_type")))
    return (e.withColumn("_first", F.min(touch).over(w))
            .withColumn("_last", F.max(touch).over(w))
            .where(F.col("event_type") == conversion_type)
            .select(F.col("event_id").alias("conversion_id"),
                    "user_id",
                    F.col("_first.event_type").alias("first_type"),
                    F.col("_first.event_id").alias("first_id"),
                    F.col("_last.event_type").alias("last_type"),
                    F.col("_last.event_id").alias("last_id")))


def cusum_changepoint(df: DataFrame, *, value_col: str, order_col: str,
                      id_col: str, group_cols: list[str]) -> DataFrame:
    """Per-group CUSUM change-point: the position in the (order, id)-
    sorted integer series maximizing |Σ_{j≤i} x_j − i·x̄| — the
    level-shift locator (when did a metric's mean move?) behind
    drift alarms and A/B ramp forensics.

    Everything is EXACT INTEGER until one final division: the
    deviation is carried ×n as ``dev_i = |n·cum_i − i·total|`` (a
    BIGINT — caller guarantees n·Σ|x| < 2⁶³, ANSI-raises otherwise),
    the argmax tie is PINNED to the smallest position via
    ``min(struct(−dev, i))``, and the reported magnitude
    ``cusum = dev/n²`` (the mean-shift scale) is one division of
    identical integers — bit-identical across engines and
    partitionings (the :func:`~kml2geojson_spark.relational.group_ols`
    contract). Floating-point values raise; NULL keys/orders/ids/
    values are dropped; (order, id) must be unique per group for a
    unique answer — id breaks order ties.

    Scale shape: cumulative AND full-frame sums over ONE group
    partitioning (a single Exchange — the group_mad_outliers
    two-window rule), then one final hash-agg. No join, no global
    sort.

    Output: (group..., n, total, cp_pos, cp_at, cusum_num, cusum)
    where cp_pos is the 1-based position, cp_at the order_col value
    there, and cusum_num = max dev (×n scaled).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    for c in (value_col, order_col):
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"cusum_changepoint: {c!r} is floating-point — "
                "integerize first (exact integer deviations are the "
                "determinism contract)")
    if not group_cols:
        raise ValueError(
            "cusum_changepoint: group_cols must be non-empty")
    keep = (F.col(value_col).isNotNull() & F.col(order_col).isNotNull()
            & F.col(id_col).isNotNull())
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    base = df.where(keep).select(
        *group_cols, F.col(order_col).cast("long").alias("_o"),
        F.col(id_col).cast("long").alias("_id"),
        F.col(value_col).cast("long").alias("_v"))
    wg = Window.partitionBy(*group_cols)
    w = wg.orderBy(F.col("_o").asc(), F.col("_id").asc())
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stepped = base.select(
        *group_cols, "_o",
        F.row_number().over(w).alias("_i"),
        F.sum("_v").over(wrun).alias("_cum"),
        F.count(F.lit(1)).over(wg).alias("_n"),
        F.sum("_v").over(wg).alias("_tot"))
    dev = F.abs(F.col("_n") * F.col("_cum") - F.col("_i") * F.col("_tot"))
    s = stepped.groupBy(*group_cols).agg(
        F.max("_n").alias("n"),
        F.max("_tot").alias("total"),
        F.min(F.struct((-dev).alias("nd"), F.col("_i").alias("i"),
                       F.col("_o").alias("o"))).alias("_m"))
    return s.select(
        *group_cols, "n", "total",
        F.col("_m.i").alias("cp_pos"),
        F.col("_m.o").alias("cp_at"),
        (-F.col("_m.nd")).alias("cusum_num"),
        ((-F.col("_m.nd")).cast("double")
         / (F.col("n").cast("double") * F.col("n").cast("double")))
        .alias("cusum"))


def max_streak(df: DataFrame, *, user_col: str, day_col: str) -> DataFrame:
    """Per-user longest run of CONSECUTIVE active days — the
    retention/habit metric (current DAU streaks, contributor streaks)
    and the gaps-and-islands twin of :func:`merge_intervals` on a
    unit grid.

    Classic islands arithmetic, all exact integers: distinct
    (user, day), then ``day − row_number()`` over the user's
    day-ascending order is CONSTANT within a consecutive run and
    unique across runs, so one more aggregate per (user, island)
    yields run lengths and a final max picks the streak. Days must be
    INTEGER (epoch days — floats raise); NULL users/days are dropped.

    Scale shape: one distinct hash-agg, one window + two aggregates
    all clustered by the user key — Spark satisfies the (user,
    island) grouping with the user partitioning, so the whole tail
    runs on a SINGLE Exchange after the distinct.

    Output: (user_col, n_active_days, n_streaks, max_streak).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    if isinstance(fields[day_col].dataType, (DoubleType, FloatType)):
        raise ValueError(
            f"max_streak: {day_col!r} is floating-point — integerize "
            "to epoch days first")
    base = (df.where(F.col(user_col).isNotNull()
                     & F.col(day_col).isNotNull())
            .select(F.col(user_col).alias("_u"),
                    F.col(day_col).cast("long").alias("_d"))
            .distinct())
    w = Window.partitionBy("_u").orderBy(F.col("_d").asc())
    runs = (base
            .withColumn("_isl", F.col("_d")
                        - F.row_number().over(w).cast("long"))
            .groupBy("_u", "_isl")
            .agg(F.count(F.lit(1)).alias("_len")))
    return (runs.groupBy("_u")
            .agg(F.sum("_len").alias("n_active_days"),
                 F.count(F.lit(1)).alias("n_streaks"),
                 F.max("_len").alias("max_streak"))
            .withColumnRenamed("_u", user_col))


def event_dedup_bursts(events: DataFrame, *, key_cols: list[str],
                       ts_col: str = "ts", id_col: str = "event_id",
                       gap_seconds: int = 60) -> DataFrame:
    """Burst (retry/double-fire) deduplication: within each key,
    events closer than ``gap_seconds`` to their predecessor belong to
    one burst, and only the burst's FIRST event survives — the
    standard telemetry-cleaning pass (double-clicks, at-least-once
    delivery retries, webhook re-posts) that exact-dedup can't do
    because the payloads differ by timestamp.

    Semantics: bursts are gap sessions (the :func:`sessionize_batch`
    rule — chained: a burst extends as long as consecutive gaps stay
    ≤ gap_seconds); the keeper is ``min(struct(ts, id))`` — an
    order-free aggregate, and the ORDER (ts, id) is totalized by the
    event id, so duplicate timestamps never re-sort across engines.
    All time arithmetic runs on EXACT MICROSECOND BIGINTs
    (``timestampdiff(MICROSECOND, …)`` — NTZ-safe wall-clock
    difference, DuckDB ``date_diff('microseconds', …)``): a
    second-truncated or float-epoch gap test flips bursts whose gap
    sits within a second of the threshold. NULL keys/timestamps/ids
    drop.

    Scale shape: ONE Exchange on the key — the lag window, the
    running burst index, and the final per-burst aggregate all share
    that partitioning. No join.

    Output: (key..., burst_idx, keeper_id, keeper_ts,
    burst_size BIGINT, burst_span_us BIGINT).
    """
    if gap_seconds < 0:
        raise ValueError("gap_seconds must be >= 0")
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    keep = F.col(ts_col).isNotNull() & F.col(id_col).isNotNull()
    for g in key_cols:
        keep = keep & F.col(g).isNotNull()
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("_t").asc(), F.col("_id").asc())
    gap_us = int(gap_seconds) * 1_000_000
    d = (events.where(keep)
         .select(*key_cols, F.col(ts_col).alias("_t"),
                 F.col(id_col).alias("_id"))
         .withColumn("_prev_t", F.lag(F.col("_t")).over(w))
         .withColumn("_new", F.when(
             F.col("_prev_t").isNull()
             | (F.expr("timestampdiff(MICROSECOND, _prev_t, _t)")
                > gap_us),
             F.lit(1)).otherwise(F.lit(0)))
         .withColumn("_burst", F.sum("_new").over(
             w.rowsBetween(Window.unboundedPreceding, 0))))
    return (d.groupBy(*key_cols, F.col("_burst").alias("burst_idx"))
            .agg(F.min(F.struct(F.col("_t").alias("t"),
                                F.col("_id").alias("i"))).alias("_k"),
                 F.count(F.lit(1)).alias("burst_size"),
                 F.expr("timestampdiff(MICROSECOND, min(_t), max(_t))")
                 .alias("burst_span_us"))
            .select(*key_cols, "burst_idx",
                    F.col("_k.i").alias("keeper_id"),
                    F.col("_k.t").alias("keeper_ts"),
                    "burst_size", "burst_span_us"))


def cohort_ltv(events: DataFrame, *, user_col: str = "user_id",
               ts_col: str = "ts", value_col: str = "value",
               value_scale: int = 100,
               max_age_days: int = 90) -> DataFrame:
    """Cohort lifetime-value curves: users are cohorted by their
    FIRST event's day, and each cohort reports the cumulative
    integerized value at every observed age (days since cohort day)
    up to ``max_age_days`` — the revenue twin of
    :func:`cohort_retention` (which counts users; this sums what they
    spent).

    Determinism: values are integerized per row
    (``round(value · value_scale)`` — cents by default, bit-identical
    IEEE on every engine), so the per-(cohort, age) sums and the
    cumulative window are exact BIGINTs. Cohort day = min event day
    per user (order-free aggregate). NULL users/timestamps/values
    drop; negative ages cannot occur (the cohort day is the min).

    Scale shape: one user-level hash-aggregate (cohort assignment)
    whose join back to the events rides the SAME user-key exchange,
    then one (cohort, age) hash-aggregate, and the cumulative window
    and cohort-size join share the cohort partitioning. No global
    sort, no Python.

    Output: (cohort_day DATE, age_days INT, n_users_cohort BIGINT,
    value_scaled BIGINT, cum_value_scaled BIGINT).
    """
    if max_age_days < 0:
        raise ValueError("max_age_days must be >= 0")
    if value_scale <= 0:
        raise ValueError("value_scale must be positive")
    keep = (F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull())
    base = (events.where(keep)
            .select(F.col(user_col).alias("_u"),
                    F.to_date(F.col(ts_col)).alias("_d"),
                    F.round(F.col(value_col).cast("double")
                            * F.lit(float(value_scale)))
                    .cast("long").alias("_v")))
    cohort = (base.groupBy("_u")
              .agg(F.min("_d").alias("_cd")))
    joined = (base.join(cohort, "_u")
              .withColumn("_age", F.datediff(F.col("_d"), F.col("_cd")))
              .where(F.col("_age") <= max_age_days))
    sizes = cohort.groupBy("_cd").agg(
        F.count(F.lit(1)).alias("n_users_cohort"))
    per_age = (joined.groupBy("_cd", "_age")
               .agg(F.sum("_v").alias("value_scaled")))
    return (per_age
            .join(sizes, "_cd")
            .select(F.col("_cd").alias("cohort_day"),
                    F.col("_age").cast("int").alias("age_days"),
                    "n_users_cohort", "value_scaled",
                    F.sum("value_scaled").over(
                        Window.partitionBy("_cd")
                        .orderBy(F.col("_age").asc())
                        .rowsBetween(Window.unboundedPreceding, 0))
                    .alias("cum_value_scaled")))


def kaplan_meier(df: DataFrame, *, duration_col: str, event_col: str,
                 group_cols: list[str]) -> DataFrame:
    """Per-group Kaplan–Meier survival table — the censoring-aware
    retention/churn estimator (user lifetime, subscription survival,
    ticket time-to-close) that a naive "mean duration" gets wrong the
    moment observation windows truncate: censored subjects stay in
    the at-risk denominator until their censoring time instead of
    being dropped or counted as events.

    Input: one row per subject with an INTEGER ``duration_col``
    (floats raise) and an INTEGER 0/1 ``event_col`` (1 = event
    observed at ``duration``, 0 = censored at ``duration``).

    Determinism: at-risk / event / censored counts per time are
    exact BIGINTs (per-time hash-agg + one cumulative window); the
    cumulative log-survival
    ``Σ_{s ≤ t, d_s>0} (ln(n_s − d_s) − ln(n_s))`` uses the
    micro-nat integerized ln of :func:`~kml2geojson_spark.relational
    .group_entropy` (each ln rounded PER exact integer before the
    sum → addition-order independent exact BIGINT). The convenience
    ``survival = exp(log_surv_micro/1e6)`` double is engine-local
    (exp differs by 1 ulp between libms — measured), so CROSS-ENGINE
    comparisons must hash the exact integer columns only.

    Scale shape: one (group, duration) hash-aggregate with map-side
    combine, then all windows over the SAME group partitioning
    (time-level rows, not subject rows). No join, no Python.

    Output: (group..., t, at_risk, events, censored,
    log_surv_micro, survival) — one row per EVENT time (d > 0);
    log_surv_micro/survival are NULL/0.0 from the step where the
    last at-risk subject dies (n = d: survival reaches exact zero).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    for c in (duration_col, event_col):
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"kaplan_meier: {c!r} is floating-point — integerize "
                "first (exact integer counts are the determinism "
                "contract)")
    if not group_cols:
        raise ValueError("kaplan_meier: group_cols must be non-empty")
    keep = (F.col(duration_col).isNotNull()
            & F.col(event_col).isNotNull()
            & F.col(event_col).cast("long").isin(0, 1)
            & (F.col(duration_col) >= 0))
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    ev = F.col(event_col).cast("long")
    per_t = (df.where(keep)
             .groupBy(*group_cols,
                      F.col(duration_col).cast("long").alias("t"))
             .agg(F.sum(ev).alias("events"),
                  F.sum(F.lit(1) - ev).alias("censored")))
    wg = Window.partitionBy(*group_cols)
    w_prior = (wg.orderBy(F.col("t").asc())
               .rowsBetween(Window.unboundedPreceding, -1))
    leaving = F.col("events") + F.col("censored")
    at_risk = (F.sum(leaving).over(wg)
               - F.coalesce(F.sum(leaving).over(w_prior), F.lit(0)))
    staged = per_t.select(*group_cols, "t", "events", "censored",
                          at_risk.alias("at_risk")) \
        .where(F.col("events") > 0)

    def _lnmu(col: F.Column) -> F.Column:
        return F.round(F.log(col.cast("double")) * 1e6).cast("long")

    alive = F.col("at_risk") - F.col("events")
    step = F.when(alive > 0,
                  _lnmu(alive) - _lnmu(F.col("at_risk"))) \
        .otherwise(F.lit(0))
    w_cum = (wg.orderBy(F.col("t").asc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum(step).over(w_cum)
    dead = F.max((alive == 0).cast("int")).over(w_cum)
    log_s = F.when(dead == 0, cum)
    surv = F.when(dead == 0,
                  F.exp(cum.cast("double") / F.lit(1e6))) \
        .otherwise(F.lit(0.0))
    return staged.select(*group_cols, "t", "at_risk", "events",
                         "censored", log_s.alias("log_surv_micro"),
                         surv.alias("survival"))


def time_weighted_average(df: DataFrame, *, ts_col: str,
                          value_col: str,
                          group_cols: list[str]) -> DataFrame:
    """Per-group time-weighted average of an irregularly-sampled
    value — the correct mean for sensor readings, account balances,
    and fleet gauges where a plain row average over-weights bursty
    sampling windows: each sample is held until the next one, so its
    weight is its holding interval.

    Determinism: both ``ts_col`` and ``value_col`` must be INTEGER
    (floats raise — integerize timestamps to epoch minutes/seconds
    first); the hold interval ``Δtᵢ = tᵢ₊₁ − tᵢ`` comes from one
    LEAD over the totalized (ts, value) order (ties carry zero
    weight for all but the block's last row, and equal values make
    any within-block permutation sum identically), and
    ``Σ v·Δt`` / ``t_max − t_min`` are exact BIGINTs with ONE final
    double division. The last sample contributes no interval (the
    observation window closes at ``t_max``). Caller guarantees
    Σ|v·Δt| < 2⁶³. NULL keys/values drop.

    Scale shape: one Exchange (hash by group), one in-partition sort
    for the LEAD, one hash-aggregate on the same partitioning. No
    join, no Python.

    Output: (group..., n, t_span, vdt_sum, twa) — twa NULL when the
    group has a single distinct timestamp (zero span).
    """
    from pyspark.sql.types import DoubleType, FloatType

    fields = {f.name: f for f in df.schema.fields}
    for c in (ts_col, value_col):
        if isinstance(fields[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"time_weighted_average: {c!r} is floating-point — "
                "integerize first (exact integer sums are the "
                "determinism contract)")
    if not group_cols:
        raise ValueError(
            "time_weighted_average: group_cols must be non-empty")
    keep = F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    b = df.where(keep).select(
        *group_cols, F.col(ts_col).cast("long").alias("_t"),
        F.col(value_col).cast("long").alias("_v"))
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("_t").asc(), F.col("_v").asc())
    nxt = F.lead("_t").over(w)
    l = b.select(*group_cols, "_t", "_v", nxt.alias("_nxt"))
    s = l.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_t").alias("_tmin"), F.max("_t").alias("_tmax"),
        F.sum(F.when(F.col("_nxt").isNotNull(),
                     F.col("_v") * (F.col("_nxt") - F.col("_t")))
              .otherwise(0)).alias("vdt_sum"))
    span = F.col("_tmax") - F.col("_tmin")
    twa = F.when(span > 0,
                 F.col("vdt_sum").cast("double") / span.cast("double"))
    return s.select(*group_cols, "n", span.alias("t_span"),
                    "vdt_sum", twa.alias("twa"))


def last_touch_attribution(events: DataFrame, *,
                           conversion_type: str,
                           user_col: str = "user_id",
                           ts_col: str = "ts",
                           id_col: str = "event_id",
                           type_col: str = "event_type") -> DataFrame:
    """Last-touch conversion attribution — every conversion event is
    credited to the MOST RECENT preceding non-conversion event
    ("channel") in the same user's stream; the output is the credited
    conversion count per channel (the marketing-attribution baseline
    and the sanity check against which multi-touch models are
    diffed). Complements :func:`touch_attribution`, which restricts
    touches to a NAMED type set and reports the joint
    (first_type, last_type) matrix; this operator credits ANY
    non-conversion type and reports the single-channel marginal.

    Determinism: the stream is totalized by (ts, id); the credited
    channel is ``last(non-conversion type, ignorenulls)`` over the
    UNBOUNDED-PRECEDING-to-1-PRECEDING frame — with a totalized
    order that last value is unique, so attribution never depends on
    partitioning. Conversions with no preceding touch attribute to
    NULL and are reported under channel ``'(none)'`` (kept — silent
    drops would understate conversions). NULL users/ts/ids/types
    drop.

    Scale shape: ONE Exchange (hash by user), one in-partition sort,
    one window last(), one hash-aggregate. No join, no Python, no
    per-user event collection.

    Output: (channel, n_conversions) — exact BIGINT counts.
    """
    keep = (F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
            & F.col(id_col).isNotNull() & F.col(type_col).isNotNull())
    b = events.where(keep).select(
        F.col(user_col).alias("_u"), F.col(ts_col).alias("_t"),
        F.col(id_col).alias("_i"), F.col(type_col).alias("_y"))
    w = (Window.partitionBy("_u")
         .orderBy(F.col("_t").asc(), F.col("_i").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    touch = F.last(F.when(F.col("_y") != conversion_type,
                          F.col("_y")), ignorenulls=True).over(w)
    conv = (b.withColumn("_ch", touch)
            .where(F.col("_y") == conversion_type))
    return (conv.groupBy(F.coalesce(F.col("_ch"), F.lit("(none)"))
                 .alias("channel"))
            .agg(F.count(F.lit(1)).alias("n_conversions")))


def event_trigram_paths(events: DataFrame, *,
                        user_col: str = "user_id",
                        ts_col: str = "ts", id_col: str = "event_id",
                        type_col: str = "event_type",
                        min_count: int = 1) -> DataFrame:
    """Frequent 3-step behavior paths — the next order of structure
    above :func:`event_transition_counts` (2-step): which exact
    click→view→purchase sequences dominate, which error→retry→error
    loops burn users. Unlike :func:`session_path_counts` (which
    censuses each SESSION's full path under a gap rule), this slides
    a fixed 3-gram over the user's WHOLE stream — no session
    boundary, bounded output alphabet³, the n-gram view of behavior.

    Determinism: each user's stream is totalized by (ts, id); the two
    look-aheads are LEADs over that order; counts are exact BIGINTs;
    paths crossing a user boundary never form (LEAD stays inside the
    partition). NULL users/ts/ids/types drop.

    Scale shape: ONE Exchange (hash by user), one in-partition sort
    feeding both LEADs (one Window node), one hash-aggregate with
    map-side combine. No join, no per-user collection.

    Output: (step1, step2, step3, n_paths), paths below ``min_count``
    dropped.
    """
    if min_count < 1:
        raise ValueError("event_trigram_paths: min_count must be >= 1")
    keep = (F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
            & F.col(id_col).isNotNull() & F.col(type_col).isNotNull())
    b = events.where(keep).select(
        F.col(user_col).alias("_u"), F.col(ts_col).alias("_t"),
        F.col(id_col).alias("_i"), F.col(type_col).alias("step1"))
    w = Window.partitionBy("_u").orderBy(
        F.col("_t").asc(), F.col("_i").asc())
    g = b.select("step1",
                 F.lead("step1", 1).over(w).alias("step2"),
                 F.lead("step1", 2).over(w).alias("step3"))
    return (g.where(F.col("step3").isNotNull())
            .groupBy("step1", "step2", "step3")
            .agg(F.count(F.lit(1)).alias("n_paths"))
            .where(F.col("n_paths") >= min_count))


def funnel_latency(events: DataFrame, stages: list[str], *,
                   user_col: str = "user_id", ts_col: str = "ts",
                   type_col: str = "event_type") -> DataFrame:
    """Stage-to-stage funnel LATENCY — how long users take between
    consecutive funnel completions (:func:`funnel_counts` tells you
    HOW MANY arrive; this tells you HOW SLOWLY): activation lag,
    checkout friction, retry storms.

    Semantics match :func:`funnel_counts` exactly (earliest-possible
    greedy completion, stage i strictly after stage i−1's completion
    timestamp), so the user sets agree between the two operators by
    construction. Gaps are EXACT BIGINT SECONDS between truncated
    epoch completion times; per-transition n/Σ/min/max are exact and
    the mean is ONE division.

    Scale shape: the funnel_counts frontier cascade (min-ts hash-agg
    + one user-key equi-join per stage, monotonically shrinking) plus
    one user-key join per transition to pair consecutive completion
    times. No windows, no Python.

    Output: one row per TRANSITION (stage_idx ≥ 1): (stage_idx,
    stage, n_users, gap_sum_s, gap_min_s, gap_max_s, mean_gap_s).
    """
    if len(stages) < 2:
        raise ValueError("funnel_latency: need at least 2 stages")
    keep = (F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
            & F.col(type_col).isNotNull())
    ev_all = events.where(keep)
    frontiers = []
    frontier = None
    for stage in stages:
        ev = ev_all.where(F.col(type_col) == stage).select(
            F.col(user_col).alias("user"), F.col(ts_col).alias("t"))
        if frontier is None:
            frontier = ev.groupBy("user").agg(
                F.min("t").alias("reached"))
        else:
            frontier = (ev.join(frontier, "user")
                        .where(F.col("t") > F.col("reached"))
                        .groupBy("user").agg(
                            F.min("t").alias("reached")))
        frontiers.append(frontier)
    out = None
    for i in range(1, len(stages)):
        prev = frontiers[i - 1].select(
            "user", F.col("reached").cast("timestamp").cast("long")
            .alias("_t0"))
        cur = frontiers[i].select(
            "user", F.col("reached").cast("timestamp").cast("long")
            .alias("_t1"))
        gaps = cur.join(prev, "user").select(
            (F.col("_t1") - F.col("_t0")).alias("_g"))
        row = gaps.agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("_g").alias("gap_sum_s"),
            F.min("_g").alias("gap_min_s"),
            F.max("_g").alias("gap_max_s")).select(
            F.lit(i).alias("stage_idx"),
            F.lit(stages[i]).alias("stage"),
            "n_users", "gap_sum_s", "gap_min_s", "gap_max_s",
            F.when(F.col("n_users") > 0,
                   F.col("gap_sum_s").cast("double")
                   / F.col("n_users").cast("double"))
            .alias("mean_gap_s"))
        out = row if out is None else out.unionByName(row)
    return out


def circular_time_stats(events: DataFrame, *, ts_col: str = "ts",
                        group_col: str = "event_type",
                        scale: int = 1_000_000) -> DataFrame:
    """Circular (directional) statistics of time-of-day per group —
    "when in the day does this event type happen, and how
    concentrated is it?". The linear mean of clock times is wrong
    across midnight (23:50 and 00:10 average to noon); the circular
    resultant handles the wrap: map each event to the unit-circle
    angle ``θ = 2π·sec_of_day/86400`` and aggregate the vector sum:
    the standard two-number summary (resultant length, variance).

    Determinism: ``cos θ``/``sin θ`` are quantized PER ROW —
    ``floor(cos θ · scale)`` as exact BIGINT — then summed exactly,
    so partial-aggregation order can never change the result. The
    only cross-engine risk is a libm cos/sin differing by 1 ulp
    exactly at a floor boundary: with 86 400 distinct angles and
    micro quantization that is a ~1e-7 event, documented here.
    ``resultant_len`` and ``circ_variance`` are derived from the
    exact integer sums via IEEE-exact ops (mul/add/div/sqrt), hence
    bit-identical cross-engine. The atan2 mean DIRECTION is
    deliberately NOT emitted (libm atan2 is not cross-engine
    bit-stable); derive it client-side from the two sums.

    Scale shape: one hash-aggregate with map-side combine; no window,
    no join, no Python. 100-TB-safe.

    Output: (group, n, cos_sum_q, sin_sum_q, resultant_len,
    circ_variance) — resultant_len ∈ [0,1] (1 = all events at the
    same instant), circ_variance = 1 - resultant_len.
    """
    import math as _math
    k = 2.0 * _math.pi / 86400.0
    sec = (F.hour(ts_col) * 3600 + F.minute(ts_col) * 60
           + F.second(ts_col)).cast("double")
    theta = sec * F.lit(k)
    cos_q = F.floor(F.cos(theta) * F.lit(float(scale))).cast("long")
    sin_q = F.floor(F.sin(theta) * F.lit(float(scale))).cast("long")
    base = events.where(F.col(ts_col).isNotNull()
                        & F.col(group_col).isNotNull())
    agg = base.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cos_q).alias("cos_sum_q"),
        F.sum(sin_q).alias("sin_sum_q"))
    c = F.col("cos_sum_q").cast("double")
    s = F.col("sin_sum_q").cast("double")
    denom = F.col("n").cast("double") * F.lit(float(scale))
    r = F.sqrt(c * c + s * s) / denom
    return agg.select("group", "n", "cos_sum_q", "sin_sum_q",
                      r.alias("resultant_len"),
                      (F.lit(1.0) - r).alias("circ_variance"))


def rolling_active_users(events: DataFrame, *, ts_col: str = "ts",
                         user_col: str = "user_id",
                         window_days: int = 7) -> DataFrame:
    """Daily active users plus trailing-window active users (the
    DAU/WAU board) — EXACT rolling distinct counts, not sketches:
    each distinct (user, day) activation is fanned out to the
    ``window_days`` trailing windows it keeps alive, deduped, and
    counted. The retention-adjacent "is the product alive" metric
    beside :func:`cohort_retention` (who returns) and
    :func:`max_streak` (how regularly).

    Determinism: days are integer epoch-day indexes (TIMESTAMP_NTZ
    cast, session-timezone independent); everything is exact BIGINT
    set arithmetic — no floats anywhere.

    Scale shape: distinct (user, day) first (one shuffle — this is
    the 100-TB crux: raw events dedupe to at most users × days rows
    BEFORE the window fan-out), then an explode by ``window_days``
    (bounded ×W blowup on the deduped frame), a second dedup, and
    two tiny per-day hash-aggregates joined on day. Exact rolling
    distincts cannot skip the second dedup; for approximate boards
    at planetary scale compose grouped HLL sketches instead.

    Output: (day, dau, rolling_active) for every day present in the
    data — ``rolling_active`` counts users active in the
    ``window_days`` window ENDING that day.
    """
    if window_days < 1:
        raise ValueError("rolling_active_users: window_days must be >= 1")
    day = F.datediff(F.col(ts_col).cast("date"),
                     F.to_date(F.lit("1970-01-01"))).cast("long")
    ud = (events.where(F.col(ts_col).isNotNull()
                       & F.col(user_col).isNotNull())
          .select(F.col(user_col).alias("_u"), day.alias("day"))
          .distinct())
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    ex = (ud.select("_u", F.explode(
        F.sequence(F.col("day"),
                   F.col("day") + F.lit(window_days - 1))).alias("day"))
          .distinct())
    wau = ex.groupBy("day").agg(F.count(F.lit(1)).alias("rolling_active"))
    return dau.join(wau, "day").select("day", "dau", "rolling_active")


def peak_concurrency(intervals: DataFrame, *, key_col: str = "key",
                     start_col: str = "start",
                     end_col: str = "end") -> DataFrame:
    """Peak number of simultaneously-open intervals per key — the
    capacity-planning number (max concurrent sessions per service,
    max overlapping jobs per queue) that :func:`merge_intervals`
    (which only unions) cannot answer.

    Semantics: intervals are HALF-OPEN ``[start, end)`` — an interval
    ending exactly when another starts does NOT overlap it (the
    boundary convention every scheduler uses). Implemented as the
    classic sweep: ±1 boundary events, a running sum over the
    per-key timeline, max. Degenerate intervals (end <= start)
    contribute nothing; NULL keys/bounds drop.

    Determinism: the sweep order is totalized — (time, delta) with
    the −1 sorting before the +1 at equal times (that IS the
    half-open rule), so the running BIGINT sum is engine-independent.

    Scale shape: one explode to 2 rows per interval, ONE per-key
    window (running sum), one hash-agg for the max — no join, no
    global sort; the window partitioning is the aggregation key.

    Output: (key, n_intervals, peak).
    """
    base = (intervals.where(
        F.col(key_col).isNotNull() & F.col(start_col).isNotNull()
        & F.col(end_col).isNotNull()
        & (F.col(end_col) > F.col(start_col)))
        .select(F.col(key_col).alias("_k"),
                F.col(start_col).alias("_s"),
                F.col(end_col).alias("_e")))
    ev = base.select(
        "_k", F.explode(F.array(
            F.struct(F.col("_s").alias("t"),
                     F.lit(1).cast("long").alias("d")),
            F.struct(F.col("_e").alias("t"),
                     F.lit(-1).cast("long").alias("d")))).alias("_ev")) \
        .select("_k", F.col("_ev.t").alias("_t"), F.col("_ev.d").alias("_d"))
    w = Window.partitionBy("_k").orderBy(F.col("_t").asc(),
                                         F.col("_d").asc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = ev.select("_k", F.sum("_d").over(w).alias("_run"))
    return (run.groupBy(F.col("_k").alias("key"))
            .agg((F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
                 F.max("_run").alias("peak")))


def ewma_last(events: DataFrame, *, key_col: str = "user_id",
              ts_col: str = "ts", id_col: str = "event_id",
              value_col: str = "value",
              window: int = 8) -> DataFrame:
    """Per-key exponentially-weighted moving average (half-life = one
    step, i.e. α = 1/2) over the LAST ``window`` observations,
    evaluated at each key's most recent event — the "current smoothed
    level" primitive for monitoring/forecast seeds, the finite-window
    EWMA twin of :func:`~kml2geojson_spark.streaming.stream_rolling_zscore`.

    EXACT-integer formulation: values integerize to milli-units per
    row; the i-th most recent present value (i = 0 newest) carries
    weight 2^(window−1−i), so

        num = Σᵢ v_milli,i · 2^(window−1−i)   (BIGINT, exact)
        den = Σᵢ          2^(window−1−i)      (BIGINT, exact)
        ewma_milli = num / den                (ONE double division)

    Dyadic weights make every product exact; keys with fewer than
    ``window`` events sum only the present terms (a growing-window
    EWMA), so no imputation bias. Caller guarantees
    |v|·10³·2^window < 2⁶³ (window ≤ 16 and |v| < 10⁸ is safe).

    Scale shape: ONE window partitioning per key (ts, id totalized
    order) supplies the ``window`` lags AND the last-row marker —
    single Exchange, no join, no second scan; state per key is the
    lag buffer (``window`` values), never the series. NULL
    keys/ts/values drop.

    Output: (key, n_events, num BIGINT, den BIGINT, ewma_milli
    DOUBLE) — one row per key, evaluated at max (ts, id).
    """
    if not 1 <= window <= 16:
        raise ValueError(f"window must be in [1, 16], got {window}")
    base = (events
            .where(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
                   & F.col(id_col).isNotNull()
                   & F.col(value_col).isNotNull())
            .select(F.col(key_col).alias("key"),
                    F.col(ts_col).alias("_t"), F.col(id_col).alias("_i"),
                    F.round(F.col(value_col) * F.lit(1000.0))
                    .cast("long").alias("_v")))
    w = Window.partitionBy("key").orderBy(
        F.col("_t").asc(), F.col("_i").asc())
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for i in range(window):
        wt = 1 << (window - 1 - i)
        vi = F.col("_v") if i == 0 else F.lag("_v", i).over(w)
        num = num + F.coalesce(vi * F.lit(wt), F.lit(0))
        den = den + F.when(vi.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
    marked = base.select(
        "key", num.alias("num"), den.alias("den"),
        F.row_number().over(Window.partitionBy("key").orderBy(
            F.col("_t").desc(), F.col("_i").desc())).alias("_rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("key")
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing)).alias("n_events"))
    return (marked.where(F.col("_rn") == 1)
            .select("key", "n_events", "num", "den",
                    (F.col("num").cast("double")
                     / F.col("den").cast("double")).alias("ewma_milli")))


def seasonality_strength(events: DataFrame, *, value_col: str,
                         ts_col: str = "ts",
                         group_cols: list[str] | None = None,
                         period_seconds: int = 86400,
                         n_phases: int = 24) -> DataFrame:
    """Seasonality strength per group — how much of an INTEGER
    metric's variance is explained by its position within a repeating
    period (hour-of-day by default): the eta² of a one-way ANOVA on
    the phase bucket, ``eta2 = SSB / (SSB + SSW)`` ∈ [0, 1]. 0 ≈ no
    daily rhythm, → 1 ≈ the clock explains everything. The
    decomposition screen you run before trusting
    :func:`~kml2geojson_spark.relational.mann_kendall` trend z's on
    strongly periodic series.

    Phase = ``(epoch mod period) · n_phases div period`` — pure
    integer arithmetic, identical across engines. Everything
    downstream is :func:`~kml2geojson_spark.relational.oneway_anova`'s
    exact milli-floored integer sums (values must be INTEGER — floats
    raise there; eta² is ONE division of exact BIGINTs).

    Scale shape: oneway_anova's two hash-aggregates keyed by
    (group, phase) then (group) — map-side combinable, no window, no
    join. NULL ts drop.

    Output: (group..., k, n, ssb_milli, ssw_milli, f_stat,
    eta2 DOUBLE) — k = phases observed; eta2 NULL when SSB+SSW = 0
    (all values identical within every phase).
    """
    from .relational import oneway_anova

    if period_seconds < 1 or n_phases < 2:
        raise ValueError("period_seconds >= 1 and n_phases >= 2 required")
    epoch = F.floor(F.unix_timestamp(F.col(ts_col))).cast("long")
    sec = F.pmod(epoch, F.lit(period_seconds))
    phase = (sec * n_phases - F.pmod(sec * n_phases,
                                     F.lit(period_seconds))) \
        / F.lit(period_seconds)
    base = (events.where(F.col(ts_col).isNotNull())
            .withColumn("_phase", phase.cast("long")))
    out = oneway_anova(base, value_col=value_col, factor_col="_phase",
                       group_cols=group_cols)
    tot = F.col("ssb_milli") + F.col("ssw_milli")
    return out.withColumn(
        "eta2", F.when(tot > 0, F.col("ssb_milli").cast("double")
                       / tot.cast("double")))
