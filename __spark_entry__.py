"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: derive a deterministic KML corpus from the
sf0.001 customer table, pack it into the interleaved spans layout, run
the full engine (Arrow state-machine parse → typed features → Morton
tile assignment) and return the tile table.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
family (SURVEY.md §2.2/§2.3 + training-data ops), each checked against
DuckDB on the same parquet at sf=0.01. Every numeric output is either
integral, a string, or a double produced by the bit-identical formula
in both engines (money sums are integerized as cents; Morton codes are
computed by the same staged bit-spread in Spark Columns and DuckDB SQL).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Deterministic geometry derivations (identical integer arithmetic on
# both engines; see matching SQL fragments below).

def _customer_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    x = ((F.col("c_custkey") * 9301 + 49297) % 36000) / 100.0 - 180.0
    y = ((F.col("c_custkey") * 7919 + 104729) % 17000) / 100.0 - 85.0
    return c.select(F.col("c_custkey").alias("point_id"),
                    x.alias("x"), y.alias("y"))


_PTS_SQL = (
    "SELECT c_custkey AS point_id, "
    "((c_custkey * 9301 + 49297) % 36000) / 100.0 - 180.0 AS x, "
    "((c_custkey * 7919 + 104729) % 17000) / 100.0 - 85.0 AS y "
    "FROM customer"
)


def _supplier_queries(spark: SparkSession, sf_dir: str, limit_key: int = 20) -> DataFrame:
    s = _t(spark, sf_dir, "supplier").where(F.col("s_suppkey") <= limit_key)
    x = ((F.col("s_suppkey") * 6151 + 331) % 36000) / 100.0 - 180.0
    y = ((F.col("s_suppkey") * 911 + 7177) % 17000) / 100.0 - 85.0
    return s.select(F.col("s_suppkey").alias("query_id"),
                    x.alias("x"), y.alias("y"))


_QRY_SQL = (
    "SELECT s_suppkey AS query_id, "
    "((s_suppkey * 6151 + 331) % 36000) / 100.0 - 180.0 AS x, "
    "((s_suppkey * 911 + 7177) % 17000) / 100.0 - 85.0 AS y "
    "FROM supplier WHERE s_suppkey <= 20"
)

# Diamond polygons from nation (kept away from the antimeridian/poles).
_POLY_CX = "((n_nationkey * 2971 + 1234) % 30000) / 100.0 - 150.0"
_POLY_CY = "((n_nationkey * 4231 + 567) % 13000) / 100.0 - 65.0"
_POLY_R = "4.0 + (n_nationkey % 7) * 3.0"

_POLY_SQL = (
    f"SELECT n_nationkey AS poly_id, {_POLY_CX} AS cx, {_POLY_CY} AS cy, "
    f"{_POLY_R} AS r FROM nation"
)


def _nation_diamond_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(poly_id, cx, cy, r) — the single Python-side source of the
    diamond formulas (SQL side: _POLY_SQL). Every consumer derives from
    this frame so the two copies that must match are exactly one Python
    + one SQL."""
    n = _t(spark, sf_dir, "nation")
    cx = ((F.col("n_nationkey") * 2971 + 1234) % 30000) / 100.0 - 150.0
    cy = ((F.col("n_nationkey") * 4231 + 567) % 13000) / 100.0 - 65.0
    r = F.lit(4.0) + (F.col("n_nationkey") % 7) * 3.0
    return n.select(F.col("n_nationkey").cast("long").alias("poly_id"),
                    cx.alias("cx"), cy.alias("cy"), r.alias("r"))


def _nation_diamonds(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _nation_diamond_params(spark, sf_dir)
    ring = F.array(
        F.array(F.col("cx") + F.col("r"), F.col("cy")),
        F.array(F.col("cx"), F.col("cy") + F.col("r")),
        F.array(F.col("cx") - F.col("r"), F.col("cy")),
        F.array(F.col("cx"), F.col("cy") - F.col("r")),
        F.array(F.col("cx") + F.col("r"), F.col("cy")),
    )
    return base.select("poly_id", F.array(ring).alias("rings"))


# Morton CTE chain for DuckDB oracles: from integer grid columns gx, gy.
_MORTON_MASKS = [
    (16, 281470681808895),
    (8, 71777214294589695),
    (4, 1085102592571150095),
    (2, 3689348814741910323),
    (1, 6148914691236517205),
]


def _morton_ctes(carry: str, res: int, src: str) -> str:
    """CTE fragments m1..m5 + enc computing cell_id from BIGINT gx/gy
    columns of ``src`` (append after a WITH chain; final CTE is `enc`)."""
    sql = ""
    prev = src
    for i, (sh, mask) in enumerate(_MORTON_MASKS, 1):
        sql += (f", m{i} AS (SELECT {carry}, "
                f"(((gx << {sh}) | gx) & {mask}) AS gx, "
                f"(((gy << {sh}) | gy) & {mask}) AS gy FROM {prev})")
        prev = f"m{i}"
    sql += (f", enc AS (SELECT {carry}, "
            f"((((gx << 1) | gy) << 5) | {res}) AS cell_id FROM {prev})")
    return sql


def _grid_sql(x: str, y: str, res: int) -> tuple[str, str]:
    n = float(1 << res)
    hi = (1 << res) - 1
    gx = (f"CAST(GREATEST(0, LEAST({hi}, FLOOR(({x} + 180.0) / 360.0 * {n})))"
          " AS BIGINT)")
    gy = (f"CAST(GREATEST(0, LEAST({hi}, FLOOR(({y} + 90.0) / 180.0 * {n})))"
          " AS BIGINT)")
    return gx, gy


# ---------------------------------------------------------------------------
# flagship entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """sf0.001 customers → deterministic KML docs (one per nation) →
    interleaved spans → state-machine parse → typed features → Morton
    tile assignments. Exercises the whole engine end-to-end."""
    import kml2geojson_spark as k2gs
    from kml2geojson_spark.spatial import tile_assignments

    sf_dir = "/root/testdata/sf0.001"
    pts = _customer_points(spark, sf_dir)
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    pts = pts.join(cust, pts["point_id"] == cust["c_custkey"])

    pm = F.format_string(
        '<Placemark id="c%s"><name>cust-%s</name>'
        "<Point><coordinates>%.4f,%.4f,0</coordinates></Point></Placemark>",
        F.col("point_id"), F.col("point_id"), F.col("x"), F.col("y"))
    docs_xml = (pts.groupBy("c_nationkey")
                .agg(F.concat_ws("", F.sort_array(F.collect_list(
                    F.struct(F.col("point_id"), pm.alias("pm")))).pm)
                    .alias("body"))
                .select(
                    F.format_string("nation-%s", F.col("c_nationkey")).alias("doc_id"),
                    F.concat(
                        F.lit('<?xml version="1.0"?><kml><Document><name>'),
                        F.format_string("nation-%s", F.col("c_nationkey")),
                        F.lit("</name>"), F.col("body"),
                        F.lit("</Document></kml>")).alias("kml")))

    import pandas as pd

    def to_spans(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "spans": [k2gs.pack_spans(s) for s in pdf["kml"]],
            })

    spans_df = docs_xml.mapInPandas(to_spans, k2gs.spans_schema())
    feats = k2gs.extract_features(spans_df)
    return tile_assignments(feats, res=4)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def _q01_filter_project(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (li.where((F.col("l_shipdate") >= "1995-01-01")
                     & (F.col("l_discount") >= 0.05)
                     & (F.col("l_quantity") < 10))
            .select("l_orderkey", "l_linenumber",
                    F.round(F.col("l_extendedprice")
                            * (F.lit(1.0) - F.col("l_discount")) * 100.0)
                    .cast("long").alias("revenue_cents")))


_O01 = """
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)
         AS revenue_cents
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_discount >= 0.05 AND l_quantity < 10
"""


def _q02_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (li.where(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum(F.col("l_quantity") * 100.0)).cast("long")
                 .alias("sum_qty_c"),
                 F.round(F.sum(F.col("l_extendedprice") * 100.0)).cast("long")
                 .alias("sum_base_c"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (F.lit(1.0) - F.col("l_discount")) * 100.0))
                 .cast("long").alias("sum_disc_c"),
                 F.count(F.lit(1)).alias("n_rows")))


_O02 = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(l_quantity * 100.0)) AS BIGINT) AS sum_qty_c,
       CAST(ROUND(SUM(l_extendedprice * 100.0)) AS BIGINT) AS sum_base_c,
       CAST(ROUND(SUM(l_extendedprice * (1.0 - l_discount) * 100.0)) AS BIGINT)
         AS sum_disc_c,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def _q03_topk_revenue(spark, sf):
    c = _t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    rev = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
           .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
           .groupBy("l_orderkey")
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * (F.lit(1.0) - F.col("l_discount")) * 100.0))
                .cast("long").alias("revenue_cents")))
    return (rev.orderBy(F.col("revenue_cents").desc(), F.col("l_orderkey").asc())
            .limit(10))


_O03 = """
SELECT l_orderkey,
       CAST(ROUND(SUM(l_extendedprice * (1.0 - l_discount) * 100.0)) AS BIGINT)
         AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue_cents DESC, l_orderkey ASC
LIMIT 10
"""


def _q04_semi_join(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    active = c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
    return (active.groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_customers")))


_O04 = """
SELECT c_nationkey, COUNT(*) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


def _q05_anti_join(spark, sf):
    p = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem").where(F.col("l_quantity") >= 45)
    unsold = p.join(li, p["p_partkey"] == li["l_partkey"], "left_anti")
    return unsold.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_unsold"))


_O05 = """
SELECT p_brand, COUNT(*) AS n_unsold
FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_partkey = p_partkey AND l_quantity >= 45)
GROUP BY p_brand
"""


def _q06_window_topn(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("price_cents").desc(), F.col("o_orderkey").asc())
    return (o.select("o_custkey", "o_orderkey",
                     F.round(F.col("o_totalprice") * 100.0).cast("long")
                     .alias("price_cents"))
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 2))


_O06 = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey,
         CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS price_cents,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY CAST(ROUND(o_totalprice * 100.0) AS BIGINT) DESC,
                                     o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 2
"""


def _q07_union_distinct(spark, sf):
    c = _t(spark, sf, "customer").select(
        F.col("c_nationkey").alias("nationkey"),
        F.lit("customer").alias("side"))
    s = _t(spark, sf, "supplier").select(
        F.col("s_nationkey").alias("nationkey"),
        F.lit("supplier").alias("side"))
    return (c.unionByName(s).distinct()
            .groupBy("nationkey").agg(F.count(F.lit(1)).alias("n_sides")))


_O07 = """
SELECT nationkey, COUNT(*) AS n_sides FROM (
  SELECT DISTINCT * FROM (
    SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
  )
) GROUP BY nationkey
"""


def _q08_sessionize(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(),
                                              F.col("event_id").asc())
    flagged = e.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(F.col("prev_ts").isNull()
               | (F.col("ts") > F.col("prev_ts") + F.expr("INTERVAL 30 MINUTES")),
               F.lit(1)).otherwise(F.lit(0)))
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"))


_O08 = """
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events FROM (
  SELECT user_id,
         CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM (SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts ASC, event_id ASC) AS prev_ts
        FROM events)
) GROUP BY user_id
"""


def _q09_json_extract(spark, sf):
    e = _t(spark, sf, "events")
    return (e.select("event_type",
                     F.get_json_object("props", "$.k").cast("long").alias("k"))
            .groupBy("event_type")
            .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n")))


_O09 = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       COUNT(*) AS n
FROM events GROUP BY event_type
"""


# -- spatial ---------------------------------------------------------------

def _q10_cell_counts(spark, sf):
    from kml2geojson_spark.spatial import encode_points
    pts = _customer_points(spark, sf)
    return (encode_points(pts, 9)
            .groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_points")))


def _o10() -> str:
    gx, gy = _grid_sql("x", "y", 9)
    return (f"WITH pts AS ({_PTS_SQL}), "
            f"g AS (SELECT point_id, {gx} AS gx, {gy} AS gy FROM pts)"
            + _morton_ctes("point_id", 9, "g")
            + " SELECT cell_id, COUNT(*) AS n_points FROM enc GROUP BY cell_id")


def _q11_pip(spark, sf):
    from kml2geojson_spark.spatial import pip_join
    pts = _customer_points(spark, sf)
    polys = _nation_diamonds(spark, sf)
    return pip_join(pts, polys, res=6)


_O11 = f"""
WITH polys AS ({_POLY_SQL}),
edges AS (
  SELECT poly_id,
         cx + dx1 * r AS x1, cy + dy1 * r AS y1,
         cx + dx2 * r AS x2, cy + dy2 * r AS y2
  FROM polys CROSS JOIN (VALUES
    (1.0, 0.0, 0.0, 1.0), (0.0, 1.0, -1.0, 0.0),
    (-1.0, 0.0, 0.0, -1.0), (0.0, -1.0, 1.0, 0.0)
  ) AS d(dx1, dy1, dx2, dy2)
),
pts AS ({_PTS_SQL}),
crossings AS (
  SELECT p.point_id, e.poly_id,
         CASE WHEN ((e.y1 > p.y) != (e.y2 > p.y))
               AND (p.x < (e.x2 - e.x1) * (p.y - e.y1) / (e.y2 - e.y1) + e.x1)
              THEN 1 ELSE 0 END AS c
  FROM pts p CROSS JOIN edges e
)
SELECT point_id, poly_id FROM crossings
GROUP BY point_id, poly_id HAVING SUM(c) % 2 = 1
"""


def _q12_knn_exact(spark, sf):
    from kml2geojson_spark.spatial.ops import knn_exact
    return (knn_exact(_customer_points(spark, sf),
                      _supplier_queries(spark, sf), 5)
            .withColumnRenamed("rank", "rk"))


_O12 = f"""
WITH pts AS ({_PTS_SQL}), qs AS ({_QRY_SQL}),
d AS (
  SELECT q.query_id, p.point_id AS neighbor_id,
         (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) AS dist2
  FROM qs q CROSS JOIN pts p
),
r AS (SELECT query_id, neighbor_id, dist2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dist2 ASC, neighbor_id ASC) AS rk
      FROM d)
SELECT query_id, neighbor_id, dist2, rk FROM r WHERE rk <= 5
"""


def _q13_knn_kring(spark, sf):
    from kml2geojson_spark.spatial import knn_join
    return (knn_join(_customer_points(spark, sf),
                     _supplier_queries(spark, sf), 5, res=3, radius=2)
            .withColumnRenamed("rank", "rk"))


def _q55_knn_adaptive(spark, sf):
    """Multi-resolution adaptive kNN — the no-magic-radius scale path;
    must equal the exact brute-force oracle (same SQL as q12)."""
    from kml2geojson_spark.spatial.ops import knn_join_adaptive
    return (knn_join_adaptive(_customer_points(spark, sf),
                              _supplier_queries(spark, sf), 5, res=6)
            .withColumnRenamed("rank", "rk"))


def _q65_within_distance(spark, sf):
    """DWithin join: all (query, point) pairs within 5 degrees —
    k-ring candidates with radius-derived ring count, exact d² filter
    (identical double formula to the oracle)."""
    from kml2geojson_spark.spatial.ops import within_distance_join
    return within_distance_join(_customer_points(spark, sf),
                                _supplier_queries(spark, sf), 5.0, res=6)


_O65 = f"""
WITH pts AS ({_PTS_SQL}), qs AS ({_QRY_SQL})
SELECT q.query_id, p.point_id,
       (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) AS dist2
FROM qs q CROSS JOIN pts p
WHERE (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) <= 25.0
"""


def _q14_coverage_rect(spark, sf):
    from kml2geojson_spark.spatial.ops import cover_cells_rect
    p = _nation_diamond_params(spark, sf)
    rects = p.select(
        F.col("poly_id").alias("rect_id"),
        (F.col("cx") - F.col("r")).alias("west"),
        (F.col("cy") - F.col("r")).alias("south"),
        (F.col("cx") + F.col("r")).alias("east"),
        (F.col("cy") + F.col("r")).alias("north"))
    return cover_cells_rect(rects, 6).select("rect_id", "cell_id", "fraction")


def _o14() -> str:
    res = 6
    n = float(1 << res)
    hi = (1 << res) - 1
    cw, ch = 360.0 / n, 180.0 / n
    return f"""
WITH polys AS ({_POLY_SQL}),
rects AS (SELECT poly_id AS rect_id, cx - r AS west, cy - r AS south,
                 cx + r AS east, cy + r AS north FROM polys),
rng AS (SELECT rect_id, west, south, east, north,
  CAST(GREATEST(0, LEAST({hi}, FLOOR((west + 180.0) / 360.0 * {n}))) AS BIGINT) AS ix0,
  CAST(GREATEST(0, LEAST({hi}, CEIL((east + 180.0) / 360.0 * {n}) - 1)) AS BIGINT) AS ix1,
  CAST(GREATEST(0, LEAST({hi}, FLOOR((south + 90.0) / 180.0 * {n}))) AS BIGINT) AS iy0,
  CAST(GREATEST(0, LEAST({hi}, CEIL((north + 90.0) / 180.0 * {n}) - 1)) AS BIGINT) AS iy1
  FROM rects),
xs AS (SELECT rect_id, west, south, east, north, iy0, iy1,
              unnest(generate_series(ix0, ix1)) AS gx FROM rng),
ys AS (SELECT rect_id, west, south, east, north, gx,
              unnest(generate_series(iy0, iy1)) AS gy FROM xs),
g AS (SELECT rect_id,
             GREATEST(0.0, LEAST(east, gx * {cw} - 180.0 + {cw})
                           - GREATEST(west, gx * {cw} - 180.0))
           * GREATEST(0.0, LEAST(north, gy * {ch} - 90.0 + {ch})
                           - GREATEST(south, gy * {ch} - 90.0))
           / {cw * ch} AS fraction,
             gx, gy FROM ys)
{_morton_ctes("rect_id, fraction", res, "g")}
SELECT rect_id, cell_id, fraction FROM enc
"""


def _q54_polygon_cover(spark, sf):
    """GENERAL polygon coverage fractions (the numpy Sutherland–
    Hodgman kernel) against a DuckDB oracle that replays the identical
    clip sequence (w→e→s→n half-planes, ``p + t*(q-p)`` intersections)
    and in-order shoelace fold via list lambdas — fraction doubles
    match bit-for-bit."""
    from kml2geojson_spark.spatial import polygon_cover
    return polygon_cover(_nation_diamonds(spark, sf), 6)


def _sh_clip_sql(src_list: str, ax: str, bound: str, cmp: str) -> str:
    """One Sutherland–Hodgman half-plane clip as a DuckDB list
    expression: per edge emit the kept vertex then the intersection —
    the same order and float arithmetic as ``_clip_half_many``."""
    L = src_list
    i_in = f"({L}[i].{ax} {cmp} ({bound}))"
    j = f"((i % len({L})) + 1)"
    j_in = f"({L}[{j}].{ax} {cmp} ({bound}))"
    t = f"((({bound}) - {L}[i].{ax}) / ({L}[{j}].{ax} - {L}[i].{ax}))"
    inter = (f"{{'x': {L}[i].x + {t} * ({L}[{j}].x - {L}[i].x), "
             f"'y': {L}[i].y + {t} * ({L}[{j}].y - {L}[i].y)}}")
    return (f"flatten(list_transform(range(1, len({L}) + 1), i -> "
            f"(CASE WHEN {i_in} THEN [{L}[i]] ELSE [] END) || "
            f"(CASE WHEN {i_in} != {j_in} THEN [{inter}] ELSE [] END)))")


def _o54() -> str:
    res = 6
    n = float(1 << res)
    hi = (1 << res) - 1
    cw, ch = 360.0 / n, 180.0 / n
    cell_area = cw * ch
    clip_w = _sh_clip_sql("ring", "x", "w", ">=")
    clip_e = _sh_clip_sql("c1.pts", "x", "w + {cw}".format(cw=repr(cw)), "<=")
    clip_s = _sh_clip_sql("c2.pts", "y", "s", ">=")
    clip_n = _sh_clip_sql("c3.pts", "y", "s + {ch}".format(ch=repr(ch)), "<=")
    shoe_j = "((i % len(c4.pts)) + 1)"
    terms = (f"list_transform(range(1, len(c4.pts) + 1), i -> "
             f"c4.pts[i].x * c4.pts[{shoe_j}].y "
             f"- c4.pts[{shoe_j}].x * c4.pts[i].y)")
    return f"""
WITH polys AS ({_POLY_SQL}),
ring0 AS (
  SELECT poly_id,
         [{{'x': cx + r, 'y': cy}}, {{'x': cx, 'y': cy + r}},
          {{'x': cx - r, 'y': cy}}, {{'x': cx, 'y': cy - r}},
          {{'x': cx + r, 'y': cy}}] AS ring,
         cx - r AS minx, cx + r AS maxx, cy - r AS miny, cy + r AS maxy
  FROM polys),
rng AS (
  SELECT poly_id, ring,
    CAST(GREATEST(0, LEAST({hi}, FLOOR((minx + 180.0) / 360.0 * {n}))) AS BIGINT) AS ix0,
    CAST(GREATEST(0, LEAST({hi}, CEIL((maxx + 180.0) / 360.0 * {n}) - 1)) AS BIGINT) AS ix1,
    CAST(GREATEST(0, LEAST({hi}, FLOOR((miny + 90.0) / 180.0 * {n}))) AS BIGINT) AS iy0,
    CAST(GREATEST(0, LEAST({hi}, CEIL((maxy + 90.0) / 180.0 * {n}) - 1)) AS BIGINT) AS iy1
  FROM ring0),
xs AS (SELECT poly_id, ring, iy0, iy1,
              unnest(generate_series(ix0, ix1)) AS gx FROM rng),
cells AS (SELECT poly_id, ring, gx,
                 unnest(generate_series(iy0, iy1)) AS gy FROM xs),
wb AS (SELECT poly_id, ring, gx, gy,
              gx * {cw!r} - 180.0 AS w, gy * {ch!r} - 90.0 AS s FROM cells),
c1 AS MATERIALIZED (SELECT poly_id, gx, gy, w, s, {clip_w} AS pts FROM wb),
c2 AS MATERIALIZED (SELECT poly_id, gx, gy, w, s, {clip_e} AS pts FROM c1),
c3 AS MATERIALIZED (SELECT poly_id, gx, gy, w, s, {clip_s} AS pts FROM c2),
c4 AS MATERIALIZED (SELECT poly_id, gx, gy, {clip_n} AS pts FROM c3),
ar AS (
  SELECT poly_id, gx, gy,
         CASE WHEN len(c4.pts) >= 3
              THEN abs(0.5 * list_reduce(list_prepend(0.0, {terms}),
                                         (a, b) -> a + b))
              ELSE 0.0 END / {cell_area!r} AS fraction
  FROM c4),
g AS (SELECT poly_id, fraction, gx, gy FROM ar WHERE fraction > 0.0)
{_morton_ctes("poly_id, fraction", res, "g")}
SELECT poly_id, cell_id, fraction FROM enc
"""


def _q15(spark, sf):
    from kml2geojson_spark.spatial import salted_join, hot_keys
    li = _t(spark, sf, "lineitem").select("l_suppkey", "l_quantity")
    s = (_t(spark, sf, "supplier")
         .select(F.col("s_suppkey").alias("l_suppkey"), "s_name"))
    hot = hot_keys(li, "l_suppkey", sample_fraction=0.2, min_share=0.005)
    joined = salted_join(li, s, "l_suppkey", n_salt=8, hot=hot)
    return joined.groupBy("s_name").agg(
        F.round(F.sum(F.col("l_quantity") * 100.0)).cast("long").alias("qty_c"),
        F.count(F.lit(1)).alias("n"))


_O15 = """
SELECT s_name, CAST(ROUND(SUM(l_quantity * 100.0)) AS BIGINT) AS qty_c,
       COUNT(*) AS n
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
"""


def _lineitem_points(spark, sf) -> DataFrame:
    """(x, y) per lineitem row — single Python-side source of the point
    formulas used by q16 and q49 (SQL side: the pts fragment in _o16 /
    _o49)."""
    li = _t(spark, sf, "lineitem")
    x = ((F.col("l_orderkey") * 131 + F.col("l_linenumber") * 7 + 17) % 36000) / 100.0 - 180.0
    y = ((F.col("l_orderkey") * 241 + F.col("l_linenumber") * 11 + 29) % 17000) / 100.0 - 85.0
    return li.select(x.alias("x"), y.alias("y"))


def _q16_cell_rollup(spark, sf):
    from kml2geojson_spark.spatial import encode_points
    from kml2geojson_spark.spatial.cells import cell_parent_col
    fine = encode_points(_lineitem_points(spark, sf), 12)
    return (fine.withColumn("cell6", cell_parent_col(F.col("cell_id"), 6))
            .groupBy("cell6").agg(F.count(F.lit(1)).alias("n_points")))


def _o16() -> str:
    gx, gy = _grid_sql("x", "y", 12)
    pts = ("SELECT ((l_orderkey * 131 + l_linenumber * 7 + 17) % 36000) / 100.0 - 180.0 AS x, "
           "((l_orderkey * 241 + l_linenumber * 11 + 29) % 17000) / 100.0 - 85.0 AS y "
           "FROM lineitem")
    return (f"WITH pts AS ({pts}), "
            f"g AS (SELECT {gx} AS gx, {gy} AS gy FROM pts)"
            + _morton_ctes("1 AS one", 12, "g")
            + " SELECT (((cell_id >> 17) << 5) | 6) AS cell6, COUNT(*) AS n_points"
              " FROM enc GROUP BY cell6")


_PYRAMID_LEVELS = [12, 10, 8, 6]


def _q49_tile_pyramid(spark, sf):
    """Multi-resolution tile rollup: one encode at res 12, all coarser
    levels derived by parent bit-shift, one aggregate."""
    from kml2geojson_spark.spatial.ops import tile_pyramid
    return tile_pyramid(_lineitem_points(spark, sf), 12, _PYRAMID_LEVELS)


def _o49() -> str:
    gx, gy = _grid_sql("x", "y", 12)
    pts = ("SELECT ((l_orderkey * 131 + l_linenumber * 7 + 17) % 36000) / 100.0 - 180.0 AS x, "
           "((l_orderkey * 241 + l_linenumber * 11 + 29) % 17000) / 100.0 - 85.0 AS y "
           "FROM lineitem")
    levels = ", ".join(str(lv) for lv in _PYRAMID_LEVELS)
    return (f"WITH pts AS ({pts}), "
            f"g AS (SELECT {gx} AS gx, {gy} AS gy FROM pts)"
            + _morton_ctes("1 AS one", 12, "g")
            + f""", lv AS (SELECT cell_id, unnest([{levels}]) AS level FROM enc)
SELECT level, ((cell_id >> (5 + 2 * (12 - level))) << 5) | level AS cell_id,
       COUNT(*) AS n_points
FROM lv GROUP BY 1, 2""")


def _q17_asof_join(spark, sf):
    """As-of join: each purchase event gets the same user's latest
    click at or before it (cogrouped applyInPandas merge_asof)."""
    from kml2geojson_spark.asof import asof_join
    e = _t(spark, sf, "events")
    purchases = (e.where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id"), F.col("ts")))
    clicks = (e.where(F.col("event_type") == "click")
              .select(F.col("user_id"), F.col("ts"),
                      F.col("event_id").alias("click_id")))
    out = asof_join(purchases, clicks, key="user_id",
                    left_ts="ts", right_ts="ts")
    # timezone-free gap: timestampdiff on the NTZ values directly — no
    # session-zone dependence (a cast through TIMESTAMP would shift each
    # side by its own UTC offset and break across DST transitions; an
    # interval cast to long truncates to seconds)
    gap = F.expr("timestampdiff(MICROSECOND, r_ts, ts)")
    return out.select("purchase_id", "user_id",
                      F.col("r_click_id").alias("click_id"),
                      gap.alias("gap_us"))


_O17 = """
WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT event_id AS click_id, user_id, ts FROM events
      WHERE event_type = 'click'),
j AS (
  SELECT p.purchase_id, p.user_id, c.click_id,
         epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
         ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.ts DESC, c.click_id DESC) AS rn
  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
)
SELECT purchase_id, user_id, click_id, gap_us FROM j WHERE rn = 1
"""


def _q18_rollup(spark, sf):
    """OLAP rollup with grouping indicators (hierarchical subtotals in
    one pass — Catalyst expands to a single Expand + hash aggregate)."""
    li = _t(spark, sf, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.grouping("l_returnflag").cast("long").alias("g_flag"),
                 F.grouping("l_linestatus").cast("long").alias("g_status"),
                 F.count(F.lit(1)).alias("n_rows"),
                 F.round(F.sum(F.col("l_quantity") * 100.0)).cast("long")
                 .alias("qty_c"))
            .select("l_returnflag", "l_linestatus", "g_flag", "g_status",
                    "n_rows", "qty_c"))


_O18 = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(l_quantity * 100.0)) AS BIGINT) AS qty_c
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def _q19_group_median(spark, sf):
    """Exact per-group median without float interpolation: emit the two
    middle order statistics (equal for odd counts) as integers, via one
    window rank — identical arithmetic in both engines."""
    o = _t(spark, sf, "orders")
    base = o.select("o_orderpriority",
                    F.round(F.col("o_totalprice") * 100.0).cast("long")
                    .alias("price_cents"), "o_orderkey")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("price_cents").asc(), F.col("o_orderkey").asc())
    ranked = (base.withColumn("rn", F.row_number().over(w))
              .withColumn("cnt", F.count(F.lit(1)).over(
                  Window.partitionBy("o_orderpriority"))))
    mid = ranked.where((F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
                       | (F.col("rn") == F.floor((F.col("cnt") + 2) / 2)))
    return (mid.groupBy("o_orderpriority")
            .agg(F.min("price_cents").alias("median_lo_c"),
                 F.max("price_cents").alias("median_hi_c")))


_O19 = """
WITH ranked AS (
  SELECT o_orderpriority,
         CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS price_cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY CAST(ROUND(o_totalprice * 100.0) AS BIGINT) ASC,
                                     o_orderkey ASC) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
  FROM orders
)
SELECT o_orderpriority, MIN(price_cents) AS median_lo_c,
       MAX(price_cents) AS median_hi_c
FROM ranked
WHERE rn = CAST(FLOOR((cnt + 1) / 2.0) AS BIGINT)
   OR rn = CAST(FLOOR((cnt + 2) / 2.0) AS BIGINT)
GROUP BY o_orderpriority
"""


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _q27_events_pivot(spark, sf):
    """Pivot event_type into per-user count columns (one hash agg; the
    pivot list is explicit so no extra distinct-values pass)."""
    e = _t(spark, sf, "events")
    out = (e.groupBy("user_id").pivot("event_type", _EVENT_TYPES)
           .agg(F.count(F.lit(1))))
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
                     for t in _EVENT_TYPES])


_O27 = "SELECT user_id, " + ", ".join(
    f"SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)::BIGINT AS n_{t}"
    for t in _EVENT_TYPES) + " FROM events GROUP BY user_id"


def _q28_tumbling_window(spark, sf):
    """Tumbling 1-hour time-window aggregation (batch shape of the
    streaming windowed agg). The window key is built from wall-clock
    components (year/month/day/hour act directly on TIMESTAMP_NTZ), so
    it is session-timezone independent — date_trunc would round-trip
    through a TIMESTAMP cast and shift near DST transitions."""
    e = _t(spark, sf, "events")
    win = F.format_string("%04d-%02d-%02d %02d:00:00",
                          F.year("ts"), F.month("ts"),
                          F.dayofmonth("ts"), F.hour("ts"))
    return (e.groupBy(win.alias("window_start"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum(F.col("value") * 100.0)).cast("long")
                 .alias("value_c")))


_O28 = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(value * 100.0)) AS BIGINT) AS value_c
FROM events GROUP BY 1, 2
"""


def _q46_polygon_stats(spark, sf):
    """Vector analytics: shoelace area + perimeter per polygon ring,
    integerized to micro-units so the cross-engine hash is exact."""
    from kml2geojson_spark.spatial.ops import polygon_stats
    out = polygon_stats(_nation_diamonds(spark, sf))
    return out.select(
        "poly_id",
        F.round(F.col("area2") * 1e6).cast("long").alias("area2_micro"),
        F.round(F.col("perimeter") * 1e6).cast("long").alias("perim_micro"))


_O46 = f"""
WITH polys AS ({_POLY_SQL}),
verts AS (
  SELECT poly_id,
         cx + dx1 * r AS x1, cy + dy1 * r AS y1,
         cx + dx2 * r AS x2, cy + dy2 * r AS y2
  FROM polys CROSS JOIN (VALUES
    (1.0, 0.0, 0.0, 1.0), (0.0, 1.0, -1.0, 0.0),
    (-1.0, 0.0, 0.0, -1.0), (0.0, -1.0, 1.0, 0.0)
  ) AS d(dx1, dy1, dx2, dy2)
)
SELECT poly_id,
       CAST(ROUND(SUM(x1 * y2 - x2 * y1) * 1e6) AS BIGINT) AS area2_micro,
       CAST(ROUND(SUM(sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)))
                  * 1e6) AS BIGINT) AS perim_micro
FROM verts GROUP BY poly_id
"""


_RECTS_SQL = (
    "SELECT p_partkey AS rect_id, "
    "((p_partkey * 7349 + 123) % 30000) / 100.0 - 150.0"
    " - (0.3 + (p_partkey % 5) * 0.35) AS west, "
    "((p_partkey * 2711 + 77) % 13000) / 100.0 - 65.0"
    " - (0.3 + (p_partkey % 5) * 0.35) AS south, "
    "((p_partkey * 7349 + 123) % 30000) / 100.0 - 150.0"
    " + (0.3 + (p_partkey % 5) * 0.35) AS east, "
    "((p_partkey * 2711 + 77) % 13000) / 100.0 - 65.0"
    " + (0.3 + (p_partkey % 5) * 0.35) AS north "
    "FROM part"
)


def _part_rects(spark, sf):
    p = _t(spark, sf, "part")
    cx = ((F.col("p_partkey") * 7349 + 123) % 30000) / 100.0 - 150.0
    cy = ((F.col("p_partkey") * 2711 + 77) % 13000) / 100.0 - 65.0
    half = F.lit(0.3) + (F.col("p_partkey") % 5) * 0.35
    return p.select(F.col("p_partkey").alias("rect_id"),
                    (cx - half).alias("west"), (cy - half).alias("south"),
                    (cx + half).alias("east"), (cy + half).alias("north"))


def _q47_rect_overlap_join(spark, sf):
    """Spatial self-join via cell-bucketed candidates + exact interval
    test (complete: overlapping rects share a covering cell)."""
    from kml2geojson_spark.spatial.ops import rect_overlap_join
    return rect_overlap_join(_part_rects(spark, sf), res=6)


_O47 = f"""
WITH rects AS ({_RECTS_SQL})
SELECT a.rect_id AS rect_a, b.rect_id AS rect_b
FROM rects a JOIN rects b ON a.rect_id < b.rect_id
WHERE a.west < b.east AND b.west < a.east
  AND a.south < b.north AND b.south < a.north
"""


# -- text / dedup ----------------------------------------------------------

def _q20_exact_dedup(spark, sf):
    from kml2geojson_spark.textops import exact_duplicates
    # prefix-normalized dedup (the sf0.01 corpus has no full-text dups;
    # 16-char prefixes give real clusters to verify the hash-groupBy on)
    d = _t(spark, sf, "documents").select(
        "doc_id", F.substring("text", 1, 16).alias("text"))
    return exact_duplicates(d)


_O20 = """
SELECT md5(substr(text, 1, 16)) AS content_hash, COUNT(*) AS n_dups,
       MIN(doc_id) AS keeper_id
FROM documents GROUP BY md5(substr(text, 1, 16)) HAVING COUNT(*) > 1
"""


def _q21_token_stats(spark, sf):
    from kml2geojson_spark.textops import token_stats
    return token_stats(_t(spark, sf, "documents"))


_O21 = """
SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
       length(text) AS n_chars_measured
FROM documents
"""


def _q22_quality(spark, sf):
    from kml2geojson_spark.textops import quality_score
    return quality_score(_t(spark, sf, "documents"))


_O22 = """
SELECT doc_id, length(text) AS n_chars_measured,
       CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         / length(text) AS alpha_ratio,
       CAST(length(text) AS DOUBLE) / len(string_split(text, ' '))
         AS mean_token_len
FROM documents WHERE length(text) > 0
"""


def _q23_lang_guess(spark, sf):
    from kml2geojson_spark.textops import lang_guess
    return lang_guess(_t(spark, sf, "documents"))


def _o23() -> str:
    markers = [("en", " the "), ("fr", " le "), ("de", " der "),
               ("es", " el "), ("zh", " ba ")]
    counts = ", ".join(
        f"CAST((length(p) - length(replace(p, '{needle}', ''))) / {len(needle)} AS BIGINT) AS n_{lang}"
        for lang, needle in markers)
    best = "GREATEST(" + ", ".join(f"n_{lang}" for lang, _ in markers) + ")"
    case = "CASE"
    for lang, _ in markers:
        case += f" WHEN n_{lang} = best AND best > 0 THEN '{lang}'"
    case += " ELSE 'und' END"
    return f"""
WITH padded AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents),
counts AS (SELECT doc_id, lang, {counts} FROM padded),
scored AS (SELECT doc_id, lang, {best} AS best, * EXCLUDE (doc_id, lang) FROM counts)
SELECT doc_id, lang AS lang_label, {case} AS lang_guess FROM scored
"""


def _q24_fingerprint(spark, sf):
    from kml2geojson_spark.textops import fingerprint64_col
    d = _t(spark, sf, "documents")
    return (d.select("doc_id",
                     fingerprint64_col(F.col("text")).alias("fingerprint")))


_O24 = """
SELECT doc_id, CAST('0x' || substr(md5(text), 1, 12) AS BIGINT) AS fingerprint
FROM documents
"""


def _q25_ngram_jaccard(spark, sf):
    from kml2geojson_spark.textops import ngram_jaccard_pairs
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 100)
    return (ngram_jaccard_pairs(d, n=8, threshold=0.05)
            .select("doc_a", "doc_b", "n_shared"))


_O25 = """
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           substr(text, CAST(i AS INTEGER), 8) AS gram
    FROM docs, LATERAL (
      SELECT unnest(generate_series(1, GREATEST(length(text) - 7, 0))) AS i)
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM grams a JOIN grams b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared
FROM shared JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_shared AS DOUBLE) / (sa.n_grams + sb.n_grams - n_shared) >= 0.05
"""


def _q50_stratified_split(spark, sf):
    """Deterministic hash-based train/val/test split, counted per
    language stratum."""
    from kml2geojson_spark.textops import stratified_split_counts
    return stratified_split_counts(_t(spark, sf, "documents"))


_O50 = """
SELECT lang,
       CASE WHEN b < 204 THEN 'train' WHEN b < 229 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM (SELECT lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT AS b
      FROM documents)
GROUP BY 1, 2
"""


def _q48_bpe_tokens(spark, sf):
    """BPE-ish regex pre-tokenization counts (alpha/digit/punct runs)."""
    from kml2geojson_spark.textops import bpe_token_stats
    return bpe_token_stats(_t(spark, sf, "documents"))


_O48 = r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
         AS n_bpe_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+')) AS n_alpha_tokens,
       len(regexp_extract_all(text, '[0-9]+')) AS n_digit_tokens
FROM documents
"""


def _q26_simhash_pairs(spark, sf):
    from kml2geojson_spark.textops import simhash_near_pairs
    return simhash_near_pairs(_t(spark, sf, "documents"),
                              max_hamming=3, bands=4)


def _simhash_pairs_cte() -> str:
    """Shared CTE chain: md5-derived 60-bit token hashes, per-bit ±1
    sums, O(n²) hamming-<=3 pair filter. Final CTE is ``pairs``."""
    bits = 60
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits))
    asm = " | ".join(
        f"(CASE WHEN s{b} > 0 THEN 1::BIGINT ELSE 0::BIGINT END << {b})"
        for b in range(bits))
    return f"""toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
    FROM documents) WHERE tok != ''),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
sums AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {asm} AS sig FROM sums),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.sig, b.sig)) AS hamming
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sig, b.sig)) <= 3)"""


def _o26() -> str:
    """Brute-force SimHash near-dup oracle; the banded Spark join must
    equal this exactly (pigeonhole completeness)."""
    return (f"WITH {_simhash_pairs_cte()} "
            "SELECT doc_a, doc_b, hamming FROM pairs")


def _q45_dedup_components(spark, sf):
    """Dedup-cluster labeling: connected components over the SimHash
    near-dup graph via the diameter-INDEPENDENT large-star/small-star
    algorithm (O(log² n) rounds — long transitive near-dup chains at
    100 TB converge where one-hop-per-round label propagation would
    not; the oracle is a recursive-CTE transitive closure)."""
    from kml2geojson_spark.graph import connected_components_star
    from kml2geojson_spark.textops import simhash_near_pairs
    pairs = simhash_near_pairs(_t(spark, sf, "documents"),
                               max_hamming=3, bands=4)
    return (connected_components_star(pairs)
            .select(F.col("node").alias("doc_id"), "component"))


def _o45() -> str:
    return f"""
WITH RECURSIVE {_simhash_pairs_cte()},
edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(node, r) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT reach.node, edges.d FROM reach JOIN edges ON reach.r = edges.s
)
SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node
"""


def _q59_near_dedup_reps(spark, sf):
    """The one-call corpus near-dedup pipeline: exact-dup star edges ∪
    SimHash near pairs → components → per-doc representative (self for
    singletons). The oracle replays the identical edge set with a
    recursive-CTE closure."""
    from kml2geojson_spark.textops import near_dedup_representatives
    return near_dedup_representatives(_t(spark, sf, "documents"),
                                      max_hamming=3, bands=4)


def _o59() -> str:
    return f"""
WITH RECURSIVE {_simhash_pairs_cte()},
hx AS (SELECT doc_id, md5(text) AS h FROM documents),
gm AS (SELECT h, MIN(doc_id) AS rep FROM hx GROUP BY h),
ee AS (SELECT gm.rep AS doc_a, hx.doc_id AS doc_b
       FROM hx JOIN gm USING (h) WHERE hx.doc_id != gm.rep),
alledges AS (SELECT doc_a, doc_b FROM pairs
             UNION SELECT doc_a, doc_b FROM ee),
edges AS (SELECT doc_a AS s, doc_b AS d FROM alledges
          UNION SELECT doc_b, doc_a FROM alledges),
reach(node, r) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT reach.node, edges.d FROM reach JOIN edges ON reach.r = edges.s
),
comp AS (SELECT node AS doc_id, MIN(r) AS rep_id FROM reach GROUP BY node)
SELECT doc_id, rep_id FROM comp
UNION ALL
SELECT doc_id, doc_id AS rep_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM comp)
"""


def _q60_coverage_fractions(spark, sf):
    """Aggregated raster←vector coverage via the LIBRARY operator
    (spatial.coverage_fractions): per-addend picounit integerization
    makes the sum order-independent and bit-exact cross-engine."""
    from kml2geojson_spark.spatial import coverage_fractions
    return (coverage_fractions(_nation_diamonds(spark, sf), 6)
            .select("cell_id", "total_frac_pico", "n_polygons"))


def _o60() -> str:
    inner = _o54().strip()
    return f"""
WITH q54 AS ({inner})
SELECT cell_id,
       CAST(SUM(CAST(ROUND(fraction * 1e12) AS BIGINT)) AS BIGINT)
         AS total_frac_pico,
       COUNT(*) AS n_polygons
FROM q54 GROUP BY cell_id
"""


def _q51_hll_registers(spark, sf):
    """HLL cardinality sketch with md5-derived (engine-portable)
    hashing: the register table is bit-exact cross-engine while the
    derived estimate keeps normal HLL accuracy (pytest checks it
    against the exact distinct count)."""
    from kml2geojson_spark.sketch import hll_registers
    return hll_registers(_t(spark, sf, "lineitem"), "l_partkey",
                         group_cols=["l_returnflag"], p=8)


def _o51() -> str:
    from kml2geojson_spark.sketch import hll_registers_sql
    return hll_registers_sql("l_partkey", "lineitem",
                             group_cols=["l_returnflag"], p=8)


def _q52_sampled_quantiles(spark, sf):
    """Quantiles over a hash-deterministic sample: the same rows are
    sampled on every engine/run, so the approximate statistic itself is
    exactly reproducible (price integerized as cents)."""
    from kml2geojson_spark.sketch import sampled_quantiles
    o = _t(spark, sf, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100.0).cast("long")
        .alias("price_cents"))
    return sampled_quantiles(o, "price_cents",
                             group_cols=["o_orderpriority"])


_O52 = """
WITH s AS (
  SELECT o_orderpriority,
         CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS price_cents
  FROM orders
  WHERE ('0x' || substr(md5(CAST(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)
                             AS VARCHAR)), 1, 2))::BIGINT < 16),
ranked AS (
  SELECT o_orderpriority, price_cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY price_cents ASC) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
  FROM s)
SELECT o_orderpriority, q, price_cents AS value
FROM ranked CROSS JOIN (VALUES (0.25), (0.5), (0.75)) AS qs(q)
WHERE rn = CAST(FLOOR(q * (cnt - 1)) AS BIGINT) + 1
"""


def _q56_hll_estimate(spark, sf):
    """HLL cardinality ESTIMATE (not just the registers): the harmonic
    sum is integer-scaled, so the raw-branch estimate is bit-identical
    cross-engine — the whole sketch→estimate path is oracle-verifiable."""
    from kml2geojson_spark.sketch import hll_estimate, hll_registers
    regs = hll_registers(_t(spark, sf, "lineitem"), "l_partkey",
                         group_cols=["l_returnflag"], p=8)
    return hll_estimate(regs, group_cols=["l_returnflag"], p=8)


def _o56() -> str:
    from kml2geojson_spark.sketch import hll_estimate_sql
    return hll_estimate_sql("l_partkey", "lineitem",
                            group_cols=["l_returnflag"], p=8)


def _q57_global_quantiles(spark, sf):
    """UNGROUPED quantiles — exercises the two-phase distributed order
    statistics (range-partitioned cumulative counts + tiny offset
    merge) instead of a single-task global window."""
    from kml2geojson_spark.sketch import sampled_quantiles
    o = _t(spark, sf, "orders").select(
        F.round(F.col("o_totalprice") * 100.0).cast("long")
        .alias("price_cents"))
    return sampled_quantiles(o, "price_cents",
                             quantiles=(0.1, 0.25, 0.5, 0.75, 0.9))


_O57 = """
WITH s AS (
  SELECT CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS price_cents
  FROM orders
  WHERE ('0x' || substr(md5(CAST(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)
                             AS VARCHAR)), 1, 2))::BIGINT < 16),
ranked AS (
  SELECT price_cents,
         ROW_NUMBER() OVER (ORDER BY price_cents ASC) AS rn,
         COUNT(*) OVER () AS cnt
  FROM s)
SELECT q, price_cents AS value
FROM ranked CROSS JOIN (VALUES (0.1), (0.25), (0.5), (0.75), (0.9)) AS qs(q)
WHERE rn = CAST(FLOOR(q * (cnt - 1)) AS BIGINT) + 1
"""


def _q53_keyword_search(spark, sf):
    """Inverted-index keyword search: docs containing ALL query terms,
    via token explode → posting-list join (the index-construction shape;
    the oracle is the scan-side LIKE formulation)."""
    from kml2geojson_spark.textops import keyword_search_all
    return keyword_search_all(_t(spark, sf, "documents"),
                              ["spark", "join", "window"])


_O53 = """
SELECT doc_id FROM documents
WHERE ' ' || lower(text) || ' ' LIKE '% spark %'
  AND ' ' || lower(text) || ' ' LIKE '% join %'
  AND ' ' || lower(text) || ' ' LIKE '% window %'
"""


# -- similarity search ------------------------------------------------------


def _q31_embed_neardup(spark, sf):
    """Embedding-cosine near-duplicate pairs at threshold 0.4505 (sits
    in a ~2e-3 gap of the sf0.01 cosine distribution, so the float
    threshold test is unambiguous cross-engine)."""
    from kml2geojson_spark.simsearch import cosine_neardup_pairs
    return cosine_neardup_pairs(_t(spark, sf, "embeddings"), 0.4505)


_O31 = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))) >= 0.4505
"""

def _q30_cosine_topk(spark, sf):
    from kml2geojson_spark.simsearch import cosine_topk_exact
    emb = _t(spark, sf, "embeddings")
    queries = (emb.where(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = cosine_topk_exact(emb, queries, 10)
    return out.select("query_id", "neighbor_id", "rank")


_O30 = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
base AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (
  SELECT q.query_id, base.neighbor_id,
         list_dot_product(base.v, q.qv)
           / (sqrt(list_dot_product(base.v, base.v))
              * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM base CROSS JOIN q WHERE base.neighbor_id != q.query_id
),
r AS (SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM d)
SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 10
"""


def _q63_vocabulary(spark, sf):
    """Corpus vocabulary (token document frequencies) with distributed
    deterministic ranking (df desc, token asc) — histogram-offset
    scheme, no global window over the vocabulary."""
    from kml2geojson_spark.textops import vocabulary
    return vocabulary(_t(spark, sf, "documents"), min_df=3)


_O63 = """
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
    FROM documents) WHERE tok != ''),
counts AS (
  SELECT tok AS token, COUNT(*) AS df FROM toks GROUP BY tok
  HAVING COUNT(*) >= 3)
SELECT token, df,
       CAST(ROW_NUMBER() OVER (ORDER BY df DESC, token ASC) AS BIGINT)
         AS rank
FROM counts
"""


def _q64_interval_join(spark, sf):
    """Numeric interval join (facts BETWEEN start AND end) via the
    bucket-candidate shape — never a nested-loop/cartesian plan."""
    from kml2geojson_spark.rangejoin import interval_join
    li = _t(spark, sf, "lineitem")
    facts = li.select(
        "l_orderkey", "l_linenumber",
        ((F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 100000)
        .alias("p"))
    s = _t(spark, sf, "supplier")
    ivs = s.select(
        F.col("s_suppkey").alias("iv_id"),
        ((F.col("s_suppkey") * 911) % 100000).alias("iv_start"))
    ivs = ivs.withColumn(
        "iv_end", F.col("iv_start") + (F.col("iv_id") % 50) * 10)
    out = interval_join(facts, ivs, point_col="p", start_col="iv_start",
                        end_col="iv_end", bucket_width=256)
    return out.select("l_orderkey", "l_linenumber", "p", "iv_id")


_O64 = """
SELECT l.l_orderkey, l.l_linenumber,
       (l.l_orderkey * 7 + l.l_linenumber) % 100000 AS p,
       s.s_suppkey AS iv_id
FROM lineitem l
JOIN supplier s
  ON (l.l_orderkey * 7 + l.l_linenumber) % 100000
       BETWEEN (s.s_suppkey * 911) % 100000
           AND (s.s_suppkey * 911) % 100000 + (s.s_suppkey % 50) * 10
"""


def _q66_coverage_pyramid(spark, sf):
    """Coverage rollup across resolutions: per-cell picounit coverage
    at res 6 aggregated to the res-4 parents by the hierarchical
    bit-shift — integer sums, so the rollup is order-independent and
    bit-exact like q60."""
    from kml2geojson_spark.spatial import coverage_fractions
    from kml2geojson_spark.spatial.cells import cell_parent_col
    cov = coverage_fractions(_nation_diamonds(spark, sf), 6)
    return (cov.withColumn("cell4", cell_parent_col(F.col("cell_id"), 2))
            .groupBy("cell4")
            .agg(F.sum("total_frac_pico").alias("total_frac_pico"),
                 F.sum("n_polygons").alias("n_cover_rows")))


def _o66() -> str:
    inner = _o60().strip()
    return f"""
WITH q60 AS ({inner})
SELECT (((cell_id >> 9) << 5) | 4) AS cell4,
       CAST(SUM(total_frac_pico) AS BIGINT) AS total_frac_pico,
       CAST(SUM(n_polygons) AS BIGINT) AS n_cover_rows
FROM q60 GROUP BY cell4
"""


def _q61_embed_dedup_reps(spark, sf):
    """Embedding-space near-dedup composite: cosine pairs → components
    → per-vector representative (self for singletons)."""
    from kml2geojson_spark.simsearch import embedding_dedup_representatives
    return embedding_dedup_representatives(_t(spark, sf, "embeddings"),
                                           0.4505)


_O61 = """
WITH RECURSIVE
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.4505),
edges AS (SELECT vec_a AS s, vec_b AS d FROM pairs
          UNION SELECT vec_b, vec_a FROM pairs),
reach(node, r) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT reach.node, edges.d FROM reach JOIN edges ON reach.r = edges.s
),
comp AS (SELECT node AS vec_id, MIN(r) AS rep_id FROM reach GROUP BY node)
SELECT vec_id, rep_id FROM comp
UNION ALL
SELECT vec_id, vec_id AS rep_id FROM embeddings
WHERE vec_id NOT IN (SELECT vec_id FROM comp)
"""


def _q62_redact_text(spark, sf):
    """Corpus scrubbing: email/number patterns replaced by tags with
    per-pattern match counts — pure Column regexp work, patterns in the
    Java∩RE2 dialect so DuckDB computes the identical output."""
    from kml2geojson_spark.textops import redact_text
    return redact_text(_t(spark, sf, "documents"))


_O62 = """
SELECT doc_id,
       regexp_replace(
         regexp_replace(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z0-9]',
                        '<EMAIL>', 'g'),
         '[0-9][0-9.]*', '<NUM>', 'g') AS clean_text,
       len(regexp_extract_all(text,
           '[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z0-9]')) AS n_email,
       len(regexp_extract_all(
           regexp_replace(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z0-9]',
                          '<EMAIL>', 'g'),
           '[0-9][0-9.]*')) AS n_number
FROM documents
"""


def _q40_minhash_pairs(spark, sf):
    """MinHash LSH candidate pairs — md5-derived shingle hashes and
    engine-portable permutation arithmetic, so the DuckDB oracle
    replays the signatures (and therefore the candidate set)
    bit-exactly."""
    from kml2geojson_spark.textops import minhash_candidate_pairs
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    return minhash_candidate_pairs(d, n_hashes=32, bands=8, shingle=5)


_MINHASH_ORACLE_CORE = """
d AS (SELECT doc_id, coalesce(text, '') AS text
      FROM documents WHERE doc_id < 200),
g AS (
  SELECT DISTINCT doc_id,
         CASE WHEN length(text) >= 5
              THEN substr(text, CAST(i AS INTEGER), 5)
              ELSE text END AS gram
  FROM d, LATERAL (
    SELECT unnest(generate_series(1, GREATEST(length(text) - 4, 1))) AS i)
),
h AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv FROM g),
hh AS (SELECT doc_id, hv >> 30 AS hi, hv & 1073741823 AS lo FROM h),
perm(i, a1, a2, b) AS (VALUES {perm_values}),
m AS (SELECT doc_id, i,
             MIN((a1 * hi + a2 * lo + b) % 2305843009213693951) AS sv
      FROM hh CROSS JOIN perm GROUP BY doc_id, i),
s AS (SELECT doc_id, list(sv ORDER BY i) AS sig FROM m GROUP BY doc_id),
banded AS (
  SELECT doc_id, band_idx,
         concat_ws(',', sig[band_idx * 4 + 1], sig[band_idx * 4 + 2],
                   sig[band_idx * 4 + 3], sig[band_idx * 4 + 4]) AS band_key
  FROM s, LATERAL (SELECT unnest(generate_series(0, 7)) AS band_idx)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
)
"""


def _minhash_oracle_core() -> str:
    from kml2geojson_spark.textops import minhash_permutation_constants
    a1, a2, b = minhash_permutation_constants(32, seed=42)
    vals = ", ".join(f"({i}, {int(a1[i])}, {int(a2[i])}, {int(b[i])})"
                     for i in range(32))
    return _MINHASH_ORACLE_CORE.format(perm_values=vals)


def _o40() -> str:
    return f"WITH {_minhash_oracle_core()} SELECT doc_a, doc_b FROM pairs"


def _q58_minhash_similarity(spark, sf):
    """Estimated Jaccard over the MinHash candidate pairs, integerized
    as equal-signature-position counts — bit-exact vs the DuckDB
    oracle, which replays the md5-derived signatures position by
    position."""
    from kml2geojson_spark.textops import (minhash_candidate_pairs,
                                           minhash_signatures,
                                           minhash_similarity)
    d = _t(spark, sf, "documents").where(F.col("doc_id") < 200)
    pairs = minhash_candidate_pairs(d, n_hashes=32, bands=8, shingle=5) \
        .select("doc_a", "doc_b")
    sigs = minhash_signatures(d, n_hashes=32, shingle=5)
    out = minhash_similarity(pairs, sigs)
    return out.select(
        "doc_a", "doc_b",
        F.round(F.col("est_jaccard") * 32).cast("long").alias("eq_positions"))


def _o58() -> str:
    return f"""
WITH {_minhash_oracle_core()}
SELECT p.doc_a, p.doc_b,
       CAST(SUM(CASE WHEN sa.sig[CAST(j AS INTEGER)]
                       = sb.sig[CAST(j AS INTEGER)]
                THEN 1 ELSE 0 END) AS BIGINT) AS eq_positions
FROM pairs p
JOIN s sa ON sa.doc_id = p.doc_a
JOIN s sb ON sb.doc_id = p.doc_b,
LATERAL (SELECT unnest(generate_series(1, 32)) AS j)
GROUP BY p.doc_a, p.doc_b
"""


def _q68_compact_cells(spark, sf):
    """S2/H3-style cell-set compaction: complete sibling quads collapse
    to their parent, recursively res 5 → 2 (at sf0.01 this genuinely
    collapses: 891 cells → 396 across three mixed output resolutions).
    Oracle replays it level by level in chained CTEs."""
    from kml2geojson_spark.spatial import encode_points
    from kml2geojson_spark.spatial.ops import compact_cells
    cells = encode_points(_customer_points(spark, sf), 5) \
        .select("cell_id").distinct()
    return compact_cells(cells, min_res=2)


def _o68() -> str:
    gx, gy = _grid_sql("x", "y", 5)
    sql = (f"WITH pts AS ({_PTS_SQL}), "
           f"g AS (SELECT point_id, {gx} AS gx, {gy} AS gy FROM pts)"
           + _morton_ctes("point_id", 5, "g")
           + ", s5 AS (SELECT DISTINCT cell_id FROM enc)")
    for r in range(5, 2, -1):
        sql += f"""
, cur{r} AS (SELECT cell_id FROM s{r} WHERE (cell_id & 31) = {r}),
rest{r} AS (SELECT cell_id FROM s{r} WHERE (cell_id & 31) <> {r}),
c{r} AS (SELECT (((cell_id >> 7) << 5) | {r - 1}) AS parent, cell_id
         FROM cur{r}),
f{r} AS (SELECT parent FROM c{r} GROUP BY parent HAVING COUNT(*) = 4),
s{r - 1} AS (
  SELECT DISTINCT cell_id FROM (
    SELECT cell_id FROM rest{r}
    UNION ALL
    SELECT cell_id FROM c{r}
    WHERE parent NOT IN (SELECT parent FROM f{r})
    UNION ALL
    SELECT parent AS cell_id FROM f{r}))"""
    return sql + " SELECT cell_id FROM s2"


def _q69_tfidf_top_terms(spark, sf):
    """Per-document top-5 characteristic terms by tf/df score (exact
    integer ratio — no libm in the hash-checked value)."""
    from kml2geojson_spark.textops import tfidf_top_terms
    return tfidf_top_terms(_t(spark, sf, "documents"), 5)


_O69 = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
  FROM documents),
t AS (SELECT doc_id, token FROM toks WHERE token <> ''),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY doc_id, token),
dfx AS (SELECT token, COUNT(*) AS df
        FROM (SELECT DISTINCT doc_id, token FROM t) GROUP BY token),
sc AS (SELECT tf.doc_id, tf.token, tf.tf, dfx.df,
              CAST(tf.tf AS DOUBLE) / dfx.df AS score
       FROM tf JOIN dfx USING (token)),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, token ASC) AS rank
      FROM sc)
SELECT doc_id, token, tf, df, score, rank FROM r WHERE rank <= 5
"""


def _q70_bloom_registers(spark, sf):
    """Bloom-filter register table over the corpus vocabulary —
    md5-derived bit positions, 64-bit words, bit_or aggregate; the
    probe-side dedup prefilter, bit-exact cross-engine."""
    from kml2geojson_spark.sketch import bloom_registers
    toks = (_t(spark, sf, "documents")
            .select(F.explode(F.split(F.lower(F.col("text")), " "))
                    .alias("token"))
            .where(F.col("token") != "").distinct())
    return bloom_registers(toks, "token", m_bits=1 << 16, k=4)


_O70 = """
WITH toks AS (
  SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS token
  FROM documents),
t AS (SELECT token FROM toks WHERE token <> ''),
pos AS (
  SELECT (('0x' || substr(md5(i || ':' || token), 1, 15))::BIGINT % 65536)
         AS p
  FROM t, LATERAL (SELECT unnest(generate_series(0, 3)) AS i))
SELECT (p // 63) AS word_idx,
       bit_or(1::BIGINT << CAST(p % 63 AS INTEGER)) AS bits
FROM pos GROUP BY word_idx
"""


def _q71_quality_quota(spark, sf):
    """Deterministic corpus curation: top-30 docs per language by the
    exact integer-ratio quality score (alpha_ratio desc, doc_id asc)."""
    from kml2geojson_spark.textops import quality_quota_sample
    return quality_quota_sample(_t(spark, sf, "documents"), 30)


_O71 = """
WITH s AS (
  SELECT doc_id, lang,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
           / length(text) AS alpha_ratio
  FROM documents WHERE length(text) > 0),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY alpha_ratio DESC, doc_id ASC)
             AS rank
      FROM s)
SELECT doc_id, lang, alpha_ratio, rank FROM r WHERE rank <= 30
"""


def _q72_decontaminate(spark, sf):
    """Benchmark decontamination: corpus docs (id >= 20) sharing any
    8-gram with the held-out benchmark slice (id < 20)."""
    from kml2geojson_spark.textops import decontaminate_against
    d = _t(spark, sf, "documents")
    return decontaminate_against(d.where(F.col("doc_id") >= 20),
                                 d.where(F.col("doc_id") < 20), n=8)


_O72 = """
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 20),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 20),
cg AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id, substr(text, CAST(i AS INTEGER), 8) AS gram
    FROM corpus, LATERAL (
      SELECT unnest(generate_series(1, GREATEST(length(text) - 7, 0))) AS i))),
bg AS (
  SELECT DISTINCT gram FROM (
    SELECT substr(text, CAST(i AS INTEGER), 8) AS gram
    FROM bench, LATERAL (
      SELECT unnest(generate_series(1, GREATEST(length(text) - 7, 0))) AS i)))
SELECT doc_id, COUNT(*) AS n_shared_grams
FROM cg JOIN bg USING (gram)
GROUP BY doc_id HAVING COUNT(*) >= 1
"""


def _q73_repetition_stats(spark, sf):
    """Intra-document repetition signals (boilerplate/spam filter):
    total vs distinct 8-grams, hottest gram frequency."""
    from kml2geojson_spark.textops import repetition_stats
    return repetition_stats(_t(spark, sf, "documents"), n=8)


_O73 = """
WITH g AS (
  SELECT doc_id, substr(text, CAST(i AS INTEGER), 8) AS gram
  FROM documents, LATERAL (
    SELECT unnest(generate_series(1, GREATEST(length(text) - 7, 0))) AS i)),
pg AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams, COUNT(*) AS n_distinct,
       1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS rep_ratio,
       MAX(c) AS max_gram_freq
FROM pg GROUP BY doc_id
"""


def _supplier_lines(spark, sf):
    """Deterministic 5-vertex polylines from supplier (kept off the
    antimeridian like the diamonds; SQL twin lives in _o74)."""
    s = _t(spark, sf, "supplier")
    coords = F.expr(
        "transform(sequence(0, 4), j -> array("
        "((s_suppkey * 3119 + j * 2683 + 801) % 30000) / 100.0 - 150.0, "
        "((s_suppkey * 1997 + j * 3571 + 450) % 13000) / 100.0 - 65.0))")
    return s.select(F.col("s_suppkey").cast("long").alias("line_id"),
                    coords.alias("coords"))


def _q74_line_cover(spark, sf):
    """Polyline supercover rasterization (raster←vector for
    LineStrings): every cell each segment passes through, via the
    pure-Column column-sweep kernel. The oracle replays the identical
    sweep (column x-span → y interpolation → row range) float-for-
    float in DuckDB."""
    from kml2geojson_spark.spatial.ops import line_cover
    return line_cover(_supplier_lines(spark, sf), 7)


def _line_cover_ctes(res: int) -> str:
    """WITH chain replaying line_cover over _supplier_lines float-for-
    float; final CTE is ``g`` = DISTINCT (line_id, gx, gy). Shared by
    the q74 (line_cover) and q143 (buffer_cells) oracles."""
    n = float(1 << res)
    hi = (1 << res) - 1
    cw = 360.0 / n
    m_expr = "((y1 - y0) / (CASE WHEN x1 = x0 THEN 1.0 ELSE x1 - x0 END))"
    return f"""
WITH v AS (
  SELECT s_suppkey AS line_id, j,
         ((s_suppkey * 3119 + j * 2683 + 801) % 30000) / 100.0 - 150.0 AS x,
         ((s_suppkey * 1997 + j * 3571 + 450) % 13000) / 100.0 - 65.0 AS y
  FROM supplier, LATERAL (SELECT unnest(generate_series(0, 4)) AS j)),
seg AS (
  SELECT a.line_id, a.x AS x0, a.y AS y0, b.x AS x1, b.y AS y1
  FROM v a JOIN v b ON a.line_id = b.line_id AND b.j = a.j + 1),
sp AS (SELECT *, LEAST(x0, x1) AS sx, GREATEST(x0, x1) AS ex FROM seg),
rng AS (SELECT *,
  CAST(GREATEST(0, LEAST({hi}, FLOOR((sx + 180.0) / 360.0 * {n}))) AS BIGINT) AS ix0,
  CAST(GREATEST(0, LEAST({hi}, FLOOR((ex + 180.0) / 360.0 * {n}))) AS BIGINT) AS ix1
  FROM sp),
cols AS (SELECT line_id, x0, y0, x1, y1, sx, ex,
                unnest(generate_series(ix0, ix1)) AS gx FROM rng),
yy AS (SELECT line_id, gx,
  CASE WHEN x1 = x0 THEN LEAST(y0, y1)
       ELSE y0 + (GREATEST(sx, gx * {cw!r} - 180.0) - x0) * {m_expr}
  END AS ya,
  CASE WHEN x1 = x0 THEN GREATEST(y0, y1)
       ELSE y0 + (LEAST(ex, (gx * {cw!r} - 180.0) + {cw!r}) - x0) * {m_expr}
  END AS yb
  FROM cols),
rr AS (SELECT line_id, gx, unnest(generate_series(
  CAST(GREATEST(0, LEAST({hi},
       FLOOR((LEAST(ya, yb) + 90.0) / 180.0 * {n}))) AS BIGINT),
  CAST(GREATEST(0, LEAST({hi},
       FLOOR((GREATEST(ya, yb) + 90.0) / 180.0 * {n}))) AS BIGINT))) AS gy
  FROM yy),
g AS (SELECT DISTINCT line_id, gx, gy FROM rr)"""


def _o74() -> str:
    res = 7
    return f"""
{_line_cover_ctes(res)}
{_morton_ctes("line_id", res, "g")}
SELECT line_id, cell_id FROM enc
"""


def _q75_grid_cluster(spark, sf):
    """Grid-density clustering (DBSCAN-lite): occupied cells at res 7,
    8-neighbor adjacency (x wraps), cluster = min cell id of the
    connected component; oracle = recursive-CTE closure over the same
    cell graph."""
    from kml2geojson_spark.spatial.ops import grid_cluster
    return grid_cluster(_customer_points(spark, sf), 7)


def _o75() -> str:
    res = 7
    n = float(1 << res)
    ni = 1 << res
    hi = ni - 1
    return f"""
WITH RECURSIVE pts AS ({_PTS_SQL}),
gg AS (SELECT
  CAST(GREATEST(0, LEAST({hi}, FLOOR((x + 180.0) / 360.0 * {n}))) AS BIGINT) AS gx,
  CAST(GREATEST(0, LEAST({hi}, FLOOR((y + 90.0) / 180.0 * {n}))) AS BIGINT) AS gy
  FROM pts),
occ AS (SELECT gx, gy, COUNT(*) AS n_points FROM gg GROUP BY gx, gy),
o2 AS (SELECT gx AS ogx, gy AS ogy, n_points, gx, gy FROM occ)
{_morton_ctes("ogx, ogy, n_points", res, "o2")},
offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                               (0,1),(1,-1),(1,0),(1,1)) AS t(dx, dy)),
nb AS (SELECT a.ogx AS sgx, a.ogy AS sgy,
              ((a.ogx + o.dx + {ni}) % {ni}) AS nx, (a.ogy + o.dy) AS ny
       FROM enc a, offs o
       WHERE (a.ogy + o.dy) >= 0 AND (a.ogy + o.dy) < {ni}),
es AS (SELECT e1.cell_id AS s, e2.cell_id AS d
       FROM nb JOIN enc e1 ON nb.sgx = e1.ogx AND nb.sgy = e1.ogy
               JOIN enc e2 ON nb.nx = e2.ogx AND nb.ny = e2.ogy),
reach(node, r) AS (
  SELECT DISTINCT s, s FROM es
  UNION
  SELECT reach.node, es.d FROM reach JOIN es ON reach.r = es.s
),
comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
SELECT enc.cell_id, COALESCE(comp.cluster_id, enc.cell_id) AS cluster_id,
       enc.n_points
FROM enc LEFT JOIN comp ON enc.cell_id = comp.node
"""


_CMS_WIDTH = 1024


def _q76_cms_registers(spark, sf):
    """Count-min sketch register table over ALL corpus tokens (with
    multiplicity — the frequency companion to the q70 Bloom membership
    sketch); md5-derived buckets, bit-exact cross-engine."""
    from kml2geojson_spark.sketch import cms_registers
    toks = (_t(spark, sf, "documents")
            .select(F.explode(F.split(F.lower(F.col("text")), " "))
                    .alias("token"))
            .where(F.col("token") != ""))
    return cms_registers(toks, "token", depth=4, width=_CMS_WIDTH)


_CMS_REGS_CTES = f"""
toks AS (SELECT unnest(string_split(lower(text), ' ')) AS token
         FROM documents),
t AS (SELECT token FROM toks WHERE token <> ''),
pos AS (SELECT i AS sketch_row,
               (('0x' || substr(md5(i || ':' || token), 1, 15))::BIGINT
                % {_CMS_WIDTH}) AS bucket
        FROM t, LATERAL (SELECT unnest(generate_series(0, 3)) AS i)),
regs AS (SELECT sketch_row, bucket, COUNT(*) AS cnt
         FROM pos GROUP BY sketch_row, bucket)
"""

_O76 = f"WITH {_CMS_REGS_CTES} SELECT sketch_row, bucket, cnt FROM regs"


def _q77_cms_estimate(spark, sf):
    """Point-frequency estimates from the count-min sketch for the
    distinct tokens of docs 0-4 (min over depth rows; never
    underestimates — the oracle replays build AND probe)."""
    from kml2geojson_spark.sketch import cms_estimate, cms_registers
    d = _t(spark, sf, "documents")
    toks = (d.select(F.explode(F.split(F.lower(F.col("text")), " "))
                     .alias("token"))
            .where(F.col("token") != ""))
    regs = cms_registers(toks, "token", depth=4, width=_CMS_WIDTH)
    probes = (d.where(F.col("doc_id") < 5)
              .select(F.explode(F.split(F.lower(F.col("text")), " "))
                      .alias("token"))
              .where(F.col("token") != "").distinct())
    return cms_estimate(regs, probes, "token", depth=4, width=_CMS_WIDTH)


_O77 = f"""
WITH {_CMS_REGS_CTES},
pt AS (SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS token
       FROM documents WHERE doc_id < 5),
p AS (SELECT token FROM pt WHERE token <> ''),
ppos AS (SELECT token, i AS sketch_row,
                (('0x' || substr(md5(i || ':' || token), 1, 15))::BIGINT
                 % {_CMS_WIDTH}) AS bucket
         FROM p, LATERAL (SELECT unnest(generate_series(0, 3)) AS i)),
j AS (SELECT token, COALESCE(r.cnt, 0) AS cnt
      FROM ppos LEFT JOIN regs r USING (sketch_row, bucket))
SELECT token, MIN(cnt) AS estimate FROM j GROUP BY token
"""


def _q78_spatial_extent(spark, sf):
    """Per-group extent planning statistic: bbox + count + bit-exact
    centroid (nano-degree integer sums, so partial-agg order can't
    perturb the float)."""
    from kml2geojson_spark.spatial.ops import spatial_extent
    pts = _customer_points(spark, sf).withColumn(
        "grp", F.col("point_id") % 10)
    return spatial_extent(pts, "grp")


_O78 = """
WITH pts AS ({pts}),
p2 AS (SELECT point_id % 10 AS grp, x, y,
              CAST(ROUND(x * 1000000000.0) AS BIGINT) AS px,
              CAST(ROUND(y * 1000000000.0) AS BIGINT) AS py
       FROM pts),
a AS (SELECT grp, MIN(x) AS minx, MIN(y) AS miny,
             MAX(x) AS maxx, MAX(y) AS maxy, COUNT(*) AS n_points,
             CAST(SUM(px) AS BIGINT) AS sx, CAST(SUM(py) AS BIGINT) AS sy
      FROM p2 GROUP BY grp)
SELECT grp, minx, miny, maxx, maxy, n_points,
       (CAST(sx AS DOUBLE) / n_points) / 1000000000.0 AS cx,
       (CAST(sy AS DOUBLE) / n_points) / 1000000000.0 AS cy
FROM a
""".format(pts=_PTS_SQL)



def _q79_trajectory_stats(spark, sf):
    """Per-user trajectory rollup over event-derived positions:
    partitioned lag window (no global funnel) + order-independent
    nano-integer path sums."""
    from kml2geojson_spark.spatial.ops import trajectory_stats
    e = _t(spark, sf, "events")
    x = ((F.col("event_id") * 6361 + 211) % 20000) / 1000.0 - 10.0
    y = ((F.col("event_id") * 4799 + 97) % 16000) / 1000.0 - 8.0
    pts = e.select("user_id", "event_id", x.alias("x"), y.alias("y"))
    return trajectory_stats(pts, "user_id", "event_id")


_O79 = """
WITH pts AS (
  SELECT user_id, event_id,
         ((event_id * 6361 + 211) % 20000) / 1000.0 - 10.0 AS x,
         ((event_id * 4799 + 97) % 16000) / 1000.0 - 8.0 AS y
  FROM events),
steps AS (
  SELECT user_id, event_id, x, y,
         x - LAG(x) OVER (PARTITION BY user_id ORDER BY event_id) AS dx,
         y - LAG(y) OVER (PARTITION BY user_id ORDER BY event_id) AS dy
  FROM pts),
s2 AS (
  SELECT user_id, event_id, x, y,
         COALESCE(CAST(ROUND(sqrt(dx * dx + dy * dy) * 1000000000.0)
                       AS BIGINT), 0) AS step_nano
  FROM steps),
agg AS (
  SELECT user_id, COUNT(*) AS n_points,
         CAST(SUM(step_nano) AS BIGINT) AS path_nano,
         arg_min(x, event_id) AS fx, arg_min(y, event_id) AS fy,
         arg_max(x, event_id) AS lx, arg_max(y, event_id) AS ly
  FROM s2 GROUP BY user_id)
SELECT user_id, n_points, path_nano,
       CAST(ROUND(sqrt((lx - fx) * (lx - fx) + (ly - fy) * (ly - fy))
                  * 1000000000.0) AS BIGINT) AS disp_nano
FROM agg
"""


def _q80_rect_intersection(spark, sf):
    """Rect pairs + exact intersection geometry via the cell-bucket
    candidate join. All three measures are nano-integerized for stable
    hashing: DuckDB folds the rect half-width literals in exact
    DECIMAL, so the raw doubles sit 1 ULP off Spark's."""
    from kml2geojson_spark.spatial.ops import rect_intersection_join
    j = rect_intersection_join(_part_rects(spark, sf), res=6)
    return j.select(
        "rect_a", "rect_b",
        F.round(F.col("inter_w") * 1e9).cast("long").alias("inter_w_nano"),
        F.round(F.col("inter_h") * 1e9).cast("long").alias("inter_h_nano"),
        "inter_area_nano")


_O80 = f"""
WITH rects AS ({_RECTS_SQL}),
p AS (
  SELECT a.rect_id AS rect_a, b.rect_id AS rect_b,
         LEAST(a.east, b.east) - GREATEST(a.west, b.west) AS inter_w,
         LEAST(a.north, b.north) - GREATEST(a.south, b.south) AS inter_h
  FROM rects a JOIN rects b ON a.rect_id < b.rect_id
  WHERE a.west < b.east AND b.west < a.east
    AND a.south < b.north AND b.south < a.north)
SELECT rect_a, rect_b,
       CAST(ROUND(inter_w * 1000000000.0) AS BIGINT) AS inter_w_nano,
       CAST(ROUND(inter_h * 1000000000.0) AS BIGINT) AS inter_h_nano,
       CAST(ROUND(inter_w * inter_h * 1000000000.0) AS BIGINT)
         AS inter_area_nano
FROM p
"""


def _q81_geohash(spark, sf):
    """Interoperable base32 geohash codes for every customer point —
    pure-Column bit interleave + constant-array char lookup (codegen,
    zero Python)."""
    from kml2geojson_spark.spatial.cells import geohash_encode_col
    pts = _customer_points(spark, sf)
    return pts.select("point_id",
                      geohash_encode_col(F.col("x"), F.col("y"), 8)
                      .alias("gh"))


def _o81() -> str:
    from kml2geojson_spark.spatial.cells import geohash_encode_sql
    gh = geohash_encode_sql("x", "y", 8)
    return f"WITH pts AS ({_PTS_SQL}) SELECT point_id, {gh} AS gh FROM pts"


def _q82_pack_sequences(spark, sf):
    """GPT-style concat-and-chunk packing of the documents table into
    256-token context windows (two-phase distributed running sum — no
    single-task window)."""
    from kml2geojson_spark.textops import pack_sequences
    return pack_sequences(_t(spark, sf, "documents"), 256)


_O82 = """
WITH d AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) - n_tokens AS start
  FROM d)
SELECT doc_id, n_tokens, start,
       start // 256 AS bin_id,
       start % 256 AS offset_in_bin,
       ((start + GREATEST(n_tokens, 1) - 1) // 256) - (start // 256) + 1
         AS n_bins
FROM c
"""


def _q83_boilerplate(spark, sf):
    """Cross-document boilerplate fraction from word 4-gram document
    frequencies."""
    from kml2geojson_spark.textops import boilerplate_ngrams
    return boilerplate_ngrams(
        _t(spark, sf, "documents").where(F.col("doc_id") < 200),
        n=4, min_docs=2)


_O83 = """
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 3), ' ')
         AS gram
  FROM toks, LATERAL (
    SELECT unnest(generate_series(1, GREATEST(len(t) - 3, 0))) AS i)),
dfreq AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram)
SELECT g.doc_id, COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS boiler_ratio
FROM grams g JOIN dfreq USING (gram)
GROUP BY g.doc_id
"""


def _q84_containment(spark, sf):
    """Asymmetric n-gram containment pairs (short-doc-inside-long-doc
    dedup) — gram-bucketed self-join, never all-pairs."""
    from kml2geojson_spark.textops import containment_pairs
    return containment_pairs(
        _t(spark, sf, "documents").where(F.col("doc_id") < 100),
        n=8, threshold=0.2)


_O84 = """
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id, substr(text, CAST(i AS INTEGER), 8) AS gram
    FROM docs, LATERAL (
      SELECT unnest(generate_series(1, GREATEST(length(text) - 7, 0))) AS i)
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM grams a JOIN grams b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, n_shared,
       CAST(n_shared AS DOUBLE) / sa.n_grams AS cont_a,
       CAST(n_shared AS DOUBLE) / sb.n_grams AS cont_b
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_shared AS DOUBLE) / sa.n_grams >= 0.2
   OR CAST(n_shared AS DOUBLE) / sb.n_grams >= 0.2
"""




def _q85_pagerank(spark, sf):
    """3-round integer PageRank over the customer→supplier purchase
    graph (supplier ids offset to keep the two key spaces disjoint).
    Pure-BIGINT scores — float PageRank could never hash-match."""
    from kml2geojson_spark.graph import pagerank
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .select(F.col("o_custkey").alias("src"),
                     (F.col("l_suppkey") + 10_000_000).alias("dst")))
    return pagerank(edges, n_iters=3)


def _o85() -> str:
    rounds = []
    prev = "s0"
    for i in (1, 2, 3):
        rounds.append(f"""
c{i} AS (
  SELECT e.dst AS node,
         CAST(SUM((s.score * 850000) // (1000000 * d.out_deg)) AS BIGINT)
           AS cin
  FROM e JOIN deg d ON e.src = d.src JOIN {prev} s ON s.node = e.src
  GROUP BY e.dst),
s{i} AS (
  SELECT n.node, CAST(150000 + COALESCE(c.cin, 0) AS BIGINT) AS score
  FROM nodes n LEFT JOIN c{i} c ON n.node = c.node)""")
        prev = f"s{i}"
    return f"""
WITH e AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
s0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodes),
{",".join(rounds)}
SELECT node, score AS score_micro FROM s3
"""



def _q41_lsh_cosine_topk(spark, sf):
    """Hyperplane-LSH approximate cosine top-k, md5-Rademacher
    hyperplanes (pure Column — zero Python in the plan). Bit-exact vs
    the DuckDB oracle: the ±1 hyperplanes are md5-derived constants
    inlined into the oracle SQL, the sign-bit dot is the same in-order
    double fold (`list_dot_product`), so candidate buckets AND the
    exact cosine re-rank replay identically."""
    from kml2geojson_spark.simsearch import hyperplane_lsh_topk
    emb = _t(spark, sf, "embeddings")
    queries = (emb.where(F.col("vec_id") < 10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    return hyperplane_lsh_topk(emb, queries, 10, dim=64, bits=64, bands=16,
                               hyperplanes="md5") \
        .select("query_id", "neighbor_id", "rank")


def _o41_sql() -> str:
    """Generated oracle for q41: hyperplanes as literal DOUBLE[] rows
    (same md5 derivation as simsearch.rademacher_hyperplanes), band
    buckets by summed sign bits, candidate equi-join on (band, bucket),
    exact cosine re-rank — every float op an in-order fold."""
    from kml2geojson_spark.simsearch import rademacher_hyperplanes
    dim, bits, bands, k = 64, 64, 16, 10
    band_bits = bits // bands
    H = rademacher_hyperplanes(dim, bits, seed=42)
    rows = []
    for j in range(bits):
        arr = ", ".join(str(float(H[i, j])) for i in range(dim))
        rows.append(f"({j // band_bits}, {1 << (j % band_bits)}, [{arr}]::DOUBLE[])")
    hp = ",\n    ".join(rows)
    return f"""
WITH hp(band, w, h) AS (VALUES
    {hp}),
base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < 10),
bb AS (
  SELECT b.vec_id, hp.band,
         SUM(CASE WHEN list_dot_product(b.v, hp.h) > 0 THEN hp.w
                  ELSE 0 END)::BIGINT AS bucket
  FROM base b CROSS JOIN hp GROUP BY b.vec_id, hp.band),
qb AS (
  SELECT t.query_id, hp.band,
         SUM(CASE WHEN list_dot_product(t.v, hp.h) > 0 THEN hp.w
                  ELSE 0 END)::BIGINT AS bucket
  FROM q t CROSS JOIN hp GROUP BY t.query_id, hp.band),
cand AS (
  SELECT DISTINCT qb.query_id, bb.vec_id AS neighbor_id
  FROM bb JOIN qb ON bb.band = qb.band AND bb.bucket = qb.bucket
  WHERE bb.vec_id != qb.query_id),
d AS (
  SELECT c.query_id, c.neighbor_id,
         list_dot_product(bv.v, qv.v)
           / (sqrt(list_dot_product(bv.v, bv.v))
              * sqrt(list_dot_product(qv.v, qv.v))) AS cosine
  FROM cand c
  JOIN base bv ON bv.vec_id = c.neighbor_id
  JOIN q qv ON qv.query_id = c.query_id),
r AS (SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM d)
SELECT query_id, neighbor_id, rank FROM r WHERE rank <= {k}
"""


# -- rows-only (non-SQL-expressible) ----------------------------------------


def _q42_convert_kml(spark, sf):
    """Full engine over a synthesized spans corpus (rows-only: the KML
    parse pipeline is checked against the reference in pytest)."""
    import kml2geojson_spark as k2gs
    docs = k2gs.synthesize_documents_kml(spark, 100, seed=5, max_placemarks=10)
    return k2gs.layer_feature_counts(docs)


def _q43_media_features(spark, sf):
    """Multimodal pipeline with a REAL image decode: media refs
    (derived from the documents table so the oracle can replay them) →
    stub fetch synthesizing true binary PPM payloads (md5-chain pixels)
    → numpy PPM header+pixel decode → exact integer checksums over the
    DECODED pixels. Bit-exact vs the DuckDB oracle, which re-derives
    the same pixel bytes from the md5 chain in SQL. Only the network
    fetch remains stubbed (no network/codecs in the sandbox)."""
    from kml2geojson_spark.multimodal import decode_ppm, fetch_media_stub
    docs = _t(spark, sf, "documents")
    refs = (docs.where(F.col("doc_id") % 5 == 0)
            .select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.concat(F.lit("media/"), F.col("doc_id").cast("string"),
                             F.lit(".ppm")).alias("media_ref"),
                    F.lit("ppm").alias("ext"),
                    F.lit(0).alias("offset")))
    fetched = fetch_media_stub(refs, payload="ppm", width=16, height=16)
    return (decode_ppm(fetched)
            .groupBy("media_ref")
            .agg(F.min("width").alias("width"),
                 F.min("height").alias("height"),
                 F.min("pixel_sum").alias("pixel_sum"),
                 F.min("pixel_wsum").alias("pixel_wsum")))


# 16x16 RGB = 768 pixel bytes = exactly 48 md5 digests; byte p of the
# payload is byte (p % 16) of md5(media_ref || ':' || p // 16) — the
# same chain multimodal._md5_chain builds, decoded by parse_ppm.
_O43 = """
WITH refs AS (
  SELECT 'media/' || CAST(doc_id AS VARCHAR) || '.ppm' AS media_ref
  FROM documents WHERE doc_id % 5 = 0),
chunks AS (
  SELECT media_ref, i,
         md5(media_ref || ':' || CAST(i AS VARCHAR)) AS hx
  FROM refs, generate_series(0, 47) AS t(i)),
bytes AS (
  SELECT media_ref, 16 * i + j AS p,
         (strpos('0123456789abcdef', substr(hx, 2 * j + 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(hx, 2 * j + 2, 1)) - 1) AS b
  FROM chunks, generate_series(0, 15) AS u(j))
SELECT media_ref, 16 AS width, 16 AS height,
       SUM(b)::BIGINT AS pixel_sum,
       SUM((p + 1) * b)::BIGINT AS pixel_wsum
FROM bytes GROUP BY media_ref
"""


def _q44_ivf_topk(spark, sf):
    """IVF-bucketed ANN (rows-only: approximate by design; pytest
    measures recall against the exact baseline). Codebook training is
    sample-then-train (deterministic ~1/2 id-hash sample): the Lloyd
    passes touch only the sample, and the full vector table is scanned
    exactly once — by the final assignment (the 100-TB shape; at sf
    scales the halved sample still gives every centroid hundreds of
    training vectors)."""
    from kml2geojson_spark.simsearch import ivf_topk
    emb = _t(spark, sf, "embeddings")
    queries_df = (emb.where(F.col("vec_id") < 10)
                  .select(F.col("vec_id").alias("query_id"), "embedding"))
    return (ivf_topk(emb, queries_df, 10, n_centroids=16, nprobe=6,
                     train_rate=(1, 2))
            .select("query_id", "neighbor_id", "rank"))


def _q86_triangle_count(spark, sf):
    """Per-node triangle counts over the part co-order graph (two
    parts are linked when some order contains both lineitems).
    Degree-oriented wedge join — hub skew is handled structurally
    (the hot node stops being the join key), not by salting."""
    from kml2geojson_spark.graph import triangle_count
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (a.join(b, "l_orderkey")
             .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
             .select(F.col("a.l_partkey").alias("src"),
                     F.col("b.l_partkey").alias("dst")))
    return triangle_count(edges)


# Oracle enumerates each triangle once by id order a<b<c (the Spark
# side orients by degree — different enumeration, same multiset of
# corner counts).
_O86 = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey),
t AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
corners AS (
  SELECT a AS node FROM t
  UNION ALL SELECT b FROM t
  UNION ALL SELECT c FROM t)
SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY node
"""


_FUNNEL_STAGES = ["signup", "view", "click", "purchase"]


def _q87_funnel(spark, sf):
    """Ordered-funnel completion over the events table: earliest
    strictly-after completion per stage, per-stage shrinking frontier
    joins (eventops.funnel_counts)."""
    from kml2geojson_spark.eventops import funnel_counts
    return funnel_counts(_t(spark, sf, "events"), _FUNNEL_STAGES)


def _o87() -> str:
    ctes = ["s0 AS (SELECT user_id AS u, MIN(ts) AS r FROM events "
            f"WHERE event_type = '{_FUNNEL_STAGES[0]}' GROUP BY user_id)"]
    for i, stage in enumerate(_FUNNEL_STAGES[1:], start=1):
        ctes.append(
            f"s{i} AS (SELECT e.user_id AS u, MIN(e.ts) AS r FROM events e "
            f"JOIN s{i - 1} p ON e.user_id = p.u "
            f"WHERE e.event_type = '{stage}' AND e.ts > p.r "
            f"GROUP BY e.user_id)")
    selects = [
        f"SELECT {i} AS stage_idx, '{stage}' AS stage, "
        f"(SELECT COUNT(*) FROM s{i}) AS n_users"
        for i, stage in enumerate(_FUNNEL_STAGES)]
    return ("WITH " + ", ".join(ctes) + " "
            + " UNION ALL ".join(selects))


def _q88_od_matrix(spark, sf):
    """Origin-destination flow matrix over per-user event trajectories
    (positions derived deterministically from event ids, 30-degree
    grid cells)."""
    from kml2geojson_spark.eventops import od_matrix
    e = _t(spark, sf, "events")
    x = ((F.col("event_id") * 9301 + 49297) % 36000) / 100.0 - 180.0
    y = ((F.col("event_id") * 7919 + 104729) % 17000) / 100.0 - 85.0
    pts = e.select("event_id", "user_id", x.alias("x"), y.alias("y"))
    return od_matrix(pts, cell_size=30.0)


_O88 = """
WITH pts AS (
  SELECT event_id, user_id,
         ((event_id * 9301 + 49297) % 36000) / 100.0 - 180.0 AS x,
         ((event_id * 7919 + 104729) % 17000) / 100.0 - 85.0 AS y
  FROM events),
lagged AS (
  SELECT user_id,
         CAST(FLOOR(x / 30.0) AS BIGINT) AS to_cx,
         CAST(FLOOR(y / 30.0) AS BIGINT) AS to_cy,
         LAG(CAST(FLOOR(x / 30.0) AS BIGINT)) OVER w AS from_cx,
         LAG(CAST(FLOOR(y / 30.0) AS BIGINT)) OVER w AS from_cy
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
SELECT from_cx, from_cy, to_cx, to_cy, COUNT(*) AS n_trips
FROM lagged WHERE from_cx IS NOT NULL
GROUP BY from_cx, from_cy, to_cx, to_cy
"""


def _q89_cohort_retention(spark, sf):
    """Weekly cohort-retention triangle over the events table (date
    arithmetic on TIMESTAMP_NTZ — session-timezone independent)."""
    from kml2geojson_spark.eventops import cohort_retention
    return cohort_retention(_t(spark, sf, "events"))


_O89 = """
WITH ev AS (
  SELECT user_id AS u,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
  FROM events),
first AS (SELECT u, MIN(day) AS fd FROM ev GROUP BY u)
SELECT CAST(fd // 7 AS BIGINT) AS cohort_period,
       CAST(day // 7 - fd // 7 AS BIGINT) AS period_offset,
       COUNT(DISTINCT ev.u) AS n_users
FROM ev JOIN first ON ev.u = first.u
GROUP BY 1, 2
"""


def _q90_group_outliers(spark, sf):
    """Per-event-type z-score outlier counts in pure BIGINT arithmetic
    (floor-division mean/variance — partial-agg-order independent,
    hash-exact on both engines)."""
    from kml2geojson_spark.eventops import group_outlier_stats
    return (group_outlier_stats(_t(spark, sf, "events"))
            .withColumnRenamed("group", "grp"))


_O90 = """
WITH d AS (
  SELECT event_type AS grp, CAST(ROUND(value * 1000.0) AS BIGINT) AS vm
  FROM events),
st AS (
  SELECT grp, COUNT(*) AS n, CAST(SUM(vm) AS BIGINT) AS s,
         CAST(SUM(vm * vm) AS BIGINT) AS s2
  FROM d GROUP BY grp),
st2 AS (
  SELECT grp, n, s // n AS mean_milli,
         (s2 // n) - (s // n) * (s // n) AS var_milli2
  FROM st)
SELECT d.grp, n, mean_milli,
       CAST(SUM(CASE WHEN (vm - mean_milli) * (vm - mean_milli) * 1000000
                          > 4000000 * var_milli2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM d JOIN st2 USING (grp)
GROUP BY d.grp, n, mean_milli
"""


def _q91_skyline(spark, sf):
    """2-D Pareto skyline (minimize both coords) over deterministic
    integer points — two-phase bucketed prefix-min, never a global
    sort (relational.skyline2d)."""
    from kml2geojson_spark.relational import skyline2d
    c = _t(spark, sf, "customer")
    pts = c.select(((F.col("c_custkey") * 9301 + 49297) % 36000).alias("x"),
                   ((F.col("c_custkey") * 7919 + 104729) % 17000).alias("y"))
    return skyline2d(pts)


# Oracle uses the independent NOT-EXISTS dominance formulation.
_O91 = """
WITH p AS (
  SELECT DISTINCT (c_custkey * 9301 + 49297) % 36000 AS x,
                  (c_custkey * 7919 + 104729) % 17000 AS y
  FROM customer)
SELECT x, y FROM p
WHERE NOT EXISTS (
  SELECT 1 FROM p q
  WHERE q.x <= p.x AND q.y <= p.y AND (q.x < p.x OR q.y < p.y))
"""


def _q92_hilbert_counts(spark, sf):
    """Hilbert-curve cell counts (the locality-preserving layout key —
    consecutive keys are always grid-adjacent, so range-partitioning by
    this column gives compact partition footprints). Pure-Column
    unrolled state machine, one shuffle."""
    from kml2geojson_spark.spatial.hilbert import hilbert_encode
    pts = _customer_points(spark, sf)
    return (hilbert_encode(pts, "x", "y", 12, out="hcell")
            .groupBy("hcell").agg(F.count(F.lit(1)).alias("n_points")))


def _o92() -> str:
    from kml2geojson_spark.spatial.hilbert import hilbert_cte_sql
    inner = hilbert_cte_sql(f"({_PTS_SQL})", "x", "y", 12, "point_id")
    return (f"SELECT hcell, COUNT(*) AS n_points FROM ({inner}) "
            f"GROUP BY hcell")


def _q93_surprisal(spark, sf):
    """Corpus unigram surprisal per document (milli-nat integerized
    per token — order-independent integer sums)."""
    from kml2geojson_spark.textops import unigram_surprisal
    return unigram_surprisal(_t(spark, sf, "documents"))


_O93 = """
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
    FROM documents) WHERE tok != ''),
freq AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
total AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM freq),
pt AS (
  SELECT tok, CAST(ROUND(LN(CAST(total AS DOUBLE) / tf) * 1000.0)
              AS BIGINT) AS sm
  FROM freq, total)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(sm) AS BIGINT) AS surprisal_sum_milli,
       CAST(SUM(sm) AS BIGINT) // COUNT(*) AS mean_surprisal_milli
FROM toks JOIN pt USING (tok) GROUP BY doc_id
"""


_BM25_TERMS = ["query", "join", "fast"]


def _q94_bm25(spark, sf):
    """BM25 retrieval scores against a fixed term bag (milli-score
    integerized per (doc, term) contribution)."""
    from kml2geojson_spark.textops import bm25_scores
    return bm25_scores(_t(spark, sf, "documents"), _BM25_TERMS)


def _o94() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
    FROM documents) WHERE tok != ''),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
          FROM dl),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
       WHERE tok IN ({terms}) GROUP BY doc_id, tok),
idf AS (
  SELECT tok,
         LN((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf,
         CAST(sum_dl AS DOUBLE) / n_docs AS avgdl
  FROM (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok), stats)
SELECT doc_id, CAST(SUM(c_milli) AS BIGINT) AS bm25_milli FROM (
  SELECT tf.doc_id,
         CAST(ROUND(idf * ((tf * (1.2 + 1.0))
              / (tf + 1.2 * (1.0 - 0.75 + 0.75
                 * (CAST(dl.dl AS DOUBLE) / avgdl)))) * 1000.0)
              AS BIGINT) AS c_milli
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
  JOIN idf ON tf.tok = idf.tok)
GROUP BY doc_id
"""


def _q95_span_stats(spark, sf):
    """Interleaving statistics over a spans table derived
    deterministically from the documents table (text split in half;
    every third doc gets a media span between the halves — the
    input_hint's interleaved shape). The operator folds the span
    arrays; the oracle computes the same statistics analytically from
    the derivation, so any fold bug breaks the hash."""
    from kml2geojson_spark.multimodal import span_mix_stats
    d = (_t(spark, sf, "documents")
         .select("doc_id", "text",
                 F.expr("CAST(length(text) / 2 AS INT)").alias("h")))
    t1 = F.struct(F.lit("text").alias("kind"),
                  F.expr("substring(text, 1, h)").alias("text"),
                  F.lit(None).cast("string").alias("media_ref"),
                  F.lit(0).alias("offset"))
    t2 = F.struct(F.lit("text").alias("kind"),
                  F.expr("substring(text, h + 1)").alias("text"),
                  F.lit(None).cast("string").alias("media_ref"),
                  F.col("h").alias("offset"))
    m = F.struct(F.lit("media").alias("kind"), F.lit("").alias("text"),
                 F.concat(F.lit("m"), F.col("doc_id")).alias("media_ref"),
                 F.col("h").alias("offset"))
    spans = F.when(F.col("doc_id") % 3 == 0,
                   F.array(t1, m, t2)).otherwise(F.array(t1, t2))
    return span_mix_stats(d.select("doc_id", spans.alias("spans")))


_O95 = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS n_spans,
       CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS n_media,
       CAST(LENGTH(text) AS BIGINT) AS text_chars,
       CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 0 END AS n_transitions
FROM documents
"""


def _q96_pmi_bigrams(spark, sf):
    """Adjacent-bigram PMI collocations (milli-nat integerized, exact
    integer counting, linear-in-tokens bigram generation)."""
    from kml2geojson_spark.textops import pmi_bigrams
    return pmi_bigrams(_t(spark, sf, "documents"), min_count=5)


_O96 = """
WITH dt AS (
  SELECT list_filter(string_split(lower(text), ' '), t -> t != '') AS toks
  FROM documents),
uni AS (SELECT unnest(toks) AS tok FROM dt),
uc AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
nu AS (SELECT COUNT(*) AS n_uni FROM uni),
big AS (
  SELECT toks[CAST(i AS INTEGER)] AS tok_a,
         toks[CAST(i AS INTEGER) + 1] AS tok_b
  FROM dt, UNNEST(range(1, len(toks))) AS u(i)),
nb AS (SELECT COUNT(*) AS n_bi FROM big),
bc AS (SELECT tok_a, tok_b, COUNT(*) AS n_ab FROM big
       GROUP BY tok_a, tok_b HAVING COUNT(*) >= 5)
SELECT tok_a, tok_b, n_ab,
       CAST(ROUND(LN((CAST(n_ab AS DOUBLE) * n_uni * n_uni)
            / (CAST(n_bi AS DOUBLE) * ca.c * cb.c)) * 1000.0) AS BIGINT)
         AS pmi_milli
FROM bc
JOIN uc ca ON bc.tok_a = ca.tok
JOIN uc cb ON bc.tok_b = cb.tok, nu, nb
"""


def _q97_common_neighbors(spark, sf):
    """Jaccard of supplier neighborhoods for customer pairs (bipartite
    common-neighbor similarity) — pure-integer milli-Jaccard."""
    from kml2geojson_spark.graph import common_neighbor_similarity
    li = (_t(spark, sf, "lineitem").where(F.col("l_suppkey") <= 20)
          .select("l_orderkey", "l_suppkey"))
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .select(F.col("o_custkey").alias("src"),
                     F.col("l_suppkey").alias("dst")))
    return common_neighbor_similarity(edges, min_common=2)


_O97 = """
WITH e AS (
  SELECT DISTINCT o_custkey AS l, l_suppkey AS r
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_suppkey <= 20),
deg AS (SELECT l, COUNT(*) AS d FROM e GROUP BY l),
p AS (SELECT a.l AS node_a, b.l AS node_b, COUNT(*) AS n_common
      FROM e a JOIN e b ON a.r = b.r AND a.l < b.l
      GROUP BY a.l, b.l HAVING COUNT(*) >= 2)
SELECT node_a, node_b, n_common,
       (1000 * n_common) // (da.d + db.d - n_common) AS jaccard_milli
FROM p JOIN deg da ON node_a = da.l JOIN deg db ON node_b = db.l
"""


def _q98_incremental_tiles(spark, sf):
    """Incremental tile maintenance: base + delta partial tile counts
    merged by sum must equal the full recompute (the oracle IS the
    full recompute — q10's)."""
    from kml2geojson_spark.spatial import encode_points
    from kml2geojson_spark.spatial.ops import merge_tile_counts
    pts = _customer_points(spark, sf)
    base = pts.where(F.col("point_id") % 10 != 0)
    delta = pts.where(F.col("point_id") % 10 == 0)

    def counts(df):
        return (encode_points(df, 9).groupBy("cell_id")
                .agg(F.count(F.lit(1)).alias("n_points")))

    return merge_tile_counts([counts(base), counts(delta)])


def _q99_bbox_prune(spark, sf):
    """Bbox query through the compacted cell-index cover (pruning-key
    pattern) — row-identical to the brute half-open bbox filter."""
    from kml2geojson_spark.spatial.ops import bbox_prune_filter
    pts = _customer_points(spark, sf)
    return bbox_prune_filter(pts, west=-60.0, south=-30.0, east=55.0,
                             north=42.0, res=8).select("point_id")


_O99 = f"""
SELECT point_id FROM ({_PTS_SQL})
WHERE x >= -60.0 AND x < 55.0 AND y >= -30.0 AND y < 42.0
"""


def _q100_mutual_knn(spark, sf):
    """Mutual k-NN graph over the embeddings table (exact baseline;
    the IVF method is the scale path, recall-tested in pytest)."""
    from kml2geojson_spark.simsearch import mutual_knn_edges
    return mutual_knn_edges(_t(spark, sf, "embeddings"), 5)


_O100 = """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
d AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_dot_product(b.v, q.v)
           / (sqrt(list_dot_product(b.v, b.v))
              * sqrt(list_dot_product(q.v, q.v))) AS cosine
  FROM base b CROSS JOIN base q WHERE b.vec_id != q.vec_id),
r AS (SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id ASC)
               AS rank
      FROM d),
topk AS (SELECT * FROM r WHERE rank <= 5)
SELECT f.query_id AS vec_a, f.neighbor_id AS vec_b,
       f.rank AS rank_ab, g.rank AS rank_ba
FROM topk f JOIN topk g
  ON f.query_id = g.neighbor_id AND f.neighbor_id = g.query_id
WHERE f.query_id < f.neighbor_id
"""


def _q101_cube(spark, sf):
    """OLAP CUBE (all grouping-set combinations in one Expand + hash
    aggregate — completes the rollup/pivot/cube trio)."""
    li = _t(spark, sf, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.grouping("l_returnflag").cast("long").alias("g_flag"),
                 F.grouping("l_linestatus").cast("long").alias("g_status"),
                 F.count(F.lit(1)).alias("n_rows"),
                 F.round(F.sum(F.col("l_extendedprice") * 100.0))
                 .cast("long").alias("price_c"))
            .select("l_returnflag", "l_linestatus", "g_flag", "g_status",
                    "n_rows", "price_c"))


_O101 = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(l_extendedprice * 100.0)) AS BIGINT) AS price_c
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
"""


def _q102_moving_window(spark, sf):
    """Per-user moving aggregate: trailing-5-event sum of integerized
    values (a PARTITIONED rows-frame window — never a global sort)."""
    e = _t(spark, sf, "events")
    w = (Window.partitionBy("user_id").orderBy("event_id")
         .rowsBetween(-4, Window.currentRow))
    vc = F.round(F.col("value") * 100.0).cast("long")
    return (e.select("event_id", "user_id", vc.alias("v_c"))
            .withColumn("trail5_c", F.sum("v_c").over(w)))


_O102 = """
SELECT event_id, user_id,
       CAST(ROUND(value * 100.0) AS BIGINT) AS v_c,
       CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY event_id
         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail5_c
FROM events
"""


def _q103_fuzzy_pairs(spark, sf):
    """Typo-level fuzzy match: all customer-name pairs at Levenshtein
    distance <= 1 via the deletion-neighborhood (SymSpell) candidate
    join — provably complete for d<=1, never all-pairs."""
    from kml2geojson_spark.textops import edit_distance_pairs
    return edit_distance_pairs(_t(spark, sf, "customer"), col="c_name")


_O103 = """
WITH w AS (SELECT DISTINCT c_name FROM customer WHERE c_name IS NOT NULL)
SELECT a.c_name AS name_a, b.c_name AS name_b
FROM w a JOIN w b ON a.c_name < b.c_name
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


def _q104_merge_intervals(spark, sf):
    """Gaps-and-islands: merge each supplier's overlapping-or-touching
    [shipdate, receiptdate] intervals into maximal coverage islands —
    one shuffle on the key (window partition = final groupBy key, no
    second exchange). Dates are emitted as epoch-day integers so the
    hash compare is engine-neutral."""
    from kml2geojson_spark.eventops import merge_intervals
    # integer epoch-day endpoints (timezone-free: NTZ microsecond diff,
    # the q17 pattern); interval length is quantity-derived since the
    # synthetic lineitem has no receipt date
    start_day = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        "l_shipdate) div 86400000000")
    li = _t(spark, sf, "lineitem").select(
        F.col("l_suppkey").alias("key"),
        start_day.alias("start"),
        (start_day + (F.col("l_quantity") % 14).cast("int") + 1).alias("end"))
    out = merge_intervals(li)
    return out.select(
        "key",
        F.col("island_start").alias("start_day"),
        F.col("island_end").alias("end_day"),
        "n_intervals")


_O104 = """
WITH iv AS (
  SELECT l_suppkey AS key,
         epoch_us(l_shipdate) // 86400000000 AS s,
         epoch_us(l_shipdate) // 86400000000
           + CAST(l_quantity % 14 AS INT) + 1 AS e,
         l_orderkey AS u1, l_linenumber AS u2
  FROM lineitem),
flagged AS (
  SELECT key, s, e, u1, u2,
         CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS ni
  FROM (SELECT key, s, e, u1, u2,
               MAX(e) OVER (PARTITION BY key ORDER BY s, e, u1, u2
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pme
        FROM iv)),
isl AS (
  SELECT key, s, e,
         SUM(ni) OVER (PARTITION BY key ORDER BY s, e, u1, u2
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS island
  FROM flagged)
SELECT key,
       MIN(s)::BIGINT AS start_day,
       MAX(e)::BIGINT AS end_day,
       COUNT(*)::BIGINT AS n_intervals
FROM isl GROUP BY key, island
"""
# The (u1, u2) = (l_orderkey, l_linenumber) tiebreaker makes the
# window ORDER BY a TOTAL order. Without it the flag pass and the
# running-sum pass are two separate window sorts, and an engine may
# order duplicate (s, e) rows DIFFERENTLY in each: an ni=0 flag
# computed behind its twin in pass 1 can land ahead of the twin's
# ni=1 in pass 2, splicing the island boundary one row early
# (observed intermittently in DuckDB at sf0.1, key 62's duplicated
# (10347, 10349) pair; the merged result itself is tie-order
# invariant, so Spark — which evaluates both functions over ONE
# sort — was stable and correct all along).


def _q105_asof_forward(spark, sf):
    """Forward as-of join: each purchase event gets the same user's
    FIRST click at or after it (next-event attribution — the mirror of
    q17's backward direction, same cogrouped merge_asof kernel)."""
    from kml2geojson_spark.asof import asof_join
    e = _t(spark, sf, "events")
    purchases = (e.where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id"), F.col("ts")))
    clicks = (e.where(F.col("event_type") == "click")
              .select(F.col("user_id"), F.col("ts"),
                      F.col("event_id").alias("click_id")))
    out = asof_join(purchases, clicks, key="user_id",
                    left_ts="ts", right_ts="ts", direction="forward")
    gap = F.expr("timestampdiff(MICROSECOND, ts, r_ts)")
    return out.select("purchase_id", "user_id",
                      F.col("r_click_id").alias("click_id"),
                      gap.alias("gap_us"))


_O105 = """
WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT event_id AS click_id, user_id, ts FROM events
      WHERE event_type = 'click'),
j AS (
  SELECT p.purchase_id, p.user_id, c.click_id,
         epoch_us(c.ts) - epoch_us(p.ts) AS gap_us,
         ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.ts ASC, c.click_id ASC) AS rn
  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts >= p.ts
)
SELECT purchase_id, user_id, click_id, gap_us FROM j WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Round-5 registrations: the operators staged (implemented + oracle-verified
# in tests/test_round5_staged.py) during round 4. Each oracle below is the
# SAME SQL the staged tests assert against, with BIGINT casts on aggregates
# so the DuckDB frame round-trips to pandas integers.
# ---------------------------------------------------------------------------

def _q106_sessionize_batch(spark, sf):
    """Batch sessionization (30-min gap rule) — the batch twin of the
    streaming sessionizer (q08): one shuffle on the user key, the
    session aggregate reuses the window partitioning (single Exchange,
    plan-asserted in tests). Session bounds are emitted as epoch
    seconds so the cross-engine hash never touches a timestamp."""
    from kml2geojson_spark.eventops import sessionize_batch
    out = sessionize_batch(_t(spark, sf, "events"), gap_seconds=1800)
    return out.select(
        "user_id", F.col("session_idx").cast("long").alias("session_idx"),
        F.unix_timestamp("session_start").alias("start_sec"),
        F.unix_timestamp("session_end").alias("end_sec"), "n_events")


_O106 = """
WITH e AS (
  SELECT user_id AS _u, ts AS _t, event_id AS _eid,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                   OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS _new
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT _u, _t,
         SUM(_new) OVER (PARTITION BY _u ORDER BY _t, _eid
                         ROWS UNBOUNDED PRECEDING) AS _sess
  FROM e)
SELECT _u AS user_id, CAST(_sess AS BIGINT) AS session_idx,
       CAST(floor(epoch(MIN(_t))) AS BIGINT) AS start_sec,
       CAST(floor(epoch(MAX(_t))) AS BIGINT) AS end_sec,
       COUNT(*) AS n_events
FROM s GROUP BY _u, _sess
"""
# The event_id tiebreaker totalizes both window ORDER BYs — same
# two-pass re-sort hazard as _O104: the flag CTE and the running-sum
# CTE are separate window sorts, and duplicate (user_id, ts) rows
# carrying (_new=1, _new=0) can swap between passes, splicing a
# session boundary (semantics are tie-invariant; only the replay's
# independent sorts can disagree). Spark evaluates both functions
# over ONE sort, so sessionize_batch itself needs no tiebreak.


def _q107_weighted_sample(spark, sf):
    """Deterministic weighted sample without replacement (Efraimidis–
    Spirakis A-Res, md5-uniform keys): plans as TakeOrderedAndProject —
    per-partition top-k heap, never a global sort."""
    from kml2geojson_spark.sketch import weighted_sample
    return weighted_sample(_t(spark, sf, "documents"), 200,
                           weight_col="n_chars", id_col="doc_id")


def _o107() -> str:
    from kml2geojson_spark.sketch import weighted_sample_sql
    return weighted_sample_sql("doc_id", "n_chars", "documents", 200)


def _q108_lang_hll(spark, sf):
    """Grouped HLL distinct-text estimate per language — the sketch
    (md5 registers, q51) composed with the integer-scaled estimator
    (q56) over the documents table: per-partition registers collapse
    to |langs|·2^p cells before the one exchange."""
    from kml2geojson_spark.sketch import hll_estimate, hll_registers
    regs = hll_registers(_t(spark, sf, "documents"), "text",
                         group_cols=["lang"], p=8)
    return hll_estimate(regs, group_cols=["lang"], p=8)


def _o108() -> str:
    from kml2geojson_spark.sketch import hll_estimate_sql
    return hll_estimate_sql("text", "documents", group_cols=["lang"], p=8)


def _q109_cell_smooth(spark, sf):
    """k-ring box smoothing of the q10 cell-count raster (radius-1
    heatmap kernel): literal (dx,dy) offset explode + Morton re-encode,
    zero Python, one hash-aggregate shuffle with map-side combine."""
    from kml2geojson_spark.spatial import encode_points
    from kml2geojson_spark.spatial.ops import cell_smooth
    counts = (encode_points(_customer_points(spark, sf), 9)
              .groupBy("cell_id").agg(F.count(F.lit(1)).alias("n")))
    return cell_smooth(counts, 9, 1)


def _o109() -> str:
    n = 1 << 9
    gx, gy = _grid_sql("x", "y", 9)
    return (
        f"WITH pts AS ({_PTS_SQL}), "
        f"pg AS (SELECT {gx} AS cx, {gy} AS cy FROM pts), "
        "cnt AS (SELECT cx, cy, COUNT(*) AS smoothed FROM pg GROUP BY cx, cy), "
        "offs AS (SELECT t1.dx, t2.dy FROM range(-1,2) t1(dx), "
        "range(-1,2) t2(dy)), "
        f"sc AS (SELECT ((cx + dx) % {n} + {n}) % {n} AS gx, cy + dy AS gy, "
        "smoothed FROM cnt, offs "
        f"WHERE cy + dy >= 0 AND cy + dy < {n}), "
        "g AS (SELECT gx, gy, SUM(smoothed) AS smoothed FROM sc "
        "GROUP BY gx, gy)"
        + _morton_ctes("smoothed", 9, "g")
        + " SELECT cell_id, CAST(smoothed AS BIGINT) AS smoothed FROM enc")


def _q110_pip_anti(spark, sf):
    """Geofence exclusion: points inside NO nation diamond — the exact
    complement of q11 under the identical ray-cast rule (cell-bucket
    candidates, then one LEFT ANTI hash join on the matched ids)."""
    from kml2geojson_spark.spatial.ops import pip_anti_join
    return pip_anti_join(_customer_points(spark, sf),
                         _nation_diamonds(spark, sf), 6)


_O110 = f"""
WITH polys AS ({_POLY_SQL}),
edges AS (
  SELECT poly_id,
         cx + dx1 * r AS x1, cy + dy1 * r AS y1,
         cx + dx2 * r AS x2, cy + dy2 * r AS y2
  FROM polys CROSS JOIN (VALUES
    (1.0, 0.0, 0.0, 1.0), (0.0, 1.0, -1.0, 0.0),
    (-1.0, 0.0, 0.0, -1.0), (0.0, -1.0, 1.0, 0.0)
  ) AS d(dx1, dy1, dx2, dy2)
),
pts AS ({_PTS_SQL}),
crossings AS (
  SELECT p.point_id, e.poly_id,
         CASE WHEN ((e.y1 > p.y) != (e.y2 > p.y))
               AND (p.x < (e.x2 - e.x1) * (p.y - e.y1) / (e.y2 - e.y1) + e.x1)
              THEN 1 ELSE 0 END AS c
  FROM pts p CROSS JOIN edges e
),
inside AS (
  SELECT point_id FROM crossings
  GROUP BY point_id, poly_id HAVING SUM(c) % 2 = 1
)
SELECT point_id, x, y FROM pts
WHERE point_id NOT IN (SELECT point_id FROM inside)
"""


def _q111_gapfill(spark, sf):
    """Dense zero-filled daily event counts per type (the hypertable
    time_bucket_gapfill): raw rows collapse through one (group, bucket)
    hash-aggregate first; the dense grid is a per-group sequence
    explode of ONE row per group."""
    from kml2geojson_spark.eventops import time_bucket_gapfill
    return time_bucket_gapfill(_t(spark, sf, "events"),
                               bucket_seconds=86400)


_O111 = """
WITH e AS (
  SELECT event_type AS g, CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
c AS (SELECT g, s - (((s % 86400) + 86400) % 86400) AS b, COUNT(*) AS n
      FROM e GROUP BY 1, 2),
r AS (SELECT g, MIN(b) AS lo, MAX(b) AS hi FROM c GROUP BY g),
grid AS (SELECT g, unnest(generate_series(lo, hi, 86400)) AS b FROM r)
SELECT grid.g AS event_type, CAST(grid.b AS BIGINT) AS bucket_sec,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
FROM grid LEFT JOIN c ON grid.g = c.g AND grid.b = c.b
"""


def _q112_transitions(spark, sf):
    """First-order Markov transition counts over per-user event
    streams, with exact integer parts-per-million probabilities (no
    float ever materializes): one user-key shuffle for the lag window,
    then the normalizing window runs on the tiny |types|² frame."""
    from kml2geojson_spark.eventops import event_transition_counts
    return event_transition_counts(_t(spark, sf, "events"))


_O112 = """
WITH e AS (
  SELECT event_type AS c,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS p
  FROM events WHERE ts IS NOT NULL),
pr AS (SELECT p, c, COUNT(*) AS n_trans FROM e WHERE p IS NOT NULL
       GROUP BY p, c)
SELECT p AS prev_type, c AS next_type, n_trans,
       CAST((n_trans * 1000000) // SUM(n_trans) OVER (PARTITION BY p)
            AS BIGINT) AS ppm
FROM pr
"""


def _q113_label_centroids(spark, sf):
    """Per-label embedding centroids in exact integer micro-units
    (floor-integerized per row, BIGINT sums, truncating division —
    partial-aggregation order cannot perturb the result): posexplode
    is a narrow map, then ONE (label, dim) hash-aggregate."""
    from kml2geojson_spark.simsearch import label_centroids
    return label_centroids(_t(spark, sf, "embeddings"))


def _o113() -> str:
    from kml2geojson_spark.simsearch import label_centroids_sql
    return label_centroids_sql()


def _q114_histogram(spark, sf):
    """Exact fixed-width histogram with all bins present (zero-filled):
    one filter + one ≤n_bins-cell hash-aggregate, then a broadcast
    left join against the tiny range frame."""
    from kml2geojson_spark.relational import histogram1d
    return histogram1d(_t(spark, sf, "events"), value_col="value",
                       lo=0.0, hi=100.0, n_bins=20)


_O114 = """
WITH v AS (SELECT CAST(value AS DOUBLE) AS v FROM events
           WHERE value IS NOT NULL AND value >= 0.0 AND value <= 100.0),
b AS (SELECT CASE WHEN CAST(floor((v - 0.0) / 5.0) AS BIGINT) >= 20 THEN 19
                  ELSE CAST(floor((v - 0.0) / 5.0) AS BIGINT) END AS bin
      FROM v),
c AS (SELECT bin, COUNT(*) AS n FROM b GROUP BY bin)
SELECT CAST(r.range AS BIGINT) AS bin, 0.0 + r.range * 5.0 AS bin_lo,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS n
FROM range(20) r LEFT JOIN c ON r.range = c.bin
"""


def _q115_weighted_median(spark, sf):
    """Exact quantity-weighted median price per return flag: weights
    integerized to milli-units so the half-mass test is pure BIGINT;
    ONE shuffle on the group key shared by both windows and the final
    aggregate (plan-asserted single Exchange in tests)."""
    from kml2geojson_spark.relational import weighted_median
    li = (_t(spark, sf, "lineitem")
          .withColumn("lid", F.col("l_orderkey") * 100
                      + F.col("l_linenumber")))
    return weighted_median(li, group_col="l_returnflag",
                           value_col="l_extendedprice",
                           weight_col="l_quantity", id_col="lid")


_O115 = """
WITH d0 AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v,
         l_orderkey * 100 + l_linenumber AS i,
         CAST(ROUND(CAST(l_quantity AS DOUBLE) * 1000.0) AS BIGINT) AS wm
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
d AS (SELECT * FROM d0 WHERE wm > 0),
c AS (
  SELECT g, v, i, wm,
         SUM(wm) OVER (PARTITION BY g ORDER BY v, i
                       ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(wm) OVER (PARTITION BY g) AS tot
  FROM d),
q AS (
  SELECT g, v, CAST(tot AS BIGINT) AS tot,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY v, i) AS rn
  FROM c WHERE cum * 2 >= tot)
SELECT g AS l_returnflag, v AS median, tot AS total_weight_milli
FROM q WHERE rn = 1
"""


def _q116_polygon_centroid(spark, sf):
    """Shoelace area-weighted centroid of each nation diamond,
    micro-rounded for the cross-engine hash: a narrow per-row fold
    over the vertex array — no shuffle, no join, no Python
    (plan-asserted in tests)."""
    from kml2geojson_spark.spatial.ops import polygon_centroid
    out = polygon_centroid(_nation_diamonds(spark, sf))
    return out.select(
        "poly_id",
        F.round(F.col("cx") * 1e6).cast("long").alias("cx_micro"),
        F.round(F.col("cy") * 1e6).cast("long").alias("cy_micro"),
        F.round(F.col("area2") * 1e6).cast("long").alias("area2_micro"))


_O116 = f"""
WITH polys AS ({_POLY_SQL}),
verts AS (
  SELECT poly_id,
         cx + dx1 * r AS x1, cy + dy1 * r AS y1,
         cx + dx2 * r AS x2, cy + dy2 * r AS y2
  FROM polys CROSS JOIN (VALUES
    (1.0, 0.0, 0.0, 1.0), (0.0, 1.0, -1.0, 0.0),
    (-1.0, 0.0, 0.0, -1.0), (0.0, -1.0, 1.0, 0.0)
  ) AS d(dx1, dy1, dx2, dy2)
)
SELECT poly_id,
       CAST(ROUND(SUM((x1 + x2) * (x1 * y2 - x2 * y1))
                  / (3.0 * SUM(x1 * y2 - x2 * y1)) * 1e6) AS BIGINT)
           AS cx_micro,
       CAST(ROUND(SUM((y1 + y2) * (x1 * y2 - x2 * y1))
                  / (3.0 * SUM(x1 * y2 - x2 * y1)) * 1e6) AS BIGINT)
           AS cy_micro,
       CAST(ROUND(SUM(x1 * y2 - x2 * y1) * 1e6) AS BIGINT) AS area2_micro
FROM verts GROUP BY poly_id
"""


def _q117_group_mode(spark, sf):
    """Deterministic per-user modal event type (ties → smallest value,
    so the result is engine-portable unlike built-in mode()): raw rows
    collapse through one (group, value) hash-aggregate before the
    ranking window runs on the aggregated frame."""
    from kml2geojson_spark.relational import group_mode
    return group_mode(_t(spark, sf, "events"), group_col="user_id",
                      value_col="event_type")


_O117 = """
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS n
  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
  GROUP BY user_id, event_type),
r AS (
  SELECT user_id, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type ASC) AS rn
  FROM c)
SELECT user_id, event_type AS mode, n FROM r WHERE rn = 1
"""


def _q118_passage_dedup(spark, sf):
    """Passage-level exact dedup (C4/RefinedWeb-style, one level below
    document dedup): fixed 2-token passages on the synthetic corpus so
    cross-document repeats actually occur; pure-Column chunk → md5 →
    one hash-aggregate. Registered round 5 post-pin: in-repo oracle
    sweep only (BENCH/ORACLE_SWEEP), no driver CORRECTNESS row."""
    from kml2geojson_spark.textops import passage_dedup
    return passage_dedup(_t(spark, sf, "documents"), window=2)


_O118 = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents WHERE text IS NOT NULL),
ix AS (
  SELECT doc_id, t,
         unnest(generate_series(0, (len(t) + 1) // 2 - 1)) AS i
  FROM toks),
h AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(t, i * 2 + 1, i * 2 + 2), ' '))
             AS passage_hash
  FROM ix)
SELECT passage_hash, COUNT(*) AS n_dups,
       COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS keeper_doc
FROM h GROUP BY passage_hash HAVING COUNT(*) > 1
"""


def _q119_lang_profile(spark, sf):
    """Per-language character-trigram frequency profile (top 8 per
    language, ties gram-asc) — the training table for the n-gram
    language guesser (q23). One (lang, gram) hash-aggregate; the
    ranking window runs on the aggregated frame. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.textops import lang_ngram_profile
    return lang_ngram_profile(_t(spark, sf, "documents"), n=3, k=8)


_O119 = """
WITH d AS (
  SELECT lang, text FROM documents
  WHERE lang IS NOT NULL AND text IS NOT NULL),
g AS (
  SELECT lang, substr(text, CAST(i AS INTEGER), 3) AS gram
  FROM d, unnest(generate_series(1, length(text) - 2)) AS u(i)),
c AS (
  SELECT lang, gram, COUNT(*) AS n_occurrences
  FROM g GROUP BY lang, gram),
r AS (
  SELECT lang, gram, n_occurrences,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_occurrences DESC, gram ASC) AS rank
  FROM c)
SELECT lang, gram, n_occurrences, rank FROM r WHERE rank <= 8
"""


def _q120_inter_event(spark, sf):
    """Per-user inter-arrival gap statistics in exact epoch-second
    integers — the measurement behind sessionization-gap choice (q106)
    and burstiness features. Single Exchange on the user key (lag
    window + aggregate share the partitioning). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.eventops import inter_event_stats
    return inter_event_stats(_t(spark, sf, "events"))


_O120 = """
WITH e AS (
  SELECT user_id, ts, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
g AS (
  SELECT user_id,
         s - LAG(s) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS gap
  FROM e)
, s AS (
  SELECT user_id, COUNT(*) AS n_events, COUNT(gap) AS n_gaps,
         MIN(gap) AS min_gap_s, MAX(gap) AS max_gap_s,
         CAST(COALESCE(SUM(gap), 0) AS BIGINT) AS span_s,
         CAST(COALESCE(SUM(gap * gap), 0) AS BIGINT) AS gap_sq_sum
  FROM g GROUP BY user_id)
SELECT user_id, n_events, n_gaps, min_gap_s, max_gap_s, span_s,
       gap_sq_sum,
       CASE WHEN n_gaps > 0 THEN CAST(span_s AS DOUBLE)
            / CAST(n_gaps AS DOUBLE) END AS mean_gap_s,
       CASE WHEN n_gaps > 0
             AND SQRT(CAST(n_gaps * gap_sq_sum - span_s * span_s
                           AS DOUBLE)) / CAST(n_gaps AS DOUBLE)
                 + CAST(span_s AS DOUBLE) / CAST(n_gaps AS DOUBLE) > 0
            THEN (SQRT(CAST(n_gaps * gap_sq_sum - span_s * span_s
                            AS DOUBLE)) / CAST(n_gaps AS DOUBLE)
                  - CAST(span_s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                 / (SQRT(CAST(n_gaps * gap_sq_sum - span_s * span_s
                              AS DOUBLE)) / CAST(n_gaps AS DOUBLE)
                    + CAST(span_s AS DOUBLE)
                      / CAST(n_gaps AS DOUBLE))
       END AS burstiness
FROM s
"""


def _q121_rfm(spark, sf):
    """RFM customer scoring over orders: exact-integer recency days /
    order count / cents, each NTILE(5)-bucketed over a total order
    (metric, custkey) so both engines assign identical tiles. One
    per-customer hash-aggregate + a broadcast single-row anchor.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.eventops import customer_rfm
    return customer_rfm(_t(spark, sf, "orders"))


_O121 = """
WITH pc AS (
  SELECT o_custkey AS custkey, MAX(CAST(o_orderdate AS DATE)) AS last_d,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
             AS monetary_cents
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
  GROUP BY o_custkey),
a AS (SELECT MAX(last_d) AS anchor FROM pc),
d AS (
  SELECT custkey,
         CAST(date_diff('day', last_d, anchor) AS BIGINT) AS recency_days,
         frequency, monetary_cents
  FROM pc, a)
SELECT custkey, recency_days, frequency, monetary_cents,
       NTILE(5) OVER (ORDER BY recency_days ASC, custkey ASC) AS r_score,
       NTILE(5) OVER (ORDER BY frequency DESC, custkey ASC) AS f_score,
       NTILE(5) OVER (ORDER BY monetary_cents DESC, custkey ASC) AS m_score
FROM d
"""


def _q122_key_skew(spark, sf):
    """Join-key skew report on lineitem's supplier key — the top-15
    heavy hitters with exact ppm share and multiple-of-average: the
    measurement run before choosing q15's salting factor. Hash-agg +
    TakeOrderedAndProject, no global sort. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import key_skew_stats
    return key_skew_stats(_t(spark, sf, "lineitem"), "l_suppkey", k=15)


_O122 = """
WITH c AS (
  SELECT l_suppkey AS key, COUNT(*) AS cnt
  FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY l_suppkey),
t AS (SELECT SUM(cnt) AS total, COUNT(*) AS n_keys FROM c)
SELECT key, cnt,
       CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm,
       CAST(cnt * n_keys * 1000000 // total AS BIGINT) AS avg_multiple_ppm
FROM c, t ORDER BY cnt DESC, key ASC LIMIT 15
"""


def _q123_union_cover(spark, sf):
    """Raster union statistics over the nation diamonds at res 6:
    distinct covered cells, total (polygon, cell) incidences, and the
    per-cell max-fraction union area in exact nano-cells — the
    overlap-removed footprint an O(n²) polygon union would cost at
    scale. Composes the oracle-matched q54 cover with one cell-keyed
    hash-aggregate. Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.spatial.ops import union_cover_stats
    return union_cover_stats(_nation_diamonds(spark, sf), 6)


def _o123() -> str:
    return f"""
WITH per_cell AS (
  SELECT cell_id, MAX(fraction) AS mf, COUNT(*) AS n
  FROM ({_o54()}) GROUP BY cell_id)
SELECT COUNT(*) AS n_cells,
       CAST(SUM(n) AS BIGINT) AS n_cover_rows,
       CAST(SUM(CAST(ROUND(mf * 1e9) AS BIGINT)) AS BIGINT)
           AS union_cells_nano
FROM per_cell
"""


def _q124_orphan_audit(spark, sf):
    """Referential-integrity audit of the three fact→dim/fact
    relations (orders→customer, lineitem→orders, lineitem→part):
    rows, NULL keys, distinct keys, orphan keys/rows per relation.
    Each audit distinct-shrinks the child to (key, count) BEFORE the
    anti-join, so the probe is |distinct keys| not |rows|
    (quality.orphan_audit). Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.quality import orphan_audit
    orders = _t(spark, sf, "orders")
    lineitem = _t(spark, sf, "lineitem")
    a1 = orphan_audit(orders, _t(spark, sf, "customer"),
                      child_key="o_custkey", parent_key="c_custkey",
                      relation="orders->customer")
    a2 = orphan_audit(lineitem, orders,
                      child_key="l_orderkey", parent_key="o_orderkey",
                      relation="lineitem->orders")
    a3 = orphan_audit(lineitem, _t(spark, sf, "part"),
                      child_key="l_partkey", parent_key="p_partkey",
                      relation="lineitem->part")
    return a1.unionByName(a2).unionByName(a3)


def _o124_one(rel: str, child: str, ck: str, parent: str,
              pk: str) -> str:
    return f"""
SELECT '{rel}' AS relation,
       (SELECT COUNT(*) FROM {child}) AS n_rows,
       (SELECT CAST(COALESCE(SUM(CASE WHEN {ck} IS NULL THEN 1
                                      ELSE 0 END), 0) AS BIGINT)
        FROM {child}) AS n_null_keys,
       (SELECT COUNT(*) FROM
          (SELECT {ck} FROM {child} WHERE {ck} IS NOT NULL
           GROUP BY {ck})) AS n_distinct_keys,
       (SELECT COUNT(*) FROM
          (SELECT k.{ck} FROM
             (SELECT {ck}, COUNT(*) AS c FROM {child}
              WHERE {ck} IS NOT NULL GROUP BY {ck}) k
           LEFT JOIN {parent} p ON k.{ck} = p.{pk}
           WHERE p.{pk} IS NULL)) AS n_orphan_keys,
       (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM
          (SELECT k.c FROM
             (SELECT {ck}, COUNT(*) AS c FROM {child}
              WHERE {ck} IS NOT NULL GROUP BY {ck}) k
           LEFT JOIN {parent} p ON k.{ck} = p.{pk}
           WHERE p.{pk} IS NULL)) AS n_orphan_rows
"""


def _o124() -> str:
    return " UNION ALL ".join([
        _o124_one("orders->customer", "orders", "o_custkey",
                  "customer", "c_custkey"),
        _o124_one("lineitem->orders", "lineitem", "l_orderkey",
                  "orders", "o_orderkey"),
        _o124_one("lineitem->part", "lineitem", "l_partkey",
                  "part", "p_partkey")])


_Q125_COLS = ["o_orderkey", "o_custkey", "o_orderstatus",
              "o_orderpriority"]


def _q125_column_profile(spark, sf):
    """Single-pass column profiler over four orders columns: row /
    NULL / exact-distinct counts plus lexicographic string min/max
    per column (quality.column_profile: one stack unpivot, one hash
    aggregate). The registered profile sticks to BIGINT and STRING
    columns because float→string formatting is not bit-identical
    across engines (Java pre-Ryū vs DuckDB shortest-round-trip);
    doubles are profiled engine-side in the pytest instead. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.quality import column_profile
    return column_profile(_t(spark, sf, "orders"), _Q125_COLS)


def _o125() -> str:
    parts = [f"""
SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       CAST(COALESCE(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT CAST({c} AS VARCHAR)) AS BIGINT)
           AS n_distinct,
       MIN(CAST({c} AS VARCHAR)) AS min_val,
       MAX(CAST({c} AS VARCHAR)) AS max_val
FROM orders
""" for c in _Q125_COLS]
    return " UNION ALL ".join(parts)


def _q126_dup_cluster_stats(spark, sf):
    """Duplicate-cluster census over documents: md5-fingerprint each
    text, histogram the cluster sizes (quality.dup_cluster_stats —
    two map-side-combinable hash aggregates; the shuffle carries
    16-byte fingerprints, never documents). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.quality import dup_cluster_stats
    return dup_cluster_stats(_t(spark, sf, "documents"))


_O126 = """
WITH s AS (
  SELECT md5(text) AS fp, COUNT(*) AS cluster_size
  FROM documents WHERE text IS NOT NULL GROUP BY md5(text))
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
FROM s GROUP BY cluster_size
"""


def _q127_join_card(spark, sf):
    """Pre-flight audit of the lineitem⋈orders equi-join: exact
    output cardinality, common/distinct key counts, and the max
    single-key contribution (the skew headline), computed from the
    two (key, count) aggregates without running the join
    (quality.join_cardinality_estimate — the probe is |distinct
    keys|, not |rows|). Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.quality import join_cardinality_estimate
    return join_cardinality_estimate(
        _t(spark, sf, "lineitem"), _t(spark, sf, "orders"),
        left_key="l_orderkey", right_key="o_orderkey")


_O127 = """
WITH lc AS (SELECT l_orderkey AS k, COUNT(*) AS cl FROM lineitem
            WHERE l_orderkey IS NOT NULL GROUP BY l_orderkey),
     rc AS (SELECT o_orderkey AS k, COUNT(*) AS cr FROM orders
            WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey),
     m AS (SELECT lc.cl * rc.cr AS m FROM lc JOIN rc USING (k))
SELECT (SELECT COUNT(*) FROM lineitem) AS n_left_rows,
       (SELECT COUNT(*) FROM orders) AS n_right_rows,
       (SELECT COUNT(*) FROM lc) AS n_left_keys,
       (SELECT COUNT(*) FROM rc) AS n_right_keys,
       (SELECT COUNT(*) FROM m) AS n_common_keys,
       (SELECT CAST(COALESCE(SUM(m), 0) AS BIGINT) FROM m)
           AS est_output_rows,
       (SELECT CAST(COALESCE(MAX(m), 0) AS BIGINT) FROM m)
           AS max_single_key_rows
"""


def _q128_heavy_hitters(spark, sf):
    """Per-group heavy hitters: the top-10 supplier keys inside each
    lineitem return flag with exact count, deterministic (cnt DESC,
    value ASC) rank, and integer ppm share of the group
    (quality.grouped_heavy_hitters — windows run on the (group,
    value) AGGREGATE, never on raw rows). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.quality import grouped_heavy_hitters
    return grouped_heavy_hitters(
        _t(spark, sf, "lineitem"), group_col="l_returnflag",
        value_col="l_suppkey", k=10)


_O128 = """
WITH c AS (
  SELECT l_returnflag, l_suppkey AS value, COUNT(*) AS cnt
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_suppkey IS NOT NULL
  GROUP BY l_returnflag, l_suppkey),
r AS (
  SELECT l_returnflag, value, cnt,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY cnt DESC, value ASC) AS rnk,
         SUM(cnt) OVER (PARTITION BY l_returnflag) AS tot
  FROM c)
SELECT l_returnflag, value, cnt, CAST(rnk AS INT) AS rnk,
       CAST(cnt * 1000000 // tot AS BIGINT) AS share_ppm
FROM r WHERE rnk <= 10
"""


def _supplier_segments(spark, sf):
    """Deterministic short road-like segments, 8 per supplier: hashed
    center in the customer-point extent plus a ±2-degree delta (so
    supercover fan-out stays ~1-2 cells per segment). SQL twin inside
    _O129 — every endpoint expression is replayed operation-for-
    operation so doubles match bit-exact."""
    s = _t(spark, sf, "supplier")
    e = s.select(F.col("s_suppkey").cast("long").alias("k"),
                 F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j"))
    x0 = ((F.col("k") * 2551 + F.col("j") * 1733 + 97) % 36000) / 100.0 - 180.0
    y0 = ((F.col("k") * 1423 + F.col("j") * 911 + 55) % 17000) / 100.0 - 85.0
    dx = ((F.col("k") * 31 + F.col("j") * 17 + 3) % 400) / 100.0 - 2.0
    dy = ((F.col("k") * 53 + F.col("j") * 29 + 7) % 400) / 100.0 - 2.0
    return e.select((F.col("k") * 8 + F.col("j")).alias("seg_id"),
                    x0.alias("x0"), y0.alias("y0"),
                    (x0 + dx).alias("x1"), (y0 + dy).alias("y1"))


def _q129_nearest_segment(spark, sf):
    """Map-matching: snap every customer point to its nearest supplier
    segment (clamped-projection distance, min(struct) arg-min — ONE
    agg shuffle, candidates bucketed by supercover cell × point
    k-ring, never all-pairs). res 4 / radius 2 gives a 22.5-degree
    completeness guarantee; the measured max nearest distance is
    18.07 (sf0.01), so the ring-bounded result equals the oracle's
    brute-force nearest. Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.spatial.ops import nearest_segment_join
    return nearest_segment_join(_customer_points(spark, sf),
                                _supplier_segments(spark, sf),
                                res=4, radius=2)


_SEG_SQL = (
    "SELECT s_suppkey * 8 + j AS seg_id, "
    "((s_suppkey * 2551 + j * 1733 + 97) % 36000) / 100.0 - 180.0 AS x0, "
    "((s_suppkey * 1423 + j * 911 + 55) % 17000) / 100.0 - 85.0 AS y0, "
    "(((s_suppkey * 2551 + j * 1733 + 97) % 36000) / 100.0 - 180.0) "
    "+ (((s_suppkey * 31 + j * 17 + 3) % 400) / 100.0 - 2.0) AS x1, "
    "(((s_suppkey * 1423 + j * 911 + 55) % 17000) / 100.0 - 85.0) "
    "+ (((s_suppkey * 53 + j * 29 + 7) % 400) / 100.0 - 2.0) AS y1 "
    "FROM supplier, LATERAL (SELECT unnest(generate_series(0, 7)) AS j)"
)

_O129 = f"""
WITH pts AS ({_PTS_SQL}),
segs AS ({_SEG_SQL}),
d AS (
  SELECT p.point_id, s.seg_id, p.x, p.y, s.x0, s.y0, s.x1, s.y1,
         CASE WHEN (s.x1 - s.x0) * (s.x1 - s.x0)
                   + (s.y1 - s.y0) * (s.y1 - s.y0) = 0.0 THEN 0.0
              ELSE LEAST(1.0, GREATEST(0.0,
                ((p.x - s.x0) * (s.x1 - s.x0) + (p.y - s.y0) * (s.y1 - s.y0))
                / ((s.x1 - s.x0) * (s.x1 - s.x0)
                   + (s.y1 - s.y0) * (s.y1 - s.y0)))) END AS t
  FROM pts p CROSS JOIN segs s),
dd AS (
  SELECT point_id, seg_id, t,
         (x - (x0 + t * (x1 - x0))) * (x - (x0 + t * (x1 - x0)))
       + (y - (y0 + t * (y1 - y0))) * (y - (y0 + t * (y1 - y0))) AS dist2
  FROM d)
SELECT point_id, seg_id, dist2, t FROM dd
QUALIFY ROW_NUMBER() OVER (PARTITION BY point_id
                           ORDER BY dist2 ASC, seg_id ASC) = 1
"""


def _q130_interval_overlap(spark, sf):
    """Interval×interval overlap join (touching endpoints count,
    inverted intervals match nothing) via the two-sided bucket cover:
    equi-join on the bucket, exact predicate, and the ownership-bucket
    equality (pair kept only in the bucket of greatest(start_l,
    start_r)) replaces the distinct shuffle — exactly-once with ONE
    shuffle. Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.rangejoin import interval_overlap_join
    c = _t(spark, sf, "customer")
    left = c.select(
        F.col("c_custkey").alias("lid"),
        ((F.col("c_custkey") * 263) % 100000).alias("ls"))
    left = left.withColumn(
        "le", F.when(F.col("lid") % 11 == 0, F.col("ls") - 7)
        .otherwise(F.col("ls") + (F.col("lid") % 37) * 9))
    s = _t(spark, sf, "supplier")
    right = s.select(
        F.col("s_suppkey").alias("rid"),
        ((F.col("s_suppkey") * 7919) % 100000).alias("rs"))
    right = right.withColumn("rs", F.col("rs").cast("long")) \
        .withColumn("re", F.col("rs") + (F.col("rid") % 53) * 11)
    out = interval_overlap_join(
        left, right, left_start="ls", left_end="le",
        right_start="rs", right_end="re", bucket_width=256)
    return out.select(
        "lid", "rid",
        F.greatest("ls", "rs").cast("long").alias("ov_start"),
        F.least("le", "re").cast("long").alias("ov_end"))


_O130 = """
WITH l AS (
  SELECT c_custkey AS lid, (c_custkey * 263) % 100000 AS ls,
         CASE WHEN c_custkey % 11 = 0
              THEN (c_custkey * 263) % 100000 - 7
              ELSE (c_custkey * 263) % 100000 + (c_custkey % 37) * 9
         END AS le
  FROM customer),
r AS (
  SELECT s_suppkey AS rid, (s_suppkey * 7919) % 100000 AS rs,
         (s_suppkey * 7919) % 100000 + (s_suppkey % 53) * 11 AS re
  FROM supplier)
SELECT lid, rid,
       CAST(GREATEST(ls, rs) AS BIGINT) AS ov_start,
       CAST(LEAST(le, re) AS BIGINT) AS ov_end
FROM l JOIN r
  ON ls <= re AND rs <= le AND ls <= le AND rs <= re
"""


def _q131_traj_resample(spark, sf):
    """Fixed-grid trajectory resampling (linear interpolation) over
    event-derived positions: dedupe + lead window partitioned by user
    (no global funnel), integer tick ownership, pure-Column nano-unit
    interpolation. Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.spatial.ops import trajectory_resample
    e = _t(spark, sf, "events")
    x = ((F.col("event_id") * 6361 + 211) % 20000) / 1000.0 - 10.0
    y = ((F.col("event_id") * 4799 + 97) % 16000) / 1000.0 - 8.0
    pts = e.select("user_id", F.col("event_id").alias("t"),
                   x.alias("x"), y.alias("y"))
    return trajectory_resample(pts, "user_id", "t", step=499)


_O131 = """
WITH pts AS (
  SELECT user_id, event_id AS t0,
         ((event_id * 6361 + 211) % 20000) / 1000.0 - 10.0 AS x0,
         ((event_id * 4799 + 97) % 16000) / 1000.0 - 8.0 AS y0
  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
seg AS (
  SELECT user_id, t0, x0, y0,
         LEAD(t0) OVER w AS t1, LEAD(x0) OVER w AS x1,
         LEAD(y0) OVER w AS y1,
         ROW_NUMBER() OVER w AS rn
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY t0)),
tk AS (
  SELECT user_id, t0, x0, y0, t1, x1, y1,
         UNNEST(generate_series(
           CAST(FLOOR(t0 / 499.0) AS BIGINT)
             + CASE WHEN rn = 1 AND t0 % 499 = 0 THEN 0 ELSE 1 END,
           CASE WHEN t1 IS NOT NULL
                THEN CAST(FLOOR(t1 / 499.0) AS BIGINT)
                ELSE CAST(FLOOR(t0 / 499.0) AS BIGINT) END)) AS k
  FROM seg)
SELECT user_id, CAST(k * 499 AS BIGINT) AS t,
       CAST(ROUND((CASE WHEN t1 IS NULL THEN x0
                        ELSE x0 + (x1 - x0)
                             * ((k * 499 - t0) / CAST(t1 - t0 AS DOUBLE))
                   END) * 1e9) AS BIGINT) AS x_nano,
       CAST(ROUND((CASE WHEN t1 IS NULL THEN y0
                        ELSE y0 + (y1 - y0)
                             * ((k * 499 - t0) / CAST(t1 - t0 AS DOUBLE))
                   END) * 1e9) AS BIGINT) AS y_nano
FROM tk
"""


def _q132_geofence_dwell(spark, sf):
    """Geofence dwell rollup: user-anchored wander fixes × nation
    diamonds — pip_join (cell-bucketed ray cast) + trajectory-successor
    window credit, exact BIGINT dwell. Round-5 post-pin registration:
    in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import geofence_dwell
    fixes = _wander_fixes(spark, sf).withColumn("fix_id", F.col("t"))
    return geofence_dwell(fixes, _nation_diamonds(spark, sf), res=6)


_O132 = f"""
WITH fixes0 AS (
  SELECT user_id AS id, event_id AS t,
         (((user_id * 2971 + 1234) % 30000) / 100.0 - 150.0)
           + (((event_id * 53 + 11) % 1600) / 100.0 - 8.0) AS x,
         (((user_id * 4231 + 567) % 13000) / 100.0 - 65.0)
           + (((event_id * 29 + 7) % 1200) / 100.0 - 6.0) AS y
  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
seg AS (
  SELECT id, t, x, y,
         LEAD(t) OVER (PARTITION BY id ORDER BY t) AS t_next
  FROM fixes0),
polys AS ({{_POLY}}),
edges AS (
  SELECT poly_id,
         cx + dx1 * r AS x1, cy + dy1 * r AS y1,
         cx + dx2 * r AS x2, cy + dy2 * r AS y2
  FROM polys CROSS JOIN (VALUES
    (1.0, 0.0, 0.0, 1.0), (0.0, 1.0, -1.0, 0.0),
    (-1.0, 0.0, 0.0, -1.0), (0.0, -1.0, 1.0, 0.0)
  ) AS d(dx1, dy1, dx2, dy2)
),
crossings AS (
  SELECT s.id, s.t, s.t_next, e.poly_id,
         CASE WHEN ((e.y1 > s.y) != (e.y2 > s.y))
               AND (s.x < (e.x2 - e.x1) * (s.y - e.y1) / (e.y2 - e.y1) + e.x1)
              THEN 1 ELSE 0 END AS c
  FROM seg s CROSS JOIN edges e),
inside AS (
  SELECT id, t, t_next, poly_id FROM crossings
  GROUP BY id, t, t_next, poly_id HAVING SUM(c) % 2 = 1),
w AS (
  SELECT id, poly_id, t, t_next,
         LEAD(t) OVER (PARTITION BY id, poly_id ORDER BY t) AS nt
  FROM inside)
SELECT id, poly_id, COUNT(*) AS n_inside,
       CAST(COALESCE(SUM(CASE WHEN nt = t_next THEN t_next - t END), 0)
            AS BIGINT) AS dwell
FROM w GROUP BY id, poly_id
""".replace("{_POLY}", _POLY_SQL)


def _wander_fixes(spark, sf):
    """User-anchored wander fixes (the q132 family): base position per
    user on the diamond-center grid, per-event offset ±8°/±6°."""
    e = _t(spark, sf, "events")
    bx = ((F.col("user_id") * 2971 + 1234) % 30000) / 100.0 - 150.0
    by = ((F.col("user_id") * 4231 + 567) % 13000) / 100.0 - 65.0
    x = bx + (((F.col("event_id") * 53 + 11) % 1600) / 100.0 - 8.0)
    y = by + (((F.col("event_id") * 29 + 7) % 1200) / 100.0 - 6.0)
    return e.select(F.col("user_id").alias("id"),
                    F.col("event_id").alias("t"),
                    x.alias("x"), y.alias("y"))


_WANDER_SQL = """
  SELECT user_id AS id, event_id AS t,
         (((user_id * 2971 + 1234) % 30000) / 100.0 - 150.0)
           + (((event_id * 53 + 11) % 1600) / 100.0 - 8.0) AS x,
         (((user_id * 4231 + 567) % 13000) / 100.0 - 65.0)
           + (((event_id * 29 + 7) % 1200) / 100.0 - 6.0) AS y
  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
"""


def _q133_cell_stays(spark, sf):
    """Grid stay-point detection over the wander fixes: maximal
    same-cell runs via one id-partitioned sort (lag marker +
    running-sum run id), duration/fix thresholds. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import cell_stays
    return cell_stays(_wander_fixes(spark, sf), res=5,
                      min_duration=150, min_fixes=2)


def _o133() -> str:
    from kml2geojson_spark.spatial.cells import cell_encode_sql
    cell = cell_encode_sql("x", "y", 5)
    return f"""
WITH fixes AS ({_WANDER_SQL}),
cellc AS (SELECT id, t, {cell} AS cell_id FROM fixes),
m AS (
  SELECT id, t, cell_id,
         CASE WHEN LAG(cell_id) OVER w IS NULL
                OR LAG(cell_id) OVER w != cell_id THEN 1 ELSE 0 END AS nr
  FROM cellc WINDOW w AS (PARTITION BY id ORDER BY t)),
r AS (
  SELECT id, t, cell_id,
         SUM(nr) OVER (PARTITION BY id ORDER BY t) AS run
  FROM m),
g AS (
  SELECT id, MIN(cell_id) AS cell_id, MIN(t) AS t_start,
         MAX(t) AS t_end, COUNT(*) AS n_fixes,
         MAX(t) - MIN(t) AS duration
  FROM r GROUP BY id, run)
SELECT id, cell_id, t_start, t_end,
       CAST(n_fixes AS BIGINT) AS n_fixes,
       CAST(duration AS BIGINT) AS duration
FROM g WHERE duration >= 150 AND n_fixes >= 2
"""


def _q134_speed_outliers(spark, sf):
    """GPS teleport filter over the wander fixes: exact integer
    dist_nano > max_speed_nano·dt verdict, one id-partitioned lag
    window. Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.spatial.ops import speed_outliers
    return speed_outliers(_wander_fixes(spark, sf),
                          max_speed_nano=80_000_000)


_O134 = f"""
WITH fixes AS ({_WANDER_SQL}),
lagged AS (
  SELECT id, t,
         x - LAG(x) OVER w AS dx, y - LAG(y) OVER w AS dy,
         t - LAG(t) OVER w AS dt
  FROM fixes WINDOW w AS (PARTITION BY id ORDER BY t)),
d AS (
  SELECT id, t,
         CAST(ROUND(SQRT(dx * dx + dy * dy) * 1e9) AS BIGINT) AS dist_nano,
         CAST(dt AS BIGINT) AS dt
  FROM lagged WHERE dt IS NOT NULL)
SELECT id, t, dist_nano, dt FROM d
WHERE dist_nano > 80000000 * dt
"""


def _q135_heading_octants(spark, sf):
    """Per-user heading-octant histogram over the wander fixes: fixed
    comparison CASE chain (no atan2), one lag window + hash-agg.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import heading_octants
    return heading_octants(_wander_fixes(spark, sf))


_O135 = f"""
WITH fixes AS ({_WANDER_SQL}),
lagged AS (
  SELECT id,
         x - LAG(x) OVER w AS dx, y - LAG(y) OVER w AS dy
  FROM fixes WINDOW w AS (PARTITION BY id ORDER BY t)),
oct AS (
  SELECT id,
         CASE WHEN dx = 0 AND dy = 0 THEN -1
              WHEN dy >= 0 AND dx > 0 AND dy < dx THEN 0
              WHEN dx > 0 AND dy >= dx THEN 1
              WHEN dx <= 0 AND dy > 0 AND dy > -dx THEN 2
              WHEN dy > 0 AND dy <= -dx THEN 3
              WHEN dy <= 0 AND dx < 0 AND dy > dx THEN 4
              WHEN dy < 0 AND dy <= dx AND dx < 0 THEN 5
              WHEN dy < 0 AND dx >= 0 AND dx < -dy THEN 6
              ELSE 7 END AS octant
  FROM lagged WHERE dx IS NOT NULL)
SELECT id, CAST(octant AS INTEGER) AS octant,
       COUNT(*) AS n_steps
FROM oct GROUP BY id, octant
"""


def _nation_segments(spark, sf):
    """Deterministic second segment family, 256 per nation (constant
    cardinality across SF — keeps the O(|A|·|B|) brute-force oracle
    tractable at sf0.1 while the engine side stays bucketed). Same
    hashed-center + bounded-delta construction as
    :func:`_supplier_segments`; SQL twin inside _O136."""
    n = _t(spark, sf, "nation")
    e = n.select(F.col("n_nationkey").cast("long").alias("k"),
                 F.explode(F.sequence(F.lit(0), F.lit(255))).alias("j"))
    x0 = ((F.col("k") * 3271 + F.col("j") * 2417 + 131) % 36000) / 100.0 - 180.0
    y0 = ((F.col("k") * 1579 + F.col("j") * 1201 + 89) % 17000) / 100.0 - 85.0
    dx = ((F.col("k") * 37 + F.col("j") * 19 + 5) % 400) / 100.0 - 2.0
    dy = ((F.col("k") * 59 + F.col("j") * 23 + 11) % 400) / 100.0 - 2.0
    return e.select((F.col("k") * 256 + F.col("j")).alias("seg_id"),
                    x0.alias("x0"), y0.alias("y0"),
                    (x0 + dx).alias("x1"), (y0 + dy).alias("y1"))


def _q136_segment_intersections(spark, sf):
    """Road-conflation crossing join: supplier segments × nation
    segments, properly-crossing pairs with nano-integerized
    intersection points — both sides supercover-bucketed, ONE cell
    equi-join, exactly-once by intersection-point cell ownership (no
    distinct). Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.spatial.ops import segment_intersection_join
    return segment_intersection_join(
        _supplier_segments(spark, sf), _nation_segments(spark, sf), res=6)


_NSEG_SQL = (
    "SELECT n_nationkey * 256 + j AS seg_id, "
    "((n_nationkey * 3271 + j * 2417 + 131) % 36000) / 100.0 - 180.0 AS x0, "
    "((n_nationkey * 1579 + j * 1201 + 89) % 17000) / 100.0 - 85.0 AS y0, "
    "(((n_nationkey * 3271 + j * 2417 + 131) % 36000) / 100.0 - 180.0) "
    "+ (((n_nationkey * 37 + j * 19 + 5) % 400) / 100.0 - 2.0) AS x1, "
    "(((n_nationkey * 1579 + j * 1201 + 89) % 17000) / 100.0 - 85.0) "
    "+ (((n_nationkey * 59 + j * 23 + 11) % 400) / 100.0 - 2.0) AS y1 "
    "FROM nation, LATERAL (SELECT unnest(generate_series(0, 255)) AS j)"
)

_O136 = f"""
WITH a AS ({_SEG_SQL}),
b AS ({_NSEG_SQL}),
d AS (
  SELECT a.seg_id AS seg_a, b.seg_id AS seg_b,
         a.x1 - a.x0 AS rx, a.y1 - a.y0 AS ry,
         b.x1 - b.x0 AS sx, b.y1 - b.y0 AS sy,
         (a.x1 - a.x0) * (b.y0 - a.y0)
           - (a.y1 - a.y0) * (b.x0 - a.x0) AS d1,
         (a.x1 - a.x0) * (b.y1 - a.y0)
           - (a.y1 - a.y0) * (b.x1 - a.x0) AS d2,
         (b.x1 - b.x0) * (a.y0 - b.y0)
           - (b.y1 - b.y0) * (a.x0 - b.x0) AS d3,
         (b.x1 - b.x0) * (a.y1 - b.y0)
           - (b.y1 - b.y0) * (a.x1 - b.x0) AS d4,
         a.x0 AS ax0, a.y0 AS ay0, b.x0 AS bx0, b.y0 AS by0
  FROM a CROSS JOIN b),
x AS (
  SELECT seg_a, seg_b, ax0, ay0, rx, ry,
         ((bx0 - ax0) * sy - (by0 - ay0) * sx)
           / (rx * sy - ry * sx) AS t
  FROM d
  WHERE ((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
    AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0)))
SELECT seg_a, seg_b,
       CAST(ROUND((ax0 + t * rx) * 1e9) AS BIGINT) AS ix_nano,
       CAST(ROUND((ay0 + t * ry) * 1e9) AS BIGINT) AS iy_nano
FROM x
"""


def _q137_grid_moran(spark, sf):
    """Global Moran's I of customer-point density at res 5 — integer
    pair sums (S1/S2/W/N/Σx/Σx²) then one fixed double expression, so
    the statistic is partition-order-independent and the DuckDB replay
    is bit-exact. Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.spatial.ops import grid_moran
    return grid_moran(_customer_points(spark, sf), res=5)


_M = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
_O137 = f"""
WITH pts AS ({_PTS_SQL}),
cells AS (
  SELECT CAST(GREATEST(0, LEAST(31,
           FLOOR((x + 180.0) / 360.0 * 32.0))) AS BIGINT) AS gx,
         CAST(GREATEST(0, LEAST(31,
           FLOOR((y + 90.0) / 180.0 * 32.0))) AS BIGINT) AS gy,
         COUNT(*) AS c
  FROM pts GROUP BY 1, 2),
cagg AS (SELECT COUNT(*) AS n, SUM(c) AS sx, SUM(c * c) AS sxx FROM cells),
pagg AS (
  SELECT COUNT(*) AS w,
         COALESCE(SUM(a.c * b.c), 0) AS s1,
         COALESCE(SUM(a.c + b.c), 0) AS s2
  FROM cells a JOIN cells b
    ON b.gx BETWEEN a.gx - 1 AND a.gx + 1
   AND b.gy BETWEEN a.gy - 1 AND a.gy + 1
   AND NOT (a.gx = b.gx AND a.gy = b.gy))
SELECT n AS n_cells, w AS n_pairs,
       CASE WHEN w > 0 AND (CAST(sxx AS DOUBLE)
                            - CAST(n AS DOUBLE) * {_M} * {_M}) <> 0.0
            THEN CAST(ROUND((CAST(n AS DOUBLE) / CAST(w AS DOUBLE))
              * ((CAST(s1 AS DOUBLE) - {_M} * CAST(s2 AS DOUBLE)
                  + CAST(w AS DOUBLE) * {_M} * {_M})
                 / (CAST(sxx AS DOUBLE)
                    - CAST(n AS DOUBLE) * {_M} * {_M})) * 1e9) AS BIGINT)
       END AS moran_nano
FROM cagg, pagg
"""


def _q138_cooccurrence(spark, sf):
    """Co-purchase pairs: parts co-occurring in an order (distinct
    per basket, basket-key self-equi-join, exact pair count,
    min_count=2 tail prune). Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.relational import cooccurrence_pairs
    return cooccurrence_pairs(_t(spark, sf, "lineitem"),
                              basket_col="l_orderkey",
                              item_col="l_partkey", min_count=2)


_O138 = """
WITH base AS (
  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL)
SELECT a.it AS item_a, b.it AS item_b, COUNT(*) AS n_baskets
FROM base a JOIN base b ON a.bk = b.bk AND a.it < b.it
GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


def _q139_session_paths(spark, sf):
    """Session journey mining: n_sessions per first-5-event-type path
    over gap-1800 sessions — one user-key Exchange feeds both window
    passes, bounded collect_list, path hash-agg. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.eventops import session_path_counts
    return session_path_counts(_t(spark, sf, "events"),
                               gap_seconds=1800, max_len=5)


_O139 = """
WITH e AS (
  SELECT user_id AS u, ts AS t, event_id AS i, event_type AS ty
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL AND event_type IS NOT NULL),
f AS (
  SELECT u, t, i, ty,
         CASE WHEN lag(epoch(t)) OVER w IS NULL
                   OR epoch(t) - lag(epoch(t)) OVER w > 1800
              THEN 1 ELSE 0 END AS new
  FROM e WINDOW w AS (PARTITION BY u ORDER BY t, i)),
s AS (
  SELECT u, ty, t, i,
         SUM(new) OVER (PARTITION BY u ORDER BY t, i
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM f),
r AS (
  SELECT u, sid, ty, ROW_NUMBER() OVER (
           PARTITION BY u, sid ORDER BY t, i) AS rn
  FROM s),
p AS (
  SELECT u, sid, STRING_AGG(ty, '>' ORDER BY rn) AS path
  FROM r WHERE rn <= 5 GROUP BY u, sid)
SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY path
"""
# Both window ORDER BYs and the STRING_AGG totalize with event_id /
# rn — the _O104/_O106 two-pass re-sort hazard; Spark's single-sort
# plan needs the id tie-break too because path ORDER (unlike session
# membership) is not tie-invariant under equal timestamps.


def _q140_decontaminate_near(spark, sf):
    """Fuzzy decontamination: flag corpus docs (doc_id % 17 != 3)
    whose SimHash is within 3 bits of any benchmark doc (% 17 == 3) —
    banded corpus×benchmark equi-join, pigeonhole-complete, benchmark
    side broadcast. Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.textops import decontaminate_near
    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return decontaminate_near(docs.where(F.col("doc_id") % 17 != 3),
                              docs.where(F.col("doc_id") % 17 == 3))


def _o140() -> str:
    """Brute-force min-hamming oracle over the same md5 signatures."""
    bits = 60
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits))
    asm = " | ".join(
        f"(CASE WHEN s{b} > 0 THEN 1::BIGINT ELSE 0::BIGINT END << {b})"
        for b in range(bits))
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
    FROM documents) WHERE tok != ''),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
sums AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {asm} AS sig FROM sums),
corpus AS (SELECT * FROM sig WHERE doc_id % 17 <> 3),
bench AS (SELECT * FROM sig WHERE doc_id % 17 = 3)
SELECT c.doc_id AS doc_id,
       MIN(bit_count(xor(c.sig, b.sig))) AS min_hamming
FROM corpus c CROSS JOIN bench b
GROUP BY c.doc_id
HAVING MIN(bit_count(xor(c.sig, b.sig))) <= 3
"""


def _q141_asof_nearest(spark, sf):
    """Nearest as-of join: each purchase event gets the same user's
    click CLOSEST in time (either direction) — the sensor-alignment /
    nearest-context lookup completing q17 (backward) and q105
    (forward). Tie rule is fully pinned (asof.py): distance tie →
    backward row; equal right timestamps → smallest click_id. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.asof import asof_join
    e = _t(spark, sf, "events")
    purchases = (e.where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id"), F.col("ts")))
    clicks = (e.where(F.col("event_type") == "click")
              .select(F.col("user_id"), F.col("ts"),
                      F.col("event_id").alias("click_id")))
    out = asof_join(purchases, clicks, key="user_id",
                    left_ts="ts", right_ts="ts", direction="nearest")
    gap = F.expr("timestampdiff(MICROSECOND, ts, r_ts)")
    return out.select("purchase_id", "user_id",
                      F.col("r_click_id").alias("click_id"),
                      gap.alias("gap_us"))


_O141 = """
WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT event_id AS click_id, user_id, ts FROM events
      WHERE event_type = 'click'),
j AS (
  SELECT p.purchase_id, p.user_id, c.click_id,
         epoch_us(c.ts) - epoch_us(p.ts) AS gap_us,
         ROW_NUMBER() OVER (
           PARTITION BY p.purchase_id
           ORDER BY ABS(epoch_us(c.ts) - epoch_us(p.ts)) ASC,
                    c.ts ASC, c.click_id ASC) AS rn
  FROM p LEFT JOIN c ON p.user_id = c.user_id
)
SELECT purchase_id, user_id, click_id, gap_us FROM j WHERE rn = 1
"""


def _q142_attribution(spark, sf):
    """First/last-touch attribution matrix: every purchase attributed
    to the same user's first and last preceding view/click in the
    totalized (ts, event_id) order, then counted per (first_type,
    last_type) cell. ONE user-key exchange, null-skipping struct
    min/max over a rows-frame window — no conversion×touch join.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.eventops import touch_attribution
    out = touch_attribution(_t(spark, sf, "events"),
                            conversion_type="purchase",
                            touch_types=["view", "click"])
    return (out.groupBy(
        F.coalesce("first_type", F.lit("(none)")).alias("first_type"),
        F.coalesce("last_type", F.lit("(none)")).alias("last_type"))
        .agg(F.count(F.lit(1)).alias("n_conversions")))


_O142 = """
WITH conv AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase'
                AND user_id IS NOT NULL AND ts IS NOT NULL),
t AS (SELECT event_id, user_id, ts, event_type FROM events
      WHERE event_type IN ('view', 'click')
        AND user_id IS NOT NULL AND ts IS NOT NULL),
pairs AS (
  SELECT c.event_id AS conv_id, t.event_type AS touch_type,
         ROW_NUMBER() OVER (PARTITION BY c.event_id
                            ORDER BY t.ts ASC, t.event_id ASC) AS rf,
         ROW_NUMBER() OVER (PARTITION BY c.event_id
                            ORDER BY t.ts DESC, t.event_id DESC) AS rl
  FROM conv c JOIN t ON t.user_id = c.user_id
                    AND (t.ts, t.event_id) < (c.ts, c.event_id)
),
att AS (
  SELECT c.event_id AS conv_id,
         MAX(CASE WHEN p.rf = 1 THEN p.touch_type END) AS first_type,
         MAX(CASE WHEN p.rl = 1 THEN p.touch_type END) AS last_type
  FROM conv c LEFT JOIN pairs p ON p.conv_id = c.event_id
  GROUP BY c.event_id
)
SELECT COALESCE(first_type, '(none)') AS first_type,
       COALESCE(last_type, '(none)') AS last_type,
       COUNT(*)::BIGINT AS n_conversions
FROM att GROUP BY 1, 2
"""


def _q143_line_buffer(spark, sf):
    """Rasterized line buffer: the supplier polylines' supercover
    (q74) dilated by one Chebyshev ring — the corridor geofence around
    each route. buffer_cells = literal offset explode + Morton
    re-encode + ONE (id, cell) distinct hash-agg; composed with
    line_cover it stays join-free end-to-end. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import buffer_cells, line_cover
    cover = line_cover(_supplier_lines(spark, sf), 7)
    return buffer_cells(cover, 7, radius=1)


def _o143() -> str:
    res = 7
    ni = 1 << res
    return f"""
{_line_cover_ctes(res)},
offs AS (SELECT dxs.dx AS dx, dys.dy AS dy
         FROM (SELECT unnest(generate_series(-1, 1)) AS dx) dxs,
              (SELECT unnest(generate_series(-1, 1)) AS dy) dys),
buf AS (SELECT DISTINCT g.line_id,
               ((g.gx + o.dx) % {ni} + {ni}) % {ni} AS gx,
               g.gy + o.dy AS gy
        FROM g, offs o
        WHERE g.gy + o.dy >= 0 AND g.gy + o.dy < {ni})
{_morton_ctes("line_id", res, "buf")}
SELECT line_id, cell_id FROM enc
"""


def _q144_chunk_documents(spark, sf):
    """Overlapping token chunking (64-token windows, 16-token
    overlap): the context-window splitter preceding embedding /
    packing. Pure Column split + integer-sequence explode +
    slice/array_join — zero Python, zero shuffle; exact integer
    ceiling for the chunk count. Round-5 post-pin registration:
    in-repo oracle sweep only."""
    from kml2geojson_spark.textops import chunk_documents
    return chunk_documents(_t(spark, sf, "documents"),
                           chunk_tokens=64, overlap=16)


def _o144() -> str:
    chunk, overlap = 64, 16
    stride = chunk - overlap
    return f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents),
n AS (SELECT doc_id, toks, len(toks) AS nt FROM t WHERE len(toks) > 0),
c AS (SELECT doc_id, toks,
             CASE WHEN nt <= {chunk} THEN 1
                  ELSE 1 + (nt - {chunk} + {stride - 1}) // {stride}
             END AS nc
      FROM n),
x AS (SELECT doc_id, toks,
             unnest(generate_series(0, nc - 1)) AS chunk_idx FROM c)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(len(toks[chunk_idx * {stride} + 1 :
                     chunk_idx * {stride} + {chunk}]) AS INTEGER)
         AS n_tokens,
       array_to_string(toks[chunk_idx * {stride} + 1 :
                            chunk_idx * {stride} + {chunk}], ' ')
         AS chunk_text
FROM x
"""


def _q145_convex_hull(spark, sf):
    """Per-group convex hull vertices over deterministic integer
    points (fixed 1,500-customer slice so the O(n⁴) oracle's group
    size is scale-independent). Two-level distributed monotone chain:
    per-batch partial hulls in mapInPandas (hull is a lattice
    homomorphism, so only hull-sized rows shuffle), final hull per
    group in applyInPandas; exact Python-int orientation tests.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import convex_hull
    c = _t(spark, sf, "customer").where(F.col("c_custkey") <= 1500)
    pts = c.select(
        (F.col("c_custkey") % 50).alias("group_id"),
        ((F.col("c_custkey") * 7919 + 13) % 2001 - 1000)
        .cast("long").alias("x"),
        ((F.col("c_custkey") * 6101 + 47) % 2001 - 1000)
        .cast("long").alias("y"))
    return convex_hull(pts)


_O145 = """
WITH pts AS (
  SELECT DISTINCT c_custkey % 50 AS group_id,
         (c_custkey * 7919 + 13) % 2001 - 1000 AS x,
         (c_custkey * 6101 + 47) % 2001 - 1000 AS y
  FROM customer WHERE c_custkey <= 1500),
-- non-vertex by Caratheodory: p strictly between two others (the
-- segment test also catches every on-edge / on-chord case) ...
seg AS (
  SELECT DISTINCT p.group_id, p.x, p.y
  FROM pts p
  JOIN pts a ON a.group_id = p.group_id AND (a.x, a.y) <> (p.x, p.y)
  JOIN pts b ON b.group_id = p.group_id AND (b.x, b.y) <> (p.x, p.y)
            AND (a.x, a.y) < (b.x, b.y)
  WHERE (b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) = 0
    AND p.x BETWEEN LEAST(a.x, b.x) AND GREATEST(a.x, b.x)
    AND p.y BETWEEN LEAST(a.y, b.y) AND GREATEST(a.y, b.y)),
-- ... or p STRICTLY inside a triangle of others (all three exact
-- integer orientation signs agree and are nonzero; a == p etc. give
-- a zero cross, so no explicit inequality is needed here)
tri AS (
  SELECT DISTINCT p.group_id, p.x, p.y
  FROM pts p
  JOIN pts a ON a.group_id = p.group_id
  JOIN pts b ON b.group_id = p.group_id AND (a.x, a.y) < (b.x, b.y)
  JOIN pts c ON c.group_id = p.group_id AND (b.x, b.y) < (c.x, c.y)
  WHERE ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) > 0
     AND (c.x - b.x) * (p.y - b.y) - (c.y - b.y) * (p.x - b.x) > 0
     AND (a.x - c.x) * (p.y - c.y) - (a.y - c.y) * (p.x - c.x) > 0)
     OR ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) < 0
     AND (c.x - b.x) * (p.y - b.y) - (c.y - b.y) * (p.x - b.x) < 0
     AND (a.x - c.x) * (p.y - c.y) - (a.y - c.y) * (p.x - c.x) < 0))
SELECT group_id, x, y FROM pts
EXCEPT SELECT group_id, x, y FROM seg
EXCEPT SELECT group_id, x, y FROM tri
"""


def _q146_quantile_buckets(spark, sf):
    """Decile bucketing WITHOUT a global sort: boundaries from the
    deterministic-sample two-phase order statistics (q57's machinery),
    assignment as count(boundaries <= value) against broadcast
    boundary literals — zero shuffle in the assignment pass, then one
    histogram hash-agg. The 100-TB-safe ntile. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.sketch import quantile_bucket_assign
    o = _t(spark, sf, "orders").select(
        F.round(F.col("o_totalprice") * 100.0).cast("long")
        .alias("price_cents"))
    assigned = quantile_bucket_assign(o, "price_cents", n_buckets=10)
    return (assigned.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.min("price_cents").alias("min_cents"),
                 F.max("price_cents").alias("max_cents")))


def _o146() -> str:
    qs = ", ".join(f"({i / 10!r}::DOUBLE)" for i in range(1, 10))
    return f"""
WITH s AS (
  SELECT CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS price_cents
  FROM orders
  WHERE ('0x' || substr(md5(CAST(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)
                             AS VARCHAR)), 1, 2))::BIGINT < 16),
ranked AS (
  SELECT price_cents,
         ROW_NUMBER() OVER (ORDER BY price_cents ASC) AS rn,
         COUNT(*) OVER () AS cnt
  FROM s),
bounds AS (
  SELECT price_cents AS b
  FROM ranked CROSS JOIN (VALUES {qs}) AS qv(q)
  WHERE rn = CAST(FLOOR(q * (cnt - 1)) AS BIGINT) + 1),
o AS (SELECT CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS price_cents
      FROM orders),
a AS (SELECT price_cents,
             (SELECT COUNT(*) FROM bounds WHERE b <= o.price_cents)
               AS bucket
      FROM o)
SELECT CAST(bucket AS INTEGER) AS bucket, COUNT(*) AS n_orders,
       MIN(price_cents) AS min_cents, MAX(price_cents) AS max_cents
FROM a GROUP BY bucket
"""


def _q147_group_ols(spark, sf):
    """Per-priority OLS trend of order value vs order date (dollars ~
    epoch days): exact BIGINT sufficient statistics (partial-agg-
    order-independent) assembled by ONE fixed double expression —
    grid_moran's determinism pattern applied to regression. One
    map-side-combinable hash-agg, no window, no join. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import group_ols
    o = _t(spark, sf, "orders").select(
        "o_orderpriority",
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1970-01-01").cast("date"))
        .cast("long").alias("x_days"),
        F.round(F.col("o_totalprice")).cast("long").alias("y_dollars"))
    return group_ols(o, x_col="x_days", y_col="y_dollars",
                     group_cols=["o_orderpriority"])


_O147 = """
WITH o AS (
  SELECT o_orderpriority,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS x,
         CAST(ROUND(o_totalprice) AS BIGINT) AS y
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderdate IS NOT NULL
    AND o_totalprice IS NOT NULL),
s AS (SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sx2,
             CAST(SUM(y * y) AS BIGINT) AS sy2
      FROM o GROUP BY o_orderpriority)
SELECT o_orderpriority, n, sx, sy, sxy, sx2, sy2,
  CASE WHEN n::DOUBLE * sx2::DOUBLE - sx::DOUBLE * sx::DOUBLE = 0
       THEN NULL
       ELSE (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
            / (n::DOUBLE * sx2::DOUBLE - sx::DOUBLE * sx::DOUBLE)
  END AS slope,
  CASE WHEN n::DOUBLE * sx2::DOUBLE - sx::DOUBLE * sx::DOUBLE = 0
       THEN NULL
       ELSE (sy::DOUBLE
             - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                / (n::DOUBLE * sx2::DOUBLE - sx::DOUBLE * sx::DOUBLE))
               * sx::DOUBLE) / n::DOUBLE
  END AS intercept,
  CASE WHEN n::DOUBLE * sx2::DOUBLE - sx::DOUBLE * sx::DOUBLE = 0
        OR n::DOUBLE * sy2::DOUBLE - sy::DOUBLE * sy::DOUBLE = 0
       THEN NULL
       ELSE (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
            * (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
            / ((n::DOUBLE * sx2::DOUBLE - sx::DOUBLE * sx::DOUBLE)
               * (n::DOUBLE * sy2::DOUBLE - sy::DOUBLE * sy::DOUBLE))
  END AS r2
FROM s
"""


def _q148_group_gini(spark, sf):
    """Per-priority Gini concentration of order value (cents): exact
    BIGINT rank-formula sums (tie order provably irrelevant — equal
    values contribute the same Σ rank·x under any tie permutation),
    ONE group-partitioned window + one hash-agg, final G one fixed
    double expression. Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.relational import group_gini
    o = _t(spark, sf, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100.0).cast("long")
        .alias("price_cents"))
    return group_gini(o, value_col="price_cents",
                      group_cols=["o_orderpriority"])


_O148 = """
WITH o AS (
  SELECT o_orderpriority,
         CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS v
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
r AS (SELECT o_orderpriority, v,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY v ASC) AS rk
      FROM o),
s AS (SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(v) AS BIGINT) AS total,
             CAST(SUM(rk * v) AS BIGINT) AS srx
      FROM r GROUP BY o_orderpriority)
SELECT o_orderpriority, n, total,
  CASE WHEN total = 0 THEN NULL
       ELSE (2.0 * srx::DOUBLE - (n::DOUBLE + 1.0) * total::DOUBLE)
            / (n::DOUBLE * total::DOUBLE)
  END AS gini
FROM s
"""


def _q149_quantize_embeddings(spark, sf):
    """Symmetric per-vector int8 quantization of the embeddings table
    (scale = max|v|/127, q = round(v/scale)), emitted flat so the
    hash covers every component. Pure Column transform/array_max/
    posexplode — zero Python, zero shuffle. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.simsearch import quantize_embeddings
    return quantize_embeddings(_t(spark, sf, "embeddings"))


_O149 = """
WITH e AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) / 127.0
           AS scale
  FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
x AS (SELECT vec_id, scale,
             unnest(embedding) AS v,
             unnest(generate_series(0, len(embedding) - 1)) AS idx
      FROM e)
SELECT vec_id, CAST(idx AS INTEGER) AS idx,
       CAST(CASE WHEN scale = 0 THEN 0
                 ELSE ROUND(CAST(v AS DOUBLE) / scale)
            END AS INTEGER) AS qval,
       scale
FROM x
"""


def _q150_mad_outliers(spark, sf):
    """Robust MAD outlier stats per priority: the heavy-tail-safe
    twin of q90's mean/std outliers — exact integer medians (q19's
    low-order-statistic rule) applied twice, integer verdict
    dev·1000 > 3000·MAD. ONE Exchange on the group key; the second
    median pass re-sorts in place. Round-5 post-pin registration:
    in-repo oracle sweep only."""
    from kml2geojson_spark.relational import group_mad_outliers
    o = _t(spark, sf, "orders").select(
        "o_orderpriority", "o_orderkey",
        F.round(F.col("o_totalprice") * 100.0).cast("long")
        .alias("price_cents"))
    out = group_mad_outliers(o, value_col="price_cents",
                             id_col="o_orderkey",
                             group_cols=["o_orderpriority"])
    return (out.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("mad").alias("mad"),
                 F.sum(F.col("is_outlier").cast("long"))
                 .alias("n_outliers")))


_O150 = """
WITH b AS (
  SELECT o_orderpriority AS g, o_orderkey AS id,
         CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS v
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderkey IS NOT NULL
    AND o_totalprice IS NOT NULL),
r1 AS (SELECT g, id, v,
              ROW_NUMBER() OVER (PARTITION BY g
                                 ORDER BY v ASC, id ASC) AS rn,
              COUNT(*) OVER (PARTITION BY g) AS cnt
       FROM b),
med AS (SELECT g, v AS med FROM r1
        WHERE rn = CAST(FLOOR((cnt + 1) / 2.0) AS BIGINT)),
d AS (SELECT r1.g, r1.id, ABS(r1.v - med.med) AS dev
      FROM r1 JOIN med ON med.g = r1.g),
r2 AS (SELECT g, id, dev,
              ROW_NUMBER() OVER (PARTITION BY g
                                 ORDER BY dev ASC, id ASC) AS rn,
              COUNT(*) OVER (PARTITION BY g) AS cnt
       FROM d),
mad AS (SELECT g, dev AS mad FROM r2
        WHERE rn = CAST(FLOOR((cnt + 1) / 2.0) AS BIGINT)),
j AS (SELECT d.g, d.dev, mad.mad FROM d JOIN mad ON mad.g = d.g)
SELECT g AS o_orderpriority, COUNT(*) AS n, MIN(mad) AS mad,
       CAST(SUM(CASE WHEN dev * 1000 > 3000 * mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM j GROUP BY g
"""


def _q151_group_auc(spark, sf):
    """Per-source ROC AUC of document length predicting lang='en':
    exact BIGINT midrank sums over the (group, score) distinct table
    (tie handling is the textbook midrank rule carried as integers),
    final AUC one fixed double expression. One hash-agg + one
    group-window + one hash-agg; no join. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import group_auc
    d = _t(spark, sf, "documents").select(
        "source", F.col("n_chars").cast("long").alias("len_score"),
        F.when(F.col("lang").isNull(), F.lit(None))
        .otherwise((F.col("lang") == "en").cast("long")).alias("is_en"))
    return group_auc(d, score_col="len_score", label_col="is_en",
                     group_cols=["source"])


_O151 = """
WITH b AS (
  SELECT source AS g, CAST(n_chars AS BIGINT) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
  WHERE source IS NOT NULL AND n_chars IS NOT NULL
    AND lang IS NOT NULL),
ps AS (SELECT g, s, CAST(SUM(y) AS BIGINT) AS p,
              CAST(COUNT(*) AS BIGINT) AS c
       FROM b GROUP BY g, s),
st AS (SELECT g, p, c,
              CAST(SUM(c) OVER (PARTITION BY g ORDER BY s ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS cum
       FROM ps),
agg AS (SELECT g, CAST(SUM(p) AS BIGINT) AS n_pos,
               CAST(SUM(c) - SUM(p) AS BIGINT) AS n_neg,
               CAST(SUM(p * (2 * (cum - c) + c + 1)) AS BIGINT) AS s2
        FROM st GROUP BY g)
SELECT g AS source, n_pos, n_neg,
       s2 - n_pos * (n_pos + 1) AS auc_num,
       CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
            ELSE (s2 - n_pos * (n_pos + 1))::DOUBLE
                 / (2.0 * n_pos::DOUBLE * n_neg::DOUBLE)
       END AS auc
FROM agg
"""


def _q152_ks_2sample(spark, sf):
    """Per-event-type two-sample KS between the spend distributions
    of even- vs odd-user shards (the split-balance drift check):
    exact BIGINT numerator max|cumA*nB - cumB*nA| over the (group,
    value) distinct table, divided once at the end. One hash-agg,
    one Exchange for the cumulative+full-frame windows, one final
    hash-agg. Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.relational import ks_2sample
    e = _t(spark, sf, "events").where(F.col("user_id").isNotNull()) \
        .select(
        "event_type",
        F.round(F.col("value") * 100.0).cast("long").alias("cents"),
        F.when(F.col("user_id") % 2 == 0, F.lit("even"))
        .otherwise(F.lit("odd")).alias("shard"))
    return ks_2sample(e, value_col="cents", side_col="shard",
                      side_a="even", side_b="odd",
                      group_cols=["event_type"])


_O152 = """
WITH b AS (
  SELECT event_type AS g,
         CAST(ROUND(value * 100.0) AS BIGINT) AS v,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL
    AND user_id IS NOT NULL),
pv AS (SELECT g, v, CAST(SUM(a) AS BIGINT) AS ca,
              CAST(COUNT(*) - SUM(a) AS BIGINT) AS cb
       FROM b GROUP BY g, v),
st AS (SELECT g,
              CAST(SUM(ca) OVER (PARTITION BY g ORDER BY v ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cuma,
              CAST(SUM(cb) OVER (PARTITION BY g ORDER BY v ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cumb,
              CAST(SUM(ca) OVER (PARTITION BY g) AS BIGINT) AS na,
              CAST(SUM(cb) OVER (PARTITION BY g) AS BIGINT) AS nb
       FROM pv)
SELECT g AS event_type, MAX(na) AS n_a, MAX(nb) AS n_b,
       MAX(ABS(cuma * nb - cumb * na)) AS ks_num,
       CASE WHEN MAX(na) = 0 OR MAX(nb) = 0 THEN NULL
            ELSE MAX(ABS(cuma * nb - cumb * na))::DOUBLE
                 / (MAX(na)::DOUBLE * MAX(nb)::DOUBLE)
       END AS ks
FROM st GROUP BY g
"""


def _q153_top_p_coverage(spark, sf):
    """Per-event-type user concentration: the minimal number of
    distinct users (ranked by event count desc, id asc — pinned)
    covering 80% of the type's events. Coverage test is the exact
    integer comparison cum_before*1000 < 800*total; one (group,
    item) hash-agg + one group window + one final hash-agg. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import top_p_coverage
    e = _t(spark, sf, "events")
    return top_p_coverage(e, item_col="user_id",
                          group_cols=["event_type"], p_milli=800)


_O153 = """
WITH b AS (
  SELECT event_type AS g, user_id AS it
  FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
pi AS (SELECT g, it, CAST(COUNT(*) AS BIGINT) AS c
       FROM b GROUP BY g, it),
st AS (SELECT g, c,
              CAST(SUM(c) OVER (PARTITION BY g
                                ORDER BY c DESC, it ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS cum,
              CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS total
       FROM pi)
SELECT g AS event_type, COUNT(*) AS n_items,
       MAX(total) AS total,
       CAST(SUM(CASE WHEN (cum - c) * 1000 < 800 * total
                     THEN 1 ELSE 0 END) AS BIGINT) AS k_items,
       MAX(CASE WHEN (cum - c) * 1000 < 800 * total
                THEN cum END) AS head_mass
FROM st GROUP BY g
"""


def _q154_group_entropy(spark, sf):
    """Per-language Shannon entropy of the source mix: category
    counts are exact BIGINTs, ln is integerized to micro-nats PER
    DISTINCT COUNT before any sum (unigram_surprisal's rule), and
    the final entropy is one division of identical integers. Two
    hash-aggs, no window/join/collected list. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import group_entropy
    return group_entropy(_t(spark, sf, "documents"),
                         cat_col="source", group_cols=["lang"])


_O154 = """
WITH b AS (
  SELECT lang AS g, source AS cat FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL),
pc AS (SELECT g, cat, CAST(COUNT(*) AS BIGINT) AS c
       FROM b GROUP BY g, cat),
s AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS k_cats,
             CAST(SUM(c * CAST(ROUND(LN(c::DOUBLE) * 1000000.0)
                               AS BIGINT)) AS BIGINT) AS sclc
      FROM pc GROUP BY g)
SELECT g AS lang, n, k_cats,
       n * CAST(ROUND(LN(n::DOUBLE) * 1000000.0) AS BIGINT) - sclc
         AS ent_num_micro,
       (n * CAST(ROUND(LN(n::DOUBLE) * 1000000.0) AS BIGINT)
        - sclc)::DOUBLE / (n::DOUBLE * 1000000.0) AS entropy
FROM s
"""


def _q155_cusum_changepoint(spark, sf):
    """Per-event-type CUSUM change-point of the spend series ordered
    by (epoch-micros, event_id): exact BIGINT deviations carried xn
    (|n*cum - i*total|), argmax tie pinned to the smallest position
    via min(struct(-dev, i)), magnitude one division of identical
    integers. A single Exchange (cumulative + full-frame windows on
    one partitioning) + one final hash-agg. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.eventops import cusum_changepoint
    e = _t(spark, sf, "events").select(
        "event_type", "event_id",
        F.expr("timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
        .alias("ts_us"),
        F.round(F.col("value") * 100.0).cast("long").alias("cents"))
    return cusum_changepoint(e, value_col="cents", order_col="ts_us",
                             id_col="event_id",
                             group_cols=["event_type"])


_O155 = """
WITH b AS (
  SELECT event_type AS g, epoch_us(ts) AS o, event_id AS id,
         CAST(ROUND(value * 100.0) AS BIGINT) AS v
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL AND value IS NOT NULL),
r AS (SELECT g, o,
             ROW_NUMBER() OVER (PARTITION BY g
                                ORDER BY o ASC, id ASC) AS i,
             CAST(SUM(v) OVER (PARTITION BY g ORDER BY o ASC, id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n,
             CAST(SUM(v) OVER (PARTITION BY g) AS BIGINT) AS tot
      FROM b),
d AS (SELECT g, o, i, n, tot, ABS(n * cum - i * tot) AS dev FROM r),
p AS (SELECT g, o, i, n, tot, dev,
             ROW_NUMBER() OVER (PARTITION BY g
                                ORDER BY dev DESC, i ASC) AS pick
      FROM d)
SELECT g AS event_type, n, tot AS total, CAST(i AS BIGINT) AS cp_pos,
       o AS cp_at, dev AS cusum_num,
       dev::DOUBLE / (n::DOUBLE * n::DOUBLE) AS cusum
FROM p WHERE pick = 1
"""


def _q156_cidr_join(spark, sf):
    """CIDR containment enrichment: md5-derived request IPs (one per
    event) joined to nation-derived networks of mixed prefix length
    (8/12/16) via the /16-bucket EQUI-join (a network with plen < 16
    explodes to its covered buckets, an IP lives in exactly one — no
    theta-join, no dedup pass), then per-network rollup. All integer
    bit arithmetic. Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.netops import cidr_contain_join
    ips = _t(spark, sf, "events").select(
        "user_id",
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")),
                           1, 8), 16, 10).cast("long").alias("ipn"))
    nets = _t(spark, sf, "nation").select(
        "n_name",
        F.concat(F.col("n_nationkey").cast("string"), F.lit(".0.0.0/"),
                 (8 + (F.col("n_nationkey") % 3) * 4).cast("string"))
        .alias("cidr"))
    hits = cidr_contain_join(ips, nets, ip_col="ipn", cidr_col="cidr")
    return hits.groupBy("n_name", "net_plen").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"))


_O156 = """
WITH ip AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS ipn
  FROM events WHERE event_id IS NOT NULL),
net AS (
  SELECT n_name, n_nationkey * 16777216 AS base,
         CAST(8 + (n_nationkey % 3) * 4 AS INT) AS plen
  FROM nation)
SELECT n_name, plen AS net_plen,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM ip JOIN net
  ON (ipn >> (32 - plen)) = (base >> (32 - plen))
GROUP BY n_name, plen
"""


def _q157_rolling_median(spark, sf):
    """Per-event-type trailing-25 rolling median of spend cents
    ordered by (epoch-micros, event_id): exact integer low order
    statistic per frame (q19's rule applied to a bounded rows frame
    — task memory O(window), never an unbounded collect). ONE group
    Exchange. Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.relational import rolling_median
    e = _t(spark, sf, "events").select(
        "event_type", "event_id",
        F.expr("timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
        .alias("ts_us"),
        F.round(F.col("value") * 100.0).cast("long").alias("cents"))
    return rolling_median(e, value_col="cents", order_col="ts_us",
                          id_col="event_id",
                          group_cols=["event_type"], window=25)


_O157 = """
WITH b AS (
  SELECT event_type AS g, epoch_us(ts) AS o, event_id AS id,
         CAST(ROUND(value * 100.0) AS BIGINT) AS v
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL AND value IS NOT NULL),
w AS (
  SELECT g, o, id, v,
         list_sort(list(v) OVER (PARTITION BY g ORDER BY o ASC, id ASC
                                 ROWS BETWEEN 24 PRECEDING
                                 AND CURRENT ROW)) AS fr
  FROM b)
SELECT g AS event_type, o AS ts_us, id AS event_id, v AS value,
       fr[CAST((len(fr) + 1) // 2 AS INT)] AS roll_med
FROM w
"""


def _q158_max_streak(spark, sf):
    """Per-user longest consecutive-active-day streak: classic
    islands arithmetic (day - row_number constant within a run), all
    exact integers; distinct + a user-clustered window/agg tail on
    one Exchange. Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.eventops import max_streak
    e = _t(spark, sf, "events").select(
        "user_id",
        F.expr("timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
               " div 86400000000").alias("day"))
    return max_streak(e, user_col="user_id", day_col="day")


_O158 = """
WITH b AS (
  SELECT DISTINCT user_id AS u,
         epoch_us(ts) // 86400000000 AS d
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
r AS (SELECT u, d,
             d - ROW_NUMBER() OVER (PARTITION BY u ORDER BY d ASC)
               AS isl
      FROM b),
runs AS (SELECT u, isl, CAST(COUNT(*) AS BIGINT) AS len
         FROM r GROUP BY u, isl)
SELECT u AS user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
       COUNT(*) AS n_streaks, CAST(MAX(len) AS BIGINT) AS max_streak
FROM runs GROUP BY u
"""


def _q159_percentile_rank(spark, sf):
    """Per-priority percentile rank of order value (ANSI PERCENT_RANK
    semantics, min-rank ties) carried as exact integers with ONE
    final division — the curriculum-ordering primitive. Rank and the
    full-frame count share a single group Exchange. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import percentile_rank
    o = _t(spark, sf, "orders").select(
        "o_orderpriority", "o_orderkey",
        F.round(F.col("o_totalprice") * 100.0).cast("long")
        .alias("price_cents"))
    return percentile_rank(o, value_col="price_cents",
                           id_col="o_orderkey",
                           group_cols=["o_orderpriority"])


_O159 = """
WITH b AS (
  SELECT o_orderpriority AS g, o_orderkey AS id,
         CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS v
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderkey IS NOT NULL
    AND o_totalprice IS NOT NULL),
r AS (SELECT g, id, v,
             CAST(RANK() OVER (PARTITION BY g ORDER BY v ASC)
                  AS BIGINT) AS rnk,
             CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n
      FROM b)
SELECT g AS o_orderpriority, id AS o_orderkey, v AS value, rnk, n,
       CASE WHEN n = 1 THEN NULL
            ELSE (rnk - 1)::DOUBLE / (n - 1)::DOUBLE
       END AS pct_rank
FROM r
"""


def _q160_jaccard_pairs(spark, sf):
    """Audience overlap between event types: pairwise Jaccard of
    user sets — cooccurrence_pairs for the exact intersections plus
    broadcast degree joins; |A∪B| derived as n_a+n_b−n_both, J one
    division of identical integers. Round-5 post-pin registration:
    in-repo oracle sweep only."""
    from kml2geojson_spark.relational import jaccard_pairs
    e = _t(spark, sf, "events")
    return jaccard_pairs(e, basket_col="user_id",
                         item_col="event_type")


_O160 = """
WITH b AS (
  SELECT DISTINCT user_id AS bk, event_type AS it
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
deg AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS d FROM b GROUP BY it),
p AS (SELECT a.it AS item_a, bb.it AS item_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM b a JOIN b bb ON a.bk = bb.bk AND a.it < bb.it
      GROUP BY a.it, bb.it)
SELECT item_a, item_b, da.d AS n_a, db.d AS n_b, n_both,
       n_both::DOUBLE / (da.d + db.d - n_both)::DOUBLE AS jaccard
FROM p
JOIN deg da ON da.it = item_a
JOIN deg db ON db.it = item_b
"""


def _q161_corr_matrix(spark, sf):
    """Per-returnflag Pearson correlation matrix over four integer-
    ized lineitem metrics: ONE hash-aggregate computes all k·(k+1)/2
    exact BIGINT cross sums (dollars not cents so Σx² stays far from
    2⁶³ at sf0.1), then each correlation is a fixed double expression
    of identical integers — bit-exact cross-engine. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import corr_matrix
    li = _t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
        F.round(F.col("l_extendedprice")).cast("long")
        .alias("price_dollars"),
        F.round(F.col("l_discount") * 100.0).cast("long")
        .alias("disc_pct"),
        F.round(F.col("l_tax") * 100.0).cast("long").alias("tax_pct"))
    return corr_matrix(li,
                       value_cols=["qty", "price_dollars",
                                   "disc_pct", "tax_pct"],
                       group_cols=["l_returnflag"])


_O161 = """
WITH b AS (
  SELECT l_returnflag AS g,
         CAST(ROUND(l_quantity) AS BIGINT) AS q,
         CAST(ROUND(l_extendedprice) AS BIGINT) AS p,
         CAST(ROUND(l_discount * 100.0) AS BIGINT) AS d,
         CAST(ROUND(l_tax * 100.0) AS BIGINT) AS t
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
    AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
    AND l_tax IS NOT NULL),
s AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d) AS BIGINT) AS s_d,
             CAST(SUM(p) AS BIGINT) AS s_p,
             CAST(SUM(q) AS BIGINT) AS s_q,
             CAST(SUM(t) AS BIGINT) AS s_t,
             CAST(SUM(d * d) AS BIGINT) AS p_dd,
             CAST(SUM(d * p) AS BIGINT) AS p_dp,
             CAST(SUM(d * q) AS BIGINT) AS p_dq,
             CAST(SUM(d * t) AS BIGINT) AS p_dt,
             CAST(SUM(p * p) AS BIGINT) AS p_pp,
             CAST(SUM(p * q) AS BIGINT) AS p_pq,
             CAST(SUM(p * t) AS BIGINT) AS p_pt,
             CAST(SUM(q * q) AS BIGINT) AS p_qq,
             CAST(SUM(q * t) AS BIGINT) AS p_qt,
             CAST(SUM(t * t) AS BIGINT) AS p_tt
      FROM b GROUP BY g),
pairs AS (
  SELECT g, n, 'disc_pct' AS col_a, 'price_dollars' AS col_b,
         p_dp AS pab, s_d AS sa, s_p AS sb, p_dd AS paa, p_pp AS pbb
  FROM s
  UNION ALL
  SELECT g, n, 'disc_pct', 'qty', p_dq, s_d, s_q, p_dd, p_qq FROM s
  UNION ALL
  SELECT g, n, 'disc_pct', 'tax_pct', p_dt, s_d, s_t, p_dd, p_tt
  FROM s
  UNION ALL
  SELECT g, n, 'price_dollars', 'qty', p_pq, s_p, s_q, p_pp, p_qq
  FROM s
  UNION ALL
  SELECT g, n, 'price_dollars', 'tax_pct', p_pt, s_p, s_t, p_pp,
         p_tt
  FROM s
  UNION ALL
  SELECT g, n, 'qty', 'tax_pct', p_qt, s_q, s_t, p_qq, p_tt FROM s)
SELECT g AS l_returnflag, col_a, col_b, n,
  CASE WHEN n::DOUBLE * paa::DOUBLE - sa::DOUBLE * sa::DOUBLE <= 0
        OR n::DOUBLE * pbb::DOUBLE - sb::DOUBLE * sb::DOUBLE <= 0
       THEN NULL
       ELSE (n::DOUBLE * pab::DOUBLE - sa::DOUBLE * sb::DOUBLE)
            / sqrt((n::DOUBLE * paa::DOUBLE - sa::DOUBLE * sa::DOUBLE)
                 * (n::DOUBLE * pbb::DOUBLE - sb::DOUBLE * sb::DOUBLE))
  END AS corr
FROM pairs
"""


_Q162_PRED = """
CASE WHEN {h} % 10 < 7 THEN lang
     WHEN {h} % 10 < 9 THEN
       CASE lang WHEN 'de' THEN 'en' WHEN 'en' THEN 'es'
                 WHEN 'es' THEN 'fr' WHEN 'fr' THEN 'zh'
                 ELSE 'de' END
     ELSE
       CASE lang WHEN 'de' THEN 'es' WHEN 'en' THEN 'fr'
                 WHEN 'es' THEN 'zh' WHEN 'fr' THEN 'de'
                 ELSE 'en' END
END
"""


def _q162_classification_report(spark, sf):
    """Per-class precision/recall/F1 off one confusion-matrix
    hash-agg. The 'classifier' under eval is a deterministic
    md5-noise corruption of the gold lang label (70% correct, 20%
    rotation-1, 10% rotation-2) so both engines replay the identical
    predictions; the operator under test is the exact-integer
    confusion math. Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.quality import classification_report
    h = ("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 6), "
         "16, 10) AS BIGINT)")
    d = _t(spark, sf, "documents").select(
        F.col("lang").alias("actual"),
        F.expr(_Q162_PRED.format(h=h)).alias("predicted"))
    return classification_report(d, actual_col="actual",
                                 predicted_col="predicted")


_O162_TEMPLATE = """
WITH d AS (
  SELECT lang AS actual, {pred} AS predicted
  FROM (SELECT lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                 ::BIGINT AS h
        FROM documents WHERE lang IS NOT NULL)),
conf AS (SELECT actual AS a, predicted AS p,
                CAST(COUNT(*) AS BIGINT) AS c
         FROM d WHERE actual IS NOT NULL AND predicted IS NOT NULL
         GROUP BY actual, predicted),
ap AS (SELECT a AS label, CAST(SUM(c) AS BIGINT) AS support
       FROM conf GROUP BY a),
pp AS (SELECT p AS label, CAST(SUM(c) AS BIGINT) AS ppn
       FROM conf GROUP BY p),
tp AS (SELECT a AS label, CAST(SUM(c) AS BIGINT) AS tpn
       FROM conf WHERE a = p GROUP BY a),
o AS (SELECT COALESCE(ap.label, pp.label) AS label,
             COALESCE(tpn, 0) AS tp,
             COALESCE(ppn, 0) - COALESCE(tpn, 0) AS fp,
             COALESCE(support, 0) - COALESCE(tpn, 0) AS fn,
             COALESCE(support, 0) AS support,
             COALESCE(ppn, 0) AS ppn
      FROM ap FULL OUTER JOIN pp ON ap.label = pp.label
      LEFT JOIN tp ON COALESCE(ap.label, pp.label) = tp.label)
SELECT label, tp, fp, fn, support,
  CASE WHEN ppn = 0 THEN NULL
       ELSE tp::DOUBLE / ppn::DOUBLE END AS precision,
  CASE WHEN support = 0 THEN NULL
       ELSE tp::DOUBLE / support::DOUBLE END AS recall,
  CASE WHEN ppn + support = 0 THEN NULL
       ELSE 2.0 * tp::DOUBLE / (ppn + support)::DOUBLE END AS f1
FROM o
"""

_O162 = _O162_TEMPLATE.format(pred=_Q162_PRED.format(h="h"))


def _q163_chi2(spark, sf):
    """Chi-square independence of order priority × order status with
    Cramér's V: exact BIGINT contingency marginals, micro-unit-floored
    per-cell contributions summed as integers (addition-order
    independent), zero cells of the full grid included. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import chi2_independence
    return chi2_independence(_t(spark, sf, "orders"),
                             col_a="o_orderpriority",
                             col_b="o_orderstatus")


_O163 = """
WITH cells AS (
  SELECT o_orderpriority AS a, o_orderstatus AS b,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
  GROUP BY 1, 2),
ra AS (SELECT a, CAST(SUM(obs) AS BIGINT) AS ra FROM cells GROUP BY a),
cb AS (SELECT b, CAST(SUM(obs) AS BIGINT) AS cb FROM cells GROUP BY b),
tot AS (SELECT CAST(SUM(ra) AS BIGINT) AS n FROM ra),
grid AS (
  SELECT ra.a, cb.b, ra.ra, cb.cb, COALESCE(cells.obs, 0) AS obs, tot.n
  FROM ra CROSS JOIN cb CROSS JOIN tot
  LEFT JOIN cells ON cells.a = ra.a AND cells.b = cb.b),
contrib AS (
  SELECT n, a, b,
         CAST(FLOOR(
           CAST((obs * n - ra * cb) AS DOUBLE)
           * CAST((obs * n - ra * cb) AS DOUBLE)
           / CAST(n * ra * cb AS DOUBLE) * 1000000.0) AS BIGINT) AS c
  FROM grid),
agg AS (
  SELECT MAX(n) AS n,
         CAST(COUNT(DISTINCT a) AS BIGINT) AS k_a,
         CAST(COUNT(DISTINCT b) AS BIGINT) AS k_b,
         CAST(SUM(c) AS BIGINT) AS chi2_micro
  FROM contrib)
SELECT n, k_a, k_b, (k_a - 1) * (k_b - 1) AS dof, chi2_micro,
       CASE WHEN (k_a - 1) * (k_b - 1) > 0
            THEN chi2_micro::DOUBLE / 1000000.0 END AS chi2,
       CASE WHEN (k_a - 1) * (k_b - 1) > 0 AND n > 0
            THEN sqrt((chi2_micro::DOUBLE / 1000000.0)
                      / CAST(n * (LEAST(k_a, k_b) - 1) AS DOUBLE)) END
         AS cramers_v
FROM agg
"""


def _q164_welch_ttest(spark, sf):
    """Welch t of returned-vs-refused line revenue per linestatus:
    one conditional hash-agg of exact BIGINT n/Σv/Σv² per side, then
    fixed IEEE double expressions — bit-identical cross-engine.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import welch_ttest
    li = _t(spark, sf, "lineitem").select(
        "l_linestatus", "l_returnflag",
        F.round(F.col("l_extendedprice")).cast("long")
        .alias("price_dollars"))
    return welch_ttest(li, value_col="price_dollars",
                       group_col="l_returnflag",
                       group_a="A", group_b="R",
                       group_cols=["l_linestatus"])


_O164 = """
WITH b AS (
  SELECT l_linestatus AS g, l_returnflag AS f,
         CAST(ROUND(l_extendedprice) AS BIGINT) AS v
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_linestatus IS NOT NULL
    AND l_returnflag IN ('A', 'R')),
s AS (
  SELECT g,
         CAST(SUM(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN f = 'A' THEN v ELSE 0 END) AS BIGINT) AS s_a,
         CAST(SUM(CASE WHEN f = 'A' THEN v * v ELSE 0 END) AS BIGINT)
           AS ss_a,
         CAST(SUM(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN f = 'R' THEN v ELSE 0 END) AS BIGINT) AS s_b,
         CAST(SUM(CASE WHEN f = 'R' THEN v * v ELSE 0 END) AS BIGINT)
           AS ss_b
  FROM b GROUP BY g),
e AS (
  SELECT g, n_a, n_b,
         s_a::DOUBLE / n_a::DOUBLE AS mean_a,
         s_b::DOUBLE / n_b::DOUBLE AS mean_b,
         ((n_a::DOUBLE * ss_a::DOUBLE - s_a::DOUBLE * s_a::DOUBLE)
          / (n_a::DOUBLE * (n_a::DOUBLE - 1.0))) / n_a::DOUBLE AS va,
         ((n_b::DOUBLE * ss_b::DOUBLE - s_b::DOUBLE * s_b::DOUBLE)
          / (n_b::DOUBLE * (n_b::DOUBLE - 1.0))) / n_b::DOUBLE AS vb
  FROM s)
SELECT g AS l_linestatus, n_a, n_b,
       CASE WHEN n_a > 0 THEN mean_a END AS mean_a,
       CASE WHEN n_b > 0 THEN mean_b END AS mean_b,
       CASE WHEN n_a >= 2 AND n_b >= 2 AND va + vb > 0
            THEN (mean_a - mean_b) / sqrt(va + vb) END AS t_stat,
       CASE WHEN n_a >= 2 AND n_b >= 2 AND va + vb > 0
            THEN ((va + vb) * (va + vb))
                 / (va * va / (n_a::DOUBLE - 1.0)
                    + vb * vb / (n_b::DOUBLE - 1.0)) END AS welch_df
FROM e
"""


def _q165_snm_pairs(spark, sf):
    """Sorted-neighborhood candidate pairs over the documents table
    (window 3, 16-char normalized key, 2-char block partitioning —
    never a global sort). Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.textops import sorted_neighborhood_pairs
    return sorted_neighborhood_pairs(_t(spark, sf, "documents"),
                                     window=3)


_O165 = """
WITH b AS (
  SELECT doc_id AS id,
         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                1, 16) AS key
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
k AS (SELECT id, key, substr(key, 1, 2) AS blk FROM b
      WHERE length(key) > 0),
n AS (
  SELECT id, key,
         lead(id, 1) OVER w AS nid1, lead(key, 1) OVER w AS nkey1,
         lead(id, 2) OVER w AS nid2, lead(key, 2) OVER w AS nkey2
  FROM k WINDOW w AS (PARTITION BY blk ORDER BY key, id)),
p AS (
  SELECT id, key, nid1 AS nid, nkey1 AS nkey FROM n
  WHERE nid1 IS NOT NULL
  UNION ALL
  SELECT id, key, nid2, nkey2 FROM n WHERE nid2 IS NOT NULL)
SELECT LEAST(id, nid) AS id_a, GREATEST(id, nid) AS id_b,
       CASE WHEN id < nid THEN key ELSE nkey END AS key_a,
       CASE WHEN id < nid THEN nkey ELSE key END AS key_b
FROM p
"""


def _q166_winnow(spark, sf):
    """Winnowing fingerprints (k=8, w=4) over a deterministic 5%
    doc_id slice (the explode is ~n_chars rows per doc — the slice
    keeps the DuckDB replay tractable at sf0.1; the Spark side is
    per-doc-partitioned and needs no slice). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.textops import winnow_fingerprints
    d = _t(spark, sf, "documents").where(F.col("doc_id") % 20 == 0)
    return winnow_fingerprints(d, k=8, w=4)


_O166 = """
WITH b AS (
  SELECT doc_id AS id, text AS t,
         LEAST(length(text) - 8 + 1, 1048575) AS ng
  FROM documents
  WHERE doc_id IS NOT NULL AND doc_id % 20 = 0
    AND text IS NOT NULL AND length(text) >= 8),
g AS (
  SELECT id, ng, CAST(gs.pos AS INTEGER) AS pos,
         ('0x' || substr(md5(substr(t, CAST(gs.pos AS INTEGER), 8)),
                         1, 8))::BIGINT * 1048576 + gs.pos AS key
  FROM b, LATERAL (SELECT unnest(range(1, ng + 1)) AS pos) gs),
m AS (
  SELECT id, ng, pos,
         MIN(key) OVER (PARTITION BY id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
           AS sel
  FROM g)
SELECT DISTINCT id AS doc_id, sel // 1048576 AS fp,
       CAST(sel % 1048576 AS INTEGER) AS pos
FROM m WHERE pos <= GREATEST(ng - 4 + 1, 1)
"""


def _q167_bfs_hops(spark, sf):
    """BFS hop distance (≤ 3 undirected hops) from the nation%5
    supplier seed set over the customer→supplier purchase graph
    (supplier ids offset by 10⁷ as in q85) — frontier-relaxation
    joins vs the oracle's depth-capped recursive CTE. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.graph import bfs_hops
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .select(F.col("o_custkey").alias("src"),
                     (F.col("l_suppkey") + 10_000_000).alias("dst")))
    seeds = (_t(spark, sf, "supplier")
             .where(F.col("s_nationkey") % 5 == 0)
             .select((F.col("s_suppkey") + 10_000_000).alias("node")))
    return bfs_hops(edges, seeds, max_hops=3)


_O167 = """
WITH RECURSIVE
e0 AS (
  SELECT o_custkey AS src, l_suppkey + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
e AS (SELECT DISTINCT src, dst FROM
        (SELECT src, dst FROM e0
         UNION ALL SELECT dst AS src, src AS dst FROM e0)),
seed AS (
  SELECT DISTINCT s_suppkey + 10000000 AS node
  FROM supplier WHERE s_nationkey % 5 = 0 AND s_suppkey IS NOT NULL),
walk(node, hops) AS (
  SELECT node, 0 FROM seed
  UNION
  SELECT e.dst, walk.hops + 1 FROM walk JOIN e ON e.src = walk.node
  WHERE walk.hops < 3)
SELECT node, CAST(MIN(hops) AS INTEGER) AS hops FROM walk GROUP BY node
"""


def _q168_hits(spark, sf):
    """Unnormalized integer HITS (2 rounds) over the customer→supplier
    purchase graph (supplier ids offset by 10⁷ as in q85): exact
    BIGINT alternating-path counts — float HITS could never
    hash-match; the ranking is unchanged by normalization. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.graph import hits_scores
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .select(F.col("o_custkey").alias("src"),
                     (F.col("l_suppkey") + 10_000_000).alias("dst")))
    return hits_scores(edges, n_iters=2)


_O168 = """
WITH e AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
h0 AS (SELECT DISTINCT src AS node, CAST(1 AS BIGINT) AS score FROM e),
a1 AS (SELECT e.dst AS node, CAST(SUM(h0.score) AS BIGINT) AS score
       FROM e JOIN h0 ON e.src = h0.node GROUP BY e.dst),
h1 AS (SELECT e.src AS node, CAST(SUM(a1.score) AS BIGINT) AS score
       FROM e JOIN a1 ON e.dst = a1.node GROUP BY e.src),
a2 AS (SELECT e.dst AS node, CAST(SUM(h1.score) AS BIGINT) AS score
       FROM e JOIN h1 ON e.src = h1.node GROUP BY e.dst),
h2 AS (SELECT e.src AS node, CAST(SUM(a2.score) AS BIGINT) AS score
       FROM e JOIN a2 ON e.dst = a2.node GROUP BY e.src)
SELECT COALESCE(h2.node, a2.node) AS node,
       COALESCE(h2.score, 0) AS hub, COALESCE(a2.score, 0) AS auth
FROM h2 FULL OUTER JOIN a2 ON h2.node = a2.node
"""


def _q169_label_vote(spark, sf):
    """One-hop neighbor label vote: spread the lang label from the
    doc_id%7 seed set across a deterministic same-source document
    graph; majority vote over distinct labeled neighbors, ties to the
    smallest label via min(struct(-votes, label)). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.graph import neighbor_label_vote
    docs = _t(spark, sf, "documents")
    lab = (docs.where(F.col("doc_id") % 7 == 0)
           .select(F.col("doc_id").alias("node"),
                   F.col("lang").alias("label")))
    e = (docs.alias("x").join(docs.alias("y"), "source")
         .where(F.col("x.doc_id") < F.col("y.doc_id"))
         .where((F.col("x.doc_id") + F.col("y.doc_id")) % 13 == 0)
         .select(F.col("x.doc_id").alias("src"),
                 F.col("y.doc_id").alias("dst")))
    return neighbor_label_vote(e, lab)


_O169 = """
WITH e0 AS (
  SELECT x.doc_id AS src, y.doc_id AS dst
  FROM documents x JOIN documents y ON x.source = y.source
  WHERE x.doc_id < y.doc_id AND (x.doc_id + y.doc_id) % 13 = 0),
e AS (SELECT DISTINCT src, dst FROM
       (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
lab AS (SELECT DISTINCT doc_id AS n, lang AS l FROM documents
        WHERE doc_id % 7 = 0 AND lang IS NOT NULL),
v AS (SELECT e.dst AS node, lab.l AS label,
             CAST(COUNT(*) AS BIGINT) AS votes
      FROM e JOIN lab ON e.src = lab.n
      WHERE e.dst NOT IN (SELECT n FROM lab)
      GROUP BY e.dst, lab.l),
r AS (SELECT node, label, votes,
             ROW_NUMBER() OVER (PARTITION BY node
                                ORDER BY votes DESC, label) AS rk
      FROM v)
SELECT node, label, votes FROM r WHERE rk = 1
"""


def _q170_psi_drift(spark, sf):
    """PSI drift of the n_chars distribution between the doc_id%2
    halves of the documents table: exact BIGINT bin counts, per-bin
    ln integerized to milli-nats on the exact cross products before
    any sum (addition-order independent), one final division.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.quality import psi_drift
    d = _t(spark, sf, "documents").withColumn(
        "half", F.col("doc_id") % 2)
    return psi_drift(d, value_col="n_chars", split_col="half",
                     split_a=0, split_b=1, lo=0.0, hi=4000.0,
                     n_bins=16)


_O170 = """
WITH b AS (
  SELECT CASE WHEN FLOOR((CAST(n_chars AS DOUBLE) - 0.0) / 250.0) >= 16
              THEN 15
              ELSE CAST(FLOOR((CAST(n_chars AS DOUBLE) - 0.0) / 250.0)
                        AS BIGINT) END AS bin,
         doc_id % 2 AS half
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars >= 0 AND n_chars <= 4000),
cells AS (
  SELECT bin,
         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM b GROUP BY bin),
tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
               CAST(SUM(cb) AS BIGINT) AS nb FROM cells),
t AS (
  SELECT cells.*, tot.na, tot.nb,
         CASE WHEN ca > 0 AND cb > 0
              THEN (ca * nb - cb * na)
                   * (CAST(ROUND(ln(CAST(ca * nb AS DOUBLE)) * 1000.0)
                           AS BIGINT)
                      - CAST(ROUND(ln(CAST(cb * na AS DOUBLE)) * 1000.0)
                             AS BIGINT))
              ELSE 0 END AS term,
         CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END AS used
  FROM cells CROSS JOIN tot),
agg AS (
  SELECT MAX(na) AS n_a, MAX(nb) AS n_b,
         CAST(SUM(used) AS BIGINT) AS n_bins_used,
         CAST(SUM(1 - used) AS BIGINT) AS n_zero_bins,
         CAST(SUM(term) AS BIGINT) AS psi_num
  FROM t)
SELECT n_a, n_b, n_bins_used, n_zero_bins, psi_num,
       CASE WHEN n_a > 0 AND n_b > 0
            THEN psi_num::DOUBLE / CAST(n_a * n_b * 1000 AS DOUBLE) END
         AS psi
FROM agg
"""


def _q171_mannwhitney(spark, sf):
    """Mann-Whitney U of returned-vs-refused line revenue per
    linestatus: per-value side counts + exclusive prefix sum (the
    ks_2sample shape), U carried ×2 as an exact BIGINT so tie-halves
    stay integral, tie-corrected z one fixed double expression.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import mannwhitney_u
    li = _t(spark, sf, "lineitem").select(
        "l_linestatus", "l_returnflag",
        F.round(F.col("l_extendedprice")).cast("long")
        .alias("price_dollars"))
    return mannwhitney_u(li, value_col="price_dollars",
                         side_col="l_returnflag",
                         side_a="A", side_b="R",
                         group_cols=["l_linestatus"])


_O171 = """
WITH b AS (
  SELECT l_linestatus AS g,
         CAST(ROUND(l_extendedprice) AS BIGINT) AS v,
         CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS a
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_linestatus IS NOT NULL
    AND l_returnflag IN ('A', 'R')),
pv AS (SELECT g, v, CAST(SUM(a) AS BIGINT) AS ca,
              CAST(COUNT(*) - SUM(a) AS BIGINT) AS cb
       FROM b GROUP BY g, v),
st AS (
  SELECT g, ca, cb,
         COALESCE(SUM(cb) OVER (PARTITION BY g ORDER BY v
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS beforeb,
         SUM(ca) OVER (PARTITION BY g) AS na,
         SUM(cb) OVER (PARTITION BY g) AS nb,
         (ca + cb) * (ca + cb) * (ca + cb) - (ca + cb) AS t3
  FROM pv),
s AS (
  SELECT g, CAST(MAX(na) AS BIGINT) AS n_a,
         CAST(MAX(nb) AS BIGINT) AS n_b,
         CAST(SUM(ca * (2 * beforeb + cb)) AS BIGINT) AS u2_a,
         CAST(SUM(t3) AS BIGINT) AS T3
  FROM st GROUP BY g)
SELECT g AS l_linestatus, n_a, n_b, u2_a,
  CASE WHEN n_a > 0 AND n_b > 0
       THEN u2_a::DOUBLE / 2.0 END AS u_a,
  CASE WHEN n_a > 0 AND n_b > 0 AND
            (n_a::DOUBLE * n_b::DOUBLE / 12.0)
            * ((n_a + n_b)::DOUBLE + 1.0
               - T3::DOUBLE / ((n_a + n_b)::DOUBLE
                               * ((n_a + n_b)::DOUBLE - 1.0))) > 0
       THEN (u2_a::DOUBLE - n_a::DOUBLE * n_b::DOUBLE)
            / (2.0 * sqrt((n_a::DOUBLE * n_b::DOUBLE / 12.0)
               * ((n_a + n_b)::DOUBLE + 1.0
                  - T3::DOUBLE / ((n_a + n_b)::DOUBLE
                                  * ((n_a + n_b)::DOUBLE - 1.0)))))
  END AS z
FROM s
"""


def _q172_prop_ztest(spark, sf):
    """Two-proportion z-test of the urgent-order rate between order
    statuses F and O: four exact BIGINTs from one conditional
    hash-agg, rates/pooled-p/z fixed double expressions. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import two_proportion_ztest
    o = _t(spark, sf, "orders").select(
        "o_orderstatus",
        (F.col("o_orderpriority") == "1-URGENT").cast("long")
        .alias("urgent"))
    return two_proportion_ztest(o, success_col="urgent",
                                group_col="o_orderstatus",
                                group_a="F", group_b="O")


_O172 = """
WITH b AS (
  SELECT o_orderstatus AS g,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS v
  FROM orders WHERE o_orderstatus IN ('F', 'O')),
s AS (
  SELECT
    CAST(SUM(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN g <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN g = 'F' THEN v ELSE 0 END) AS BIGINT) AS s_a,
    CAST(SUM(CASE WHEN g <> 'F' THEN v ELSE 0 END) AS BIGINT) AS s_b
  FROM b)
SELECT n_a, n_b, s_a, s_b,
  CASE WHEN n_a > 0 THEN s_a::DOUBLE / n_a::DOUBLE END AS p_a,
  CASE WHEN n_b > 0 THEN s_b::DOUBLE / n_b::DOUBLE END AS p_b,
  CASE WHEN n_a > 0 AND n_b > 0 AND s_a + s_b > 0
            AND s_a + s_b < n_a + n_b
       THEN (s_a::DOUBLE / n_a::DOUBLE - s_b::DOUBLE / n_b::DOUBLE)
            / sqrt(((s_a + s_b)::DOUBLE / (n_a + n_b)::DOUBLE)
                   * (1.0 - (s_a + s_b)::DOUBLE / (n_a + n_b)::DOUBLE)
                   * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE))
  END AS z
FROM s
"""


def _q173_lag_autocorr(spark, sf):
    """Lag-1/2/3 autocorrelation of each supplier's line-revenue
    series (order totalized as orderkey·100+linenumber — unique per
    supplier): one per-group window sort feeds all lag leads, six
    exact BIGINT sufficient statistics per (supplier, lag), acf one
    fixed double expression. Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.relational import lag_autocorr
    li = _t(spark, sf, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_linenumber", "l_partkey",
        F.round(F.col("l_extendedprice")).cast("long").alias("price"))
    return lag_autocorr(li, value_col="price",
                        order_cols=["l_orderkey", "l_linenumber",
                                    "l_partkey"],
                        group_cols=["l_suppkey"], lags=(1, 2, 3))


_O173 = """
WITH b AS (
  SELECT l_suppkey AS g, l_orderkey AS o1, l_linenumber AS o2,
         l_partkey AS o3,
         CAST(ROUND(l_extendedprice) AS BIGINT) AS x
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_suppkey IS NOT NULL
    AND l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
    AND l_partkey IS NOT NULL),
led AS (
  SELECT g, x,
         lead(x, 1) OVER w AS y1,
         lead(x, 2) OVER w AS y2,
         lead(x, 3) OVER w AS y3
  FROM b WINDOW w AS (PARTITION BY g ORDER BY o1, o2, o3)),
p AS (
  SELECT g, 1 AS lag, x, y1 AS y FROM led WHERE y1 IS NOT NULL
  UNION ALL
  SELECT g, 2, x, y2 FROM led WHERE y2 IS NOT NULL
  UNION ALL
  SELECT g, 3, x, y3 FROM led WHERE y3 IS NOT NULL),
s AS (
  SELECT g, lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM p GROUP BY g, lag)
SELECT g AS l_suppkey, lag, n_pairs,
  CASE WHEN n_pairs >= 2
            AND n_pairs::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE
                > 0
            AND n_pairs::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE
                > 0
       THEN (n_pairs::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
            / sqrt((n_pairs::DOUBLE * sxx::DOUBLE
                    - sx::DOUBLE * sx::DOUBLE)
                 * (n_pairs::DOUBLE * syy::DOUBLE
                    - sy::DOUBLE * sy::DOUBLE))
  END AS acf
FROM s
"""


def _q174_benford(spark, sf):
    """Benford first-digit audit of line revenue (dollars) per
    returnflag: leading digit from the STRING rendering (never
    floor(log10) — ulp-unsafe at powers of ten), expected
    probabilities as precomputed micro-integer literals identical in
    both plans, deviations exact BIGINTs. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.quality import benford_audit
    li = _t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice")).cast("long")
        .alias("price_dollars"))
    return benford_audit(li, value_col="price_dollars",
                         group_cols=["l_returnflag"])


_O174 = """
WITH m(digit, p_micro) AS (VALUES
  (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
  (6, 66947), (7, 57992), (8, 51153), (9, 45757)),
b AS (
  SELECT l_returnflag AS g,
         CAST(substr(CAST(ABS(CAST(ROUND(l_extendedprice) AS BIGINT))
                          AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL
    AND CAST(ROUND(l_extendedprice) AS BIGINT) <> 0
    AND l_returnflag IS NOT NULL),
c AS (SELECT g, digit, CAST(COUNT(*) AS BIGINT) AS n_d
      FROM b GROUP BY g, digit),
tot AS (SELECT g, CAST(SUM(n_d) AS BIGINT) AS n FROM c GROUP BY g),
grid AS (SELECT DISTINCT c.g, m.digit, m.p_micro FROM c, m)
SELECT grid.g AS l_returnflag, grid.digit,
       COALESCE(c.n_d, 0) AS n_d, COALESCE(tot.n, 0) AS n,
       CASE WHEN COALESCE(tot.n, 0) > 0
            THEN COALESCE(c.n_d, 0)::DOUBLE / tot.n::DOUBLE
       END AS p_obs,
       grid.p_micro::DOUBLE / 1000000.0 AS p_exp,
       ABS(COALESCE(c.n_d, 0) * 1000000
           - COALESCE(tot.n, 0) * grid.p_micro) AS dev_micro
FROM grid
LEFT JOIN c ON c.g = grid.g AND c.digit = grid.digit
LEFT JOIN tot ON tot.g = grid.g
"""


def _q175_anova(spark, sf):
    """One-way ANOVA F of line revenue across returnflag levels per
    linestatus: per-level exact BIGINT n/Σv/Σv², between-groups
    contributions milli-floored per level before the BIGINT sum
    (addition-order independent), F one fixed double expression.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import oneway_anova
    li = _t(spark, sf, "lineitem").select(
        "l_linestatus", "l_returnflag",
        F.round(F.col("l_extendedprice")).cast("long")
        .alias("price_dollars"))
    return oneway_anova(li, value_col="price_dollars",
                        factor_col="l_returnflag",
                        group_cols=["l_linestatus"])


_O175 = """
WITH b AS (
  SELECT l_linestatus AS g, l_returnflag AS lvl,
         CAST(ROUND(l_extendedprice) AS BIGINT) AS v
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_linestatus IS NOT NULL
    AND l_returnflag IS NOT NULL),
lv AS (
  SELECT g, lvl, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS ss
  FROM b GROUP BY g, lvl),
agg AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(s) AS BIGINT) AS S, CAST(SUM(ss) AS BIGINT) AS SS,
         CAST(SUM(CAST(FLOOR(s::DOUBLE * s::DOUBLE / n::DOUBLE
                             * 1000.0) AS BIGINT)) AS BIGINT) AS cb
  FROM lv GROUP BY g),
fin AS (
  SELECT g, k, n,
         cb - CAST(FLOOR(S::DOUBLE * S::DOUBLE / n::DOUBLE * 1000.0)
                   AS BIGINT) AS ssb_milli,
         1000 * SS - cb AS ssw_milli
  FROM agg)
SELECT g AS l_linestatus, k, n, ssb_milli, ssw_milli,
  CASE WHEN k >= 2 AND n > k AND ssw_milli > 0
       THEN (ssb_milli::DOUBLE / (k - 1)::DOUBLE)
            / (ssw_milli::DOUBLE / (n - k)::DOUBLE) END AS f_stat
FROM fin
"""


def _q176_bellman_ford(spark, sf):
    """Bounded-horizon Bellman-Ford (≤ 3 undirected hops) from the
    nation%5 supplier seeds over the purchase graph with small
    integer edge weights (suppkey%5 + 1, so the oracle's recursive
    CTE dedups on bounded distinct costs): exact BIGINT costs,
    hops = first round the minimum was achieved. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.graph import bellman_ford_hops
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .select(F.col("o_custkey").alias("src"),
                     (F.col("l_suppkey") + 10_000_000).alias("dst"),
                     (F.col("l_suppkey") % 5 + 1).alias("weight")))
    seeds = (_t(spark, sf, "supplier")
             .where(F.col("s_nationkey") % 5 == 0)
             .select((F.col("s_suppkey") + 10_000_000).alias("node")))
    return bellman_ford_hops(edges, seeds, max_hops=3, directed=False)


_O176 = """
WITH RECURSIVE
e0 AS (
  SELECT o_custkey AS src, l_suppkey + 10000000 AS dst,
         l_suppkey % 5 + 1 AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
eu AS (SELECT src, dst, w FROM e0
       UNION ALL SELECT dst, src, w FROM e0),
e AS (SELECT src, dst, CAST(MIN(w) AS BIGINT) AS w
      FROM eu GROUP BY src, dst),
seed AS (SELECT DISTINCT s_suppkey + 10000000 AS node
         FROM supplier WHERE s_nationkey % 5 = 0
           AND s_suppkey IS NOT NULL),
walk(node, cost, hops) AS (
  SELECT node, CAST(0 AS BIGINT), 0 FROM seed
  UNION
  SELECT e.dst, walk.cost + e.w, walk.hops + 1
  FROM walk JOIN e ON e.src = walk.node
  WHERE walk.hops < 3),
sel AS (SELECT node, MIN(cost) AS cost FROM walk GROUP BY node)
SELECT w.node, s.cost, CAST(MIN(w.hops) AS INTEGER) AS hops
FROM walk w JOIN sel s ON w.node = s.node AND w.cost = s.cost
GROUP BY w.node, s.cost
"""


def _q177_centroid_drift(spark, sf):
    """Centroid cosine drift between the vec_id%2 halves of the
    embeddings table: per-vector int8 quantization (the q149 rule),
    per-dimension EXACT BIGINT component sums, cosine one fixed
    double expression of three BIGINT aggregates — the float
    centroid's order-dependent reduction never appears. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.simsearch import embedding_centroid_drift
    e = _t(spark, sf, "embeddings").withColumn(
        "half", (F.col("vec_id") % 2).cast("int"))
    return embedding_centroid_drift(e, split_col="half",
                                    split_a=0, split_b=1)


_O177 = """
WITH b AS (
  SELECT vec_id % 2 = 0 AS ia, embedding,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) / 127.0
           AS sc
  FROM embeddings
  WHERE embedding IS NOT NULL AND vec_id % 2 IN (0, 1)),
x AS (SELECT ia, sc,
             unnest(generate_series(0, len(embedding) - 1)) AS d,
             unnest(embedding) AS v
      FROM b),
qv AS (SELECT ia, d,
              CAST(CASE WHEN sc = 0 THEN 0
                        ELSE ROUND(CAST(v AS DOUBLE) / sc)
                   END AS BIGINT) AS q
       FROM x),
pd_ AS (
  SELECT d AS dim,
         CAST(SUM(CASE WHEN ia THEN q ELSE 0 END) AS BIGINT) AS sa,
         CAST(SUM(CASE WHEN NOT ia THEN q ELSE 0 END) AS BIGINT) AS sb,
         CAST(SUM(CASE WHEN ia AND d = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS na0,
         CAST(SUM(CASE WHEN NOT ia AND d = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS nb0
  FROM qv GROUP BY d),
agg AS (
  SELECT CAST(MAX(na0) AS BIGINT) AS n_a,
         CAST(MAX(nb0) AS BIGINT) AS n_b,
         CAST(COUNT(*) AS BIGINT) AS dims,
         CAST(SUM(sa * sb) AS BIGINT) AS dot,
         CAST(SUM(sa * sa) AS BIGINT) AS norm2_a,
         CAST(SUM(sb * sb) AS BIGINT) AS norm2_b
  FROM pd_)
SELECT n_a, n_b, dims, dot, norm2_a, norm2_b,
  CASE WHEN n_a > 0 AND n_b > 0 AND norm2_a > 0 AND norm2_b > 0
       THEN dot::DOUBLE
            / (sqrt(norm2_a::DOUBLE) * sqrt(norm2_b::DOUBLE))
  END AS cosine,
  CASE WHEN n_a > 0 AND n_b > 0 AND norm2_a > 0 AND norm2_b > 0
       THEN 1.0 - dot::DOUBLE
            / (sqrt(norm2_a::DOUBLE) * sqrt(norm2_b::DOUBLE))
  END AS drift
FROM agg
"""


def _q178_ndcg(spark, sf):
    """NDCG@10 per returnflag: system ranks parts by revenue, graded
    relevance = total quantity; discounts are precomputed micro
    literals for the 10 fixed positions, DCG/IDCG exact BIGINT dot
    products, both rankings totalized by the part id. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import ndcg_at_k
    li = _t(spark, sf, "lineitem")
    d = (li.groupBy("l_returnflag", "l_partkey")
         .agg(F.round(F.sum(F.col("l_extendedprice"))).cast("long")
              .alias("rev"),
              F.round(F.sum("l_quantity")).cast("long").alias("qty")))
    return ndcg_at_k(d, group_cols=["l_returnflag"],
                     id_col="l_partkey", score_col="rev",
                     rel_col="qty", k=10)


def _o178() -> str:
    import math
    disc = [round(1_000_000 / math.log2(i + 1)) for i in range(1, 11)]
    darr = "[" + ", ".join(str(x) for x in disc) + "]"
    return f"""
WITH d AS (
  SELECT l_returnflag AS g, l_partkey AS id,
         CAST(ROUND(SUM(l_extendedprice)) AS BIGINT) AS s,
         CAST(ROUND(SUM(l_quantity)) AS BIGINT) AS r
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_partkey IS NOT NULL
  GROUP BY 1, 2),
rk AS (
  SELECT g, r,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY s DESC, id ASC)
           AS rk_sys,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY r DESC, id ASC)
           AS rk_ideal
  FROM d),
agg AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(CASE WHEN rk_sys <= 10
                       THEN r * ({darr})[rk_sys] ELSE 0 END)
              AS BIGINT) AS dcg_micro,
         CAST(SUM(CASE WHEN rk_ideal <= 10
                       THEN r * ({darr})[rk_ideal] ELSE 0 END)
              AS BIGINT) AS idcg_micro
  FROM rk GROUP BY g)
SELECT g AS l_returnflag, n_items, dcg_micro, idcg_micro,
       CASE WHEN idcg_micro > 0
            THEN dcg_micro::DOUBLE / idcg_micro::DOUBLE END AS ndcg
FROM agg
"""


def _q179_rrf(spark, sf):
    """RRF fusion of two top-100 part rankings (by revenue, by
    quantity): per-run min-rank collapse, one full-outer equi-join,
    score a FIXED two-term IEEE sum — never a data-ordered float
    aggregation. The run construction's global row_number windows run
    over the part-level AGGREGATE (bounded by distinct parts), the
    package's documented tiny-frame window exception. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from pyspark.sql import Window as W
    from kml2geojson_spark.relational import rrf_fuse
    li = _t(spark, sf, "lineitem")
    pa = (li.groupBy("l_partkey")
          .agg(F.round(F.sum("l_extendedprice")).cast("long")
               .alias("m")))
    runa = pa.select(F.col("l_partkey").alias("item"),
                     F.row_number().over(
                         W.orderBy(F.col("m").desc(),
                                   F.col("l_partkey").asc()))
                     .alias("rnk"))
    pb = (li.groupBy("l_partkey")
          .agg(F.round(F.sum("l_quantity")).cast("long").alias("m")))
    runb = pb.select(F.col("l_partkey").alias("item"),
                     F.row_number().over(
                         W.orderBy(F.col("m").desc(),
                                   F.col("l_partkey").asc()))
                     .alias("rnk"))
    return rrf_fuse([runa.where(F.col("rnk") <= 100),
                     runb.where(F.col("rnk") <= 100)], k=60)


_O179 = """
WITH pa AS (
  SELECT l_partkey AS item,
         ROW_NUMBER() OVER (ORDER BY CAST(ROUND(SUM(l_extendedprice))
                                          AS BIGINT) DESC,
                            l_partkey ASC) AS rnk
  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY l_partkey),
pb AS (
  SELECT l_partkey AS item,
         ROW_NUMBER() OVER (ORDER BY CAST(ROUND(SUM(l_quantity))
                                          AS BIGINT) DESC,
                            l_partkey ASC) AS rnk
  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY l_partkey),
a AS (SELECT item, CAST(MIN(rnk) AS BIGINT) AS rank_1 FROM pa
      WHERE rnk <= 100 GROUP BY item),
b AS (SELECT item, CAST(MIN(rnk) AS BIGINT) AS rank_2 FROM pb
      WHERE rnk <= 100 GROUP BY item),
f AS (SELECT COALESCE(a.item, b.item) AS item, rank_1, rank_2
      FROM a FULL OUTER JOIN b ON a.item = b.item)
SELECT item,
       CAST((rank_1 IS NOT NULL)::INTEGER
            + (rank_2 IS NOT NULL)::INTEGER AS INTEGER) AS n_runs_hit,
       rank_1, rank_2,
       (0.0 + CASE WHEN rank_1 IS NOT NULL
                   THEN 1.0 / (60.0 + rank_1::DOUBLE) ELSE 0.0 END)
           + CASE WHEN rank_2 IS NOT NULL
                  THEN 1.0 / (60.0 + rank_2::DOUBLE) ELSE 0.0 END
         AS rrf_score
FROM f
"""


def _q180_kcore(spark, sf):
    """8-core of the customer–supplier purchase graph: iterative
    degree peeling to the fixpoint (raises rather than return a
    partial peel), replayed by a rounds-unrolled MATERIALIZED-CTE
    oracle — extra rounds after the fixpoint are no-ops, so the
    unroll count only needs to be ≥ the convergence round. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.graph import k_core
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .select(F.col("o_custkey").alias("src"),
                     (F.col("l_suppkey") + 10_000_000).alias("dst")))
    return k_core(edges, k=8, rounds=20)


def _o180() -> str:
    s = """
WITH e0x AS (
  SELECT o_custkey AS src, l_suppkey + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
    AND o_custkey <> l_suppkey + 10000000),
e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM
        (SELECT src, dst FROM e0x UNION ALL SELECT dst, src FROM e0x))"""
    prev = "e0"
    for i in range(1, 21):
        s += f""",
n{i} AS MATERIALIZED (SELECT src AS node FROM {prev} GROUP BY src
         HAVING COUNT(*) >= 8),
e{i} AS MATERIALIZED (SELECT t.src, t.dst FROM {prev} t
         JOIN n{i} a ON t.src = a.node
         JOIN n{i} b ON t.dst = b.node)"""
        prev = f"e{i}"
    s += f"""
SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
FROM {prev} GROUP BY src"""
    return s


def _q181_burst_dedup(spark, sf):
    """Burst (retry) dedup of the events stream per (user, type):
    chained 1-hour gap bursts, keeper = min(struct(ts, id)), all time
    arithmetic exact microsecond BIGINTs (timestampdiff — a float
    epoch would flip threshold-adjacent bursts). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.eventops import event_dedup_bursts
    return event_dedup_bursts(_t(spark, sf, "events"),
                              key_cols=["user_id", "event_type"],
                              gap_seconds=3600)


_O181 = """
WITH b AS (
  SELECT user_id AS u, event_type AS et, ts AS t, event_id AS id,
         CASE WHEN date_diff('microseconds', lag(ts) OVER w, ts)
                   > 3600000000
                   OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS nw
  FROM events
  WHERE ts IS NOT NULL AND event_id IS NOT NULL
    AND user_id IS NOT NULL AND event_type IS NOT NULL
  WINDOW w AS (PARTITION BY user_id, event_type
               ORDER BY ts, event_id)),
s AS (
  SELECT u, et, t, id,
         SUM(nw) OVER (PARTITION BY u, et ORDER BY t, id
                       ROWS UNBOUNDED PRECEDING) AS burst
  FROM b),
agg AS (
  SELECT u, et, burst,
         MIN(struct_pack(t := t, id := id)) AS kp,
         CAST(COUNT(*) AS BIGINT) AS burst_size,
         CAST(date_diff('microseconds', MIN(t), MAX(t)) AS BIGINT)
           AS burst_span_us
  FROM s GROUP BY u, et, burst)
SELECT u AS user_id, et AS event_type,
       CAST(burst AS BIGINT) AS burst_idx,
       kp.id AS keeper_id, kp.t AS keeper_ts, burst_size,
       burst_span_us
FROM agg
"""


def _q182_trimmed_mean(spark, sf):
    """5%-each-side trimmed mean of line revenue per returnflag:
    value-level count prefix sums, exact integer trim counts and kept
    multiplicities, ONE final division — no float quantile anywhere.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import trimmed_mean
    li = _t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice")).cast("long")
        .alias("price_dollars"))
    return trimmed_mean(li, value_col="price_dollars",
                        group_cols=["l_returnflag"], trim_milli=50)


_O182 = """
WITH b AS (
  SELECT l_returnflag AS g, CAST(ROUND(l_extendedprice) AS BIGINT) AS v
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
pv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY g, v),
st AS (
  SELECT g, v, c,
         CAST(COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT)
           AS before,
         CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM pv),
kp AS (
  SELECT g, v, c, before, n,
         GREATEST(0, LEAST(before + c, n - (n * 50) // 1000)
                     - GREATEST(before, (n * 50) // 1000)) AS kept
  FROM st)
SELECT g AS l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(SUM(v * kept) AS BIGINT) AS trimmed_sum,
       CASE WHEN SUM(kept) > 0
            THEN SUM(v * kept)::DOUBLE / SUM(kept)::DOUBLE END
         AS trimmed_mean
FROM kp GROUP BY g
"""


def _q183_ratio_metric(spark, sf):
    """Delta-method ratio metric (revenue per unit quantity) per
    returnflag: six exact BIGINT sufficient statistics from ONE
    hash-agg; ratio and its standard error fixed double expressions
    (nested whens so ANSI never divides by a zero denominator in an
    unevaluated branch). Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.relational import ratio_metric_stats
    li = _t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice")).cast("long").alias("rev"),
        F.round(F.col("l_quantity")).cast("long").alias("qty"))
    return ratio_metric_stats(li, num_col="rev", den_col="qty",
                              group_cols=["l_returnflag"])


_O183 = """
WITH b AS (
  SELECT l_returnflag AS g,
         CAST(ROUND(l_extendedprice) AS BIGINT) AS x,
         CAST(ROUND(l_quantity) AS BIGINT) AS y
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    AND l_returnflag IS NOT NULL),
s AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sum_num,
         CAST(SUM(y) AS BIGINT) AS sum_den,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM b GROUP BY g),
e AS (
  SELECT g, n, sum_num, sum_den,
         sum_num::DOUBLE / sum_den::DOUBLE AS r,
         (n::DOUBLE * sxx::DOUBLE - sum_num::DOUBLE * sum_num::DOUBLE)
           / (n::DOUBLE * (n::DOUBLE - 1.0)) AS vxx,
         (n::DOUBLE * syy::DOUBLE - sum_den::DOUBLE * sum_den::DOUBLE)
           / (n::DOUBLE * (n::DOUBLE - 1.0)) AS vyy,
         (n::DOUBLE * sxy::DOUBLE - sum_num::DOUBLE * sum_den::DOUBLE)
           / (n::DOUBLE * (n::DOUBLE - 1.0)) AS vxy,
         sum_den::DOUBLE / n::DOUBLE AS ybar
  FROM s)
SELECT g AS l_returnflag, n, sum_num, sum_den,
  CASE WHEN sum_den <> 0 THEN r END AS ratio,
  CASE WHEN sum_den <> 0 AND n >= 2
            AND (vxx + r * r * vyy - 2.0 * r * vxy)
                / (n::DOUBLE * ybar * ybar) >= 0.0
       THEN sqrt((vxx + r * r * vyy - 2.0 * r * vxy)
                 / (n::DOUBLE * ybar * ybar)) END AS se
FROM e
"""


def _q184_table_diff(spark, sf):
    """Snapshot diff of orders vs a deterministically perturbed copy
    (drop orderkey%17 rows, bump price on orderkey%5): per-key md5
    row-hash folds compared after distinct-shrink — never a row-level
    value join. Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.quality import table_diff
    o = _t(spark, sf, "orders")
    right = (o.where(F.col("o_orderkey") % 17 != 0)
             .withColumn("o_totalprice",
                         F.when(F.col("o_orderkey") % 5 == 0,
                                F.col("o_totalprice") + 1)
                         .otherwise(F.col("o_totalprice"))))
    return table_diff(o, right, key_cols=["o_orderkey"],
                      value_cols=["o_totalprice", "o_orderstatus"])


_O184 = """
WITH l0 AS (
  SELECT o_orderkey AS k,
         ('0x' || substr(md5(
            COALESCE(CAST(o_totalprice AS VARCHAR), chr(0) || 'N')
            || chr(31)
            || COALESCE(CAST(o_orderstatus AS VARCHAR), chr(0) || 'N')
            || chr(31)), 1, 15))::BIGINT AS h
  FROM orders WHERE o_orderkey IS NOT NULL),
r0 AS (
  SELECT o_orderkey AS k,
         ('0x' || substr(md5(
            COALESCE(CAST(CASE WHEN o_orderkey % 5 = 0
                               THEN o_totalprice + 1
                               ELSE o_totalprice END AS VARCHAR),
                     chr(0) || 'N')
            || chr(31)
            || COALESCE(CAST(o_orderstatus AS VARCHAR), chr(0) || 'N')
            || chr(31)), 1, 15))::BIGINT AS h
  FROM orders WHERE o_orderkey IS NOT NULL AND o_orderkey % 17 <> 0),
lk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS nl,
              CAST(SUM(h) AS BIGINT) AS fl FROM l0 GROUP BY k),
rk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS nr,
              CAST(SUM(h) AS BIGINT) AS fr FROM r0 GROUP BY k),
j AS (SELECT lk.k AS k1, rk.k AS k2, nl, nr, fl, fr
      FROM lk FULL OUTER JOIN rk ON lk.k = rk.k)
SELECT CAST(COALESCE(SUM(nl), 0) AS BIGINT) AS n_left,
       CAST(COALESCE(SUM(nr), 0) AS BIGINT) AS n_right,
       CAST(SUM(CASE WHEN nl IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_left_keys,
       CAST(SUM(CASE WHEN nr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_right_keys,
       CAST(SUM(CASE WHEN nl > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_keys_left,
       CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_keys_right,
       CAST(SUM(CASE WHEN nl IS NULL AND nr IS NOT NULL THEN 1 ELSE 0
                END) AS BIGINT) AS n_added,
       CAST(SUM(CASE WHEN nr IS NULL AND nl IS NOT NULL THEN 1 ELSE 0
                END) AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN nl IS NOT NULL AND nr IS NOT NULL
                      AND NOT (fl = fr AND nl = nr)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(SUM(CASE WHEN nl IS NOT NULL AND nr IS NOT NULL
                      AND fl = fr AND nl = nr
                THEN 1 ELSE 0 END) AS BIGINT) AS n_same
FROM j
"""


def _q185_cohort_ltv(spark, sf):
    """Cohort LTV curves over the events table (cents-integerized
    value, 30-day horizon): exact BIGINT per-(cohort, age) sums and
    cumulative window; the cohort day is emitted as its ISO string so
    the cross-engine hash is date-representation independent.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.eventops import cohort_ltv
    return (cohort_ltv(_t(spark, sf, "events"), value_scale=100,
                       max_age_days=30)
            .withColumn("cohort_day",
                        F.col("cohort_day").cast("string")))


_O185 = """
WITH b AS (
  SELECT user_id AS u, CAST(ts AS DATE) AS d,
         CAST(ROUND(CAST(value AS DOUBLE) * 100.0) AS BIGINT) AS v
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
c AS (SELECT u, MIN(d) AS cd FROM b GROUP BY u),
sz AS (SELECT cd, CAST(COUNT(*) AS BIGINT) AS n_users_cohort
       FROM c GROUP BY cd),
j AS (SELECT b.u, b.d, b.v, c.cd, date_diff('day', c.cd, b.d) AS age
      FROM b JOIN c ON b.u = c.u
      WHERE date_diff('day', c.cd, b.d) <= 30),
pa AS (SELECT cd, age, CAST(SUM(v) AS BIGINT) AS value_scaled
       FROM j GROUP BY cd, age)
SELECT CAST(pa.cd AS VARCHAR) AS cohort_day,
       CAST(pa.age AS INTEGER) AS age_days,
       sz.n_users_cohort, pa.value_scaled,
       CAST(SUM(pa.value_scaled) OVER (PARTITION BY pa.cd
                       ORDER BY pa.age
                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_value_scaled
FROM pa JOIN sz ON sz.cd = pa.cd
"""


def _q186_spearman(spark, sf):
    """Spearman rank correlation of quantity vs line price per
    returnflag: doubled midranks (exact BIGINT window expressions),
    DECIMAL(38,0) sufficient statistics, one final double ratio.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import spearman_corr
    li = _t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice")).cast("long")
        .alias("price_dollars"))
    return spearman_corr(li, x_col="qty", y_col="price_dollars",
                         group_cols=["l_returnflag"])


_O186 = """
WITH b AS (
  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
         CAST(ROUND(l_extendedprice) AS BIGINT) AS y
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL
    AND l_extendedprice IS NOT NULL),
r AS (
  SELECT g,
         CAST(2 * RANK() OVER (PARTITION BY g ORDER BY x)
              + COUNT(*) OVER (PARTITION BY g, x) - 1 AS HUGEINT)
           AS rx,
         CAST(2 * RANK() OVER (PARTITION BY g ORDER BY y)
              + COUNT(*) OVER (PARTITION BY g, y) - 1 AS HUGEINT)
           AS ry
  FROM b),
s AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(rx) AS sx, SUM(ry) AS sy,
         SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy,
         SUM(rx * ry) AS sxy
  FROM r GROUP BY g)
SELECT g AS l_returnflag, n,
       CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
                 AND n * syy - sy * sy > 0
            THEN CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
       END AS spearman
FROM s
"""


def _q187_kruskal(spark, sf):
    """Kruskal-Wallis H of the dollar-rounded order total across the
    five order priorities per order status: doubled midranks,
    per-level floor(S'^2/n) terms summed as BIGINT, exact tie-cube
    correction, one final double expression.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import kruskal_wallis
    od = _t(spark, sf, "orders").select(
        "o_orderstatus", "o_orderpriority",
        F.round(F.col("o_totalprice")).cast("long").alias("price"))
    return kruskal_wallis(od, value_col="price",
                          factor_col="o_orderpriority",
                          group_cols=["o_orderstatus"])


_O187 = """
WITH b AS (
  SELECT o_orderstatus AS g, o_orderpriority AS lvl,
         CAST(ROUND(o_totalprice) AS BIGINT) AS v
  FROM orders
  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
    AND o_totalprice IS NOT NULL),
r AS (
  SELECT g, lvl,
         CAST(2 * RANK() OVER (PARTITION BY g ORDER BY v)
              + COUNT(*) OVER (PARTITION BY g, v) - 1 AS HUGEINT) AS rr
  FROM b),
lv AS (
  SELECT g, lvl, CAST(COUNT(*) AS BIGINT) AS n, SUM(rr) AS s
  FROM r GROUP BY g, lvl),
g1 AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS k, SUM(n) AS n,
         CAST(SUM(CAST(FLOOR(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                        / CAST(n AS DOUBLE)) AS BIGINT)) AS BIGINT)
           AS t_sum
  FROM lv GROUP BY g),
tie AS (
  SELECT g, v, CAST(COUNT(*) AS HUGEINT) AS t FROM b GROUP BY g, v),
g2 AS (
  SELECT g, CAST(SUM(t * t * t - t) AS BIGINT) AS tie_cube FROM tie GROUP BY g)
SELECT g1.g AS o_orderstatus, k, CAST(g1.n AS BIGINT) AS n, t_sum,
       tie_cube,
       CASE WHEN k >= 2 AND g1.n >= 2
                 AND 1.0 - CAST(tie_cube AS DOUBLE)
                     / CAST(CAST(g1.n AS HUGEINT) * g1.n * g1.n - g1.n
                            AS DOUBLE) > 0.0
            THEN (3.0 * CAST(t_sum AS DOUBLE)
                  / (CAST(g1.n AS DOUBLE) * (CAST(g1.n AS DOUBLE) + 1.0))
                  - 3.0 * (CAST(g1.n AS DOUBLE) + 1.0))
                 / (1.0 - CAST(tie_cube AS DOUBLE)
                    / CAST(CAST(g1.n AS HUGEINT) * g1.n * g1.n - g1.n
                           AS DOUBLE))
       END AS h_stat
FROM g1 JOIN g2 ON g1.g = g2.g
"""


def _q188_moments(spark, sf):
    """Per-returnflag skewness and excess kurtosis of quantity: exact
    DECIMAL(38,0) power sums, exact scaled central moments, fixed
    IEEE shape expressions (sqrt is correctly rounded).
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import group_moments
    li = _t(spark, sf, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty"))
    return group_moments(li, value_col="qty",
                         group_cols=["l_returnflag"])


_O188 = """
WITH b AS (
  SELECT l_returnflag AS g, CAST(l_quantity AS HUGEINT) AS v
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL),
s AS (
  SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(v) AS s1, SUM(v * v) AS s2,
         SUM(v * v * v) AS s3, SUM(v * v * v * v) AS s4
  FROM b GROUP BY g)
SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
       CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
       CAST(n * s2 - s1 * s1 AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS m2,
       CASE WHEN n >= 2 AND n * s2 - s1 * s1 > 0
            THEN CAST(n * n * s3 - 3 * n * s2 * s1
                      + 2 * s1 * s1 * s1 AS DOUBLE)
                 / (CAST(n * s2 - s1 * s1 AS DOUBLE)
                    * SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE)))
       END AS skewness,
       CASE WHEN n >= 2 AND n * s2 - s1 * s1 > 0
            THEN CAST(n * n * n * s4 - 4 * n * n * s3 * s1
                      + 6 * n * s2 * s1 * s1
                      - 3 * s1 * s1 * s1 * s1 AS DOUBLE)
                 / (CAST(n * s2 - s1 * s1 AS DOUBLE)
                    * CAST(n * s2 - s1 * s1 AS DOUBLE)) - 3.0
       END AS kurtosis_excess
FROM s
"""


def _q189_quantiles(spark, sf):
    """Exact p50/p90/p99 of the dollar-rounded order total per order
    priority: integer permille targets ceil(n*pm/1000) over the
    value-level cumulative — no float probability ever multiplies a
    count. Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import group_quantiles
    od = _t(spark, sf, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice")).cast("long").alias("price"))
    return group_quantiles(od, value_col="price",
                           group_cols=["o_orderpriority"],
                           permilles=[500, 900, 990])


_O189 = """
WITH b AS (
  SELECT o_orderpriority AS g,
         CAST(ROUND(o_totalprice) AS BIGINT) AS v
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
pv AS (
  SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY g, v),
cum AS (
  SELECT g, v, c,
         CAST(SUM(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT)
           AS cm,
         CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM pv),
ex AS (
  SELECT g, v, c, cm, n, UNNEST([500, 900, 990]) AS permille
  FROM cum)
SELECT g AS o_orderpriority, permille, n, v AS value
FROM ex
WHERE cm >= CEIL(n * permille / 1000.0)
  AND cm - c < CEIL(n * permille / 1000.0)
"""


def _q190_clustering(spark, sf):
    """Per-node local clustering coefficient over the part co-order
    graph (q86's edge set): exact degree + degree-oriented triangle
    counts, ONE fixed IEEE ratio. Round-5 post-pin registration:
    in-repo oracle sweep only."""
    from kml2geojson_spark.graph import clustering_coefficient
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (a.join(b, "l_orderkey")
             .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
             .select(F.col("a.l_partkey").alias("src"),
                     F.col("b.l_partkey").alias("dst")))
    return clustering_coefficient(edges)


_O190 = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node),
t AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1 JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
corners AS (
  SELECT a AS node FROM t
  UNION ALL SELECT b FROM t
  UNION ALL SELECT c FROM t),
tri AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS nt FROM corners
  GROUP BY node)
SELECT deg.node, degree, COALESCE(nt, 0) AS n_triangles,
       CASE WHEN degree >= 2
            THEN 2.0 * CAST(COALESCE(nt, 0) AS DOUBLE)
                 / (CAST(degree AS DOUBLE)
                    * (CAST(degree AS DOUBLE) - 1.0))
       END AS clustering_coeff
FROM deg LEFT JOIN tri ON tri.node = deg.node
"""


def _q191_kaplan_meier(spark, sf):
    """Kaplan-Meier survival of user lifetime (minutes between first
    and last event), event = the user ever purchased, censored
    otherwise, cohort = user_id mod 3: exact at-risk/event counts,
    micro-nat integerized cumulative log-survival. The engine-local
    exp(survival) column is projected out (exp differs by 1 ulp
    across libms — measured); the oracle hashes exact integers only.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.eventops import kaplan_meier
    ev = _t(spark, sf, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull())
    pu = (ev.groupBy("user_id")
          .agg((F.max(F.unix_micros(F.col("ts").cast("timestamp")))
                - F.min(F.unix_micros(F.col("ts").cast("timestamp"))))
               .alias("diff_us"),
               F.max((F.col("event_type") == "purchase")
                     .cast("long")).alias("ev")))
    surv = pu.select(
        F.pmod(F.col("user_id"), F.lit(3)).alias("cohort"),
        F.expr("diff_us div 60000000").alias("dur_min"),
        "ev")
    return kaplan_meier(surv, duration_col="dur_min", event_col="ev",
                        group_cols=["cohort"])         .select("cohort", "t", "at_risk", "events", "censored",
                "log_surv_micro")


_O191 = """
WITH pu AS (
  SELECT user_id % 3 AS cohort,
         (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 60000000 AS t0,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS ev
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IS NOT NULL
  GROUP BY user_id),
pt AS (
  SELECT cohort, CAST(t0 AS BIGINT) AS t,
         CAST(SUM(ev) AS BIGINT) AS d,
         CAST(SUM(1 - ev) AS BIGINT) AS c
  FROM pu GROUP BY cohort, t0),
w AS (
  SELECT cohort, t, d, c,
         CAST(SUM(d + c) OVER (PARTITION BY cohort) AS BIGINT)
           AS total,
         CAST(COALESCE(SUM(d + c) OVER (
              PARTITION BY cohort ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS prior
  FROM pt),
evt AS (
  SELECT cohort, t, d, c, total - prior AS at_risk
  FROM w WHERE d > 0),
lg AS (
  SELECT cohort, t, at_risk, d, c,
         CAST(SUM(CASE WHEN at_risk - d > 0
              THEN CAST(ROUND(LN(CAST(at_risk - d AS DOUBLE)) * 1e6)
                        AS BIGINT)
                   - CAST(ROUND(LN(CAST(at_risk AS DOUBLE)) * 1e6)
                          AS BIGINT)
              ELSE 0 END) OVER (PARTITION BY cohort ORDER BY t)
              AS BIGINT) AS cum,
         MAX(CASE WHEN at_risk = d THEN 1 ELSE 0 END)
           OVER (PARTITION BY cohort ORDER BY t) AS zf
  FROM evt)
SELECT cohort, t, at_risk, d AS events, c AS censored,
       CASE WHEN zf = 0 THEN cum END AS log_surv_micro
FROM lg
"""


def _q192_theil(spark, sf):
    """Theil T inequality of document length per language: micro-nat
    integerized x*ln(x) summed as exact BIGINT, ONE fixed double
    expression. Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.relational import theil_index
    docs = _t(spark, sf, "documents").select(
        "lang", F.col("n_chars").cast("long").alias("n_chars"))
    return theil_index(docs, value_col="n_chars", group_cols=["lang"])


_O192 = """
WITH b AS (
  SELECT lang AS g, CAST(n_chars AS BIGINT) AS v FROM documents
  WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
pv AS (
  SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY g, v),
s AS (
  SELECT g, CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(c * v) AS BIGINT) AS sum_v,
         CAST(SUM(c * v * CAST(ROUND(LN(CAST(v AS DOUBLE)) * 1e6)
                               AS BIGINT)) AS BIGINT) AS xlnx_micro
  FROM pv GROUP BY g)
SELECT g AS lang, n, sum_v, xlnx_micro,
       (CAST(xlnx_micro AS DOUBLE) / CAST(sum_v AS DOUBLE)
        - CAST(CAST(ROUND(LN(CAST(sum_v AS DOUBLE)) * 1e6) AS BIGINT)
               - CAST(ROUND(LN(CAST(n AS DOUBLE)) * 1e6) AS BIGINT)
          AS DOUBLE)) / 1e6 AS theil
FROM s
"""


def _q193_zipf(spark, sf):
    """Zipf-law OLS fit of ln(freq) ~ ln(rank) over the corpus token
    frequencies: two-phase distributed ranks, micro-nat integerized
    lns, exact DECIMAL sufficient statistics, fixed IEEE closed form.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.textops import zipf_fit
    return zipf_fit(_t(spark, sf, "documents"))


_O193 = """
WITH toks AS (
  SELECT UNNEST(string_split(lower(text), ' ')) AS token
  FROM documents WHERE text IS NOT NULL),
tf AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
  FROM toks WHERE token <> '' GROUP BY token),
r AS (
  SELECT freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rnk
  FROM tf),
l AS (
  SELECT CAST(ROUND(LN(CAST(rnk AS DOUBLE)) * 1e6) AS HUGEINT) AS x,
         CAST(ROUND(LN(CAST(freq AS DOUBLE)) * 1e6) AS HUGEINT) AS y
  FROM r),
s AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
  FROM l)
SELECT CAST(n AS BIGINT) AS n_terms,
  CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
       THEN CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
  CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
       THEN ((CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) / 1e6
  END AS intercept,
  CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
            AND n * syy - sy * sy > 0
       THEN CAST(n * sxy - sx * sy AS DOUBLE)
            * CAST(n * sxy - sx * sy AS DOUBLE)
            / (CAST(n * sxx - sx * sx AS DOUBLE)
               * CAST(n * syy - sy * sy AS DOUBLE)) END AS r2
FROM s
"""


def _q194_odds_ratio(spark, sf):
    """2x2 odds ratio per user-cohort: exposure = the user ever
    clicked, outcome = the user ever purchased; exact BIGINT cells,
    micro-nat integerized log-OR, Wald CI left in log scale (exp is
    engine-local). Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.relational import odds_ratio
    ev = _t(spark, sf, "events").where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
    pu = (ev.groupBy("user_id")
          .agg(F.max((F.col("event_type") == "click").cast("long"))
               .alias("e"),
               F.max((F.col("event_type") == "purchase").cast("long"))
               .alias("o")))
    strata = pu.select(F.pmod(F.col("user_id"), F.lit(4))
                       .alias("cohort"), "e", "o")
    return odds_ratio(strata, exposure_col="e", outcome_col="o",
                      group_cols=["cohort"])


_O194 = """
WITH pu AS (
  SELECT user_id % 4 AS cohort,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS e,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS o
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
  GROUP BY user_id),
s AS (
  SELECT cohort,
    CAST(SUM(CASE WHEN e = 1 AND o = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n11,
    CAST(SUM(CASE WHEN e = 1 AND o = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n10,
    CAST(SUM(CASE WHEN e = 0 AND o = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n01,
    CAST(SUM(CASE WHEN e = 0 AND o = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n00
  FROM pu GROUP BY cohort),
x AS (
  SELECT cohort, n11, n10, n01, n00,
         n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0 AS ok,
         CASE WHEN n11 > 0 AND n10 > 0 AND n01 > 0 AND n00 > 0 THEN
           CAST(ROUND(LN(CAST(n11 AS DOUBLE)) * 1e6) AS BIGINT)
           + CAST(ROUND(LN(CAST(n00 AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(ROUND(LN(CAST(n10 AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(ROUND(LN(CAST(n01 AS DOUBLE)) * 1e6) AS BIGINT)
         END AS lom,
         SQRT(1.0 / CAST(n11 AS DOUBLE) + 1.0 / CAST(n10 AS DOUBLE)
              + 1.0 / CAST(n01 AS DOUBLE)
              + 1.0 / CAST(n00 AS DOUBLE)) AS se
  FROM s)
SELECT cohort, n11, n10, n01, n00,
       CASE WHEN ok THEN CAST(n11 * n00 AS DOUBLE)
                         / CAST(n10 * n01 AS DOUBLE) END AS odds_ratio,
       CASE WHEN ok THEN lom END AS log_or_micro,
       CASE WHEN ok THEN se END AS se_log_or,
       CASE WHEN ok THEN CAST(lom AS DOUBLE) - 1.959964 * se * 1e6 END
         AS ci_lo_log_micro,
       CASE WHEN ok THEN CAST(lom AS DOUBLE) + 1.959964 * se * 1e6 END
         AS ci_hi_log_micro
FROM x
"""


def _q195_getis_ord(spark, sf):
    """Getis-Ord Gi* hot-spot z-scores over the q10 customer cell
    raster (res 9, radius-1 Chebyshev ring): cell_smooth's scatter
    shape + one equi-join back + a broadcast 1-row global aggregate;
    every inner term an exact BIGINT, ONE fixed IEEE expression per
    cell. Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial import encode_points
    from kml2geojson_spark.spatial.ops import getis_ord_gstar
    counts = (encode_points(_customer_points(spark, sf), 9)
              .groupBy("cell_id").agg(F.count(F.lit(1)).alias("n")))
    return getis_ord_gstar(counts, 9, 1)


def _o195() -> str:
    n = 1 << 9
    gx, gy = _grid_sql("x", "y", 9)
    return (
        f"WITH pts AS ({_PTS_SQL}), "
        f"pg AS (SELECT {gx} AS cx, {gy} AS cy FROM pts), "
        "cnt AS (SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS v "
        "FROM pg GROUP BY cx, cy), "
        "offs AS (SELECT t1.dx, t2.dy FROM range(-1,2) t1(dx), "
        "range(-1,2) t2(dy)), "
        f"sc AS (SELECT ((cx + dx) % {n} + {n}) % {n} AS tx, "
        f"cy + dy AS ty, v FROM cnt, offs "
        f"WHERE cy + dy >= 0 AND cy + dy < {n}), "
        "ring AS (SELECT tx, ty, CAST(SUM(v) AS BIGINT) AS s, "
        "CAST(COUNT(*) AS BIGINT) AS w FROM sc GROUP BY tx, ty), "
        "gstats AS (SELECT CAST(COUNT(*) AS BIGINT) AS gn, "
        "CAST(SUM(v) AS BIGINT) AS gt, "
        "CAST(SUM(v * v) AS BIGINT) AS gu FROM cnt), "
        "j AS (SELECT c.cx AS gx, c.cy AS gy, c.v, r.s, r.w, "
        "g.gn, g.gt, g.gu FROM cnt c "
        "JOIN ring r ON r.tx = c.cx AND r.ty = c.cy CROSS JOIN gstats g)"
        + _morton_ctes("v, s, w, gn, gt, gu", 9, "j")
        + " SELECT cell_id, v AS value, s AS nbr_sum, w AS nbr_cnt, "
        "CASE WHEN gn >= 2 AND gn * gu - gt * gt > 0 "
        "AND gn * w - w * w > 0 "
        "THEN CAST(gn * s - gt * w AS DOUBLE) "
        "/ SQRT(CAST(gn * gu - gt * gt AS DOUBLE) "
        "* CAST(gn * w - w * w AS DOUBLE) "
        "/ CAST(gn - 1 AS DOUBLE)) END AS gi_star FROM enc")


def _q196_cohens_d(spark, sf):
    """Cohen's d / Hedges' g of the dollar-rounded order total
    between open and fulfilled orders per priority: exact BIGINT
    sufficient statistics, fixed IEEE effect-size expressions.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import cohens_d
    od = _t(spark, sf, "orders").select(
        "o_orderpriority", "o_orderstatus",
        F.round(F.col("o_totalprice")).cast("long").alias("price"))
    return cohens_d(od, value_col="price", group_col="o_orderstatus",
                    group_a="O", group_b="F",
                    group_cols=["o_orderpriority"])


_O196 = """
WITH b AS (
  SELECT o_orderpriority AS g, o_orderstatus AS lvl,
         CAST(ROUND(o_totalprice) AS BIGINT) AS v
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
    AND o_orderstatus IN ('O', 'F')),
s AS (
  SELECT g,
    CAST(SUM(CASE WHEN lvl = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(SUM(CASE WHEN lvl = 'O' THEN v ELSE 0 END) AS BIGINT) AS sa,
    CAST(SUM(CASE WHEN lvl = 'O' THEN v * v ELSE 0 END) AS BIGINT)
      AS ssa,
    CAST(SUM(CASE WHEN lvl = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
    CAST(SUM(CASE WHEN lvl = 'F' THEN v ELSE 0 END) AS BIGINT) AS sb,
    CAST(SUM(CASE WHEN lvl = 'F' THEN v * v ELSE 0 END) AS BIGINT)
      AS ssb
  FROM b GROUP BY g),
x AS (
  SELECT g, na, nb,
         CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS mean_a,
         CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mean_b,
         ((CAST(na AS DOUBLE) * CAST(ssa AS DOUBLE)
           - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
          / CAST(na AS DOUBLE)
          + (CAST(nb AS DOUBLE) * CAST(ssb AS DOUBLE)
             - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
            / CAST(nb AS DOUBLE))
         / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0) AS sp2
  FROM s)
SELECT g AS o_orderpriority, na AS n_a, nb AS n_b, mean_a, mean_b,
       CASE WHEN na >= 2 AND nb >= 2 AND sp2 > 0.0
            THEN (mean_a - mean_b) / SQRT(sp2) END AS cohens_d,
       CASE WHEN na >= 2 AND nb >= 2 AND sp2 > 0.0
            THEN (mean_a - mean_b) / SQRT(sp2)
                 * (1.0 - 3.0 / (4.0 * (CAST(na AS DOUBLE)
                                        + CAST(nb AS DOUBLE)) - 9.0))
       END AS hedges_g
FROM x
"""


def _q197_twa(spark, sf):
    """Time-weighted average event value (cents, held until the next
    sample) per event type over epoch-minute timestamps: one LEAD on
    the group exchange, exact BIGINT v*dt sums, one final double
    division — the correct mean where bursty sampling skews a row
    average. Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.eventops import time_weighted_average
    ev = _t(spark, sf, "events").where(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
        & F.col("value").isNotNull()).select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 60000000")
        .alias("tm"),
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    return time_weighted_average(ev, ts_col="tm", value_col="cents",
                                 group_cols=["event_type"])


_O197 = """
WITH b AS (
  SELECT event_type AS g, epoch_us(ts) // 60000000 AS tm,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL
    AND value IS NOT NULL),
l AS (
  SELECT g, tm, v,
         LEAD(tm) OVER (PARTITION BY g ORDER BY tm, v) AS nxt
  FROM b),
s AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(MIN(tm) AS BIGINT) AS tmin,
         CAST(MAX(tm) AS BIGINT) AS tmax,
         CAST(SUM(CASE WHEN nxt IS NOT NULL THEN v * (nxt - tm)
                       ELSE 0 END) AS BIGINT) AS vdt
  FROM l GROUP BY g)
SELECT g AS event_type, n, tmax - tmin AS t_span, vdt AS vdt_sum,
       CASE WHEN tmax > tmin
            THEN CAST(vdt AS DOUBLE) / CAST(tmax - tmin AS DOUBLE)
       END AS twa
FROM s
"""


def _q198_mantel_haenszel(spark, sf):
    """Mantel-Haenszel pooled click->purchase odds ratio across the
    q194 user cohorts (confounder-adjusted pooling instead of
    collapsing — Simpson-safe): per-stratum milli-floored terms
    summed as exact BIGINT, one final division. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import mantel_haenszel_or
    ev = _t(spark, sf, "events").where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
    pu = (ev.groupBy("user_id")
          .agg(F.max((F.col("event_type") == "click").cast("long"))
               .alias("e"),
               F.max((F.col("event_type") == "purchase").cast("long"))
               .alias("o")))
    strata = pu.select(F.pmod(F.col("user_id"), F.lit(4))
                       .alias("cohort"), "e", "o")
    return mantel_haenszel_or(strata, exposure_col="e",
                              outcome_col="o", strata_col="cohort")


_O198 = """
WITH pu AS (
  SELECT user_id % 4 AS cohort,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS e,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS o
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
  GROUP BY user_id),
per_s AS (
  SELECT cohort,
    CAST(SUM(CASE WHEN e = 1 AND o = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS a,
    CAST(SUM(CASE WHEN e = 1 AND o = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS b,
    CAST(SUM(CASE WHEN e = 0 AND o = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS c,
    CAST(SUM(CASE WHEN e = 0 AND o = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS d
  FROM pu GROUP BY cohort),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k_strata,
    CAST(SUM(CAST(FLOOR(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) * 1000.0
                        / CAST(a + b + c + d AS DOUBLE)) AS BIGINT))
         AS BIGINT) AS num_milli,
    CAST(SUM(CAST(FLOOR(CAST(b AS DOUBLE) * CAST(c AS DOUBLE) * 1000.0
                        / CAST(a + b + c + d AS DOUBLE)) AS BIGINT))
         AS BIGINT) AS den_milli
  FROM per_s)
SELECT k_strata, num_milli, den_milli,
       CASE WHEN den_milli > 0
            THEN CAST(num_milli AS DOUBLE) / CAST(den_milli AS DOUBLE)
       END AS or_mh
FROM t
"""


def _q201_assortativity(spark, sf):
    """Degree assortativity of the part co-order graph: exact
    DECIMAL(38,0) endpoint-degree sufficient statistics over the
    symmetrized edges, ONE division. Round-5 post-pin registration:
    in-repo oracle sweep only."""
    from kml2geojson_spark.graph import degree_assortativity
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (a.join(b, "l_orderkey")
             .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
             .select(F.col("a.l_partkey").alias("src"),
                     F.col("b.l_partkey").alias("dst")))
    return degree_assortativity(edges)


_O201 = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey),
sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
deg AS (
  SELECT u AS node, CAST(COUNT(*) AS HUGEINT) AS d
  FROM sym GROUP BY u),
j AS (
  SELECT d1.d AS du, d2.d AS dv
  FROM sym JOIN deg d1 ON d1.node = sym.u
  JOIN deg d2 ON d2.node = sym.v),
s AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS m2, SUM(du) AS sx,
         SUM(du * du) AS sxx, SUM(du * dv) AS sxy
  FROM j)
SELECT CAST(m2 // 2 AS BIGINT) AS m_edges,
       CASE WHEN m2 * sxx - sx * sx > 0
            THEN CAST(m2 * sxy - sx * sx AS DOUBLE)
                 / CAST(m2 * sxx - sx * sx AS DOUBLE)
       END AS assortativity
FROM s
"""


def _q202_bigram_lm(spark, sf):
    """Per-document average bigram surprisal under a corpus-trained
    add-1 bigram LM — the perplexity-proxy pretraining quality
    filter; micro-nat integerized logs, exact BIGINT per-doc sums.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.textops import bigram_lm_surprisal
    return bigram_lm_surprisal(_t(spark, sf, "documents"))


_O202 = """
WITH arrs AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '')
           AS ts
  FROM documents WHERE text IS NOT NULL),
big0 AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(ts)),
                               i -> {'w1': ts[i], 'w2': ts[i + 1]}))
           AS p
  FROM arrs),
big AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM big0),
toks AS (SELECT doc_id, UNNEST(ts) AS w1 FROM arrs),
cb AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM big GROUP BY w1, w2),
cu AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM toks
       GROUP BY w1),
vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM cu),
sc AS (
  SELECT b.doc_id,
         CAST(ROUND(LN(CAST(c12 + 1 AS DOUBLE)) * 1e6) AS BIGINT)
         - CAST(ROUND(LN(CAST(c1 + v AS DOUBLE)) * 1e6) AS BIGINT)
           AS contrib
  FROM big b JOIN cb USING (w1, w2) JOIN cu USING (w1)
  CROSS JOIN vv),
s AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(contrib) AS BIGINT) AS logprob_micro
  FROM sc GROUP BY doc_id)
SELECT doc_id, n_bigrams, logprob_micro,
       -CAST(logprob_micro AS DOUBLE)
         / (CAST(n_bigrams AS DOUBLE) * 1e6) AS avg_surprisal
FROM s
"""


def _q203_js_divergence(spark, sf):
    """Jensen–Shannon divergence (micro-nat integerized log-ratio
    terms, exact BIGINT weighted sums) between the return-flag mix of
    open vs finished lineitems. Round-5 post-pin registration:
    in-repo oracle sweep only."""
    from kml2geojson_spark.relational import js_divergence
    return js_divergence(_t(spark, sf, "lineitem"),
                         cat_col="l_returnflag",
                         group_col="l_linestatus",
                         group_a="O", group_b="F")


_O203 = """
WITH b AS (
  SELECT l_returnflag AS cat,
         CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS c2
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_linestatus IN ('O', 'F')
  GROUP BY l_returnflag),
t AS (
  SELECT c1, c2,
         CAST(SUM(c1) OVER () AS BIGINT) AS n1,
         CAST(SUM(c2) OVER () AS BIGINT) AS n2
  FROM b),
s AS (
  SELECT MAX(n1) AS n_a, MAX(n2) AS n_b,
         CAST(COUNT(*) AS BIGINT) AS k_cats,
         CAST(SUM(CASE WHEN c1 > 0 THEN c1 * (
             CAST(ROUND(LN(CAST(2 * c1 * n2 AS DOUBLE)) * 1e6)
                  AS BIGINT)
           - CAST(ROUND(LN(CAST(c1 * n2 + c2 * n1 AS DOUBLE)) * 1e6)
                  AS BIGINT)) ELSE 0 END) AS BIGINT)
           AS jsd_num_a_micro,
         CAST(SUM(CASE WHEN c2 > 0 THEN c2 * (
             CAST(ROUND(LN(CAST(2 * c2 * n1 AS DOUBLE)) * 1e6)
                  AS BIGINT)
           - CAST(ROUND(LN(CAST(c1 * n2 + c2 * n1 AS DOUBLE)) * 1e6)
                  AS BIGINT)) ELSE 0 END) AS BIGINT)
           AS jsd_num_b_micro
  FROM t)
SELECT n_a, n_b, k_cats, jsd_num_a_micro, jsd_num_b_micro,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         (CAST(jsd_num_a_micro AS DOUBLE) / CAST(n_a AS DOUBLE)
          + CAST(jsd_num_b_micro AS DOUBLE) / CAST(n_b AS DOUBLE))
         / 2e6
       END AS jsd
FROM s
"""


def _q204_map_at_k(spark, sf):
    """MAP@3 per order, relevance = high-quantity line: totalized
    (score desc, id asc) ranking, per-hit milli-floored precision
    summed as exact BIGINT. Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.relational import map_at_k
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice",
        (F.col("l_quantity") > 25).cast("int").alias("rel"))
    return map_at_k(li, group_cols=["l_orderkey"],
                    id_col="l_linenumber",
                    score_col="l_extendedprice", rel_col="rel", k=3)


_O204 = """
WITH b AS (
  SELECT l_orderkey,
         l_linenumber AS id,
         l_extendedprice AS s,
         CAST(l_quantity > 25 AS BIGINT) AS r
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
    AND l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
ranked AS (
  SELECT l_orderkey, r,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY s DESC, id ASC) AS rnk,
         SUM(r) OVER (PARTITION BY l_orderkey
                      ORDER BY s DESC, id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum,
         SUM(r) OVER (PARTITION BY l_orderkey) AS nrel
  FROM b),
s AS (
  SELECT l_orderkey,
         CAST(MAX(nrel) AS BIGINT) AS n_rel,
         CAST(SUM(CASE WHEN r = 1 AND rnk <= 3 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits_at_k,
         CAST(SUM(CASE WHEN r = 1 AND rnk <= 3
                  THEN CAST(FLOOR(CAST(cum AS DOUBLE) * 1000.0
                                  / CAST(rnk AS DOUBLE)) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS ap_milli_sum
  FROM ranked GROUP BY l_orderkey)
SELECT l_orderkey, n_rel, n_hits_at_k, ap_milli_sum,
       CASE WHEN n_rel > 0 THEN
         CAST(ap_milli_sum AS DOUBLE)
         / (CAST(LEAST(n_rel, 3) AS DOUBLE) * 1000.0)
       END AS map_at_k
FROM s
"""


def _q205_runs_test(spark, sf):
    """Wald–Wolfowitz runs test per user over the high-value flag of
    their (ts, event_id)-totalized event stream: one LAG, exact
    BIGINT run counts, one fixed IEEE z. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import runs_test
    ev = _t(spark, sf, "events").select(
        "user_id", "ts", "event_id",
        (F.col("value") > 50).cast("int").alias("hi"))
    return runs_test(ev, flag_col="hi", order_col="ts",
                     id_col="event_id", group_cols=["user_id"])


_O205 = """
WITH b AS (
  SELECT user_id, ts, event_id,
         CAST(value > 50 AS BIGINT) AS x
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL AND value IS NOT NULL),
lagged AS (
  SELECT user_id, x,
         LAG(x) OVER (PARTITION BY user_id
                      ORDER BY ts ASC, event_id ASC) AS px
  FROM b),
s AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS n1,
         CAST(SUM(1 - x) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN px IS NULL OR px <> x THEN 1 ELSE 0 END)
              AS BIGINT) AS runs
  FROM lagged GROUP BY user_id)
SELECT user_id, n, n1, n0, runs,
       CASE WHEN n1 > 0 AND n0 > 0 AND n >= 2
             AND 2.0 * n1 * n0 * (2.0 * n1 * n0 - n)
                 / (CAST(n AS DOUBLE) * n * (n - 1.0)) > 0
            THEN (CAST(runs AS DOUBLE) - 1.0
                  - 2.0 * n1 * n0 / CAST(n AS DOUBLE))
                 / SQRT(2.0 * n1 * n0 * (2.0 * n1 * n0 - n)
                        / (CAST(n AS DOUBLE) * n * (n - 1.0)))
       END AS z
FROM s
"""


def _q206_poisson_rate(spark, sf):
    """Two-sample Poisson rate z-test (returned vs clean lineitems;
    quantity events per line-number exposure): ONE conditional
    hash-aggregate of exact BIGINT sums, one fixed IEEE z. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import poisson_rate_ztest
    li = _t(spark, sf, "lineitem").select(
        "l_returnflag", "l_linenumber",
        F.col("l_quantity").cast("long").alias("qty"))
    return poisson_rate_ztest(li, count_col="qty",
                              exposure_col="l_linenumber",
                              group_col="l_returnflag",
                              group_a="R", group_b="N")


_O206 = """
WITH b AS (
  SELECT l_returnflag AS g,
         CAST(l_quantity AS BIGINT) AS k,
         CAST(l_linenumber AS BIGINT) AS t
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_linenumber IS NOT NULL
    AND CAST(l_quantity AS BIGINT) >= 0 AND l_linenumber > 0
    AND l_returnflag IN ('R', 'N')),
s AS (
  SELECT CAST(SUM(CASE WHEN g = 'R' THEN k ELSE 0 END) AS BIGINT)
           AS k_a,
         CAST(SUM(CASE WHEN g = 'R' THEN t ELSE 0 END) AS BIGINT)
           AS t_a,
         CAST(SUM(CASE WHEN g <> 'R' THEN k ELSE 0 END) AS BIGINT)
           AS k_b,
         CAST(SUM(CASE WHEN g <> 'R' THEN t ELSE 0 END) AS BIGINT)
           AS t_b
  FROM b)
SELECT k_a, t_a, k_b, t_b,
       CASE WHEN t_a > 0 THEN CAST(k_a AS DOUBLE) / t_a END AS rate_a,
       CASE WHEN t_b > 0 THEN CAST(k_b AS DOUBLE) / t_b END AS rate_b,
       CASE WHEN t_a > 0 AND t_b > 0 AND (k_a > 0 OR k_b > 0)
            THEN (CAST(k_a AS DOUBLE) / t_a
                  - CAST(k_b AS DOUBLE) / t_b)
                 / SQRT(CAST(k_a AS DOUBLE)
                        / (CAST(t_a AS DOUBLE) * t_a)
                        + CAST(k_b AS DOUBLE)
                          / (CAST(t_b AS DOUBLE) * t_b))
       END AS z
FROM s
"""


def _q207_char_entropy(spark, sf):
    """Per-document character-level Shannon entropy (micro-nat
    integerized logs, exact BIGINT numerators) — the gibberish /
    encoded-blob filter. Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.textops import char_entropy
    return char_entropy(_t(spark, sf, "documents"))


_O207 = """
WITH chars AS (
  SELECT doc_id, substring(text, CAST(i AS INTEGER), 1) AS ch
  FROM documents, UNNEST(range(1, length(text) + 1)) AS u(i)
  WHERE text IS NOT NULL),
per_c AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
  FROM chars WHERE ch <> '' GROUP BY doc_id, ch),
s AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_chars_counted,
         CAST(COUNT(*) AS BIGINT) AS k_chars,
         CAST(SUM(c * CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1e6)
                           AS BIGINT)) AS BIGINT) AS sclc
  FROM per_c GROUP BY doc_id)
SELECT doc_id, n_chars_counted, k_chars,
       n_chars_counted
         * CAST(ROUND(LN(CAST(n_chars_counted AS DOUBLE)) * 1e6)
                AS BIGINT)
         - sclc AS ent_num_micro,
       CAST(n_chars_counted
              * CAST(ROUND(LN(CAST(n_chars_counted AS DOUBLE)) * 1e6)
                     AS BIGINT)
              - sclc AS DOUBLE)
         / (CAST(n_chars_counted AS DOUBLE) * 1e6) AS char_entropy
FROM s
"""


def _q208_basket_lift(spark, sf):
    """Market-basket pair lift over order baskets (apriori pruning
    cascade: size-capped baskets → frequent items → basket equi-join,
    never all-pairs). Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.relational import basket_lift
    return basket_lift(_t(spark, sf, "lineitem"),
                       basket_col="l_orderkey", item_col="l_partkey",
                       min_count=2, max_basket=64)


_O208 = """
WITH b AS (
  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
sz AS (SELECT bk FROM b GROUP BY bk HAVING COUNT(*) <= 64),
kept AS (SELECT b.bk, b.it FROM b JOIN sz USING (bk)),
ic AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS ni
       FROM kept GROUP BY it),
f AS (SELECT kept.bk, kept.it, ic.ni
      FROM kept JOIN ic USING (it) WHERE ni >= 2),
p AS (
  SELECT a.it AS item_a, c.it AS item_b,
         CAST(MAX(a.ni) AS BIGINT) AS n_a,
         CAST(MAX(c.ni) AS BIGINT) AS n_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM f a JOIN f c ON a.bk = c.bk AND a.it < c.it
  GROUP BY a.it, c.it HAVING COUNT(*) >= 2),
nb AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS n_baskets
       FROM kept)
SELECT item_a, item_b, n_a, n_b, n_ab, n_baskets,
       CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support,
       CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE) AS confidence,
       CAST(n_ab * n_baskets AS DOUBLE)
         / CAST(n_a * n_b AS DOUBLE) AS lift
FROM p CROSS JOIN nb
"""


def _q210_rolling_zscore(spark, sf):
    """Trailing-20-event z-score anomalies per user over
    cent-integerized event values; exact-integer anomaly verdict.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import rolling_zscore
    ev = _t(spark, sf, "events").select(
        "user_id", "event_id",
        F.col("ts").cast("timestamp").cast("long").alias("ts_s"),
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    return rolling_zscore(ev, value_col="cents", order_col="ts_s",
                          id_col="event_id", group_cols=["user_id"],
                          window=20, min_periods=5,
                          threshold_milli=3000)


_O210 = """
WITH b AS (
  SELECT user_id, event_id,
         epoch_us(ts) // 1000000 AS o,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL AND value IS NOT NULL),
st AS (
  SELECT user_id, event_id AS id, o, v,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(v) OVER w AS BIGINT) AS s,
         CAST(SUM(v * v) OVER w AS BIGINT) AS q
  FROM b
  WINDOW w AS (PARTITION BY user_id ORDER BY o ASC, event_id ASC
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT user_id, id, o AS "order", v AS value, n AS n_window,
       CASE WHEN n >= 5 AND n * q - s * s > 0
            THEN CAST(n * v - s AS DOUBLE)
                 / SQRT(CAST(n * q - s * s AS DOUBLE))
       END AS z,
       CASE WHEN n >= 5 AND n * q - s * s > 0
            THEN (n * v - s) * (n * v - s) * 1000000
                 > 3000 * 3000 * (n * q - s * s)
            ELSE FALSE END AS is_anomaly
FROM st
"""


def _q212_topk_overlap(spark, sf):
    """Overlap@5 per customer between the value ranking and the
    recency ranking of their orders (two totalized row_number
    windows on one exchange, zero joins). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import topk_overlap
    od = _t(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.col("o_orderdate").cast("timestamp").cast("long")
        .alias("recency"))
    return topk_overlap(od, group_cols=["o_custkey"],
                        id_col="o_orderkey",
                        score_a_col="o_totalprice",
                        score_b_col="recency", k=5)


_O212 = """
WITH b AS (
  SELECT o_custkey, o_orderkey AS id, o_totalprice AS sa,
         epoch_us(o_orderdate) // 1000000 AS sb
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderkey IS NOT NULL
    AND o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
ranked AS (
  SELECT o_custkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY sa DESC, id ASC) AS ra,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY sb DESC, id ASC) AS rb
  FROM b),
s AS (
  SELECT o_custkey,
         CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(CASE WHEN ra <= 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_top_a,
         CAST(SUM(CASE WHEN ra <= 5 AND rb <= 5 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_overlap
  FROM ranked GROUP BY o_custkey)
SELECT o_custkey, n_items, n_top_a, n_overlap,
       CAST(n_overlap AS DOUBLE)
         / CAST(LEAST(5, n_items) AS DOUBLE) AS overlap_at_k
FROM s
"""


def _q213_calibration_bins(spark, sf):
    """Reliability-curve deciles of event value vs purchase label
    (totalized NTILE, milli-integerized score sums). Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import calibration_bins
    ev = _t(spark, sf, "events").select(
        "event_id", "value",
        (F.col("event_type") == "purchase").cast("int").alias("y"))
    return calibration_bins(ev, score_col="value", label_col="y",
                            id_col="event_id", bins=10)


_O213 = """
WITH b AS (
  SELECT CAST(event_type = 'purchase' AS BIGINT) AS y,
         value AS s, event_id AS i,
         CAST(ROUND(value * 1000.0) AS BIGINT) AS sm
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL
    AND event_id IS NOT NULL),
binned AS (
  SELECT y, sm, NTILE(10) OVER (ORDER BY s ASC, i ASC) AS bin
  FROM b),
s AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM(sm) AS BIGINT) AS score_milli_sum
  FROM binned GROUP BY bin)
SELECT bin, n, n_pos, score_milli_sum,
       CAST(score_milli_sum AS DOUBLE)
         / (CAST(n AS DOUBLE) * 1000.0) AS mean_score,
       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos
FROM s
"""


def _q214_attribution(spark, sf):
    """Last-touch purchase attribution per channel (one totalized
    window last() on the user exchange). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.eventops import last_touch_attribution
    return last_touch_attribution(_t(spark, sf, "events"),
                                  conversion_type="purchase")


_O214 = """
WITH b AS (
  SELECT user_id, ts, event_id, event_type
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL AND event_type IS NOT NULL),
touched AS (
  SELECT event_type,
         last_value(CASE WHEN event_type <> 'purchase'
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS ch
  FROM b)
SELECT COALESCE(ch, '(none)') AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_conversions
FROM touched WHERE event_type = 'purchase'
GROUP BY COALESCE(ch, '(none)')
"""


def _q215_embedding_norms(spark, sf):
    """Embedding-table norm health check: in-order-fold norm²
    micro-integerized, DECIMAL(38,0) corpus moments, exact-integer
    outlier verdict. Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.simsearch import embedding_norm_stats
    return embedding_norm_stats(_t(spark, sf, "embeddings"))


_O215 = """
WITH per AS (
  SELECT vec_id, len(embedding) AS dim,
         CAST(ROUND(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]) * 1e6)
              AS BIGINT) AS norm2_micro
  FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
g AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(norm2_micro AS HUGEINT)) AS s,
         SUM(CAST(norm2_micro AS HUGEINT)
             * CAST(norm2_micro AS HUGEINT)) AS q
  FROM per)
SELECT vec_id, dim, norm2_micro,
       CASE WHEN n * q - s * s > 0
            THEN CAST(n * CAST(norm2_micro AS HUGEINT) - s AS DOUBLE)
                 / SQRT(CAST(n * q - s * s AS DOUBLE))
       END AS z_norm,
       CASE WHEN n * q - s * s > 0
            THEN (n * CAST(norm2_micro AS HUGEINT) - s)
                 * (n * CAST(norm2_micro AS HUGEINT) - s) * 1000000
                 > 3000 * 3000 * (n * q - s * s)
            ELSE FALSE END AS is_outlier
FROM per CROSS JOIN g
"""


def _q216_doc_novelty(spark, sf):
    """Per-document trigram novelty vs the rest of the corpus
    (distinct (doc, gram) universe, gram-key equi-joins only).
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.textops import doc_novelty
    return doc_novelty(_t(spark, sf, "documents"), n=3)


_O216 = """
WITH arrs AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '')
           AS ts
  FROM documents
  WHERE text IS NOT NULL AND doc_id IS NOT NULL),
grams AS (
  SELECT DISTINCT doc_id,
         md5(ts[CAST(i AS INTEGER)] || chr(31)
             || ts[CAST(i AS INTEGER) + 1] || chr(31)
             || ts[CAST(i AS INTEGER) + 2]) AS g
  FROM arrs, UNNEST(range(1, len(ts) - 1)) AS u(i)),
dfc AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df
        FROM grams GROUP BY g),
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel
  FROM grams JOIN dfc USING (g) GROUP BY doc_id),
alld AS (SELECT DISTINCT doc_id FROM arrs)
SELECT alld.doc_id,
       COALESCE(n_grams, 0) AS n_grams,
       COALESCE(n_novel, 0) AS n_novel,
       CASE WHEN COALESCE(n_grams, 0) > 0
            THEN CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE)
       END AS novelty
FROM alld LEFT JOIN per USING (doc_id)
"""


def _q217_reciprocity(spark, sf):
    """Directed-graph reciprocity over a synthetic user→pseudo-user
    event edge set (unordered-pair hash-agg, NO reverse-edge
    self-join). Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.graph import graph_reciprocity
    ev = _t(spark, sf, "events").select(
        F.col("user_id").alias("src"),
        (F.col("event_id") % 150).alias("dst"))
    return graph_reciprocity(ev)


_O217 = """
WITH e AS (
  SELECT DISTINCT user_id AS u, event_id % 150 AS v
  FROM events
  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
    AND user_id <> event_id % 150),
pair AS (
  SELECT LEAST(u, v) AS a, GREATEST(u, v) AS b,
         SUM(CASE WHEN u < v THEN 1 ELSE 0 END) AS fwd,
         SUM(CASE WHEN u > v THEN 1 ELSE 0 END) AS rev
  FROM e GROUP BY LEAST(u, v), GREATEST(u, v)),
s AS (
  SELECT CAST(COALESCE(SUM(fwd + rev), 0) AS BIGINT) AS n_edges,
         CAST(COALESCE(SUM(CASE WHEN fwd > 0 AND rev > 0 THEN 2
                           ELSE 0 END), 0) AS BIGINT)
           AS n_reciprocal_edges,
         CAST(COALESCE(SUM(CASE WHEN fwd > 0 AND rev > 0 THEN 1
                           ELSE 0 END), 0) AS BIGINT)
           AS n_mutual_pairs
  FROM pair)
SELECT n_edges, n_reciprocal_edges, n_mutual_pairs,
       CASE WHEN n_edges > 0
            THEN CAST(n_reciprocal_edges AS DOUBLE)
                 / CAST(n_edges AS DOUBLE)
       END AS reciprocity
FROM s
"""


def _q219_trigram_paths(spark, sf):
    """Frequent 3-step event paths (two LEADs on one user exchange,
    one hash-agg). Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.eventops import event_trigram_paths
    return event_trigram_paths(_t(spark, sf, "events"), min_count=2)


_O219 = """
WITH b AS (
  SELECT user_id, ts, event_id, event_type AS step1
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL AND event_type IS NOT NULL),
g AS (
  SELECT step1,
         LEAD(step1, 1) OVER w AS step2,
         LEAD(step1, 2) OVER w AS step3
  FROM b
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
SELECT step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n_paths
FROM g WHERE step3 IS NOT NULL
GROUP BY step1, step2, step3
HAVING COUNT(*) >= 2
"""


def _q220_funnel_latency(spark, sf):
    """Stage-to-stage funnel latency (greedy earliest-completion
    frontier cascade, exact BIGINT second gaps). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.eventops import funnel_latency
    return funnel_latency(_t(spark, sf, "events"),
                          ["signup", "click", "purchase"])


_O220 = """
WITH ev AS (
  SELECT user_id, ts, event_type FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IS NOT NULL),
s0 AS (SELECT user_id AS u, MIN(ts) AS r FROM ev
       WHERE event_type = 'signup' GROUP BY user_id),
s1 AS (SELECT e.user_id AS u, MIN(e.ts) AS r
       FROM ev e JOIN s0 ON e.user_id = s0.u
       WHERE e.event_type = 'click' AND e.ts > s0.r
       GROUP BY e.user_id),
s2 AS (SELECT e.user_id AS u, MIN(e.ts) AS r
       FROM ev e JOIN s1 ON e.user_id = s1.u
       WHERE e.event_type = 'purchase' AND e.ts > s1.r
       GROUP BY e.user_id),
g1 AS (SELECT epoch_us(s1.r) // 1000000 - epoch_us(s0.r) // 1000000
         AS g FROM s1 JOIN s0 USING (u)),
g2 AS (SELECT epoch_us(s2.r) // 1000000 - epoch_us(s1.r) // 1000000
         AS g FROM s2 JOIN s1 USING (u))
SELECT 1 AS stage_idx, 'click' AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(g) AS BIGINT) AS gap_sum_s,
       CAST(MIN(g) AS BIGINT) AS gap_min_s,
       CAST(MAX(g) AS BIGINT) AS gap_max_s,
       CASE WHEN COUNT(*) > 0 THEN CAST(SUM(g) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) END AS mean_gap_s
FROM g1
UNION ALL
SELECT 2, 'purchase', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(g) AS BIGINT), CAST(MIN(g) AS BIGINT),
       CAST(MAX(g) AS BIGINT),
       CASE WHEN COUNT(*) > 0 THEN CAST(SUM(g) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) END
FROM g2
"""


def _q221_k_anonymity(spark, sf):
    """k-anonymity audit over the (lang, source) quasi-identifier
    pair of the documents sidecar. Round-5 post-pin registration:
    in-repo oracle sweep only."""
    from kml2geojson_spark.quality import k_anonymity_audit
    return k_anonymity_audit(_t(spark, sf, "documents"),
                             quasi_cols=["lang", "source"], k=5)


_O221 = """
WITH g AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source),
s AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_groups,
         CAST(MIN(n) AS BIGINT) AS min_group_size,
         CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS groups_at_risk,
         CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
           AS rows_at_risk
  FROM g)
SELECT n_rows, n_groups, min_group_size, groups_at_risk,
       rows_at_risk,
       CASE WHEN n_rows > 0 THEN CAST(rows_at_risk AS DOUBLE)
            / CAST(n_rows AS DOUBLE) END AS risk_fraction
FROM s
"""


def _q222_period_over_period(spark, sf):
    """Weekly revenue period-over-period per order priority
    (fixed-length epoch buckets, exact cent sums, one LAG over the
    aggregated frame). Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.relational import period_over_period
    od = _t(spark, sf, "orders").select(
        "o_orderpriority", "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long")
        .alias("cents"))
    return period_over_period(od, ts_col="o_orderdate",
                              value_col="cents",
                              group_cols=["o_orderpriority"],
                              period_seconds=604800)


_O222 = """
WITH b AS (
  SELECT o_orderpriority,
         (epoch_us(o_orderdate) // 1000000) // 604800 AS bucket,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderdate IS NOT NULL
    AND o_totalprice IS NOT NULL),
per AS (
  SELECT o_orderpriority, bucket,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(v) AS BIGINT) AS value_sum
  FROM b GROUP BY o_orderpriority, bucket),
lagged AS (
  SELECT o_orderpriority, bucket,
         CAST(bucket * 604800 AS BIGINT) AS period_start_s,
         n_events, value_sum,
         LAG(value_sum) OVER (PARTITION BY o_orderpriority
                              ORDER BY bucket ASC) AS prev_sum
  FROM per)
SELECT o_orderpriority, bucket, period_start_s, n_events, value_sum,
       prev_sum, value_sum - prev_sum AS delta,
       CASE WHEN prev_sum <> 0
            THEN CAST(value_sum - prev_sum AS DOUBLE)
                 / CAST(prev_sum AS DOUBLE)
       END AS pct_change
FROM lagged
"""


def _q223_wilson_ci(spark, sf):
    """Wilson score interval for the high-value-event rate per event
    type (exact BIGINT n/k, fixed IEEE interval). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import wilson_ci
    ev = _t(spark, sf, "events").select(
        "event_type", (F.col("value") > 50).cast("int").alias("hi"))
    return wilson_ci(ev, label_col="hi", group_cols=["event_type"])


_O223 = """
WITH s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(value > 50 AS BIGINT)) AS BIGINT) AS k
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL
  GROUP BY event_type)
SELECT event_type, n, k,
       CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p_hat,
       ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
         + 1.96 * 1.96 / CAST(n AS DOUBLE) / 2.0)
        / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE)))
       - (1.96 * SQRT(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                      * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                      / CAST(n AS DOUBLE)
                      + 1.96 * 1.96
                        / (4.0 * CAST(n AS DOUBLE)
                           * CAST(n AS DOUBLE))))
         / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE)) AS ci_lo,
       ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
         + 1.96 * 1.96 / CAST(n AS DOUBLE) / 2.0)
        / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE)))
       + (1.96 * SQRT(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                      * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                      / CAST(n AS DOUBLE)
                      + 1.96 * 1.96
                        / (4.0 * CAST(n AS DOUBLE)
                           * CAST(n AS DOUBLE))))
         / (1.0 + 1.96 * 1.96 / CAST(n AS DOUBLE)) AS ci_hi
FROM s
"""


def _q224_fisher(spark, sf):
    """Per-label Fisher scatter over the embeddings table (exact
    DECIMAL(38,0) scatter numerators; doubles are single fixed
    divisions of them — the DECIMAL columns themselves are pinned by
    pytest, dropped here because DuckDB HUGEINT→pandas is not
    hash-stable). Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.simsearch import fisher_separability
    return fisher_separability(_t(spark, sf, "embeddings")).select(
        "label", "n_vecs", "dim", "within_ss", "between_ss",
        "fisher_ratio")


_O224 = """
WITH base AS (
  SELECT label, embedding::DOUBLE[] AS v
  FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND label IS NOT NULL),
ex AS (
  SELECT label, CAST(i AS INTEGER) AS d,
         CAST(ROUND(v[CAST(i AS INTEGER)] * 1e6) AS HUGEINT) AS xm
  FROM base, UNNEST(range(1, len(v) + 1)) AS u(i)),
per_ld AS (
  SELECT label, d, CAST(COUNT(*) AS BIGINT) AS nl,
         SUM(xm) AS s, SUM(xm * xm) AS q
  FROM ex GROUP BY label, d),
per_d AS (
  SELECT d, SUM(s) AS sd, SUM(CAST(nl AS HUGEINT)) AS n
  FROM per_ld GROUP BY d),
j AS (
  SELECT label, nl,
         CAST(nl AS HUGEINT) * q - s * s AS w_term,
         (n * s - CAST(nl AS HUGEINT) * sd)
           * (n * s - CAST(nl AS HUGEINT) * sd) AS b_term,
         n
  FROM per_ld JOIN per_d USING (d)),
per_l AS (
  SELECT label, CAST(MAX(nl) AS BIGINT) AS n_vecs,
         CAST(COUNT(*) AS BIGINT) AS dim,
         SUM(w_term) AS w_num, SUM(b_term) AS b_num,
         MAX(n) AS nd
  FROM j GROUP BY label)
SELECT label, n_vecs, dim,
       CAST(w_num AS DOUBLE)
         / (CAST(n_vecs AS DOUBLE) * 1e12) AS within_ss,
       CAST(b_num AS DOUBLE)
         / (CAST(n_vecs AS DOUBLE) * CAST(nd AS DOUBLE)
            * CAST(nd AS DOUBLE) * 1e12) AS between_ss,
       CASE WHEN w_num > 0 THEN
         (CAST(b_num AS DOUBLE)
          / (CAST(n_vecs AS DOUBLE) * CAST(nd AS DOUBLE)
             * CAST(nd AS DOUBLE) * 1e12))
         / (CAST(w_num AS DOUBLE)
            / (CAST(n_vecs AS DOUBLE) * 1e12))
       END AS fisher_ratio
FROM per_l
"""


def _q225_information_gain(spark, sf):
    """Mutual information I(returnflag; linestatus) in exact
    micro-nats (every term a BIGINT — the group_entropy rule
    extended to the joint decomposition). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import information_gain
    return information_gain(_t(spark, sf, "lineitem"),
                            x_col="l_returnflag",
                            y_col="l_linestatus")


_O225 = """
WITH cell AS (
  SELECT l_returnflag AS x, l_linestatus AS y,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
  GROUP BY l_returnflag, l_linestatus),
staged AS (
  SELECT x, y, c,
         CAST(SUM(c) OVER () AS BIGINT) AS n,
         CAST(SUM(c) OVER (PARTITION BY x) AS BIGINT) AS cx,
         CAST(SUM(c) OVER (PARTITION BY y) AS BIGINT) AS cy
  FROM cell),
s AS (
  SELECT MAX(n) AS n,
         CAST(COUNT(DISTINCT x) AS BIGINT) AS k_x,
         CAST(COUNT(DISTINCT y) AS BIGINT) AS k_y,
         CAST(SUM(c * (
             CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(ROUND(LN(CAST(cx AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(ROUND(LN(CAST(cy AS DOUBLE)) * 1e6) AS BIGINT)
           + CAST(ROUND(LN(CAST(n AS DOUBLE)) * 1e6) AS BIGINT)))
           AS BIGINT) AS ig_num_micro
  FROM staged)
SELECT n, k_x, k_y, ig_num_micro,
       CAST(ig_num_micro AS DOUBLE)
         / (CAST(n AS DOUBLE) * 1e6) AS info_gain
FROM s
"""


def _q226_silhouette(spark, sf):
    """Per-label simplified (centroid) silhouette over the embeddings
    table — the scalable O(n·d·k) substitute for the O(n²) Rousseeuw
    silhouette. Exact DECIMAL squared-distance numerators, IEEE sqrt,
    nano-floored per-row scores summed as BIGINT. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.simsearch import simplified_silhouette
    return simplified_silhouette(_t(spark, sf, "embeddings"))


_O226 = """
WITH base AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v
  FROM embeddings
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    AND label IS NOT NULL),
ex AS (
  SELECT vec_id, label, CAST(i AS INTEGER) AS d,
         CAST(ROUND(v[CAST(i AS INTEGER)] * 1e6) AS HUGEINT) AS xm
  FROM base, UNNEST(range(1, len(v) + 1)) AS u(i)),
cent AS (
  SELECT label AS k, d, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(xm) AS s
  FROM ex GROUP BY label, d),
per_vk AS (
  SELECT e.vec_id, e.label, c.k, MAX(c.n) AS n,
         SUM((c.n * e.xm - c.s) * (c.n * e.xm - c.s)) AS dd
  FROM ex e JOIN cent c USING (d)
  GROUP BY e.vec_id, e.label, c.k),
d2 AS (
  SELECT vec_id, label, k,
         CAST(dd AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12) AS dist2
  FROM per_vk),
per_v AS (
  SELECT vec_id, label,
         MIN(CASE WHEN label = k THEN dist2 END) AS a2,
         MIN(CASE WHEN label <> k THEN dist2 END) AS b2
  FROM d2 GROUP BY vec_id, label),
srow AS (
  SELECT label,
         CASE WHEN GREATEST(SQRT(a2), SQRT(b2)) > 0 THEN
           CAST(FLOOR((SQRT(b2) - SQRT(a2))
                      / GREATEST(SQRT(a2), SQRT(b2)) * 1e9) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS sq
  FROM per_v WHERE b2 IS NOT NULL)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN sq > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_positive,
       CAST(SUM(sq) AS BIGINT) AS silh_nano_sum,
       CAST(SUM(sq) AS DOUBLE)
         / (CAST(COUNT(*) AS DOUBLE) * 1e9) AS mean_silhouette
FROM srow GROUP BY label
"""


def _q227_lpa_communities(spark, sf):
    """3-round synchronous label-propagation communities over the
    customer→supplier purchase graph (q85's edge list, symmetrized).
    Pure-BIGINT counts, min-label tie-break — every round replays in
    SQL. Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.graph import lpa_communities
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .select(F.col("o_custkey").alias("src"),
                     (F.col("l_suppkey") + 10_000_000).alias("dst")))
    return lpa_communities(edges, n_rounds=3)


def _o227() -> str:
    rounds = []
    prev = "l0"
    for i in (1, 2, 3):
        rounds.append(f"""
c{i} AS (
  SELECT s.b AS node, l.community, COUNT(*) AS c
  FROM sym s JOIN {prev} l ON s.a = l.node
  GROUP BY s.b, l.community),
l{i} AS (
  SELECT node, community FROM (
    SELECT node, community,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, community ASC) AS rn
    FROM c{i}) WHERE rn = 1)""")
        prev = f"l{i}"
    return f"""
WITH e0 AS (
  SELECT DISTINCT o_custkey AS a, l_suppkey + 10000000 AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
sym AS (
  SELECT a, b FROM e0 WHERE a <> b
  UNION
  SELECT b AS a, a AS b FROM e0 WHERE a <> b),
l0 AS (SELECT DISTINCT a AS node, a AS community FROM sym),
{",".join(rounds)}
SELECT node, community FROM l3
"""


def _q228_hll_overlap(spark, sf):
    """Pairwise approximate vocabulary overlap between document
    sources — inclusion–exclusion over grouped HLL sketches (register
    MAX union is lossless). One pass over the token stream; the G²
    pairing runs on the tiny register frame. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.sketch import hll_overlap
    toks = (_t(spark, sf, "documents")
            .select("source",
                    F.explode(F.split(F.lower(F.col("text")), " "))
                    .alias("tok"))
            .where(F.col("tok") != ""))
    return hll_overlap(toks, "tok", "source", p=8)


def _o228() -> str:
    from kml2geojson_spark.sketch import hll_overlap_sql
    toks = ("(SELECT source, tok FROM "
            "(SELECT source, unnest(string_split(lower(text), ' ')) "
            "AS tok FROM documents) WHERE tok != '') t")
    return hll_overlap_sql("tok", toks, "source", p=8)


def _q229_er_entities(spark, sf):
    """One-call entity resolution over customer records: exact
    blocking on (nation, segment), Fellegi–Sunter integer milli-
    weights on phone-exchange / account-bucket / address-initial /
    comment-length fields, threshold into match edges, star
    components → (record_id, entity_id). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.linkage import resolve_entities
    c = _t(spark, sf, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        F.expr("substr(c_name, length(c_name) - 1, 2)").alias("name2"),
        F.floor(F.col("c_acctbal") / F.lit(500.0)).alias("acct_b"),
        F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) % 10")
        .alias("cents"))
    return resolve_entities(
        c, id_col="c_custkey",
        block_cols=["c_nationkey", "c_mktsegment"],
        fields=[("name2", 2000, -400), ("acct_b", 1200, -300),
                ("cents", 900, -200)],
        threshold_milli=2700, max_block=1000)


_O229 = """
WITH RECURSIVE r AS (
  SELECT c_custkey AS id, c_nationkey AS bk1, c_mktsegment AS bk2,
         substr(c_name, length(c_name) - 1, 2) AS f1,
         CAST(FLOOR(c_acctbal / 500.0) AS BIGINT) AS f2,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) % 10 AS f3
  FROM customer
  WHERE c_custkey IS NOT NULL AND c_nationkey IS NOT NULL
    AND c_mktsegment IS NOT NULL),
ok AS (
  SELECT bk1, bk2 FROM r GROUP BY bk1, bk2
  HAVING COUNT(*) <= 1000),
b AS (SELECT r.* FROM r JOIN ok USING (bk1, bk2)),
scored AS (
  SELECT a.id AS id_a, c.id AS id_b,
         (CASE WHEN a.f1 IS NULL OR c.f1 IS NULL THEN 0
               WHEN a.f1 = c.f1 THEN 2000 ELSE -400 END)
       + (CASE WHEN a.f2 IS NULL OR c.f2 IS NULL THEN 0
               WHEN a.f2 = c.f2 THEN 1200 ELSE -300 END)
       + (CASE WHEN a.f3 IS NULL OR c.f3 IS NULL THEN 0
               WHEN a.f3 = c.f3 THEN 900 ELSE -200 END) AS s
  FROM b a JOIN b c
    ON a.bk1 = c.bk1 AND a.bk2 = c.bk2 AND a.id < c.id),
m AS (SELECT id_a, id_b FROM scored WHERE s >= 2700),
edges AS (SELECT id_a AS s, id_b AS d FROM m
          UNION SELECT id_b, id_a FROM m),
reach(node, rr) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT reach.node, edges.d FROM reach JOIN edges
    ON reach.rr = edges.s),
comp AS (SELECT node, MIN(rr) AS cmp FROM reach GROUP BY node)
SELECT ids.id AS record_id, COALESCE(comp.cmp, ids.id) AS entity_id
FROM (SELECT DISTINCT c_custkey AS id FROM customer
      WHERE c_custkey IS NOT NULL) ids
LEFT JOIN comp ON comp.node = ids.id
"""


def _q230_cume_gains(spark, sf):
    """Cumulative gains/lift table over lineitem (score = price
    cents, positive = returned line): sampled-boundary deciles (the
    q146 100-TB-safe ntile), exact BIGINT band counts, cumulative
    windows over the ≤10-row aggregate only. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import cume_gains
    li = _t(spark, sf, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100.0).cast("long")
        .alias("price_cents"),
        (F.col("l_returnflag") == "R").cast("int").alias("returned"))
    return cume_gains(li, score_col="price_cents",
                      label_col="returned", n_buckets=10)


def _o230() -> str:
    qs = ", ".join(f"({i / 10!r}::DOUBLE)" for i in range(1, 10))
    return f"""
WITH base AS (
  SELECT CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS s,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
samp AS (
  SELECT s FROM base
  WHERE ('0x' || substr(md5(CAST(s AS VARCHAR)), 1, 2))::BIGINT < 16),
ranked AS (
  SELECT s, ROW_NUMBER() OVER (ORDER BY s ASC) AS rn,
         COUNT(*) OVER () AS cnt
  FROM samp),
bounds AS (
  SELECT s AS b
  FROM ranked CROSS JOIN (VALUES {qs}) AS qv(q)
  WHERE rn = CAST(FLOOR(q * (cnt - 1)) AS BIGINT) + 1),
a AS (
  SELECT (SELECT COUNT(*) FROM bounds WHERE b <= base.s) AS bucket, y
  FROM base),
per_b AS (
  SELECT CAST(bucket AS INTEGER) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos
  FROM a GROUP BY bucket),
g AS (
  SELECT bucket, n, n_pos,
         CAST(ROW_NUMBER() OVER (ORDER BY bucket DESC) AS INTEGER)
           AS rank,
         CAST(SUM(n) OVER (ORDER BY bucket DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS cum_n,
         CAST(SUM(n_pos) OVER (ORDER BY bucket DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cum_pos,
         CAST(SUM(n) OVER () AS BIGINT) AS tn,
         CAST(SUM(n_pos) OVER () AS BIGINT) AS tp
  FROM per_b)
SELECT rank, bucket, n, n_pos, cum_n, cum_pos,
       CASE WHEN tp > 0 THEN
         CAST(cum_pos AS DOUBLE) / CAST(tp AS DOUBLE) END AS capture,
       CASE WHEN tp > 0 AND cum_n > 0 THEN
         CAST(cum_pos * tn AS DOUBLE)
           / CAST(cum_n * tp AS DOUBLE) END AS lift
FROM g
"""




# ------------------------------------------------------------------
# Round-5 session-8 registrations (post-pin: in-repo oracle sweep)
# ------------------------------------------------------------------


def _q231_mrr_at_k(spark, sf):
    """MRR@5 per order, relevance = very-high-quantity line:
    totalized (score desc, id asc) ranking, exact integer first-hit
    rank, ONE division for the reciprocal. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import mrr_at_k
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice",
        (F.col("l_quantity") > 40).cast("int").alias("rel"))
    return mrr_at_k(li, group_cols=["l_orderkey"],
                    id_col="l_linenumber",
                    score_col="l_extendedprice", rel_col="rel", k=5)


_O231 = """
WITH b AS (
  SELECT l_orderkey, l_linenumber AS id, l_extendedprice AS s,
         CAST(l_quantity > 40 AS BIGINT) AS r
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
    AND l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
ranked AS (
  SELECT l_orderkey, r,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY s DESC, id ASC) AS rnk
  FROM b),
s AS (
  SELECT l_orderkey,
         CAST(SUM(r) AS BIGINT) AS n_rel,
         CAST(MIN(CASE WHEN r = 1 AND rnk <= 5 THEN rnk END)
              AS INTEGER) AS first_rel_rank
  FROM ranked GROUP BY l_orderkey)
SELECT l_orderkey, n_rel, first_rel_rank,
       CASE WHEN n_rel > 0 THEN
         CASE WHEN first_rel_rank IS NOT NULL
              THEN 1.0 / CAST(first_rel_rank AS DOUBLE) ELSE 0.0 END
       END AS rr_at_k
FROM s
"""


def _q232_script_mix(spark, sf):
    """Character-class composition per document: explicit ASCII
    classes only (Java regex and RE2 agree symbol-for-symbol), exact
    BIGINT counts, single-division fractions. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.textops import script_mix_stats
    return script_mix_stats(_t(spark, sf, "documents"))


_O232 = """
WITH c AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))
              AS BIGINT) AS n_lower,
         CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
              AS BIGINT) AS n_upper,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
              AS BIGINT) AS n_digit,
         CAST(length(text) - length(regexp_replace(text, '[ \t\n\r]', '', 'g'))
              AS BIGINT) AS n_space,
         CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g'))
              AS BIGINT) AS n_punct
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL)
SELECT doc_id, n_chars, n_lower, n_upper, n_digit, n_space, n_punct,
       n_chars - n_lower - n_upper - n_digit - n_space - n_punct AS n_other,
       CASE WHEN n_chars > 0 THEN CAST(n_lower + n_upper AS DOUBLE)
            / CAST(n_chars AS DOUBLE) END AS frac_alpha,
       CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)
            / CAST(n_chars AS DOUBLE) END AS frac_digit,
       CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)
            / CAST(n_chars AS DOUBLE) END AS frac_punct
FROM c
"""


def _q233_circular_time(spark, sf):
    """Circular time-of-day statistics per event type: per-row
    micro-floored cos/sin summed as exact BIGINT, resultant/variance
    derived by IEEE-exact ops. Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.eventops import circular_time_stats
    return circular_time_stats(_t(spark, sf, "events"))


_K233 = repr(2.0 * __import__("math").pi / 86400.0)

_O233 = f"""
WITH b AS (
  SELECT event_type,
         CAST(extract(hour FROM ts) * 3600 + extract(minute FROM ts) * 60
              + extract(second FROM ts) AS DOUBLE) * {_K233} AS theta
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL),
g AS (
  SELECT event_type AS grp, COUNT(*) AS n,
         CAST(SUM(CAST(FLOOR(cos(theta) * 1000000.0) AS BIGINT))
              AS BIGINT) AS cq,
         CAST(SUM(CAST(FLOOR(sin(theta) * 1000000.0) AS BIGINT))
              AS BIGINT) AS sq
  FROM b GROUP BY event_type)
SELECT grp AS "group", CAST(n AS BIGINT) AS n,
       cq AS cos_sum_q, sq AS sin_sum_q,
       sqrt(CAST(cq AS DOUBLE) * CAST(cq AS DOUBLE)
            + CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
         / (CAST(n AS DOUBLE) * 1000000.0) AS resultant_len,
       1.0 - sqrt(CAST(cq AS DOUBLE) * CAST(cq AS DOUBLE)
                  + CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
         / (CAST(n AS DOUBLE) * 1000000.0) AS circ_variance
FROM g
"""


_SUPP_POLY_SQL = """
SELECT CAST(s_suppkey AS BIGINT) AS poly_id,
       ((s_suppkey * 2971 + 1234) % 30000) / 100.0 - 150.0 AS cx,
       ((s_suppkey * 4231 + 567) % 13000) / 100.0 - 65.0 AS cy,
       1.0 + CAST(s_suppkey % 8 AS DOUBLE) * 1.0 AS r
FROM supplier
"""


def _supplier_diamonds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(poly_id, rings) — 1000-per-sf0.1 convex CCW closed diamonds
    from supplier keys (single Python-side source; SQL side:
    _SUPP_POLY_SQL). Denser than the nation corpus so the overlap
    join has real pair volume."""
    s = _t(spark, sf_dir, "supplier")
    cx = ((F.col("s_suppkey") * 2971 + 1234) % 30000) / 100.0 - 150.0
    cy = ((F.col("s_suppkey") * 4231 + 567) % 13000) / 100.0 - 65.0
    r = F.lit(1.0) + (F.col("s_suppkey") % 8).cast("double") * 1.0
    base = s.select(F.col("s_suppkey").cast("long").alias("poly_id"),
                    cx.alias("cx"), cy.alias("cy"), r.alias("r"))
    ring = F.array(
        F.array(F.col("cx") + F.col("r"), F.col("cy")),
        F.array(F.col("cx"), F.col("cy") + F.col("r")),
        F.array(F.col("cx") - F.col("r"), F.col("cy")),
        F.array(F.col("cx"), F.col("cy") - F.col("r")),
        F.array(F.col("cx") + F.col("r"), F.col("cy")),
    )
    return base.select("poly_id", F.array(ring).alias("rings"))


def _q234_polygon_overlap(spark, sf):
    """Polygon-polygon overlap self-join over supplier diamonds:
    bbox-cell equi-join candidates (never all-pairs), strict-bbox
    parity filter, general-edge Sutherland-Hodgman clip whose float
    sequence the DuckDB oracle replays bit-for-bit. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import polygon_overlap_pairs
    return polygon_overlap_pairs(_supplier_diamonds(spark, sf), 6)


def _sh_clip_edge_sql(L: str, ex: str, ey: str, fx: str, fy: str) -> str:
    """One GENERAL half-plane Sutherland-Hodgman clip as a DuckDB
    list expression — the SQL twin of _clip_edge_many: side test
    ((fx-ex)*(y-ey) - (fy-ey)*(x-ex)) >= 0, t = sp/(sp-sq),
    emission (kept vertex, then intersection) per subject edge."""
    j = f"((i % len({L})) + 1)"

    def side(pt: str) -> str:
        return (f"((({fx}) - ({ex})) * ({pt}.y - ({ey})) "
                f"- ((({fy}) - ({ey})) * ({pt}.x - ({ex}))))")

    sp = side(f"{L}[i]")
    sq = side(f"{L}[{j}]")
    i_in = f"({sp} >= 0.0)"
    j_in = f"({sq} >= 0.0)"
    t = f"({sp} / ({sp} - {sq}))"
    inter = (f"{{'x': {L}[i].x + {t} * ({L}[{j}].x - {L}[i].x), "
             f"'y': {L}[i].y + {t} * ({L}[{j}].y - {L}[i].y)}}")
    return (f"flatten(list_transform(range(1, len({L}) + 1), i -> "
            f"(CASE WHEN {i_in} THEN [{L}[i]] ELSE [] END) || "
            f"(CASE WHEN {i_in} != {j_in} THEN [{inter}] ELSE [] END)))")


def _shoelace_sql(L: str) -> str:
    """In-order shoelace fold (the _shoelace_many bit-contract):
    abs(0.5 * left-fold of x_i*y_j - x_j*y_i), 0 when len < 3."""
    j = f"((i % len({L})) + 1)"
    terms = (f"list_transform(range(1, len({L}) + 1), i -> "
             f"{L}[i].x * {L}[{j}].y - {L}[{j}].x * {L}[i].y)")
    return (f"CASE WHEN len({L}) >= 3 THEN "
            f"abs(0.5 * list_reduce(list_prepend(0.0, {terms}), "
            f"(a, b) -> a + b)) ELSE 0.0 END")


def _o234() -> str:
    c1 = _sh_clip_edge_sql("ra", "rb[1].x", "rb[1].y", "rb[2].x", "rb[2].y")
    c2 = _sh_clip_edge_sql("c1.pts", "rb[2].x", "rb[2].y", "rb[3].x", "rb[3].y")
    c3 = _sh_clip_edge_sql("c2.pts", "rb[3].x", "rb[3].y", "rb[4].x", "rb[4].y")
    c4 = _sh_clip_edge_sql("c3.pts", "rb[4].x", "rb[4].y", "rb[5].x", "rb[5].y")
    shoe_a = _shoelace_sql("ra")
    shoe_b = _shoelace_sql("rb")
    shoe_i = _shoelace_sql("c4.pts")
    return f"""
WITH polys AS ({_SUPP_POLY_SQL}),
d AS (
  SELECT poly_id,
         [{{'x': cx + r, 'y': cy}}, {{'x': cx, 'y': cy + r}},
          {{'x': cx - r, 'y': cy}}, {{'x': cx, 'y': cy - r}},
          {{'x': cx + r, 'y': cy}}] AS ring,
         cx - r AS x0, cx + r AS x1, cy - r AS y0, cy + r AS y1
  FROM polys),
pr AS (
  SELECT a.poly_id AS id_a, b.poly_id AS id_b,
         a.ring AS ra, b.ring AS rb
  FROM d a JOIN d b
    ON a.poly_id < b.poly_id
   AND a.x0 < b.x1 AND b.x0 < a.x1 AND a.y0 < b.y1 AND b.y0 < a.y1),
c1 AS MATERIALIZED (SELECT id_a, id_b, ra, rb, {c1} AS pts FROM pr),
c2 AS MATERIALIZED (SELECT id_a, id_b, ra, rb, {c2} AS pts FROM c1),
c3 AS MATERIALIZED (SELECT id_a, id_b, ra, rb, {c3} AS pts FROM c2),
c4 AS MATERIALIZED (SELECT id_a, id_b, ra, rb, {c4} AS pts FROM c3),
ar AS (
  SELECT id_a, id_b, {shoe_a} AS area_a, {shoe_b} AS area_b,
         {shoe_i} AS inter_area
  FROM c4)
SELECT id_a, id_b, area_a, area_b, inter_area,
       CASE WHEN LEAST(area_a, area_b) > 0.0
            THEN inter_area / LEAST(area_a, area_b)
            ELSE 0.0 END AS overlap_frac
FROM ar WHERE inter_area > 0.0
"""




def _q235_rolling_active(spark, sf):
    """Exact DAU + trailing-7-day active users over events: dedup
    before the bounded window fan-out, pure BIGINT set arithmetic.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.eventops import rolling_active_users
    return rolling_active_users(_t(spark, sf, "events"), window_days=7)


_O235 = """
WITH ud AS (
  SELECT DISTINCT user_id AS u,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day),
ex AS (SELECT DISTINCT u, day + x AS day2
       FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS x) t),
wau AS (SELECT day2, CAST(COUNT(*) AS BIGINT) AS rolling_active
        FROM ex GROUP BY day2)
SELECT CAST(dau.day AS BIGINT) AS day, dau.dau, wau.rolling_active
FROM dau JOIN wau ON wau.day2 = dau.day
"""


def _q236_readability(spark, sf):
    """Flesch reading-ease per document: exact regexp_count BIGINTs
    over explicit ASCII classes, IEEE-exact derived score. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.textops import readability_scores
    return readability_scores(_t(spark, sf, "documents"))


_O236 = """
WITH c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT)
           AS n_words,
         CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT)
           AS n_syllables
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_sentences > 0 THEN CAST(n_words AS DOUBLE)
            / CAST(n_sentences AS DOUBLE) END AS words_per_sentence,
       CASE WHEN n_words > 0 THEN CAST(n_syllables AS DOUBLE)
            / CAST(n_words AS DOUBLE) END AS syllables_per_word,
       CASE WHEN n_sentences > 0 AND n_words > 0 THEN
         206.835
         - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
       END AS flesch
FROM c
"""


def _q237_hits(spark, sf):
    """3-round UNNORMALIZED integer HITS over the customer-supplier
    purchase graph (the q85 edge synthesis): every score an exact
    BIGINT count of weighted alternating paths — rankings identical
    to the L2-normalized textbook scores, which could never
    hash-match. Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.graph import hits_scores
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .select(F.col("o_custkey").alias("src"),
                     (F.col("l_suppkey") + 10_000_000).alias("dst")))
    return hits_scores(edges, n_iters=3)


def _o237() -> str:
    rounds = []
    prev_h = "h0"
    for i in (1, 2, 3):
        rounds.append(f"""
a{i} AS (
  SELECT e.dst AS node, CAST(SUM(s.score) AS BIGINT) AS score
  FROM e JOIN {prev_h} s ON s.node = e.src GROUP BY e.dst),
h{i} AS (
  SELECT e.src AS node, CAST(SUM(s.score) AS BIGINT) AS score
  FROM e JOIN a{i} s ON s.node = e.dst GROUP BY e.src)"""
        )
        prev_h = f"h{i}"
    return f"""
WITH e AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
h0 AS (SELECT DISTINCT src AS node, CAST(1 AS BIGINT) AS score FROM e),
{",".join(rounds)}
SELECT COALESCE(h3.node, a3.node) AS node,
       CAST(COALESCE(h3.score, 0) AS BIGINT) AS hub,
       CAST(COALESCE(a3.score, 0) AS BIGINT) AS auth
FROM h3 FULL OUTER JOIN a3 ON a3.node = h3.node
"""


def _q238_haversine(spark, sf):
    """Great-circle meters from every lineitem point to the (0,0)
    anchor, aggregated per returnflag as floored-integer-meter exact
    BIGINT sums (the libm-quantization oracle discipline). Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import haversine_m
    li = _t(spark, sf, "lineitem")
    x = ((F.col("l_orderkey") * 131 + F.col("l_linenumber") * 7 + 17)
         % 36000) / 100.0 - 180.0
    y = ((F.col("l_orderkey") * 241 + F.col("l_linenumber") * 11 + 29)
         % 17000) / 100.0 - 85.0
    pts = li.select(F.col("l_returnflag").alias("flag"),
                    x.alias("lon"), y.alias("lat"))
    d = haversine_m(F.col("lat"), F.col("lon"), F.lit(0.0), F.lit(0.0))
    g = pts.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(d).cast("long")).alias("dist_m_sum"))
    return g.select("flag", "n", "dist_m_sum",
                    (F.col("dist_m_sum").cast("double")
                     / F.col("n").cast("double")).alias("mean_dist_m"))


_K238 = repr(__import__("math").pi / 180.0)

_O238 = f"""
WITH pts AS (
  SELECT l_returnflag AS flag,
         ((l_orderkey * 131 + l_linenumber * 7 + 17) % 36000) / 100.0
           - 180.0 AS lon,
         ((l_orderkey * 241 + l_linenumber * 11 + 29) % 17000) / 100.0
           - 85.0 AS lat
  FROM lineitem),
d AS (
  SELECT flag,
         6371000.0 * 2.0 * asin(sqrt(least(
           sin(((0.0 - lat) * {_K238}) / 2.0)
             * sin(((0.0 - lat) * {_K238}) / 2.0)
           + cos(lat * {_K238}) * cos(0.0 * {_K238})
             * sin(((0.0 - lon) * {_K238}) / 2.0)
             * sin(((0.0 - lon) * {_K238}) / 2.0),
           1.0))) AS dm
  FROM pts)
SELECT flag, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(dm) AS BIGINT)) AS BIGINT) AS dist_m_sum,
       CAST(SUM(CAST(FLOOR(dm) AS BIGINT)) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_dist_m
FROM d GROUP BY flag
"""


def _q239_winsorized(spark, sf):
    """Per-returnflag winsorized mean of price cents (clamp the 10%
    tails to the boundary values): exact value-count integer
    arithmetic, ONE final division. Round-5 post-pin registration:
    in-repo oracle sweep only."""
    from kml2geojson_spark.relational import winsorized_mean
    li = _t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100.0).cast("long")
        .alias("cents"))
    return winsorized_mean(li, value_col="cents",
                           group_cols=["l_returnflag"], wins_milli=100)


_O239 = """
WITH b AS (
  SELECT l_returnflag AS g,
         CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS v
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
pv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY g, v),
st AS (
  SELECT g, v, c,
         CAST(COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT)
           AS before,
         CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM pv),
kp AS (
  SELECT g, v, c, before, n, (n * 100) // 1000 AS k,
         GREATEST(0, LEAST(before + c, n - (n * 100) // 1000)
                     - GREATEST(before, (n * 100) // 1000)) AS mid
  FROM st),
agg AS (
  SELECT g, CAST(MAX(n) AS BIGINT) AS n,
         CAST(MAX(k) AS BIGINT) AS k_per_side,
         CAST(MAX(CASE WHEN before <= k AND before + c > k THEN v END)
              AS BIGINT) AS lo_clamp,
         CAST(MAX(CASE WHEN before < n - k AND before + c >= n - k
                  THEN v END) AS BIGINT) AS hi_clamp,
         CAST(SUM(v * mid) AS BIGINT) AS midsum
  FROM kp GROUP BY g)
SELECT g AS l_returnflag, n, k_per_side, lo_clamp, hi_clamp,
       CAST(midsum + k_per_side * lo_clamp + k_per_side * hi_clamp
            AS BIGINT) AS winsorized_sum,
       CAST(midsum + k_per_side * lo_clamp + k_per_side * hi_clamp
            AS DOUBLE) / CAST(n AS DOUBLE) AS winsorized_mean
FROM agg
"""




def _q241_keyword_snippets(spark, sf):
    """First-occurrence keyword-in-context snippets for 'spark' over
    documents: integer locate/substring arithmetic, no regex.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.textops import keyword_snippets
    return keyword_snippets(_t(spark, sf, "documents"), "spark",
                            context=20)


_O241 = """
SELECT doc_id,
       CAST(strpos(text, 'spark') AS BIGINT) AS pos,
       substr(text,
              GREATEST(1, CAST(strpos(text, 'spark') AS BIGINT) - 20),
              45) AS snippet
FROM documents
WHERE text IS NOT NULL AND doc_id IS NOT NULL
  AND strpos(text, 'spark') > 0
"""


def _q242_bearing(spark, sf):
    """Initial bearing (milli-degree-quantized exact BIGINT) from the
    (0,0) anchor to every supplier diamond center. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import bearing_deg
    s = _t(spark, sf, "supplier")
    cx = ((F.col("s_suppkey") * 2971 + 1234) % 30000) / 100.0 - 150.0
    cy = ((F.col("s_suppkey") * 4231 + 567) % 13000) / 100.0 - 65.0
    base = s.select(F.col("s_suppkey").cast("long").alias("poly_id"),
                    cx.alias("cx"), cy.alias("cy"))
    b = bearing_deg(F.lit(0.0), F.lit(0.0), F.col("cy"), F.col("cx"))
    return base.select(
        "poly_id", F.floor(b * F.lit(1000.0)).cast("long")
        .alias("bearing_millideg"))


_K242 = repr(__import__("math").pi / 180.0)
_KK242 = repr(180.0 / __import__("math").pi)

_O242 = f"""
WITH p AS (
  SELECT CAST(s_suppkey AS BIGINT) AS poly_id,
         ((s_suppkey * 2971 + 1234) % 30000) / 100.0 - 150.0 AS cx,
         ((s_suppkey * 4231 + 567) % 13000) / 100.0 - 65.0 AS cy
  FROM supplier),
b AS (
  SELECT poly_id,
         (atan2(sin((cx - 0.0) * {_K242}) * cos(cy * {_K242}),
                cos(0.0 * {_K242}) * sin(cy * {_K242})
                - sin(0.0 * {_K242}) * cos(cy * {_K242})
                  * cos((cx - 0.0) * {_K242}))
          * {_KK242} + 360.0) % 360.0 AS deg
  FROM p)
SELECT poly_id,
       CAST(FLOOR(deg * 1000.0) AS BIGINT) AS bearing_millideg
FROM b
"""




def _q244_cohens_kappa(spark, sf):
    """Cohen's kappa between two binary "big line" judges over
    lineitem (quantity > 25 vs price > 30000): exact BIGINT
    agreement and marginal products, single-division metrics.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.quality import cohens_kappa
    li = _t(spark, sf, "lineitem").select(
        (F.col("l_quantity") > 25).cast("int").alias("ra"),
        (F.col("l_extendedprice") > 30000.0).cast("int").alias("rb"))
    return cohens_kappa(li, rater_a="ra", rater_b="rb")


_O244 = """
WITH base AS (
  SELECT CAST(CAST(l_quantity > 25 AS INTEGER) AS VARCHAR) AS a,
         CAST(CAST(l_extendedprice > 30000.0 AS INTEGER) AS VARCHAR) AS b
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
tot AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT)
           AS n_agree
  FROM base),
na AS (SELECT a AS l, CAST(COUNT(*) AS BIGINT) AS na FROM base GROUP BY a),
nb AS (SELECT b AS l, CAST(COUNT(*) AS BIGINT) AS nb FROM base GROUP BY b),
pe AS (SELECT CAST(COALESCE(SUM(na.na * nb.nb), 0) AS BIGINT) AS pn
       FROM na JOIN nb ON na.l = nb.l)
SELECT n, n_agree,
       CASE WHEN n > 0 THEN CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE)
       END AS po,
       CASE WHEN n > 0 THEN CAST(pn AS DOUBLE)
         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) END AS pe,
       CASE WHEN n > 0 AND n * n != pn THEN
         CAST(n_agree * n - pn AS DOUBLE)
           / CAST(n * n - pn AS DOUBLE) END AS kappa
FROM tot CROSS JOIN pe
"""


def _q245_int8_quant(spark, sf):
    """Int8 min-max quantization audit per embedding vector:
    IEEE-exact error sequence with an in-order fold, replayed
    verbatim by the oracle. Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.simsearch import int8_quantize_stats
    return int8_quantize_stats(_t(spark, sf, "embeddings"))


_O245 = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
    AND len(embedding) > 0),
b AS (
  SELECT vec_id, v, CAST(len(v) AS BIGINT) AS dim,
         list_min(v) AS vmin, list_max(v) AS vmax
  FROM e),
er AS (
  SELECT vec_id, dim, vmin, vmax,
         CASE WHEN vmax > vmin THEN
           list_transform(v, x -> abs(x - (vmin
             + FLOOR((x - vmin) / (vmax - vmin) * 255.0 + 0.5)
               * (vmax - vmin) / 255.0)))
         ELSE list_transform(v, x -> 0.0) END AS errs
  FROM b)
SELECT vec_id, dim, vmin, vmax,
       list_max(errs) AS max_abs_err,
       list_reduce(list_prepend(0.0, errs), (a, x) -> a + x)
         / CAST(dim AS DOUBLE) AS mean_abs_err
FROM er
"""




def _q246_simhash_curve(spark, sf):
    """Near-dup pair counts by SimHash hamming distance — the
    dedup-threshold tuning curve over the q26 banded join. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.textops import simhash_threshold_curve
    return simhash_threshold_curve(_t(spark, sf, "documents"),
                                   max_hamming=3, bands=4)


def _o246() -> str:
    return (f"WITH {_simhash_pairs_cte()} "
            "SELECT hamming, COUNT(*) AS n_pairs FROM pairs "
            "GROUP BY hamming")


def _q247_dimension_profile(spark, sf):
    """Per-dimension corpus statistics over embeddings (dead/dominant
    dimension audit): micro-quantized exact BIGINT sums, fixed double
    mean/variance expressions. Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.simsearch import dimension_profile
    return dimension_profile(_t(spark, sf, "embeddings"))


_O247 = """
WITH e AS (
  SELECT embedding::DOUBLE[] AS v FROM embeddings
  WHERE embedding IS NOT NULL),
ex AS (SELECT v, unnest(generate_series(1, len(v))) AS i FROM e),
q AS (SELECT CAST(i - 1 AS BIGINT) AS dim,
             CAST(ROUND(v[i] * 1000000.0) AS BIGINT) AS xq FROM ex),
g AS (SELECT dim, COUNT(*) AS n, CAST(SUM(xq) AS BIGINT) AS sum_q,
             CAST(SUM(xq * xq) AS BIGINT) AS sumsq_q
      FROM q GROUP BY dim)
SELECT dim, n, sum_q, sumsq_q,
       CAST(sum_q AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) AS mean,
       (CAST(sumsq_q AS DOUBLE) / CAST(n AS DOUBLE)
        - (CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE))
          * (CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE)))
         / (1000000.0 * 1000000.0) AS variance
FROM g
"""




def _q248_frame_checksums(spark, sf):
    """Video-shaped frame sampling over real binary payloads: stub
    fetch synthesizes PPM bytes (md5 chain), sample_frames slices 4
    evenly spaced byte 'frames', frame_checksums emits exact integer
    sums — the oracle replays header bytes + md5 chain + the SAME
    slice arithmetic in SQL, so the sampling itself is verified
    bit-exactly. Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.multimodal import (fetch_media_stub,
                                              frame_checksums,
                                              sample_frames)
    docs = _t(spark, sf, "documents")
    refs = (docs.where(F.col("doc_id") % 5 == 0)
            .select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.concat(F.lit("media/"),
                             F.col("doc_id").cast("string"),
                             F.lit(".ppm")).alias("media_ref"),
                    F.lit("ppm").alias("ext"),
                    F.lit(0).alias("offset")))
    fetched = fetch_media_stub(refs, payload="ppm")
    return frame_checksums(sample_frames(fetched, n_frames=4))


# PPM payload for 16x16: 13 header bytes "P6\n16 16\n255\n" + 768
# md5-chain body bytes = 781 total; step = 781 // 4 = 195; frame i
# starts at min(i*195, 781-195).
_O248 = """
WITH refs AS (
  SELECT 'media/' || CAST(doc_id AS VARCHAR) || '.ppm' AS media_ref
  FROM documents WHERE doc_id % 5 = 0),
hdr AS (
  SELECT media_ref, t.p, t.b
  FROM refs, (VALUES (0,80),(1,54),(2,10),(3,49),(4,54),(5,32),
                     (6,49),(7,54),(8,10),(9,50),(10,53),(11,53),
                     (12,10)) t(p, b)),
chunks AS (
  SELECT media_ref, i,
         md5(media_ref || ':' || CAST(i AS VARCHAR)) AS hx
  FROM refs, generate_series(0, 47) AS t(i)),
body AS (
  SELECT media_ref, 13 + 16 * i + j AS p,
         (strpos('0123456789abcdef', substr(hx, 2 * j + 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(hx, 2 * j + 2, 1)) - 1) AS b
  FROM chunks, generate_series(0, 15) AS u(j)),
allb AS (SELECT * FROM hdr UNION ALL SELECT * FROM body),
fr AS (SELECT CAST(f.i AS INTEGER) AS frame_idx,
              LEAST(f.i * 195, 781 - 195) AS strt
       FROM generate_series(0, 3) AS f(i)),
asg AS (
  SELECT a.media_ref, fr.frame_idx, a.p - fr.strt AS rel, a.b
  FROM allb a JOIN fr ON a.p >= fr.strt AND a.p < fr.strt + 195)
SELECT media_ref, frame_idx, COUNT(*)::BIGINT AS n_bytes,
       SUM(b)::BIGINT AS byte_sum,
       SUM((rel + 1) * b)::BIGINT AS byte_wsum
FROM asg GROUP BY media_ref, frame_idx
"""




def _q249_peak_concurrency(spark, sf):
    """Peak simultaneously-open synthetic order intervals per
    priority (half-open sweep, totalized (t, delta) order, exact
    BIGINT running sums). Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.eventops import peak_concurrency
    o = _t(spark, sf, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"),
                     F.to_date(F.lit("1970-01-01"))).cast("long")
    iv = o.where(F.col("o_orderpriority").isNotNull()
                 & F.col("o_orderdate").isNotNull()
                 & F.col("o_orderkey").isNotNull())         .select(F.col("o_orderpriority").alias("key"),
                day.alias("start"),
                (day + 1 + (F.col("o_orderkey") % 30)).alias("end"))
    return peak_concurrency(iv)


_O249 = """
WITH iv AS (
  SELECT o_orderpriority AS k,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS s,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           + 1 + (o_orderkey % 30) AS e
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderdate IS NOT NULL
    AND o_orderkey IS NOT NULL),
ev AS (SELECT k, s AS t, CAST(1 AS BIGINT) AS d FROM iv
       UNION ALL
       SELECT k, e AS t, CAST(-1 AS BIGINT) AS d FROM iv),
run AS (
  SELECT k, SUM(d) OVER (PARTITION BY k ORDER BY t ASC, d ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS r
  FROM ev)
SELECT k AS key, CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals,
       CAST(MAX(r) AS BIGINT) AS peak
FROM run GROUP BY k
"""




def _q250_zonal_stats(spark, sf):
    """Zonal statistics: exact cents sums of customer account
    balances per containing nation diamond (pip_join + value join +
    hash-agg). Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.spatial.ops import zonal_stats
    c = _t(spark, sf, "customer")
    pts = _customer_points(spark, sf).join(
        c.select(F.col("c_custkey").alias("point_id"),
                 F.round(F.col("c_acctbal") * 100.0).cast("long")
                 .alias("value")), "point_id")
    return zonal_stats(pts, _nation_diamonds(spark, sf), 6)


_O250 = f"""
WITH polys AS ({_POLY_SQL}),
edges AS (
  SELECT poly_id,
         cx + dx1 * r AS x1, cy + dy1 * r AS y1,
         cx + dx2 * r AS x2, cy + dy2 * r AS y2
  FROM polys CROSS JOIN (VALUES
    (1.0, 0.0, 0.0, 1.0), (0.0, 1.0, -1.0, 0.0),
    (-1.0, 0.0, 0.0, -1.0), (0.0, -1.0, 1.0, 0.0)
  ) AS d(dx1, dy1, dx2, dy2)
),
pts AS ({_PTS_SQL}),
crossings AS (
  SELECT p.point_id, e.poly_id,
         CASE WHEN ((e.y1 > p.y) != (e.y2 > p.y))
               AND (p.x < (e.x2 - e.x1) * (p.y - e.y1) / (e.y2 - e.y1) + e.x1)
              THEN 1 ELSE 0 END AS c
  FROM pts p CROSS JOIN edges e
),
hits AS (
  SELECT point_id, poly_id FROM crossings
  GROUP BY point_id, poly_id HAVING SUM(c) % 2 = 1),
vals AS (
  SELECT c_custkey AS point_id,
         CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS v
  FROM customer WHERE c_acctbal IS NOT NULL)
SELECT h.poly_id, COUNT(*) AS n_points,
       CAST(SUM(v.v) AS BIGINT) AS value_sum,
       CAST(SUM(v.v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS value_mean
FROM hits h JOIN vals v ON v.point_id = h.point_id
GROUP BY h.poly_id
"""


def _q251_spatial_thin(spark, sf):
    """Spatial thinning: one deterministic (min point_id)
    representative per res-6 Morton cell over the customer points —
    a single hash-aggregate, output bounded by the cell count.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import spatial_thin
    return spatial_thin(_customer_points(spark, sf), 6)


def _o251() -> str:
    gx, gy = _grid_sql("x", "y", 6)
    return (f"WITH pts AS ({_PTS_SQL}), "
            f"g AS (SELECT point_id, {gx} AS gx, {gy} AS gy FROM pts)"
            + _morton_ctes("point_id", 6, "g")
            + """
, agg AS (SELECT cell_id, MIN(point_id) AS point_id,
                 COUNT(*)::BIGINT AS n_points
          FROM enc GROUP BY cell_id)
SELECT a.cell_id, a.point_id, p.x, p.y, a.n_points
FROM agg a JOIN pts p USING (point_id)
""")


def _q252_adamic_adar(spark, sf):
    """Adamic-Adar link prediction over the q97 customer-supplier
    bipartite graph: shared suppliers weighted 1/ln(degree),
    integerized to exact micro-units before the BIGINT pair sum.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.graph import adamic_adar
    li = (_t(spark, sf, "lineitem").where(F.col("l_suppkey") <= 20)
          .select("l_orderkey", "l_suppkey"))
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .select(F.col("o_custkey").alias("src"),
                     F.col("l_suppkey").alias("dst")))
    return adamic_adar(edges, min_common=2)


_O252 = """
WITH e AS (
  SELECT DISTINCT o_custkey AS l, l_suppkey AS r
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_suppkey <= 20),
w AS (SELECT r, CAST(FLOOR(1000000.0 / ln(COUNT(*)::DOUBLE)) AS BIGINT)
             AS wt
      FROM e GROUP BY r HAVING COUNT(*) >= 2)
SELECT a.l AS node_a, b.l AS node_b, COUNT(*)::BIGINT AS n_common,
       SUM(w.wt)::BIGINT AS aa_micro
FROM e a JOIN e b ON a.r = b.r AND a.l < b.l JOIN w ON w.r = a.r
GROUP BY a.l, b.l HAVING COUNT(*) >= 2
"""


def _q253_distinctive_terms(spark, sf):
    """Per-language distinctive tokens by informative-Dirichlet
    log-odds z (Monroe et al.): exact BIGINT counts, one fixed IEEE
    z expression, micro-quantized output, totalized top-5 rank.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.textops import distinctive_terms
    return distinctive_terms(_t(spark, sf, "documents"),
                             group_col="lang", k=5, min_count=3)


_O253 = """
WITH toks AS (
  SELECT lang AS grp, t.token AS token
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(token)
  WHERE lang IS NOT NULL AND text IS NOT NULL AND t.token <> ''),
gt AS (SELECT grp, token, COUNT(*)::BIGINT AS y_g
       FROM toks GROUP BY grp, token),
tt AS (SELECT token, SUM(y_g)::BIGINT AS tot_t FROM gt GROUP BY token),
tg AS (SELECT grp, SUM(y_g)::BIGINT AS n_g FROM gt GROUP BY grp),
nn AS (SELECT SUM(y_g)::BIGINT AS N FROM gt),
j AS (SELECT gt.grp, gt.token, gt.y_g, tt.tot_t, tg.n_g, nn.N
      FROM gt JOIN tt USING (token) JOIN tg USING (grp) CROSS JOIN nn
      WHERE gt.y_g >= 3),
sc AS (
  SELECT grp, token, y_g, tot_t - y_g AS n_rest,
         CAST(ROUND(
           ((ln((y_g::DOUBLE + (100.0 * tot_t::DOUBLE) / N::DOUBLE)
                / (((n_g::DOUBLE + 100.0) - y_g::DOUBLE)
                   - (100.0 * tot_t::DOUBLE) / N::DOUBLE))
             - ln(((tot_t - y_g)::DOUBLE
                   + (100.0 * tot_t::DOUBLE) / N::DOUBLE)
                  / ((((N - n_g)::DOUBLE + 100.0)
                      - (tot_t - y_g)::DOUBLE)
                     - (100.0 * tot_t::DOUBLE) / N::DOUBLE)))
            / sqrt(1.0 / (y_g::DOUBLE
                          + (100.0 * tot_t::DOUBLE) / N::DOUBLE)
                   + 1.0 / ((tot_t - y_g)::DOUBLE
                            + (100.0 * tot_t::DOUBLE) / N::DOUBLE)))
           * 1000000.0) AS BIGINT) AS zeta_micro
  FROM j),
rk AS (SELECT grp AS lang, token, y_g AS n_group, n_rest, zeta_micro,
              ROW_NUMBER() OVER (PARTITION BY grp
                                 ORDER BY zeta_micro DESC, token ASC)
                AS rank
       FROM sc)
SELECT * FROM rk WHERE rank <= 5
"""


def _q254_ewma_last(spark, sf):
    """Per-user EWMA (dyadic weights over the last 6 events) at the
    latest event: exact BIGINT num/den, ONE division. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.eventops import ewma_last
    return ewma_last(_t(spark, sf, "events"), window=6)


_O254 = """
WITH e AS (
  SELECT user_id AS key, ts, event_id,
         CAST(ROUND(value * 1000.0) AS BIGINT) AS v
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL AND value IS NOT NULL),
l AS (
  SELECT key, v,
         lag(v, 1) OVER w AS v1, lag(v, 2) OVER w AS v2,
         lag(v, 3) OVER w AS v3, lag(v, 4) OVER w AS v4,
         lag(v, 5) OVER w AS v5,
         ROW_NUMBER() OVER (PARTITION BY key
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY key) AS n_events
  FROM e
  WINDOW w AS (PARTITION BY key ORDER BY ts ASC, event_id ASC)),
f AS (
  SELECT key, n_events,
         (COALESCE(v * 32, 0) + COALESCE(v1 * 16, 0)
          + COALESCE(v2 * 8, 0) + COALESCE(v3 * 4, 0)
          + COALESCE(v4 * 2, 0) + COALESCE(v5 * 1, 0))::BIGINT AS num,
         (CASE WHEN v IS NOT NULL THEN 32 ELSE 0 END
          + CASE WHEN v1 IS NOT NULL THEN 16 ELSE 0 END
          + CASE WHEN v2 IS NOT NULL THEN 8 ELSE 0 END
          + CASE WHEN v3 IS NOT NULL THEN 4 ELSE 0 END
          + CASE WHEN v4 IS NOT NULL THEN 2 ELSE 0 END
          + CASE WHEN v5 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS den
  FROM l WHERE rn = 1)
SELECT key, n_events, num, den,
       num::DOUBLE / den::DOUBLE AS ewma_milli
FROM f
"""


def _q255_mann_kendall(spark, sf):
    """Mann-Kendall trend test per user over event value cents
    ((ts, event_id)-totalized pair order, exact BIGINT S and
    tie-corrected 18-Var, fixed IEEE z). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import mann_kendall
    ev = _t(spark, sf, "events").select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100.0).cast("long").alias("cents"))
    return mann_kendall(ev, value_col="cents",
                        order_cols=["ts", "event_id"],
                        group_cols=["user_id"])


_O255 = """
WITH b AS (
  SELECT user_id AS grp, ts, event_id,
         CAST(ROUND(value * 100.0) AS BIGINT) AS x
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL AND value IS NOT NULL),
s AS (
  SELECT a.grp,
         SUM(CASE WHEN b2.x > a.x THEN 1
                  WHEN b2.x < a.x THEN -1 ELSE 0 END)::BIGINT AS s_stat
  FROM b a JOIN b b2
    ON a.grp = b2.grp AND (a.ts, a.event_id) < (b2.ts, b2.event_id)
  GROUP BY a.grp),
n AS (SELECT grp, COUNT(*)::BIGINT AS n FROM b GROUP BY grp),
t AS (SELECT grp, SUM(t * (t - 1) * (2 * t + 5))::BIGINT AS corr
      FROM (SELECT grp, x, COUNT(*)::BIGINT AS t FROM b GROUP BY grp, x)
      GROUP BY grp),
f AS (
  SELECT n.grp, n.n, COALESCE(s.s_stat, 0)::BIGINT AS s_stat,
         (n.n * (n.n - 1) * (2 * n.n + 5) - t.corr)::BIGINT AS var18
  FROM n JOIN t USING (grp) LEFT JOIN s USING (grp))
SELECT grp AS user_id, n, s_stat, var18,
       CASE WHEN n >= 2 AND var18 > 0 THEN
         CASE WHEN s_stat > 0
              THEN (s_stat - 1)::DOUBLE / sqrt(var18::DOUBLE / 18.0)
              WHEN s_stat < 0
              THEN (s_stat + 1)::DOUBLE / sqrt(var18::DOUBLE / 18.0)
              ELSE 0.0 END
       END AS z
FROM f
"""


def _q256_brown_forsythe(spark, sf):
    """Brown-Forsythe variance-equality F across returnflag levels of
    line revenue (dollars): lower-median deviations (exact BIGINT),
    then oneway_anova's milli-floored sums. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import brown_forsythe
    li = _t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice")).cast("long")
        .alias("price_dollars"))
    return brown_forsythe(li, value_col="price_dollars",
                          factor_col="l_returnflag")


_O256 = """
WITH b AS (
  SELECT l_returnflag AS lvl,
         CAST(ROUND(l_extendedprice) AS BIGINT) AS v
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
r AS (SELECT lvl, v,
             ROW_NUMBER() OVER (PARTITION BY lvl ORDER BY v ASC) AS rn,
             COUNT(*) OVER (PARTITION BY lvl) AS n
      FROM b),
m AS (SELECT lvl, v AS med FROM r WHERE rn = (n + 1) // 2),
d AS (SELECT b.lvl, ABS(b.v - m.med)::BIGINT AS z
      FROM b JOIN m USING (lvl)),
lv AS (SELECT lvl, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(z) AS BIGINT) AS s,
              CAST(SUM(z * z) AS BIGINT) AS ss
       FROM d GROUP BY lvl),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(s) AS BIGINT) AS S, CAST(SUM(ss) AS BIGINT) AS SS,
         CAST(SUM(CAST(FLOOR(s::DOUBLE * s::DOUBLE / n::DOUBLE
                             * 1000.0) AS BIGINT)) AS BIGINT) AS cb
  FROM lv),
fin AS (
  SELECT k, n,
         cb - CAST(FLOOR(S::DOUBLE * S::DOUBLE / n::DOUBLE * 1000.0)
                   AS BIGINT) AS ssb_milli,
         1000 * SS - cb AS ssw_milli
  FROM agg)
SELECT k, n, ssb_milli, ssw_milli,
  CASE WHEN k >= 2 AND n > k AND ssw_milli > 0
       THEN (ssb_milli::DOUBLE / (k - 1)::DOUBLE)
            / (ssw_milli::DOUBLE / (n - k)::DOUBLE) END AS f_stat
FROM fin
"""


def _q258_kendall_tau(spark, sf):
    """Kendall tau-b per user between event value cents and event
    epoch seconds (is spend drifting with time, rank-wise): exact
    BIGINT C/D/tie counts off a per-group pair self-join, ONE fixed
    IEEE tau expression. Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.relational import kendall_tau
    ev = _t(spark, sf, "events").select(
        "user_id", "event_id",
        F.round(F.col("value") * 100.0).cast("long").alias("cents"),
        F.floor(F.unix_timestamp("ts")).cast("long").alias("tsec"))
    return kendall_tau(ev, col_x="tsec", col_y="cents",
                       id_col="event_id", group_cols=["user_id"])


_O258 = """
WITH b AS (
  SELECT user_id AS grp, event_id AS i,
         CAST(floor(epoch(ts)) AS BIGINT) AS x,
         CAST(ROUND(value * 100.0) AS BIGINT) AS y
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL AND user_id IS NOT NULL),
cd AS (
  SELECT a.grp,
         SUM(CASE WHEN (a.x - b2.x) * (a.y - b2.y) > 0
                  THEN 1 ELSE 0 END)::BIGINT AS c,
         SUM(CASE WHEN (a.x - b2.x) * (a.y - b2.y) < 0
                  THEN 1 ELSE 0 END)::BIGINT AS d
  FROM b a JOIN b b2 ON a.grp = b2.grp AND a.i < b2.i
  GROUP BY a.grp),
n AS (SELECT grp, COUNT(*)::BIGINT AS n FROM b GROUP BY grp),
tx AS (SELECT grp, (SUM(t * (t - 1)) / 2)::BIGINT AS n1
       FROM (SELECT grp, x, COUNT(*)::BIGINT AS t FROM b GROUP BY grp, x)
       GROUP BY grp),
ty AS (SELECT grp, (SUM(t * (t - 1)) / 2)::BIGINT AS n2
       FROM (SELECT grp, y, COUNT(*)::BIGINT AS t FROM b GROUP BY grp, y)
       GROUP BY grp),
f AS (
  SELECT n.grp, n.n,
         COALESCE(cd.c, 0)::BIGINT AS concordant,
         COALESCE(cd.d, 0)::BIGINT AS discordant,
         (n.n * (n.n - 1) / 2)::BIGINT AS n0, tx.n1, ty.n2
  FROM n JOIN tx USING (grp) JOIN ty USING (grp)
  LEFT JOIN cd USING (grp))
SELECT grp AS user_id, n, concordant, discordant, n0, n1, n2,
       CASE WHEN n0 > n1 AND n0 > n2 THEN
         (concordant - discordant)::DOUBLE
         / sqrt((n0 - n1)::DOUBLE * (n0 - n2)::DOUBLE)
       END AS tau_b
FROM f
"""


def _q259_idw_interpolate(spark, sf):
    """IDW gap-filling of customer account-balance cents onto the
    empty res-6 cells within ring-2 of sampled cells: exact BIGINT
    1e9-div-d2 weights and sums, ONE division, cell_smooth's scatter
    shape plus one anti-join. Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.spatial.ops import idw_interpolate
    c = _t(spark, sf, "customer")
    pts = c.select(
        (((F.col("c_custkey") * 9301 + 49297) % 36000) / 100.0 - 180.0)
        .alias("x"),
        (((F.col("c_custkey") * 7919 + 104729) % 17000) / 100.0 - 85.0)
        .alias("y"),
        F.round(F.col("c_acctbal") * 100.0).cast("long").alias("value"))
    return idw_interpolate(pts, 6, 2)


def _o259() -> str:
    n = 1 << 6
    gx, gy = _grid_sql("x", "y", 6)
    return (f"""
WITH pts AS (
  SELECT ((c_custkey * 9301 + 49297) % 36000) / 100.0 - 180.0 AS x,
         ((c_custkey * 7919 + 104729) % 17000) / 100.0 - 85.0 AS y,
         CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS v
  FROM customer WHERE c_acctbal IS NOT NULL),
pg AS (SELECT {gx} AS sx, {gy} AS sy, v FROM pts),
cells AS (SELECT sx, sy, COUNT(*)::BIGINT AS cn, SUM(v)::BIGINT AS cs
          FROM pg GROUP BY sx, sy),
offs AS (SELECT t1.dx, t2.dy FROM range(-2,3) t1(dx), range(-2,3) t2(dy)
         WHERE t1.dx * t1.dx + t2.dy * t2.dy > 0),
sc AS (SELECT ((sx + dx) % {n} + {n}) % {n} AS tx, sy + dy AS ty,
              (1000000000 // (dx * dx + dy * dy))::BIGINT AS w, cn, cs
       FROM cells, offs
       WHERE sy + dy >= 0 AND sy + dy < {n}),
agg AS (SELECT tx, ty, COUNT(*)::BIGINT AS n_cells,
               SUM(cn)::BIGINT AS n_samples,
               SUM(w * cs)::BIGINT AS num, SUM(w * cn)::BIGINT AS den
        FROM sc GROUP BY tx, ty),
g AS (SELECT tx AS gx, ty AS gy, n_cells, n_samples, num, den
      FROM agg a
      WHERE NOT EXISTS (SELECT 1 FROM cells c
                        WHERE c.sx = a.tx AND c.sy = a.ty))"""
            + _morton_ctes("n_cells, n_samples, num, den", 6, "g")
            + """
SELECT cell_id, n_cells, n_samples, num, den,
       num::DOUBLE / den::DOUBLE AS idw_est
FROM enc
""")


def _q260_two_hop_reach(spark, sf):
    """1- and 2-hop distinct reach over the supplier co-purchase
    graph (edges between suppliers sharing an order), middle nodes
    capped at out-degree 40 before the wedge join — the documented
    hub-prune approximation, replayed identically by the oracle.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.graph import two_hop_reach
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.select(F.col("l_orderkey").alias("k"),
                  F.col("l_suppkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"),
                  F.col("l_suppkey").alias("dst"))
    edges = (a.join(b, "k")
             .where(F.col("src") != F.col("dst"))
             .select("src", "dst"))
    return two_hop_reach(edges, max_mid_degree=40)


_O260 = """
WITH e AS (
  SELECT DISTINCT a.l_suppkey AS a, b.l_suppkey AS b
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_suppkey <> b.l_suppkey),
mid AS (
  SELECT e.a, e.b FROM e
  JOIN (SELECT a, COUNT(*)::BIGINT AS d FROM e GROUP BY a) dg
    ON dg.a = e.a
  WHERE dg.d <= 40),
two AS (
  SELECT e1.a AS a, e2.b AS b
  FROM e e1 JOIN mid e2 ON e1.b = e2.a
  WHERE e1.a <> e2.b),
u AS (SELECT a, b FROM e UNION SELECT a, b FROM two),
r2 AS (SELECT a, COUNT(*)::BIGINT AS reach2 FROM u GROUP BY a),
r1 AS (SELECT a, COUNT(*)::BIGINT AS reach1 FROM e GROUP BY a)
SELECT r1.a AS node, r1.reach1, r2.reach2
FROM r1 JOIN r2 ON r1.a = r2.a
"""


def _q261_parse_wkt(spark, sf):
    """WKT interop round-trip: deterministic POINT/LINESTRING/
    MULTIPOINT strings built from integer milli-degree customer
    formulas, parsed back vertex-per-row by the pure-Column WKT
    parser (the oracle derives the identical vertices from the
    formulas directly — an independent derivation, not a replay of
    the parse). Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.spatial.ops import parse_wkt_vertices
    c = _t(spark, sf, "customer")
    xm = ((F.col("c_custkey") * 9301 + 49297) % 36000 - 18000)
    ym = ((F.col("c_custkey") * 7919 + 104729) % 17000 - 8500)
    xm2 = ((F.col("c_custkey") * 6151 + 331) % 36000 - 18000)
    ym2 = ((F.col("c_custkey") * 911 + 7177) % 17000 - 8500)
    one = F.concat(F.lit("("), xm.cast("string"), F.lit(" "),
                   ym.cast("string"), F.lit(")"))
    two = F.concat(F.lit("("), xm.cast("string"), F.lit(" "),
                   ym.cast("string"), F.lit(", "), xm2.cast("string"),
                   F.lit(" "), ym2.cast("string"), F.lit(")"))
    wkt = (F.when(F.col("c_custkey") % 3 == 0,
                  F.concat(F.lit("POINT "), one))
           .when(F.col("c_custkey") % 3 == 1,
                 F.concat(F.lit("LINESTRING "), two))
           .otherwise(F.concat(F.lit("MULTIPOINT "), two)))
    docs = c.select(F.col("c_custkey").alias("geom_id"),
                    wkt.alias("wkt"))
    return parse_wkt_vertices(docs)


_O261 = """
WITH c AS (
  SELECT c_custkey AS id, c_custkey % 3 AS m,
         (c_custkey * 9301 + 49297) % 36000 - 18000 AS xm,
         (c_custkey * 7919 + 104729) % 17000 - 8500 AS ym,
         (c_custkey * 6151 + 331) % 36000 - 18000 AS xm2,
         (c_custkey * 911 + 7177) % 17000 - 8500 AS ym2
  FROM customer),
v AS (
  SELECT id,
         CASE m WHEN 0 THEN 'POINT' WHEN 1 THEN 'LINESTRING'
                ELSE 'MULTIPOINT' END AS kind,
         0 AS vertex_idx, xm::DOUBLE AS x, ym::DOUBLE AS y
  FROM c
  UNION ALL
  SELECT id,
         CASE m WHEN 1 THEN 'LINESTRING' ELSE 'MULTIPOINT' END AS kind,
         1 AS vertex_idx, xm2::DOUBLE AS x, ym2::DOUBLE AS y
  FROM c WHERE m <> 0)
SELECT id, kind, vertex_idx, x, y FROM v
"""


def _q262_pcm_features(spark, sf):
    """Audio-shaped multimodal lane: stub fetch synthesizes 256
    md5-chain bytes per ref, pcm_window_features decodes int16-LE
    samples and emits window-local exact integer acoustics (abs sum,
    peak, zero crossings) — the oracle replays the md5 chain, the
    int16 decode, and the identical window arithmetic in SQL.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.multimodal import (fetch_media_stub,
                                              pcm_window_features)
    docs = _t(spark, sf, "documents")
    refs = (docs.where(F.col("doc_id") % 7 == 0)
            .select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.concat(F.lit("audio/"),
                             F.col("doc_id").cast("string"),
                             F.lit(".pcm")).alias("media_ref"),
                    F.lit("pcm").alias("ext"),
                    F.lit(0).alias("offset")))
    fetched = fetch_media_stub(refs, payload="pcm", payload_bytes=256)
    return pcm_window_features(fetched, window=32)


# 256 payload bytes = 16 md5 chunks = 128 int16-LE samples = 4 windows
# of 32; sample = lo + 256*hi - 65536*[hi >= 128].
_O262 = """
WITH refs AS (
  SELECT 'audio/' || CAST(doc_id AS VARCHAR) || '.pcm' AS media_ref
  FROM documents WHERE doc_id % 7 = 0),
chunks AS (
  SELECT media_ref, i,
         md5(media_ref || ':' || CAST(i AS VARCHAR)) AS hx
  FROM refs, generate_series(0, 15) AS t(i)),
bytes AS (
  SELECT media_ref, 16 * i + j AS p,
         (strpos('0123456789abcdef', substr(hx, 2 * j + 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(hx, 2 * j + 2, 1)) - 1) AS b
  FROM chunks, generate_series(0, 15) AS u(j)),
samp AS (
  SELECT media_ref, p // 2 AS s,
         SUM(CASE WHEN p % 2 = 0 THEN b ELSE 0 END)
         + 256 * SUM(CASE WHEN p % 2 = 1 THEN b ELSE 0 END)
         - 65536 * MAX(CASE WHEN p % 2 = 1 AND b >= 128
                            THEN 1 ELSE 0 END) AS v
  FROM bytes GROUP BY media_ref, p // 2),
w AS (
  SELECT media_ref, CAST(s // 32 AS INTEGER) AS window_idx, s % 32 AS pos,
         v, lag(v) OVER (PARTITION BY media_ref, s // 32
                         ORDER BY s % 32) AS pv
  FROM samp)
SELECT media_ref, window_idx, CAST(32 AS INTEGER) AS n_samples,
       SUM(ABS(v))::BIGINT AS abs_sum,
       MAX(ABS(v))::BIGINT AS peak,
       SUM(CASE WHEN pos > 0
                 AND (v >= 0) <> (pv >= 0) THEN 1 ELSE 0 END)::BIGINT
         AS zero_crossings
FROM w GROUP BY media_ref, window_idx
"""


def _q263_jl_project(spark, sf):
    """Johnson-Lindenstrauss Rademacher projection 64d -> 8d over the
    embeddings: sign-mask-literal unrolled chains (the q41 zero-Python
    discipline), 1/sqrt(8) scale, micro-quantized output. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.simsearch import jl_project
    return jl_project(_t(spark, sf, "embeddings"), dim=64, out_dim=8)


def _o263() -> str:
    import math
    from kml2geojson_spark.simsearch import rademacher_hyperplanes
    dim, k = 64, 8
    H = rademacher_hyperplanes(dim, k, seed=42)
    rows = []
    for j in range(k):
        arr = ", ".join(str(float(H[i, j])) for i in range(dim))
        rows.append(f"({j}, [{arr}]::DOUBLE[])")
    hp = ",\n    ".join(rows)
    scale = repr(1.0 / math.sqrt(float(k)))
    return f"""
WITH hp(k, h) AS (VALUES
    {hp}),
base AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE vec_id IS NOT NULL AND embedding IS NOT NULL)
SELECT b.id, CAST(hp.k AS INTEGER) AS proj_idx,
       CAST(ROUND(list_dot_product(b.v, hp.h) * {scale} * 1000000.0)
            AS BIGINT) AS y_micro
FROM base b CROSS JOIN hp
"""


def _q264_seasonality(spark, sf):
    """Hour-of-day seasonality strength (ANOVA eta-squared on the
    phase bucket) of event value cents per event type: pure integer
    phase arithmetic, oneway_anova's exact milli-floored sums, ONE
    division for eta2. Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.eventops import seasonality_strength
    ev = _t(spark, sf, "events").select(
        "event_type", "ts",
        F.round(F.col("value") * 100.0).cast("long").alias("cents"))
    return seasonality_strength(ev, value_col="cents",
                                group_cols=["event_type"])


_O264 = """
WITH b AS (
  SELECT event_type AS g,
         ((CAST(floor(epoch(ts)) AS BIGINT) % 86400 + 86400) % 86400)
           * 24 // 86400 AS ph,
         CAST(ROUND(value * 100.0) AS BIGINT) AS v
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL),
lv AS (SELECT g, ph, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(v) AS BIGINT) AS s,
              CAST(SUM(v * v) AS BIGINT) AS ss
       FROM b GROUP BY g, ph),
agg AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(s) AS BIGINT) AS S, CAST(SUM(ss) AS BIGINT) AS SS,
         CAST(SUM(CAST(FLOOR(s::DOUBLE * s::DOUBLE / n::DOUBLE
                             * 1000.0) AS BIGINT)) AS BIGINT) AS cb
  FROM lv GROUP BY g),
fin AS (
  SELECT g, k, n,
         cb - CAST(FLOOR(S::DOUBLE * S::DOUBLE / n::DOUBLE * 1000.0)
                   AS BIGINT) AS ssb_milli,
         1000 * SS - cb AS ssw_milli
  FROM agg)
SELECT g AS event_type, k, n, ssb_milli, ssw_milli,
  CASE WHEN k >= 2 AND n > k AND ssw_milli > 0
       THEN (ssb_milli::DOUBLE / (k - 1)::DOUBLE)
            / (ssw_milli::DOUBLE / (n - k)::DOUBLE) END AS f_stat,
  CASE WHEN ssb_milli + ssw_milli > 0
       THEN ssb_milli::DOUBLE / (ssb_milli + ssw_milli)::DOUBLE
  END AS eta2
FROM fin
"""


def _q265_destination_point(spark, sf):
    """Forward geodesic: customer points pushed (1 + key % 50) km
    along bearing (key * 37) % 360 on the package sphere —
    haversine_m/bearing_deg's third leg; micro-degree quantized (the
    libm rule). Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.spatial.ops import destination_point
    p = _customer_points(spark, sf).select(
        "point_id", "x", "y",
        ((F.col("point_id") * 37) % 360).cast("double").alias("brg"),
        (F.lit(1000.0) * (1 + F.col("point_id") % 50)).alias("d"))
    lat2, lon2 = destination_point(F.col("y"), F.col("x"),
                                   F.col("brg"), F.col("d"))
    return p.select(
        "point_id",
        F.round(lat2 * F.lit(1_000_000.0)).cast("long")
        .alias("lat2_microdeg"),
        F.round(lon2 * F.lit(1_000_000.0)).cast("long")
        .alias("lon2_microdeg"))


def _o265() -> str:
    import math
    k = repr(math.pi / 180.0)
    kk = repr(180.0 / math.pi)
    return f"""
WITH p AS (
  SELECT c_custkey AS point_id,
         ((c_custkey * 9301 + 49297) % 36000) / 100.0 - 180.0 AS x,
         ((c_custkey * 7919 + 104729) % 17000) / 100.0 - 85.0 AS y,
         CAST((c_custkey * 37) % 360 AS DOUBLE) AS brg,
         1000.0 * (1 + c_custkey % 50) AS d
  FROM customer),
t AS (
  SELECT point_id, x, y, brg, d,
         sin(y * {k}) * cos(d / 6371000.0)
         + cos(y * {k}) * sin(d / 6371000.0) * cos(brg * {k}) AS sp2
  FROM p),
o AS (
  SELECT point_id, asin(sp2) * {kk} AS lat2,
         ((x * {k}
           + atan2(sin(brg * {k}) * sin(d / 6371000.0) * cos(y * {k}),
                   cos(d / 6371000.0) - sin(y * {k}) * sp2)) * {kk}
          + 180.0) AS shifted
  FROM t)
SELECT point_id,
       CAST(ROUND(lat2 * 1000000.0) AS BIGINT) AS lat2_microdeg,
       CAST(ROUND((((shifted % 360.0) + 360.0) % 360.0 - 180.0)
                  * 1000000.0) AS BIGINT) AS lon2_microdeg
FROM o
"""


def _q266_rolling_corr(spark, sf):
    """Trailing-12-event Pearson correlation between event value
    cents and epoch seconds per user (is spend locally tracking
    time): exact BIGINT window sums, ONE fixed IEEE expression,
    micro-quantized. Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.relational import rolling_corr
    # rebase epoch seconds to 2024-01-01 so n*x*x stays inside int64
    # over the 12-row frame (the operator's documented bound)
    ev = _t(spark, sf, "events").select(
        "user_id", "event_id",
        (F.floor(F.unix_timestamp("ts")).cast("long")
         - F.lit(1_704_067_200)).alias("tsec"),
        F.round(F.col("value") * 100.0).cast("long").alias("cents"))
    return rolling_corr(ev, x_col="tsec", y_col="cents",
                        order_col="tsec", id_col="event_id",
                        group_cols=["user_id"], window=12,
                        min_periods=4)


_O266 = """
WITH b AS (
  SELECT user_id AS g,
         CAST(floor(epoch(ts)) AS BIGINT) - 1704067200 AS o,
         event_id AS id,
         CAST(floor(epoch(ts)) AS BIGINT) - 1704067200 AS x,
         CAST(ROUND(value * 100.0) AS BIGINT) AS y
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL AND user_id IS NOT NULL),
w AS (
  SELECT g, o, id, x, y,
         COUNT(*) OVER fr AS n,
         SUM(x) OVER fr AS sx, SUM(y) OVER fr AS sy,
         SUM(x * y) OVER fr AS sxy,
         SUM(x * x) OVER fr AS sxx, SUM(y * y) OVER fr AS syy
  FROM b
  WINDOW fr AS (PARTITION BY g ORDER BY o ASC, id ASC
                ROWS BETWEEN 11 PRECEDING AND CURRENT ROW))
SELECT g AS user_id, o, id, x, y, n::BIGINT AS n_window,
       CASE WHEN n >= 4 AND n * sxx - sx * sx > 0
                 AND n * syy - sy * sy > 0
            THEN CAST(ROUND((n * sxy - sx * sy)::DOUBLE
                            / sqrt((n * sxx - sx * sx)::DOUBLE
                                   * (n * syy - sy * sy)::DOUBLE)
                            * 1000000.0) AS BIGINT)
       END AS corr_micro
FROM w
"""


def _q267_target_encode(spark, sf):
    """Leakage-guarded target encoding of market segment against
    account-balance cents: md5 folds, exact BIGINT leave-fold-out
    sums, ONE division. Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.relational import target_encode_loo
    c = _t(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment",
        F.round(F.col("c_acctbal") * 100.0).cast("long").alias("cents"))
    return target_encode_loo(c, cat_col="c_mktsegment",
                             target_col="cents", id_col="c_custkey",
                             n_folds=5)


_O267 = """
WITH b AS (
  SELECT c_mktsegment AS cat,
         CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2))
              AS BIGINT) % 5 AS fold,
         CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS y
  FROM customer
  WHERE c_mktsegment IS NOT NULL AND c_custkey IS NOT NULL
    AND c_acctbal IS NOT NULL),
cf AS (SELECT cat, CAST(fold AS INTEGER) AS fold,
              COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS s
       FROM b GROUP BY cat, fold),
tot AS (SELECT cat, SUM(n)::BIGINT AS tn, SUM(s)::BIGINT AS ts
        FROM cf GROUP BY cat)
SELECT cf.cat, cf.fold, (tn - n)::BIGINT AS loo_n,
       (ts - s)::BIGINT AS loo_sum,
       CASE WHEN tn - n > 0
            THEN (ts - s)::DOUBLE / (tn - n)::DOUBLE END AS encoding
FROM cf JOIN tot USING (cat)
"""


def _q268_cronbach(spark, sf):
    """Cronbach's alpha over the first three line quantities per
    order (complete 3-line orders only): one aggregate pass, exact
    BIGINT variance numerators with the n^2 denominators cancelled,
    ONE IEEE expression. Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.relational import cronbach_alpha
    li = _t(spark, sf, "lineitem")
    items = (li.where(F.col("l_linenumber") <= 3)
             .groupBy("l_orderkey")
             .agg(*[F.max(F.when(F.col("l_linenumber") == i,
                                 F.col("l_quantity").cast("long")))
                    .alias(f"q{i}") for i in (1, 2, 3)]))
    return cronbach_alpha(items, item_cols=["q1", "q2", "q3"])


_O268 = """
WITH items AS (
  SELECT l_orderkey,
         MAX(CASE WHEN l_linenumber = 1
                  THEN CAST(l_quantity AS BIGINT) END) AS q1,
         MAX(CASE WHEN l_linenumber = 2
                  THEN CAST(l_quantity AS BIGINT) END) AS q2,
         MAX(CASE WHEN l_linenumber = 3
                  THEN CAST(l_quantity AS BIGINT) END) AS q3
  FROM lineitem WHERE l_linenumber <= 3 GROUP BY l_orderkey),
c AS (SELECT q1, q2, q3, q1 + q2 + q3 AS t FROM items
      WHERE q1 IS NOT NULL AND q2 IS NOT NULL AND q3 IS NOT NULL),
g AS (
  SELECT COUNT(*)::BIGINT AS n,
         SUM(q1)::BIGINT AS s1, SUM(q1 * q1)::BIGINT AS ss1,
         SUM(q2)::BIGINT AS s2, SUM(q2 * q2)::BIGINT AS ss2,
         SUM(q3)::BIGINT AS s3, SUM(q3 * q3)::BIGINT AS ss3,
         SUM(t)::BIGINT AS st, SUM(t * t)::BIGINT AS sst
  FROM c),
f AS (
  SELECT CAST(3 AS INTEGER) AS k, n,
         ((n * ss1 - s1 * s1) + (n * ss2 - s2 * s2)
          + (n * ss3 - s3 * s3))::BIGINT AS item_var_num,
         (n * sst - st * st)::BIGINT AS total_var_num
  FROM g)
SELECT k, n, item_var_num, total_var_num,
       CASE WHEN n >= 2 AND total_var_num > 0
            THEN 1.5 * (1.0 - item_var_num::DOUBLE
                        / total_var_num::DOUBLE) END AS alpha
FROM f
"""


def _q269_negative_samples(spark, sf):
    """Deterministic md5 negative sampling over the q97 customer ->
    supplier purchase graph (k=5 draws per customer into the 20-node
    supplier universe, true edges anti-joined away) — the link-
    prediction training-set complement. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.graph import negative_edge_samples
    li = (_t(spark, sf, "lineitem").where(F.col("l_suppkey") <= 20)
          .select("l_orderkey", "l_suppkey"))
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    edges = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
             .select(F.col("o_custkey").alias("src"),
                     F.col("l_suppkey").alias("dst")))
    return negative_edge_samples(edges, k=5)


_O269 = """
WITH e AS (
  SELECT DISTINCT o_custkey AS s, l_suppkey AS d
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_suppkey <= 20),
dn AS (SELECT d, ROW_NUMBER() OVER (ORDER BY d ASC) - 1 AS idx
       FROM (SELECT DISTINCT d FROM e)),
nd AS (SELECT COUNT(*)::BIGINT AS c FROM dn),
cand AS (
  SELECT s.s, j.j,
         ((('0x' || substr(md5('neg:42:' || CAST(s.s AS VARCHAR)
                               || ':' || CAST(j.j AS VARCHAR)), 1, 15))
           ::BIGINT % nd.c) + nd.c) % nd.c AS idx
  FROM (SELECT DISTINCT s FROM e) s, generate_series(0, 4) j(j), nd),
withd AS (
  SELECT c.s, dn.d, c.j FROM cand c JOIN dn USING (idx)
  WHERE c.s <> dn.d),
neg AS (
  SELECT w.s, w.d, w.j FROM withd w
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.s = w.s AND e.d = w.d))
SELECT s AS src, d AS neg_dst, CAST(MIN(j) AS INTEGER) AS try_idx
FROM neg GROUP BY s, d
"""


def _q270_hashed_features(spark, sf):
    """Hashing-trick signed count vectors over order priority/status
    (32 buckets): md5 bucket + hex-parity sign, one (id, bucket)
    hash-aggregate — the vocabulary-free categorical vectorizer.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import hashed_features
    o = _t(spark, sf, "orders")
    return hashed_features(o, id_col="o_orderkey",
                           cat_cols=["o_orderpriority", "o_orderstatus"],
                           n_buckets=32)


_O270 = """
WITH f AS (
  SELECT o_orderkey AS id,
         'o_orderpriority=' || o_orderpriority AS feat
  FROM orders WHERE o_orderpriority IS NOT NULL
  UNION ALL
  SELECT o_orderkey, 'o_orderstatus=' || o_orderstatus
  FROM orders WHERE o_orderstatus IS NOT NULL),
h AS (
  SELECT id,
         CAST(((('0x' || substr(md5(feat), 1, 15))::BIGINT % 32) + 32)
              % 32 AS INTEGER) AS bucket,
         CASE WHEN ('0x' || substr(md5(feat), 16, 1))::BIGINT % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM f)
SELECT id, bucket, SUM(sgn)::BIGINT AS feat_val
FROM h GROUP BY id, bucket
"""


def _q271_cuped(spark, sf):
    """CUPED variance-reduced readout over orders: arm =
    o_orderpriority, metric = total-price cents, covariate = a
    deterministic custkey stratum; exact BIGINT sums off one pass,
    pooled theta ONE expression. Round-5 post-pin registration:
    in-repo oracle sweep only."""
    from kml2geojson_spark.relational import cuped_adjusted_means
    # kilodollar metric units and a 4-bit covariate keep every pooled
    # cross-product below 2^53 through sf1 (the jarque_bera
    # conversion-window rule) — cents overflowed BIGINT at sf0.1
    o = _t(spark, sf, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") / 1000.0).cast("long").alias("y"),
        (F.col("o_custkey") % 16).cast("long").alias("x"))
    return cuped_adjusted_means(o, metric_col="y", covariate_col="x",
                                arm_col="o_orderpriority")


_O271 = """
WITH b AS (
  SELECT o_orderpriority AS arm,
         CAST(ROUND(o_totalprice / 1000.0) AS BIGINT) AS y,
         CAST(o_custkey % 16 AS BIGINT) AS x
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
    AND o_custkey IS NOT NULL),
arms AS (
  SELECT arm, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS sy,
         SUM(x)::BIGINT AS sx, SUM(x * y)::BIGINT AS sxy,
         SUM(x * x)::BIGINT AS sxx
  FROM b GROUP BY arm),
p AS (SELECT SUM(n)::BIGINT AS pn, SUM(sy)::BIGINT AS psy,
             SUM(sx)::BIGINT AS psx, SUM(sxy)::BIGINT AS psxy,
             SUM(sxx)::BIGINT AS psxx
      FROM arms)
SELECT arm, n,
       sy::DOUBLE / n::DOUBLE AS mean_y,
       sx::DOUBLE / n::DOUBLE AS mean_x,
       CASE WHEN pn * psxx - psx * psx > 0
            THEN (pn * psxy - psx * psy)::DOUBLE
                 / (pn * psxx - psx * psx)::DOUBLE END AS theta,
       CASE WHEN pn * psxx - psx * psx > 0
            THEN sy::DOUBLE / n::DOUBLE
                 - ((pn * psxy - psx * psy)::DOUBLE
                    / (pn * psxx - psx * psx)::DOUBLE)
                   * (sx::DOUBLE / n::DOUBLE - psx::DOUBLE / pn::DOUBLE)
            ELSE sy::DOUBLE / n::DOUBLE END AS adjusted_mean
FROM arms, p
"""


def _q272_diff_in_diff(spark, sf):
    """Difference-in-differences over orders: treated = even
    customers, post = orderdate >= 1995-01-01, metric = total-price
    cents; four exact BIGINT cells off one aggregate, DID one fixed
    expression. Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.relational import diff_in_diff
    o = _t(spark, sf, "orders").select(
        F.when(F.col("o_custkey") % 2 == 0, F.lit("t"))
        .otherwise(F.lit("c")).alias("grp"),
        F.when(F.col("o_orderdate") >= F.lit("1995-01-01"),
               F.lit("post")).otherwise(F.lit("pre")).alias("period"),
        F.round(F.col("o_totalprice") * 100.0).cast("long").alias("y"))
    return diff_in_diff(o, metric_col="y", group_col="grp",
                        period_col="period", treated_value="t",
                        post_value="post")


_O272 = """
WITH b AS (
  SELECT CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS t,
         CASE WHEN o_orderdate >= DATE '1995-01-01'
              THEN 1 ELSE 0 END AS p,
         CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS y
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
    AND o_totalprice IS NOT NULL),
g AS (
  SELECT SUM(CASE WHEN t = 1 AND p = 1 THEN 1 ELSE 0 END)::BIGINT AS n_tp,
         SUM(CASE WHEN t = 1 AND p = 1 THEN y ELSE 0 END)::BIGINT AS stp,
         SUM(CASE WHEN t = 1 AND p = 0 THEN 1 ELSE 0 END)::BIGINT AS n_tr,
         SUM(CASE WHEN t = 1 AND p = 0 THEN y ELSE 0 END)::BIGINT AS str_,
         SUM(CASE WHEN t = 0 AND p = 1 THEN 1 ELSE 0 END)::BIGINT AS n_cp,
         SUM(CASE WHEN t = 0 AND p = 1 THEN y ELSE 0 END)::BIGINT AS scp,
         SUM(CASE WHEN t = 0 AND p = 0 THEN 1 ELSE 0 END)::BIGINT AS n_cr,
         SUM(CASE WHEN t = 0 AND p = 0 THEN y ELSE 0 END)::BIGINT AS scr
  FROM b)
SELECT n_tp, n_tr, n_cp, n_cr,
       CASE WHEN n_tp > 0 THEN stp::DOUBLE / n_tp::DOUBLE END
         AS mean_treated_post,
       CASE WHEN n_tr > 0 THEN str_::DOUBLE / n_tr::DOUBLE END
         AS mean_treated_pre,
       CASE WHEN n_cp > 0 THEN scp::DOUBLE / n_cp::DOUBLE END
         AS mean_control_post,
       CASE WHEN n_cr > 0 THEN scr::DOUBLE / n_cr::DOUBLE END
         AS mean_control_pre,
       CASE WHEN n_tp > 0 AND n_tr > 0 AND n_cp > 0 AND n_cr > 0
            THEN (stp::DOUBLE / n_tp::DOUBLE - str_::DOUBLE / n_tr::DOUBLE)
                 - (scp::DOUBLE / n_cp::DOUBLE
                    - scr::DOUBLE / n_cr::DOUBLE) END AS did
FROM g
"""


def _q273_parse_url(spark, sf):
    """URL decomposition round-trip: deterministic URLs built from
    customer keys (4 structural shapes: port, credentials, query,
    bare host), parsed by the pure-Column parser; the oracle derives
    the components independently from the generating formulas.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.netops import parse_url
    c = _t(spark, sf, "customer")
    k = F.col("c_custkey")
    host = F.concat(F.lit("h"), (k % 97).cast("string"),
                    F.lit(".Example.com"))
    url = (F.when(k % 4 == 0,
                  F.concat(F.lit("https://"), host, F.lit("/p/"),
                           k.cast("string"), F.lit("?q="),
                           (k % 13).cast("string")))
           .when(k % 4 == 1,
                 F.concat(F.lit("http://"), host, F.lit(":8080/")))
           .when(k % 4 == 2,
                 F.concat(F.lit("ftp://user:pw@"), host, F.lit("/f.bin")))
           .otherwise(F.concat(F.lit("https://"), host)))
    docs = c.select(F.col("c_custkey").alias("doc_id"),
                    url.alias("url"))
    return parse_url(docs)


_O273 = """
WITH c AS (
  SELECT c_custkey AS id, c_custkey % 4 AS m,
         'h' || CAST(c_custkey % 97 AS VARCHAR) || '.example.com' AS lh
  FROM customer)
SELECT id,
       CASE m WHEN 1 THEN 'http' WHEN 2 THEN 'ftp'
              ELSE 'https' END AS scheme,
       lh AS host,
       CASE WHEN m = 1 THEN 8080 END AS port,
       CASE m WHEN 0 THEN '/p/' || CAST(id AS VARCHAR)
              WHEN 1 THEN '/' WHEN 2 THEN '/f.bin' ELSE '' END AS path,
       CASE WHEN m = 0 THEN 'q=' || CAST(id % 13 AS VARCHAR)
            ELSE '' END AS query,
       'example.com' AS domain2
FROM c
"""


def _q274_gc_interpolate(spark, sf):
    """Great-circle interpolation: each customer point slid a
    key-dependent fraction toward its supplier-formula twin —
    micro-degree quantized (the libm rule), slerp replayed literally
    by the oracle. Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.spatial.ops import great_circle_interpolate
    p = _customer_points(spark, sf).select(
        "point_id", "x", "y",
        (((F.col("point_id") * 6151 + 331) % 36000) / 100.0 - 180.0)
        .alias("x2"),
        (((F.col("point_id") * 911 + 7177) % 17000) / 100.0 - 85.0)
        .alias("y2"),
        ((F.col("point_id") % 10).cast("double") / 10.0).alias("f"))
    lat, lon = great_circle_interpolate(F.col("y"), F.col("x"),
                                        F.col("y2"), F.col("x2"),
                                        F.col("f"))
    return p.select(
        "point_id",
        F.round(lat * F.lit(1_000_000.0)).cast("long")
        .alias("lat_microdeg"),
        F.round(lon * F.lit(1_000_000.0)).cast("long")
        .alias("lon_microdeg"))


def _o274() -> str:
    import math
    k = repr(math.pi / 180.0)
    kk = repr(180.0 / math.pi)
    return f"""
WITH p AS (
  SELECT c_custkey AS point_id,
         (((c_custkey * 9301 + 49297) % 36000) / 100.0 - 180.0) * {k} AS l1,
         (((c_custkey * 7919 + 104729) % 17000) / 100.0 - 85.0) * {k} AS p1,
         (((c_custkey * 6151 + 331) % 36000) / 100.0 - 180.0) * {k} AS l2,
         (((c_custkey * 911 + 7177) % 17000) / 100.0 - 85.0) * {k} AS p2,
         CAST(c_custkey % 10 AS DOUBLE) / 10.0 AS f
  FROM customer),
d AS (
  SELECT *,
         2.0 * asin(sqrt(pow(sin((p2 - p1) / 2), 2)
                         + cos(p1) * cos(p2)
                           * pow(sin((l2 - l1) / 2), 2))) AS delta
  FROM p),
s AS (
  SELECT *, sin(delta) AS sd,
         sin((1.0 - f) * delta) / sin(delta) AS a,
         sin(f * delta) / sin(delta) AS b
  FROM d),
v AS (
  SELECT point_id, p1, l1, sd,
         a * cos(p1) * cos(l1) + b * cos(p2) * cos(l2) AS x,
         a * cos(p1) * sin(l1) + b * cos(p2) * sin(l2) AS y,
         a * sin(p1) + b * sin(p2) AS z
  FROM s)
SELECT point_id,
       CAST(ROUND(CASE WHEN sd > 1e-12
                       THEN atan2(z, sqrt(x * x + y * y)) * {kk}
                       ELSE p1 * {kk} END * 1000000.0) AS BIGINT)
         AS lat_microdeg,
       CAST(ROUND(CASE WHEN sd > 1e-12 THEN atan2(y, x) * {kk}
                       ELSE l1 * {kk} END * 1000000.0) AS BIGINT)
         AS lon_microdeg
FROM v
"""


def _q276_theil_sen(spark, sf):
    """Theil-Sen robust slope per user over event value cents vs
    epoch-micros time (exact long pair differences, one IEEE
    division per pair, lower-median selection by sort position) —
    mann_kendall's (q255) companion magnitude. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import theil_sen
    ev = _t(spark, sf, "events").select(
        "user_id",
        F.expr("timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)").alias("t_us"),
        F.round(F.col("value") * 100.0).cast("long").alias("cents"))
    return theil_sen(ev, value_col="cents", t_col="t_us",
                     group_cols=["user_id"])


_O276 = """
WITH b AS (
  SELECT user_id AS g, epoch_us(ts) AS t,
         CAST(ROUND(value * 100.0) AS BIGINT) AS x
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
p AS (
  SELECT a.g, (b2.x - a.x)::DOUBLE / (b2.t - a.t)::DOUBLE AS s
  FROM b a JOIN b b2 ON a.g = b2.g AND a.t < b2.t),
r AS (
  SELECT g, s,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY s ASC) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS m
  FROM p),
med AS (SELECT g, m, s FROM r
        WHERE rn = CAST(FLOOR((m + 1) / 2.0) AS BIGINT)),
allg AS (SELECT DISTINCT g FROM b)
SELECT allg.g AS user_id,
       COALESCE(med.m, 0)::BIGINT AS n_pairs, med.s AS slope
FROM allg LEFT JOIN med ON allg.g = med.g
"""


def _q288_spherical_area(spark, sf):
    """Spherical polygon area (m²) of the nation diamonds — the
    geodesic correction to the planar shoelace; micro-steradian
    quantized trapezoid terms summed as exact BIGINTs. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import spherical_polygon_area
    base = _nation_diamond_params(spark, sf)
    ring = F.array(
        F.struct((F.col("cx") + F.col("r")).alias("x"),
                 F.col("cy").alias("y")),
        F.struct(F.col("cx").alias("x"),
                 (F.col("cy") + F.col("r")).alias("y")),
        F.struct((F.col("cx") - F.col("r")).alias("x"),
                 F.col("cy").alias("y")),
        F.struct(F.col("cx").alias("x"),
                 (F.col("cy") - F.col("r")).alias("y")),
        F.struct((F.col("cx") + F.col("r")).alias("x"),
                 F.col("cy").alias("y")),
    )
    return spherical_polygon_area(base.withColumn("ring", ring),
                                  id_cols=["poly_id"])


def _o288() -> str:
    import math
    k = repr(math.pi / 180.0)
    pi = repr(math.pi)
    two_pi = repr(2.0 * math.pi)

    def term(l1, p1, l2, p2):
        d = (f"(({l2}) * {k} - ({l1}) * {k})"
             f" - {two_pi} * FLOOR(((({l2}) * {k} - ({l1}) * {k})"
             f" + {pi}) / {two_pi})")
        s = f"(2.0 + SIN(({p1}) * {k}) + SIN(({p2}) * {k}))"
        return (f"CAST(FLOOR(({d}) * {s} * 1000000000000.0 + 0.5) "
                f"AS BIGINT)")

    edges = [("cx + r", "cy", "cx", "cy + r"),
             ("cx", "cy + r", "cx - r", "cy"),
             ("cx - r", "cy", "cx", "cy - r"),
             ("cx", "cy - r", "cx + r", "cy")]
    terms = " + ".join(term(*e) for e in edges)
    return f"""
WITH polys AS ({_POLY_SQL}),
acc AS (SELECT poly_id, ({terms}) AS s FROM polys)
SELECT poly_id, 5 AS n_vertices,
       CAST(FLOOR(ABS(s)::DOUBLE / 1000000000000.0 / 2.0
                  * 6371000.0 * 6371000.0 + 0.5) AS BIGINT) AS area_m2
FROM acc
"""


def _q286_hodges_lehmann(spark, sf):
    """Hodges-Lehmann robust location of event value cents per user
    (lower median of exact-integer Walsh averages, selection by sort
    position). Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.relational import hodges_lehmann
    ev = _t(spark, sf, "events").select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100.0).cast("long").alias("cents"))
    return hodges_lehmann(ev, value_col="cents",
                          order_cols=["ts", "event_id"],
                          group_cols=["user_id"])


_O286 = """
WITH b AS (
  SELECT user_id AS g, ts, event_id,
         CAST(ROUND(value * 100.0) AS BIGINT) AS x
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL AND value IS NOT NULL),
p AS (
  SELECT a.g, (a.x + b2.x)::DOUBLE / 2.0 AS w
  FROM b a JOIN b b2
    ON a.g = b2.g AND (a.ts, a.event_id) <= (b2.ts, b2.event_id)),
r AS (SELECT g, w,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY w ASC) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS m
      FROM p)
SELECT g AS user_id, m AS n_pairs, w AS hl_estimate
FROM r WHERE rn = CAST(FLOOR((m + 1) / 2.0) AS BIGINT)
"""


def _q287_siegel_slope(spark, sf):
    """Siegel repeated-medians slope per user (50% breakdown): the
    per-point lower-median of pairwise slopes, then the lower median
    of those — same exact-integer pair machinery as q276. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import siegel_slope
    ev = _t(spark, sf, "events").select(
        "user_id",
        F.expr("timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)").alias("t_us"),
        F.round(F.col("value") * 100.0).cast("long").alias("cents"))
    return siegel_slope(ev, value_col="cents", t_col="t_us",
                        group_cols=["user_id"])


_O287 = """
WITH b AS (
  SELECT user_id AS g, epoch_us(ts) AS t,
         CAST(ROUND(value * 100.0) AS BIGINT) AS x
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
p AS (
  SELECT a.g, a.t AS ti, a.x AS xi,
         (b2.x - a.x)::DOUBLE / (b2.t - a.t)::DOUBLE AS s
  FROM b a JOIN b b2 ON a.g = b2.g AND a.t != b2.t),
r1 AS (SELECT g, ti, xi, s,
              ROW_NUMBER() OVER (PARTITION BY g, ti, xi
                                 ORDER BY s ASC) AS rn,
              CAST(COUNT(*) OVER (PARTITION BY g, ti, xi) AS BIGINT)
                AS m
       FROM p),
mi AS (SELECT g, s AS mi FROM r1
       WHERE rn = CAST(FLOOR((m + 1) / 2.0) AS BIGINT)),
r2 AS (SELECT g, mi,
              ROW_NUMBER() OVER (PARTITION BY g ORDER BY mi ASC) AS rn,
              CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS np
       FROM mi)
SELECT g AS user_id, np AS n_points, mi AS slope
FROM r2 WHERE rn = CAST(FLOOR((np + 1) / 2.0) AS BIGINT)
"""


_RIPLEY_RADII = [2.0, 5.0, 10.0, 20.0]
_SPATIAL_AREA = 360.0 * 170.0  # x in [-180,180), y in [-85,85)


def _q277_ripley_k(spark, sf):
    """Ripley's K over the customer point field at four radii — ONE
    k-ring DWithin join at max(r), conditional-sum aggregate per
    radius; K/L are fixed double expressions over exact BIGINT pair
    counts. Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.spatial.ops import ripley_k
    return ripley_k(_customer_points(spark, sf), _RIPLEY_RADII,
                    _SPATIAL_AREA, res=4)


def _o277() -> str:
    conds = ", ".join(
        f"SUM(CASE WHEN dist2 <= {r * r!r} THEN 1 ELSE 0 END)::BIGINT"
        f" AS p{i}" for i, r in enumerate(_RIPLEY_RADII))
    rows = " UNION ALL ".join(
        f"SELECT {r!r}::DOUBLE AS r, n, p{i} AS pairs FROM agg"
        for i, r in enumerate(_RIPLEY_RADII))
    return f"""
WITH pts AS ({_PTS_SQL}),
d AS (
  SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
  FROM pts a JOIN pts b ON a.point_id != b.point_id),
n AS (SELECT COUNT(*)::BIGINT AS n FROM pts),
agg AS (SELECT n.n, {conds} FROM d CROSS JOIN n GROUP BY n.n),
tall AS ({rows})
SELECT r, n, pairs,
       CASE WHEN n >= 2 THEN {_SPATIAL_AREA!r} * pairs::DOUBLE
                             / (n::DOUBLE * (n::DOUBLE - 1.0)) END AS k_est,
       CASE WHEN n >= 2 THEN SQRT(({_SPATIAL_AREA!r} * pairs::DOUBLE
                             / (n::DOUBLE * (n::DOUBLE - 1.0)))
                             / 3.141592653589793) END AS l_est
FROM tall
"""


def _q278_clark_evans(spark, sf):
    """Clark-Evans nearest-neighbour index over the customer point
    field — adaptive k-ring kNN (k=2, self dropped by id), exact
    micro-unit NN-distance sum, fixed double R expression.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import clark_evans
    return clark_evans(_customer_points(spark, sf), _SPATIAL_AREA,
                       res=6)


_O278 = f"""
WITH pts AS ({_PTS_SQL}),
nn AS (
  SELECT a.point_id,
         MIN((a.x - b.x) * (a.x - b.x)
             + (a.y - b.y) * (a.y - b.y)) AS m
  FROM pts a JOIN pts b ON a.point_id != b.point_id
  GROUP BY a.point_id),
q AS (SELECT CAST(FLOOR(SQRT(m) * 1000000.0 + 0.5) AS BIGINT) AS nnm
      FROM nn),
agg AS (SELECT COUNT(*)::BIGINT AS n, SUM(nnm)::BIGINT AS sum_nn_micro
        FROM q)
SELECT n, sum_nn_micro,
  CASE WHEN n >= 2
       THEN sum_nn_micro::DOUBLE / 1000000.0 / n::DOUBLE END AS mean_nn,
  CASE WHEN n >= 2
       THEN 0.5 / SQRT(n::DOUBLE / {_SPATIAL_AREA!r}) END AS expected_nn,
  CASE WHEN n >= 2
       THEN (sum_nn_micro::DOUBLE / 1000000.0 / n::DOUBLE)
            / (0.5 / SQRT(n::DOUBLE / {_SPATIAL_AREA!r})) END AS r_index
FROM agg
"""


def _q279_ring_audit(spark, sf):
    """Ring validity audit over the nation diamond rings — exact
    micro-unit shoelace area2, closure and winding flags, pure
    Column zip_with/aggregate (no shuffle). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import ring_audit
    base = _nation_diamond_params(spark, sf)

    ring = F.array(
        F.struct((F.col("cx") + F.col("r")).alias("x"),
                 F.col("cy").alias("y")),
        F.struct(F.col("cx").alias("x"),
                 (F.col("cy") + F.col("r")).alias("y")),
        F.struct((F.col("cx") - F.col("r")).alias("x"),
                 F.col("cy").alias("y")),
        F.struct(F.col("cx").alias("x"),
                 (F.col("cy") - F.col("r")).alias("y")),
        F.struct((F.col("cx") + F.col("r")).alias("x"),
                 F.col("cy").alias("y")),
    )
    return ring_audit(base.withColumn("ring", ring),
                      id_cols=["poly_id"])


_O279 = f"""
WITH polys AS ({_POLY_SQL}),
qv AS (
  SELECT poly_id,
         CAST(FLOOR((cx + r) * 1000000.0 + 0.5) AS BIGINT) AS x1,
         CAST(FLOOR(cy * 1000000.0 + 0.5) AS BIGINT)       AS y1,
         CAST(FLOOR(cx * 1000000.0 + 0.5) AS BIGINT)       AS x2,
         CAST(FLOOR((cy + r) * 1000000.0 + 0.5) AS BIGINT) AS y2,
         CAST(FLOOR((cx - r) * 1000000.0 + 0.5) AS BIGINT) AS x3,
         CAST(FLOOR(cy * 1000000.0 + 0.5) AS BIGINT)       AS y3,
         CAST(FLOOR(cx * 1000000.0 + 0.5) AS BIGINT)       AS x4,
         CAST(FLOOR((cy - r) * 1000000.0 + 0.5) AS BIGINT) AS y4
  FROM polys)
SELECT poly_id, 5 AS n_vertices, TRUE AS is_closed,
       ((x1 * y2 - x2 * y1) + (x2 * y3 - x3 * y2)
        + (x3 * y4 - x4 * y3) + (x4 * y1 - x1 * y4))::BIGINT
         AS area2_scaled,
       'ccw' AS orientation, FALSE AS is_degenerate
FROM qv
"""


def _supplier_polylines(spark, sf, limit_key: int | None = None):
    """(line_id, line ARRAY<STRUCT<x,y>>) — 5-vertex hash-formula
    polylines per supplier; the single Python-side source of the
    vertex formulas (SQL twin: _LINE_VERTS_SQL)."""
    s = _t(spark, sf, "supplier")
    if limit_key is not None:
        s = s.where(F.col("s_suppkey") <= limit_key)
    k = F.col("s_suppkey")
    verts = F.array(*[
        F.struct(
            (((k * 2551 + j * 1733 + 97) % 36000) / 100.0 - 180.0)
            .alias("x"),
            (((k * 1423 + j * 911 + 55) % 17000) / 100.0 - 85.0)
            .alias("y"))
        for j in range(5)])
    return s.select(k.cast("long").alias("line_id"),
                    verts.alias("line"))


def _line_verts_sql(where: str = "") -> str:
    return f"""
SELECT s_suppkey AS line_id, j,
       ((s_suppkey * 2551 + j * 1733 + 97) % 36000) / 100.0 - 180.0 AS x,
       ((s_suppkey * 1423 + j * 911 + 55) % 17000) / 100.0 - 85.0 AS y
FROM supplier, LATERAL (SELECT unnest(generate_series(0, 4)) AS j)
{where}
"""


def _q284_line_interpolate(spark, sf):
    """Linear referencing over supplier polylines: the point at a
    per-line hash fraction of arc length — micro-integer cumulative
    lengths (no float cumsum association), single pure-Column fold.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import line_interpolate
    lines = _supplier_polylines(spark, sf).withColumn(
        "frac", ((F.col("line_id") * 7) % 100) / F.lit(100.0))
    return line_interpolate(lines, id_cols=["line_id"])


_O284 = f"""
WITH verts AS ({_line_verts_sql()}),
segs AS (
  SELECT line_id, j, x AS x0, y AS y0,
         LEAD(x) OVER (PARTITION BY line_id ORDER BY j) AS x1,
         LEAD(y) OVER (PARTITION BY line_id ORDER BY j) AS y1
  FROM verts),
sl AS (
  SELECT line_id, j, x0, y0, x1, y1,
         CAST(FLOOR(SQRT((x1 - x0) * (x1 - x0)
                         + (y1 - y0) * (y1 - y0)) * 1000000.0 + 0.5)
              AS BIGINT) AS lm
  FROM segs WHERE x1 IS NOT NULL),
cum AS (SELECT *, SUM(lm) OVER (PARTITION BY line_id
                                ORDER BY j)::BIGINT AS cm FROM sl),
tot AS (SELECT line_id, MAX(cm)::BIGINT AS total FROM cum
        GROUP BY line_id),
tgt AS (SELECT line_id, total,
               CAST(FLOOR((((line_id * 7) % 100) / 100.0)
                          * total::DOUBLE) AS BIGINT) AS target
        FROM tot),
pick AS (
  SELECT c.line_id, c.x0, c.y0, c.x1, c.y1, c.lm, c.cm,
         g.target, g.total,
         ROW_NUMBER() OVER (PARTITION BY c.line_id
                            ORDER BY c.j) AS rk
  FROM cum c JOIN tgt g ON c.line_id = g.line_id
  WHERE c.lm > 0 AND c.cm >= g.target),
sel AS (SELECT line_id, total,
               (target - (cm - lm))::DOUBLE / lm::DOUBLE AS t,
               x0, y0, x1, y1
        FROM pick WHERE rk = 1)
SELECT line_id, 5 AS n_vertices, total AS total_len_micro,
       CAST(FLOOR((x0 + t * (x1 - x0)) * 1000000.0 + 0.5) AS BIGINT)
         AS px_micro,
       CAST(FLOOR((y0 + t * (y1 - y0)) * 1000000.0 + 0.5) AS BIGINT)
         AS py_micro
FROM sel
"""


def _q285_hausdorff(spark, sf):
    """Discrete Hausdorff distance for the 190 supplier polyline
    pairs (candidate pairing is the pruning family's job at scale;
    the refine is a zero-shuffle pure-Column nested min/max over
    exact squared distances, one final sqrt micro-quantized).
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import discrete_hausdorff
    lines = _supplier_polylines(spark, sf, limit_key=20)
    a = lines.select(F.col("line_id").alias("id_a"),
                     F.col("line").alias("line_a"))
    b = lines.select(F.col("line_id").alias("id_b"),
                     F.col("line").alias("line_b"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    return discrete_hausdorff(pairs, id_cols=["id_a", "id_b"])


_O285 = f"""
WITH verts AS ({_line_verts_sql("WHERE s_suppkey <= 20")}),
d AS (
  SELECT a.line_id AS ia, b.line_id AS ib, a.j AS ja, b.j AS jb,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
  FROM verts a JOIN verts b ON a.line_id < b.line_id),
hab AS (SELECT ia, ib, MAX(md) AS h
        FROM (SELECT ia, ib, ja, MIN(d2) AS md
              FROM d GROUP BY ia, ib, ja)
        GROUP BY ia, ib),
hba AS (SELECT ia, ib, MAX(md) AS h
        FROM (SELECT ia, ib, jb, MIN(d2) AS md
              FROM d GROUP BY ia, ib, jb)
        GROUP BY ia, ib)
SELECT hab.ia AS id_a, hab.ib AS id_b,
       CAST(FLOOR(SQRT(GREATEST(hab.h, hba.h)) * 1000000.0 + 0.5)
            AS BIGINT) AS hausdorff_micro
FROM hab JOIN hba ON hab.ia = hba.ia AND hab.ib = hba.ib
"""


def _q282_bootstrap_ci(spark, sf):
    """Derandomized percentile bootstrap CI for the mean event value
    (cents): md5(seed:id:b) 52-bit uniforms -> Poisson(1) weights,
    exact BIGINT resample sums, order-statistic CI bounds. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import bootstrap_ci
    ev = _t(spark, sf, "events").select(
        "event_id",
        F.round(F.col("value") * 100.0).cast("long").alias("cents"))
    return bootstrap_ci(ev, value_col="cents", id_col="event_id",
                        n_resamples=100, alpha_permille=50,
                        seed="boot")


def _poisson1_case_sql(u_expr: str) -> str:
    from kml2geojson_spark.relational import POISSON1_CDF
    cases = " ".join(
        f"WHEN {u_expr} < {c!r} THEN {k}"
        for k, c in enumerate(POISSON1_CDF))
    return f"CASE {cases} ELSE 7 END"


_U52_SQL = ("(('0x' || substr(md5({s}), 1, 13))::BIGINT::DOUBLE"
            " / 4503599627370496.0)")


def _o282() -> str:
    u = _U52_SQL.format(
        s="'boot:' || CAST(event_id AS VARCHAR) || ':' "
          "|| CAST(b AS VARCHAR)")
    return f"""
WITH base AS (
  SELECT event_id, CAST(ROUND(value * 100.0) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
obs AS (SELECT COUNT(*)::BIGINT AS n,
               SUM(x)::DOUBLE / COUNT(*)::DOUBLE AS observed_mean
        FROM base),
rs AS (SELECT event_id, x, b
       FROM base, generate_series(1, 100) AS t(b)),
wt AS (SELECT b, x, CAST({_poisson1_case_sql(u)} AS BIGINT) AS w
       FROM rs),
means AS (
  SELECT b, SUM(w * x)::DOUBLE / SUM(w)::DOUBLE AS m
  FROM wt GROUP BY b HAVING SUM(w) > 0),
ranked AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m ASC) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS beff
  FROM means),
half AS (SELECT beff, CAST(CEIL(beff * 50 / 2000.0) AS BIGINT) AS h
         FROM ranked LIMIT 1),
lo AS (SELECT r.beff AS b_eff, r.m AS lo_mean
       FROM ranked r JOIN half ON r.rn = half.h),
hi AS (SELECT r.m AS hi_mean
       FROM ranked r JOIN half ON r.rn = half.beff - half.h + 1)
SELECT obs.n, obs.observed_mean, lo.b_eff, lo.lo_mean, hi.hi_mean
FROM obs CROSS JOIN lo CROSS JOIN hi
"""


def _q283_permutation_test(spark, sf):
    """Derandomized binomial-relabeling permutation test: click vs
    view mean event cents; md5(seed:id:r) uniforms relabel each row
    per round, exact integer sums per pseudo-group, add-one p.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import permutation_test
    ev = _t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100.0).cast("long").alias("cents"))
    return permutation_test(ev, value_col="cents",
                            group_col="event_type", group_a="click",
                            group_b="view", id_col="event_id",
                            n_rounds=100, seed="perm")


def _o283() -> str:
    u = _U52_SQL.format(
        s="'perm:' || CAST(event_id AS VARCHAR) || ':' "
          "|| CAST(r AS VARCHAR)")
    return f"""
WITH base AS (
  SELECT event_id, event_type = 'click' AS is_a,
         CAST(ROUND(value * 100.0) AS BIGINT) AS x
  FROM events
  WHERE value IS NOT NULL AND event_id IS NOT NULL
    AND event_type IN ('click', 'view')),
obs AS (
  SELECT SUM(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
         SUM(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS n_b,
         SUM(CASE WHEN is_a THEN x END)::DOUBLE
           / SUM(CASE WHEN is_a THEN 1 ELSE 0 END)::DOUBLE
         - SUM(CASE WHEN NOT is_a THEN x END)::DOUBLE
           / SUM(CASE WHEN is_a THEN 0 ELSE 1 END)::DOUBLE
           AS observed_diff,
         SUM(CASE WHEN is_a THEN 1 ELSE 0 END)::DOUBLE
           / COUNT(*)::DOUBLE AS pa
  FROM base),
rs AS (SELECT event_id, x, r
       FROM base, generate_series(1, 100) AS t(r)),
lab AS (SELECT r, x, ({u}) < obs.pa AS to_a FROM rs CROSS JOIN obs),
rounds AS (
  SELECT r,
         SUM(CASE WHEN to_a THEN 1 ELSE 0 END)::BIGINT AS na,
         SUM(CASE WHEN to_a THEN 0 ELSE 1 END)::BIGINT AS nb,
         SUM(CASE WHEN to_a THEN x END) AS sa,
         SUM(CASE WHEN NOT to_a THEN x END) AS sb
  FROM lab GROUP BY r HAVING SUM(CASE WHEN to_a THEN 1 ELSE 0 END) > 0
       AND SUM(CASE WHEN to_a THEN 0 ELSE 1 END) > 0),
ds AS (SELECT sa::DOUBLE / na::DOUBLE - sb::DOUBLE / nb::DOUBLE AS d
       FROM rounds),
tally AS (
  SELECT COUNT(*)::BIGINT AS r_eff,
         SUM(CASE WHEN ABS(d) >= ABS(obs.observed_diff)
                  THEN 1 ELSE 0 END)::BIGINT AS n_extreme
  FROM ds CROSS JOIN obs
  GROUP BY obs.observed_diff)
SELECT obs.n_a, obs.n_b, obs.observed_diff, tally.r_eff,
       tally.n_extreme,
       (1 + tally.n_extreme)::DOUBLE / (tally.r_eff + 1)::DOUBLE
         AS p_value
FROM obs CROSS JOIN tally
"""


_AHASH_SQL_BODY = """
chunks AS (
  SELECT doc_id, media_ref, i,
         md5(media_ref || ':' || CAST(i AS VARCHAR)) AS hx
  FROM refs, generate_series(0, 47) AS t(i)),
bytes AS (
  SELECT doc_id, media_ref, 16 * i + j AS p,
         (strpos('0123456789abcdef', substr(hx, 2 * j + 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(hx, 2 * j + 2, 1)) - 1) AS b
  FROM chunks, generate_series(0, 15) AS u(j)),
gray AS (
  SELECT doc_id, media_ref, p // 3 AS px, SUM(b)::BIGINT AS g
  FROM bytes GROUP BY doc_id, media_ref, p // 3),
blocks AS (
  SELECT doc_id, media_ref,
         ((px // 16) // 2) * 8 + (px % 16) // 2 AS blk,
         SUM(g)::BIGINT AS bs
  FROM gray GROUP BY doc_id, media_ref,
                     ((px // 16) // 2) * 8 + (px % 16) // 2),
tot AS (SELECT doc_id, media_ref, SUM(bs)::BIGINT AS total
        FROM blocks GROUP BY doc_id, media_ref),
bits AS (
  SELECT b.doc_id, b.media_ref, b.blk,
         CASE WHEN b.bs * 64 >= t.total THEN 1 ELSE 0 END AS bit
  FROM blocks b JOIN tot t
    ON b.doc_id = t.doc_id AND b.media_ref = t.media_ref),
bands AS (
  SELECT doc_id, media_ref, blk // 16 AS bj,
         SUM(bit * (1::BIGINT << CAST(blk % 16 AS INT)))::INT AS bv
  FROM bits GROUP BY doc_id, media_ref, blk // 16),
hashes AS (
  SELECT doc_id, media_ref,
         MAX(CASE WHEN bj = 0 THEN bv END) AS b0,
         MAX(CASE WHEN bj = 1 THEN bv END) AS b1,
         MAX(CASE WHEN bj = 2 THEN bv END) AS b2,
         MAX(CASE WHEN bj = 3 THEN bv END) AS b3
  FROM bands GROUP BY doc_id, media_ref)
"""


def _q280_image_ahash(spark, sf):
    """Perceptual average-hash over REAL decoded PPM payloads —
    integer-exact (block_sum*64 >= total comparison, no floats), so
    the DuckDB oracle replays the md5 pixel chain -> grayscale ->
    8x8 block bits -> four 16-bit bands bit-identically. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.multimodal import fetch_media_stub, image_ahash
    docs = _t(spark, sf, "documents")
    refs = (docs.where(F.col("doc_id") % 5 == 0)
            .select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.concat(F.lit("media/"),
                             F.col("doc_id").cast("string"),
                             F.lit(".ppm")).alias("media_ref"),
                    F.lit("ppm").alias("ext"),
                    F.lit(0).alias("offset")))
    fetched = fetch_media_stub(refs, payload="ppm", width=16, height=16)
    return image_ahash(fetched)


_O280 = f"""
WITH refs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'media/' || CAST(doc_id AS VARCHAR) || '.ppm' AS media_ref
  FROM documents WHERE doc_id % 5 = 0),
{_AHASH_SQL_BODY}
SELECT doc_id, media_ref, b0, b1, b2, b3 FROM hashes
"""


def _q281_ahash_pairs(spark, sf):
    """Image near-duplicate pairs: docs sharing a media ref decode
    to identical PPMs; banded aHash self-join (4x16-bit bands,
    pigeonhole-complete for hamming <= 3) recovers exactly the
    same-image pairs, never all-pairs. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.multimodal import (fetch_media_stub,
                                              image_ahash,
                                              image_ahash_pairs)
    docs = _t(spark, sf, "documents")
    refs = (docs.where(F.col("doc_id") % 3 == 0)
            .select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.concat(F.lit("media/g"),
                             (F.col("doc_id") % 40).cast("string"),
                             F.lit(".ppm")).alias("media_ref"),
                    F.lit("ppm").alias("ext"),
                    F.lit(0).alias("offset")))
    fetched = fetch_media_stub(refs, payload="ppm", width=16, height=16)
    return image_ahash_pairs(image_ahash(fetched), max_hamming=3)


_O281 = f"""
WITH refs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'media/g' || CAST(doc_id % 40 AS VARCHAR) || '.ppm' AS media_ref
  FROM documents WHERE doc_id % 3 = 0),
{_AHASH_SQL_BODY}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       (bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2))
        + bit_count(xor(a.b3, b.b3)))::INT AS hamming
FROM hashes a JOIN hashes b
  ON a.doc_id < b.doc_id
 AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
      + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
"""


def _q289_pettitt(spark, sf):
    """Pettitt rank changepoint per user over event value cents —
    rank-identity O(n log n) form (no pair join), exact BIGINT U_t,
    micro-quantized significance. Round-5 post-pin registration:
    in-repo oracle sweep only."""
    from kml2geojson_spark.relational import pettitt_test
    ev = _t(spark, sf, "events").select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100.0).cast("long").alias("cents"))
    return pettitt_test(ev, value_col="cents",
                        order_cols=["ts", "event_id"],
                        group_cols=["user_id"])


_O289 = """
WITH b AS (
  SELECT user_id AS g, ts, event_id,
         CAST(ROUND(value * 100.0) AS BIGINT) AS x
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL AND value IS NOT NULL),
r AS (
  SELECT g, ts, event_id, x,
         RANK() OVER (PARTITION BY g ORDER BY x ASC) AS rlo,
         RANK() OVER (PARTITION BY g ORDER BY x DESC) AS rrev,
         CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM b),
u AS (
  SELECT g, n,
         CAST(SUM(rlo + (n + 1 - rrev) - 1 - n) OVER (
           PARTITION BY g ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS u,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY g ORDER BY ts ASC, event_id ASC)
           AS BIGINT) AS t
  FROM r),
c AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY g ORDER BY ABS(u) DESC, t ASC) AS rn
  FROM u WHERE t < n)
SELECT g AS user_id, n, ABS(u) AS k_stat, t AS t_index, u AS u_at_t,
       CAST(FLOOR(LEAST(
         2.0 * EXP(-6.0 * (ABS(u)::DOUBLE) * (ABS(u)::DOUBLE)
                   / ((n::DOUBLE) * (n::DOUBLE) * (n::DOUBLE)
                      + (n::DOUBLE) * (n::DOUBLE))), 1.0)
         * 1000000.0 + 0.5) AS BIGINT) AS p_micro
FROM c WHERE rn = 1
"""


def _q290_grubbs(spark, sf):
    """Grubbs extreme-outlier statistic per order priority over total
    price cents — exact HUGEINT/DECIMAL(38) moment sums, one
    correctly-rounded IEEE tree for sd and G, smallest-key
    tie-break. Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.relational import grubbs_test
    o = _t(spark, sf, "orders").select(
        "o_orderpriority", "o_orderkey",
        F.round(F.col("o_totalprice") * 100.0).cast("long")
        .alias("cents"))
    return grubbs_test(o, value_col="cents", id_col="o_orderkey",
                       group_cols=["o_orderpriority"])


_O290 = """
WITH b AS (
  SELECT o_orderpriority AS g, o_orderkey AS id,
         CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS x
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
    AND o_orderpriority IS NOT NULL),
m AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS s1,
         SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS s2
  FROM b GROUP BY g),
j AS (
  SELECT b.g, b.id, b.x, m.n, m.s1, m.s2,
         ABS((b.x::DOUBLE) - ((m.s1::DOUBLE) / (m.n::DOUBLE))) AS dev
  FROM b JOIN m USING (g)),
p AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY g ORDER BY dev DESC, id ASC) AS rn
  FROM j)
SELECT g AS o_orderpriority, n, id AS outlier_id,
       x AS outlier_value, dev AS max_dev,
       CASE WHEN n >= 3 AND (CAST(n AS HUGEINT) * s2 - s1 * s1) > 0
            THEN dev / SQRT(((CAST(n AS HUGEINT) * s2 - s1 * s1)::DOUBLE)
                            / ((n::DOUBLE) * ((n::DOUBLE) - 1.0)))
       END AS g_stat
FROM p WHERE rn = 1
"""


def _q291_jarque_bera(spark, sf):
    """Jarque-Bera normality screen per event type over WHOLE-unit
    event values (not cents: whole units keep the exact power sums
    below 2^53, inside the window where HUGEINT->DOUBLE conversion
    is bit-identical across engines — the documented jarque_bera
    caveat) — one hash-aggregate of exact DECIMAL(38)/HUGEINT sums,
    one shared IEEE tree for skew/kurtosis/JB. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import jarque_bera
    ev = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value")).cast("long").alias("units"))
    return jarque_bera(ev, value_col="units",
                       group_cols=["event_type"])


def _o291() -> str:
    nd = "(n::DOUBLE)"
    mu = f"((s1::DOUBLE) / {nd})"
    m2 = f"((s2::DOUBLE) / {nd} - {mu} * {mu})"
    m3 = (f"((s3::DOUBLE) / {nd} - 3.0 * {mu} * ((s2::DOUBLE) / {nd})"
          f" + 2.0 * {mu} * {mu} * {mu})")
    m4 = (f"((s4::DOUBLE) / {nd} - 4.0 * {mu} * ((s3::DOUBLE) / {nd})"
          f" + 6.0 * {mu} * {mu} * ((s2::DOUBLE) / {nd})"
          f" - 3.0 * {mu} * {mu} * {mu} * {mu})")
    skew = f"({m3} / ({m2} * SQRT({m2})))"
    exk = f"({m4} / ({m2} * {m2}) - 3.0)"
    jb = f"({nd} / 6.0 * ({skew} * {skew} + {exk} * {exk} / 4.0))"
    ok = f"(n >= 4 AND {m2} > 0)"
    return f"""
WITH b AS (
  SELECT event_type AS g,
         CAST(ROUND(value) AS BIGINT) AS x
  FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL),
m AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(x AS HUGEINT)) AS s1,
         SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS s2,
         SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)
             * CAST(x AS HUGEINT)) AS s3,
         SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)
             * CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS s4
  FROM b GROUP BY g)
SELECT g AS event_type, n,
       CASE WHEN {ok} THEN {skew} END AS skewness,
       CASE WHEN {ok} THEN {exk} END AS ex_kurtosis,
       CASE WHEN {ok} THEN {jb} END AS jb_stat
FROM m
"""


def _q292_mcnemar(spark, sf):
    """McNemar paired flip test: per user-cohort, did users with a
    purchase in the first half of the month keep purchasing in the
    second half? Exact discordant counts, continuity-corrected chi2,
    micro-quantized p. Round-5 post-pin registration: in-repo oracle
    sweep only."""
    from kml2geojson_spark.relational import mcnemar_test
    ev = _t(spark, sf, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    is_p = (F.col("event_type") == "purchase")
    flags = (ev.where(F.col("user_id").isNotNull()
                      & F.col("ts").isNotNull())
             .groupBy("user_id")
             .agg(F.max(F.when(is_p & (F.col("ts") < cut), 1)
                        .otherwise(0)).alias("before"),
                  F.max(F.when(is_p & (F.col("ts") >= cut), 1)
                        .otherwise(0)).alias("after"))
             .withColumn("cohort", F.col("user_id") % 4))
    return mcnemar_test(flags, before_col="before", after_col="after",
                        group_cols=["cohort"])


def _o292() -> str:
    from kml2geojson_spark.relational import normal_two_sided_p_sql
    p_expr = normal_two_sided_p_sql("SQRT(chi2)")
    return f"""
WITH flags AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase'
                   AND ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 0 END) AS before,
         MAX(CASE WHEN event_type = 'purchase'
                   AND ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 0 END) AS after
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id),
agg AS (
  SELECT user_id % 4 AS cohort,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN before = 1 AND after = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(SUM(CASE WHEN before = 0 AND after = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM flags GROUP BY user_id % 4),
st AS (
  SELECT *,
         ((GREATEST(ABS(b - c) - 1, 0))::DOUBLE
          * (GREATEST(ABS(b - c) - 1, 0))::DOUBLE)
         / ((b + c)::DOUBLE) AS chi2
  FROM agg)
SELECT cohort, n_pairs, b, c,
       CASE WHEN b + c > 0 THEN chi2 END AS chi2,
       CASE WHEN b + c > 0 THEN
         CAST(FLOOR(LEAST({p_expr}, 1.0) * 1000000.0 + 0.5)
              AS BIGINT) END AS p_micro
FROM st
"""


def _q293_kmv_registers(spark, sf):
    """KMV distinct sketch per lineitem return flag: the 64 smallest
    60-bit md5 hashes of the distinct part keys — rank-by-value
    selection over one distinct shuffle. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.sketch import kmv_registers
    li = _t(spark, sf, "lineitem").select("l_returnflag", "l_partkey")
    return kmv_registers(li, "l_partkey", k=64,
                         group_cols=["l_returnflag"])


_O293 = """
WITH h AS (
  SELECT DISTINCT l_returnflag,
         ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM lineitem WHERE l_partkey IS NOT NULL)
SELECT l_returnflag,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY l_returnflag ORDER BY h ASC) AS INT) AS rn, h
FROM h
QUALIFY rn <= 64
"""


def _q294_kmv_estimate(spark, sf):
    """KMV distinct-count estimate from the q293 sketch —
    (k-1)/R_k when full, the exact kept count when not. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.sketch import kmv_estimate, kmv_registers
    li = _t(spark, sf, "lineitem").select("l_returnflag", "l_partkey")
    regs = kmv_registers(li, "l_partkey", k=64,
                         group_cols=["l_returnflag"])
    return kmv_estimate(regs, k=64, group_cols=["l_returnflag"])


_O294 = """
WITH h AS (
  SELECT DISTINCT l_returnflag,
         ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM lineitem WHERE l_partkey IS NOT NULL),
topk AS (
  SELECT l_returnflag, h,
         ROW_NUMBER() OVER (
           PARTITION BY l_returnflag ORDER BY h ASC) AS rn
  FROM h QUALIFY rn <= 64),
agg AS (
  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_kept,
         MAX(h) AS hk
  FROM topk GROUP BY l_returnflag)
SELECT l_returnflag, n_kept,
       CASE WHEN n_kept >= 64
            THEN 63.0 / ((hk::DOUBLE) / 1152921504606846976.0)
            ELSE n_kept::DOUBLE END AS estimate
FROM agg
"""


def _q295_hex_bin(spark, sf):
    """Hexagonal density binning of the synthetic customer points
    (pointy-top axial cells, cube rounding) — pure codegen
    arithmetic + one hash-aggregate. Round-5 post-pin registration:
    in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import hex_bin
    return hex_bin(_customer_points(spark, sf), size=3.0)


def _o295() -> str:
    import math
    c1 = repr(math.sqrt(3.0) / 3.0)
    c2 = repr(2.0 / 3.0)
    return f"""
WITH p AS ({_PTS_SQL}),
f AS (
  SELECT ({c1} * x - y / 3.0) / 3.0 AS fq,
         ({c2} * y) / 3.0 AS fr
  FROM p WHERE x IS NOT NULL AND y IS NOT NULL),
f2 AS (SELECT fq, fr, -fq - fr AS fs FROM f),
r AS (
  SELECT fq, fr, fs, ROUND(fq) AS rq, ROUND(fr) AS rr,
         ROUND(fs) AS rs
  FROM f2),
d AS (
  SELECT *, ABS(rq - fq) AS dq, ABS(rr - fr) AS dr,
         ABS(rs - fs) AS ds
  FROM r),
hx AS (
  SELECT CAST(CASE WHEN dq > dr AND dq > ds THEN -rr - rs
              ELSE rq END AS BIGINT) AS hq,
         CAST(CASE WHEN dq > dr AND dq > ds THEN rr
                   WHEN dr > ds THEN -rq - rs
              ELSE rr END AS BIGINT) AS hr
  FROM d)
SELECT hq, hr, CAST(COUNT(*) AS BIGINT) AS n
FROM hx GROUP BY hq, hr
"""


def _q300_hex_smooth(spark, sf):
    """Radius-1 hex k-ring smoothing of the q295 hex raster (7-cell
    scatter + one hash-aggregate, no join). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import hex_bin, hex_smooth
    cells = hex_bin(_customer_points(spark, sf), size=3.0)
    return hex_smooth(cells, radius=1)


def _o300() -> str:
    base = _o295()
    return f"""
WITH cells AS ({base}),
offs(dq, dr) AS (VALUES (-1, 0), (-1, 1), (0, -1), (0, 0), (0, 1),
                        (1, -1), (1, 0))
SELECT c.hq + o.dq AS hq, c.hr + o.dr AS hr,
       CAST(SUM(c.n) AS BIGINT) AS smoothed
FROM cells c, offs o
GROUP BY c.hq + o.dq, c.hr + o.dr
"""


def _q301_cochran_armitage(spark, sf):
    """Cochran-Armitage purchase-rate trend over week-of-month dose
    per small user cohort (cohorts sized so the exact B statistic
    stays inside the 2^53 cross-engine conversion window — the
    documented cochran_armitage caveat). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import cochran_armitage
    ev = _t(spark, sf, "events")
    dd = F.datediff(F.col("ts").cast("date"),
                    F.to_date(F.lit("2024-01-01")))
    base = (ev.where(F.col("user_id").isNotNull()
                     & F.col("ts").isNotNull()
                     & F.col("event_type").isNotNull())
            .select((F.col("user_id") % 40).alias("cohort"),
                    F.floor(dd.cast("double") / F.lit(7.0))
                    .cast("long").alias("week"),
                    F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0).cast("long").alias("purchased")))
    out = cochran_armitage(base, dose_col="week",
                           label_col="purchased",
                           group_cols=["cohort"])
    return out.select("cohort", "n", "cases",
                      F.col("a_stat").cast("long").alias("a_stat"),
                      F.col("b_stat").cast("long").alias("b_stat"),
                      "z")


_O301 = """
WITH b AS (
  SELECT user_id % 40 AS g,
         CAST(FLOOR(
           datediff('day', DATE '2024-01-01', CAST(ts AS DATE))::DOUBLE
           / 7.0) AS BIGINT) AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IS NOT NULL),
per AS (
  SELECT g, s, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS r
  FROM b GROUP BY g, s),
agg AS (
  SELECT g, CAST(SUM(n) AS BIGINT) AS n,
         CAST(SUM(r) AS BIGINT) AS cases,
         COUNT(DISTINCT s) AS k,
         SUM(CAST(s AS HUGEINT) * CAST(r AS HUGEINT)) AS sr,
         SUM(CAST(s AS HUGEINT) * CAST(n AS HUGEINT)) AS sn,
         SUM(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)
             * CAST(n AS HUGEINT)) AS ssn
  FROM per GROUP BY g),
st AS (
  SELECT g, n, cases, k,
         CAST(n AS HUGEINT) * sr - CAST(cases AS HUGEINT) * sn AS a,
         CAST(cases AS HUGEINT) * (CAST(n AS HUGEINT)
                                   - CAST(cases AS HUGEINT))
         * (CAST(n AS HUGEINT) * ssn - sn * sn) AS bb
  FROM agg)
SELECT g AS cohort, n, cases,
       CAST(a AS BIGINT) AS a_stat, CAST(bb AS BIGINT) AS b_stat,
       CASE WHEN bb > 0 AND k >= 2 THEN
         (a::DOUBLE) / SQRT((bb::DOUBLE) / (n::DOUBLE))
       END AS z
FROM st
"""


def _q302_durbin_watson(spark, sf):
    """Durbin-Watson residual autocorrelation of each user's OLS
    spend trend over the observation index (row number per user —
    unique, integer, overflow-safe): exact long OLS sums, residuals
    quantized once to milli-units. Round-5 post-pin registration:
    in-repo oracle sweep only."""
    from kml2geojson_spark.relational import durbin_watson
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    base = (ev.where(F.col("user_id").isNotNull()
                     & F.col("ts").isNotNull()
                     & F.col("event_id").isNotNull()
                     & F.col("value").isNotNull())
            .select("user_id",
                    F.round(F.col("value")).cast("long").alias("units"),
                    F.row_number().over(w).cast("long").alias("t")))
    return durbin_watson(base, y_col="units", t_col="t",
                         group_cols=["user_id"])


_O302 = """
WITH b AS (
  SELECT user_id AS g, ts, event_id,
         CAST(ROUND(value) AS BIGINT) AS y
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL AND value IS NOT NULL),
idx AS (
  SELECT g, y,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY g ORDER BY ts ASC, event_id ASC)
           AS BIGINT) AS t
  FROM b),
mom AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(t * t) AS BIGINT) AS stt,
         CAST(SUM(t * y) AS BIGINT) AS sty
  FROM idx GROUP BY g),
fit AS (
  SELECT g, n, st, sy,
         CASE WHEN (n * stt - st * st) > 0 THEN
           ((n * sty - st * sy)::DOUBLE)
           / ((n * stt - st * st)::DOUBLE) END AS b,
         CASE WHEN (n * stt - st * st) > 0 THEN
           ((sy::DOUBLE)
            - (((n * sty - st * sy)::DOUBLE)
               / ((n * stt - st * st)::DOUBLE)) * (st::DOUBLE))
           / (n::DOUBLE) END AS a
  FROM mom),
res AS (
  SELECT i.g, i.t, f.n, f.a, f.b,
         CAST(FLOOR(((i.y::DOUBLE)
                     - (f.a + f.b * (i.t::DOUBLE))) * 1000.0 + 0.5)
              AS BIGINT) AS em
  FROM idx i JOIN fit f USING (g)),
lagd AS (
  SELECT g, n, a, b, em,
         em - LAG(em, 1) OVER (PARTITION BY g ORDER BY t ASC) AS dm
  FROM res),
fin AS (
  SELECT g, MAX(n) AS n, MAX(b) AS slope, MAX(a) AS intercept,
         CAST(SUM(dm * dm) AS BIGINT) AS sd2,
         CAST(SUM(em * em) AS BIGINT) AS se2
  FROM lagd GROUP BY g)
SELECT g AS user_id, n, slope, intercept,
       CASE WHEN n >= 3 AND slope IS NOT NULL AND se2 > 0 THEN
         (sd2::DOUBLE) / (se2::DOUBLE) END AS dw
FROM fin
"""


def _q303_cliffs_delta(spark, sf):
    """Cliff's delta effect size of purchase vs view spend per user
    cohort — rank-identity form (no pair join), exact BIGINT
    numerator, banded magnitude label. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import cliffs_delta
    ev = _t(spark, sf, "events")
    base = (ev.where(F.col("event_type").isin("purchase", "view")
                     & F.col("user_id").isNotNull()
                     & F.col("value").isNotNull())
            .select((F.col("user_id") % 8).alias("cohort"),
                    F.round(F.col("value")).cast("long").alias("units"),
                    F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0).cast("long").alias("is_a")))
    return cliffs_delta(base, value_col="units", flag_col="is_a",
                        group_cols=["cohort"])


_O303 = """
WITH b AS (
  SELECT user_id % 8 AS g, CAST(ROUND(value) AS BIGINT) AS x,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS f
  FROM events
  WHERE event_type IN ('purchase', 'view')
    AND user_id IS NOT NULL AND value IS NOT NULL),
r AS (
  SELECT g, f,
         CAST(RANK() OVER (PARTITION BY g ORDER BY x ASC)
              AS BIGINT) AS rlo,
         CAST(RANK() OVER (PARTITION BY g ORDER BY x DESC)
              AS BIGINT) AS rrev,
         CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM b),
agg AS (
  SELECT g,
         CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a,
         CAST(SUM(CASE WHEN f = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b,
         CAST(SUM(CASE WHEN f = 1 THEN rlo + (n + 1 - rrev)
                  ELSE 0 END) AS BIGINT) AS r2a
  FROM r GROUP BY g),
st AS (
  SELECT g, n_a, n_b,
         r2a - n_a * (n_a + 1) - n_a * n_b AS num
  FROM agg),
fin AS (
  SELECT g, n_a, n_b, num,
         CASE WHEN n_a > 0 AND n_b > 0 THEN
           (num::DOUBLE) / ((n_a * n_b)::DOUBLE) END AS delta
  FROM st)
SELECT g AS cohort, n_a, n_b,
       CASE WHEN n_a > 0 AND n_b > 0 THEN num END AS delta_num,
       delta,
       CASE WHEN n_a > 0 AND n_b > 0 THEN
         CASE WHEN ABS(delta) < 0.147 THEN 'negligible'
              WHEN ABS(delta) < 0.33 THEN 'small'
              WHEN ABS(delta) < 0.474 THEN 'medium'
              ELSE 'large' END
       END AS magnitude
FROM fin
"""


def _q304_boxplot(spark, sf):
    """Tukey boxplot five-number summary + fence outlier counts per
    order priority over total price cents (exact rank-selected
    quartiles). Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.relational import boxplot_stats
    o = _t(spark, sf, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100.0).cast("long")
        .alias("cents"))
    return boxplot_stats(o, value_col="cents",
                         group_cols=["o_orderpriority"])


_O304 = """
WITH b AS (
  SELECT o_orderpriority AS g,
         CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS x
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
st AS (
  SELECT g, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY x ASC)
              AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM b),
q AS (
  SELECT g, MAX(n) AS n,
         MAX(CASE WHEN rn = CAST(CEIL((n::DOUBLE) / 4.0) AS BIGINT)
                  THEN x END) AS q1,
         MAX(CASE WHEN rn = CAST(FLOOR(((n + 1)::DOUBLE) / 2.0)
                                 AS BIGINT) THEN x END) AS median,
         MAX(CASE WHEN rn = CAST(CEIL(3.0 * (n::DOUBLE) / 4.0)
                                 AS BIGINT) THEN x END) AS q3
  FROM st GROUP BY g),
qq AS (
  SELECT g, n, q1, median, q3, q3 - q1 AS iqr,
         (q1::DOUBLE) - 1.5 * ((q3 - q1)::DOUBLE) AS lo_fence,
         (q3::DOUBLE) + 1.5 * ((q3 - q1)::DOUBLE) AS hi_fence
  FROM q)
SELECT qq.g AS o_orderpriority, qq.n, qq.q1, qq.median, qq.q3,
       qq.iqr, qq.lo_fence, qq.hi_fence,
       CAST(SUM(CASE WHEN (b.x::DOUBLE) < qq.lo_fence
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(SUM(CASE WHEN (b.x::DOUBLE) > qq.hi_fence
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM b JOIN qq USING (g)
GROUP BY qq.g, qq.n, qq.q1, qq.median, qq.q3, qq.iqr, qq.lo_fence,
         qq.hi_fence
"""


def _q305_fd_violations(spark, sf):
    """Functional-dependency audit: users whose events span more than
    one event type (user_id -> event_type deliberately violated by
    the data — every multi-type user reports). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.quality import fd_violations
    ev = _t(spark, sf, "events")
    return fd_violations(ev, key_cols=["user_id"],
                         dep_cols=["event_type"])


_O305 = """
SELECT user_id,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_variants,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM events
WHERE user_id IS NOT NULL
GROUP BY user_id
HAVING COUNT(DISTINCT event_type) > 1
"""


def _q306_source_mix(spark, sf):
    """Temperature alpha=0.5 source mixing weights over the document
    sources with a 100k-doc target recipe — micro-quantized sqrt
    weights, exact normalization. Round-5 post-pin registration:
    in-repo oracle sweep only."""
    from kml2geojson_spark.textops import source_mix_weights
    return source_mix_weights(_t(spark, sf, "documents"),
                              target_total=100000)


_O306 = """
WITH c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents WHERE source IS NOT NULL GROUP BY source),
w AS (
  SELECT source, n_docs,
         CAST(FLOOR(SQRT(n_docs::DOUBLE) * 1000000.0 + 0.5)
              AS BIGINT) AS w_micro
  FROM c),
t AS (
  SELECT source, n_docs, w_micro,
         CAST(SUM(w_micro) OVER () AS BIGINT) AS tot
  FROM w)
SELECT source, n_docs, w_micro,
       (w_micro::DOUBLE) / (tot::DOUBLE) AS weight,
       CAST(FLOOR((w_micro::DOUBLE) / (tot::DOUBLE) * 100000.0 + 0.5)
            AS BIGINT) AS target_docs
FROM t
"""


def _q307_chao1(spark, sf):
    """Chao1 vocabulary-richness extrapolation per language over the
    shared split-lowercase tokenization (exact D/f1/f2, one IEEE
    division). Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.textops import chao1_richness
    return chao1_richness(_t(spark, sf, "documents"),
                          group_cols=["lang"])


_O307 = """
WITH toks AS (
  SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
ne AS (SELECT lang, tok FROM toks WHERE tok != ''),
freq AS (
  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM ne GROUP BY lang, tok),
agg AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM freq GROUP BY lang)
SELECT lang, n_tokens, distinct_tokens, f1, f2,
       (distinct_tokens::DOUBLE)
       + ((f1 * (f1 - 1))::DOUBLE) / ((2 * (f2 + 1))::DOUBLE) AS chao1
FROM agg
"""


def _q308_mood_median(spark, sf):
    """Mood's k-sample median test over whole-unit event values per
    event type — global lower median via the distinct-value
    histogram, micro-quantized chi2 contributions summed exactly.
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import mood_median_test
    ev = _t(spark, sf, "events").select(
        "event_type",
        F.round(F.col("value")).cast("long").alias("units"))
    return mood_median_test(ev, value_col="units",
                            group_col="event_type")


_O308 = """
WITH b AS (
  SELECT event_type AS g, CAST(ROUND(value) AS BIGINT) AS x
  FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL),
hist AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY x),
cum AS (
  SELECT x,
         CAST(SUM(c) OVER (ORDER BY x ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum,
         CAST(SUM(c) OVER () AS BIGINT) AS tot
  FROM hist),
med AS (
  SELECT MIN(x) AS med, MAX(tot) AS nt
  FROM cum
  WHERE cum >= CAST(FLOOR(((tot + 1)::DOUBLE) / 2.0) AS BIGINT)),
per AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN b.x > m.med THEN 1 ELSE 0 END)
              AS BIGINT) AS n_above,
         MAX(m.nt) AS nt
  FROM b, med m GROUP BY g),
tot2 AS (
  SELECT g, n, n_above, nt,
         CAST(SUM(n_above) OVER () AS BIGINT) AS a_tot,
         CAST(COUNT(*) OVER () AS BIGINT) AS k
  FROM per),
ct AS (
  SELECT g, n, n_above, nt, a_tot, k,
         CASE WHEN a_tot > 0 AND a_tot < nt THEN
           CAST(FLOOR((
             ((n_above::DOUBLE) - (n::DOUBLE) * (a_tot::DOUBLE)
              / (nt::DOUBLE))
             * ((n_above::DOUBLE) - (n::DOUBLE) * (a_tot::DOUBLE)
                / (nt::DOUBLE))
             / ((n::DOUBLE) * (a_tot::DOUBLE) / (nt::DOUBLE))
             + (((n - n_above)::DOUBLE) - (n::DOUBLE)
                * ((nt - a_tot)::DOUBLE) / (nt::DOUBLE))
             * (((n - n_above)::DOUBLE) - (n::DOUBLE)
                * ((nt - a_tot)::DOUBLE) / (nt::DOUBLE))
             / ((n::DOUBLE) * ((nt - a_tot)::DOUBLE) / (nt::DOUBLE)))
             * 1000000.0 + 0.5) AS BIGINT)
         END AS contrib_micro
  FROM tot2)
SELECT g AS event_type, n, n_above, contrib_micro,
       CAST(SUM(contrib_micro) OVER () AS BIGINT) AS chi2_micro, k
FROM ct
"""


def _q309_page_trend(spark, sf):
    """Page's L ordered trend test: do per-user event COUNTS rise
    across the alphabetically ordered event types? Complete blocks,
    exact 2R ranks, doubled-L BIGINT statistic. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.relational import page_trend_test
    ev = _t(spark, sf, "events")
    cells = (ev.where(F.col("user_id").isNotNull()
                      & F.col("event_type").isNotNull())
             .groupBy("user_id", "event_type")
             .agg(F.count(F.lit(1)).cast("long").alias("n_events")))
    return page_trend_test(cells, block_col="user_id",
                           treatment_col="event_type",
                           value_col="n_events")


_O309 = """
WITH cell AS (
  SELECT user_id AS b, event_type AS tr,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
  GROUP BY user_id, event_type),
kk AS (SELECT COUNT(DISTINCT tr) AS k FROM cell),
comp AS (SELECT b FROM cell GROUP BY b
         HAVING COUNT(*) = (SELECT k FROM kk)),
kept AS (SELECT cell.* FROM cell JOIN comp USING (b)),
r AS (
  SELECT b, tr,
         RANK() OVER (PARTITION BY b ORDER BY x ASC)
         + ((COUNT(*) OVER (PARTITION BY b)) + 1
            - RANK() OVER (PARTITION BY b ORDER BY x DESC)) AS r2
  FROM kept),
s AS (SELECT tr, CAST(SUM(r2) AS BIGINT) AS s2r FROM r GROUP BY tr),
sj AS (SELECT tr, s2r,
              CAST(DENSE_RANK() OVER (ORDER BY tr ASC) AS BIGINT)
                AS j
       FROM s),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_treatments,
             CAST(SUM(j * s2r) AS BIGINT) AS l2_stat
      FROM sj),
nb AS (SELECT CAST(COUNT(*) / COUNT(DISTINCT tr) AS BIGINT)
         AS n_blocks FROM kept)
SELECT k_treatments, n_blocks, l2_stat,
       CASE WHEN k_treatments >= 3 AND n_blocks > 0 THEN
         ((l2_stat::DOUBLE)
          - (n_blocks::DOUBLE) * (k_treatments::DOUBLE)
            * ((k_treatments::DOUBLE) + 1.0)
            * ((k_treatments::DOUBLE) + 1.0) / 2.0)
         / (2.0 * SQRT((n_blocks::DOUBLE) * (k_treatments::DOUBLE)
                       * (k_treatments::DOUBLE)
                       * ((k_treatments::DOUBLE) + 1.0)
                       * ((k_treatments::DOUBLE)
                          * (k_treatments::DOUBLE) - 1.0) / 144.0))
       END AS z
FROM t, nb
"""


def _q310_cross_track(spark, sf):
    """Cross-track / along-track great-circle distances from every
    synthetic customer point to a fixed route, floor-half-up
    quantized to integer meters (the libm oracle discipline).
    Round-5 post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import track_distances
    pts = _customer_points(spark, sf)
    xt, at = track_distances(F.lit(10.0), F.lit(-20.0), F.lit(35.0),
                             F.lit(60.0), F.col("y"), F.col("x"))
    return pts.select(
        "point_id",
        F.floor(xt + F.lit(0.5)).cast("long").alias("xt_m"),
        F.floor(at + F.lit(0.5)).cast("long").alias("at_m"))


def _o310() -> str:
    from kml2geojson_spark.spatial.ops import track_distances_sql
    xe, ae = track_distances_sql("10.0", "-20.0", "35.0", "60.0",
                                 "y", "x")
    return f"""
WITH p AS ({_PTS_SQL})
SELECT point_id,
       CAST(FLOOR({xe} + 0.5) AS BIGINT) AS xt_m,
       CAST(FLOOR({ae} + 0.5) AS BIGINT) AS at_m
FROM p
"""


def _q311_raster_peaks(spark, sf):
    """Non-max-suppression peaks of the 1-degree customer-point
    raster (scatter-to-neighbors explode + one aggregate + one
    equi-join, strict-inequality tie rule). Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.spatial.ops import raster_peaks
    pts = _customer_points(spark, sf)
    cells = (pts.select(F.floor(F.col("x")).alias("cx"),
                        F.floor(F.col("y")).alias("cy"))
             .groupBy("cx", "cy")
             .agg(F.count(F.lit(1)).alias("n")))
    return raster_peaks(cells)


_O311 = f"""
WITH p AS ({_PTS_SQL}),
cells AS (
  SELECT CAST(FLOOR(x) AS BIGINT) AS cx,
         CAST(FLOOR(y) AS BIGINT) AS cy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM p GROUP BY 1, 2),
offs(dx, dy) AS (VALUES (-1,-1), (-1,0), (-1,1), (0,-1), (0,1),
                        (1,-1), (1,0), (1,1)),
nbr AS (
  SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy,
         CAST(MAX(c.n) AS BIGINT) AS nbr_max
  FROM cells c, offs o GROUP BY c.cx + o.dx, c.cy + o.dy)
SELECT c.cx, c.cy, c.n, COALESCE(nbr.nbr_max, 0) AS nbr_max
FROM cells c LEFT JOIN nbr ON nbr.cx = c.cx AND nbr.cy = c.cy
WHERE c.n > 0 AND c.n > COALESCE(nbr.nbr_max, 0)
"""


def _q312_lead_lag(spark, sf):
    """Lead-lag cross-correlation per user between whole-unit event
    values and the props-payload length over the observation index
    (exact sufficient sums per lag, one window partitioning, no
    self-join). Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.relational import lead_lag_corr
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc())
    base = (ev.where(F.col("user_id").isNotNull()
                     & F.col("ts").isNotNull()
                     & F.col("event_id").isNotNull()
                     & F.col("value").isNotNull()
                     & F.col("props").isNotNull())
            .select("user_id",
                    F.round(F.col("value")).cast("long").alias("x"),
                    F.length(F.col("props")).cast("long").alias("y"),
                    F.row_number().over(w).cast("long").alias("t")))
    return lead_lag_corr(base, x_col="x", y_col="y", order_col="t",
                         group_cols=["user_id"], max_lag=3)


_O312 = """
WITH idx AS (
  SELECT user_id AS g,
         CAST(ROUND(value) AS BIGINT) AS x,
         CAST(length(props) AS BIGINT) AS y,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
           AS BIGINT) AS t
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL AND value IS NOT NULL
    AND props IS NOT NULL),
lags(k) AS (VALUES (-3), (-2), (-1), (0), (1), (2), (3)),
pairs AS (
  SELECT a.g, l.k AS lag, a.x, b.y
  FROM idx a, lags l
  JOIN idx b ON b.g = a.g AND b.t = a.t + l.k),
agg AS (
  SELECT g, lag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY g, lag)
SELECT g AS user_id, CAST(lag AS INT) AS lag, n,
       CASE WHEN n >= 2 AND (n * sxx - sx * sx) > 0
                 AND (n * syy - sy * sy) > 0 THEN
         ((n * sxy - sx * sy)::DOUBLE)
         / SQRT(((n * sxx - sx * sx)::DOUBLE)
                * ((n * syy - sy * sy)::DOUBLE))
       END AS corr
FROM agg
"""


def _q313_elbow(spark, sf):
    """Elbow of each return flag's quantity survival curve
    (y = rows with quantity >= x): exact cross-product argmax on the
    chord rule. Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.relational import elbow_point
    li = _t(spark, sf, "lineitem").where(F.col("l_quantity").isNotNull())
    hist = (li.select("l_returnflag",
                      F.col("l_quantity").cast("long").alias("q"))
            .groupBy("l_returnflag", "q")
            .agg(F.count(F.lit(1)).alias("_c")))
    wrev = (Window.partitionBy("l_returnflag")
            .orderBy(F.col("q").asc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    curve = hist.select("l_returnflag", "q",
                        F.sum("_c").over(wrev).alias("surv"))
    return elbow_point(curve, x_col="q", y_col="surv",
                       group_cols=["l_returnflag"])


_O313 = """
WITH hist AS (
  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS q,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem WHERE l_quantity IS NOT NULL
  GROUP BY l_returnflag, l_quantity),
curve AS (
  SELECT g, q,
         CAST(SUM(c) OVER (PARTITION BY g ORDER BY q ASC
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS BIGINT) AS surv
  FROM hist),
ends AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         MIN({'q': q, 'surv': surv}) AS p1,
         MAX({'q': q, 'surv': surv}) AS p2
  FROM curve GROUP BY g),
j AS (
  SELECT c.g, c.n, c.q, c.surv,
         ABS((c.x2 - c.x1) * (c.y1 - c.surv)
             - (c.x1 - c.q) * (c.y2 - c.y1)) AS cr
  FROM (SELECT curve.g, curve.q, curve.surv, ends.n,
               ends.p1['q'] AS x1, ends.p1['surv'] AS y1,
               ends.p2['q'] AS x2, ends.p2['surv'] AS y2
        FROM curve JOIN ends USING (g)
        WHERE ends.n >= 3) c),
pick AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY g ORDER BY cr DESC, q ASC) AS rn
  FROM j)
SELECT g AS l_returnflag, n, q AS elbow_x, surv AS elbow_y,
       cr AS cross_stat
FROM pick WHERE rn = 1
"""


def _q314_sequence_gaps(spark, sf):
    """Inactivity gaps per user: maximal missing-day ranges in each
    user's active-day sequence (the SQL islands classic, exact lag
    arithmetic). Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.relational import sequence_gaps
    ev = _t(spark, sf, "events")
    days = ev.where(F.col("user_id").isNotNull()
                    & F.col("ts").isNotNull()).select(
        "user_id",
        F.datediff(F.col("ts").cast("date"),
                   F.to_date(F.lit("2024-01-01"))).cast("long")
        .alias("day"))
    return sequence_gaps(days, id_col="day", group_cols=["user_id"])


_O314 = """
WITH d AS (
  SELECT DISTINCT user_id,
         CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
lagd AS (
  SELECT user_id, day,
         LAG(day, 1) OVER (PARTITION BY user_id ORDER BY day ASC)
           AS prev
  FROM d)
SELECT user_id, prev + 1 AS gap_start, day - 1 AS gap_end,
       day - prev - 1 AS gap_len
FROM lagd
WHERE prev IS NOT NULL AND day - prev > 1
"""


def _q315_quadkey(spark, sf):
    """Bing-style quadkey tile counts at zoom 8 over the customer
    points (equirectangular tile mapping, prefix-is-parent string
    keys). Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.spatial.cells import quadkey_col
    pts = _customer_points(spark, sf)
    ix = F.least(F.lit(255), F.floor((F.col("x") + F.lit(180.0))
                                     / F.lit(360.0) * F.lit(256.0))
                 .cast("long"))
    iy = F.least(F.lit(255), F.floor((F.lit(85.0) - F.col("y"))
                                     / F.lit(170.0) * F.lit(256.0))
                 .cast("long"))
    return (pts.select(quadkey_col(ix, iy, 8).alias("quadkey"))
            .groupBy("quadkey")
            .agg(F.count(F.lit(1)).alias("n")))


def _o315() -> str:
    from kml2geojson_spark.spatial.cells import quadkey_sql
    ix = ("LEAST(255, CAST(FLOOR((x + 180.0) / 360.0 * 256.0)"
          " AS BIGINT))")
    iy = ("LEAST(255, CAST(FLOOR((85.0 - y) / 170.0 * 256.0)"
          " AS BIGINT))")
    qk = quadkey_sql(f"({ix})", f"({iy})", 8)
    return f"""
WITH p AS ({_PTS_SQL})
SELECT {qk} AS quadkey, CAST(COUNT(*) AS BIGINT) AS n
FROM p GROUP BY 1
"""


def _q316_langid_eval(spark, sf):
    """Language-ID evaluation: classification_report of the built-in
    marker-based lang_guess against the corpus gold labels — the
    composed eval readout (per-class precision/recall/F1, exact
    confusion counts). Round-5 post-pin registration: in-repo
    oracle sweep only."""
    from kml2geojson_spark.quality import classification_report
    from kml2geojson_spark.textops import lang_guess
    guessed = lang_guess(_t(spark, sf, "documents"))
    return classification_report(guessed, actual_col="lang_label",
                                 predicted_col="lang_guess")


def _o316() -> str:
    guess = _o23()
    return f"""
WITH d AS (
  SELECT lang_label AS actual, lang_guess AS predicted
  FROM ({guess})),
conf AS (SELECT actual AS a, predicted AS p,
                CAST(COUNT(*) AS BIGINT) AS c
         FROM d WHERE actual IS NOT NULL AND predicted IS NOT NULL
         GROUP BY actual, predicted),
ap AS (SELECT a AS label, CAST(SUM(c) AS BIGINT) AS support
       FROM conf GROUP BY a),
pp AS (SELECT p AS label, CAST(SUM(c) AS BIGINT) AS ppn
       FROM conf GROUP BY p),
tp AS (SELECT a AS label, CAST(SUM(c) AS BIGINT) AS tpn
       FROM conf WHERE a = p GROUP BY a),
o AS (SELECT COALESCE(ap.label, pp.label) AS label,
             COALESCE(tpn, 0) AS tp,
             COALESCE(ppn, 0) - COALESCE(tpn, 0) AS fp,
             COALESCE(support, 0) - COALESCE(tpn, 0) AS fn,
             COALESCE(support, 0) AS support,
             COALESCE(ppn, 0) AS ppn
      FROM ap FULL OUTER JOIN pp ON ap.label = pp.label
      LEFT JOIN tp ON COALESCE(ap.label, pp.label) = tp.label)
SELECT label, tp, fp, fn, support,
  CASE WHEN ppn = 0 THEN NULL
       ELSE tp::DOUBLE / ppn::DOUBLE END AS precision,
  CASE WHEN support = 0 THEN NULL
       ELSE tp::DOUBLE / support::DOUBLE END AS recall,
  CASE WHEN ppn + support = 0 THEN NULL
       ELSE 2.0 * tp::DOUBLE / (ppn + support)::DOUBLE END AS f1
FROM o
"""


def _q318_sn_scale(spark, sf):
    """Rousseeuw-Croux Sn robust spread of purchase cents per user
    (50% breakdown, two exact selection medians over the pair
    distances). Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.relational import sn_scale
    ev = (_t(spark, sf, "events")
          .where(F.col("event_type") == "purchase")
          .select("user_id", "ts", "event_id",
                  F.round(F.col("value") * 100.0).cast("long")
                  .alias("cents")))
    return sn_scale(ev, value_col="cents",
                    order_cols=["ts", "event_id"],
                    group_cols=["user_id"])


_O318 = """
WITH b AS (
  SELECT user_id AS g, ts, event_id,
         CAST(ROUND(value * 100.0) AS BIGINT) AS x
  FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
    AND ts IS NOT NULL AND event_id IS NOT NULL
    AND value IS NOT NULL),
pairs AS (
  SELECT a.g, a.ts, a.event_id, ABS(a.x - b2.x) AS d
  FROM b a JOIN b b2
    ON a.g = b2.g AND (a.ts, a.event_id) <> (b2.ts, b2.event_id)),
per_i AS (
  SELECT g, d AS mi
  FROM (SELECT g, ts, event_id, d,
               ROW_NUMBER() OVER (PARTITION BY g, ts, event_id
                                  ORDER BY d ASC) AS rn,
               COUNT(*) OVER (PARTITION BY g, ts, event_id) AS m
        FROM pairs)
  WHERE rn = CAST(FLOOR((m::DOUBLE) / 2.0) AS BIGINT) + 1),
fin AS (
  SELECT g, mi,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY mi ASC) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM per_i)
SELECT g AS user_id, n, mi AS sn_raw,
       (mi::DOUBLE) * 1.1926 AS sn
FROM fin WHERE rn = CAST(FLOOR(((n + 1)::DOUBLE) / 2.0) AS BIGINT)
"""


def _q319_canonical_url(spark, sf):
    """URL-dedup canonicalization over deterministically messy URLs
    (mixed-case hosts, default ports, shuffled tracking params,
    fragments): canonical keys + collision counts. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.netops import canonical_url_col
    c = _t(spark, sf, "customer")
    k = F.col("c_custkey")
    host = F.when(k % 2 == 0,
                  F.concat(F.lit("Site"), (k % 50).cast("string"),
                           F.lit(".Example.COM"))) \
        .otherwise(F.concat(F.lit("site"), (k % 50).cast("string"),
                            F.lit(".example.com")))
    port = F.when(k % 3 == 0, F.lit(":443")).otherwise(F.lit(""))
    track = (F.when(k % 4 == 0, F.lit("?utm_source=a&b=2&a=1"))
             .when(k % 4 == 1, F.lit("?a=1&b=2&utm_medium=x"))
             .when(k % 4 == 2, F.lit("?b=2&gclid=zz&a=1"))
             .otherwise(F.lit("?a=1&b=2")))
    frag = F.when(k % 5 == 0, F.lit("#sec")).otherwise(F.lit(""))
    url = F.concat(F.lit("HTTPS://"), host, port, F.lit("/p/"),
                   (k % 20).cast("string"), F.lit("/"), track, frag)
    urls = c.select(url.alias("url"))
    return (urls.select(canonical_url_col("url").alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.count(F.lit(1)).alias("n")))


def _o319() -> str:
    from kml2geojson_spark.netops import canonical_url_sql
    url = ("'HTTPS://' || CASE WHEN c_custkey % 2 = 0 THEN"
           " 'Site' || CAST(c_custkey % 50 AS VARCHAR)"
           " || '.Example.COM'"
           " ELSE 'site' || CAST(c_custkey % 50 AS VARCHAR)"
           " || '.example.com' END"
           " || CASE WHEN c_custkey % 3 = 0 THEN ':443' ELSE '' END"
           " || '/p/' || CAST(c_custkey % 20 AS VARCHAR) || '/'"
           " || CASE WHEN c_custkey % 4 = 0 THEN"
           " '?utm_source=a&b=2&a=1'"
           " WHEN c_custkey % 4 = 1 THEN '?a=1&b=2&utm_medium=x'"
           " WHEN c_custkey % 4 = 2 THEN '?b=2&gclid=zz&a=1'"
           " ELSE '?a=1&b=2' END"
           " || CASE WHEN c_custkey % 5 = 0 THEN '#sec' ELSE '' END")
    canon = canonical_url_sql("url")
    return f"""
WITH u AS (SELECT ({url}) AS url FROM customer)
SELECT {canon} AS canonical_url, CAST(COUNT(*) AS BIGINT) AS n
FROM u GROUP BY 1
"""


def _q320_cochran_q(spark, sf):
    """Cochran's Q over per-user big-ticket flags across the five
    event types (complete blocks, exact BIGINT totals, one IEEE
    division). Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.relational import cochran_q
    ev = _t(spark, sf, "events")
    cells = (ev.where(F.col("user_id").isNotNull()
                      & F.col("event_type").isNotNull()
                      & F.col("value").isNotNull())
             .groupBy("user_id", "event_type")
             .agg(F.max(F.when(F.col("value") > 200.0, 1)
                        .otherwise(0)).cast("long").alias("big")))
    return cochran_q(cells, block_col="user_id",
                     treatment_col="event_type", label_col="big")


_O320 = """
WITH cell AS (
  SELECT user_id AS b, event_type AS tr,
         CAST(MAX(CASE WHEN value > 200.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    AND value IS NOT NULL
  GROUP BY user_id, event_type),
kk AS (SELECT COUNT(DISTINCT tr) AS k FROM cell),
comp AS (SELECT b FROM cell GROUP BY b
         HAVING COUNT(*) = (SELECT k FROM kk)),
kept AS (SELECT cell.* FROM cell JOIN comp USING (b)),
gj AS (SELECT tr, CAST(SUM(y) AS BIGINT) AS g FROM kept GROUP BY tr),
li AS (SELECT b, CAST(SUM(y) AS BIGINT) AS l FROM kept GROUP BY b),
tg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_treatments,
              CAST(SUM(g * g) AS BIGINT) AS sg2,
              CAST(SUM(g) AS BIGINT) AS grand_total
       FROM gj),
tl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
              CAST(SUM(l * l) AS BIGINT) AS sl2
       FROM li)
SELECT k_treatments, n_blocks, grand_total,
       CASE WHEN k_treatments >= 2 AND n_blocks > 0
                 AND (k_treatments * grand_total - sl2) > 0 THEN
         (((k_treatments - 1) * (k_treatments * sg2
            - grand_total * grand_total))::DOUBLE)
         / ((k_treatments * grand_total - sl2)::DOUBLE)
       END AS q_stat
FROM tg, tl
"""


def _q321_poisson_dispersion(spark, sf):
    """Poisson overdispersion of per-user daily event counts — are
    users' daily activity counts clumped? One exact-sum aggregate
    per user. Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.relational import poisson_dispersion
    ev = _t(spark, sf, "events")
    daily = (ev.where(F.col("user_id").isNotNull()
                      & F.col("ts").isNotNull())
             .groupBy("user_id",
                      F.datediff(F.col("ts").cast("date"),
                                 F.to_date(F.lit("2024-01-01")))
                      .alias("day"))
             .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    return poisson_dispersion(daily, count_col="cnt",
                              group_cols=["user_id"])


_O321 = """
WITH daily AS (
  SELECT user_id,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id, datediff('day', DATE '2024-01-01',
                             CAST(ts AS DATE))),
agg AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS ss
  FROM daily GROUP BY user_id)
SELECT user_id, n,
       CASE WHEN n >= 2 AND s > 0
            THEN (s::DOUBLE) / (n::DOUBLE) END AS mean,
       CASE WHEN n >= 2 AND s > 0 THEN
         (((n * ss - s * s)::DOUBLE)
          / ((n::DOUBLE) * ((n::DOUBLE) - 1.0)))
         / ((s::DOUBLE) / (n::DOUBLE))
       END AS dispersion,
       CASE WHEN n >= 2 AND s > 0 THEN
         ((n::DOUBLE) - 1.0)
         * ((((n * ss - s * s)::DOUBLE)
             / ((n::DOUBLE) * ((n::DOUBLE) - 1.0)))
            / ((s::DOUBLE) / (n::DOUBLE)))
       END AS chi2_stat
FROM agg
"""


def _q322_holm(spark, sf):
    """Holm step-down FWER adjustment over deterministic synthetic
    p-values (one tiny unpartitioned window over the m-row test
    table). Round-5 post-pin registration:
    in-repo oracle sweep only."""
    from kml2geojson_spark.relational import holm_adjust
    s = _t(spark, sf, "supplier")
    p = (((F.col("s_suppkey") * 2654435761) % 1000000)
         .cast("double") / F.lit(1000000.0))
    tests = s.select(F.concat(F.lit("test-"),
                              F.col("s_suppkey").cast("string"))
                     .alias("tid"), p.alias("p"))
    return holm_adjust(tests, p_col="p", test_id_col="tid")


_O322 = """
WITH t AS (
  SELECT 'test-' || CAST(s_suppkey AS VARCHAR) AS test_id,
         (((s_suppkey * 2654435761) % 1000000)::DOUBLE)
         / 1000000.0 AS p
  FROM supplier),
r AS (
  SELECT test_id, p,
         CAST(ROW_NUMBER() OVER (ORDER BY p ASC, test_id ASC)
              AS BIGINT) AS rank,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM t),
s AS (
  SELECT test_id, p, rank,
         LEAST(1.0, MAX(((m - rank + 1)::DOUBLE) * p) OVER (
           ORDER BY p ASC, test_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           AS adj_p
  FROM r)
SELECT test_id, p, rank, adj_p, adj_p <= 0.05 AS significant
FROM s
"""


def _q296_quantile_normalize(spark, sf):
    """Quantile normalization of document lengths across sources —
    every source ends up with an identical length distribution
    (rank window + rank-mean join). Round-5 post-pin registration:
    in-repo oracle sweep only."""
    from kml2geojson_spark.relational import quantile_normalize
    docs = _t(spark, sf, "documents")
    return quantile_normalize(docs, value_col="n_chars",
                              id_col="doc_id", dist_col="source")


_O296 = """
WITH b AS (
  SELECT source AS dist, doc_id AS id, n_chars AS value
  FROM documents
  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL
    AND source IS NOT NULL),
ranked AS (
  SELECT dist, id, value,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY dist ORDER BY value ASC, id ASC)
           AS BIGINT) AS rank
  FROM b),
means AS (
  SELECT rank,
         (SUM(CAST(value AS HUGEINT))::DOUBLE)
         / (COUNT(*)::DOUBLE) AS normalized
  FROM ranked GROUP BY rank)
SELECT r.dist, r.id, r.value, r.rank, m.normalized
FROM ranked r JOIN means m USING (rank)
"""


def _q297_neighbor_jaccard(spark, sf):
    """Jaccard neighborhood similarity between suppliers over the
    parts they ship (sampled part universe) — wedge self-join on the
    shared part, exact counts, one IEEE division. Round-5 post-pin
    registration: in-repo oracle sweep only."""
    from kml2geojson_spark.graph import neighbor_jaccard
    li = (_t(spark, sf, "lineitem")
          .where(F.col("l_partkey") % 10 == 0)
          .select(F.col("l_suppkey").alias("src"),
                  F.col("l_partkey").alias("dst")))
    return neighbor_jaccard(li, min_common=2)


_O297 = """
WITH e AS (
  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS l,
         CAST(l_partkey AS BIGINT) AS r
  FROM lineitem WHERE l_partkey % 10 = 0),
ldeg AS (SELECT l, CAST(COUNT(*) AS BIGINT) AS ld FROM e GROUP BY l),
rok AS (SELECT r FROM e GROUP BY r HAVING COUNT(*) >= 2),
we AS (SELECT e.l, e.r FROM e JOIN rok USING (r)),
pairs AS (
  SELECT a.l AS node_a, b.l AS node_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM we a JOIN we b ON a.r = b.r AND a.l < b.l
  GROUP BY a.l, b.l
  HAVING COUNT(*) >= 2)
SELECT p.node_a, p.node_b, p.n_common,
       da.ld AS deg_a, db.ld AS deg_b,
       (p.n_common::DOUBLE)
       / ((da.ld + db.ld - p.n_common)::DOUBLE) AS jaccard
FROM pairs p
JOIN ldeg da ON da.l = p.node_a
JOIN ldeg db ON db.l = p.node_b
"""


def _q298_shot_boundaries(spark, sf):
    """Shot-boundary detection over the deterministic sampled-frame
    checksums (q248 pipeline + one LAG window per media ref): flag
    frames whose exact byte-sum jump exceeds the threshold. Round-5
    post-pin registration: in-repo oracle sweep only."""
    from kml2geojson_spark.multimodal import (fetch_media_stub,
                                              frame_checksums,
                                              sample_frames,
                                              shot_boundaries)
    docs = _t(spark, sf, "documents")
    refs = (docs.where(F.col("doc_id") % 5 == 0)
            .select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.concat(F.lit("media/"),
                             F.col("doc_id").cast("string"),
                             F.lit(".ppm")).alias("media_ref"),
                    F.lit("ppm").alias("ext"),
                    F.lit(0).alias("offset")))
    fetched = fetch_media_stub(refs, payload="ppm")
    cks = frame_checksums(sample_frames(fetched, n_frames=4))
    return shot_boundaries(cks, threshold=2000)


_O298 = """
WITH refs AS (
  SELECT 'media/' || CAST(doc_id AS VARCHAR) || '.ppm' AS media_ref
  FROM documents WHERE doc_id % 5 = 0),
hdr AS (
  SELECT media_ref, t.p, t.b
  FROM refs, (VALUES (0,80),(1,54),(2,10),(3,49),(4,54),(5,32),
                     (6,49),(7,54),(8,10),(9,50),(10,53),(11,53),
                     (12,10)) t(p, b)),
chunks AS (
  SELECT media_ref, i,
         md5(media_ref || ':' || CAST(i AS VARCHAR)) AS hx
  FROM refs, generate_series(0, 47) AS t(i)),
body AS (
  SELECT media_ref, 13 + 16 * i + j AS p,
         (strpos('0123456789abcdef', substr(hx, 2 * j + 1, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(hx, 2 * j + 2, 1)) - 1) AS b
  FROM chunks, generate_series(0, 15) AS u(j)),
allb AS (SELECT * FROM hdr UNION ALL SELECT * FROM body),
fr AS (SELECT CAST(f.i AS INTEGER) AS frame_idx,
              LEAST(f.i * 195, 781 - 195) AS strt
       FROM generate_series(0, 3) AS f(i)),
asg AS (
  SELECT a.media_ref, fr.frame_idx, a.b
  FROM allb a JOIN fr ON a.p >= fr.strt AND a.p < fr.strt + 195),
cks AS (
  SELECT media_ref, frame_idx, CAST(SUM(b) AS BIGINT) AS byte_sum
  FROM asg GROUP BY media_ref, frame_idx),
lagd AS (
  SELECT media_ref, frame_idx, byte_sum,
         ABS(byte_sum - LAG(byte_sum, 1) OVER (
           PARTITION BY media_ref ORDER BY frame_idx ASC)) AS jump
  FROM cks)
SELECT media_ref, frame_idx, byte_sum, jump,
       COALESCE(jump > 2000, FALSE) AS is_boundary
FROM lagd
"""


def _q299_friedman(spark, sf):
    """Friedman repeated-measures rank test: do the five event types
    differ in per-user spend, blocking by user? Complete blocks
    only, exact 2R integer ranks, one fixed IEEE tree for the
    statistic. Round-5 post-pin registration: in-repo oracle sweep
    only."""
    from kml2geojson_spark.relational import friedman_test
    ev = _t(spark, sf, "events")
    cells = (ev.where(F.col("user_id").isNotNull()
                      & F.col("event_type").isNotNull()
                      & F.col("value").isNotNull())
             .groupBy("user_id", "event_type")
             .agg(F.sum(F.round(F.col("value") * 100.0).cast("long"))
                  .alias("cents")))
    return (friedman_test(cells, block_col="user_id",
                          treatment_col="event_type",
                          value_col="cents")
            .select("k_treatments", "n_blocks", "chi2_f"))


_O299 = """
WITH cell AS (
  SELECT user_id AS b, event_type AS tr,
         SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS x
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    AND value IS NOT NULL
  GROUP BY user_id, event_type),
kk AS (SELECT COUNT(DISTINCT tr) AS k FROM cell),
comp AS (SELECT b FROM cell GROUP BY b
         HAVING COUNT(*) = (SELECT k FROM kk)),
kept AS (SELECT cell.* FROM cell JOIN comp USING (b)),
r AS (
  SELECT b, tr,
         RANK() OVER (PARTITION BY b ORDER BY x ASC)
         + ((COUNT(*) OVER (PARTITION BY b)) + 1
            - RANK() OVER (PARTITION BY b ORDER BY x DESC)) AS r2
  FROM kept),
s AS (SELECT tr, CAST(SUM(r2) AS BIGINT) AS s2r FROM r GROUP BY tr),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_treatments,
             CAST(SUM(s2r * s2r) AS BIGINT) AS sumsq4
      FROM s),
nb AS (SELECT CAST(COUNT(*) / COUNT(DISTINCT tr) AS BIGINT)
         AS n_blocks FROM kept)
SELECT k_treatments, n_blocks,
       CASE WHEN n_blocks > 0 AND k_treatments >= 2 THEN
         12.0 / ((n_blocks::DOUBLE) * (k_treatments::DOUBLE)
                 * ((k_treatments::DOUBLE) + 1.0))
         * ((sumsq4::DOUBLE) / 4.0)
         - 3.0 * (n_blocks::DOUBLE) * ((k_treatments::DOUBLE) + 1.0)
       END AS chi2_f
FROM t, nb
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_filter_project": _q01_filter_project,
        "q02_pricing_summary": _q02_pricing_summary,
        "q03_topk_revenue": _q03_topk_revenue,
        "q04_semi_join": _q04_semi_join,
        "q05_anti_join": _q05_anti_join,
        "q06_window_topn": _q06_window_topn,
        "q07_union_distinct": _q07_union_distinct,
        "q08_sessionize": _q08_sessionize,
        "q09_json_extract": _q09_json_extract,
        "q10_cell_counts": _q10_cell_counts,
        "q11_pip": _q11_pip,
        "q12_knn_exact": _q12_knn_exact,
        "q13_knn_kring": _q13_knn_kring,
        "q14_coverage_rect": _q14_coverage_rect,
        "q15_salted_join_agg": _q15,
        "q16_cell_rollup": _q16_cell_rollup,
        "q17_asof_join": _q17_asof_join,
        "q18_rollup": _q18_rollup,
        "q19_group_median": _q19_group_median,
        "q20_exact_dedup": _q20_exact_dedup,
        "q21_token_stats": _q21_token_stats,
        "q22_quality": _q22_quality,
        "q23_lang_guess": _q23_lang_guess,
        "q24_fingerprint": _q24_fingerprint,
        "q25_ngram_jaccard": _q25_ngram_jaccard,
        "q26_simhash_pairs": _q26_simhash_pairs,
        "q27_events_pivot": _q27_events_pivot,
        "q28_tumbling_window": _q28_tumbling_window,
        "q30_cosine_topk": _q30_cosine_topk,
        "q31_embed_neardup": _q31_embed_neardup,
        "q40_minhash_pairs": _q40_minhash_pairs,
        "q41_lsh_cosine_topk": _q41_lsh_cosine_topk,
        "q42_convert_kml": _q42_convert_kml,
        "q43_media_features": _q43_media_features,
        "q44_ivf_topk": _q44_ivf_topk,
        "q45_dedup_components": _q45_dedup_components,
        "q46_polygon_stats": _q46_polygon_stats,
        "q47_rect_overlap_join": _q47_rect_overlap_join,
        "q48_bpe_tokens": _q48_bpe_tokens,
        "q49_tile_pyramid": _q49_tile_pyramid,
        "q50_stratified_split": _q50_stratified_split,
        "q51_hll_registers": _q51_hll_registers,
        "q52_sampled_quantiles": _q52_sampled_quantiles,
        "q53_keyword_search": _q53_keyword_search,
        "q54_polygon_cover": _q54_polygon_cover,
        "q55_knn_adaptive": _q55_knn_adaptive,
        "q56_hll_estimate": _q56_hll_estimate,
        "q57_global_quantiles": _q57_global_quantiles,
        "q58_minhash_similarity": _q58_minhash_similarity,
        "q59_near_dedup_reps": _q59_near_dedup_reps,
        "q60_coverage_fractions": _q60_coverage_fractions,
        "q61_embed_dedup_reps": _q61_embed_dedup_reps,
        "q62_redact_text": _q62_redact_text,
        "q63_vocabulary": _q63_vocabulary,
        "q64_interval_join": _q64_interval_join,
        "q65_within_distance": _q65_within_distance,
        "q66_coverage_pyramid": _q66_coverage_pyramid,
        "q68_compact_cells": _q68_compact_cells,
        "q69_tfidf_top_terms": _q69_tfidf_top_terms,
        "q70_bloom_registers": _q70_bloom_registers,
        "q71_quality_quota": _q71_quality_quota,
        "q72_decontaminate": _q72_decontaminate,
        "q73_repetition_stats": _q73_repetition_stats,
        "q74_line_cover": _q74_line_cover,
        "q75_grid_cluster": _q75_grid_cluster,
        "q76_cms_registers": _q76_cms_registers,
        "q77_cms_estimate": _q77_cms_estimate,
        "q78_spatial_extent": _q78_spatial_extent,
        "q79_trajectory_stats": _q79_trajectory_stats,
        "q80_rect_intersection": _q80_rect_intersection,
        "q81_geohash": _q81_geohash,
        "q82_pack_sequences": _q82_pack_sequences,
        "q83_boilerplate": _q83_boilerplate,
        "q84_containment": _q84_containment,
        "q85_pagerank": _q85_pagerank,
        "q86_triangle_count": _q86_triangle_count,
        "q87_funnel": _q87_funnel,
        "q88_od_matrix": _q88_od_matrix,
        "q89_cohort_retention": _q89_cohort_retention,
        "q90_group_outliers": _q90_group_outliers,
        "q91_skyline": _q91_skyline,
        "q92_hilbert_counts": _q92_hilbert_counts,
        "q93_surprisal": _q93_surprisal,
        "q94_bm25": _q94_bm25,
        "q95_span_stats": _q95_span_stats,
        "q96_pmi_bigrams": _q96_pmi_bigrams,
        "q97_common_neighbors": _q97_common_neighbors,
        "q98_incremental_tiles": _q98_incremental_tiles,
        "q99_bbox_prune": _q99_bbox_prune,
        "q100_mutual_knn": _q100_mutual_knn,
        "q101_cube": _q101_cube,
        "q102_moving_window": _q102_moving_window,
        "q103_fuzzy_pairs": _q103_fuzzy_pairs,
        "q104_merge_intervals": _q104_merge_intervals,
        "q105_asof_forward": _q105_asof_forward,
        "q106_sessionize_batch": _q106_sessionize_batch,
        "q107_weighted_sample": _q107_weighted_sample,
        "q108_lang_hll": _q108_lang_hll,
        "q109_cell_smooth": _q109_cell_smooth,
        "q110_pip_anti": _q110_pip_anti,
        "q111_gapfill": _q111_gapfill,
        "q112_transitions": _q112_transitions,
        "q113_label_centroids": _q113_label_centroids,
        "q114_histogram": _q114_histogram,
        "q115_weighted_median": _q115_weighted_median,
        "q116_polygon_centroid": _q116_polygon_centroid,
        "q117_group_mode": _q117_group_mode,
        "q118_passage_dedup": _q118_passage_dedup,
        "q119_lang_profile": _q119_lang_profile,
        "q120_inter_event": _q120_inter_event,
        "q121_rfm": _q121_rfm,
        "q122_key_skew": _q122_key_skew,
        "q123_union_cover": _q123_union_cover,
        "q124_orphan_audit": _q124_orphan_audit,
        "q125_column_profile": _q125_column_profile,
        "q126_dup_cluster_stats": _q126_dup_cluster_stats,
        "q127_join_card": _q127_join_card,
        "q128_heavy_hitters": _q128_heavy_hitters,
        "q129_nearest_segment": _q129_nearest_segment,
        "q130_interval_overlap": _q130_interval_overlap,
        "q131_traj_resample": _q131_traj_resample,
        "q132_geofence_dwell": _q132_geofence_dwell,
        "q133_cell_stays": _q133_cell_stays,
        "q134_speed_outliers": _q134_speed_outliers,
        "q135_heading_octants": _q135_heading_octants,
        "q136_segment_intersections": _q136_segment_intersections,
        "q137_grid_moran": _q137_grid_moran,
        "q138_cooccurrence": _q138_cooccurrence,
        "q139_session_paths": _q139_session_paths,
        "q140_decontaminate_near": _q140_decontaminate_near,
        "q141_asof_nearest": _q141_asof_nearest,
        "q142_attribution": _q142_attribution,
        "q143_line_buffer": _q143_line_buffer,
        "q144_chunk_documents": _q144_chunk_documents,
        "q145_convex_hull": _q145_convex_hull,
        "q146_quantile_buckets": _q146_quantile_buckets,
        "q147_group_ols": _q147_group_ols,
        "q148_group_gini": _q148_group_gini,
        "q149_quantize_embeddings": _q149_quantize_embeddings,
        "q150_mad_outliers": _q150_mad_outliers,
        "q151_group_auc": _q151_group_auc,
        "q152_ks_2sample": _q152_ks_2sample,
        "q153_top_p_coverage": _q153_top_p_coverage,
        "q154_group_entropy": _q154_group_entropy,
        "q155_cusum_changepoint": _q155_cusum_changepoint,
        "q156_cidr_join": _q156_cidr_join,
        "q157_rolling_median": _q157_rolling_median,
        "q158_max_streak": _q158_max_streak,
        "q159_percentile_rank": _q159_percentile_rank,
        "q160_jaccard_pairs": _q160_jaccard_pairs,
        "q161_corr_matrix": _q161_corr_matrix,
        "q162_classification_report": _q162_classification_report,
        "q163_chi2": _q163_chi2,
        "q164_welch_ttest": _q164_welch_ttest,
        "q165_snm_pairs": _q165_snm_pairs,
        "q166_winnow": _q166_winnow,
        "q167_bfs_hops": _q167_bfs_hops,
        "q168_hits": _q168_hits,
        "q169_label_vote": _q169_label_vote,
        "q170_psi_drift": _q170_psi_drift,
        "q171_mannwhitney": _q171_mannwhitney,
        "q172_prop_ztest": _q172_prop_ztest,
        "q173_lag_autocorr": _q173_lag_autocorr,
        "q174_benford": _q174_benford,
        "q175_anova": _q175_anova,
        "q176_bellman_ford": _q176_bellman_ford,
        "q177_centroid_drift": _q177_centroid_drift,
        "q178_ndcg": _q178_ndcg,
        "q179_rrf": _q179_rrf,
        "q180_kcore": _q180_kcore,
        "q181_burst_dedup": _q181_burst_dedup,
        "q182_trimmed_mean": _q182_trimmed_mean,
        "q183_ratio_metric": _q183_ratio_metric,
        "q184_table_diff": _q184_table_diff,
        "q185_cohort_ltv": _q185_cohort_ltv,
        "q186_spearman": _q186_spearman,
        "q187_kruskal_wallis": _q187_kruskal,
        "q188_group_moments": _q188_moments,
        "q189_group_quantiles": _q189_quantiles,
        "q190_clustering_coeff": _q190_clustering,
        "q191_kaplan_meier": _q191_kaplan_meier,
        "q192_theil_index": _q192_theil,
        "q193_zipf_fit": _q193_zipf,
        "q194_odds_ratio": _q194_odds_ratio,
        "q195_getis_ord": _q195_getis_ord,
        "q196_cohens_d": _q196_cohens_d,
        "q197_time_weighted_avg": _q197_twa,
        "q198_mantel_haenszel": _q198_mantel_haenszel,
        "q201_assortativity": _q201_assortativity,
        "q202_bigram_lm": _q202_bigram_lm,
        "q203_js_divergence": _q203_js_divergence,
        "q204_map_at_k": _q204_map_at_k,
        "q205_runs_test": _q205_runs_test,
        "q206_poisson_rate": _q206_poisson_rate,
        "q207_char_entropy": _q207_char_entropy,
        "q208_basket_lift": _q208_basket_lift,
        "q210_rolling_zscore": _q210_rolling_zscore,
        "q212_topk_overlap": _q212_topk_overlap,
        "q213_calibration_bins": _q213_calibration_bins,
        "q214_attribution": _q214_attribution,
        "q215_embedding_norms": _q215_embedding_norms,
        "q216_doc_novelty": _q216_doc_novelty,
        "q217_reciprocity": _q217_reciprocity,
        "q219_trigram_paths": _q219_trigram_paths,
        "q220_funnel_latency": _q220_funnel_latency,
        "q221_k_anonymity": _q221_k_anonymity,
        "q222_period_over_period": _q222_period_over_period,
        "q223_wilson_ci": _q223_wilson_ci,
        "q224_fisher": _q224_fisher,
        "q225_information_gain": _q225_information_gain,
        "q226_silhouette": _q226_silhouette,
        "q227_lpa_communities": _q227_lpa_communities,
        "q228_hll_overlap": _q228_hll_overlap,
        "q229_er_entities": _q229_er_entities,
        "q230_cume_gains": _q230_cume_gains,
        "q231_mrr_at_k": _q231_mrr_at_k,
        "q232_script_mix": _q232_script_mix,
        "q233_circular_time": _q233_circular_time,
        "q234_polygon_overlap": _q234_polygon_overlap,
        "q235_rolling_active": _q235_rolling_active,
        "q236_readability": _q236_readability,
        "q237_hits": _q237_hits,
        "q238_haversine": _q238_haversine,
        "q239_winsorized": _q239_winsorized,
        "q241_keyword_snippets": _q241_keyword_snippets,
        "q242_bearing": _q242_bearing,
        "q244_cohens_kappa": _q244_cohens_kappa,
        "q245_int8_quant": _q245_int8_quant,
        "q246_simhash_curve": _q246_simhash_curve,
        "q247_dimension_profile": _q247_dimension_profile,
        "q248_frame_checksums": _q248_frame_checksums,
        "q249_peak_concurrency": _q249_peak_concurrency,
        "q250_zonal_stats": _q250_zonal_stats,
        "q251_spatial_thin": _q251_spatial_thin,
        "q252_adamic_adar": _q252_adamic_adar,
        "q253_distinctive_terms": _q253_distinctive_terms,
        "q254_ewma_last": _q254_ewma_last,
        "q255_mann_kendall": _q255_mann_kendall,
        "q256_brown_forsythe": _q256_brown_forsythe,
        "q258_kendall_tau": _q258_kendall_tau,
        "q259_idw_interpolate": _q259_idw_interpolate,
        "q260_two_hop_reach": _q260_two_hop_reach,
        "q261_parse_wkt": _q261_parse_wkt,
        "q262_pcm_features": _q262_pcm_features,
        "q263_jl_project": _q263_jl_project,
        "q264_seasonality": _q264_seasonality,
        "q265_destination_point": _q265_destination_point,
        "q266_rolling_corr": _q266_rolling_corr,
        "q267_target_encode": _q267_target_encode,
        "q268_cronbach": _q268_cronbach,
        "q269_negative_samples": _q269_negative_samples,
        "q270_hashed_features": _q270_hashed_features,
        "q271_cuped": _q271_cuped,
        "q272_diff_in_diff": _q272_diff_in_diff,
        "q273_parse_url": _q273_parse_url,
        "q274_gc_interpolate": _q274_gc_interpolate,
        "q276_theil_sen": _q276_theil_sen,
        "q277_ripley_k": _q277_ripley_k,
        "q278_clark_evans": _q278_clark_evans,
        "q279_ring_audit": _q279_ring_audit,
        "q280_image_ahash": _q280_image_ahash,
        "q281_ahash_pairs": _q281_ahash_pairs,
        "q282_bootstrap_ci": _q282_bootstrap_ci,
        "q283_permutation_test": _q283_permutation_test,
        "q284_line_interpolate": _q284_line_interpolate,
        "q285_hausdorff": _q285_hausdorff,
        "q286_hodges_lehmann": _q286_hodges_lehmann,
        "q287_siegel_slope": _q287_siegel_slope,
        "q288_spherical_area": _q288_spherical_area,
        "q289_pettitt": _q289_pettitt,
        "q290_grubbs": _q290_grubbs,
        "q291_jarque_bera": _q291_jarque_bera,
        "q292_mcnemar": _q292_mcnemar,
        "q293_kmv_registers": _q293_kmv_registers,
        "q294_kmv_estimate": _q294_kmv_estimate,
        "q295_hex_bin": _q295_hex_bin,
        "q296_quantile_normalize": _q296_quantile_normalize,
        "q297_neighbor_jaccard": _q297_neighbor_jaccard,
        "q298_shot_boundaries": _q298_shot_boundaries,
        "q299_friedman": _q299_friedman,
        "q300_hex_smooth": _q300_hex_smooth,
        "q301_cochran_armitage": _q301_cochran_armitage,
        "q302_durbin_watson": _q302_durbin_watson,
        "q303_cliffs_delta": _q303_cliffs_delta,
        "q304_boxplot": _q304_boxplot,
        "q305_fd_violations": _q305_fd_violations,
        "q306_source_mix": _q306_source_mix,
        "q307_chao1": _q307_chao1,
        "q308_mood_median": _q308_mood_median,
        "q309_page_trend": _q309_page_trend,
        "q310_cross_track": _q310_cross_track,
        "q311_raster_peaks": _q311_raster_peaks,
        "q312_lead_lag": _q312_lead_lag,
        "q313_elbow": _q313_elbow,
        "q314_sequence_gaps": _q314_sequence_gaps,
        "q315_quadkey": _q315_quadkey,
        "q316_langid_eval": _q316_langid_eval,
        "q318_sn_scale": _q318_sn_scale,
        "q319_canonical_url": _q319_canonical_url,
        "q320_cochran_q": _q320_cochran_q,
        "q321_poisson_dispersion": _q321_poisson_dispersion,
        "q322_holm": _q322_holm,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_filter_project": _O01,
        "q02_pricing_summary": _O02,
        "q03_topk_revenue": _O03,
        "q04_semi_join": _O04,
        "q05_anti_join": _O05,
        "q06_window_topn": _O06,
        "q07_union_distinct": _O07,
        "q08_sessionize": _O08,
        "q09_json_extract": _O09,
        "q10_cell_counts": _o10(),
        "q11_pip": _O11,
        "q12_knn_exact": _O12,
        "q13_knn_kring": _O12,  # same oracle: k-ring must equal exact
        "q14_coverage_rect": _o14(),
        "q15_salted_join_agg": _O15,
        "q16_cell_rollup": _o16(),
        "q17_asof_join": _O17,
        "q18_rollup": _O18,
        "q19_group_median": _O19,
        "q20_exact_dedup": _O20,
        "q21_token_stats": _O21,
        "q22_quality": _O22,
        "q23_lang_guess": _o23(),
        "q24_fingerprint": _O24,
        "q25_ngram_jaccard": _O25,
        "q26_simhash_pairs": _o26(),
        "q27_events_pivot": _O27,
        "q28_tumbling_window": _O28,
        "q30_cosine_topk": _O30,
        "q31_embed_neardup": _O31,
        "q45_dedup_components": _o45(),
        "q46_polygon_stats": _O46,
        "q47_rect_overlap_join": _O47,
        "q48_bpe_tokens": _O48,
        "q49_tile_pyramid": _o49(),
        "q50_stratified_split": _O50,
        "q51_hll_registers": _o51(),
        "q52_sampled_quantiles": _O52,
        "q53_keyword_search": _O53,
        "q54_polygon_cover": _o54(),
        "q55_knn_adaptive": _O12,  # adaptive must equal exact kNN
        "q56_hll_estimate": _o56(),
        "q57_global_quantiles": _O57,
        "q59_near_dedup_reps": _o59(),
        "q60_coverage_fractions": _o60(),
        "q61_embed_dedup_reps": _O61,
        "q62_redact_text": _O62,
        "q63_vocabulary": _O63,
        "q64_interval_join": _O64,
        "q65_within_distance": _O65,
        "q66_coverage_pyramid": _o66(),
        "q40_minhash_pairs": _o40(),
        "q58_minhash_similarity": _o58(),
        "q68_compact_cells": _o68(),
        "q69_tfidf_top_terms": _O69,
        "q70_bloom_registers": _O70,
        "q71_quality_quota": _O71,
        "q72_decontaminate": _O72,
        "q73_repetition_stats": _O73,
        "q74_line_cover": _o74(),
        "q75_grid_cluster": _o75(),
        "q76_cms_registers": _O76,
        "q77_cms_estimate": _O77,
        "q78_spatial_extent": _O78,
        "q79_trajectory_stats": _O79,
        "q80_rect_intersection": _O80,
        "q81_geohash": _o81(),
        "q82_pack_sequences": _O82,
        "q83_boilerplate": _O83,
        "q84_containment": _O84,
        "q85_pagerank": _o85(),
        "q86_triangle_count": _O86,
        "q87_funnel": _o87(),
        "q88_od_matrix": _O88,
        "q89_cohort_retention": _O89,
        "q90_group_outliers": _O90,
        "q91_skyline": _O91,
        "q92_hilbert_counts": _o92(),
        "q93_surprisal": _O93,
        "q94_bm25": _o94(),
        "q95_span_stats": _O95,
        "q96_pmi_bigrams": _O96,
        "q97_common_neighbors": _O97,
        "q98_incremental_tiles": _o10(),  # merge must equal full recompute
        "q99_bbox_prune": _O99,
        "q100_mutual_knn": _O100,
        "q101_cube": _O101,
        "q102_moving_window": _O102,
        "q103_fuzzy_pairs": _O103,
        "q104_merge_intervals": _O104,
        "q105_asof_forward": _O105,
        "q106_sessionize_batch": _O106,
        "q107_weighted_sample": _o107(),
        "q108_lang_hll": _o108(),
        "q109_cell_smooth": _o109(),
        "q110_pip_anti": _O110,
        "q111_gapfill": _O111,
        "q112_transitions": _O112,
        "q113_label_centroids": _o113(),
        "q114_histogram": _O114,
        "q115_weighted_median": _O115,
        "q116_polygon_centroid": _O116,
        "q117_group_mode": _O117,
        "q118_passage_dedup": _O118,
        "q119_lang_profile": _O119,
        "q120_inter_event": _O120,
        "q121_rfm": _O121,
        "q122_key_skew": _O122,
        "q123_union_cover": _o123(),
        "q124_orphan_audit": _o124(),
        "q125_column_profile": _o125(),
        "q126_dup_cluster_stats": _O126,
        "q127_join_card": _O127,
        "q128_heavy_hitters": _O128,
        "q129_nearest_segment": _O129,
        "q130_interval_overlap": _O130,
        "q131_traj_resample": _O131,
        "q132_geofence_dwell": _O132,
        "q133_cell_stays": _o133(),
        "q134_speed_outliers": _O134,
        "q135_heading_octants": _O135,
        "q136_segment_intersections": _O136,
        "q137_grid_moran": _O137,
        "q138_cooccurrence": _O138,
        "q139_session_paths": _O139,
        "q140_decontaminate_near": _o140(),
        "q141_asof_nearest": _O141,
        "q142_attribution": _O142,
        "q143_line_buffer": _o143(),
        "q144_chunk_documents": _o144(),
        "q145_convex_hull": _O145,
        "q146_quantile_buckets": _o146(),
        "q147_group_ols": _O147,
        "q148_group_gini": _O148,
        "q149_quantize_embeddings": _O149,
        "q150_mad_outliers": _O150,
        "q151_group_auc": _O151,
        "q152_ks_2sample": _O152,
        "q153_top_p_coverage": _O153,
        "q154_group_entropy": _O154,
        "q155_cusum_changepoint": _O155,
        "q156_cidr_join": _O156,
        "q157_rolling_median": _O157,
        "q158_max_streak": _O158,
        "q159_percentile_rank": _O159,
        "q160_jaccard_pairs": _O160,
        "q161_corr_matrix": _O161,
        "q162_classification_report": _O162,
        "q163_chi2": _O163,
        "q164_welch_ttest": _O164,
        "q165_snm_pairs": _O165,
        "q166_winnow": _O166,
        "q167_bfs_hops": _O167,
        "q168_hits": _O168,
        "q169_label_vote": _O169,
        "q170_psi_drift": _O170,
        "q171_mannwhitney": _O171,
        "q172_prop_ztest": _O172,
        "q173_lag_autocorr": _O173,
        "q174_benford": _O174,
        "q175_anova": _O175,
        "q176_bellman_ford": _O176,
        "q177_centroid_drift": _O177,
        "q178_ndcg": _o178(),
        "q179_rrf": _O179,
        "q180_kcore": _o180(),
        "q181_burst_dedup": _O181,
        "q182_trimmed_mean": _O182,
        "q183_ratio_metric": _O183,
        "q184_table_diff": _O184,
        "q185_cohort_ltv": _O185,
        "q186_spearman": _O186,
        "q187_kruskal_wallis": _O187,
        "q188_group_moments": _O188,
        "q189_group_quantiles": _O189,
        "q190_clustering_coeff": _O190,
        "q191_kaplan_meier": _O191,
        "q192_theil_index": _O192,
        "q193_zipf_fit": _O193,
        "q194_odds_ratio": _O194,
        "q195_getis_ord": _o195(),
        "q196_cohens_d": _O196,
        "q197_time_weighted_avg": _O197,
        "q198_mantel_haenszel": _O198,
        "q201_assortativity": _O201,
        "q202_bigram_lm": _O202,
        "q203_js_divergence": _O203,
        "q204_map_at_k": _O204,
        "q205_runs_test": _O205,
        "q206_poisson_rate": _O206,
        "q207_char_entropy": _O207,
        "q208_basket_lift": _O208,
        "q210_rolling_zscore": _O210,
        "q212_topk_overlap": _O212,
        "q213_calibration_bins": _O213,
        "q214_attribution": _O214,
        "q215_embedding_norms": _O215,
        "q216_doc_novelty": _O216,
        "q217_reciprocity": _O217,
        "q219_trigram_paths": _O219,
        "q220_funnel_latency": _O220,
        "q221_k_anonymity": _O221,
        "q222_period_over_period": _O222,
        "q223_wilson_ci": _O223,
        "q224_fisher": _O224,
        "q225_information_gain": _O225,
        "q226_silhouette": _O226,
        "q227_lpa_communities": _o227(),
        "q228_hll_overlap": _o228(),
        "q229_er_entities": _O229,
        "q230_cume_gains": _o230(),
        "q231_mrr_at_k": _O231,
        "q232_script_mix": _O232,
        "q233_circular_time": _O233,
        "q234_polygon_overlap": _o234(),
        "q235_rolling_active": _O235,
        "q236_readability": _O236,
        "q237_hits": _o237(),
        "q238_haversine": _O238,
        "q239_winsorized": _O239,
        "q241_keyword_snippets": _O241,
        "q242_bearing": _O242,
        "q244_cohens_kappa": _O244,
        "q245_int8_quant": _O245,
        "q246_simhash_curve": _o246(),
        "q247_dimension_profile": _O247,
        "q248_frame_checksums": _O248,
        "q249_peak_concurrency": _O249,
        "q250_zonal_stats": _O250,
        "q251_spatial_thin": _o251(),
        "q252_adamic_adar": _O252,
        "q253_distinctive_terms": _O253,
        "q254_ewma_last": _O254,
        "q255_mann_kendall": _O255,
        "q256_brown_forsythe": _O256,
        "q258_kendall_tau": _O258,
        "q259_idw_interpolate": _o259(),
        "q260_two_hop_reach": _O260,
        "q261_parse_wkt": _O261,
        "q262_pcm_features": _O262,
        "q263_jl_project": _o263(),
        "q264_seasonality": _O264,
        "q265_destination_point": _o265(),
        "q266_rolling_corr": _O266,
        "q267_target_encode": _O267,
        "q268_cronbach": _O268,
        "q269_negative_samples": _O269,
        "q270_hashed_features": _O270,
        "q271_cuped": _O271,
        "q272_diff_in_diff": _O272,
        "q273_parse_url": _O273,
        "q274_gc_interpolate": _o274(),
        "q276_theil_sen": _O276,
        "q277_ripley_k": _o277(),
        "q278_clark_evans": _O278,
        "q279_ring_audit": _O279,
        "q280_image_ahash": _O280,
        "q281_ahash_pairs": _O281,
        "q282_bootstrap_ci": _o282(),
        "q283_permutation_test": _o283(),
        "q284_line_interpolate": _O284,
        "q285_hausdorff": _O285,
        "q286_hodges_lehmann": _O286,
        "q287_siegel_slope": _O287,
        "q288_spherical_area": _o288(),
        "q289_pettitt": _O289,
        "q290_grubbs": _O290,
        "q291_jarque_bera": _o291(),
        "q292_mcnemar": _o292(),
        "q293_kmv_registers": _O293,
        "q294_kmv_estimate": _O294,
        "q295_hex_bin": _o295(),
        "q296_quantile_normalize": _O296,
        "q297_neighbor_jaccard": _O297,
        "q298_shot_boundaries": _O298,
        "q299_friedman": _O299,
        "q300_hex_smooth": _o300(),
        "q301_cochran_armitage": _O301,
        "q302_durbin_watson": _O302,
        "q303_cliffs_delta": _O303,
        "q304_boxplot": _O304,
        "q305_fd_violations": _O305,
        "q306_source_mix": _O306,
        "q307_chao1": _O307,
        "q308_mood_median": _O308,
        "q309_page_trend": _O309,
        "q310_cross_track": _o310(),
        "q311_raster_peaks": _O311,
        "q312_lead_lag": _O312,
        "q313_elbow": _O313,
        "q314_sequence_gaps": _O314,
        "q315_quadkey": _o315(),
        "q316_langid_eval": _o316(),
        "q318_sn_scale": _O318,
        "q319_canonical_url": _o319(),
        "q320_cochran_q": _O320,
        "q321_poisson_dispersion": _O321,
        "q322_holm": _O322,
        "q41_lsh_cosine_topk": _o41_sql(),
        "q43_media_features": _O43,
        # q44: rows-only (the IVF candidate set is approximate by
        # design — Lloyd-iteration centroids have no SQL replay;
        # pytest measures recall vs the exact baseline).
        # q42: the KML engine has no faithful single-statement SQL
        # equivalent (golden-parity pytest covers it against the
        # reference fixtures).
    }
