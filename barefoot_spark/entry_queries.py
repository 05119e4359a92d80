"""Driver-contract queries and their DuckDB oracle twins.

Each query here exists in two forms: a Spark DataFrame pipeline
(exercising the engine's operators and Catalyst planning) and an ANSI
SQL string for DuckDB. Where a query computes floating-point geometry,
both sides are generated from the same SQL fragment builders so they
evaluate bit-identical double expressions (spherical haversine mode for
the oracle-checkable joins; the exact-geodesic kernels are covered by
the pytest goldens instead, since Vincenty is not expressible in SQL).

Spatial inputs derive deterministically from the driver's `orders`
table (point_id = o_orderkey; lon/lat from modular arithmetic) so the
driver's parquet genuinely feeds every query; the 7-road micro map
(MatcherTest.java:68-75) is inlined as a literal dimension.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import cells, roads, wkbio
from .index import RoadIndex
from .operators import analysis as A
from .operators import datapipe as DP
from .operators import joins as J
from .operators import match as M
from .operators import tiles as T
from .sources import samples as SS

# ---------------------------------------------------------------------------
# shared literal fixtures + formula fragments
# ---------------------------------------------------------------------------

_K48 = repr(math.cos(math.radians(48.0))) + "e0"   # planar lon scale at lat 48 (e0 => DOUBLE literal)
_R_SPHERE = "6371008.8e0"

# micro7 as single-segment rows (every reference road is a 2-point line)
MICRO7_SEGS = []
for gid, src, dst, oneway, wkt in roads.MICRO7:
    c = wkbio.parse_wkt_linestring(wkt)
    MICRO7_SEGS.append((gid, float(c[0][0]), float(c[0][1]),
                        float(c[1][0]), float(c[1][1])))

# e0 suffixes force DOUBLE literals: Spark otherwise parses decimal
# literals as DECIMAL and computes at reduced precision, diverging from
# DuckDB's double arithmetic.
SEGS_VALUES = ", ".join(f"({g}, {ax!r}e0, {ay!r}e0, {bx!r}e0, {by!r}e0)"
                        for g, ax, ay, bx, by in MICRO7_SEGS)

# concave test polygon (no horizontal edges -> no div-by-zero branch)
POLY_RING = [(11.002, 47.999), (11.025, 47.9985), (11.027, 48.0105),
             (11.012, 48.003), (11.002, 47.999)]

POINTS_SQL_BODY = (
    "SELECT o_orderkey AS point_id, "
    "11.0e0 + (o_orderkey % 997) / 997.0e0 * 0.032e0 AS px, "
    "47.998e0 + ((o_orderkey * 7919) % 997) / 997.0e0 * 0.004e0 AS py "
    "FROM orders")

WORLD_POINTS_SQL_BODY = (
    "SELECT o_orderkey AS point_id, "
    "-179.9e0 + (o_orderkey % 997) / 997.0e0 * 359.0e0 AS px, "
    "-89.9e0 + ((o_orderkey * 7919) % 997) / 997.0e0 * 179.0e0 AS py "
    "FROM orders")


def seg_dist_expr(px: str = "px", py: str = "py") -> str:
    """Distance (m) from point to segment: planar-clamped parameter (lon
    scaled by cos 48deg) + spherical haversine to the closest point.
    Identical text runs through Catalyst (F.expr) and DuckDB."""
    dx = f"((bx - ax) * {_K48})"
    dy = "(by - ay)"
    wx = f"(({px} - ax) * {_K48})"
    wy = f"(({py} - ay))"
    t = (f"least(greatest(({wx} * {dx} + {wy} * {dy}) / "
         f"({dx} * {dx} + {dy} * {dy}), 0.0e0), 1.0e0)")
    qx = f"(ax + {t} * (bx - ax))"
    qy = f"(ay + {t} * (by - ay))"
    return (f"2.0e0 * {_R_SPHERE} * asin(sqrt("
            f"pow(sin(radians(({qy}) - ({py})) / 2.0e0), 2) "
            f"+ cos(radians({py})) * cos(radians({qy})) "
            f"* pow(sin(radians(({qx}) - ({px})) / 2.0e0), 2)))")


def pip_crossings_expr(px: str = "px", py: str = "py") -> str:
    """Even-odd ray-cast crossing count for POLY_RING — the same
    per-edge formula the numpy kernel evaluates (joins.ray_cast)."""
    terms = []
    ring = POLY_RING
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        terms.append(
            f"(CASE WHEN (({y0!r}e0 > {py}) <> ({y1!r}e0 > {py})) "
            f"AND ({px} < {x0!r}e0 + ({py} - {y0!r}e0) / ({y1!r}e0 - {y0!r}e0) "
            f"* ({x1!r}e0 - {x0!r}e0)) THEN 1 ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _points(spark: SparkSession, sf_dir: str, world=False) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
    return spark.sql(WORLD_POINTS_SQL_BODY if world else POINTS_SQL_BODY)


def _segs(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        pd.DataFrame(MICRO7_SEGS, columns=["gid", "ax", "ay", "bx", "by"]))


# ---------------------------------------------------------------------------
# spatial queries (Spark side)
# ---------------------------------------------------------------------------

def q_tile_assign(spark, sf_dir):
    pts = _points(spark, sf_dir, world=True)
    out = T.assign_tiles(pts.withColumnRenamed("py", "lat").withColumnRenamed("px", "lon"),
                         res=14, parent_res=7)
    return out.select("point_id", F.round("lat", 6).alias("lat"),
                      F.round("lon", 6).alias("lon"), "cell",
                      F.col("cell_p7").alias("parent_cell"))


def oracle_tile_assign(sf_dir):
    cell = T.cell_expr_sql("py", "px", 14)
    parent = T.cell_expr_sql("py", "px", 7)
    return (f"WITH pts AS ({WORLD_POINTS_SQL_BODY}) "
            f"SELECT point_id, round(py, 6) AS lat, round(px, 6) AS lon, "
            f"{cell} AS cell, {parent} AS parent_cell FROM pts")


def q_tile_counts(spark, sf_dir):
    pts = _points(spark, sf_dir, world=True)
    out = T.assign_tiles(pts.withColumnRenamed("py", "lat").withColumnRenamed("px", "lon"),
                         res=7)
    return (out.groupBy("cell").agg(F.count("*").alias("n_points"))
            .filter(F.col("n_points") > 1))


def oracle_tile_counts(sf_dir):
    cell = T.cell_expr_sql("py", "px", 7)
    return (f"WITH pts AS ({WORLD_POINTS_SQL_BODY}) "
            f"SELECT {cell} AS cell, count(*) AS n_points FROM pts "
            f"GROUP BY 1 HAVING count(*) > 1")


def q_radius_join(spark, sf_dir):
    pts = _points(spark, sf_dir)
    segs = _segs(spark)
    d = seg_dist_expr()
    return (pts.crossJoin(F.broadcast(segs))
            .withColumn("dist_m", F.expr(d))
            .filter(F.col("dist_m") < 300.0)
            .select("point_id", "gid", F.round("dist_m", 3).alias("dist_m")))


def oracle_radius_join(sf_dir):
    d = seg_dist_expr()
    return (f"WITH segs(gid, ax, ay, bx, by) AS (VALUES {SEGS_VALUES}), "
            f"pts AS ({POINTS_SQL_BODY}) "
            f"SELECT point_id, gid, round({d}, 3) AS dist_m FROM pts, segs "
            f"WHERE {d} < 300.0")


def _fast_parts_pdf():
    idx = RoadIndex(roads.micro7_pdf(), res=15)
    return J.segment_parts_pdf(idx, 250.0, 15)


def q_radius_join_fast(spark, sf_dir):
    """Pure-Catalyst radius join scale path: cell-cover broadcast hash
    join + codegen planar/haversine refine — zero Python in the probe
    (joins.radius_join_fast). Same SQL fragments as the oracle."""
    pts = _points(spark, sf_dir).selectExpr("point_id", "py AS lat", "px AS lon")
    parts = spark.createDataFrame(_fast_parts_pdf())
    out = J.radius_join_fast(pts, parts, 250.0, 15)
    return out.select("point_id", "gid",
                      F.round("fraction", 6).alias("fraction"),
                      F.round("distance", 3).alias("dist_m"))


def oracle_radius_join_fast(sf_dir):
    parts = _fast_parts_pdf()
    vals = ", ".join(
        f"({int(r.cell)}, {int(r.gid)}, {r.ax!r}e0, {r.ay!r}e0, {r.bx!r}e0, "
        f"{r.by!r}e0, {r.cum_before!r}e0, {r.seg_len!r}e0, {r.total_len!r}e0)"
        for r in parts.itertuples(index=False))
    fr = J.seg_refine_sql(250.0)
    cexpr = T.cell_expr_sql("lat", "lon", 15)
    return f"""
        WITH parts(cell, gid, ax, ay, bx, by, cum_before, seg_len, total_len)
             AS (VALUES {vals}),
        pts AS (SELECT point_id, py AS lat, px AS lon
                FROM ({POINTS_SQL_BODY})),
        cand AS (
            SELECT point_id, gid, {fr['dist']} AS dist_m, {fr['frac']} AS fraction
            FROM pts JOIN parts ON parts.cell = {cexpr}
        )
        SELECT point_id, gid, round(min_by(fraction, dist_m), 6) AS fraction,
               round(min(dist_m), 3) AS dist_m
        FROM cand WHERE dist_m <= 250.0e0
        GROUP BY point_id, gid
    """


def q_nearest_join_fast(spark, sf_dir):
    """Bounded nearest road per point (ties kept) — pure-Catalyst
    candidate cell join + rank()=1 window (joins.nearest_join_fast)."""
    pts = _points(spark, sf_dir).selectExpr("point_id", "py AS lat", "px AS lon")
    parts = spark.createDataFrame(_fast_parts_pdf())
    out = J.nearest_join_fast(pts, parts, 250.0, 15)
    return out.select("point_id", "gid",
                      F.round("fraction", 6).alias("fraction"),
                      F.round("distance", 3).alias("dist_m"))


def oracle_nearest_join_fast(sf_dir):
    parts = _fast_parts_pdf()
    vals = ", ".join(
        f"({int(r.cell)}, {int(r.gid)}, {r.ax!r}e0, {r.ay!r}e0, {r.bx!r}e0, "
        f"{r.by!r}e0, {r.cum_before!r}e0, {r.seg_len!r}e0, {r.total_len!r}e0)"
        for r in parts.itertuples(index=False))
    fr = J.seg_refine_sql(250.0)
    cexpr = T.cell_expr_sql("lat", "lon", 15)
    return f"""
        WITH parts(cell, gid, ax, ay, bx, by, cum_before, seg_len, total_len)
             AS (VALUES {vals}),
        pts AS (SELECT point_id, py AS lat, px AS lon FROM ({POINTS_SQL_BODY})),
        cand AS (
            SELECT point_id, gid, {fr['dist']} AS dist_m, {fr['frac']} AS fraction
            FROM pts JOIN parts ON parts.cell = {cexpr}
        ), per_road AS (
            SELECT point_id, gid, min(dist_m) AS distance,
                   min_by(fraction, dist_m) AS fraction
            FROM cand WHERE dist_m <= 250.0e0 GROUP BY point_id, gid
        ), r AS (
            SELECT point_id, gid, fraction, distance,
                   rank() OVER (PARTITION BY point_id ORDER BY distance ASC) AS rnk
            FROM per_road
        )
        SELECT point_id, gid, round(fraction, 6) AS fraction,
               round(distance, 3) AS dist_m
        FROM r WHERE rnk = 1
    """


def q_knn_join_fast(spark, sf_dir):
    """Bounded 3-NN roads per point — candidate cell join +
    row_number()<=3 (gid tie-break), pure Catalyst."""
    pts = _points(spark, sf_dir).selectExpr("point_id", "py AS lat", "px AS lon")
    parts = spark.createDataFrame(_fast_parts_pdf())
    out = J.knn_join_fast(pts, parts, 3, 250.0, 15)
    return out.select("point_id", "gid",
                      F.round("fraction", 6).alias("fraction"),
                      F.round("distance", 3).alias("dist_m"), "rnk")


def oracle_knn_join_fast(sf_dir):
    parts = _fast_parts_pdf()
    vals = ", ".join(
        f"({int(r.cell)}, {int(r.gid)}, {r.ax!r}e0, {r.ay!r}e0, {r.bx!r}e0, "
        f"{r.by!r}e0, {r.cum_before!r}e0, {r.seg_len!r}e0, {r.total_len!r}e0)"
        for r in parts.itertuples(index=False))
    fr = J.seg_refine_sql(250.0)
    cexpr = T.cell_expr_sql("lat", "lon", 15)
    return f"""
        WITH parts(cell, gid, ax, ay, bx, by, cum_before, seg_len, total_len)
             AS (VALUES {vals}),
        pts AS (SELECT point_id, py AS lat, px AS lon FROM ({POINTS_SQL_BODY})),
        cand AS (
            SELECT point_id, gid, {fr['dist']} AS dist_m, {fr['frac']} AS fraction
            FROM pts JOIN parts ON parts.cell = {cexpr}
        ), per_road AS (
            SELECT point_id, gid, min(dist_m) AS distance,
                   min_by(fraction, dist_m) AS fraction
            FROM cand WHERE dist_m <= 250.0e0 GROUP BY point_id, gid
        ), r AS (
            SELECT point_id, gid, fraction, distance,
                   row_number() OVER (PARTITION BY point_id
                       ORDER BY distance ASC, gid ASC) AS rnk
            FROM per_road
        )
        SELECT point_id, gid, round(fraction, 6) AS fraction,
               round(distance, 3) AS dist_m, rnk
        FROM r WHERE rnk <= 3
    """


# Gaussian GPS emission (Matcher.java:218-235, sigma=10 => sig2=100):
# identical text through Catalyst and DuckDB (both have pi())
EMISSION_EXPR = ("exp(-(dist_m * dist_m) / 200.0e0) "
                 "/ sqrt(2.0e0 * pi() * 100.0e0)")


def q_emission_stage(spark, sf_dir):
    """Standalone emission stage of the matcher pipeline — the
    SQL-expressible slice of SURVEY §2.5 (Matcher.candidates,
    matcher/Matcher.java:185-238): bounded radius join (codegen
    planar/haversine refine, radius 200 m) -> directed candidate
    expansion (RoadMap.Index.split, RoadMap.java:81-97: forward id
    gid*2 keeps the fraction, backward id gid*2+1 flips it) -> Minset
    candidate minimization (matcher/Minset.java:28-114) expressed as
    relational algebra over the successor relation -> Gaussian GPS
    emission per kept candidate. Every float expression is a shared
    SQL fragment, so the DuckDB twin hash-checks the first third of
    the Viterbi pipeline; the kernel's own minset/emission stay pinned
    by the MinsetTest/MatcherTest goldens."""
    pts = _points(spark, sf_dir).selectExpr("point_id", "py AS lat", "px AS lon")
    parts = spark.createDataFrame(_fast_parts_pdf())
    hits = J.radius_join_fast(pts, parts, 200.0, 15)
    e = roads.edges_view(roads.roads_df(spark, roads.micro7_pdf())) \
        .select("edge_id", "gid", "source", "target", "forward")
    cand = (hits.join(F.broadcast(e), "gid")
            .select("point_id", "edge_id", "target",
                    F.when(F.col("forward"), F.col("fraction"))
                    .otherwise(F.lit(1.0) - F.col("fraction")).alias("efrac"),
                    F.col("distance").alias("dist_m")))
    c = (cand.withColumn("is0", F.round("efrac", 8) == 0.0)
         .withColumn("is1", F.round("efrac", 8) == 1.0))
    succ = e.select(F.col("source").alias("via"),
                    F.col("edge_id").alias("succ_edge"))
    # (candidate, successor) pairs with in-set / fraction~0 flags —
    # Minset.java's two rules become one anti-join + one count:
    # a fraction~0 candidate reachable from an in-set candidate is
    # removed; a fraction~1 candidate with zero "missing" successors
    # (not in set, or in set with fraction~0) is removed
    prs = (c.alias("p").join(F.broadcast(succ), F.col("p.target") == F.col("via"))
           .join(c.alias("q"),
                 (F.col("q.point_id") == F.col("p.point_id"))
                 & (F.col("q.edge_id") == F.col("succ_edge")), "left")
           .select(F.col("p.point_id").alias("point_id"),
                   F.col("p.edge_id").alias("edge_id"),
                   F.col("succ_edge"),
                   F.col("q.edge_id").isNotNull().alias("in_set"),
                   F.coalesce(F.col("q.is0"), F.lit(False)).alias("succ_is0")))
    removed = (prs.filter(F.col("in_set") & F.col("succ_is0"))
               .select("point_id", F.col("succ_edge").alias("edge_id"))
               .distinct())
    misses = (prs.groupBy("point_id", "edge_id")
              .agg(F.sum(((~F.col("in_set")) | F.col("succ_is0")).cast("int"))
                   .alias("misses")))
    kept = (c.join(removed.withColumn("_rm", F.lit(True)),
                   ["point_id", "edge_id"], "left")
            .join(misses, ["point_id", "edge_id"], "left")
            .withColumn("misses", F.coalesce("misses", F.lit(0)))
            .filter(F.col("_rm").isNull())
            .filter(~(F.col("is1") & (F.col("misses") == 0))))
    return kept.select("point_id", "edge_id",
                       F.round("efrac", 8).alias("fraction"),
                       F.round("dist_m", 3).alias("dist_m"),
                       F.round(F.expr(EMISSION_EXPR), 9).alias("emission"))


def oracle_emission_stage(sf_dir):
    """DuckDB twin of q_emission_stage: the radius_join_fast fragments
    at 200 m, the directed-edges VALUES dim, the same Minset relational
    algebra (round(efrac,8)=0/1 tests are half-up-identical for
    positive doubles on both engines), and the shared EMISSION_EXPR."""
    parts = _fast_parts_pdf()
    vals = ", ".join(
        f"({int(r.cell)}, {int(r.gid)}, {r.ax!r}e0, {r.ay!r}e0, {r.bx!r}e0, "
        f"{r.by!r}e0, {r.cum_before!r}e0, {r.seg_len!r}e0, {r.total_len!r}e0)"
        for r in parts.itertuples(index=False))
    fr = J.seg_refine_sql(200.0)
    cexpr = T.cell_expr_sql("lat", "lon", 15)
    rvals = _roads_vals(roads.micro7_pdf())
    return f"""
        WITH parts(cell, gid, ax, ay, bx, by, cum_before, seg_len, total_len)
             AS (VALUES {vals}),
        pts AS (SELECT point_id, py AS lat, px AS lon FROM ({POINTS_SQL_BODY})),
        cand0 AS (
            SELECT point_id, gid, {fr['dist']} AS dist_m, {fr['frac']} AS fraction
            FROM pts JOIN parts ON parts.cell = {cexpr}
        ), hits AS (
            SELECT point_id, gid, min(dist_m) AS dist_m,
                   min_by(fraction, dist_m) AS fraction
            FROM cand0 WHERE dist_m <= 200.0e0 GROUP BY point_id, gid
        ),
        r(gid, source, target, oneway, maxspeed_forward, maxspeed_backward,
          class_id, priority, length) AS (VALUES {rvals}),
        e AS (
            SELECT gid * 2 AS edge_id, gid, source, target, true AS forward
            FROM r
            UNION ALL
            SELECT gid * 2 + 1, gid, target, source, false
            FROM r WHERE NOT oneway
        ),
        c AS (
            SELECT h.point_id, e.edge_id, e.target,
                   CASE WHEN e.forward THEN h.fraction
                        ELSE 1.0e0 - h.fraction END AS efrac,
                   h.dist_m,
                   round(CASE WHEN e.forward THEN h.fraction
                              ELSE 1.0e0 - h.fraction END, 8) = 0 AS is0,
                   round(CASE WHEN e.forward THEN h.fraction
                              ELSE 1.0e0 - h.fraction END, 8) = 1 AS is1
            FROM hits h JOIN e ON e.gid = h.gid
        ),
        succ AS (SELECT source AS via, edge_id AS succ_edge FROM e),
        prs AS (
            SELECT p.point_id, p.edge_id, s.succ_edge,
                   q.edge_id IS NOT NULL AS in_set,
                   coalesce(q.is0, false) AS succ_is0
            FROM c p JOIN succ s ON s.via = p.target
            LEFT JOIN c q ON q.point_id = p.point_id
                         AND q.edge_id = s.succ_edge
        ),
        removed AS (
            SELECT DISTINCT point_id, succ_edge AS edge_id FROM prs
            WHERE in_set AND succ_is0
        ),
        msx AS (
            SELECT point_id, edge_id,
                   sum(CASE WHEN (NOT in_set) OR succ_is0
                       THEN 1 ELSE 0 END) AS misses
            FROM prs GROUP BY point_id, edge_id
        )
        SELECT c.point_id, c.edge_id, round(c.efrac, 8) AS fraction,
               round(c.dist_m, 3) AS dist_m,
               round({EMISSION_EXPR}, 9) AS emission
        FROM c
        LEFT JOIN msx m ON m.point_id = c.point_id AND m.edge_id = c.edge_id
        WHERE NOT EXISTS (SELECT 1 FROM removed rm
                          WHERE rm.point_id = c.point_id
                            AND rm.edge_id = c.edge_id)
          AND NOT (c.is1 AND coalesce(m.misses, 0) = 0)
    """


def q_knn_join(spark, sf_dir):
    pts = _points(spark, sf_dir)
    segs = _segs(spark)
    d = seg_dist_expr()
    w = Window.partitionBy("point_id").orderBy(F.col("dist_m").asc(), F.col("gid").asc())
    return (pts.crossJoin(F.broadcast(segs))
            .withColumn("dist_m", F.expr(d))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("point_id", "gid", F.round("dist_m", 3).alias("dist_m"),
                    F.col("rnk").cast("long").alias("rnk")))


def oracle_knn_join(sf_dir):
    d = seg_dist_expr()
    return (f"WITH segs(gid, ax, ay, bx, by) AS (VALUES {SEGS_VALUES}), "
            f"pts AS ({POINTS_SQL_BODY}), "
            f"s AS (SELECT point_id, gid, {d} AS dist_m FROM pts, segs), "
            f"r AS (SELECT point_id, gid, dist_m, row_number() OVER "
            f"(PARTITION BY point_id ORDER BY dist_m ASC, gid ASC) AS rnk FROM s) "
            f"SELECT point_id, gid, round(dist_m, 3) AS dist_m, rnk "
            f"FROM r WHERE rnk <= 3")


def q_nearest_join(spark, sf_dir):
    pts = _points(spark, sf_dir)
    segs = _segs(spark)
    d = seg_dist_expr()
    w = Window.partitionBy("point_id").orderBy(F.col("dist_m").asc())
    return (pts.crossJoin(F.broadcast(segs))
            .withColumn("dist_m", F.expr(d))
            .withColumn("rnk", F.rank().over(w))
            .filter(F.col("rnk") == 1)
            .select("point_id", "gid", F.round("dist_m", 3).alias("dist_m")))


def oracle_nearest_join(sf_dir):
    d = seg_dist_expr()
    return (f"WITH segs(gid, ax, ay, bx, by) AS (VALUES {SEGS_VALUES}), "
            f"pts AS ({POINTS_SQL_BODY}), "
            f"s AS (SELECT point_id, gid, {d} AS dist_m FROM pts, segs), "
            f"r AS (SELECT point_id, gid, dist_m, rank() OVER "
            f"(PARTITION BY point_id ORDER BY dist_m ASC) AS rnk FROM s) "
            f"SELECT point_id, gid, round(dist_m, 3) AS dist_m FROM r WHERE rnk = 1")


def _roads_vals(pdf):
    return ", ".join(
        f"({int(r.gid)}, {int(r.source)}, {int(r.target)}, "
        f"{'true' if r.oneway else 'false'}, {int(r.maxspeed_forward)}, "
        f"{int(r.maxspeed_backward)}, {int(r.class_id)}, {r.priority!r}e0, "
        f"{r.length!r}e0)"
        for r in pdf.itertuples(index=False))


def q_directed_edges(spark, sf_dir):
    """Directed-edge split view (Road.java:61-74 / RoadMap.split):
    forward id = gid*2, backward id = gid*2+1 for two-way roads with
    swapped endpoints + backward maxspeed, and precomputed cost
    columns — pure projection+union, no shuffle. Over the reference's
    RoadMapTest junction map."""
    rdf = roads.roads_df(spark, roads.junction6_pdf())
    e = roads.edges_view(rdf)
    return e.select("edge_id", "source", "target", "forward", "maxspeed",
                    "gid", F.col("class_id").cast("long").alias("class_id"),
                    F.round("length", 3).alias("length_m"),
                    F.round("cost_time", 6).alias("cost_time"),
                    F.round("cost_timeprio", 6).alias("cost_timeprio"))


def oracle_directed_edges(sf_dir):
    vals = _roads_vals(roads.junction6_pdf())
    time = "(length * 3.6e0 / least(cast(maxspeed AS DOUBLE), 130.0e0))"
    return f"""
        WITH r(gid, source, target, oneway, maxspeed_forward,
               maxspeed_backward, class_id, priority, length)
             AS (VALUES {vals}),
        e AS (
            SELECT gid * 2 AS edge_id, source, target, true AS forward,
                   maxspeed_forward AS maxspeed, gid, class_id, priority, length
            FROM r
            UNION ALL
            SELECT gid * 2 + 1, target, source, false,
                   maxspeed_backward, gid, class_id, priority, length
            FROM r WHERE NOT oneway
        )
        SELECT edge_id, source, target, forward, maxspeed, gid, class_id,
               round(length, 3) AS length_m,
               round({time}, 6) AS cost_time,
               round({time} * greatest(1.0e0, priority), 6) AS cost_timeprio
        FROM e
    """


def q_road_type_gate(spark, sf_dir):
    """Road-type config gate + maxspeed defaulting
    (road/PostGISReader.java:140-158): inner broadcast join against the
    road-types dim; zero/NULL maxspeeds default from config; priority
    comes from config."""
    pdf = roads.micro7_pdf()
    pdf = pdf.copy()
    # unconfigured class + zero maxspeed rows to exercise the gate
    pdf.loc[pdf.gid == 6, "class_id"] = 99
    pdf.loc[pdf.gid == 2, "maxspeed_forward"] = 0
    rdf = roads.roads_df(spark, pdf)
    types = spark.createDataFrame(roads.road_types_pdf())
    out = roads.apply_road_type_config(rdf, types)
    return out.select("gid", F.col("class_id").cast("long").alias("class_id"),
                      "maxspeed_forward", "maxspeed_backward",
                      F.round("priority", 4).alias("priority"))


def oracle_road_type_gate(sf_dir):
    pdf = roads.micro7_pdf().copy()
    pdf.loc[pdf.gid == 6, "class_id"] = 99
    pdf.loc[pdf.gid == 2, "maxspeed_forward"] = 0
    vals = _roads_vals(pdf)
    tvals = ", ".join(f"({int(r.class_id)}, {r.priority!r}e0, {int(r.maxspeed)})"
                      for r in roads.road_types_pdf().itertuples(index=False))
    return f"""
        WITH r(gid, source, target, oneway, maxspeed_forward,
               maxspeed_backward, class_id, priority, length)
             AS (VALUES {vals}),
        t(class_id, t_priority, t_maxspeed) AS (VALUES {tvals})
        SELECT gid, r.class_id,
               CASE WHEN maxspeed_forward IS NULL OR maxspeed_forward <= 0
                    THEN t_maxspeed ELSE maxspeed_forward END AS maxspeed_forward,
               CASE WHEN maxspeed_backward IS NULL OR maxspeed_backward <= 0
                    THEN t_maxspeed ELSE maxspeed_backward END AS maxspeed_backward,
               round(t_priority, 4) AS priority
        FROM r JOIN t ON t.class_id = r.class_id
    """


def q_point_in_polygon(spark, sf_dir):
    """Runs the real ray-cast kernel operator; the oracle expands the
    same even-odd formula in SQL."""
    pts = _points(spark, sf_dir).selectExpr("point_id", "py AS lat", "px AS lon")
    ring = np.array(POLY_RING)
    bc = spark.sparkContext.broadcast([("poly1", [ring])])
    return J.point_in_polygon(pts, bc)


def oracle_point_in_polygon(sf_dir):
    cr = pip_crossings_expr()
    return (f"WITH pts AS ({POINTS_SQL_BODY}) "
            f"SELECT point_id, 'poly1' AS polygon_id FROM pts "
            f"WHERE {cr} % 2 = 1")


def q_raster_vector(spark, sf_dir):
    idx = RoadIndex(roads.micro7_pdf(), res=15)
    idx_bc = spark.sparkContext.broadcast(idx)
    pts = _points(spark, sf_dir).selectExpr("point_id", "py AS lat", "px AS lon")
    tiles_df = T.assign_tiles(pts, res=15)
    seg_cells = J.segment_cells_df(spark, idx_bc, res=15)
    return (J.raster_vector_join(tiles_df, seg_cells)
            .select("point_id", "gid", "cell"))


def oracle_raster_vector(sf_dir):
    idx = RoadIndex(roads.micro7_pdf(), res=15)
    row_idx, cell = cells.cover_polyline(idx.coords, idx.offsets, 15)
    cover_vals = ", ".join(f"({int(idx.gid[r])}, {int(c)})"
                           for r, c in zip(row_idx, cell))
    cexpr = T.cell_expr_sql("py", "px", 15)
    return (f"WITH cover(gid, cell) AS (VALUES {cover_vals}), "
            f"pts AS ({POINTS_SQL_BODY}) "
            f"SELECT point_id, gid, {cexpr} AS cell FROM pts "
            f"JOIN cover ON cover.cell = {cexpr}")


# ---------------------------------------------------------------------------
# matcher (non-SQL-expressible -> rows-only check)
# ---------------------------------------------------------------------------

def q_viterbi_match(spark, sf_dir):
    idx = RoadIndex(roads.micro7_pdf(), res=15)
    idx_bc = spark.sparkContext.broadcast(idx)
    pdf = SS.synth_traces(idx, n_traces=8, samples_per_trace=30, seed=42)
    sdf = spark.createDataFrame(pdf)
    out = M.match_traces(sdf, idx_bc)
    return out.select("trace_id", "seq", "sample_id", "time", "edge_id",
                      F.round("fraction", 6).alias("fraction"),
                      F.round("route_length", 3).alias("route_length")) \
        .orderBy("trace_id", "seq")


# ---------------------------------------------------------------------------
# analytics / datapipe queries
# ---------------------------------------------------------------------------

def q_route_geojson(spark, sf_dir):
    """Full sink path: match -> route geometry clipping -> per-trace
    GeoJSON MultiLineString (MatcherKState.toGeoJSON analog). Kernel
    geometry -> rows-only."""
    from .operators import output as O
    idx = RoadIndex(roads.micro7_pdf(), res=15)
    idx_bc = spark.sparkContext.broadcast(idx)
    pdf = SS.synth_traces(idx, n_traces=6, samples_per_trace=20, seed=42)
    matched = M.match_traces(spark.createDataFrame(pdf), idx_bc)
    geo_df = O.with_route_geometry(matched, idx_bc)
    out = O.to_geojson(geo_df)
    return out.select("trace_id", F.length("geojson").alias("geojson_len"),
                      F.substring("geojson", 1, 40).alias("geojson_head")) \
        .orderBy("trace_id")


def q_lineitem_pricing(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def oracle_lineitem_pricing(sf_dir):
    return """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """


def q_top_customers(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (orders.join(F.broadcast(cust),
                        orders["o_custkey"] == cust["c_custkey"])
            .groupBy("c_custkey", "c_mktsegment")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count("*").alias("n_orders"))
            .filter(F.col("n_orders") >= 5))


def oracle_top_customers(sf_dir):
    return """
        SELECT c_custkey, c_mktsegment,
               round(sum(o_totalprice), 2) AS revenue,
               count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_mktsegment
        HAVING count(*) >= 5
    """


def q_event_sessions(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts_us")
    # Parquet `timestamp[us]` (no tz) reads as TIMESTAMP_NTZ; a plain
    # CAST(ts AS TIMESTAMP) would shift by the *driver's* session timezone.
    # timestampdiff on NTZ is pure calendar arithmetic — tz-independent and
    # identical to DuckDB's epoch_us() on its naive TIMESTAMP.
    out = (ev.withColumn(
               "ts_us",
               F.expr("timestampdiff(MICROSECOND, "
                      "TIMESTAMP_NTZ '1970-01-01 00:00:00', "
                      "CAST(ts AS TIMESTAMP_NTZ))"))
           .withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w))
           .withColumn("new_session",
                       F.when(F.col("gap_us").isNull()
                              | (F.col("gap_us") > 30 * 60 * 1_000_000), 1)
                       .otherwise(0))
           .groupBy("user_id")
           .agg(F.sum("new_session").alias("sessions"),
                F.count("*").alias("events")))
    return out


def oracle_event_sessions(sf_dir):
    return """
        WITH g AS (
            SELECT user_id, epoch_us(ts) AS ts_us,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY epoch_us(ts)) AS gap_us
            FROM events
        )
        SELECT user_id,
               CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                        THEN 1 ELSE 0 END) AS BIGINT) AS sessions,
               count(*) AS events
        FROM g GROUP BY user_id
    """


def q_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation (skew path for hot grouping keys)
    over lineitem — algebraic ops re-merge exactly, so the result is
    identical to a plain GROUP BY, which is the DuckDB oracle."""
    from .operators import skew as SK
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = SK.salted_agg(
        li, ["l_returnflag"],
        {"n_items": ("count", "l_orderkey"),
         "sum_qty": ("sum", "l_quantity"),
         "max_price": ("max", "l_extendedprice"),
         "min_disc": ("min", "l_discount")},
        salt_n=16)
    return out.select("l_returnflag", "n_items",
                      F.round("sum_qty", 2).alias("sum_qty"),
                      F.round("max_price", 2).alias("max_price"),
                      F.round("min_disc", 2).alias("min_disc"))


def oracle_salted_agg(sf_dir):
    return """
        SELECT l_returnflag, count(l_orderkey) AS n_items,
               round(sum(l_quantity), 2) AS sum_qty,
               round(max(l_extendedprice), 2) AS max_price,
               round(min(l_discount), 2) AS min_disc
        FROM lineitem GROUP BY l_returnflag
    """


def q_exact_dedup(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return DP.exact_dedup(docs)


def oracle_exact_dedup(sf_dir):
    return """
        SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
               count(*) AS dup_count
        FROM documents GROUP BY 1 ORDER BY 1
    """


def q_text_stats(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = DP.text_stats(docs)
    return out.select(
        "doc_id", F.col("ws_tokens").cast("long").alias("ws_tokens"),
        F.col("word_tokens").cast("long").alias("word_tokens"),
        F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
        F.col("n_chars_calc").cast("long").alias("n_chars_calc"),
        "punct_ratio", "stopword_ratio", "mean_word_len",
        "quality_score", "lang_guess")


def oracle_text_stats(sf_dir):
    return DP.text_stats_oracle_sql()


def q_quality_filter(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = DP.text_stats(docs)
    return (stats.filter(F.col("quality_score") >= 0.5)
            .select("doc_id", "quality_score"))


def oracle_quality_filter(sf_dir):
    inner = DP.text_stats_oracle_sql()
    return (f"SELECT doc_id, quality_score FROM ({inner}) "
            f"WHERE quality_score >= 0.5")


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals (top-word fraction via
    the explode->two-level-agg linear plan; bigram dup fraction
    row-local)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return DP.repetition_stats(docs).select(
        "doc_id", F.col("n_words").cast("long").alias("n_words"),
        "top_word", "top_word_frac", "dup_bigram_frac")


def oracle_repetition_stats(sf_dir):
    return DP.repetition_stats_oracle_sql()


def q_split_assign(spark, sf_dir):
    """Deterministic multiplicative-hash train/val/test split (portable
    BIGINT arithmetic — the same expression runs in the oracle)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return DP.split_assign(docs).select(
        "doc_id", F.col("hash_bucket").cast("long").alias("hash_bucket"),
        "split")


def oracle_split_assign(sf_dir):
    return DP.split_assign_oracle_sql()


def q_phash_dedup(spark, sf_dir):
    """Image near-duplicate pairs over the input table's phash column
    (block-banded hamming equi-join; bytes never shuffled). The corpus
    plants perturbed-copy near-duplicates deterministically."""
    from .sources import images as IM
    pdf = IM.synth_images_with_dups_pdf(512)
    images = spark.createDataFrame(pdf, schema=IM.IMAGES_SCHEMA)
    return DP.phash_dedup(images).select(
        "left_id", "right_id", F.col("hamming").cast("long").alias("hamming"))


def oracle_phash_dedup(sf_dir):
    """Brute-force O(n^2) cross-join twin over the SAME deterministic
    phash inputs (embedded as VALUES — phash is input data in the
    input_hint schema, like any other fixture column): an INDEPENDENT
    algorithm vs Spark's banded join, so a hash match also certifies
    the band pigeonhole loses no pair within the radius."""
    from .sources import images as IM
    pdf = IM.synth_images_with_dups_pdf(512)
    vals = ", ".join(f"('{r.image_id}', {int(r.phash)})"
                     for r in pdf[["image_id", "phash"]].itertuples(index=False))
    return f"""
        WITH img(image_id, phash) AS (VALUES {vals})
        SELECT l.image_id AS left_id, r.image_id AS right_id,
               CAST(bit_count(xor(l.phash, r.phash)) AS BIGINT) AS hamming
        FROM img l JOIN img r ON l.image_id < r.image_id
        WHERE bit_count(xor(l.phash, r.phash)) <= 3
    """


def _docs_with_split_sql():
    """documents + the split_assign column as an inline subquery (the
    exact arithmetic of DP.split_assign_oracle_sql)."""
    h = "((doc_id * 2654435761 + 42) % 4294967296)"
    u = f"({h} / 4294967296.0)"
    # the val boundary renders from the SAME python double arithmetic
    # as DP.split_assign (0.9 + 0.05 != double('0.95') in the last
    # ulp; no u = k/2^32 currently falls in the gap, but the literals
    # must not rely on that)
    return (f"(SELECT doc_id, text, CASE WHEN {u} < {0.9!r} THEN 'train' "
            f"WHEN {u} < {0.9 + 0.05!r} THEN 'val' ELSE 'test' END AS split "
            f"FROM documents) AS dsp")


def q_token_budget_sample(spark, sf_dir):
    """Per-split token-budget subsampling: stable hash-order running
    token sum, kept while <= budget. Window partitions by split (the
    parallel scale shape; never a single global partition)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d2 = docs.join(DP.split_assign(docs).select("doc_id", "split"), "doc_id")
    out = DP.token_budget_sample(d2, budget_tokens=5000, group_col="split")
    return out.select("split", "doc_id",
                      F.col("n_tokens").cast("long").alias("n_tokens"),
                      F.col("cum_tokens").cast("long").alias("cum_tokens"))


def oracle_token_budget_sample(sf_dir):
    return DP.token_budget_sample_oracle_sql(
        5000, group_col="split", table=_docs_with_split_sql())


def q_pack_sequences(spark, sf_dir):
    """Greedy context-window sequence packing per split (the
    cumsum-with-reset scan as an applyInPandas kernel; JVM computes
    token counts + ordering, the kernel walks two int columns)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d2 = docs.join(DP.split_assign(docs).select("doc_id", "split"), "doc_id")
    out = DP.pack_sequences(d2, ctx_tokens=256, group_col="split")
    return out.select("split", "doc_id",
                      F.col("n_tokens").cast("long").alias("n_tokens"),
                      F.col("bin_id").cast("long").alias("bin_id"),
                      "truncated")


def oracle_pack_sequences(sf_dir):
    """Recursive-CTE unroll of the same greedy recurrence — an
    independent formulation (position recursion vs sequential kernel
    scan)."""
    inner = DP.pack_sequences_oracle_sql(
        256, group_col="split", table=_docs_with_split_sql())
    return (f"SELECT split, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, "
            f"bin_id, truncated FROM ({inner}) z")


def q_curate_corpus(spark, sf_dir):
    """Composed text-curation flagship: quality gate -> exact-dup keep
    -> minhash near-dup keep-list, one hash-checked end-to-end
    deliverable."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = DP.curate_corpus(docs)
    return out.select("doc_id",
                      F.col("canonical_id").cast("long").alias("canonical_id"),
                      "keep", "cluster_size", "quality_score")


def oracle_curate_corpus(sf_dir):
    """Chained twin: text_stats quality SQL -> md5 window keep ->
    the shared minhash CTE chain over the survivors -> recursive-CTE
    closure keep-list (independent cluster resolution vs the star
    kernel)."""
    stats = DP.text_stats_oracle_sql()
    return f"""
        WITH RECURSIVE
        good AS (SELECT d.doc_id, d.text, s.quality_score
                 FROM documents d
                 JOIN (SELECT doc_id, quality_score FROM ({stats}) q
                       WHERE quality_score >= 0.5) s USING (doc_id)),
        surv AS (SELECT doc_id, text, quality_score FROM (
                     SELECT g.*, row_number() OVER (
                         PARTITION BY md5(text) ORDER BY doc_id) AS rn
                     FROM good g) z WHERE rn = 1),
        {_minhash_ctes(table="surv")},
        dup AS (SELECT left_id, right_id FROM est WHERE est_jaccard >= 0.5),
        {_closure_ctes("dup", with_sizes=True)}
        SELECT s.doc_id,
               CAST(coalesce(c.canonical, s.doc_id) AS BIGINT)
                   AS canonical_id,
               (s.doc_id = coalesce(c.canonical, s.doc_id)) AS keep,
               CAST(coalesce(z.sz, 1) AS BIGINT) AS cluster_size,
               s.quality_score
        FROM surv s
        LEFT JOIN comp c ON c.v = s.doc_id
        LEFT JOIN sizes z ON z.canonical = c.canonical
    """


def q_image_dedup_keep(spark, sf_dir):
    """End-to-end IMAGE dedup deliverable: phash near-dup pairs ->
    duplicate clusters (large-star/small-star over string image ids;
    lexicographic min of the fixed-width ids is the canonical) ->
    per-image (canonical_id, keep, cluster_size). The image-payload
    twin of dedup_keep_canonical: at scale both corpus joins broadcast
    and the binary bytes column never shuffles."""
    from .sources import images as IM
    pdf = IM.synth_images_with_dups_pdf(512)
    images = spark.createDataFrame(pdf, schema=IM.IMAGES_SCHEMA)
    pairs = DP.phash_dedup(images, max_hamming=3)
    return DP.dedup_keep_canonical(images, pairs, id_col="image_id")


def oracle_image_dedup_keep(sf_dir):
    """Brute-force pair twin + recursive-CTE reachability closure with
    min label (independent algorithm vs the star kernel) over the same
    VALUES phash table."""
    from .sources import images as IM
    pdf = IM.synth_images_with_dups_pdf(512)
    vals = ", ".join(f"('{r.image_id}', {int(r.phash)})"
                     for r in pdf[["image_id", "phash"]].itertuples(index=False))
    return f"""
        WITH RECURSIVE
        img(image_id, phash) AS (VALUES {vals}),
        dup AS (
            SELECT l.image_id AS left_id, r.image_id AS right_id
            FROM img l JOIN img r ON l.image_id < r.image_id
            WHERE bit_count(xor(l.phash, r.phash)) <= 3
        ),
        {_closure_ctes("dup", with_sizes=True)}
        SELECT i.image_id,
               coalesce(c.canonical, i.image_id) AS canonical_id,
               (i.image_id = coalesce(c.canonical, i.image_id)) AS keep,
               CAST(coalesce(s.sz, 1) AS BIGINT) AS cluster_size
        FROM img i
        LEFT JOIN comp c ON c.v = i.image_id
        LEFT JOIN sizes s ON s.canonical = c.canonical
    """


def q_curate_images(spark, sf_dir):
    """Composed multimodal curation flagship over the input-hint
    image+caption table: geometry/format gate -> caption
    well-formedness gate -> exact-dup keep -> phash near-dup
    keep-list, one hash-checked end-to-end deliverable. The fixture
    corpus plants near-dups AND degenerate rows for every gate."""
    from .sources import images as IM
    pdf = IM.synth_images_curation_pdf(512)
    images = spark.createDataFrame(pdf, schema=IM.IMAGES_SCHEMA)
    return DP.curate_images(images).select(
        "image_id", "canonical_id", "keep", "cluster_size",
        "quality_score")


def oracle_curate_images(sf_dir):
    """Chained twin over the SAME deterministic scalar columns as a
    VALUES table (bytes never enter — the pipeline reads metadata
    only): text_stats caption SQL -> gate predicates -> (phash,
    caption) window keep -> brute-force O(n^2) hamming pairs (an
    independent algorithm vs Spark's banded join) -> recursive-CTE
    reachability closure (independent cluster resolution vs the star
    kernel)."""
    from .sources import images as IM
    pdf = IM.synth_images_curation_pdf(512)

    def esc(s):
        return s.replace("'", "''")

    vals = ", ".join(
        f"('{r.image_id}', {int(r.w)}, {int(r.h)}, '{r.fmt}', "
        f"'{esc(r.caption)}', {int(r.phash)})"
        for r in pdf[["image_id", "w", "h", "fmt", "caption",
                      "phash"]].itertuples(index=False))
    stats = DP.text_stats_oracle_sql(table="img", text_col="caption",
                                     id_col="image_id")
    return f"""
        WITH RECURSIVE
        img(image_id, w, h, fmt, caption, phash) AS (VALUES {vals}),
        st AS ({stats}),
        gated AS (
            SELECT i.image_id, i.caption, i.phash, s.quality_score
            FROM img i JOIN st s USING (image_id)
            WHERE i.w >= 16 AND i.h >= 16
              AND greatest(i.w, i.h) <= 4.0 * least(i.w, i.h)
              AND i.fmt IN ('png', 'jpeg')
              AND s.word_tokens >= 3 AND s.punct_ratio <= 0.2
        ),
        surv AS (SELECT image_id, phash, quality_score FROM (
                     SELECT g.*, row_number() OVER (
                         PARTITION BY phash, caption
                         ORDER BY image_id) AS rn
                     FROM gated g) z WHERE rn = 1),
        dup AS (SELECT l.image_id AS a0, r.image_id AS b0
                FROM surv l JOIN surv r ON l.image_id < r.image_id
                WHERE bit_count(xor(l.phash, r.phash)) <= 3),
        {_closure_ctes("dup", left="a0", right="b0", with_sizes=True)}
        SELECT s.image_id,
               coalesce(c.canonical, s.image_id) AS canonical_id,
               (s.image_id = coalesce(c.canonical, s.image_id)) AS keep,
               CAST(coalesce(z.sz, 1) AS BIGINT) AS cluster_size,
               s.quality_score
        FROM surv s
        LEFT JOIN comp c ON c.v = s.image_id
        LEFT JOIN sizes z ON z.canonical = c.canonical
    """


def q_tile_image_rollup(spark, sf_dir):
    """Geotag -> cell -> skew-safe per-cell rollup over the image-frame
    table (the north rule's "dense urban cells" stage on the image
    payload): 60% of the fixture's trajectories live in ONE res-8 cell,
    so the hot-cell salting path is actually exercised, and phashes are
    full 64-bit so the unsigned scene-bucket shift sees negative
    int64s."""
    from .sources import images as IM
    pdf = IM.synth_geo_frames_pdf(48, 32)
    frames = spark.createDataFrame(pdf)
    return T.tile_image_rollup(frames, res=8, salt_n=16, scene_bits=12)


def _geo_frames_vals() -> str:
    """The deterministic geotagged-frame fixture as a VALUES list
    (shared by the tile rollup and pyramid oracles — full-precision
    repr round-trips the float64 lat/lon exactly)."""
    from .sources import images as IM
    pdf = IM.synth_geo_frames_pdf(48, 32)
    return ", ".join(
        f"({int(r.traj_id)}, '{r.image_id}', {int(r.t)}, "
        f"CAST('{r.lat!r}' AS DOUBLE), CAST('{r.lon!r}' AS DOUBLE), "
        f"{int(r.phash)})"
        for r in pdf.itertuples(index=False))


def _scene_bucket_sql(scene_bits: int = 12) -> str:
    """DuckDB twin of the Spark side's
    shiftrightunsigned(phash, 64 - scene_bits): HUGEINT arithmetic
    handles the int64 sign (u64(phash) >> (64 - scene_bits))."""
    div = 1 << (64 - scene_bits)
    return ("CAST(((phash::HUGEINT + CASE WHEN phash < 0 THEN "
            "18446744073709551616::HUGEINT ELSE 0::HUGEINT END) "
            f"// {div}) AS BIGINT)")


def oracle_tile_image_rollup(sf_dir):
    """Plain GROUP BY twin (salting is algebraic — re-merge is exact):
    same cell integer math as the tile_assign oracle, scene bucket via
    the HUGEINT unsigned-shift pattern (phash sign handled by +2^64)."""
    vals = _geo_frames_vals()
    cell = T.cell_expr_sql("lat", "lon", 8)
    scene = _scene_bucket_sql(12)
    return f"""
        WITH f(traj_id, image_id, t, lat, lon, phash) AS (VALUES {vals}),
        c AS (SELECT *, {cell} AS cell FROM f)
        SELECT cell, count(*) AS n_frames,
               CAST(count(DISTINCT traj_id) AS BIGINT) AS n_trajs,
               CAST(count(DISTINCT {scene}) AS BIGINT) AS n_scenes,
               CAST(min(t) AS BIGINT) AS t_min,
               CAST(max(t) AS BIGINT) AS t_max
        FROM c GROUP BY cell
    """


def q_tile_pyramid(spark, sf_dir):
    """Multi-resolution rollup pyramid (res 8 -> 6 -> 4): the raw
    frame table is scanned once; coarser zoom levels re-merge from the
    finer level by pure cell-id arithmetic (cell_parent_expr), with
    distinct counts cascading through shrinking (cell, member) pair
    sets."""
    from .sources import images as IM
    pdf = IM.synth_geo_frames_pdf(48, 32)
    frames = spark.createDataFrame(pdf)
    return T.tile_rollup_pyramid(frames, fine_res=8, coarse_levels=(6, 4),
                                 salt_n=16, scene_bits=12)


def oracle_tile_pyramid(sf_dir):
    """Independent derivation: each level grouped DIRECTLY by the
    lat/lon cell assignment at that resolution (never via the parent
    arithmetic), so the Spark side's cell_parent_expr cascade is
    cross-checked against first-principles assignment per level."""
    vals = _geo_frames_vals()
    scene = _scene_bucket_sql(12)
    levels = []
    for res in (8, 6, 4):
        cell = T.cell_expr_sql("lat", "lon", res)
        levels.append(f"""
        SELECT CAST({res} AS INTEGER) AS res, {cell} AS cell,
               count(*) AS n_frames,
               CAST(count(DISTINCT traj_id) AS BIGINT) AS n_trajs,
               CAST(count(DISTINCT {scene}) AS BIGINT) AS n_scenes,
               CAST(min(t) AS BIGINT) AS t_min,
               CAST(max(t) AS BIGINT) AS t_max
        FROM f GROUP BY 2""")
    union = " UNION ALL ".join(levels)
    return (f"WITH f(traj_id, image_id, t, lat, lon, phash) AS "
            f"(VALUES {vals}) {union}")


def q_tile_cap_sample(spark, sf_dir):
    """Geographic balancing: at most 8 frames per res-8 cell, picked
    by deterministic md5 rank — the planted hot downtown cell (62% of
    frames) is capped while sparse cells keep everything."""
    from .sources import images as IM
    pdf = IM.synth_geo_frames_pdf(48, 32)
    frames = spark.createDataFrame(pdf)
    return (T.tile_cap_sample(frames, res=8, cap=8, salt_n=16)
            .select("cell", "image_id", "traj_id",
                    F.col("t").cast("long").alias("t"),
                    F.col("rank").cast("int").alias("rank")))


def oracle_tile_cap_sample(sf_dir):
    """Single global-window twin: the salted two-stage top-K must pick
    EXACTLY the rows one row_number window over each whole cell picks
    (md5 rank, id tie-break — DuckDB md5 of the UTF-8 id matches
    Spark's md5(encode(id)) hex-for-hex)."""
    vals = _geo_frames_vals()
    cell = T.cell_expr_sql("lat", "lon", 8)
    return f"""
        WITH f(traj_id, image_id, t, lat, lon, phash) AS (VALUES {vals}),
        c AS (SELECT *, {cell} AS cell FROM f),
        r AS (SELECT cell, image_id, traj_id, t,
                     row_number() OVER (PARTITION BY cell
                         ORDER BY md5(image_id), image_id) AS rank
              FROM c)
        SELECT cell, image_id, CAST(traj_id AS BIGINT) AS traj_id,
               CAST(t AS BIGINT) AS t, CAST(rank AS INTEGER) AS rank
        FROM r WHERE rank <= 8
    """


def q_curate_frames(spark, sf_dir):
    """Composed geo-curation flagship: thinning gate -> geographic
    cap -> per-frame disposition over the geotagged fixture (hot
    downtown cell planted, scene-cut/static-run phash structure so
    the thinning gate actually discriminates)."""
    from .sources import images as IM
    pdf = IM.synth_geo_frames_pdf(48, 32)
    frames = spark.createDataFrame(pdf)
    return (T.curate_frames(frames, min_interval=4, max_hamming=6,
                            res=8, cap=8, salt_n=16)
            .select("image_id", "traj_id",
                    F.col("t").cast("long").alias("t"), "cell",
                    "kept_thin", F.col("rank").cast("int").alias("rank"),
                    "final_keep"))


def oracle_curate_frames(sf_dir):
    """Chained twin over the same VALUES fixture: the thinning
    recursive CTE (frame_thinning_ctes — independent per-position
    unroll vs Spark's per-trajectory kernel) feeds the single-window
    md5 cap (independent vs the salted two-stage top-K), then one
    disposition row per input frame."""
    vals = _geo_frames_vals()
    cell = T.cell_expr_sql("lat", "lon", 8)
    thin = DP.frame_thinning_ctes(table="f", min_interval=4,
                                  max_hamming=6)
    return f"""
        WITH RECURSIVE
        f(traj_id, image_id, t, lat, lon, phash) AS (VALUES {vals}),
        {thin},
        base AS (SELECT image_id, traj_id, t, {cell} AS cell FROM f),
        kc AS (SELECT b.image_id, b.cell,
                      row_number() OVER (PARTITION BY b.cell
                          ORDER BY md5(b.image_id), b.image_id) AS rnk
               FROM base b JOIN walk w ON w.image_id = b.image_id
               WHERE w.kept),
        capd AS (SELECT image_id, rnk FROM kc WHERE rnk <= 8)
        SELECT b.image_id, CAST(b.traj_id AS BIGINT) AS traj_id,
               CAST(b.t AS BIGINT) AS t, b.cell,
               w.kept AS kept_thin,
               CAST(c.rnk AS INTEGER) AS rank,
               (c.rnk IS NOT NULL) AS final_keep
        FROM base b
        JOIN walk w ON w.image_id = b.image_id
        LEFT JOIN capd c ON c.image_id = b.image_id
    """


def q_caption_spam(spark, sf_dir):
    """Cross-modal consistency gate: boilerplate captions spanning
    many distinct images, and images (by phash) carrying conflicting
    captions. The fixture plants both failure modes."""
    from .sources import images as IM
    pdf = IM.synth_caption_reuse_pdf(512)
    images = spark.createDataFrame(pdf, schema=IM.IMAGES_SCHEMA)
    return DP.caption_consistency(images)


def oracle_caption_spam(sf_dir):
    """Window-function twin over the same (id, caption, phash) scalar
    triple as a VALUES table (bytes never enter) — an independent plan
    shape (two analytic windows) vs Spark's groupBy-join."""
    from .sources import images as IM
    pdf = IM.synth_caption_reuse_pdf(512)

    def esc(s):
        return s.replace("'", "''")

    vals = ", ".join(
        f"('{r.image_id}', '{esc(r.caption)}', {int(r.phash)})"
        for r in pdf[["image_id", "caption", "phash"]]
        .itertuples(index=False))
    return f"""
        WITH img(image_id, caption, phash) AS (VALUES {vals}),
        w AS (
            SELECT image_id,
                   count(*) OVER (PARTITION BY caption)
                       AS caption_images,
                   CAST(count(DISTINCT phash) OVER (PARTITION BY caption)
                       AS BIGINT) AS caption_scenes,
                   CAST(count(DISTINCT caption) OVER (PARTITION BY phash)
                       AS BIGINT) AS phash_captions
            FROM img)
        SELECT image_id, caption_images, caption_scenes, phash_captions,
               (caption_images >= 3 AND caption_scenes >= 3)
                   AS is_spam_caption,
               (phash_captions > 1) AS is_conflict
        FROM w
    """


def _batch_dims_pdf(n: int = 512):
    """Scalar (image_id, w, h) fixture for batch packing — the
    operator reads nothing else. Dimension mix covers all three
    aspect buckets deterministically (tall 2:3 and 1:3, square, wide
    3:2 and 3:1) with the square bucket hot."""
    import pandas as pd
    dims = [(32, 24), (24, 36), (32, 32), (48, 16), (16, 48),
            (32, 30), (28, 28), (40, 26)]
    return pd.DataFrame(
        [(f"bat-{i:04d}", *dims[(i * 7) % len(dims)])
         for i in range(n)],
        columns=["image_id", "w", "h"])


def hex_salt_sql(key_expr: str, salt_n: int) -> str:
    """DuckDB twin of datapipe.hex_salt_col: uniform salt from the
    first two hex chars of a hash-hex expression (strpos mirrors
    Spark's locate over the same alphabet)."""
    hx = "'0123456789abcdef'"
    return (f"(((strpos({hx}, substr({key_expr}, 1, 1)) - 1) * 16"
            f" + (strpos({hx}, substr({key_expr}, 2, 1)) - 1))"
            f" % {salt_n})")


def q_mixture_sample(spark, sf_dir):
    """Training-mixture rebalance over documents: doc_id % 3 plays the
    source label (web/books/code); web keeps 25%, books 60%, code is
    absent from the fractions map and therefore dropped."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = (F.when(F.col("doc_id") % 3 == 0, "web")
           .when(F.col("doc_id") % 3 == 1, "books")
           .otherwise("code"))
    return DP.mixture_sample(docs.withColumn("source", src),
                             {"web": 0.25, "books": 0.6}, salt_n=8)


def oracle_mixture_sample(sf_dir):
    """Window twin with the identical md5 rank / hex salt / per-salt
    ceil math; the fractions are e0 float literals so DuckDB multiplies
    in float64 exactly like Spark (a DECIMAL 0.6 would round-trip
    0.6*n differently at ceil boundaries)."""
    salt = hex_salt_sql("md5(CAST(doc_id AS VARCHAR))", 8)
    return f"""
        WITH d AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'web'
                        WHEN doc_id % 3 = 1 THEN 'books'
                        ELSE 'code' END AS source
            FROM documents),
        k AS (SELECT doc_id, source,
                     md5(CAST(doc_id AS VARCHAR)) AS key,
                     {salt} AS salt
              FROM d),
        r AS (SELECT doc_id, source, key,
                     row_number() OVER (PARTITION BY source, salt
                         ORDER BY key, doc_id) AS rnk,
                     count(*) OVER (PARTITION BY source, salt) AS n
              FROM k)
        SELECT doc_id, source, CAST(rnk AS BIGINT) AS rank
        FROM r
        WHERE rnk <= ceil((CASE source WHEN 'web' THEN 0.25e0
                                       WHEN 'books' THEN 0.6e0
                                       ELSE 0.0e0 END) * n)
    """


def q_pack_image_batches(spark, sf_dir):
    """Aspect-ratio-homogeneous batch assignment: deterministic md5
    rank within (bucket, salt), batch numbers local to the salt so a
    hot bucket never sees one global sort."""
    images = spark.createDataFrame(_batch_dims_pdf(512))
    return DP.pack_image_batches(images, batch_size=8, salt_n=8)


def oracle_pack_image_batches(sf_dir):
    """Window twin over the same (id, w, h) scalars as a VALUES table:
    identical CASE bucket, identical hex-salt derivation, identical
    rank/batch arithmetic (md5 of the UTF-8 id matches Spark's
    md5(encode(id)) hex-for-hex)."""
    pdf = _batch_dims_pdf(512)
    vals = ", ".join(
        f"('{r.image_id}', {int(r.w)}, {int(r.h)})"
        for r in pdf.itertuples(index=False))
    salt = hex_salt_sql("md5(image_id)", 8)
    return f"""
        WITH img(image_id, w, h) AS (VALUES {vals}),
        b AS (SELECT image_id,
                     CASE WHEN w * 4 < h * 3 THEN 'tall'
                          WHEN w * 3 > h * 4 THEN 'wide'
                          ELSE 'square' END AS bucket,
                     md5(image_id) AS key,
                     CAST({salt} AS INTEGER) AS salt
              FROM img),
        r AS (SELECT image_id, bucket, salt,
                     row_number() OVER (PARTITION BY bucket, salt
                         ORDER BY key, image_id) AS rnk,
                     count(*) OVER (PARTITION BY bucket, salt) AS n
              FROM b)
        SELECT image_id, bucket, salt,
               CAST((rnk - 1) // 8 AS BIGINT) AS batch_idx,
               CAST((rnk - 1) % 8 AS BIGINT) AS slot,
               (((rnk - 1) // 8 + 1) * 8 <= n) AS full
        FROM r
    """


def q_incremental_dedup(spark, sf_dir):
    """Rolling-crawl dedup shape: probe a new ingest batch against an
    already-indexed corpus (banded hamming equi-join — the index is
    never re-paired with itself), then cluster the survivors within
    the batch. (image_id, keep, reason, match_id) per new image."""
    from .sources import images as IM
    pdf = IM.synth_images_with_dups_pdf(640)
    index = spark.createDataFrame(pdf.iloc[:384].reset_index(drop=True),
                                  schema=IM.IMAGES_SCHEMA)
    new = spark.createDataFrame(pdf.iloc[384:].reset_index(drop=True),
                                schema=IM.IMAGES_SCHEMA)
    return DP.incremental_dedup(new, index).select(
        "image_id", "keep", "reason", "match_id")


def oracle_incremental_dedup(sf_dir):
    """Brute-force twin: O(n*m) index probe with (hamming, id)
    best-match tie-break, NOT-IN survivor set, O(n^2) within-batch
    pairs + recursive-CTE closure — all independent algorithms vs the
    banded joins and the star kernel."""
    from .sources import images as IM
    pdf = IM.synth_images_with_dups_pdf(640)

    def vals(part):
        return ", ".join(f"('{r.image_id}', {int(r.phash)})"
                         for r in part[["image_id", "phash"]]
                         .itertuples(index=False))

    return f"""
        WITH RECURSIVE
        idx(image_id, phash) AS (VALUES {vals(pdf.iloc[:384])}),
        newb(image_id, phash) AS (VALUES {vals(pdf.iloc[384:])}),
        hits AS (
            SELECT n.image_id AS pid, i.image_id AS iid,
                   bit_count(xor(n.phash, i.phash)) AS ham
            FROM newb n JOIN idx i
              ON bit_count(xor(n.phash, i.phash)) <= 3),
        best AS (SELECT pid, iid FROM (
                     SELECT pid, iid, row_number() OVER (
                         PARTITION BY pid ORDER BY ham, iid) AS rn
                     FROM hits) z WHERE rn = 1),
        surv AS (SELECT * FROM newb
                 WHERE image_id NOT IN (SELECT pid FROM best)),
        dup AS (SELECT l.image_id AS a0, r.image_id AS b0
                FROM surv l JOIN surv r ON l.image_id < r.image_id
                WHERE bit_count(xor(l.phash, r.phash)) <= 3),
        {_closure_ctes("dup", left="a0", right="b0")}
        SELECT pid AS image_id, FALSE AS keep,
               'index_dup' AS reason, iid AS match_id
        FROM best
        UNION ALL
        SELECT s.image_id,
               (c.canonical IS NULL OR s.image_id = c.canonical) AS keep,
               CASE WHEN c.canonical IS NULL OR s.image_id = c.canonical
                    THEN NULL ELSE 'batch_dup' END AS reason,
               CASE WHEN c.canonical IS NULL OR s.image_id = c.canonical
                    THEN NULL ELSE c.canonical END AS match_id
        FROM surv s LEFT JOIN comp c ON c.v = s.image_id
    """


def q_incremental_text_dedup(spark, sf_dir):
    """Text twin of incremental_dedup: even doc_ids play the indexed
    corpus, odd ids the new ingest batch; minhash_join (poly band key)
    probes the batch against the index, survivors cluster within the
    batch. (doc_id, keep, reason, match_id) per new document."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    index = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    out = DP.incremental_text_dedup(new, index, jaccard_threshold=0.5,
                                    band_key="poly")
    return out.select("doc_id", "keep", "reason",
                      F.col("match_id").cast("long").alias("match_id"))


def oracle_incremental_text_dedup(sf_dir):
    """Shared minhash HUGEINT CTE chain over ALL documents, pairs
    split by id parity: straddling pairs become index hits (best match
    by est DESC then id), odd-odd pairs among the survivors feed the
    recursive-CTE closure — candidate generation is per-document, so
    restricting the all-docs pair set to survivor pairs is identical
    to re-running the pipeline over survivors."""
    return f"""
        WITH RECURSIVE
        {_minhash_ctes()},
        thr AS (SELECT left_id, right_id, est_jaccard FROM est
                WHERE est_jaccard >= 0.5),
        hits AS (SELECT CASE WHEN left_id % 2 = 1 THEN left_id
                             ELSE right_id END AS pid,
                        CASE WHEN left_id % 2 = 1 THEN right_id
                             ELSE left_id END AS iid,
                        est_jaccard AS ej
                 FROM thr WHERE (left_id % 2) <> (right_id % 2)),
        best AS (SELECT pid, iid FROM (
                     SELECT pid, iid, row_number() OVER (
                         PARTITION BY pid ORDER BY ej DESC, iid) AS rn
                     FROM hits) z WHERE rn = 1),
        surv AS (SELECT doc_id FROM documents
                 WHERE doc_id % 2 = 1
                   AND doc_id NOT IN (SELECT pid FROM best)),
        bp AS (SELECT left_id, right_id FROM thr
               WHERE left_id % 2 = 1 AND right_id % 2 = 1
                 AND left_id IN (SELECT doc_id FROM surv)
                 AND right_id IN (SELECT doc_id FROM surv)),
        {_closure_ctes("bp")}
        SELECT pid AS doc_id, FALSE AS keep,
               'index_dup' AS reason, CAST(iid AS BIGINT) AS match_id
        FROM best
        UNION ALL
        SELECT s.doc_id,
               (c.canonical IS NULL OR s.doc_id = c.canonical) AS keep,
               CASE WHEN c.canonical IS NULL OR s.doc_id = c.canonical
                    THEN NULL ELSE 'batch_dup' END AS reason,
               CASE WHEN c.canonical IS NULL OR s.doc_id = c.canonical
                    THEN NULL ELSE CAST(c.canonical AS BIGINT)
                    END AS match_id
        FROM surv s LEFT JOIN comp c ON c.v = s.doc_id
    """


def q_frame_thinning(spark, sf_dir):
    """Trajectory frame thinning (the reference's sample-thinning gate
    on image trajectories): drop frames arriving within min_interval
    of the last kept frame whose phash is within max_hamming bits of
    it. Sequential per-trajectory recurrence as an applyInPandas
    kernel."""
    from .sources import images as IM
    pdf = IM.synth_frame_stream_pdf(16, 48)
    frames = spark.createDataFrame(pdf).repartition(8)
    out = DP.frame_thinning(frames)
    return out.select(F.col("traj_id").cast("long").alias("traj_id"),
                      "image_id", F.col("t").cast("long").alias("t"),
                      "kept")


def oracle_frame_thinning(sf_dir):
    """Recursive-CTE unroll of the same keep/reference recurrence over
    a VALUES table of the identical deterministic stream."""
    from .sources import images as IM
    pdf = IM.synth_frame_stream_pdf(16, 48)
    vals = ", ".join(
        f"({int(r.traj_id)}, '{r.image_id}', {int(r.t)}, {int(r.phash)})"
        for r in pdf.itertuples(index=False))
    inner = DP.frame_thinning_oracle_sql(
        table=f"(SELECT * FROM (VALUES {vals}) "
              f"AS v(traj_id, image_id, t, phash))")
    return (f"SELECT CAST(traj_id AS BIGINT) AS traj_id, image_id, "
            f"CAST(t AS BIGINT) AS t, kept FROM ({inner}) z")


def q_ann_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    out = DP.brute_force_topk(emb, queries, k=10)
    return out.select("q_id", "vec_id", F.col("rank").cast("long").alias("rnk"),
                      F.round("cosine", 6).alias("cosine"))


def oracle_ann_topk(sf_dir):
    return """
        WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 5),
             e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             s AS (SELECT q_id, vec_id,
                          list_dot_product(v, qv)
                          / (sqrt(list_dot_product(v, v))
                             * sqrt(list_dot_product(qv, qv))) AS cosine
                   FROM e, q),
             r AS (SELECT q_id, vec_id, cosine, row_number() OVER
                       (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
                   FROM s)
        SELECT q_id, vec_id, rnk, round(cosine, 6) AS cosine FROM r WHERE rnk <= 10
    """


_EPOCH_MS_EXPR = ("timestampdiff(MICROSECOND, "
                  "TIMESTAMP_NTZ '1970-01-01 00:00:00', "
                  "CAST(ts AS TIMESTAMP_NTZ)) div 1000")


def q_sample_dup_times(spark, sf_dir):
    """Duplicate-timestamp data-quality gate (the condition
    MatcherServer.java:82-86 rejects on offline requests) as a
    standalone op: events coarsened to whole MINUTES so real collisions
    exist at test scale (second granularity yields zero duplicates in
    the generated events)."""
    from .operators.match import dup_times
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = ev.select(
        F.col("user_id").alias("trace_id"),
        F.expr("timestampdiff(MINUTE, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
               "CAST(ts AS TIMESTAMP_NTZ))").alias("time"))
    return dup_times(s)


def oracle_sample_dup_times(sf_dir):
    return """
        WITH s AS (SELECT user_id AS trace_id,
                          date_diff('minute', TIMESTAMP '1970-01-01 00:00:00',
                                    ts) AS time
                   FROM events)
        SELECT trace_id, time, count(*) AS n_samples
        FROM s GROUP BY trace_id, time HAVING count(*) > 1
    """


def q_subsample_traces(spark, sf_dir):
    """Benchmark.subsample (matcher/Benchmark.java:165-179) over
    event-derived traces: keep every 10th second plus the last sample
    per trace — window filter, exact SQL twin."""
    from .operators import evaluate as EV
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = ev.select(F.col("user_id").alias("trace_id"), "event_id",
                  F.expr(_EPOCH_MS_EXPR).alias("time"))
    return EV.subsample(s, interval_s=10)


def oracle_subsample_traces(sf_dir):
    return """
        WITH s AS (SELECT user_id AS trace_id, event_id,
                          epoch_us(ts) // 1000 AS time
                   FROM events),
        m AS (SELECT *, min(time) OVER (PARTITION BY trace_id) AS t0,
                     max(time) OVER (PARTITION BY trace_id) AS t1
              FROM s)
        SELECT trace_id, event_id, time FROM m
        WHERE (time // 1000 - t0 // 1000) % 10 = 0 OR time = t1
    """


def q_candidate_sequence(spark, sf_dir):
    """Benchmark.candidatesToSequence (matcher/Benchmark.java:103-124):
    consecutive-duplicate edge dedup per trace — lag-window filter over
    an events-derived matched sequence."""
    from .operators import evaluate as EV
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = ev.select(
        F.col("user_id").alias("trace_id"), "event_id",
        F.row_number().over(w).cast("long").alias("seq"),
        (F.floor(F.abs(F.col("value")) * 10.0).cast("long") % 5)
        .alias("edge_id"))
    return EV.candidates_to_sequence(m)


def oracle_candidate_sequence(sf_dir):
    return """
        WITH m AS (SELECT user_id AS trace_id, event_id,
                          CAST(row_number() OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS BIGINT) AS seq,
                          CAST(floor(abs(value) * 10.0e0) AS BIGINT) % 5
                              AS edge_id
                   FROM events),
        g AS (SELECT *, lag(edge_id) OVER (PARTITION BY trace_id
                        ORDER BY seq) AS p
              FROM m)
        SELECT trace_id, event_id, seq, edge_id FROM g
        WHERE p IS NULL OR p != edge_id
    """


def q_dbrcan_mod_events(spark, sf_dir):
    """Modular DBRCAN over event values on a 24-ring. The rotate-at-
    largest-gap trick makes it fully SQL-expressible: the oracle rotates
    the ring at the same cut (same desc-gap / asc-residue / wrap-prefer
    tie rules) and applies the dbcan_1d window algebra."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select(F.col("event_id").alias("id"), "value")
    out = A.dbrcan_mod(ev, modulus=24.0, eps=0.002, min_pts=5)
    return out.select(
        "id", F.round("rotated_residue", 6).alias("rotated_residue"),
        "cluster_id", F.round("residue", 6).alias("residue"))


def oracle_dbrcan_mod_events(sf_dir):
    return """
        WITH r AS (SELECT event_id AS id, value,
                          ((value % 24.0e0) + 24.0e0) % 24.0e0 AS residue
                   FROM events),
        g AS (SELECT residue, residue - lag(residue) OVER
                     (ORDER BY residue, id) AS gap
              FROM r),
        a AS (SELECT min(residue) AS lo, max(residue) AS hi FROM r),
        m AS (SELECT residue AS cand, gap FROM g WHERE gap IS NOT NULL
              ORDER BY gap DESC, residue LIMIT 1),
        c AS (SELECT CASE WHEN (SELECT count(*) FROM m) = 0
                          OR (SELECT lo + 24.0e0 - hi FROM a)
                             >= (SELECT gap FROM m)
                     THEN (SELECT lo FROM a)
                     ELSE (SELECT cand FROM m) END AS cut),
        rot AS (SELECT id, residue,
                       (((residue - (SELECT cut FROM c)) % 24.0e0) + 24.0e0)
                           % 24.0e0 AS rv
                FROM r),
        gg AS (SELECT id, rv, rv - lag(rv) OVER (ORDER BY rv, id) AS gap
               FROM rot),
        cl AS (SELECT id, rv,
                      sum(CASE WHEN gap IS NULL OR gap > 0.002e0
                          THEN 1 ELSE 0 END) OVER
                          (ORDER BY rv, id ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cs
               FROM gg),
        lab AS (SELECT id, rv,
                       CASE WHEN count(*) OVER (PARTITION BY cs) >= 5
                            THEN min(id) OVER (PARTITION BY cs)
                       END AS cluster_id
                FROM cl)
        SELECT lab.id, round(lab.rv, 6) AS rotated_residue, lab.cluster_id,
               round(rot.residue, 6) AS residue
        FROM lab JOIN rot ON lab.id = rot.id
    """


def q_lsh_ann_topk(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN (multiprobe hamming <= 2, exact
    cosine re-rank in the probed set) — the scale path whose exact twin
    is ann_topk. Oracle-checked: bucket_impl="expr" computes the
    hyperplane bits as Catalyst sequential-fold dots, mirrored in SQL
    by the explicit left-assoc element sums of _bucket_sql (the exact
    same IEEE op order — bit-identical sign tests), so the probe
    expansion, bucket join and re-rank all mirror into SQL."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    out = DP.lsh_bucket_topk(emb, queries, k=10, dim=64, bucket_impl="expr")
    return out.select("q_id", "vec_id",
                      F.col("rank").cast("long").alias("rnk"),
                      F.round("cosine", 6).alias("cosine"))


def _planes_sql(n_planes: int, dim: int = 64, seed: int = 42):
    """The seeded hyperplane matrix shared by the bucket twins (repr()
    of each float round-trips every binary64 exactly, matching F.lit
    on the Spark side)."""
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n_planes, dim))


def _bucket_sql(planes, vec: str) -> str:
    """Bucket code = sum of 2^i over planes with dot(v, plane_i) > 0 —
    the SQL twin of datapipe.hyperplane_bucket_col. The dot is an
    EXPLICIT left-associated element sum (v[1]*c1 + v[2]*c2 + ...),
    NOT list_dot_product: Spark's sequential aggregate fold and the
    chained `+` share the exact IEEE op order (0.0 + x1 == x1), so
    the sign test is bit-identical in both engines even when a dot
    lands within an ulp of zero — list_dot_product's fused
    accumulation can differ in the last ulp (see _fold_dot_sql) and
    would make the bucket bit engine-dependent exactly there."""
    def dot(p):
        return " + ".join(f"{vec}[{j + 1}] * {float(x)!r}"
                          for j, x in enumerate(p))
    return " + ".join(
        f"(CASE WHEN ({dot(p)}) > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))


_COS_SQL = ("list_dot_product(l.v, r.v) / (sqrt(list_dot_product(l.v, l.v)) "
            "* sqrt(list_dot_product(r.v, r.v)))")


def oracle_lsh_ann_topk(sf_dir):
    """DuckDB twin of q_lsh_ann_topk (n_planes=12, seed=42,
    probe_hamming<=2, k=10): hyperplane buckets from seeded plane
    literals, the 79 probe masks as a VALUES dim, xor probe expansion,
    DISTINCT (q, vec) candidates, exact cosine re-rank. Zero-norm
    embeddings would be NULL-cosine on Spark (ranked last) vs NaN-first
    on DuckDB — the fixture has none (min squared norm ~1.0), and the
    norm>0 guard documents the equivalence."""
    ps = _planes_sql(12)
    n_planes = 12
    masks = [0] + [1 << i for i in range(n_planes)] + \
        [(1 << i) | (1 << j) for i in range(n_planes)
         for j in range(i + 1, n_planes)]
    mvals = ", ".join(f"({m})" for m in masks)
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (SELECT vec_id, v, {_bucket_sql(ps, 'v')} AS bucket FROM e),
        q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qbucket
              FROM b WHERE vec_id < 5),
        masks(m) AS (VALUES {mvals}),
        probe AS (SELECT q_id, qv, xor(qbucket, m) AS bucket
                  FROM q, masks),
        joined AS (
            SELECT DISTINCT p.q_id, l.vec_id,
                   list_dot_product(l.v, p.qv)
                   / (sqrt(list_dot_product(l.v, l.v))
                      * sqrt(list_dot_product(p.qv, p.qv))) AS cosine
            FROM probe p JOIN b l ON l.bucket = p.bucket
            WHERE list_dot_product(l.v, l.v) > 0
        ),
        r AS (SELECT q_id, vec_id, cosine,
                     row_number() OVER (PARTITION BY q_id
                         ORDER BY cosine DESC, vec_id) AS rnk
              FROM joined)
        SELECT q_id, vec_id, rnk, round(cosine, 6) AS cosine
        FROM r WHERE rnk <= 10
    """


def q_ann_recall(spark, sf_dir):
    """ANN quality evaluation: recall@10 of the LSH-bucketed path
    against the exact brute-force path, per query — the metric a
    pipeline owner watches when tuning n_planes/probe_hamming. Both
    sides are already oracle-checked operators; this entry
    hash-checks the EVALUATION itself (join on (q_id, vec_id), count
    hits, divide by k)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    exact = DP.brute_force_topk(emb, queries, k=10) \
        .select("q_id", "vec_id")
    approx = DP.lsh_bucket_topk(emb, queries, k=10, dim=64,
                                bucket_impl="expr") \
        .select("q_id", "vec_id", F.lit(1).alias("_hit"))
    return (exact.join(approx, ["q_id", "vec_id"], "left")
            .groupBy("q_id")
            .agg(F.count("_hit").alias("n_hits"))
            .select("q_id", "n_hits",
                    F.round(F.col("n_hits") / 10.0, 6).alias("recall")))


def oracle_ann_recall(sf_dir):
    """Composition of the two already-green oracle chains as derived
    tables (DuckDB allows WITH inside a subquery), joined per
    (q_id, vec_id)."""
    exact = oracle_ann_topk(sf_dir)
    approx = oracle_lsh_ann_topk(sf_dir)
    return f"""
        SELECT e.q_id,
               count(a.vec_id) AS n_hits,
               round(count(a.vec_id) / 10.0e0, 6) AS recall
        FROM ({exact}) e
        LEFT JOIN ({approx}) a USING (q_id, vec_id)
        GROUP BY e.q_id
    """


def q_cosine_pairs_exact(spark, sf_dir):
    """Exact embedding near-dup pairs (brute-force over a bounded slice
    — the parity path for cosine_near_dup's LSH variant, same pattern
    as ann_topk vs lsh_ann_topk). Pure Catalyst higher-order fns with a
    DuckDB list_dot_product twin."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .filter(F.col("vec_id") < 300) \
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    l, r = emb.alias("l"), emb.alias("r")
    dot = F.aggregate(F.zip_with(F.col("l.v"), F.col("r.v"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    nl = F.sqrt(F.aggregate(F.transform(F.col("l.v"), lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    nr = F.sqrt(F.aggregate(F.transform(F.col("r.v"), lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    # nl/nr > 0 guard: a zero-norm vector would divide by zero, where
    # Spark yields NULL but DuckDB yields NaN (which DuckDB orders above
    # every value) — the guard keeps both engines identical
    return (l.crossJoin(r)
            .filter(F.col("l.vec_id") < F.col("r.vec_id"))
            .filter((nl > 0) & (nr > 0))
            .select(F.col("l.vec_id").alias("left_id"),
                    F.col("r.vec_id").alias("right_id"),
                    F.round(dot / (nl * nr), 6).alias("cosine"))
            .filter(F.col("cosine") >= 0.25))


def oracle_cosine_pairs_exact(sf_dir):
    return """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings WHERE vec_id < 300)
        SELECT l.vec_id AS left_id, r.vec_id AS right_id,
               round(list_dot_product(l.v, r.v)
                     / (sqrt(list_dot_product(l.v, l.v))
                        * sqrt(list_dot_product(r.v, r.v))), 6) AS cosine
        FROM e l, e r
        WHERE l.vec_id < r.vec_id
          AND list_dot_product(l.v, l.v) > 0
          AND list_dot_product(r.v, r.v) > 0
          AND round(list_dot_product(l.v, r.v)
                    / (sqrt(list_dot_product(l.v, l.v))
                       * sqrt(list_dot_product(r.v, r.v))), 6) >= 0.25
    """


def q_cosine_near_dup(spark, sf_dir):
    """Embedding near-duplicate pairs via LSH self-join + exact cosine
    refine, running the REAL operator (hot-bucket salt-tiling guard
    included — inactive at gate scale, 500 rows << bucket_cap, so the
    salt keys collapse to the plain bucket join the oracle mirrors).
    bucket_impl="expr" makes the hyperplane bits DuckDB-exact."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = DP.cosine_near_dup(emb, threshold=0.25, dim=64,
                             bucket_impl="expr")
    return out.select("left_id", "right_id",
                      F.round("cosine", 6).alias("cosine"))


def oracle_cosine_near_dup(sf_dir):
    """DuckDB twin of q_cosine_near_dup (n_planes=10, seed=42,
    threshold=0.25): same-bucket pairs with left<right and the exact
    sequential-fold cosine filter. The salt-tiling guard is provably a
    no-op below bucket_cap (pair set exactly preserved by design and by
    the adversarial pytest), so the plain bucket self-join is the
    faithful mirror at gate scale."""
    ps = _planes_sql(10)
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        b AS (SELECT vec_id, v, {_bucket_sql(ps, 'v')} AS bucket FROM e)
        SELECT l.vec_id AS left_id, r.vec_id AS right_id,
               round({_COS_SQL}, 6) AS cosine
        FROM b l JOIN b r
          ON l.bucket = r.bucket AND l.vec_id < r.vec_id
        WHERE list_dot_product(l.v, l.v) > 0
          AND list_dot_product(r.v, r.v) > 0
          AND {_COS_SQL} >= 0.25
    """


def q_x0001_match(spark, sf_dir):
    """Flagship fixture through the DISTRIBUTED matcher: the full
    1194-sample Munich trace (x0001-001.json) matched by match_traces
    (broadcast index + partition kernel) on a corridor map synthesized
    from its own track, mmatch params (1 m, 500 ms) as in
    MatcherExample.java:47-73. Rows-only (stateful HMM kernel). Raises
    ``reference.FixtureMissing`` where the reference checkout is absent."""
    import json as _json
    from .index import RoadIndex
    from .operators import match as M
    from .reference import reference_file
    from .sources import samples as SS

    arr = _json.load(open(reference_file("matcher/x0001-001.json")))
    pdf = SS.parse_sample_json(pd.Series([_json.dumps(o) for o in arr]))
    track = np.array(_json.load(open(
        reference_file("matcher/x0001-001.geojson")))["coordinates"])
    pts = track[::3]
    entries = [(i + 1, 100 + i, 100 + i + 1, False,
                f"LINESTRING({pts[i][0]} {pts[i][1]}, "
                f"{pts[i + 1][0]} {pts[i + 1][1]})")
               for i in range(len(pts) - 1)]
    idx = RoadIndex(roads.roads_pdf_from_entries(entries), res=15)
    idx_bc = spark.sparkContext.broadcast(idx)

    sdf = spark.createDataFrame(pd.DataFrame({
        "trace_id": "x0001-001",
        "sample_id": np.arange(len(pdf)).astype(str),
        "time": pdf["time"].to_numpy("int64"),
        "lat": pdf["lat"].to_numpy(), "lon": pdf["lon"].to_numpy(),
        "azimuth": pdf["azimuth"].to_numpy()}))
    out = M.match_traces(sdf, idx_bc,
                         M.MatcherParams(min_distance=1.0,
                                         min_interval_ms=500))
    return out.select("trace_id", "seq", "sample_id", "time", "edge_id",
                      F.round("fraction", 6).alias("fraction"),
                      F.round("lat", 6).alias("lat"),
                      F.round("lon", 6).alias("lon"))


def q_video_frame_sample(spark, sf_dir):
    """Video frame sampling over an opaque binary container column
    (deterministic fake codec; index-seek decode of only the sampled
    frames). Rows-only: seeded binary synthesis."""
    from .sources import media as MD
    vids = spark.createDataFrame(MD.synth_videos_pdf(48, n_frames=12)) \
        .repartition(8)
    out = MD.sample_frames(vids, every_n=4)
    return out.select("video_id", "frame_idx",
                      F.round("t_s", 6).alias("t_s"),
                      F.crc32("frame").alias("frame_crc"), "w", "h")


def q_image_resize(spark, sf_dir):
    """Decode -> box-filter resize -> re-encode over the image binary
    column (rows-only: stand-in codec)."""
    from .sources import images as IM
    from .sources import media as MD
    imgs = spark.createDataFrame(IM.synth_images_pdf(128)).repartition(8)
    out = MD.resize_images(imgs, 16, 12)
    return out.select("image_id", F.crc32("bytes").alias("bytes_crc"),
                      "w", "h", "fmt")


def q_audio_features(spark, sf_dir):
    """Per-clip DSP features (RMS, zero-crossings, spectral centroid)
    over the PCM binary column (rows-only: seeded synthesis)."""
    from .sources import media as MD
    aud = spark.createDataFrame(MD.synth_audio_pdf(96)).repartition(8)
    return MD.audio_features(aud)


def q_connected_components(spark, sf_dir):
    """Weakly-connected components via the large-star/small-star
    algorithm over an orders-derived sparse graph. Oracle-checked: the
    min-label fixpoint IS SQL-expressible as a DuckDB recursive CTE
    (reachability closure + min label per node), so the Spark
    large-star/small-star result is value-verified against an
    independent algorithm, not just row-counted."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    edges = (orders.filter(F.col("o_orderkey") % 7 == 0)
             .select(F.col("o_orderkey").alias("edge_id"),
                     (F.col("o_custkey") % 500).alias("source"),
                     (500 + (F.col("o_orderkey") * 13) % 797).alias("target")))
    from . import graphx
    out = graphx.connected_components_star(edges)
    return out.orderBy("edge_id")


def oracle_connected_components(sf_dir):
    """Independent-algorithm twin: reachability closure (recursive CTE,
    set-semantics UNION terminates it) + min reachable label per node —
    cross-checks large-star/small-star end to end."""
    return """
        WITH RECURSIVE
        e AS (SELECT o_orderkey AS edge_id, o_custkey % 500 AS s,
                     500 + (o_orderkey * 13) % 797 AS t
              FROM orders WHERE o_orderkey % 7 = 0),
        und AS (SELECT s AS a, t AS b FROM e UNION SELECT t, s FROM e),
        nodes AS (SELECT DISTINCT a AS v FROM und),
        reach(v, lbl) AS (
            SELECT v, v FROM nodes
            UNION
            SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.v
        ),
        comp AS (SELECT v, min(lbl) AS component FROM reach GROUP BY v)
        SELECT e.edge_id, c.component FROM e JOIN comp c ON c.v = e.s
        ORDER BY edge_id
    """


def q_dbscan_clusters(spark, sf_dir):
    """DBSCAN over orders-derived points (cell-bucketed eps-graph +
    large-star/small-star components + border attachment). Runs the
    real distributed operator with metric="haversine" (the SQL-twin
    metric; the reference-parity Vincenty path keeps its brute-force
    NYC pytest) so the full pipeline is value-checked by the DuckDB
    oracle: eps-neighbor self-join -> core census -> recursive-CTE
    component closure -> min-core-neighbor border attach."""
    pts = _points(spark, sf_dir).filter(F.col("point_id") % 10 == 0) \
        .selectExpr("point_id", "py AS lat", "px AS lon")
    out = A.dbscan_2d(pts, eps_m=120.0, min_pts=4, metric="haversine")
    return out.select("point_id",
                      F.coalesce(F.col("cluster_id"), F.lit(-1)).alias("cluster_id")) \
        .orderBy("point_id")


def _hav_sql(alat, alon, blat, blon):
    """Spherical haversine SQL in analysis.haversine_np's exact op
    order (the dbscan_2d oracle metric)."""
    return (f"2.0e0 * {_R_SPHERE} * asin(sqrt("
            f"pow(sin(radians(({blat}) - ({alat})) / 2.0e0), 2) "
            f"+ cos(radians({alat})) * cos(radians({blat})) "
            f"* pow(sin(radians(({blon}) - ({alon})) / 2.0e0), 2)))")


def oracle_dbscan_clusters(sf_dir):
    """Independent-algorithm DBSCAN twin (eps=120 m, min_pts=4): exact
    pairwise haversine eps-graph (with a generous bbox prefilter — 120 m
    is < 0.0011 deg lat / < 0.0017 deg lon at lat 48, bounds 0.002/
    0.0025 keep a 1.5x margin so no true edge is cut), core = deg+1 >=
    min_pts, components of the core subgraph via two rounds of star
    contraction (each vertex merges into its 1-hop min — exact, since
    contraction along edges preserves components, and the component
    min always survives because it is smaller than all its neighbors)
    followed by recursive-CTE min-label reachability on the ~100x
    smaller contracted graph (still an independent algorithm vs
    Spark's alternating large-star/small-star), and border points
    attached to the MIN core-neighbor label exactly as the operator's
    step 4. Noise -> -1. The contraction + MATERIALIZED fences matter:
    naive all-pairs reachability on the raw eps-graph (316k edges,
    avg degree ~105 at the earlier %5 fixture) is quadratic per
    component and DuckDB re-inlines un-materialized CTEs per reference
    inside recursion (233 s -> ~1 s). The fixture thins point_id %10
    (~1.5k points, ~80k edges at sf0.01) so a driver sample stays well
    under its timeout even on a throttled host — the operator's scale
    evidence is the NYC brute-force pytest + BENCH/DATASCALE.md, not
    this gate."""
    hav = _hav_sql("a.py", "a.px", "b.py", "b.px")
    return f"""
        WITH RECURSIVE
        pts AS (SELECT point_id, px, py FROM ({POINTS_SQL_BODY})
                WHERE point_id % 10 = 0),
        e AS MATERIALIZED (SELECT a.point_id AS a, b.point_id AS b
              FROM pts a JOIN pts b
                ON a.point_id <> b.point_id
               AND abs(a.py - b.py) <= 0.002e0
               AND abs(a.px - b.px) <= 0.0025e0
              WHERE {hav} <= 120.0e0),
        deg AS (SELECT a, count(*) AS nbrs FROM e GROUP BY a),
        core AS (SELECT p.point_id AS v FROM pts p
                 LEFT JOIN deg d ON d.a = p.point_id
                 WHERE coalesce(d.nbrs, 0) + 1 >= 4),
        ce AS MATERIALIZED (SELECT e.a, e.b FROM e
               JOIN core c1 ON c1.v = e.a JOIN core c2 ON c2.v = e.b),
        l1 AS MATERIALIZED (
            SELECT c.v, least(c.v, coalesce(min(u.b), c.v)) AS l
            FROM core c LEFT JOIN ce u ON u.a = c.v GROUP BY c.v),
        ce1 AS MATERIALIZED (
            SELECT DISTINCT la.l AS a, lb.l AS b
            FROM ce JOIN l1 la ON la.v = ce.a JOIN l1 lb ON lb.v = ce.b
            WHERE la.l <> lb.l),
        l2 AS MATERIALIZED (
            SELECT n.v, least(n.v, coalesce(min(u.b), n.v)) AS l
            FROM (SELECT DISTINCT l AS v FROM l1) n
            LEFT JOIN ce1 u ON u.a = n.v GROUP BY n.v),
        ce2 AS MATERIALIZED (
            SELECT DISTINCT la.l AS a, lb.l AS b
            FROM ce1 JOIN l2 la ON la.v = ce1.a JOIN l2 lb ON lb.v = ce1.b
            WHERE la.l <> lb.l),
        reach(v, lbl) AS (
            SELECT l, l FROM (SELECT DISTINCT l FROM l2)
            UNION
            SELECT u.b, r.lbl FROM reach r JOIN ce2 u ON u.a = r.v
            WHERE r.lbl < u.b
        ),
        comp2 AS (SELECT v, min(lbl) AS c FROM reach GROUP BY v),
        comp AS (SELECT l1.v, c2.c AS component
                 FROM l1 JOIN l2 ON l2.v = l1.l
                 JOIN comp2 c2 ON c2.v = l2.l),
        border AS (SELECT e.a, min(c.component) AS blabel
                   FROM e JOIN comp c ON c.v = e.b GROUP BY e.a)
        SELECT p.point_id,
               coalesce(c.component, b.blabel, -1) AS cluster_id
        FROM pts p
        LEFT JOIN comp c ON c.v = p.point_id
        LEFT JOIN border b ON b.a = p.point_id
        ORDER BY p.point_id
    """


def q_ivf_ann_topk(spark, sf_dir):
    """IVF coarse-quantizer ANN run at nprobe = n_lists (full probe),
    which is exact by construction — every vector sits in exactly one
    inverted list and all lists are probed — so it shares ann_topk's
    DuckDB oracle. The recall/efficiency trade-off at nprobe < n_lists
    is covered by pytest (test_ivf_topk_recall_on_clustered_data)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sample = np.stack(
        emb.filter(F.col("vec_id") < 256).orderBy("vec_id")
        .toPandas()["embedding"].to_numpy())
    C = DP.kmeans_centroids(sample, k=8, seed=42)
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    out = DP.ivf_topk(emb, queries, k=10, centroids=C, nprobe=8)
    return out.select("q_id", "vec_id", F.col("rank").cast("long").alias("rnk"),
                      F.round("cosine", 6).alias("cosine"))


_PQ_CACHE: dict = {}


def _pq_codebooks():
    """PQ codebooks trained on a seeded synthetic N(0,1) sample — the
    same deterministic-constant pattern as the LSH hyperplanes, so the
    oracle SQL is sf-independent (the driver generates oracles without
    an sf_dir). Corpus-trained codebooks (the production recipe —
    sample the corpus like the IVF coarse quantizer does) are exercised
    by the ivfpq pytest suite instead."""
    if "default" not in _PQ_CACHE:
        rng = np.random.default_rng(7)
        sample = rng.normal(size=(256, 64))
        _PQ_CACHE["default"] = DP.pq_train(sample, m=8, ks=16, seed=42)
    return _PQ_CACHE["default"]


def q_pq_ann_topk(spark, sf_dir):
    """Product-quantization ADC top-k (m=8 subspaces, ks=16 codewords
    = one 8-byte code per vector): encode in whole-stage codegen
    (fold-dot element sums — see datapipe._fold_dot_sql for
    why not F.aggregate), per-query LUT on the broadcast side, score =
    m array look-ups per scanned row. Fully DuckDB-oracle-checked: the
    oracle mirrors the same left-assoc arithmetic so encode argmins and
    ADC sums are bit-identical."""
    books = _pq_codebooks()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    out = DP.pq_adc_topk(emb, queries, k=10, codebooks=books,
                         code_impl="expr")
    return out.select("q_id", "vec_id",
                      F.col("rank").cast("long").alias("rnk"),
                      F.round("adc", 6).alias("adc"))


def _pq_dot_sql(vec: str, base: int, cent) -> str:
    """Left-assoc chained sum `vec[base+1]*c0 + ...` — the SQL twin of
    datapipe._fold_dot_sql (same IEEE op order, so bit-identical; NOT
    list_dot_product, whose fused accumulation differs in the last ulp
    and could flip an encode argmin)."""
    return " + ".join(f"{vec}[{base + j + 1}] * {repr(float(c))}"
                      for j, c in enumerate(cent))


def oracle_pq_ann_topk(sf_dir):
    """DuckDB twin of q_pq_ann_topk: same codebooks (shared seeded
    training), encode via list_position(scores, list_max(scores)) - 1
    (first-occurrence argmax = Spark array_position = numpy argmax
    tie-break), ADC as the same left-assoc LUT sum. No NaN/NULL paths:
    ADC is a pure sum of products (no normalization divide)."""
    return _pq_oracle_sql(_pq_codebooks(), q_max=5, k=10)


def _pq_fragments(books):
    """The PQ encode/ADC SQL fragment builders (sc_cols, code_list,
    lut_cols, adc) shared by _pq_oracle_sql and _ivfpq_oracle_sql —
    both gates mirror the same Spark expr path, so the fragments must
    stay bit-identical between them."""
    m, ks, dsub = books.shape
    score_arrs = []
    for sub in range(m):
        exprs = []
        for c in range(ks):
            cent = books[sub, c]
            half = repr(float(0.5 * np.dot(cent, cent)))
            exprs.append(f"({_pq_dot_sql('v', sub * dsub, cent)}) - {half}")
        score_arrs.append("[" + ", ".join(exprs) + "]")
    sc_cols = ", ".join(f"{arr} AS s{sub}"
                        for sub, arr in enumerate(score_arrs))
    code_list = ", ".join(
        f"list_position(s{sub}, list_max(s{sub})) - 1" for sub in range(m))
    lut_cols = ", ".join(
        "[" + ", ".join(f"({_pq_dot_sql('qv', sub * dsub, books[sub, c])})"
                        for c in range(ks)) + f"] AS lut_{sub}"
        for sub in range(m))
    adc = " + ".join(f"l.lut_{sub}[c.codes[{sub + 1}] + 1]"
                     for sub in range(m))
    return sc_cols, code_list, lut_cols, adc


def _pq_oracle_sql(books, q_max: int, k: int) -> str:
    sc_cols, code_list, lut_cols, adc = _pq_fragments(books)
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        sc AS (SELECT vec_id, {sc_cols} FROM e),
        codes AS (SELECT vec_id, [{code_list}] AS codes FROM sc),
        q AS (SELECT vec_id AS q_id, v AS qv FROM e
              WHERE vec_id < {q_max}),
        lut AS (SELECT q_id, {lut_cols} FROM q),
        scored AS (SELECT l.q_id, c.vec_id, {adc} AS adc
                   FROM codes c, lut l),
        r AS (SELECT q_id, vec_id, adc,
                     row_number() OVER (PARTITION BY q_id
                         ORDER BY adc DESC, vec_id) AS rnk
              FROM scored)
        SELECT q_id, vec_id, rnk, round(adc, 6) AS adc
        FROM r WHERE rnk <= {k}
    """


def _ivf_centroids():
    """Coarse-quantizer centroids trained on a seeded synthetic
    N(0,1) sample — deterministic constants, so the IVFPQ oracle SQL
    is sf-independent (same pattern as _pq_codebooks). Corpus-trained
    centroids (the production recipe) are exercised by the ivf/ivfpq
    pytest suite and q_ivf_ann_topk."""
    if "centroids" not in _PQ_CACHE:
        rng = np.random.default_rng(11)
        sample = rng.normal(size=(256, 64))
        _PQ_CACHE["centroids"] = DP.kmeans_centroids(sample, k=8, seed=42)
    return _PQ_CACHE["centroids"]


def q_ivfpq_ann_topk(spark, sf_dir):
    """IVFPQ composed scale path: coarse-quantizer list pruning
    (nprobe=4 of 8 lists) + PQ-ADC scoring over codes inside probed
    lists + exact cosine re-rank of the ADC top-30. Approximate by
    construction (pruning + quantization) — but deterministically so:
    with expr-path assignment and encode (left-assoc arithmetic in
    whole-stage codegen) the whole pipeline has a bit-faithful DuckDB
    twin, so the gate hash-checks the approximate semantics
    themselves. Recall and the exact-at-full-probe equivalence stay
    pytest-pinned (test_datapipe)."""
    books = _pq_codebooks()
    C = _ivf_centroids()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    out = DP.ivfpq_topk(emb, queries, k=10, centroids=C, codebooks=books,
                        nprobe=4, rerank=30,
                        code_impl="expr", assign_impl="expr")
    return out.select("q_id", "vec_id",
                      F.col("rank").cast("long").alias("rnk"),
                      F.round("cosine", 6).alias("cosine"))


def oracle_ivfpq_ann_topk(sf_dir):
    """DuckDB twin of q_ivfpq_ann_topk, mirroring every stage of the
    expr-path pipeline bit-for-bit up to the re-rank: coarse scores as
    left-assoc centroid dots (raw dots — the per-row norm divides out
    of the ordering), assignment/probes via list_position/ordinality
    with the same (score DESC, index ASC) tie-break as Spark's
    row_number over posexplode, PQ codes + ADC exactly as
    oracle_pq_ann_topk, and the exact-cosine re-rank shared with
    oracle_ann_topk (round-6 output absorbs the fused-vs-fold ulp)."""
    return _ivfpq_oracle_sql(_pq_codebooks(), _ivf_centroids(),
                             q_max=5, k=10, nprobe=4, rerank=30)


def _ivfpq_oracle_sql(books, centroids, q_max: int, k: int,
                      nprobe: int, rerank: int) -> str:
    C = np.asarray(centroids, dtype=np.float64)
    cs_arr = "[" + ", ".join(_pq_dot_sql("v", 0, C[i])
                             for i in range(len(C))) + "]"
    sc_cols, code_list, lut_cols, adc = _pq_fragments(books)
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        asn AS (SELECT vec_id, v, {cs_arr} AS cs FROM e),
        el AS (SELECT vec_id, v,
                      CAST(list_position(cs, list_max(cs)) - 1 AS BIGINT)
                          AS list_id
               FROM asn),
        sc AS (SELECT vec_id, {sc_cols} FROM e),
        codes AS (SELECT vec_id, [{code_list}] AS codes FROM sc),
        ec AS (SELECT el.vec_id, el.v, el.list_id, codes.codes
               FROM el JOIN codes USING (vec_id)),
        q AS (SELECT vec_id AS q_id, v AS qv, cs FROM asn
              WHERE vec_id < {q_max}),
        qx AS (SELECT q_id, qv,
                      CAST(generate_subscripts(cs, 1) - 1 AS BIGINT)
                          AS list_id,
                      unnest(cs) AS s
               FROM q),
        qp AS (SELECT q_id, qv, list_id FROM qx
               QUALIFY row_number() OVER (PARTITION BY q_id
                   ORDER BY s DESC, list_id) <= {nprobe}),
        lut AS (SELECT q_id, qv, list_id, {lut_cols} FROM qp),
        scored AS (SELECT l.q_id, c.vec_id, c.v, l.qv, {adc} AS adc
                   FROM ec c JOIN lut l USING (list_id)),
        r1 AS (SELECT q_id, vec_id, v, qv,
                      row_number() OVER (PARTITION BY q_id
                          ORDER BY adc DESC, vec_id) AS rnk1
               FROM scored),
        rr AS (SELECT q_id, vec_id,
                      list_dot_product(v, qv)
                      / (sqrt(list_dot_product(v, v))
                         * sqrt(list_dot_product(qv, qv))) AS cosine
               FROM r1 WHERE rnk1 <= {max(k, rerank)}),
        r AS (SELECT q_id, vec_id, cosine,
                     row_number() OVER (PARTITION BY q_id
                         ORDER BY cosine DESC, vec_id) AS rnk
              FROM rr)
        SELECT q_id, vec_id, rnk, round(cosine, 6) AS cosine
        FROM r WHERE rnk <= {k}
    """


def q_dbcan_events(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select(F.col("event_id").alias("id"), "value")
    return A.dbcan_1d(ev, eps=0.01, min_pts=5)


def oracle_dbcan_events(sf_dir):
    return A.dbcan_1d_oracle_sql(
        "(SELECT event_id AS id, value FROM events)", 0.01, 5)


def q_dbcan_core_events(spark, sf_dir):
    """Exact-DBSCAN 1-D (reference DBCAN.java:48-100 core-count
    semantics) over the events value column — window-only pipeline."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select(F.col("event_id").alias("id"), "value")
    return A.dbcan_1d_core(ev, eps=0.01, min_pts=5)


def oracle_dbcan_core_events(sf_dir):
    return A.dbcan_1d_core_oracle_sql(
        "(SELECT event_id AS id, value FROM events)", 0.01, 5)


def q_dbrcan_function(spark, sf_dir):
    """DBRCAN log-density step functions (DBRCAN.java:395-477) per user
    bucket over the events value residue ring — applyInPandas kernel.
    Oracle-checked: the minimum-doubling loop is NOT recursive in
    disguise — cluster existence is monotone decreasing in `minimum`,
    so iterating a fixed geometric grid m=2^j and keeping levels with
    at least one core is exactly the reference loop, which makes the
    whole hierarchy expressible as plain DuckDB window SQL."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select((F.col("user_id") % 8).alias("group_id"), "value")
    out = A.dbrcan_function_df(ev, modulo=1.0, eps=0.02, buffer=0.0)
    return out.select("group_id", F.round("x", 9).alias("x"), "minimum") \
        .orderBy("group_id", "x", F.desc("minimum"))


def oracle_dbrcan_function(sf_dir):
    """DuckDB twin of q_dbrcan_function (modulo=1, eps=0.02, buffer=0,
    8 user buckets): every float expression mirrors the numpy kernel's
    IEEE op order (residue wash fmod(fmod(v,1)+1,1), tolerance
    eps+1e-10, gap record-scan). Two documented approximations, both
    sub-tolerance for real data: DuckDB round() is half-away vs
    numpy/python half-even (differs only on exact half-ulp lattice
    values), and the gap record-scan is expressed by its closed form
    (first gap within 1e-10 of the eligible max), which deviates only
    when 3+ gaps chain within 1e-10 of each other."""
    eps, eps10 = 0.02, 1e-10
    tol = repr(eps + eps10)
    e10, e = repr(eps10), repr(eps)
    return f"""
WITH src AS (
    SELECT user_id % 8 AS g, value AS v FROM events
), res AS (   -- np.mod(np.mod(v,M)+M,M) for positive v == fmod(fmod(v,1)+1,1)
    SELECT g, round(fmod(fmod(v, 1.0) + 1.0, 1.0), 12) AS r FROM src
), u AS (     -- unique rounded residues with multiplicity
    SELECT g, r, count(*) AS cnt FROM res GROUP BY g, r
), ext AS (   -- 3-copy ring unroll for neighbor counting
    SELECT g, r + s AS re, cnt FROM u, (VALUES (0.0), (1.0), (2.0)) t(s)
), ne AS MATERIALIZED (    -- eps-neighbor count (inclusive, eps+1e-10 tolerant)
    SELECT a.g, a.r,
           (SELECT sum(b.cnt) FROM ext b WHERE b.g = a.g
             AND b.re >= (a.r + 1.0) - {tol}
             AND b.re <= (a.r + 1.0) + {tol}) AS n_eps
    FROM u a
), lvl AS (   -- doubling levels m = 2^j with at least one core in the group
    SELECT DISTINCT g, m FROM ne,
         (SELECT power(2, j)::BIGINT AS m
          FROM (SELECT unnest(generate_series(0, 20)) AS j)) lv
    WHERE n_eps >= m
), core AS (
    SELECT l.g, l.m, n.r FROM lvl l JOIN ne n ON n.g = l.g
    WHERE n.n_eps >= l.m
), chains0 AS ( -- per-level core chain breaks: ring gap > tol
    SELECT g, m, r,
           CASE WHEN r - lag(r) OVER w > {tol} THEN 1 ELSE 0 END AS brk,
           min(r) OVER (PARTITION BY g, m) AS cmin,
           max(r) OVER (PARTITION BY g, m) AS cmax
    FROM core WINDOW w AS (PARTITION BY g, m ORDER BY r)
), chains AS (
    SELECT g, m, r, cmin, cmax,
           1 + sum(brk) OVER (PARTITION BY g, m ORDER BY r
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS chain_raw
    FROM chains0
), corelab AS MATERIALIZED ( -- wrap merge: last chain joins chain 1 when the ring closes
    SELECT g, m, r,
           CASE WHEN chain_raw = max(chain_raw) OVER (PARTITION BY g, m)
                 AND max(chain_raw) OVER (PARTITION BY g, m) > 1
                 AND (cmin + 1.0) - cmax <= {tol}
                THEN 1 ELSE chain_raw END AS lab
    FROM chains
), stream AS ( -- cores (3 ring copies) + non-core residues, one sorted stream
    SELECT c.g, c.m, c.r + s.s AS pos, c.lab, NULL::DOUBLE AS br
    FROM corelab c, (VALUES (0.0), (1.0), (2.0)) s(s)
    UNION ALL
    SELECT l.g, l.m, n.r + 1.0 AS pos, NULL, n.r
    FROM lvl l JOIN ne n ON n.g = l.g WHERE n.n_eps < l.m
), att AS (   -- nearest-core border attachment (tie dl<=dr -> left)
    SELECT g, m, pos, br,
           last_value(CASE WHEN br IS NULL THEN pos END IGNORE NULLS)
               OVER wp AS lre,
           last_value(CASE WHEN br IS NULL THEN lab END IGNORE NULLS)
               OVER wp AS llab,
           first_value(CASE WHEN br IS NULL THEN pos END IGNORE NULLS)
               OVER wf AS rre,
           first_value(CASE WHEN br IS NULL THEN lab END IGNORE NULLS)
               OVER wf AS rlab
    FROM stream
    WINDOW wp AS (PARTITION BY g, m ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           wf AS (PARTITION BY g, m ORDER BY pos
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
), members AS ( -- cluster member residues: home cores + attached borders
    SELECT g, m, lab, r FROM corelab
    UNION ALL
    SELECT g, m,
           CASE WHEN (pos - lre) <= {tol}
                 AND ((rre - pos) > {tol} OR (pos - lre) <= (rre - pos))
                THEN llab
                WHEN (rre - pos) <= {tol} THEN rlab END AS lab,
           br AS r
    FROM att
    WHERE br IS NOT NULL
      AND ((pos - lre) <= {tol} OR (rre - pos) <= {tol})
), memlab AS (SELECT * FROM members WHERE lab IS NOT NULL
), gaps AS (  -- ring-order gaps inside each cluster
    SELECT g, m, lab, r,
           row_number() OVER w AS i,
           count(*) OVER (PARTITION BY g, m, lab) AS n_res,
           coalesce(lag(r) OVER w, max(r) OVER (PARTITION BY g, m, lab))
               AS prev,
           CASE WHEN lag(r) OVER w IS NULL
                THEN (r + 1.0) - max(r) OVER (PARTITION BY g, m, lab)
                ELSE r - lag(r) OVER w END AS gap
    FROM memlab WINDOW w AS (PARTITION BY g, m, lab ORDER BY r)
), pick AS MATERIALIZED (  -- first maximal eligible gap (record-scan closed form)
    SELECT g, m, lab, r, prev, i, n_res,
           (gap - {e}) >= {e10} AS elig,
           max(CASE WHEN (gap - {e}) >= {e10} THEN gap END)
               OVER (PARTITION BY g, m, lab) AS dmax,
           gap
    FROM gaps
), bounds AS ( -- per-cluster selected gap index, or covering (none eligible)
    SELECT g, m, lab, n_res,
           min(CASE WHEN elig AND gap >= dmax - {e10} THEN i END) AS sel_i
    FROM pick GROUP BY g, m, lab, n_res
), bsel AS MATERIALIZED (
    SELECT b.g, b.m, b.lab, b.n_res, b.sel_i,
           CASE WHEN b.n_res = 1 THEN (SELECT round(p.r * 1e10) / 1e10
                                       FROM pick p WHERE p.g = b.g
                                        AND p.m = b.m AND p.lab = b.lab)
                WHEN b.sel_i IS NOT NULL THEN
                    (SELECT round(p.r * 1e10) / 1e10 FROM pick p
                     WHERE p.g = b.g AND p.m = b.m AND p.lab = b.lab
                       AND p.i = b.sel_i)
           END AS s,
           CASE WHEN b.n_res = 1 THEN (SELECT round(p.r * 1e10) / 1e10
                                       FROM pick p WHERE p.g = b.g
                                        AND p.m = b.m AND p.lab = b.lab)
                WHEN b.sel_i IS NOT NULL THEN
                    (SELECT round(p.prev * 1e10) / 1e10 FROM pick p
                     WHERE p.g = b.g AND p.m = b.m AND p.lab = b.lab
                       AND p.i = b.sel_i)
           END AS e
    FROM bounds b
), floors AS ( -- covering clusters raise the group's floor
    SELECT s.g, coalesce(max(CASE WHEN b.n_res > 1 AND b.sel_i IS NULL
                                  THEN b.m END), 0) AS floor
    FROM (SELECT DISTINCT g FROM src) s
    LEFT JOIN bsel b ON b.g = s.g GROUP BY s.g
), starts AS (
    SELECT g, round(s, 10) AS x, max(m) AS v FROM bsel
    WHERE s IS NOT NULL GROUP BY g, round(s, 10)
), ends AS (
    SELECT g, round(e, 10) AS x, min(m // 2) AS v FROM bsel
    WHERE e IS NOT NULL GROUP BY g, round(e, 10)
), fn AS MATERIALIZED (
    SELECT st.g, st.x, greatest(f.floor, st.v) AS minimum
    FROM starts st JOIN floors f ON f.g = st.g
    UNION ALL
    SELECT en.g, en.x, greatest(f.floor, en.v) AS minimum
    FROM ends en JOIN floors f ON f.g = en.g
), agg AS (
    SELECT g, min(x) AS x0, max(x) AS x1
    FROM fn GROUP BY g
), lastrow AS (  -- minimum of the LAST row after sort by (x, -minimum)
    SELECT f.g, min(f.minimum) AS last_min
    FROM fn f JOIN agg a ON a.g = f.g AND f.x = a.x1 GROUP BY f.g
), zeros AS (    -- prepend (0, .) when the smallest x is not ~0
    SELECT fl.g, 0.0 AS x,
           CASE WHEN a.g IS NULL THEN fl.floor
                ELSE greatest(fl.floor, lr.last_min) END AS minimum
    FROM floors fl
    LEFT JOIN agg a ON a.g = fl.g
    LEFT JOIN lastrow lr ON lr.g = fl.g
    WHERE a.g IS NULL OR abs(a.x0) >= {e10}
)
SELECT g AS group_id, round(x, 9) AS x, CAST(minimum AS INTEGER) AS minimum
FROM (SELECT * FROM fn UNION ALL SELECT * FROM zeros)
ORDER BY group_id, x, minimum DESC
    """


def q_minhash_dedup(spark, sf_dir):
    """MinHash-LSH near-dup pipeline, oracle-checked end to end: the
    band-bucket key is the arithmetic Horner-mod-2^64 variant
    (DP.poly_band_expr) so bands -> pairs -> verify all mirror into
    HUGEINT DuckDB SQL — signature = min over shingles of
    (a*x + b) wrapped mod 2^64 then mod 2^61-1, exactly the numpy
    uint64 op order of minhash_signature_udf."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (DP.minhash_dedup(docs, jaccard_threshold=0.5, band_key="poly")
            .select("left_id", "right_id", F.round("est_jaccard", 6).alias("est_jaccard")))


def oracle_minhash_dedup(sf_dir):
    """HUGEINT twin of the full minhash_dedup pipeline (num_perm=64,
    bands=16, shingle_k=5, seed=42, threshold=0.5). Mirrors the numpy
    kernel exactly: rolling k-gram polynomial hash mod 2^64 (per-term
    wrap == whole-sum wrap), per-permutation
    ((a*hv) mod 2^64 + b) mod 2^64 mod (2^61-1) with min over the
    doc's DISTINCT shingles (min over duplicates == min over uniques),
    band bucket = Horner fold mod 2^64 in permutation order (the
    poly_band_expr twin), candidate pairs on (band, bucket) with
    left<right, est_jaccard = matching permutations / 64 (multiples of
    1/64 are exact in double and have exactly 6 decimals, so round(,6)
    is wash on both engines). Short docs space-padded to k; ASCII
    corpus assumption as documented on oracle_doc_fingerprint."""
    return f"""
        WITH {_minhash_ctes()}
        SELECT left_id, right_id, round(est_jaccard, 6) AS est_jaccard
        FROM est WHERE est_jaccard >= 0.5
    """


def _minhash_ctes(table="documents", k=5, num_perm=64, bands=16,
                  seed=42) -> str:
    """The minhash pipeline's CTE chain (params ... est), shared
    verbatim — preamble included — by oracle_minhash_dedup,
    oracle_dedup_keep_canonical, oracle_curate_corpus and
    oracle_incremental_text_dedup so the gates can never drift apart.
    `table` is any relation (or CTE name) exposing (doc_id, text)."""
    rpb = num_perm // bands
    m64 = "18446744073709551616::HUGEINT"
    mp = "2305843009213693951::HUGEINT"   # 2^61 - 1
    a, b = DP._minhash_params(num_perm, seed)
    pvals = ", ".join(f"({p}, {int(a[p])}::HUGEINT, {int(b[p])}::HUGEINT)"
                      for p in range(num_perm))
    mult = [pow(1000003, j, 2 ** 64) for j in range(k)]
    terms = " + ".join(
        f"ascii(substr(text, i+{j}, 1))::HUGEINT * {m}::HUGEINT"
        for j, m in enumerate(mult))
    sel_sj = ", ".join(f"max(CASE WHEN p % {rpb} = {j} THEN s END) AS s{j}"
                       for j in range(rpb))
    horner = "s0"
    for j in range(1, rpb):
        horner = f"((({horner}) * 1000003 + s{j}) % {m64})"
    return f"""params(p, a, b) AS (VALUES {pvals}),
        padded AS (
            SELECT doc_id,
                   CASE WHEN length(coalesce(text, '')) < {k}
                        THEN rpad(coalesce(text, ''), {k}, ' ')
                        ELSE text END AS text
            FROM {table}
        ), pos AS (
            SELECT d.doc_id, d.text, g.i
            FROM padded d,
                 LATERAL (SELECT unnest(generate_series(
                     1, length(d.text) - {k - 1})) AS i) g
        ), hu AS (
            SELECT DISTINCT doc_id, ({terms}) % {m64} AS hv FROM pos
        ), sig AS MATERIALIZED (
            SELECT doc_id, p,
                   min(((a * hv) % {m64} + b) % {m64} % {mp}) AS s
            FROM hu, params GROUP BY doc_id, p
        ), b4 AS (
            SELECT doc_id, p // {rpb} AS band, {sel_sj}
            FROM sig GROUP BY doc_id, p // {rpb}
        ), bk AS (
            SELECT doc_id, band, {horner} AS bucket FROM b4
        ), pairs AS (
            SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
            FROM bk l JOIN bk r
              ON l.band = r.band AND l.bucket = r.bucket
             AND l.doc_id < r.doc_id
        ), est AS MATERIALIZED (
            SELECT p.left_id, p.right_id,
                   sum(CASE WHEN ls.s = rs.s THEN 1 ELSE 0 END)
                       / CAST({num_perm} AS DOUBLE) AS est_jaccard
            FROM pairs p
            JOIN sig ls ON ls.doc_id = p.left_id
            JOIN sig rs ON rs.doc_id = p.right_id AND rs.p = ls.p
            GROUP BY p.left_id, p.right_id
        )"""


def _closure_ctes(pairs_cte: str, left: str = "left_id",
                  right: str = "right_id",
                  with_sizes: bool = False) -> str:
    """Recursive reachability closure with min label (und/vs/reach/
    comp[, sizes]) over an undirected pair CTE — the independent
    cluster-resolution twin of the large-star/small-star kernel,
    shared by every keep-list oracle so the closure semantics can
    never drift between gates. Embed inside WITH RECURSIVE."""
    sizes = """,
        sizes AS (SELECT canonical, count(*) AS sz FROM comp
                  GROUP BY canonical)""" if with_sizes else ""
    return f"""und AS MATERIALIZED (SELECT {left} AS a, {right} AS b FROM {pairs_cte}
                UNION SELECT {right}, {left} FROM {pairs_cte}),
        vs AS (SELECT DISTINCT a AS v FROM und),
        reach(v, lbl) AS (
            SELECT v, v FROM vs
            UNION
            SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.v
        ),
        comp AS (SELECT v, min(lbl) AS canonical FROM reach
                 GROUP BY v){sizes}"""


def q_dedup_keep_canonical(spark, sf_dir):
    """The end-to-end dedup deliverable: minhash near-dup pairs (the
    oracle-checked poly-band pipeline) -> connected duplicate clusters
    (large-star/small-star) -> per-document (canonical_id, keep,
    cluster_size). Every stage has an independently proven SQL twin;
    composed here so the gate hash-checks the WHOLE keep-list a
    100-TB dedup job would emit."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = DP.minhash_dedup(docs, jaccard_threshold=0.5, band_key="poly")
    return (DP.dedup_keep_canonical(docs, pairs)
            .orderBy("doc_id"))


def oracle_dedup_keep_canonical(sf_dir):
    """Shared minhash CTE chain (bit-identical to oracle_minhash_dedup)
    + the recursive-CTE reachability closure with min label (the
    connected_components twin) + singleton coalesce — an independent
    algorithm for the cluster resolution (closure vs star rounds)."""
    return f"""
        WITH RECURSIVE {_minhash_ctes()},
        dup AS (SELECT left_id, right_id FROM est
                WHERE est_jaccard >= 0.5),
        {_closure_ctes("dup", with_sizes=True)}
        SELECT d.doc_id,
               CAST(coalesce(c.canonical, d.doc_id) AS BIGINT)
                   AS canonical_id,
               (d.doc_id = coalesce(c.canonical, d.doc_id)) AS keep,
               CAST(coalesce(s.sz, 1) AS BIGINT) AS cluster_size
        FROM documents d
        LEFT JOIN comp c ON c.v = d.doc_id
        LEFT JOIN sizes s ON s.canonical = c.canonical
        ORDER BY d.doc_id
    """


def q_simhash_dedup(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return DP.simhash_dedup(docs, max_hamming=3) \
        .select("left_id", "right_id", F.col("hamming").cast("long").alias("hamming"))


def oracle_simhash_dedup(sf_dir):
    """HUGEINT twin of the full simhash_dedup pipeline (max_hamming=3,
    4 blocks x 16 bits): FNV-1a per token as a recursive CTE over byte
    positions (h = (xor(h, byte) * prime) mod 2^64 — xor works on
    HUGEINT, the multiply wraps via explicit modulus since 2^104 fits
    128 bits), per-bit majority votes over all token OCCURRENCES
    (duplicates kept, exactly Python's text.lower().split()),
    block-banded candidate pairs, and bit_count(xor) hamming verify on
    the signed-BIGINT representation (two's-complement-identical to
    Spark's shiftright/bit_count). Tokenizer parity assumptions hold on
    the fixture corpus (verified: ASCII, no \\v/\\f/\\t/\\r, no
    leading/trailing whitespace), so regexp \\s+ splitting == Python
    str.split(); lower() is ASCII-identical."""
    m64 = "18446744073709551616::HUGEINT"
    basis = "14695981039346656037::HUGEINT"   # 0xCBF29CE484222325
    prime = "1099511628211::HUGEINT"          # 0x100000001B3
    p2 = ", ".join(f"({b}, {1 << b}::HUGEINT)" for b in range(64))
    blk = ", ".join(f"({i}, {1 << (16 * i)}::HUGEINT)" for i in range(4))
    return f"""
        WITH RECURSIVE
        p2(b, v) AS (VALUES {p2}),
        blkdim(blk, shift) AS (VALUES {blk}),
        ts AS (SELECT doc_id,
                      string_split_regex(lower(coalesce(text, '')), '\\s+') AS toks
               FROM documents),
        tok AS (SELECT d.doc_id, g.i, d.toks[g.i] AS tok
                FROM ts d, LATERAL (SELECT unnest(generate_series(
                    1, len(d.toks))) AS i) g
                WHERE length(d.toks[g.i]) > 0),
        fnv(doc_id, i, pos, h) AS (
            SELECT doc_id, i, 0, {basis} FROM tok
            UNION ALL
            SELECT f.doc_id, f.i, f.pos + 1,
                   (xor(f.h, ascii(substr(t.tok, f.pos + 1, 1))::HUGEINT)
                    * {prime}) % {m64}
            FROM fnv f JOIN tok t ON t.doc_id = f.doc_id AND t.i = f.i
            WHERE f.pos < length(t.tok)
        ),
        hashes AS (
            SELECT f.doc_id, f.i, f.h
            FROM fnv f JOIN tok t ON t.doc_id = f.doc_id AND t.i = f.i
            WHERE f.pos = length(t.tok)
        ),
        votes AS (
            SELECT h.doc_id, p2.b,
                   sum(CASE WHEN (h.h // p2.v) % 2 = 1 THEN 1 ELSE -1 END)
                       AS vote
            FROM hashes h, p2 GROUP BY h.doc_id, p2.b
        ),
        shu AS (   -- unsigned simhash per doc; token-less docs -> 0
            SELECT d.doc_id,
                   coalesce((SELECT sum(p2.v)
                             FROM votes v JOIN p2 ON p2.b = v.b
                             WHERE v.doc_id = d.doc_id AND v.vote > 0),
                            0::HUGEINT) AS uv
            FROM (SELECT DISTINCT doc_id FROM documents) d
        ),
        sh AS (    -- signed 64-bit view (Spark's LongType simhash)
            SELECT doc_id, uv,
                   CAST(CASE WHEN uv >= 9223372036854775808::HUGEINT
                             THEN uv - {m64}
                             ELSE uv END AS BIGINT) AS sv
            FROM shu
        ),
        blocks AS (
            SELECT s.doc_id, s.sv, b.blk,
                   (s.uv // b.shift) % 65536::HUGEINT AS key
            FROM sh s, blkdim b
        ),
        pairs AS (
            SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id,
                   l.sv AS lh, r.sv AS rh
            FROM blocks l JOIN blocks r
              ON l.blk = r.blk AND l.key = r.key AND l.doc_id < r.doc_id
        )
        SELECT left_id, right_id,
               CAST(bit_count(xor(lh, rh)) AS BIGINT) AS hamming
        FROM pairs WHERE bit_count(xor(lh, rh)) <= 3
    """


def q_jaccard_pairs(spark, sf_dir):
    """Word-trigram Jaccard verify stage (pure Catalyst higher-order
    functions) over deterministic candidate pairs: every 7th doc with
    its successor, plus every 11th doc with itself (exercises the
    jaccard=1 path)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select("doc_id")
    succ = (ids.filter(F.col("doc_id") % 7 == 0)
            .select(F.col("doc_id").alias("left_id"),
                    (F.col("doc_id") + 1).alias("right_id")))
    selfp = (ids.filter(F.col("doc_id") % 11 == 0)
             .select(F.col("doc_id").alias("left_id"),
                     F.col("doc_id").alias("right_id")))
    pairs = succ.union(selfp) \
        .join(ids.withColumnRenamed("doc_id", "right_id"), "right_id", "inner") \
        .select("left_id", "right_id")
    out = DP.ngram_jaccard(docs, pairs, n=3)
    return out.select("left_id", "right_id",
                      F.round("jaccard", 6).alias("jaccard"))


def word_grams_sql(text_col: str = "text", n: int = 3) -> str:
    """DuckDB twin of datapipe.word_grams_col: distinct lowercased
    word n-grams as a list expression."""
    words = f"string_split_regex(lower({text_col}), '\\s+')"
    return (f"list_distinct(list_transform(list_filter(list_transform("
            f"range(0, greatest(len({words}) - {n}, 0) + 1), "
            f"i -> {words}[i+1:i+{n}]), "
            f"w -> len(w) = {n}), w -> array_to_string(w, ' ')))")


def oracle_jaccard_pairs(sf_dir):
    grams = word_grams_sql("text", 3)
    return f"""
        WITH ids AS (SELECT doc_id FROM documents),
        pairs AS (
            SELECT p.left_id, p.right_id FROM (
                SELECT doc_id AS left_id, doc_id + 1 AS right_id
                FROM ids WHERE doc_id % 7 = 0
                UNION ALL
                SELECT doc_id, doc_id FROM ids WHERE doc_id % 11 = 0
            ) p JOIN ids r ON r.doc_id = p.right_id
        ), g AS (
            SELECT doc_id, {grams} AS grams FROM documents
        )
        SELECT left_id, right_id,
               round(CAST(len(list_intersect(lg.grams, rg.grams)) AS DOUBLE)
                     / greatest(len(list_distinct(list_concat(lg.grams, rg.grams))), 1),
                     6) AS jaccard
        FROM pairs
        JOIN g lg ON lg.doc_id = left_id
        JOIN g rg ON rg.doc_id = right_id
    """


def q_decontaminate(spark, sf_dir):
    """Eval-leakage gate: documents sharing any word 3-gram with the
    benchmark slice (every 53rd doc plays the held-out eval set) are
    flagged with distinct-gram and distinct-benchmark-doc counts.
    (Real deployments use 8-13-gram windows; the synthetic corpus's
    shared phrases are shorter, and 3-grams give the fixture a rich
    hit distribution — n is a parameter either way.)"""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = (docs.filter(F.col("doc_id") % 53 == 0)
             .select(F.col("doc_id").alias("bench_id"), "text"))
    return DP.decontaminate(docs, bench, n=3)


def oracle_decontaminate(sf_dir):
    grams = word_grams_sql("text", 3)
    return f"""
        WITH bg AS (
            SELECT DISTINCT doc_id AS bench_id, unnest({grams}) AS gram
            FROM documents WHERE doc_id % 53 = 0),
        dg AS (
            SELECT doc_id, unnest({grams}) AS gram FROM documents),
        hits AS (
            SELECT d.doc_id, b.bench_id, d.gram
            FROM dg d JOIN bg b USING (gram)
            WHERE d.doc_id <> b.bench_id),
        a AS (
            SELECT doc_id,
                   CAST(count(DISTINCT gram) AS BIGINT) AS n_hits,
                   CAST(count(DISTINCT bench_id) AS BIGINT)
                       AS n_bench_docs
            FROM hits GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(a.n_hits, 0) AS n_hits,
               coalesce(a.n_bench_docs, 0) AS n_bench_docs,
               (a.doc_id IS NOT NULL) AS contaminated
        FROM documents d LEFT JOIN a USING (doc_id)
    """


def q_doc_fingerprint(spark, sf_dir):
    """Winnowing fingerprints (min rolling-hash per sliding window),
    exploded to (doc_id, fp) rows so every fingerprint VALUE is
    oracle-checked — the DuckDB twin recomputes the k-gram polynomial
    hash in HUGEINT with an explicit mod-2^64 reduction (uint64
    wraparound is congruence-preserved: per-term wrap == whole-sum
    wrap) and the same full-window sliding minimum."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = DP.doc_fingerprint(docs)
    return out.select("doc_id",
                      F.explode("fingerprint").alias("fp")).distinct()


def oracle_doc_fingerprint(sf_dir):
    """Kernel-exact twin including the short-doc branches of
    doc_fingerprint: NULL -> "", texts shorter than k
    are space-padded to k (one hash), and docs with fewer than `w`
    hashes emit min-over-all instead of sliding-window minima.
    Documented limitation: byte values come from ascii() code points,
    so the twin assumes ASCII text (true of every fixture; the kernel
    hashes utf-8 BYTES, which diverges on multi-byte characters)."""
    k, w = 8, 16
    mult = [pow(1000003, j, 2 ** 64) for j in range(k)]
    terms = " + ".join(
        f"ascii(substr(text, i+{j}, 1))::HUGEINT * {m}::HUGEINT"
        for j, m in enumerate(mult))
    return f"""
        WITH padded AS (
            SELECT doc_id,
                   CASE WHEN length(coalesce(text, '')) < {k}
                        THEN rpad(coalesce(text, ''), {k}, ' ')
                        ELSE text END AS text
            FROM documents
        ), pos AS (
            SELECT d.doc_id, d.text, g.i
            FROM padded d,
                 LATERAL (SELECT unnest(generate_series(
                     1, length(d.text) - {k - 1})) AS i) g
        ), h AS (
            SELECT doc_id, i,
                   ({terms}) % 18446744073709551616::HUGEINT AS hv,
                   max(i) OVER (PARTITION BY doc_id) AS max_i
            FROM pos
        ), wm AS (
            SELECT doc_id, i, max_i,
                   CASE WHEN max_i >= {w}
                        THEN min(hv) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
                        ELSE min(hv) OVER (PARTITION BY doc_id) END
                       AS wmin
            FROM h
        )
        SELECT DISTINCT doc_id,
               CAST(CASE WHEN wmin >= 9223372036854775808::HUGEINT
                         THEN wmin - 18446744073709551616::HUGEINT
                         ELSE wmin END AS BIGINT) AS fp
        FROM wm
        WHERE (max_i >= {w} AND i <= max_i - {w - 1})
           OR (max_i < {w} AND i = 1)
    """


def q_video_phash_dedup(spark, sf_dir):
    """Video near-dup pairs via sampled-frame phashes (frame-0 band
    candidates, all-positions hamming verify; bytes never shuffled) —
    rows-only: the pipeline starts at a binary container decode, which
    has no SQL twin (brute-force numpy equality lives in test_media)."""
    from .sources import media as MM
    pdf = MM.synth_videos_with_dups_pdf(96)
    videos = spark.createDataFrame(pdf, schema=MM.VIDEOS_SCHEMA)
    out = MM.video_phash_dedup(videos, every_n=4, max_hamming=3)
    return out.select("left_id", "right_id",
                      F.col("n_frames_matched").cast("long")
                      .alias("n_frames_matched"),
                      F.col("max_hamming_seen").cast("long")
                      .alias("max_hamming_seen"))


def q_image_features(spark, sf_dir):
    """Multimodal feature extraction over binary image columns
    (decode -> per-channel stats, mapInPandas; bytes projected out
    before any shuffle) — rows-only."""
    from .sources import images as IM
    pdf = IM.synth_images_pdf(256)
    images = spark.createDataFrame(pdf, schema=IM.IMAGES_SCHEMA)
    out = IM.image_features(images)
    keep = [c for c in out.columns if c != "bytes"]
    sel = [F.round(c, 4).alias(c) if dict(out.dtypes)[c] == "double" else F.col(c)
           for c in keep]
    return out.select(*sel).orderBy("image_id")


def q_image_verify(spark, sf_dir):
    from .sources import images as IM
    pdf = IM.synth_images_pdf(256)
    images = spark.createDataFrame(pdf, schema=IM.IMAGES_SCHEMA)
    out = IM.verify_images(images)
    return out.select("image_id", "fmt", F.round("psnr_db", 2).alias("psnr_db"),
                      "pixel_ok", "caption_ok", "phash_ok")


# ---------------------------------------------------------------------------
# pinned VALUES-golden oracles for the kernel/media entries
# ---------------------------------------------------------------------------

def _golden_oracle(name: str):
    """Literal VALUES-table oracle for an entry whose semantics have no
    DuckDB re-derivation (stateful HMM matcher, codec kernels). The
    expected rows live in barefoot_spark/_goldens.py (generated once by
    tools/pin_goldens.py from the deterministic seeded fixtures —
    MatcherTest.java:371-423-style goldens, corridor x0001-001, synth
    media; parallelism stability cross-checked at local[8] vs
    local[32]). Promotes the driver's rows-only check to a full
    row+schema+value-hash gate. Float literals carry an e0 exponent so
    DuckDB parses them as DOUBLE via strtod — an exact repr round-trip,
    never a DECIMAL re-conversion."""
    def _build(sf_dir: str) -> str:
        from ._goldens import GOLDENS
        g = GOLDENS[name]

        def lit(v, t):
            if v is None:
                return "NULL"
            if t == "DOUBLE":
                r = repr(float(v))
                return r if ("e" in r or "E" in r) else r + "e0"
            if t == "BIGINT":
                return str(int(v))
            if t == "BOOLEAN":
                return "TRUE" if v else "FALSE"
            return "'" + str(v).replace("'", "''") + "'"

        rows = ",\n".join(
            "(" + ", ".join(lit(v, t) for v, t in zip(r, g["types"])) + ")"
            for r in g["rows"])
        sel = ", ".join(f"CAST(c{i} AS {t}) AS {c}"
                        for i, (c, t) in enumerate(zip(g["columns"],
                                                       g["types"])))
        tcols = ", ".join(f"c{i}" for i in range(len(g["columns"])))
        return f"SELECT {sel} FROM (VALUES\n{rows}\n) AS t({tcols})"
    return _build


QUERIES = {
    "tile_assign": q_tile_assign,
    "tile_counts": q_tile_counts,
    "directed_edges": q_directed_edges,
    "road_type_gate": q_road_type_gate,
    "sample_dup_times": q_sample_dup_times,
    "subsample_traces": q_subsample_traces,
    "candidate_sequence": q_candidate_sequence,
    "dbrcan_mod_events": q_dbrcan_mod_events,
    "lsh_ann_topk": q_lsh_ann_topk,
    "ann_recall": q_ann_recall,
    "cosine_near_dup": q_cosine_near_dup,
    "cosine_pairs_exact": q_cosine_pairs_exact,
    "x0001_match": q_x0001_match,
    "video_frame_sample": q_video_frame_sample,
    "video_phash_dedup": q_video_phash_dedup,
    "image_resize": q_image_resize,
    "audio_features": q_audio_features,
    "radius_join": q_radius_join,
    "radius_join_fast": q_radius_join_fast,
    "nearest_join_fast": q_nearest_join_fast,
    "knn_join_fast": q_knn_join_fast,
    "knn_join": q_knn_join,
    "nearest_join": q_nearest_join,
    "point_in_polygon": q_point_in_polygon,
    "raster_vector_join": q_raster_vector,
    "emission_stage": q_emission_stage,
    "viterbi_match": q_viterbi_match,
    "route_geojson": q_route_geojson,
    "lineitem_pricing": q_lineitem_pricing,
    "top_customers": q_top_customers,
    "event_sessions": q_event_sessions,
    "salted_agg": q_salted_agg,
    "exact_dedup": q_exact_dedup,
    "text_stats": q_text_stats,
    "quality_filter": q_quality_filter,
    "repetition_stats": q_repetition_stats,
    "split_assign": q_split_assign,
    "phash_dedup": q_phash_dedup,
    "image_dedup_keep": q_image_dedup_keep,
    "curate_images": q_curate_images,
    "tile_image_rollup": q_tile_image_rollup,
    "tile_pyramid": q_tile_pyramid,
    "tile_cap_sample": q_tile_cap_sample,
    "curate_frames": q_curate_frames,
    "caption_spam": q_caption_spam,
    "frame_thinning": q_frame_thinning,
    "mixture_sample": q_mixture_sample,
    "pack_image_batches": q_pack_image_batches,
    "incremental_dedup": q_incremental_dedup,
    "incremental_text_dedup": q_incremental_text_dedup,
    "token_budget_sample": q_token_budget_sample,
    "pack_sequences": q_pack_sequences,
    "curate_corpus": q_curate_corpus,
    "ann_topk": q_ann_topk,
    "ivf_ann_topk": q_ivf_ann_topk,
    "pq_ann_topk": q_pq_ann_topk,
    "ivfpq_ann_topk": q_ivfpq_ann_topk,
    "connected_components": q_connected_components,
    "dbscan_clusters": q_dbscan_clusters,
    "dbcan_events": q_dbcan_events,
    "dbcan_core_events": q_dbcan_core_events,
    "dbrcan_function": q_dbrcan_function,
    "jaccard_pairs": q_jaccard_pairs,
    "decontaminate": q_decontaminate,
    "minhash_dedup": q_minhash_dedup,
    "dedup_keep_canonical": q_dedup_keep_canonical,
    "simhash_dedup": q_simhash_dedup,
    "doc_fingerprint": q_doc_fingerprint,
    "image_features": q_image_features,
    "image_verify": q_image_verify,
}

ORACLES = {
    "tile_assign": oracle_tile_assign,
    "tile_counts": oracle_tile_counts,
    "directed_edges": oracle_directed_edges,
    "road_type_gate": oracle_road_type_gate,
    "sample_dup_times": oracle_sample_dup_times,
    "subsample_traces": oracle_subsample_traces,
    "candidate_sequence": oracle_candidate_sequence,
    "dbrcan_mod_events": oracle_dbrcan_mod_events,
    "cosine_pairs_exact": oracle_cosine_pairs_exact,
    "radius_join": oracle_radius_join,
    "radius_join_fast": oracle_radius_join_fast,
    "nearest_join_fast": oracle_nearest_join_fast,
    "knn_join_fast": oracle_knn_join_fast,
    "knn_join": oracle_knn_join,
    "nearest_join": oracle_nearest_join,
    "point_in_polygon": oracle_point_in_polygon,
    "raster_vector_join": oracle_raster_vector,
    "emission_stage": oracle_emission_stage,
    "lineitem_pricing": oracle_lineitem_pricing,
    "top_customers": oracle_top_customers,
    "event_sessions": oracle_event_sessions,
    "salted_agg": oracle_salted_agg,
    "exact_dedup": oracle_exact_dedup,
    "text_stats": oracle_text_stats,
    "quality_filter": oracle_quality_filter,
    "repetition_stats": oracle_repetition_stats,
    "split_assign": oracle_split_assign,
    "phash_dedup": oracle_phash_dedup,
    "image_dedup_keep": oracle_image_dedup_keep,
    "curate_images": oracle_curate_images,
    "tile_image_rollup": oracle_tile_image_rollup,
    "tile_pyramid": oracle_tile_pyramid,
    "tile_cap_sample": oracle_tile_cap_sample,
    "curate_frames": oracle_curate_frames,
    "caption_spam": oracle_caption_spam,
    "frame_thinning": oracle_frame_thinning,
    "mixture_sample": oracle_mixture_sample,
    "pack_image_batches": oracle_pack_image_batches,
    "incremental_dedup": oracle_incremental_dedup,
    "incremental_text_dedup": oracle_incremental_text_dedup,
    "token_budget_sample": oracle_token_budget_sample,
    "pack_sequences": oracle_pack_sequences,
    "curate_corpus": oracle_curate_corpus,
    "ann_topk": oracle_ann_topk,
    "ivf_ann_topk": oracle_ann_topk,
    "pq_ann_topk": oracle_pq_ann_topk,
    "ivfpq_ann_topk": oracle_ivfpq_ann_topk,
    "dbcan_events": oracle_dbcan_events,
    "dbcan_core_events": oracle_dbcan_core_events,
    "jaccard_pairs": oracle_jaccard_pairs,
    "decontaminate": oracle_decontaminate,
    "doc_fingerprint": oracle_doc_fingerprint,
    "dbrcan_function": oracle_dbrcan_function,
    "connected_components": oracle_connected_components,
    "minhash_dedup": oracle_minhash_dedup,
    "dedup_keep_canonical": oracle_dedup_keep_canonical,
    "simhash_dedup": oracle_simhash_dedup,
    "dbscan_clusters": oracle_dbscan_clusters,
    "cosine_near_dup": oracle_cosine_near_dup,
    "lsh_ann_topk": oracle_lsh_ann_topk,
    "ann_recall": oracle_ann_recall,
    # kernel/media entries: non-SQL-expressible semantics (stateful HMM,
    # binary codecs), but deterministic seeded outputs -> pinned
    # VALUES-golden oracles (full hash gate; see _golden_oracle)
    "viterbi_match": _golden_oracle("viterbi_match"),
    "x0001_match": _golden_oracle("x0001_match"),
    "route_geojson": _golden_oracle("route_geojson"),
    "video_frame_sample": _golden_oracle("video_frame_sample"),
    "video_phash_dedup": _golden_oracle("video_phash_dedup"),
    "image_resize": _golden_oracle("image_resize"),
    "audio_features": _golden_oracle("audio_features"),
    "image_features": _golden_oracle("image_features"),
    "image_verify": _golden_oracle("image_verify"),
}
