"""Spatial joins: radius / nearest / kNN / point-in-polygon /
raster-tile↔vector joins as DataFrame operators.

These are the engine's "joins" (SURVEY.md §2.3): theta-joins on geodesic
distance, in two families.

- Kernel joins (``radius_join``, ``nearest_join``, ``knn_join``): the
  points side streams through ``mapInArrow`` in Arrow batches; each
  batch probes the broadcast ``RoadIndex``. ``RoadIndex.radius`` is the
  one candidate-and-refine core (cell prefilter + exact geodesic
  refine, spatial/QuadTreeIndex.java:175-200); nearest and kNN are one
  expanding-ring search over it (``RoadIndex._ring``). Physically a
  broadcast hash join fused with its refinement filter: zero shuffle
  on the probe side, which is the only plan that survives 10^12 probe
  rows.
- Codegen joins (``radius_join_fast``, ``nearest_join_fast``,
  ``knn_join_fast``): one pure-Catalyst pipeline — cell equi-join
  against a buffered sub-segment cover table, codegen refine, the
  per-road min reduce — with nearest and kNN adding only a window
  rank.

``point_in_polygon`` ray-casts against broadcast polygons after a cell
prefilter; ``raster_vector_join`` is a pure Catalyst equi-join between a
tile table and the segment cover table on cell id.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from .. import cells, geo, wkbio


def _hit_schema(id_field: StructField):
    return StructType([
        id_field,
        StructField("edge_id", LongType()),
        StructField("fraction", DoubleType()),
        StructField("distance", DoubleType()),
    ])


def _probe_op(points: DataFrame, idx_bc, point_id: str, query_fn) -> DataFrame:
    """Shared probe harness: Arrow record batches in, flat hits out.

    Uses ``mapInArrow`` (not mapInPandas): the probe is bandwidth-bound,
    so skipping the pandas materialization on both sides of the kernel
    measurably raises throughput; lat/lon columns come out zero-copy as
    numpy and the id column is carried arrow-native via take()."""
    id_field = points.schema[point_id]
    schema = _hit_schema(StructField(point_id, id_field.dataType))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        idx = idx_bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = rb.schema.names
            lat = rb.column(names.index("lat")).to_numpy(zero_copy_only=False)
            lon = rb.column(names.index("lon")).to_numpy(zero_copy_only=False)
            pid = rb.column(names.index(point_id))
            pt, eidx, frac, dist = query_fn(idx, lat, lon)
            yield pa.RecordBatch.from_arrays(
                [pid.take(pa.array(pt)), pa.array(idx.edge_id[eidx]),
                 pa.array(frac), pa.array(dist)],
                names=[point_id, "edge_id", "fraction", "distance"])

    return points.select(point_id, "lat", "lon").mapInArrow(run, schema)


def radius_join(points: DataFrame, idx_bc, radius_m: float,
                point_id: str = "point_id") -> DataFrame:
    """All (point, directed-edge, fraction) pairs within radius_m
    (QuadTreeIndex.radius + RoadMap.Index.split semantics)."""
    def q(idx, lat, lon):
        pt, base, frac, dist = idx.radius(lat, lon, radius_m)
        spt, eidx, sfrac, src = idx.split(pt, base, frac)
        return spt, eidx, sfrac, dist[src]
    return _probe_op(points, idx_bc, point_id, q)


def nearest_join(points: DataFrame, idx_bc, point_id: str = "point_id") -> DataFrame:
    """Nearest segment(s) per point, ties kept, as directed edges
    (QuadTreeIndex.nearest via ``RoadIndex.nearest``'s ring search)."""
    def q(idx, lat, lon):
        pt, base, frac, dist = idx.nearest(lat, lon)
        spt, eidx, sfrac, src = idx.split(pt, base, frac)
        return spt, eidx, sfrac, dist[src]
    return _probe_op(points, idx_bc, point_id, q)


def knn_join(points: DataFrame, idx_bc, k: int, point_id: str = "point_id") -> DataFrame:
    """k nearest base segments per point (QuadTreeIndex.knearest);
    returns forward edge ids (undirected hits)."""
    def q(idx, lat, lon):
        pt, base, frac, dist = idx.knearest(lat, lon, k)
        return pt, idx.eid_to_idx(idx.gid[base] * 2), frac, dist
    return _probe_op(points, idx_bc, point_id, q)


# ---------------------------------------------------------------------------
# radius join, pure-Catalyst scale path (no Python in the probe)
# ---------------------------------------------------------------------------

def seg_refine_sql(radius_m: float, lat="lat", lon="lon") -> dict:
    """Shared SQL fragments for the codegen radius refine: planar-
    clamped parameter t on the sub-segment (lon scaled by the segment's
    mean-latitude cosine), spherical haversine distance to the closest
    point, and the global polyline fraction. The SAME text runs through
    Catalyst (F.expr) and DuckDB, so both evaluate identical doubles.
    Expects columns ax, ay, bx, by (segment endpoints, lon/lat),
    cum_before, seg_len, total_len."""
    k = "cos(radians((ay + by) / 2.0e0))"
    dx = f"((bx - ax) * {k})"
    dy = "(by - ay)"
    wx = f"(({lon} - ax) * {k})"
    wy = f"(({lat} - ay))"
    denom = f"greatest({dx} * {dx} + {dy} * {dy}, 1e-30)"
    t = f"least(greatest(({wx} * {dx} + {wy} * {dy}) / {denom}, 0.0e0), 1.0e0)"
    qx = f"(ax + {t} * (bx - ax))"
    qy = f"(ay + {t} * (by - ay))"
    dist = (f"2.0e0 * 6371008.8e0 * asin(sqrt("
            f"pow(sin(radians(({qy}) - ({lat})) / 2.0e0), 2) "
            f"+ cos(radians({lat})) * cos(radians({qy})) "
            f"* pow(sin(radians(({qx}) - ({lon})) / 2.0e0), 2)))")
    frac = f"((cum_before + ({t}) * seg_len) / greatest(total_len, 1e-30))"
    return {"t": t, "dist": dist, "frac": frac}


def segment_parts_pdf(idx, radius_m: float, res: int) -> pd.DataFrame:
    """Buffered sub-segment cover table for the codegen radius join:
    one row per (2-point sub-segment, covering cell), the envelope of
    each sub-segment expanded by radius_m so every point within
    radius_m of the segment shares a cell with its cover. Endpoint and
    cumulative-length columns feed the Catalyst refine. Built once from
    the (small) road relation — the broadcast side."""
    coords, offsets, gid = idx.coords, np.asarray(idx.offsets), idx.gid
    n_poly = len(offsets) - 1
    # sub-segment endpoint index pairs (i, i+1) within each polyline
    poly_of, seg_start = geo._pair_segments(offsets, np.arange(n_poly))
    ax, ay = coords[seg_start, 0], coords[seg_start, 1]
    bx, by = coords[seg_start + 1, 0], coords[seg_start + 1, 1]
    seg_len = geo.distance(ay, ax, by, bx)
    # cumulative length before each sub-segment + polyline totals
    cum = np.zeros(len(seg_len))
    total = np.zeros(n_poly)
    pos = 0
    for p in range(n_poly):
        m = max(offsets[p + 1] - offsets[p] - 1, 0)
        sl = seg_len[pos:pos + m]
        cum[pos:pos + m] = np.concatenate([[0.0], np.cumsum(sl[:-1])])
        total[p] = sl.sum()
        pos += m
    dlat = radius_m / cells.M_PER_DEG_LAT
    coslat = np.cos(np.radians(np.clip(np.abs((ay + by) / 2), 0, 89.0)))
    dlon = radius_m / (cells.M_PER_DEG_LON_EQ * coslat)
    row_idx, cell = cells.cover_envelope(
        np.minimum(ay, by) - dlat, np.maximum(ay, by) + dlat,
        np.minimum(ax, bx) - dlon, np.maximum(ax, bx) + dlon, res)
    return pd.DataFrame({
        "cell": cell,
        "gid": gid[poly_of[row_idx]],
        "ax": ax[row_idx], "ay": ay[row_idx],
        "bx": bx[row_idx], "by": by[row_idx],
        "cum_before": cum[row_idx], "seg_len": seg_len[row_idx],
        "total_len": total[poly_of[row_idx]]})


def _fast_candidates(points: DataFrame, parts_df: DataFrame, radius_m: float,
                     res: int) -> DataFrame:
    """Candidate stage of the codegen join family: cell equi-join +
    refine expressions (dist_m, fraction), kept within radius_m."""
    from . import tiles as T
    fr = seg_refine_sql(radius_m)
    pts = points.withColumn("cell", T.cell_expr(F.col("lat"), F.col("lon"), res))
    return (pts.join(F.broadcast(parts_df), "cell")
            .withColumn("dist_m", F.expr(fr["dist"]))
            .withColumn("fraction", F.expr(fr["frac"]))
            .filter(F.col("dist_m") <= radius_m))


def _fast_per_road(points: DataFrame, parts_df: DataFrame, radius_m: float,
                   res: int, point_id: str) -> DataFrame:
    """Per-road reduce of the codegen candidates: one row per
    (point, gid) at its minimum-distance sub-segment."""
    return (_fast_candidates(points, parts_df, radius_m, res)
            .groupBy(point_id, "gid")
            .agg(F.min("dist_m").alias("distance"),
                 F.expr("min_by(fraction, dist_m)").alias("fraction"))
            .select(point_id, "gid", "fraction", "distance"))


def radius_join_fast(points: DataFrame, parts_df: DataFrame, radius_m: float,
                     res: int, point_id: str = "point_id",
                     single_part: bool = False) -> DataFrame:
    """Radius join with ZERO Python in the probe path: points get a
    cell id via the pure-Catalyst tile expression, broadcast-hash-join
    against the buffered sub-segment cover table on cell, and the
    distance refine is a codegen'd planar-clamped + haversine
    expression. Whole-stage codegen end to end — this is the 10^12-row
    scale path (the exact-Vincenty kernel join is the parity path; the
    planar/haversine refine differs from it by < ~0.5% at sub-km radii,
    bounded in tests).

    Returns one row per (point, road): (point_id, gid, fraction,
    distance) at the minimum-distance sub-segment — the undirected form
    of joins.radius_join.

    single_part=True asserts every road geometry is a single 2-point
    segment (the normal form of the reference's split road relation,
    map/tools/bfmap.py segmentation): each (point, gid) pair is then
    unique by construction and the min-per-road aggregation — the only
    shuffle in this plan — is skipped entirely, leaving a pure
    map-side broadcast-join pipeline."""
    if single_part:
        return (_fast_candidates(points, parts_df, radius_m, res)
                .select(point_id, "gid", "fraction",
                        F.col("dist_m").alias("distance")))
    return _fast_per_road(points, parts_df, radius_m, res, point_id)


def nearest_join_fast(points: DataFrame, parts_df: DataFrame,
                      max_radius_m: float, res: int,
                      point_id: str = "point_id") -> DataFrame:
    """Nearest road within max_radius_m per point, ties kept (the
    kernel nearest_join's tie semantics) — pure Catalyst: the codegen
    per-road candidates ranked by rank() over distance, rank 1 kept.
    Points with no road within max_radius_m produce no row (the
    kernel's ring search keeps expanding; at 10^12 scale a bounded
    nearest is the correct contract — unbounded search belongs to the
    broadcast-kernel path). parts_df must be built with
    segment_parts_pdf(idx, max_radius_m, res) so the cover guarantees
    completeness within the bound."""
    w = Window.partitionBy(point_id).orderBy(F.col("distance").asc())
    return (_fast_per_road(points, parts_df, max_radius_m, res, point_id)
            .withColumn("rnk", F.rank().over(w))
            .filter(F.col("rnk") == 1)
            .select(point_id, "gid", "fraction", "distance"))


def knn_join_fast(points: DataFrame, parts_df: DataFrame, k: int,
                  max_radius_m: float, res: int,
                  point_id: str = "point_id") -> DataFrame:
    """k nearest roads within max_radius_m per point — the codegen
    per-road candidates ranked by row_number() over (distance, gid),
    rank <= k kept (deterministic tie-break by gid, matching the
    kernel's ordering). Bounded-kNN contract as nearest_join_fast; if
    fewer than k roads lie within the bound the point yields fewer rows
    (the kernel's ring search would keep going —
    QuadTreeIndex.java:243-247's radius guard is what makes the bounded
    form correct)."""
    w = Window.partitionBy(point_id).orderBy(F.col("distance").asc(),
                                             F.col("gid").asc())
    return (_fast_per_road(points, parts_df, max_radius_m, res, point_id)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select(point_id, "gid", "fraction", "distance",
                    F.col("rnk").cast("long").alias("rnk")))


# ---------------------------------------------------------------------------
# point-in-polygon (ray casting; polygon predicate of
# roadmap/RoadMap.java:272-277 re-expressed for points)
# ---------------------------------------------------------------------------

def ray_cast(lat, lon, rings) -> np.ndarray:
    """Vectorized even-odd ray casting of points against one polygon
    (list of rings, exterior first; holes subtract)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    inside = np.zeros(len(lat), dtype=bool)
    for ring in rings:
        x = ring[:, 0]
        y = ring[:, 1]
        x0, y0 = x[:-1], y[:-1]
        x1, y1 = x[1:], y[1:]
        # crossings: for each point, edges straddling its latitude
        # (lat plays y). shape (points, edges) — batched but chunked to
        # bound memory.
        for s in range(0, len(lat), 65536):
            pl = lat[s:s + 65536, None]
            pn = lon[s:s + 65536, None]
            straddle = (y0 > pl) != (y1 > pl)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x0 + (pl - y0) / np.where(y1 == y0, 1, y1 - y0) * (x1 - x0)
            cross = straddle & (pn < xint)
            inside[s:s + 65536] ^= (cross.sum(axis=1) % 2).astype(bool)
    return inside


def point_in_polygon(points: DataFrame, polygons_bc, point_id: str = "point_id") -> DataFrame:
    """points(lat, lon) x broadcast polygons -> (point_id, polygon_id).

    polygons_bc: broadcast list of (polygon_id, rings) where rings are
    (n,2) lon/lat arrays. Envelope prefilter per polygon, exact
    ray-cast refine.
    """
    id_field = points.schema[point_id]
    schema = StructType([StructField(point_id, id_field.dataType),
                         StructField("polygon_id", StringType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        polys = polygons_bc.value
        envs = []
        for pid, rings in polys:
            ext = rings[0]
            envs.append((pid, rings, ext[:, 1].min(), ext[:, 1].max(),
                         ext[:, 0].min(), ext[:, 0].max()))
        for pdf in batches:
            if not len(pdf):
                continue
            lat = pdf["lat"].to_numpy(np.float64)
            lon = pdf["lon"].to_numpy(np.float64)
            ids = pdf[point_id].to_numpy()
            out_pt, out_poly = [], []
            for pid, rings, y0, y1, x0, x1 in envs:
                cand = (lat >= y0) & (lat <= y1) & (lon >= x0) & (lon <= x1)
                if not cand.any():
                    continue
                hit = ray_cast(lat[cand], lon[cand], rings)
                sel = np.nonzero(cand)[0][hit]
                out_pt.append(ids[sel])
                out_poly.append(np.full(len(sel), pid, dtype=object))
            if out_pt:
                yield pd.DataFrame({point_id: np.concatenate(out_pt),
                                    "polygon_id": np.concatenate(out_poly)})

    return points.select(point_id, "lat", "lon").mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# raster tile <-> vector geometry join
# ---------------------------------------------------------------------------

def segment_cells_df(spark: SparkSession, idx_bc, res: int) -> DataFrame:
    """Cover table (edge gid, cell) from the broadcast index — the
    vector side of the raster join. Small relative to tiles; marked
    broadcastable."""
    idx = idx_bc.value
    row_idx, cell = cells.cover_polyline(idx.coords, idx.offsets, res)
    pdf = pd.DataFrame({"gid": idx.gid[row_idx], "cell": cell})
    return spark.createDataFrame(pdf)


def raster_vector_join(tiles: DataFrame, seg_cells: DataFrame,
                       cell_col: str = "cell") -> DataFrame:
    """Equi-join image tiles to road segments sharing a cell — pure
    Catalyst broadcast join (the cover table is the small side)."""
    return tiles.join(F.broadcast(seg_cells),
                      tiles[cell_col] == seg_cells["cell"], "inner") \
        .drop(seg_cells["cell"])
