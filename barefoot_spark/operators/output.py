"""Result sinks: route geometry + the reference's output formats.

Re-expresses barefoot's four result formatters (slim JSON / GeoJSON /
debug / full state — matcher/MatcherServer.java:101-198,
matcher/MatcherKState.java:71-253) as DataFrame projections over the
matched rows, plus the route-geometry clipping of Route.geometry()
(roadmap/Route.java:132-202): interpolated start point, interior
vertices past the source fraction, middle edges' vertices, interior
vertices before the target fraction, interpolated end point; same-edge
routes sub-clip between the two fractions.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, DoubleType, StringType, StructField, StructType

from .. import geo
from ..index import RoadIndex


def route_geometry(idx: RoadIndex, route_eids, start_frac, end_frac):
    """Coordinates (lon, lat) of a matched transition route.

    route_eids: directed edge-id path (first=source edge, last=target);
    start_frac/end_frac: fractions on the first/last edge (directed).
    Mirrors Route.geometry() vertex selection exactly.
    """
    if not len(route_eids):
        return np.zeros((0, 2))
    eidx = idx.eid_to_idx(np.asarray(route_eids, dtype=np.int64))

    def edge_coords(e):
        b = idx.edge_base[e]
        c = idx.coords[idx.offsets[b]:idx.offsets[b + 1]]
        return c if idx.edge_forward[e] else c[::-1]

    def seg_cum(c):
        d = geo.distance(c[:-1, 1], c[:-1, 0], c[1:, 1], c[1:, 0])
        return np.concatenate(([0.0], np.cumsum(d)))

    out = []
    slat, slon, _ = idx.edge_point(eidx[:1], np.array([start_frac]))
    out.append([float(slon[0]), float(slat[0])])

    if len(eidx) > 1:
        # source edge: vertices strictly past the source fraction length
        c = edge_coords(eidx[0])
        cum = seg_cum(c)
        f = idx.edge_len[eidx[0]] * start_frac
        for j in range(1, len(c)):
            if cum[j] > f:
                out.append([float(c[j, 0]), float(c[j, 1])])
        # middle edges: all vertices but the first
        for e in eidx[1:-1]:
            c = edge_coords(e)
            for j in range(1, len(c)):
                out.append([float(c[j, 0]), float(c[j, 1])])
        # target edge: interior vertices before the target fraction
        c = edge_coords(eidx[-1])
        cum = seg_cum(c)
        f = idx.edge_len[eidx[-1]] * end_frac
        for j in range(1, len(c) - 1):
            if cum[j] >= f:
                break
            out.append([float(c[j, 0]), float(c[j, 1])])
    else:
        c = edge_coords(eidx[0])
        cum = seg_cum(c)
        sf = idx.edge_len[eidx[0]] * start_frac
        tf = idx.edge_len[eidx[0]] * end_frac
        for j in range(1, len(c) - 1):
            if cum[j] <= sf:
                continue
            if cum[j] >= tf:
                break
            out.append([float(c[j, 0]), float(c[j, 1])])

    tlat, tlon, _ = idx.edge_point(eidx[-1:], np.array([end_frac]))
    out.append([float(tlon[0]), float(tlat[0])])
    return np.array(out)


def with_route_geometry(matched: DataFrame, idx_bc) -> DataFrame:
    """Adds route_coords (array of [lon, lat]) per matched step — the
    per-transition geometry used by the GeoJSON/debug sinks."""
    schema = StructType(matched.schema.fields + [
        StructField("route_coords", ArrayType(ArrayType(DoubleType())))])
    cols = [f.name for f in matched.schema.fields]

    def run(batches):
        for pdf in batches:
            idx = idx_bc.value
            coords = []
            # previous fraction per (trace, seq) for route start
            pdf = pdf.sort_values(["trace_id", "seq"])
            prev_frac: dict = {}
            for r in pdf.itertuples(index=False):
                route = list(r.route_edges) if r.route_edges is not None else []
                if len(route) < 1 or r.seq == 0:
                    coords.append([])
                else:
                    sf = prev_frac.get(r.trace_id, 0.0)
                    g = route_geometry(idx, route, sf, r.fraction)
                    coords.append([[float(x), float(y)] for x, y in g])
                prev_frac[r.trace_id] = r.fraction
            out = pdf.copy()
            out["route_coords"] = coords
            yield out

    return matched.repartition("trace_id").sortWithinPartitions("trace_id", "seq") \
        .mapInPandas(run, schema)


def to_geojson(matched_with_geom: DataFrame) -> DataFrame:
    """Per-trace GeoJSON MultiLineString of the matched routes
    (MatcherKState.toGeoJSON, matcher/MatcherKState.java:71-110)."""
    agg = (matched_with_geom
           .filter(F.size("route_coords") > 0)
           .orderBy("seq")
           .groupBy("trace_id")
           .agg(F.collect_list("route_coords").alias("lines")))

    def fmt(pdf_iter):
        for pdf in pdf_iter:
            rows = []
            for r in pdf.itertuples(index=False):
                gj = {"type": "MultiLineString",
                      "coordinates": [[list(map(float, pt)) for pt in line]
                                      for line in r.lines]}
                rows.append((r.trace_id, json.dumps(gj)))
            yield pd.DataFrame(rows, columns=["trace_id", "geojson"])

    schema = StructType([StructField("trace_id", StringType()),
                         StructField("geojson", StringType())])
    return agg.mapInPandas(fmt, schema)


def to_slim_json(matched: DataFrame) -> DataFrame:
    """Slim output: per step (road id, fraction) + route edge ids
    (MatcherKState.toSlimJSON analog) — pure projection."""
    return matched.select(
        "trace_id", "seq", "sample_id", "time",
        F.to_json(F.struct(
            F.col("edge_id").alias("road"),
            F.col("fraction").alias("frac"),
            F.col("route_edges").alias("route"))).alias("slim"))


def to_debug_json(matched: DataFrame) -> DataFrame:
    """Debug output: everything incl. probabilities
    (MatcherKState.toDebugJSON analog)."""
    return matched.select(
        "trace_id", "seq",
        F.to_json(F.struct("sample_id", "time", "edge_id", "fraction",
                           "lat", "lon", "azimuth", "route_length",
                           "filtprob", "seqprob")).alias("debug"))


def to_osm_json(matched: DataFrame, idx_bc) -> DataFrame:
    """OSM-referenced output (MatcherKState.toOSMJSON,
    matcher/MatcherKState.java:206-258): every road reference is
    rewritten to the "osm_refid:source:target" form (getOSMRoad,
    MatcherKState.java:207-209) — the matched point's road and every
    road of the transition route. One mapInPandas over the matched
    rows with the broadcast index (same pattern as route geometry)."""
    schema = StructType([StructField("trace_id", StringType()),
                         StructField("seq", StringType()),
                         StructField("osm_json", StringType())])

    def run(batches):
        idx = idx_bc.value

        def osm(ei: int) -> str:
            return (f"{int(idx.osm_id[idx.edge_base[ei]])}:"
                    f"{int(idx.edge_src[ei])}:{int(idx.edge_dst[ei])}")

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                ei = int(idx.eid_to_idx(np.array([r.edge_id]))[0])
                route = [int(e) for e in r.route_edges] \
                    if r.route_edges is not None else []
                ris = idx.eid_to_idx(np.array(route, dtype=np.int64)) \
                    if route else []
                obj = {"id": r.trace_id, "time": int(r.time),
                       "point": {"road": osm(ei),
                                 "frac": float(r.fraction)},
                       "route": [osm(int(x)) for x in ris]}
                rows.append((r.trace_id, str(int(r.seq)), json.dumps(obj)))
            yield pd.DataFrame(rows,
                               columns=["trace_id", "seq", "osm_json"])

    return matched.select("trace_id", "seq", "time", "edge_id", "fraction",
                          "route_edges").mapInPandas(run, schema)
