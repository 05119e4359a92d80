"""Broadcast road index: cell->segment lookup + geometry arrays + CSR
adjacency — the engine's RoadMap analog.

Replaces the reference's in-JVM quadtree + object graph
(spatial/QuadTreeIndex.java:40-111, roadmap/RoadMap.java:63-192,
topology/Graph.java:89-113) with flat numpy arrays that serialize once
per executor via ``SparkContext.broadcast`` — the distribution shape
barefoot itself prescribes for Spark (wiki/Home.md:716-770). All queries
are batch queries: arrays of points in, flat (point_idx, hit) arrays out;
they run inside Arrow-batched pandas UDFs with zero per-row Python.

Scale note: the roads relation for even a continental road network is
O(10^7) rows — a few hundred MB of packed arrays — while the driving
table (images/samples) is the 10^12-row side. Broadcasting the small
dimension and streaming the big side through mapInPandas is the same
physical plan as a Catalyst broadcast-hash-join, but keeps the exact
geodesic refinement fused into the probe pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import cells, geo, wkbio


class RoadIndex:
    """Immutable numpy road map: base segments, cell index, directed
    edges, adjacency, and cost vectors."""

    def __init__(self, roads_pdf: pd.DataFrame, res: int = 14):
        self.res = int(res)
        pdf = roads_pdf.sort_values("gid").reset_index(drop=True)
        self.gid = pdf["gid"].to_numpy(np.int64)
        self.osm_id = pdf["osm_id"].to_numpy(np.int64)
        self.oneway = pdf["oneway"].to_numpy(bool)
        self.priority = pdf["priority"].to_numpy(np.float64)
        self.maxspeed_f = pdf["maxspeed_forward"].to_numpy(np.float64)
        self.maxspeed_b = pdf["maxspeed_backward"].to_numpy(np.float64)
        self.src_vertex = pdf["source"].to_numpy(np.int64)
        self.dst_vertex = pdf["target"].to_numpy(np.int64)
        self.class_id = pdf["class_id"].to_numpy(np.int64)

        # geometry CSR (base orientation source->target)
        geoms = [wkbio.wkb_to_linestring(b) for b in pdf["geom_wkb"]]
        counts = np.array([len(g) for g in geoms], dtype=np.int64)
        self.offsets = np.zeros(len(geoms) + 1, dtype=np.int64)
        np.cumsum(counts, out=self.offsets[1:])
        self.coords = (np.concatenate(geoms, axis=0) if geoms
                       else np.zeros((0, 2), dtype=np.float64))
        # geodesic length recomputed from geometry (PostGISReader.java:162)
        self.length = geo.polyline_length(self.coords, self.offsets)

        # cell -> base-segment CSR (QuadTreeIndex.add analog)
        row_idx, cell = cells.cover_polyline(self.coords, self.offsets, self.res)
        # (lat_min, lat_max, lon_min, lon_max) of the coordinates, padded
        # by one cell edge: it holds every indexed cell
        edge = cells.res_edge_deg(self.res)
        lon, lat = self.coords[:, 0], self.coords[:, 1]
        self.extent = (lat.min(initial=np.inf) - edge, lat.max(initial=-np.inf) + edge,
                       lon.min(initial=np.inf) - edge, lon.max(initial=-np.inf) + edge)
        order = np.argsort(cell, kind="stable")
        cell_s, row_s = cell[order], row_idx[order]
        self.cell_ids, starts = np.unique(cell_s, return_index=True)
        self.cell_offsets = np.append(starts, len(cell_s)).astype(np.int64)
        self.cell_members = row_s  # base indices grouped by cell

        self._build_edges()

    # ------------------------------------------------------------------
    # directed edges + adjacency (RoadMap.split + Graph.construct analog)
    # ------------------------------------------------------------------
    def _build_edges(self):
        n = len(self.gid)
        two = ~self.oneway
        fwd_eid = self.gid * 2
        bwd_eid = self.gid[two] * 2 + 1
        self.edge_id = np.concatenate([fwd_eid, bwd_eid])
        self.edge_base = np.concatenate([np.arange(n), np.nonzero(two)[0]])
        self.edge_forward = np.concatenate([np.ones(n, bool), np.zeros(two.sum(), bool)])
        order = np.argsort(self.edge_id)
        self.edge_id = self.edge_id[order]
        self.edge_base = self.edge_base[order]
        self.edge_forward = self.edge_forward[order]

        b = self.edge_base
        self.edge_len = self.length[b]
        ms = np.where(self.edge_forward, self.maxspeed_f[b], self.maxspeed_b[b])
        self.edge_src = np.where(self.edge_forward, self.src_vertex[b], self.dst_vertex[b])
        self.edge_dst = np.where(self.edge_forward, self.dst_vertex[b], self.src_vertex[b])
        # cost vectors (Distance/Time/TimePriority, roadmap/*.java)
        self.cost_dist = self.edge_len
        self.cost_time = self.edge_len * 3.6 / np.minimum(ms, 130.0)
        self.cost_timeprio = self.cost_time * np.maximum(1.0, self.priority[b])

        # edge_id -> dense edge index lookup
        self._eid_sorted = self.edge_id  # already sorted
        # successor CSR: successors of e = all edges with source == e.target
        # (Graph.construct, topology/Graph.java:89-113)
        vsort = np.argsort(self.edge_src, kind="stable")
        src_sorted = self.edge_src[vsort]
        uniq_v, v_starts = np.unique(src_sorted, return_index=True)
        v_offsets = np.append(v_starts, len(src_sorted))
        pos = np.searchsorted(uniq_v, self.edge_dst)
        found = (pos < len(uniq_v))
        found[found] = uniq_v[pos[found]] == self.edge_dst[found]
        succ_counts = np.where(found, v_offsets[np.minimum(pos + 1, len(uniq_v))] - v_offsets[np.minimum(pos, len(uniq_v) - 1)], 0)
        self.succ_offsets = np.zeros(len(self.edge_id) + 1, dtype=np.int64)
        np.cumsum(succ_counts, out=self.succ_offsets[1:])
        succ = np.zeros(self.succ_offsets[-1], dtype=np.int64)
        for i in np.nonzero(found)[0]:
            s, e = v_offsets[pos[i]], v_offsets[pos[i] + 1]
            succ[self.succ_offsets[i]:self.succ_offsets[i + 1]] = vsort[s:e]
        self.successors = succ  # dense edge indices

    def eid_to_idx(self, eid):
        """edge_id array -> dense edge index (-1 if absent)."""
        eid = np.asarray(eid, dtype=np.int64)
        pos = np.searchsorted(self._eid_sorted, eid)
        pos_c = np.minimum(pos, len(self._eid_sorted) - 1)
        ok = (pos < len(self._eid_sorted)) & (self._eid_sorted[pos_c] == eid)
        return np.where(ok, pos_c, -1)

    # ------------------------------------------------------------------
    # candidate lookup (cell prefilter), QuadTreeIndex.getIterator analog
    # ------------------------------------------------------------------
    def _candidates_for_envelopes(self, lat_min, lat_max, lon_min, lon_max):
        """(point_idx, base_idx) pairs whose indexed cells intersect the
        per-point envelopes; deduplicated. Each envelope is first clamped
        to ``self.extent``, which keeps every indexed cell it touches, and
        dropped if that leaves it empty: an off-map envelope, up to the
        whole globe in the ring search's last rings, lists no more cells
        than the map has."""
        lat_lo, lat_hi, lon_lo, lon_hi = self.extent
        lat_min, lat_max = np.maximum(lat_min, lat_lo), np.minimum(lat_max, lat_hi)
        lon_min, lon_max = np.maximum(lon_min, lon_lo), np.minimum(lon_max, lon_hi)
        rows = np.nonzero((lat_min <= lat_max) & (lon_min <= lon_max))[0]
        row_idx, cell = cells.cover_envelope(lat_min[rows], lat_max[rows],
                                             lon_min[rows], lon_max[rows], self.res)
        row_idx = rows[row_idx]
        pos = np.searchsorted(self.cell_ids, cell)
        pos_c = np.minimum(pos, max(len(self.cell_ids) - 1, 0))
        ok = np.zeros(len(cell), dtype=bool)
        if len(self.cell_ids):
            ok = (pos < len(self.cell_ids)) & (self.cell_ids[pos_c] == cell)
        row_idx, pos = row_idx[ok], pos_c[ok]
        hit, local = geo.ragged(self.cell_offsets[pos + 1] - self.cell_offsets[pos])
        pair_pt = row_idx[hit]
        pair_base = self.cell_members[self.cell_offsets[pos][hit] + local]
        # dedup (point, base)
        if len(pair_pt):
            key = pair_pt * np.int64(len(self.gid)) + pair_base
            _, keep = np.unique(key, return_index=True)
            pair_pt, pair_base = pair_pt[keep], pair_base[keep]
        return pair_pt, pair_base

    def _refine(self, pair_pt, pair_base, lat, lon):
        """Exact geodesic refinement: global fraction + distance per
        (point, base-segment) pair (QuadTreeIndex.java:186-196)."""
        frac, dist = geo.polyline_intercept(
            self.coords, self.offsets, lat[pair_pt], lon[pair_pt],
            poly_for_point=pair_base)
        return frac, dist

    # ------------------------------------------------------------------
    # queries — batch analogs of QuadTreeIndex.radius/nearest/knearest
    # ------------------------------------------------------------------
    _CHUNK = 32768  # keep per-chunk temporaries L3-resident: elementwise
    # numpy is DRAM-bandwidth-bound, and 8+ parallel workers saturate the
    # socket unless the streamed working set stays in cache

    def radius(self, lat, lon, radius_m):
        """All base segments with closest point strictly within radius_m
        (QuadTreeIndex.java:176-200). Returns (point_idx, base_idx,
        fraction, distance) flat arrays."""
        lat = np.asarray(lat, dtype=np.float64)
        lon = np.asarray(lon, dtype=np.float64)
        if len(lat) > self._CHUNK:
            parts = []
            for s in range(0, len(lat), self._CHUNK):
                pt, base, frac, dist = self._radius_chunk(
                    lat[s:s + self._CHUNK], lon[s:s + self._CHUNK], radius_m)
                parts.append((pt + s, base, frac, dist))
            return tuple(np.concatenate([p[i] for p in parts]) for i in range(4))
        return self._radius_chunk(lat, lon, radius_m)

    def _radius_chunk(self, lat, lon, radius_m):
        lat_min, lat_max, lon_min, lon_max = geo.envelope(lat, lon, float(radius_m))
        pair_pt, pair_base = self._candidates_for_envelopes(lat_min, lat_max, lon_min, lon_max)
        # cheap planar prefilter (conservative 2%+5m slack) before the
        # exact geodesic refine — cuts refine pairs ~10x on dense maps
        approx = geo.polyline_min_dist_planar(
            self.coords, self.offsets, lat[pair_pt], lon[pair_pt], pair_base)
        near = approx < radius_m * 1.02 + 5.0
        pair_pt, pair_base = pair_pt[near], pair_base[near]
        frac, dist = self._refine(pair_pt, pair_base, lat, lon)
        keep = dist < radius_m
        return pair_pt[keep], pair_base[keep], frac[keep], dist[keep]

    def _ring(self, lat, lon, k, start_radius):
        """Expanding-ring search shared by nearest and knearest
        (QuadTreeIndex.java:131-262): probe ``radius`` at start_radius,
        doubling up to 4e7 m; a point is settled at the first ring that
        holds >= k hits, and all its hits in that ring are kept. Only
        hits strictly inside the ring count — the reference's guard
        (QuadTreeIndex.java:156-165, :243-247): a segment whose envelope
        overlaps ring r can lie beyond r while a closer one lies just
        outside the searched envelope. Returns (point_idx, base_idx,
        fraction, distance), ring by ring."""
        lat = np.asarray(lat, dtype=np.float64)
        lon = np.asarray(lon, dtype=np.float64)
        pending = np.arange(len(lat))
        radius = float(start_radius)
        acc = []
        while len(pending) and radius < 4e7:
            pair_pt, pair_base, frac, dist = self.radius(
                lat[pending], lon[pending], radius)
            done = np.bincount(pair_pt, minlength=len(pending)) >= k
            if done.any():
                sel = done[pair_pt]
                acc.append((pending[pair_pt[sel]], pair_base[sel],
                            frac[sel], dist[sel]))
            pending = pending[~done]
            radius *= 2
        if not acc:
            return (np.zeros(0, np.int64),) * 2 + (np.zeros(0),) * 2
        return tuple(np.concatenate([a[i] for a in acc]) for i in range(4))

    def nearest(self, lat, lon, start_radius=100.0):
        """Nearest base segment(s) per point, ties kept: the ring search
        with k = 1, keeping every hit at the point's minimum distance.
        Returns (point_idx, base_idx, fraction, distance)."""
        pt, base, frac, dist = self._ring(lat, lon, 1, start_radius)
        best = np.full(len(lat), np.inf)
        np.minimum.at(best, pt, dist)
        keep = dist == best[pt]
        return pt[keep], base[keep], frac[keep], dist[keep]

    def knearest(self, lat, lon, k, start_radius=100.0):
        """k nearest base segments per point: the ring search settles a
        point once its ring holds >= k hits, then the k smallest
        (distance, base) are kept. Returns (point_idx, base_idx,
        fraction, distance) with <= k rows per point."""
        pt, base, frac, dist = self._ring(lat, lon, k, start_radius)
        # top-k per point: sort by (pt, dist, base) then rank — base id as
        # the deterministic tie-break (the reference's HashSet iteration
        # is JVM-nondeterministic on ties; SURVEY.md §2.6 fixes ordering)
        order = np.lexsort((base, dist, pt))
        pt, base, frac, dist = pt[order], base[order], frac[order], dist[order]
        first = np.nonzero(np.diff(pt, prepend=-1))[0]
        rank = np.arange(len(pt)) - first[np.searchsorted(pt[first], pt)]
        keep = rank < k
        return pt[keep], base[keep], frac[keep], dist[keep]

    def split(self, pair_pt, pair_base, frac):
        """Directed candidate expansion (RoadMap.Index.split,
        roadmap/RoadMap.java:81-97): every undirected hit becomes the
        forward edge (fraction f) plus, if two-way, the backward edge
        (fraction 1-f). Returns (point_idx, edge_idx, fraction,
        src_pair_idx) where src_pair_idx maps each output row back to its
        input (point, base) pair — lets callers carry per-pair values
        (e.g. refine distance) across the split without lookups."""
        fwd_idx = self.eid_to_idx(self.gid[pair_base] * 2)
        bwd_eid = self.gid[pair_base] * 2 + 1
        bwd_idx = self.eid_to_idx(bwd_eid)
        has_bwd = bwd_idx >= 0
        n = len(pair_pt)
        pt = np.concatenate([pair_pt, pair_pt[has_bwd]])
        eidx = np.concatenate([fwd_idx, bwd_idx[has_bwd]])
        fr = np.concatenate([frac, 1.0 - frac[has_bwd]])
        src = np.concatenate([np.arange(n, dtype=np.int64), np.nonzero(has_bwd)[0]])
        return pt, eidx, fr, src

    def edge_point(self, eidx, frac):
        """Interpolated coordinate + azimuth for (edge, fraction) —
        RoadPoint's eager geometry (roadmap/RoadPoint.java:39-43).
        Fractions are along the DIRECTED edge geometry."""
        eidx = np.asarray(eidx, dtype=np.int64)
        frac = np.asarray(frac, dtype=np.float64)
        base = self.edge_base[eidx]
        fwd = self.edge_forward[eidx]
        base_frac = np.where(fwd, frac, 1.0 - frac)
        lat, lon, azi = geo.polyline_point_azimuth(
            self.coords, self.offsets, base_frac, poly_for_point=base,
            lengths=self.length)
        azi = np.where(fwd, azi, (azi + 180.0) % 360.0)
        return lat, lon, azi

    def cost_vector(self, name: str):
        return {"distance": self.cost_dist, "time": self.cost_time,
                "timeprio": self.cost_timeprio}[name]

    def succ_lists(self) -> list:
        """Per-edge successor lists as Python ints, memoized — the
        Dijkstra hot loops are much faster on list-of-lists than on
        numpy CSR slices."""
        sl = getattr(self, "_succ_lists", None)
        if sl is None:
            offs, succ = self.succ_offsets, self.successors.tolist()
            sl = self._succ_lists = [
                succ[offs[e]:offs[e + 1]] for e in range(len(self.edge_id))]
        return sl

    def pred_lists(self) -> list:
        """Per-edge predecessor lists (reverse adjacency), memoized —
        lets the cached-route replay synthesize reach marks with one
        dict lookup per pop instead of scanning successors."""
        pl = getattr(self, "_pred_lists", None)
        if pl is None:
            pl = [[] for _ in range(len(self.edge_id))]
            for e, succs in enumerate(self.succ_lists()):
                for s in succs:
                    pl[s].append(e)
            self._pred_lists = pl
        return pl

    def cost_list(self, name: str) -> list:
        """Python-list view of a cost vector, memoized — the per-pair
        path walks in the HMM kernel are ~5x faster on float lists than
        on numpy scalar indexing."""
        cache = getattr(self, "_cost_lists", None)
        if cache is None:
            cache = self._cost_lists = {}
        if name not in cache:
            cache[name] = self.cost_vector(name).tolist()
        return cache[name]

    def base_list(self) -> list:
        """Python-list view of edge_base (memoized) — the shorten-turns
        test in the HMM pair loop indexes it per candidate pair."""
        if getattr(self, "_base_list", None) is None:
            self._base_list = self.edge_base.tolist()
        return self._base_list

    def len_list(self) -> list:
        if getattr(self, "_len_list", None) is None:
            self._len_list = self.edge_len.tolist()
        return self._len_list
