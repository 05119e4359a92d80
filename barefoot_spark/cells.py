"""Deterministic hierarchical grid-cell index ("bfcell") — the engine's
H3/S2 analog.

Plays the role of barefoot's quadtree spatial index
(reference: src/main/java/com/bmwcarit/barefoot/spatial/QuadTreeIndex.java:40-57,
fixed world extent (-180,-90,180,90), height 16): a fixed world-extent
hierarchical square grid in degrees. A cell id packs
(resolution, ix, iy) into one positive int64, so cell columns are plain
LongType, equi-joinable, sortable, and prefix-prunable (a parent cell id
is a deterministic function of a child id — the partition-pruning key at
scale).

At resolution r the grid is (2^(r+1)) x (2^r) cells of edge
180/2^r degrees; r=15 ≈ 610 m of latitude per cell. No external library:
every function here is pure vectorized numpy so it runs inside pandas
UDFs on executors (no per-row Python, per the north rule).
"""

from __future__ import annotations

import numpy as np

from . import geo

MAX_RES = 28
# meters per degree (spherical mean) — used only to size rings/covers
# conservatively; exact membership always re-checked geodesically.
M_PER_DEG_LAT = 111194.93
M_PER_DEG_LON_EQ = 111319.49

_IY_BITS = 29
_IX_BITS = 30
_IX_SHIFT = _IY_BITS
_RES_SHIFT = _IY_BITS + _IX_BITS


def res_edge_deg(res):
    """Cell edge length in degrees at resolution res."""
    return 180.0 / (1 << int(res))


def res_for_edge_m(edge_m, lat=0.0):
    """Finest resolution whose cell edge is at least edge_m meters of
    latitude — choose index resolution from expected query radius."""
    deg = edge_m / M_PER_DEG_LAT
    res = int(np.floor(np.log2(180.0 / deg)))
    return max(0, min(MAX_RES, res))


def latlng_to_cell(lat, lon, res):
    """Vectorized point -> cell id (tile assignment)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    edge = res_edge_deg(res)
    nx = int(round(360.0 / edge))
    ny = int(round(180.0 / edge))
    ix = np.floor((lon + 180.0) / edge).astype(np.int64)
    iy = np.floor((lat + 90.0) / edge).astype(np.int64)
    ix = np.clip(ix, 0, nx - 1)
    iy = np.clip(iy, 0, ny - 1)
    return pack(res, ix, iy)


def pack(res, ix, iy):
    return (np.int64(res) << _RES_SHIFT) | (np.asarray(ix, dtype=np.int64) << _IX_SHIFT) \
        | np.asarray(iy, dtype=np.int64)


def unpack(cell):
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> _RES_SHIFT
    ix = (cell >> _IX_SHIFT) & ((1 << _IX_BITS) - 1)
    iy = cell & ((1 << _IY_BITS) - 1)
    return res, ix, iy


def cell_to_parent(cell, parent_res):
    """Coarser ancestor cell — the partition/pruning prefix."""
    res, ix, iy = unpack(cell)
    dr = res - np.int64(parent_res)
    return pack(parent_res, ix >> dr, iy >> dr)


def cell_center(cell):
    res, ix, iy = unpack(cell)
    edge = 180.0 / (1 << int(np.max(res))) if np.ndim(res) else res_edge_deg(int(res))
    edge = 180.0 / np.power(2.0, res.astype(np.float64))
    lon = (ix.astype(np.float64) + 0.5) * edge - 180.0
    lat = (iy.astype(np.float64) + 0.5) * edge - 90.0
    return lat, lon


def cover_envelope(lat_min, lat_max, lon_min, lon_max, res):
    """All cells intersecting per-row envelopes.

    Vectorized over rows; returns (row_idx, cell) flat arrays. This is
    the index-build primitive (segment envelope -> cells, analog of
    QuadTreeIndex.add which indexes geometry envelopes,
    QuadTreeIndex.java:101-111) and the query-side envelope prefilter
    (QuadTreeIndex.java:179-186).
    """
    lat_min = np.atleast_1d(np.asarray(lat_min, dtype=np.float64))
    lat_max = np.atleast_1d(np.asarray(lat_max, dtype=np.float64))
    lon_min = np.atleast_1d(np.asarray(lon_min, dtype=np.float64))
    lon_max = np.atleast_1d(np.asarray(lon_max, dtype=np.float64))
    edge = res_edge_deg(res)
    nx = int(round(360.0 / edge))
    ny = int(round(180.0 / edge))
    ix0 = np.clip(np.floor((lon_min + 180.0) / edge).astype(np.int64), 0, nx - 1)
    ix1 = np.clip(np.floor((lon_max + 180.0) / edge).astype(np.int64), 0, nx - 1)
    iy0 = np.clip(np.floor((lat_min + 90.0) / edge).astype(np.int64), 0, ny - 1)
    iy1 = np.clip(np.floor((lat_max + 90.0) / edge).astype(np.int64), 0, ny - 1)

    wx = (ix1 - ix0 + 1)
    wy = (iy1 - iy0 + 1)
    # local rank within each row's rectangle
    row_idx, local = geo.ragged(wx * wy)
    ix = ix0[row_idx] + local % wx[row_idx]
    iy = iy0[row_idx] + local // wx[row_idx]
    return row_idx, pack(res, ix, iy)


def cover_radius(lat, lon, radius_m, res):
    """Cells intersecting the geodesic envelope of circles — the
    query-side k-ring (QuadTreeIndex radius query prefilter,
    QuadTreeIndex.java:179-186 via Geography.envelope)."""
    lat_min, lat_max, lon_min, lon_max = geo.envelope(
        np.asarray(lat, dtype=np.float64), np.asarray(lon, dtype=np.float64),
        float(radius_m))
    return cover_envelope(lat_min, lat_max, lon_min, lon_max, res)


def cover_polyline(coords, offsets, res, pad_m=0.0):
    """Cells covering each polyline's envelope (+optional meter padding).
    Index-build primitive for the roads table. A polyline without
    vertices has no envelope and gets no cell."""
    offsets = np.asarray(offsets, dtype=np.int64)
    n = len(offsets) - 1
    rows = np.flatnonzero(np.diff(offsets) > 0)
    lon = coords[:, 0]
    lat = coords[:, 1]
    poly_idx = np.searchsorted(offsets, np.arange(len(coords)), side="right") - 1
    lat_min = np.full(n, np.inf)
    lat_max = np.full(n, -np.inf)
    lon_min = np.full(n, np.inf)
    lon_max = np.full(n, -np.inf)
    np.minimum.at(lat_min, poly_idx, lat)
    np.maximum.at(lat_max, poly_idx, lat)
    np.minimum.at(lon_min, poly_idx, lon)
    np.maximum.at(lon_max, poly_idx, lon)
    if pad_m:
        dlat = pad_m / M_PER_DEG_LAT
        coslat = np.cos(np.radians(np.clip(np.maximum(np.abs(lat_min), np.abs(lat_max)), 0, 89.0)))
        dlon = pad_m / (M_PER_DEG_LON_EQ * coslat)
        lat_min, lat_max = lat_min - dlat, lat_max + dlat
        lon_min, lon_max = lon_min - dlon, lon_max + dlon
    row_idx, cell = cover_envelope(lat_min[rows], lat_max[rows],
                                   lon_min[rows], lon_max[rows], res)
    return rows[row_idx], cell
