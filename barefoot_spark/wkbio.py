"""Minimal WKB/WKT codec for road LineStrings and sample Points (numpy).

The reference keeps road geometry as WKB LineString bytes and decodes on
demand (road/BaseRoad.java:46,76-77,203-206); samples arrive as WKT
POINT strings (matcher/MatcherSample.java:94-96). We read both wire
formats without external geometry libraries. Little-endian WKB only
(byte order 01), which is what PostGIS/bfmap emit.
"""

from __future__ import annotations

import struct

import numpy as np

_WKB_LINESTRING = 2


def linestring_to_wkb(coords) -> bytes:
    """coords: (n, 2) array of [lon, lat] -> WKB LineString bytes."""
    coords = np.asarray(coords, dtype="<f8")
    n = len(coords)
    return b"\x01" + struct.pack("<II", _WKB_LINESTRING, n) + coords.tobytes()


def wkb_to_linestring(wkb: bytes) -> np.ndarray:
    """WKB LineString bytes -> (n, 2) float64 [lon, lat]."""
    if wkb[0:1] != b"\x01":
        raise ValueError("only little-endian WKB supported")
    gtype, n = struct.unpack_from("<II", wkb, 1)
    if gtype & 0xFF != _WKB_LINESTRING:
        raise ValueError(f"not a LineString: type {gtype}")
    off = 9
    if gtype & 0x20000000:  # SRID flag (EWKB)
        off += 4
    return np.frombuffer(wkb, dtype="<f8", count=2 * n, offset=off).reshape(n, 2).copy()


def parse_wkt_point(wkt: str):
    """'POINT (lon lat)' -> (lon, lat); the sample wire format
    (MatcherSample.java:94-96)."""
    inner = wkt[wkt.index("(") + 1:wkt.rindex(")")]
    lon_s, lat_s = inner.split()
    return float(lon_s), float(lat_s)


def parse_wkt_linestring(wkt: str) -> np.ndarray:
    inner = wkt[wkt.index("(") + 1:wkt.rindex(")")]
    pts = [p.split() for p in inner.split(",")]
    return np.array([[float(x), float(y)] for x, y in pts], dtype=np.float64)


def reverse_linestring_wkb(wkb: bytes) -> bytes:
    """Backward-edge geometry: reversed vertex order (Road.invert,
    roadmap/Road.java:38-48)."""
    return linestring_to_wkb(wkb_to_linestring(wkb)[::-1])
