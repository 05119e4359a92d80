"""Geodesic kernel parity tests.

Mirrors the oracle strategy of the reference's GeographyTest
(src/test/java/com/bmwcarit/barefoot/spatial/GeographyTest.java:48-110):
distances vs known geodesic values, interception vs a 1000-step
brute-force scan along the geodesic.
"""

import numpy as np
import pandas as pd
import pytest

from barefoot_spark import geo, roads, wkbio
from barefoot_spark.index import RoadIndex
from barefoot_spark.operators import joins as J


def test_inverse_known_vincenty_vector():
    # Flinders Peak -> Buninyong, the classic Vincenty test line
    s, azi1, azi2 = geo.inverse(
        -(37 + 57 / 60 + 3.72030 / 3600), 144 + 25 / 60 + 29.52440 / 3600,
        -(37 + 39 / 60 + 10.15610 / 3600), 143 + 55 / 60 + 35.38390 / 3600)
    assert abs(float(s) - 54972.271) < 0.01
    assert abs(float(azi1) - (-(360 - 306 - 52 / 60 - 5.37 / 3600))) < 1e-3


def test_inverse_symmetry_and_zero():
    s, a1, a2 = geo.inverse(48.0, 11.0, 48.0, 11.0)
    assert float(s) == 0.0
    s_fwd = geo.distance(48.0, 11.0, 48.1, 11.1)
    s_bwd = geo.distance(48.1, 11.1, 48.0, 11.0)
    assert abs(float(s_fwd) - float(s_bwd)) < 1e-6


def test_direct_inverse_roundtrip():
    rng = np.random.default_rng(42)
    lat1 = rng.uniform(-60, 60, 200)
    lon1 = rng.uniform(-179, 179, 200)
    azi = rng.uniform(-180, 180, 200)
    s = rng.uniform(1, 200000, 200)
    lat2, lon2, _ = geo.direct(lat1, lon1, azi, s)
    s2, azi1b, _ = geo.inverse(lat1, lon1, lat2, lon2)
    assert np.max(np.abs(s2 - s)) < 1e-3  # mm-level roundtrip
    dazi = (azi1b - azi + 540) % 360 - 180
    assert np.max(np.abs(dazi)) < 1e-6


def test_inverse_direct_batch_invariant():
    """A pair's geodesic does not depend on the other pairs in the call:
    one call over all pairs equals one call per pair, bitwise, for
    short pairs in a small box (where elements converge after different
    iteration counts) and for long random pairs."""
    rng = np.random.default_rng(7)
    n = 400
    lat1 = np.concatenate([48 + rng.random(n) * 0.1, rng.uniform(-60, 60, n)])
    lon1 = np.concatenate([11 + rng.random(n) * 0.1, rng.uniform(-179, 179, n)])
    lat2 = np.concatenate([48 + rng.random(n) * 0.1, rng.uniform(-60, 60, n)])
    lon2 = np.concatenate([11 + rng.random(n) * 0.1, rng.uniform(-179, 179, n)])
    azi = rng.uniform(-180, 180, 2 * n)
    s = np.concatenate([rng.random(n) * 5000, rng.uniform(1, 2e6, n)])

    batch = np.stack(geo.inverse(lat1, lon1, lat2, lon2))
    single = np.array([geo.inverse(*a) for a in zip(lat1, lon1, lat2, lon2)]).T
    assert np.array_equal(batch, single)
    batch = np.stack(geo.direct(lat1, lon1, azi, s))
    single = np.array([geo.direct(*a) for a in zip(lat1, lon1, azi, s)]).T
    assert np.array_equal(batch, single)


def test_interpolate_endpoints_and_midpoint():
    lat, lon = geo.interpolate_segment(48.0, 11.0, 48.0, 11.01, 0.0)
    assert abs(float(lat) - 48.0) < 1e-12 and abs(float(lon) - 11.0) < 1e-12
    lat, lon = geo.interpolate_segment(48.0, 11.0, 48.0, 11.01, 1.0)
    assert abs(float(lon) - 11.01) < 1e-9
    lat, lon = geo.interpolate_segment(48.0, 11.0, 48.0, 11.01, 0.5)
    d1 = geo.distance(48.0, 11.0, lat, lon)
    d2 = geo.distance(lat, lon, 48.0, 11.01)
    assert abs(float(d1) - float(d2)) < 1e-3


def test_intercept_brute_force_oracle():
    """GeographyTest.testLineInterception analog: brute-force 1000-step
    scan vs the iterative intercept (GeographyTest.java:73-110)."""
    ab = [(48.0, 11.0, 48.0, 11.01), (48.0, 11.0, 48.01, 11.01),
          (47.9, 11.0, 48.0, 11.0), (48.0, 11.0, 47.99, 10.99)]
    cs = [(48.001, 11.001), (48.005, 11.002), (47.95, 11.001), (48.0, 10.995)]
    for (a_lat, a_lon, b_lat, b_lon) in ab:
        for (c_lat, c_lon) in cs:
            f = float(geo.intercept_segment(a_lat, a_lon, b_lat, b_lon, c_lat, c_lon))
            fs = np.linspace(0, 1, 1001)
            lats, lons = geo.interpolate_segment(a_lat, a_lon, b_lat, b_lon, fs)
            ds = geo.distance(c_lat, c_lon, lats, lons)
            f_brute = fs[np.argmin(ds)]
            if 0 <= f <= 1:
                assert abs(f - f_brute) < 2e-3, (a_lat, a_lon, b_lat, b_lon, c_lat, c_lon)
            else:
                assert f_brute in (0.0, 1.0)


def test_intercept_sign_beyond_start():
    # c behind a on the a->b line: fraction must be negative (Geography.java:44)
    f = float(geo.intercept_segment(48.0, 11.0, 48.0, 11.01, 48.0, 10.99))
    assert f < 0


def azimuth_segment(lat1, lon1, lat2, lon2, f):
    """Bearing at fraction f along geodesic a->b, wrapped to [0,360)
    (Geography.java:55-67)."""
    f = np.asarray(f, dtype=np.float64)
    s12, azi1, azi2 = geo.inverse(lat1, lon1, lat2, lon2)
    latm, lonm = geo.interpolate_segment(lat1, lon1, lat2, lon2, f)
    _, _, azim = geo.inverse(lat1, lon1, latm, lonm)
    azi = np.where(f < 1e-10, azi1, np.where(f > 1 - 1e-10, azi2, azim))
    return np.where(azi < 0, azi + 360.0, azi)


def test_azimuth_wrap():
    a = azimuth_segment(48.0, 11.0, 48.0, 11.01, 0.5)  # due east ~90
    assert abs(float(a) - 90.0) < 0.1
    a = azimuth_segment(48.0, 11.0, 48.0, 10.99, 0.5)  # due west ~270
    assert abs(float(a) - 270.0) < 0.1


def _poly(coords_lonlat):
    coords = np.array(coords_lonlat, dtype=np.float64)
    offsets = np.array([0, len(coords)], dtype=np.int64)
    return coords, offsets


def test_polyline_length_and_interpolate():
    coords, offsets = _poly([(11.0, 48.0), (11.01, 48.0), (11.01, 48.01)])
    L = geo.polyline_length(coords, offsets)
    d1 = float(geo.distance(48.0, 11.0, 48.0, 11.01))
    d2 = float(geo.distance(48.0, 11.01, 48.01, 11.01))
    assert abs(float(L[0]) - (d1 + d2)) < 1e-6

    lat, lon = geo.polyline_interpolate(coords, offsets, np.array([0.0]))
    assert abs(float(lat) - 48.0) < 1e-12 and abs(float(lon) - 11.0) < 1e-12
    lat, lon = geo.polyline_interpolate(coords, offsets, np.array([1.0]))
    assert abs(float(lat) - 48.01) < 1e-12 and abs(float(lon) - 11.01) < 1e-12
    # halfway point sits at cumulative length L/2
    lat, lon = geo.polyline_interpolate(coords, offsets, np.array([0.5]))
    s = float(geo.distance(48.0, 11.0, lat, lon))  # on first leg or past bend
    assert s > 0


def test_polyline_intercept_multi_segment():
    coords, offsets = _poly([(11.0, 48.0), (11.01, 48.0), (11.01, 48.01)])
    # point near the middle of the second leg
    frac, dist = geo.polyline_intercept(coords, offsets, np.array([48.005]), np.array([11.0105]))
    f = float(frac[0])
    lat, lon = geo.polyline_interpolate(coords, offsets, frac)
    assert float(dist[0]) == pytest.approx(
        float(geo.distance(48.005, 11.0105, lat[0], lon[0])), abs=1e-3)
    assert 0.5 < f < 1.0
    # point before the start clamps to 0
    frac, _ = geo.polyline_intercept(coords, offsets, np.array([48.0]), np.array([10.99]))
    assert float(frac[0]) == 0.0


def test_polyline_batch_pairs():
    # two polylines, three query pairs with explicit mapping
    coords = np.array([(11.0, 48.0), (11.01, 48.0),
                       (11.02, 48.0), (11.02, 48.01)], dtype=np.float64)
    offsets = np.array([0, 2, 4], dtype=np.int64)
    frac, dist = geo.polyline_intercept(
        coords, offsets,
        np.array([48.001, 48.005, 48.0]),
        np.array([11.005, 11.02, 11.02]),
        poly_for_point=np.array([0, 1, 1]))
    assert 0.4 < float(frac[0]) < 0.6
    assert 0.4 < float(frac[1]) < 0.6
    assert float(frac[2]) == 0.0
    assert float(dist[0]) == pytest.approx(111.0, abs=1.0)  # ~0.001 deg lat


def test_envelope_contains_circle():
    # envelope must CONTAIN the geodesic circle (conservative prefilter)
    lat_min, lat_max, lon_min, lon_max = geo.envelope(48.0, 11.0, 200.0)
    assert float(lat_min) < 48.0 < float(lat_max)
    assert float(lon_min) < 11.0 < float(lon_max)
    bearings = np.arange(0, 360, 5.0)
    blat, blon, _ = geo.direct(48.0, 11.0, bearings, 200.0)
    assert np.all(blat >= lat_min) and np.all(blat <= lat_max)
    assert np.all(blon >= lon_min) and np.all(blon <= lon_max)
    # and stay tight (within ~2% + margin)
    assert (float(lat_max) - 48.0) < 0.0018 * 1.1


def test_intersect_geodesics_on_both_lines():
    """Intersection point must lie on both geodesics (intercept distance
    ~0) — the defining property of Intersect.java's fixed point."""
    cases = [
        # crossing diagonals near Munich
        (48.0, 11.0, 48.1, 11.2, 48.1, 11.0, 48.0, 11.2),
        # long geodesics crossing
        (40.0, -5.0, 55.0, 15.0, 52.0, -8.0, 44.0, 18.0),
        # near-perpendicular short segments
        (48.0, 11.0, 48.001, 11.0, 48.0005, 10.999, 48.0005, 11.001),
    ]
    for (a1la, a1lo, a2la, a2lo, b1la, b1lo, b2la, b2lo) in cases:
        lat, lon, s12 = geo.intersect_geodesics(
            a1la, a1lo, a2la, a2lo, b1la, b1lo, b2la, b2lo)
        lat, lon = float(lat), float(lon)
        # distance from the point to each geodesic (via intercept foot)
        for (p1la, p1lo, p2la, p2lo) in ((a1la, a1lo, a2la, a2lo),
                                         (b1la, b1lo, b2la, b2lo)):
            f = float(geo.intercept_segment(p1la, p1lo, p2la, p2lo, lat, lon))
            fla, flo = geo.interpolate_segment(p1la, p1lo, p2la, p2lo, f)
            d = float(geo.distance(lat, lon, float(fla), float(flo)))
            assert d < 0.01, (lat, lon, d)   # within 1 cm of each line
        # s12 equals distance from a1 to the point
        assert abs(float(geo.distance(a1la, a1lo, lat, lon)) - float(s12)) < 1e-6


def test_intersect_geodesics_vectorized_matches_scalar():
    rng = np.random.default_rng(4)
    n = 50
    a1la = rng.uniform(47, 49, n); a1lo = rng.uniform(10, 12, n)
    a2la = a1la + rng.uniform(0.05, 0.2, n); a2lo = a1lo + rng.uniform(0.05, 0.2, n)
    b1la = a1la + rng.uniform(0.05, 0.2, n); b1lo = a1lo
    b2la = a1la; b2lo = a1lo + rng.uniform(0.05, 0.2, n)
    vlat, vlon, vs = geo.intersect_geodesics(a1la, a1lo, a2la, a2lo,
                                             b1la, b1lo, b2la, b2lo)
    for i in range(0, n, 7):
        slat, slon, ss = geo.intersect_geodesics(
            a1la[i], a1lo[i], a2la[i], a2lo[i],
            b1la[i], b1lo[i], b2la[i], b2lo[i])
        assert abs(float(slat) - vlat[i]) < 1e-9
        assert abs(float(slon) - vlon[i]) < 1e-9


def test_road_invert_reference_wkts():
    """RoadTest.testInvert (roadmap/RoadTest.java:32-91) verbatim: WKB
    linestring reversal preserves every coordinate in reversed order for
    the reference's one-, two- and sixteen-point Munich geometries."""
    from barefoot_spark import wkbio

    wkts = [
        "LINESTRING(11.3136273 48.0972002,11.3138846 48.0972999)",
        "LINESTRING(11.3136273 48.0972002,11.3138846 48.0972999,"
        "11.3144345 48.097396,11.315083 48.0974541,11.3160925 48.0975102,"
        "11.3164787 48.0974529,11.3166131 48.0973939,11.31675 48.0972933,"
        "11.3168554 48.0971529,11.3168846 48.0969582,11.3167847 48.0967698,"
        "11.3166735 48.0966731,11.316501 48.096578,11.316015 48.0964988,"
        "11.3153612 48.0964801,11.3141303 48.0965022)",
    ]
    for wkt in wkts:
        coords = wkbio.parse_wkt_linestring(wkt)
        inv = wkbio.wkb_to_linestring(
            wkbio.reverse_linestring_wkb(wkbio.linestring_to_wkb(coords)))
        assert len(inv) == len(coords)
        np.testing.assert_allclose(inv, coords[::-1], atol=1e-6)


def test_ragged_and_degenerate_polylines():
    group, pos = geo.ragged(np.zeros(0, dtype=np.int64))
    assert len(group) == len(pos) == 0
    group, pos = geo.ragged([0, 2, 0, 3, 0])
    assert group.tolist() == [1, 1, 3, 3, 3]
    assert pos.tolist() == [0, 1, 0, 1, 2]

    # polylines of 0, 1 and 3 vertices
    coords = np.array([[11.0, 48.0], [11.0, 48.0], [11.001, 48.0], [11.002, 48.001]])
    offsets = np.array([0, 0, 1, 4])
    length = geo.polyline_length(coords, offsets)
    assert length[0] == 0.0 and length[1] == 0.0
    assert length[2] == geo.polyline_length(coords[1:], np.array([0, 3]))[0] > 0
    # pairs with segment-less polylines only: no segment, no distance
    assert geo.polyline_min_dist_planar(coords, offsets, [48.0], [11.0], [0])[0] == np.inf
    # ... also exactly: a 0- or 1-vertex road is on no point, even one
    # on its only vertex; the 3-vertex road still answers
    frac, dist = geo.polyline_intercept(coords, offsets, [48.0, 48.0, 48.0],
                                        [11.0, 11.0, 11.0], poly_for_point=[0, 1, 2])
    assert dist[:2].tolist() == [np.inf, np.inf] and frac[:2].tolist() == [0.0, 0.0]
    assert dist[2] == geo.polyline_intercept(coords[1:], np.array([0, 3]), [48.0], [11.0])[1][0] < 1e-6

    # a road without vertices, first by gid, gets length 0, no query hit
    # and no codegen-join part; the other roads answer as in an index
    # without it
    pdf = roads.micro7_pdf()
    pdf["gid"] += 1
    empty = pdf.iloc[[0]].assign(gid=0, geom_wkb=[wkbio.linestring_to_wkb(np.zeros((0, 2)))])
    idx = RoadIndex(pdf, res=15)
    with_empty = RoadIndex(pd.concat([empty, pdf], ignore_index=True), res=15)
    assert with_empty.length[0] == 0.0
    np.testing.assert_array_equal(with_empty.length[1:], idx.length)
    rng = np.random.default_rng(5)
    lat, lon = rng.uniform(48.0, 48.012, 300), rng.uniform(11.0, 11.022, 300)
    (pt, base, frac, dist), want = with_empty.radius(lat, lon, 200.0), idx.radius(lat, lon, 200.0)
    for got, exp in zip((pt, with_empty.gid[base], frac, dist), (want[0], idx.gid[want[1]]) + want[2:]):
        np.testing.assert_array_equal(got, exp)
    pd.testing.assert_frame_equal(J.segment_parts_pdf(with_empty, 100.0, 15),
                                  J.segment_parts_pdf(idx, 100.0, 15))
