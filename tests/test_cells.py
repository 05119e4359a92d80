"""Cell-index (bfcell) unit tests: pack/unpack roundtrip, parent
hierarchy, deterministic tile assignment, and envelope covers."""

import warnings

import numpy as np

from barefoot_spark import cells


def test_pack_unpack_roundtrip():
    rng = np.random.default_rng(7)
    lat = rng.uniform(-85, 85, 1000)
    lon = rng.uniform(-180, 180, 1000)
    for res in (5, 10, 15):
        c = cells.latlng_to_cell(lat, lon, res)
        r, ix, iy = cells.unpack(c)
        assert np.all(r == res)
        back = cells.pack(res, ix, iy)
        assert np.array_equal(back, c)


def test_tile_assignment_deterministic_and_stable():
    lat = np.array([48.0, 48.0001, -33.9, 0.0])
    lon = np.array([11.0, 11.0001, 151.2, 0.0])
    c1 = cells.latlng_to_cell(lat, lon, 15)
    c2 = cells.latlng_to_cell(lat, lon, 15)
    assert np.array_equal(c1, c2)
    # nearby but distinct points at res 15 (edge ~610 m lat): first two same cell
    assert c1[0] == c1[1]
    assert len(np.unique(c1)) == 3


def test_parent_prefix():
    c = cells.latlng_to_cell(np.array([48.1]), np.array([11.3]), 15)
    p = cells.cell_to_parent(c, 8)
    # the parent of any point in the same res-15 cell is identical
    c2 = cells.latlng_to_cell(np.array([48.1000001]), np.array([11.3000001]), 15)
    assert cells.cell_to_parent(c2, 8)[0] == p[0]
    r, _, _ = cells.unpack(p)
    assert r[0] == 8


def test_cover_envelope_contains_point_cell():
    res = 12
    c = cells.latlng_to_cell(np.array([48.0]), np.array([11.0]), res)
    row, cover = cells.cover_envelope(
        np.array([47.99]), np.array([48.01]), np.array([10.99]), np.array([11.01]), res)
    assert np.all(row == 0)
    assert c[0] in set(cover.tolist())
    # cover of a small envelope is a compact rectangle
    assert 1 <= len(cover) <= 100


def test_cover_radius_scales_with_radius():
    res = 14
    _, small = cells.cover_radius(np.array([48.0]), np.array([11.0]), 100.0, res)
    _, big = cells.cover_radius(np.array([48.0]), np.array([11.0]), 2000.0, res)
    assert len(big) > len(small)
    assert set(small.tolist()) <= set(big.tolist())


def test_cover_polyline_micro():
    coords = np.array([[11.0, 48.0], [11.01, 48.0]])
    offsets = np.array([0, 2])
    row, cover = cells.cover_polyline(coords, offsets, 14)
    assert np.all(row == 0)
    a = cells.latlng_to_cell(np.array([48.0]), np.array([11.0]), 14)[0]
    b = cells.latlng_to_cell(np.array([48.0]), np.array([11.01]), 14)[0]
    got = set(cover.tolist())
    assert a in got and b in got


def test_cover_polyline_skips_vertexless():
    # a 0-vertex road between two roads has no envelope: no cover row,
    # no cast of its +/-inf bounds, and the other roads keep their cells
    coords = np.array([[11.0, 48.0], [11.01, 48.0], [11.0, 48.0], [11.01, 48.0]])
    want_row, want = cells.cover_polyline(coords, np.array([0, 2, 4]), 14)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        row, cover = cells.cover_polyline(coords, np.array([0, 0, 2, 2, 4]), 14)
        none_row, _ = cells.cover_polyline(coords[:0], np.array([0, 0]), 14)
    assert len(none_row) == 0
    assert 0 not in row.tolist() and 2 not in row.tolist()
    np.testing.assert_array_equal(cover, want)
    np.testing.assert_array_equal(row, np.where(want_row == 0, 1, 3))
