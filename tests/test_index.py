"""RoadIndex parity tests against the reference's RoadMapTest /
QuadTreeIndexTest refsets (src/test/java/com/bmwcarit/barefoot/roadmap/
RoadMapTest.java:73-180) plus linear-scan oracles
(QuadTreeIndexTest.java:77-262 strategy)."""

import json
import os
import subprocess
import sys
import textwrap

import numpy as np
import pytest

from barefoot_spark import geo, roads
from barefoot_spark.index import RoadIndex


@pytest.fixture(scope="module")
def junction():
    return RoadIndex(roads.junction6_pdf(), res=15)


@pytest.fixture(scope="module")
def micro():
    return RoadIndex(roads.micro7_pdf(), res=15)


def directed_ids(idx, pt, base, frac):
    p, eidx, f, _ = idx.split(pt, base, frac)
    return set(idx.edge_id[eidx].tolist())


def test_directed_split_ids(junction):
    # RoadMapTest.testSplit: forward id = gid*2; backward id = gid*2+1
    # only for two-way roads (gids 2,4,5,6 two-way; 1,3 oneway)
    eids = set(junction.edge_id.tolist())
    assert eids == {2, 4, 5, 6, 8, 9, 10, 11, 12, 13}
    # backward edge swaps source/target
    i4f = junction.eid_to_idx(np.array([8]))[0]
    i4b = junction.eid_to_idx(np.array([9]))[0]
    assert junction.edge_src[i4f] == junction.edge_dst[i4b]
    assert junction.edge_dst[i4f] == junction.edge_src[i4b]


def test_spatial_nearest_refsets(junction):
    # RoadMapTest.testSpatialNearest
    pt, base, frac, dist = junction.nearest(np.array([48.083797]), np.array([11.343629]))
    assert directed_ids(junction, pt, base, frac) == {6}
    pt, base, frac, dist = junction.nearest(np.array([48.083752]), np.array([11.344827]))
    assert directed_ids(junction, pt, base, frac) == {8, 9}


def test_spatial_radius_refsets(junction):
    # RoadMapTest.testSpatialRadius
    pt, base, frac, _ = junction.radius(np.array([48.083797]), np.array([11.343629]), 10.0)
    assert directed_ids(junction, pt, base, frac) == {6}
    pt, base, frac, _ = junction.radius(np.array([48.083752]), np.array([11.344827]), 10.0)
    assert directed_ids(junction, pt, base, frac) == {8, 9}
    pt, base, frac, _ = junction.radius(np.array([48.084077]), np.array([11.344166]), 30.0)
    assert directed_ids(junction, pt, base, frac) == {2, 4, 5, 6, 8, 9}
    pt, base, frac, _ = junction.radius(np.array([48.084972]), np.array([11.344099]), 10.0)
    assert len(pt) == 0


def test_radius_matches_linear_scan(micro):
    # QuadTreeIndexTest strategy: compare against brute force over all
    # base geometries
    rng = np.random.default_rng(3)
    lat = rng.uniform(47.998, 48.012, 20)
    lon = rng.uniform(10.999, 11.031, 20)
    for r in (50.0, 200.0, 500.0):
        pt, base, frac, dist = micro.radius(lat, lon, r)
        got = {(int(p), int(micro.gid[b])) for p, b in zip(pt, base)}
        expect = set()
        for i in range(len(lat)):
            f, d = geo.polyline_intercept(
                micro.coords, micro.offsets,
                np.full(len(micro.gid), lat[i]), np.full(len(micro.gid), lon[i]),
                poly_for_point=np.arange(len(micro.gid)))
            for b in np.nonzero(d < r)[0]:
                expect.add((i, int(micro.gid[b])))
        assert got == expect, f"radius {r}"


def test_knearest_counts_and_order(micro):
    lat = np.array([48.001, 48.0005])
    lon = np.array([11.001, 11.019])
    pt, base, frac, dist = micro.knearest(lat, lon, 3)
    for i in range(2):
        sel = pt == i
        assert sel.sum() == 3
        d = dist[sel]
        assert np.all(np.diff(d) >= 0)
    # k=1 equals nearest (when no ties)
    pt1, base1, _, _ = micro.knearest(lat, lon, 1)
    ptn, basen, _, _ = micro.nearest(lat, lon)
    assert set(zip(pt1.tolist(), micro.gid[base1].tolist())) == \
        set(zip(ptn.tolist(), micro.gid[basen].tolist()))


def test_adjacency_successors(micro):
    # micro7 topology: base 0 (0->1) forward successors at vertex 1:
    # base0 backward(1), base1 fwd(2), base3 fwd(6)
    i = micro.eid_to_idx(np.array([0]))[0]
    succ = micro.successors[micro.succ_offsets[i]:micro.succ_offsets[i + 1]]
    assert set(micro.edge_id[succ].tolist()) == {1, 2, 6}
    # oneway base 3 (1->4): successors at vertex 4 = base4 fwd (8)
    i = micro.eid_to_idx(np.array([6]))[0]
    succ = micro.successors[micro.succ_offsets[i]:micro.succ_offsets[i + 1]]
    assert set(micro.edge_id[succ].tolist()) == {8}


def test_edge_point_geometry(micro):
    # midpoint of edge 0 (11.000->11.010 at lat 48) is ~11.005
    eidx = micro.eid_to_idx(np.array([0]))
    lat, lon, azi = micro.edge_point(eidx, np.array([0.5]))
    assert abs(lat[0] - 48.0) < 1e-6
    assert abs(lon[0] - 11.005) < 1e-6
    assert abs(azi[0] - 90.0) < 0.5  # eastbound
    # same spot on the backward edge: flipped fraction, westbound
    eidx = micro.eid_to_idx(np.array([1]))
    lat, lon, azi = micro.edge_point(eidx, np.array([0.5]))
    assert abs(lon[0] - 11.005) < 1e-6
    assert abs(azi[0] - 270.0) < 0.5


def brute_road_dist(idx, lat, lon):
    """Per-road distance from one point by dense sampling of every
    sub-segment (201 samples, endpoints included): an upper bound on
    the exact distance, tight to well under a metre here."""
    offs = np.asarray(idx.offsets)
    out = np.full(len(offs) - 1, np.inf)
    f = np.linspace(0, 1, 201)
    for q in range(len(offs) - 1):
        c = idx.coords[offs[q]:offs[q + 1]]
        for s in range(len(c) - 1):
            la = c[s][1] + f * (c[s + 1][1] - c[s][1])
            lo = c[s][0] + f * (c[s + 1][0] - c[s][0])
            out[q] = min(out[q], geo.distance(
                np.full(201, lat), np.full(201, lon), la, lo).min())
    return out


def test_nearest_ring_guard_brute_force():
    """Regression (found via the codegen-join cross-check): a candidate
    whose envelope overlaps ring r can lie beyond r while the true
    nearest road sits just outside the ring — nearest must keep
    expanding, not lock in the farther hit (QuadTreeIndex.java:156-165
    guard). Brute-force distance over every polyline is the oracle."""
    idx2 = RoadIndex(roads.grid_pdf(8, seed=42), res=15)
    rng = np.random.default_rng(6)
    n = 200
    lat = rng.uniform(48.0, 48.0 + 8 * 0.005, n)
    lon = rng.uniform(11.0, 11.0 + 8 * 0.005, n)
    p, base, frac, dist = idx2.nearest(lat, lon)
    for i in range(0, n, 13):
        best = brute_road_dist(idx2, lat[i], lon[i]).min()
        got = dist[p == i].min()
        # dense sampling overestimates the true min slightly
        assert got <= best + 0.5, (i, got, best)


def test_nearest_knearest_off_map_brute_force():
    """Probes 0.05-1 degrees outside the map (south, west, east, north,
    and two south-west of the corner) take several ring doublings;
    nearest and knearest(k=3) must still agree with the brute-force
    scan. The two south-west points are equidistant from the two roads
    meeting at the corner vertex, so nearest must return both rows."""
    idx = RoadIndex(roads.grid_pdf(8, seed=42), res=15)
    lat = np.array([47.95, 47.8, 47.0, 48.021, 48.017, 48.54, 47.9, 47.5])
    lon = np.array([11.013, 11.027, 11.006, 11.09, 12.04, 11.022, 10.9, 10.5])
    p, base, _, dist = idx.nearest(lat, lon)
    pk, _, _, distk = idx.knearest(lat, lon, 3)
    for i in range(len(lat)):
        brute = np.sort(brute_road_dist(idx, lat[i], lon[i]))
        got = dist[p == i]
        assert len(got) >= 1 and np.all(got == got[0]), (i, got)
        assert abs(got[0] - brute[0]) <= 0.5, (i, got, brute[:2])
        gotk = distk[pk == i]
        assert len(gotk) == 3 and np.all(np.diff(gotk) >= 0), (i, gotk)
        np.testing.assert_allclose(gotk, brute[:3], atol=0.5)
    # the corner vertex (11.0, 48.0) starts road 0 (east) and road 1
    # (north): a tie, both rows kept, at fraction 0 of each
    for i in (6, 7):
        assert sorted(idx.gid[base[p == i]].tolist()) == [0, 1], i
        assert dist[p == i][0] == dist[p == i][1]


_FAR_OFF_MAP = textwrap.dedent("""
    import json, resource
    resource.setrlimit(resource.RLIMIT_AS, (3 << 30, 3 << 30))
    import numpy as np
    from barefoot_spark import geo, roads
    from barefoot_spark.index import RoadIndex

    idx = RoadIndex(roads.grid_pdf(24, seed=42), res=16)
    lat = np.array([0.0, -33.0, 51.06, 45.06, 48.06, 48.06, 45.0])
    lon = np.array([0.0, 151.0, 11.06, 11.06, 14.12, 8.0, 8.0])
    p, base, _, dist = idx.nearest(lat, lon)
    roads_all = np.arange(len(idx.gid))
    out = []
    for i in range(len(lat)):
        _, brute = geo.polyline_intercept(
            idx.coords, idx.offsets, np.full(len(roads_all), lat[i]),
            np.full(len(roads_all), lon[i]), poly_for_point=roads_all)
        out.append({"got": dist[p == i].tolist(),
                    "got_brute": brute[base[p == i]].tolist(),
                    "brute": float(brute.min())})
    print(json.dumps(out))
""")


def test_nearest_far_off_map_bounded_memory():
    """Fixes far off the `join_tile` map, null island (0, 0), Sydney and
    points 3 degrees north, south, east, west and south-west of it,
    under a 3 GB address-space limit: the ring search's globe-sized
    envelopes must not list every cell, and `nearest` must equal the
    brute-force minimum over every road."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1")
    run = subprocess.run([sys.executable, "-c", _FAR_OFF_MAP], cwd=root, env=env,
                         capture_output=True, text=True, timeout=300)
    assert run.returncode == 0, run.stderr[-2000:]
    for i, row in enumerate(json.loads(run.stdout)):
        assert len(row["got"]) >= 1, i
        np.testing.assert_allclose(row["got"], row["brute"], rtol=0, atol=1e-6)
        np.testing.assert_allclose(row["got_brute"], row["brute"], rtol=0, atol=1e-6)
