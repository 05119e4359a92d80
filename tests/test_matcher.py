"""Matcher parity tests replicating the reference's MatcherTest
(src/test/java/com/bmwcarit/barefoot/matcher/MatcherTest.java:177-423)
on the 7-road micro map: candidate refsets + emission oracle, transition
matrix shape + probability oracle, unreachable candidates, shorten-turns
behavior, and the golden edge sequence [0, 2, 10]."""

import numpy as np
import pytest

from barefoot_spark import geo, roads
from barefoot_spark.index import RoadIndex
from barefoot_spark.operators import match as M


@pytest.fixture(scope="module")
def idx():
    return RoadIndex(roads.micro7_pdf(), res=15)


def candidates(idx, lat, lon, radius, azimuth=np.nan, prev=None):
    """Matcher.candidates analog (radius -> minset -> carry-over ->
    emission); prev is a list of _Cand predecessors."""
    p = M.MatcherParams(max_radius=radius)
    pt, base, frac, _ = idx.radius(np.array([lat]), np.array([lon]), radius)
    spt, seidx, sfrac, _ = idx.split(pt, base, frac)
    ei, fr = M.minset(idx, seidx, sfrac)
    if prev:
        pos_of = {int(e): j for j, e in enumerate(ei)}
        for pc in prev:
            j = pos_of.get(pc.eidx)
            if j is None:
                continue
            plat, plon, _ = idx.edge_point(np.array([pc.eidx]), np.array([fr[j]]))
            d = float(geo.distance(plat[0], plon[0], pc.lat, pc.lon))
            fwd = bool(idx.edge_forward[pc.eidx])
            if d < p.sigma and ((fwd and fr[j] < pc.frac) or (not fwd and fr[j] > pc.frac)):
                fr[j] = pc.frac
    if not len(ei):
        return [], np.zeros(0)
    clat, clon, cazi = idx.edge_point(ei, fr)
    dz = geo.distance(lat, lon, clat, clon)
    sig2 = p.sigma ** 2
    emission = 1 / np.sqrt(2 * np.pi * sig2) * np.exp(-dz * dz / (2 * sig2))
    cands = [M._Cand(ei[j], fr[j], clat[j], clon[j], cazi[j]) for j in range(len(ei))]
    return cands, emission


def eids(idx, cands):
    return {int(idx.edge_id[c.eidx]) for c in cands}


def emission_oracle(idx, c, lat, lon, sigma=10.0):
    """assertCandidate analog (MatcherTest.java:121-132): recompute
    fraction + gaussian from the directed edge geometry."""
    base = idx.edge_base[c.eidx]
    fwd = idx.edge_forward[c.eidx]
    f_dir = c.frac
    f_base = f_dir if fwd else 1.0 - f_dir
    fr, _ = geo.polyline_intercept(idx.coords, idx.offsets,
                                   np.array([lat]), np.array([lon]),
                                   poly_for_point=np.array([base]))
    f_expect = fr[0] if fwd else 1.0 - fr[0]
    assert abs(f_dir - f_expect) < 1e-5
    ilat, ilon = geo.polyline_interpolate(idx.coords, idx.offsets, np.array([fr[0]]),
                                          poly_for_point=np.array([base]))
    l = float(geo.distance(ilat[0], ilon[0], lat, lon))
    sig2 = sigma ** 2
    return 1 / np.sqrt(2 * np.pi * sig2) * np.exp(-l * l / (2 * sig2))


def test_candidates_refsets(idx):
    cands, _ = candidates(idx, 48.001, 11.001, 100)
    assert len(cands) == 0

    cands, em = candidates(idx, 48.001, 11.001, 200)
    assert eids(idx, cands) == {0, 1}
    for c, e in zip(cands, em):
        assert e == pytest.approx(emission_oracle(idx, c, 48.001, 11.001), abs=1e-6)

    cands, em = candidates(idx, 48.000, 11.010, 200)
    assert eids(idx, cands) == {0, 3}

    cands, em = candidates(idx, 48.001, 11.011, 200)
    assert eids(idx, cands) == {0, 2, 3}
    for c, e in zip(cands, em):
        assert e == pytest.approx(emission_oracle(idx, c, 48.001, 11.011), abs=1e-6)

    cands, em = candidates(idx, 48.001, 11.019, 200)
    assert eids(idx, cands) == {2, 3, 5, 10}

    cands, em = candidates(idx, 48.001, 11.011, 300)
    assert eids(idx, cands) == {0, 2, 3, 8}


def transition_matrix(idx, preds, cands, dt_ms, shorten=False):
    params = M.MatcherParams(shorten_turns=shorten)
    cost_vec = idx.cost_vector("time")
    bound = max(1000.0, min(params.max_distance, (dt_ms // 1000) * 100.0))
    beta = max(1.0, float(dt_ms)) / 1000.0
    tp = idx.cost_timeprio
    out = {}
    for p in preds:
        paths = M.route_ssmt(idx, (p.eidx, p.frac), [(c.eidx, c.frac) for c in cands],
                             cost_vec, idx.cost_dist, bound)
        row = {}
        for ci, c in enumerate(cands):
            if paths[ci] is None:
                continue
            cost_tp = M.path_cost(idx, paths[ci], p.frac, c.frac, tp)
            row[ci] = ((1.0 / beta) * np.exp(-cost_tp / beta), paths[ci])
        out[id(p)] = (p, row)
    return out


def test_transitions_2x4(idx):
    preds, _ = candidates(idx, 48.001, 11.001, 200)
    cands, _ = candidates(idx, 48.001, 11.019, 200)
    assert len(preds) == 2 and len(cands) == 4
    trans = transition_matrix(idx, preds, cands, 60000)
    assert len(trans) == 2
    for _, (p, row) in trans.items():
        # MatcherTest.java:313-315: every source reaches all 4 targets
        assert len(row) == 4
        for ci, (prob, path) in row.items():
            c = cands[ci]
            # oracle: independent re-route, route endpoints match
            assert path[0] == p.eidx and path[-1] == c.eidx
            cost = M.path_cost(idx, path, p.frac, c.frac, idx.cost_timeprio)
            assert prob == pytest.approx((1 / 60.0) * np.exp(-cost / 60.0), abs=1e-9)
            assert prob > 0


def test_transitions_reverse_unreachable(idx):
    # MatcherTest.java:331-358: edge 10 (oneway northbound) cannot route
    # back to the western candidates
    preds, _ = candidates(idx, 48.001, 11.019, 200)
    cands, _ = candidates(idx, 48.001, 11.001, 200)
    assert len(preds) == 4 and len(cands) == 2
    trans = transition_matrix(idx, preds, cands, 60000)
    for _, (p, row) in trans.items():
        if int(idx.edge_id[p.eidx]) == 10:
            assert len(row) == 0
        else:
            assert len(row) == 2


def _route_len_sum(rows):
    return sum(r[10] for r in rows[1:])


def _mmatch(idx, samples, shorten):
    params = M.MatcherParams(shorten_turns=shorten)
    ids = [str(i) for i in range(len(samples))]
    t = [s[0] for s in samples]
    lat = [s[1] for s in samples]
    lon = [s[2] for s in samples]
    return M.match_trace(idx, "t", ids, t, lat, lon, [np.nan] * len(samples), params)


SAMPLES4 = [(0, 48.001, 11.001), (60000, 48.001, 11.011),
            (120000, 48.001, 11.012), (180000, 48.010, 11.021)]


def test_shorten_turns_and_golden_sequence(idx):
    rows_full = _mmatch(idx, SAMPLES4, shorten=False)
    full = _route_len_sum(rows_full)
    rows_short = _mmatch(idx, SAMPLES4, shorten=True)
    shorten = _route_len_sum(rows_short)
    assert len(rows_full) == 4 and len(rows_short) == 4
    assert shorten < full  # MatcherTest.java:396

    # order invariance: swapping samples 1 and 2 changes nothing
    swapped = [SAMPLES4[0], SAMPLES4[2], SAMPLES4[1], SAMPLES4[3]]
    rows_sw = _mmatch(idx, swapped, shorten=True)
    assert _route_len_sum(rows_sw) == pytest.approx(shorten, abs=1e-10)

    # removing the second sample: golden sequence [0, 2, 10]
    # (MatcherTest.java:414-419), same total length
    three = [SAMPLES4[0], SAMPLES4[2], SAMPLES4[3]]
    rows3 = _mmatch(idx, three, shorten=True)
    assert [r[4] for r in rows3] == [0, 2, 10]
    assert _route_len_sum(rows3) == pytest.approx(shorten, abs=1e-6)


def test_hmm_break_reseeds(idx):
    # second sample far off-map (no candidates): dropped; third resumes
    samples = [(0, 48.001, 11.001), (60000, 49.5, 12.5), (120000, 48.001, 11.012)]
    rows = _mmatch(idx, samples, shorten=True)
    assert len(rows) == 2
    assert rows[0][4] in (0, 1)  # on base road 0


def test_filtprob_normalized(idx):
    rows = _mmatch(idx, SAMPLES4, shorten=True)
    for r in rows:
        assert 0 < r[11] <= 1.0


def test_underflow_hmm_break_reseeds():
    """Regression: when every reachable predecessor carries a subnormal
    filtprob, all transition-fed filt*emission products underflow to
    exactly 0 — the step must re-seed from emissions (numerical HMM
    break) instead of dividing by a zero normalizer. Found on bench
    trace-000409 (grid 24, seed 42)."""
    import numpy as np
    from barefoot_spark import roads as R
    from barefoot_spark.index import RoadIndex
    from barefoot_spark.sources import samples as SS

    idx = RoadIndex(R.grid_pdf(24, seed=42), res=16)
    pdf = SS.synth_traces(idx, n_traces=500, samples_per_trace=60, seed=42)
    g = pdf[pdf.trace_id == "trace-000409"]
    rows = M.match_trace(
        idx, "trace-000409", g["sample_id"].to_numpy(),
        g["time"].to_numpy(np.int64), g["lat"].to_numpy(np.float64),
        g["lon"].to_numpy(np.float64), g["azimuth"].to_numpy(np.float64),
        M.MatcherParams())
    assert len(rows) == 60
    # every emitted filtprob is a valid normalized probability
    filt = np.array([r[11] for r in rows])
    assert np.isfinite(filt).all() and (filt >= 0).all() and (filt <= 1).all()


def test_x0001_fixture_end_to_end_match(reference_file):
    """Match the reference's REAL Munich GPS fixture (x0001-015.json,
    80 noisy 5s-interval samples) against a road map synthesized from
    the trace's own track (consecutive-sample segments = roads). The
    matcher must keep every sample on the synthesized corridor, walk it
    monotonically, and produce connected transition routes — the
    closest x0001 end-to-end check possible without the Oberbayern
    PostGIS map the reference's ServerTest needs."""
    import json
    import pandas as pd
    from barefoot_spark import roads as R
    from barefoot_spark.index import RoadIndex
    from barefoot_spark.sources import samples as SS

    arr = json.load(open(reference_file("matcher/x0001-015.json")))
    samples = SS.parse_sample_json(pd.Series([json.dumps(o) for o in arr]))

    # corridor map: one road per consecutive sample pair (downsampled
    # 2x so roads are ~2x sample spacing and matching is non-trivial)
    pts = samples[["lon", "lat"]].to_numpy()[::2]
    entries = []
    for i in range(len(pts) - 1):
        entries.append((i + 1, 100 + i, 100 + i + 1, False,
                        f"LINESTRING({pts[i][0]} {pts[i][1]}, "
                        f"{pts[i+1][0]} {pts[i+1][1]})"))
    idx = RoadIndex(R.roads_pdf_from_entries(entries), res=15)

    rows = M.match_trace(
        idx, "x0001", np.arange(len(samples)).astype(str),
        samples["time"].to_numpy("int64"),
        samples["lat"].to_numpy(), samples["lon"].to_numpy(),
        samples["azimuth"].to_numpy(), M.MatcherParams())
    assert len(rows) == len(samples)          # no sample dropped
    eids = [r[4] for r in rows]
    known = set(idx.edge_id.tolist())
    assert set(eids) <= known
    # matched positions advance monotonically along the corridor
    # (base road ids are ordered along the track)
    bases = np.array([e // 2 for e in eids])
    assert (np.diff(bases) >= 0).mean() > 0.95
    assert bases[-1] - bases[0] >= len(pts) * 0.8   # traverses the corridor
    # transition routes connect: every route's edges are on the map
    for r in rows:
        for e in r[9]:
            assert int(e) in known


def _stub_idx(edges):
    """Minimal routing-only index from (edge_id, source, target) tuples:
    successor CSR exactly as RoadIndex builds it (succ(e) = edges whose
    source == target(e))."""
    from types import SimpleNamespace
    import numpy as np
    n = len(edges)
    succs = [[j for j in range(n) if edges[j][1] == edges[i][2]]
             for i in range(n)]
    offsets = np.zeros(n + 1, dtype=np.int64)
    flat = []
    for i, s in enumerate(succs):
        flat.extend(s)
        offsets[i + 1] = len(flat)
    return SimpleNamespace(succ_offsets=offsets,
                           successors=np.array(flat, dtype=np.int64))


def _best_route(idx, sources, target, cost):
    """Multi-source route = per-source SSMT, keep min fractional cost
    (the reference's route(Set, Set) semantics, Dijkstra.java:65-73)."""
    best, best_path = None, None
    for se, sf in sources:
        paths = M.route_ssmt(idx, (se, sf), [target], cost)
        p = paths[0]
        if p is None:
            continue
        c = M.path_cost(idx, p, sf, target[1], cost)
        if best is None or c < best:
            best, best_path = c, p
    return best_path


def test_dijkstra_same_road_reference_cases():
    """DijkstraTest.testSameRoad (DijkstraTest.java:77-172) verbatim:
    5-edge abstract graph, weights as cost."""
    import numpy as np
    edges = [(0, 0, 1), (1, 1, 0), (2, 0, 2), (3, 1, 2), (4, 1, 3)]
    idx = _stub_idx(edges)
    w = np.array([100.0, 20.0, 100.0, 100.0, 100.0])
    assert M.route_ssmt(idx, (0, 0.3), [(0, 0.3)], w)[0] == [0]
    assert M.route_ssmt(idx, (0, 0.3), [(0, 0.7)], w)[0] == [0]
    assert M.route_ssmt(idx, (0, 0.7), [(0, 0.3)], w)[0] == [0, 1, 0]
    assert _best_route(idx, [(0, 0.8), (1, 0.2)], (0, 0.7), w) == [1, 0]


def test_dijkstra_self_loop_reference_cases():
    """DijkstraTest.testSelfLoop (DijkstraTest.java:176-271) verbatim:
    two self-loop edges on one vertex."""
    import numpy as np
    edges = [(0, 0, 0), (1, 0, 0)]
    idx = _stub_idx(edges)
    w = np.array([100.0, 100.0])
    assert M.route_ssmt(idx, (0, 0.3), [(0, 0.7)], w)[0] == [0]
    assert M.route_ssmt(idx, (0, 0.7), [(0, 0.3)], w)[0] == [0, 0]
    assert _best_route(idx, [(0, 0.8), (1, 0.2)], (0, 0.2), w) == [0, 0]
    assert _best_route(idx, [(0, 0.4), (1, 0.6)], (0, 0.3), w) == [1, 0]


def test_dijkstra_shortest_path_reference_graph():
    """DijkstraTest.testShortestPath first block (DijkstraTest.java:
    273-331): 18-edge weighted graph, multi-source multi-target expected
    paths verbatim."""
    import numpy as np
    E = [(0, 0, 1, 100), (1, 1, 0, 100), (2, 0, 2, 160), (3, 2, 0, 160),
         (4, 1, 2, 50), (5, 2, 1, 50), (6, 1, 3, 200), (7, 3, 1, 200),
         (8, 2, 3, 100), (9, 3, 2, 100), (10, 2, 4, 40), (11, 4, 2, 40),
         (12, 3, 4, 100), (13, 4, 3, 100), (14, 3, 5, 200), (15, 5, 3, 200),
         (16, 4, 5, 60), (17, 5, 4, 60)]
    idx = _stub_idx([(e, s, t) for e, s, t, _ in E])
    w = np.array([float(c) for _, _, _, c in E])
    sources = [(0, 0.3), (1, 0.7)]
    assert _best_route(idx, sources, (14, 0.3), w) == [0, 4, 8, 14]
    assert _best_route(idx, sources, (15, 0.7), w) == [0, 4, 10, 16, 15]


def _mock_states(matrix):
    """FilterTest.MockStates oracle (FilterTest.java:45-120): row 0 =
    [0, 0, emissions...]; rows 1..P = [filtprob, seqprob_base,
    transitions...]. Returns expected (filtprob, seqprob, pred)."""
    import numpy as np
    m = np.asarray(matrix, dtype=np.float64)
    C = m.shape[1] - 2
    P = m.shape[0] - 1
    emission = m[0, 2:]
    filt = np.zeros(C)
    seq = np.full(C, -np.inf)
    pred = np.full(C, -1)
    normsum = 0.0
    for c in range(C):
        has_t = False
        for p in range(P):
            t = m[p + 1, c + 2]
            if t == 0:
                continue
            has_t = True
            filt[c] += m[p + 1, 0] * t
            s = np.log10(m[p + 1, 1]) + np.log10(t) + np.log10(emission[c])
            if s > seq[c]:
                pred[c] = p
                seq[c] = s
        if not has_t:
            filt[c] = emission[c]
            seq[c] = np.log10(emission[c])
            pred[c] = -1
        else:
            filt[c] *= emission[c]
        normsum += filt[c]
    return filt / normsum, seq, pred, emission, m


def test_hmm_forward_filtertest_initial():
    """FilterTest.FilterTestInitial (FilterTest.java:166-186)."""
    want_f, want_s, want_p, emission, m = _mock_states(
        [[0, 0, 0.6, 1.0, 0.4]])
    f, s, p, keep = M.hmm_forward_arrays(
        np.zeros(0), np.zeros(0), np.zeros((0, 3)), emission)
    assert keep.all()
    np.testing.assert_allclose(f, want_f, atol=1e-6)
    np.testing.assert_allclose(s, want_s, atol=1e-6)
    assert (p == -1).all()


def test_hmm_forward_filtertest_subsequent():
    """FilterTest.FilterTestSubsequent (FilterTest.java:188-210):
    2 predecessors x 3 candidates, full matrices."""
    mat = [[0, 0, 0.6, 1.0, 0.4],
           [0.2, 0.3, 0.01, 0.02, 0.3],
           [0.3, 0.4, 0.2, 0.05, 0.02]]
    want_f, want_s, want_p, emission, m = _mock_states(mat)
    filt_prev = m[1:, 0]
    seq_prev = np.log10(m[1:, 1])
    trans = m[1:, 2:]
    f, s, p, keep = M.hmm_forward_arrays(filt_prev, seq_prev, trans, emission)
    assert keep.all()
    np.testing.assert_allclose(f, want_f, atol=1e-6)
    np.testing.assert_allclose(s, want_s, atol=1e-6)
    np.testing.assert_array_equal(p, want_p)


def test_hmm_forward_filtertest_break_transition():
    """FilterTest.FilterTestBreakTransition (FilterTest.java:212-236):
    all transitions zero -> every candidate re-seeds from emissions
    with no predecessor."""
    mat = [[0, 0, 0.6, 1.0, 0.4],
           [0.2, 0.3, 0, 0, 0],
           [0.3, 0.4, 0, 0, 0]]
    want_f, want_s, want_p, emission, m = _mock_states(mat)
    f, s, p, keep = M.hmm_forward_arrays(
        m[1:, 0], np.log10(m[1:, 1]), m[1:, 2:], emission)
    assert keep.all()
    np.testing.assert_allclose(f, want_f, atol=1e-6)
    np.testing.assert_allclose(s, want_s, atol=1e-6)
    assert (p == -1).all()


def test_minset_reference_goldens():
    """MinsetTest.TestMinset1/TestMinset2 (matcher/MinsetTest.java:
    44-257) verbatim: candidate (edge_id, fraction) sets -> expected
    minimal sets."""
    from barefoot_spark import roads as R
    from barefoot_spark.index import RoadIndex

    # map 1: 6 oneway roads (MinsetTest.java:55-60); directed ids = gid*2
    m1 = RoadIndex(R.roads_pdf_from_entries([
        (0, 0, 2, True, "LINESTRING(0 0, 1 1)"),
        (1, 1, 2, True, "LINESTRING(0 2, 1 1)"),
        (2, 2, 3, True, "LINESTRING(1 1, 2 1)"),
        (3, 3, 4, True, "LINESTRING(2 1, 3 2)"),
        (4, 3, 5, True, "LINESTRING(2 1, 3 1)"),
        (5, 3, 6, True, "LINESTRING(2 1, 3 0)")]), res=10)

    def run(idx, cand):
        eids = np.array([e for e, _ in cand], dtype=np.int64)
        fracs = np.array([f for _, f in cand], dtype=np.float64)
        ei, fr = M.minset(idx, idx.eid_to_idx(eids), fracs)
        return set(int(x) for x in idx.edge_id[ei])

    assert run(m1, [(0, 1), (2, 1), (4, 0.5), (6, 0), (8, 0), (10, 0)]) == {4}
    assert run(m1, [(0, 1), (2, 1), (4, 1), (8, 0.5), (10, 0.5)]) == {4, 8, 10}
    assert run(m1, [(4, 1), (6, 0.0), (8, 0.5), (10, 0.5)]) == {4, 8, 10}
    assert run(m1, [(0, 1), (2, 1), (4, 1), (6, 0.2), (8, 0.5), (10, 0.5)]) \
        == {6, 8, 10}

    # map 2: micro7 minus road 6 (MinsetTest.java:189-194)
    m2 = RoadIndex(R.roads_pdf_from_entries(
        [(g, s, t, o, w) for g, s, t, o, w in R.MICRO7[:6]]), res=15)
    assert run(m2, [(0, 1), (1, 0), (2, 0), (3, 1), (6, 0), (8, 0)]) == {0, 3}


def test_route_cache_equivalence_random():
    """route_ssmt_cached must return byte-identical paths to route_ssmt
    for many queries sharing one tree cache — random sources, fractions,
    target sets and bounds over the seeded grid (the cache replay
    preserves reach ordering and the Dijkstra.java:205-208 bound break)."""
    from barefoot_spark import roads as R
    from barefoot_spark.index import RoadIndex

    idx = RoadIndex(R.grid_pdf(10, seed=7), res=15)
    rng = np.random.default_rng(123)
    n = len(idx.edge_id)
    cost = idx.cost_vector("time")
    bvec = idx.cost_dist
    cache: dict = {}
    n_q = 0
    for _ in range(300):
        se = int(rng.integers(0, n))
        sf = float(rng.uniform())
        k = int(rng.integers(1, 8))
        targets = [(int(rng.integers(0, n)), float(rng.uniform()))
                   for _ in range(k)]
        # include same-edge targets on both sides of sf sometimes
        if rng.uniform() < 0.5:
            targets.append((se, float(rng.uniform())))
        bound = float(rng.choice([300.0, 1000.0, 3000.0, 1e9]))
        want = M.route_ssmt(idx, (se, sf), targets, cost, bvec, bound)
        got = M.route_ssmt_cached(idx, (se, sf), targets, cost, bvec,
                                  bound, cache)
        assert got == want, (se, sf, targets, bound)
        n_q += 1
    assert n_q == 300 and len(cache) > 0


def test_route_cache_exact_ties_and_bound():
    """Constructed tie/bound-boundary cases the randomized sweep cannot
    sample: integer cost vectors and dyadic fractions make every cost /
    bound computation IEEE-exact in BOTH the cached (relative, K-shift)
    and uncached (absolute) accumulation orders, so unit-cost grids —
    maximal equal-cost route ties — and bounds EXACTLY equal to a
    mark's bound must produce bit-identical results (the bound break is
    strict `>`, so an exactly-at-bound mark is processed in both)."""
    from barefoot_spark import roads as R
    from barefoot_spark.index import RoadIndex

    idx = RoadIndex(R.grid_pdf(6, seed=3), res=15)
    n = len(idx.edge_id)
    rng = np.random.default_rng(5)
    fracs = [0.0, 0.25, 0.5, 0.75, 1.0]
    for cost in (np.ones(n), rng.integers(1, 5, n).astype(np.float64)):
        bvec = cost
        cache: dict = {}
        for trial in range(120):
            se = int(rng.integers(0, n))
            sf = float(rng.choice(fracs))
            targets = [(int(rng.integers(0, n)), float(rng.choice(fracs)))
                       for _ in range(int(rng.integers(1, 6)))]
            # bound exactly on the integer lattice of achievable bounds
            bound = float(rng.integers(0, 12))
            want = M.route_ssmt(idx, (se, sf), targets, cost, bvec, bound)
            got = M.route_ssmt_cached(idx, (se, sf), targets, cost, bvec,
                                      bound, cache)
            assert got == want, (se, sf, targets, bound)


@pytest.fixture(scope="module")
def cache_case():
    """40 x 60 samples on grid_pdf(12) and the rows match_trace gives with
    its own cache per trace. The input holds trace-000005, -000024 and
    -000035, whose rows differed by up to 0.0408 against 0.0268 in
    filtprob when match_trace had a second, uncached route search."""
    from barefoot_spark import roads as R
    from barefoot_spark.index import RoadIndex
    from barefoot_spark.sources import samples as SS

    idx = RoadIndex(R.grid_pdf(12, seed=42), res=16)
    pdf = SS.synth_traces(idx, n_traces=40, samples_per_trace=60, seed=2)
    assert {"trace-000005", "trace-000024", "trace-000035"} \
        <= set(pdf["trace_id"])
    params = M.MatcherParams()
    groups = list(pdf.groupby("trace_id", sort=False))

    def run(cache=None):
        rows = []
        for tid, g in groups:
            rows += M.match_trace(
                idx, tid, g["sample_id"].to_numpy(),
                g["time"].to_numpy(np.int64), g["lat"].to_numpy(np.float64),
                g["lon"].to_numpy(np.float64),
                g["azimuth"].to_numpy(np.float64), params,
                route_cache=cache)
        return rows

    want = run()
    assert len(want) == 2400
    return idx, params, pdf, run, want


@pytest.mark.parametrize("cache_cap", [1, 2, 4096])
def test_match_trace_route_cache_equivalence(cache_case, cache_cap,
                                             monkeypatch):
    """One route cache shared by all traces gives exactly the rows of a
    cache per trace at any tree cap, including caps of 1 and 2 (every new
    source edge evicts) and the default 4096: the memory bound cannot
    change results."""
    _, _, _, run, want = cache_case
    monkeypatch.setattr(M, "_TREE_CACHE_MAX", cache_cap)
    shared: dict = {}
    assert run(shared) == want
    assert len(shared) <= cache_cap
    if cache_cap > 2:
        assert len(shared) > 2


def test_match_partition_route_cache_equivalence(cache_case):
    """The Spark-free partition kernel runs the same route search as
    match_trace and emits the same rows."""
    idx, params, pdf, _, want = cache_case
    kernel = M._match_partition(idx, params, pdf)
    assert list(kernel.itertuples(index=False, name=None)) == want


def test_duplicate_timestamp_gate():
    """Batch matching mirrors MatcherServer.java:82-86: duplicate
    sample times are an error by default; dup_time='drop' keeps the
    first-arrived sample per time and matches the pre-deduped input;
    any other policy is rejected when the params are built; the ONLINE
    matcher (TrackerServer.java:168 / KState.java:182) accepts equal
    times and rejects only strictly-older samples."""
    from barefoot_spark import roads as R
    from barefoot_spark.index import RoadIndex
    from barefoot_spark.sources import samples as SS
    from barefoot_spark.streaming.online import OnlineMatcher

    idx = RoadIndex(R.grid_pdf(8, seed=5), res=16)
    pdf = SS.synth_traces(idx, n_traces=1, samples_per_trace=20, seed=5)
    g = pdf.sort_values("time").reset_index(drop=True)
    # duplicate sample 5's timestamp onto a copy of sample 6's position
    dup = g.copy()
    dup.loc[6, "time"] = dup.loc[5, "time"]

    def args(frame, params):
        return (idx, "t0", frame["sample_id"].to_numpy(),
                frame["time"].to_numpy(np.int64),
                frame["lat"].to_numpy(np.float64),
                frame["lon"].to_numpy(np.float64),
                frame["azimuth"].to_numpy(np.float64), params)

    with pytest.raises(ValueError, match="multiple samples for same time"):
        M.match_trace(*args(dup, M.MatcherParams()))

    dropped = M.match_trace(*args(dup, M.MatcherParams(dup_time="drop")))
    manual = M.match_trace(*args(dup.drop(index=6), M.MatcherParams()))
    assert dropped == manual

    # only "error" and "drop" exist: a misspelt policy must not fall
    # through to matching duplicate times
    for bad in ("accept", "dorp", ""):
        with pytest.raises(ValueError, match="dup_time"):
            M.MatcherParams(dup_time=bad)

    # online: equal time passes the order gate, older is rejected
    om = OnlineMatcher(idx)
    r0 = g.iloc[0]
    assert om.update("x", int(r0["time"]), r0["lat"], r0["lon"])[0] == "ok"
    assert om.update("x", int(r0["time"]), r0["lat"], r0["lon"])[0] == "ok"
    assert om.update("x", int(r0["time"]) - 1000, r0["lat"], r0["lon"])[0] \
        == "order"


def test_x0001_001_full_fixture_end_to_end(reference_file):
    """The reference's FLAGSHIP fixture: all 1194 Munich samples of
    x0001-001.json matched with MatcherExample's mmatch params
    (minDistance=1 m, minInterval=500 ms — MatcherExample.java:47-73),
    on a corridor map synthesized from the trace's own geojson track
    (x0001-001.geojson == the raw track, verified coordinate-identical).
    Asserts: thinning keeps nearly all 5s-interval samples, the matcher
    drops none of them, the corridor is walked monotonically end to end,
    every matched position stays within the emission radius of its
    sample, and Benchmark.error of the corridor vs the matched route
    sequence is small."""
    import json
    import pandas as pd
    from barefoot_spark import geo, roads as R
    from barefoot_spark.index import RoadIndex
    from barefoot_spark.sources import samples as SS
    from barefoot_spark.operators import evaluate as EV

    arr = json.load(open(reference_file("matcher/x0001-001.json")))
    samples = SS.parse_sample_json(pd.Series([json.dumps(o) for o in arr]))
    assert len(samples) == 1194
    track = np.array(json.load(open(
        reference_file("matcher/x0001-001.geojson")))["coordinates"])

    # corridor: one road per 3 consecutive track points (~3x sample
    # spacing, so matching has to route across roads)
    pts = track[::3]
    entries = []
    for i in range(len(pts) - 1):
        entries.append((i + 1, 100 + i, 100 + i + 1, False,
                        f"LINESTRING({pts[i][0]} {pts[i][1]}, "
                        f"{pts[i+1][0]} {pts[i+1][1]})"))
    idx = RoadIndex(R.roads_pdf_from_entries(entries), res=15)

    params = M.MatcherParams(min_distance=1.0, min_interval_ms=500)
    rows = M.match_trace(
        idx, "x0001-001", np.arange(len(samples)).astype(str),
        samples["time"].to_numpy("int64"),
        samples["lat"].to_numpy(), samples["lon"].to_numpy(),
        samples["azimuth"].to_numpy(), params, route_cache={})

    # the matcher must emit EXACTLY the thinning-kept samples (1 Hz
    # trace with mmatch(1, 500): sub-meter stand-still samples drop,
    # Matcher.java:376-380) — no HMM drops on its own fixture
    t = samples["time"].to_numpy("int64")
    la, lo = samples["lat"].to_numpy(), samples["lon"].to_numpy()
    kept = 0
    last = None
    for i in range(len(t)):
        if last is not None:
            d = float(geo.distance(la[i], lo[i], la[last], lo[last]))
            if d < 1.0 or (t[i] - t[last]) < 500:
                continue
        kept += 1
        last = i
    assert len(rows) == kept >= 800
    k_lat = {int(r[2]): (r[6], r[7]) for r in rows}
    s_lat = samples["lat"].to_numpy()
    s_lon = samples["lon"].to_numpy()
    dists = [float(geo.distance(s_lat[i], s_lon[i], la, lo))
             for i, (la, lo) in k_lat.items()]
    assert max(dists) <= params.max_radius       # on-corridor positions
    assert float(np.mean(dists)) < 15.0          # tight to the track

    eids = [r[4] for r in rows]
    bases = np.array([e // 2 for e in eids])
    assert (np.diff(bases) >= 0).mean() > 0.95   # monotone corridor walk
    assert bases[-1] - bases[0] >= (len(pts) - 1) * 0.9

    # Benchmark.error: corridor ground truth vs matched route sequence
    route_seq = []
    for r in rows:
        for e in r[9]:
            if not route_seq or route_seq[-1] != int(e):
                route_seq.append(int(e))
    left = [int(idx.edge_id[j]) for j in range(0, len(idx.edge_id), 2)]
    left_lens = [float(idx.edge_len[j]) for j in range(0, len(idx.edge_id), 2)]
    err = EV.error(left, left_lens, route_seq)
    assert err < 0.25


def test_edge_successors_reference_graph():
    """EdgeTest.testSuccessors (topology/EdgeTest.java:26-127) verbatim:
    successors(e) = every edge whose source equals e's target, on the
    8-edge reference graph."""
    edges = [(0, 0, 1), (1, 1, 0), (2, 1, 2), (3, 2, 1),
             (4, 3, 1), (6, 4, 0), (7, 0, 4), (8, 0, 5)]
    idx = _stub_idx(edges)
    eid = [e[0] for e in edges]

    def succ_ids(pos):
        s, e = idx.succ_offsets[pos], idx.succ_offsets[pos + 1]
        return {eid[int(j)] for j in idx.successors[s:e]}

    assert succ_ids(0) == {1, 2}          # edge0 -> {1, 2}
    assert succ_ids(3) == {1, 2}          # edge3 -> {1, 2}
    assert succ_ids(1) == {0, 7, 8}       # edge1 -> {0, 7, 8}
    assert succ_ids(7) == set()           # edge8 -> {}
    assert succ_ids(2) == {3}             # edge2 -> {3}


def test_path_valid_reference_semantics(idx):
    """Path.valid (topology/Path.java:89-119): endpoint-edge agreement,
    the backwards-on-one-edge rejection, and successor connectivity —
    plus the invariant that every route the Dijkstra returns is valid."""
    w = idx.cost_vector("time")
    # every returned route is valid by construction
    rng = np.random.default_rng(5)
    n = len(idx.edge_id)
    for _ in range(100):
        se, sf = int(rng.integers(0, n)), float(rng.uniform())
        te, tf = int(rng.integers(0, n)), float(rng.uniform())
        p = M.route_ssmt(idx, (se, sf), [(te, tf)], w, idx.cost_dist, 1e9)[0]
        if p is not None:
            assert M.path_valid(idx, p, (se, sf), (te, tf))
    # rejections
    assert not M.path_valid(idx, [], (0, 0.1), (0, 0.2))
    assert not M.path_valid(idx, [1], (0, 0.1), (1, 0.2))      # wrong start
    assert not M.path_valid(idx, [0], (0, 0.1), (1, 0.2))      # wrong end
    assert not M.path_valid(idx, [0], (0, 0.7), (0, 0.2))      # backwards
    # disconnected pair: two edges that are not successors
    sl = idx.succ_lists()
    for a in range(n):
        b = next((x for x in range(n) if x not in sl[a] and x != a), None)
        if b is not None:
            assert not M.path_valid(idx, [a, b], (a, 0.5), (b, 0.5))
            break
