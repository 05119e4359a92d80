"""Online matcher tests. The headline property mirrors the reference's
strongest cross-check (tracker/TrackerServerTest.java:156-166): feeding
samples one at a time through the online matcher yields exactly the
offline mmatch sequence (same edges, fractions to 1e-10)."""

import numpy as np
import pytest

from barefoot_spark import roads
from barefoot_spark.index import RoadIndex
from barefoot_spark.operators import match as M
from barefoot_spark.sources import samples as SS
from barefoot_spark.streaming.online import OnlineMatcher


@pytest.fixture(scope="module")
def idx():
    return RoadIndex(roads.micro7_pdf(), res=15)


@pytest.fixture(scope="module")
def grid_idx():
    return RoadIndex(roads.grid_pdf(6, seed=5), res=15)


def offline_rows(idx, samples, params=M.MatcherParams()):
    ids = [str(i) for i in range(len(samples))]
    return M.match_trace(idx, "t", ids, [s[0] for s in samples],
                         [s[1] for s in samples], [s[2] for s in samples],
                         [s[3] if len(s) > 3 else np.nan for s in samples], params)


def check_equality(idx, samples, params=M.MatcherParams()):
    om = OnlineMatcher(idx, params)
    for (t, lat, lon, *rest) in samples:
        azi = rest[0] if rest else float("nan")
        om.update("t", t, lat, lon, azi)
    online_seq = om.sequence("t")
    offline = offline_rows(idx, samples, params)
    assert len(online_seq) == len(offline)
    for o_row, f_row in zip(online_seq, offline):
        assert o_row[2] == f_row[4]                       # edge id
        assert abs(o_row[3] - f_row[5]) < 1e-10           # fraction
    return offline


def test_online_equals_offline_micro7(idx):
    check_equality(idx, [(0, 48.001, 11.001), (60000, 48.001, 11.011),
                         (120000, 48.001, 11.012), (180000, 48.010, 11.021)])


def test_online_equals_offline_synthetic(grid_idx):
    pdf = SS.synth_traces(grid_idx, n_traces=3, samples_per_trace=25, seed=13)
    # 1 Hz samples at 12 m/s: the distance gate drops samples that the
    # interval gate keeps
    thinned = M.MatcherParams(min_distance=30.0, min_interval_ms=2000)
    for tid, g in pdf.groupby("trace_id"):
        samples = list(zip(g["time"], g["lat"], g["lon"], g["azimuth"]))
        check_equality(grid_idx, samples)
        assert len(check_equality(grid_idx, samples, thinned)) < len(offline_rows(
            grid_idx, samples, M.MatcherParams(min_interval_ms=2000)))


@pytest.mark.parametrize("cap", [None, 1])
def test_shared_route_cache_interleaved_vehicles(monkeypatch, cap):
    """One matcher serving interleaved vehicles shares one route cache
    among them; its per-sample estimates and sequences equal those of a
    fresh matcher per vehicle, also when the cache holds one tree."""
    if cap is not None:
        monkeypatch.setattr(M, "_TREE_CACHE_MAX", cap)
    idx = RoadIndex(roads.grid_pdf(10, seed=3), res=16)
    pdf = SS.synth_traces(idx, n_traces=6, samples_per_trace=30, seed=4)
    arrivals = pdf.sort_values(["time", "trace_id"], kind="stable")

    def feed(om, frame):
        return [om.update(r.trace_id, int(r.time), r.lat, r.lon, r.azimuth)
                for r in frame.itertuples(index=False)]

    shared = OnlineMatcher(idx)
    updates = feed(shared, arrivals)
    assert len(shared.route_cache) > 1 or cap == 1
    for tid, g in pdf.groupby("trace_id"):
        alone = OnlineMatcher(idx)
        mine = arrivals["trace_id"].to_numpy() == tid
        assert feed(alone, g) == [u for u, m in zip(updates, mine) if m]
        assert shared.sequence(tid) == alone.sequence(tid)
        assert len(alone.sequence(tid)) > 20


def test_out_of_order_rejected(idx):
    om = OnlineMatcher(idx)
    om.update("t", 60000, 48.001, 11.001)
    status, publish, row = om.update("t", 0, 48.001, 11.011)
    assert status == "order" and row is None
    assert len(om.sequence("t")) == 1


def test_thinning_gates(idx):
    om = OnlineMatcher(idx, M.MatcherParams(min_interval_ms=5000))
    om.update("t", 0, 48.001, 11.001)
    status, _, _ = om.update("t", 1000, 48.001, 11.002)
    assert status == "thin"
    status, _, _ = om.update("t", 6000, 48.001, 11.002)
    assert status == "ok"


def test_k_bounded_state(idx):
    om = OnlineMatcher(idx, k=2)
    samples = [(0, 48.001, 11.001), (60000, 48.001, 11.011),
               (120000, 48.001, 11.012), (180000, 48.010, 11.021)]
    for t, lat, lon in samples:
        om.update("t", t, lat, lon)
    assert len(om.states["t"].sequence) == 3  # k+1 vectors kept
    seq = om.sequence("t")
    assert len(seq) == 3


def test_ttl_expiry(idx):
    om = OnlineMatcher(idx, ttl_ms=1000)
    om.update("t", 0, 48.001, 11.001)
    assert om.expire(now_ms=500) == []
    assert om.expire(now_ms=2000) == ["t"]
    assert "t" not in om.states


def test_publish_suppression(idx):
    om = OnlineMatcher(idx, sensitive_m=50.0)
    om.update("t", 0, 48.001, 11.001)
    # tiny move on the same edge -> suppressed
    status, publish, _ = om.update("t", 60000, 48.001, 11.0011)
    assert status == "ok" and publish is False
    # larger move -> published
    status, publish, _ = om.update("t", 120000, 48.001, 11.008)
    assert status == "ok" and publish is True


def test_kstate_unbound_reference_goldens():
    """KStateTest.TestKStateUnbound (markov/KStateTest.java:68-157)
    verbatim: retained sizes after chain pruning, estimates, and
    Viterbi sequences across four updates incl. an HMM break (null
    preds repaired to the previous estimate) and an empty update."""
    import math
    from barefoot_spark.operators.match import _Cand, estimate
    from barefoot_spark.streaming.online import prune_chains

    def mk(numid, filtprob, pred):
        c = _Cand(numid, 0.0, 0.0, 0.0, 0.0)
        c.filtprob = filtprob
        c.seqprob = math.log10(filtprob)
        c.pred = pred
        return c

    e = {}
    seq = []

    def update(vector):
        # KState.update incl. null-pred chain repair (KState.java:186-189)
        if not vector:
            return
        if seq:
            prev_est = estimate(seq[-1][0])
            for c in vector:
                if c.pred is None:
                    c.pred = prev_est
        seq.append((list(vector), len(seq)))
        prune_chains(seq)

    def size():
        return sum(len(v) for v, _ in seq)

    def sequence_ids():
        it = estimate(seq[-1][0])
        chain = []
        while it is not None:
            chain.append(it.eidx)
            it = it.pred
        return chain[::-1]

    for i, f in ((0, 0.3), (1, 0.2), (2, 0.5)):
        e[i] = mk(i, f, None)
    update([e[0], e[1], e[2]])
    assert size() == 3 and estimate(seq[-1][0]).eidx == 2

    for i, f, p in ((3, 0.3, 1), (4, 0.2, 1), (5, 0.4, 2), (6, 0.1, 2)):
        e[i] = mk(i, f, e[p])
    update([e[3], e[4], e[5], e[6]])
    assert size() == 6 and estimate(seq[-1][0]).eidx == 5
    assert sequence_ids()[:-1] == [2]
    assert sequence_ids() == [2, 5]

    for i, f, p in ((7, 0.3, 5), (8, 0.2, 5), (9, 0.4, 6), (10, 0.1, 6)):
        e[i] = mk(i, f, e[p])
    update([e[7], e[8], e[9], e[10]])
    assert size() == 7 and estimate(seq[-1][0]).eidx == 9
    assert sequence_ids() == [2, 6, 9]

    for i, f in ((11, 0.3), (12, 0.2), (13, 0.4), (14, 0.1)):
        e[i] = mk(i, f, None)
    update([e[11], e[12], e[13], e[14]])
    assert size() == 7 and estimate(seq[-1][0]).eidx == 13
    assert sequence_ids() == [2, 6, 9, 13]

    update([])   # empty vector ignored (KState.java:178-180)
    assert size() == 7 and estimate(seq[-1][0]).eidx == 13


def test_statememory_semantics_via_k0():
    """StateTest.TestState (markov/StateTest.java:67-135): StateMemory
    keeps only the latest vector — equivalent to our bounded state with
    k=0 (sequence length 1 after pruning). Sizes and estimates
    verbatim; the same element/prob script as TestKStateUnbound."""
    import math
    from barefoot_spark.operators.match import _Cand, estimate
    from barefoot_spark.streaming.online import prune_chains

    def mk(numid, filtprob, pred):
        c = _Cand(numid, 0.0, 0.0, 0.0, 0.0)
        c.filtprob = filtprob
        c.seqprob = math.log10(filtprob)
        c.pred = pred
        return c

    e, seq = {}, []

    def update(vector):
        if not vector:
            return
        if seq:
            prev_est = estimate(seq[-1][0])
            for c in vector:
                if c.pred is None:
                    c.pred = prev_est
        seq.append((list(vector), len(seq)))
        prune_chains(seq)
        # k=0 bound: keep only the latest vector; new head loses preds
        # (KState.java:218-228 truncation == StateMemory semantics)
        while len(seq) > 1:
            seq.pop(0)
            for c in seq[0][0]:
                c.pred = None

    def size():
        return sum(len(v) for v, _ in seq)

    for i, f in ((0, 0.3), (1, 0.2), (2, 0.5)):
        e[i] = mk(i, f, None)
    update([e[0], e[1], e[2]])
    assert size() == 3 and estimate(seq[-1][0]).eidx == 2

    for i, f, p in ((3, 0.3, 1), (4, 0.2, 1), (5, 0.4, 2), (6, 0.1, 2)):
        e[i] = mk(i, f, e[p])
    update([e[3], e[4], e[5], e[6]])
    assert size() == 4 and estimate(seq[-1][0]).eidx == 5

    for i, f, p in ((7, 0.3, 5), (8, 0.2, 5), (9, 0.4, 6), (10, 0.1, 6)):
        e[i] = mk(i, f, e[p])
    update([e[7], e[8], e[9], e[10]])
    assert size() == 4 and estimate(seq[-1][0]).eidx == 9

    for i, f in ((11, 0.3), (12, 0.2), (13, 0.4), (14, 0.1)):
        e[i] = mk(i, f, None)
    update([e[11], e[12], e[13], e[14]])
    assert size() == 4 and estimate(seq[-1][0]).eidx == 13

    update([])
    assert size() == 4 and estimate(seq[-1][0]).eidx == 13


def test_temporary_memory_ttl_semantics():
    """TemporaryMemoryTest (tracker/TemporaryMemoryTest.java:47-95) with
    logical clocks: a state updated with ttl stays alive within the ttl
    window with its value intact, dies after, explicit delete removes it
    immediately, and under mixed refreshes only refreshed keys survive
    (test 3's convergence, deterministically)."""
    from barefoot_spark import roads as R
    from barefoot_spark.index import RoadIndex
    from barefoot_spark.streaming.online import OnlineMatcher

    idx = RoadIndex(R.grid_pdf(6, seed=3), res=16)
    la = float(idx.coords[0][1]) + 1e-4
    lo = float(idx.coords[0][0]) + 1e-4
    om = OnlineMatcher(idx, ttl_ms=5000)

    # test 1: alive at +2s with state intact, dead after ttl
    assert om.update("abc", 0, la, lo, now_ms=0)[0] == "ok"
    assert om.expire(2000) == []
    st = om.states.get("abc")
    assert st is not None and len(st.sequence) == 1
    assert om.expire(6000) == ["abc"]
    assert om.states.get("abc") is None

    # test 2: explicit delete beats the ttl
    om.update("abc", 0, la, lo, now_ms=0)
    om.states.pop("abc")
    assert om.states.get("abc") is None and om.expire(10_000) == []

    # test 3 (deterministic): 50 keys at t=0; half refreshed at t=4s;
    # at t=6s only the refreshed half lives, at t=10s none do
    for i in range(50):
        om.update(f"k{i}", 0, la, lo, now_ms=0)
    for i in range(0, 50, 2):
        om.update(f"k{i}", 1000, la, lo, now_ms=4000)
    dead = om.expire(6000)
    assert sorted(dead) == sorted(f"k{i}" for i in range(1, 50, 2))
    assert len(om.states) == 25
    assert len(om.expire(10_000)) == 25 and not om.states


def test_road_point_json_roundtrip():
    """RoadPointTest.testJSON (roadmap/RoadPointTest.java:31-50): a
    road point (edge, fraction) survives the JSON state round-trip with
    edge id, fraction and directed source/target intact — via the
    KState-analog state serializer on the reference's test WKT."""
    import json
    from barefoot_spark import roads as R
    from barefoot_spark.index import RoadIndex
    from barefoot_spark.operators.match import _Cand
    from barefoot_spark.streaming.online import (
        OnlineState, state_from_json, state_to_json)

    wkt = "LINESTRING(11.3136273 48.0972002,11.3138846 48.0972999)"
    idx = RoadIndex(R.roads_pdf_from_entries([(1, 1, 2, True, wkt)]), res=15)
    ei = 0
    c = _Cand(ei, 0.2, 48.09722, 11.31373, 45.0)
    c.filtprob, c.seqprob = 1.0, 0.0
    st = OnlineState()
    st.sequence.append(([c], 123456))
    st.last_time, st.last_lat, st.last_lon = 123456, c.lat, c.lon

    st2 = state_from_json(json.loads(json.dumps(state_to_json(st))))
    c2 = st2.sequence[0][0][0]
    assert c2.eidx == c.eidx
    assert abs(c2.frac - c.frac) < 1e-6
    assert int(idx.edge_id[c2.eidx]) == int(idx.edge_id[c.eidx])
    assert int(idx.edge_src[c2.eidx]) == int(idx.edge_src[c.eidx])
    assert int(idx.edge_dst[c2.eidx]) == int(idx.edge_dst[c.eidx])


def test_matcher_kstate_json_reference_mirror():
    """MatcherKStateTest.testJSON (matcher/MatcherKStateTest.java:113-163)
    verbatim: two forward steps on the 6-road micro map (radius 200),
    JSON-serialize after each, rehydrate, and compare sample/vector/
    sequence sizes plus per-candidate filtprob/seqprob to 1e-10 — and
    the rehydrated state must continue matching identically."""
    import json
    from barefoot_spark import roads as R
    from barefoot_spark.index import RoadIndex
    from barefoot_spark.operators.match import MatcherParams, forward_step
    from barefoot_spark.streaming.online import (
        OnlineState, prune_chains, state_from_json, state_to_json)

    idx = RoadIndex(R.roads_pdf_from_entries(
        [(g, s, t, o, w) for g, s, t, o, w in R.MICRO7[:6]]), res=15)
    params = MatcherParams(max_radius=200.0)

    st = OnlineState()
    v1 = forward_step(idx, params, [], None, 0, 48.001, 11.001, float("nan"))
    assert v1
    st.sequence.append((v1, 0))
    prune_chains(st.sequence)

    def roundtrip(state):
        return state_from_json(json.loads(json.dumps(state_to_json(state))))

    other = roundtrip(st)
    assert len(other.sequence) == len(st.sequence)
    assert len(other.sequence[-1][0]) == len(v1)
    ids = {(c.eidx, round(c.frac, 9)) for c in v1}
    for c in other.sequence[-1][0]:
        assert (c.eidx, round(c.frac, 9)) in ids

    # step 2 at t=42 (MatcherKStateTest uses sample time 42)
    v2 = forward_step(idx, params, st.sequence[-1][0], 0, 42,
                      48.000, 11.010, float("nan"))
    assert v2
    st.sequence.append((v2, 42))
    prune_chains(st.sequence)

    other = roundtrip(st)
    assert len(other.sequence) == len(st.sequence)
    for (va, ta), (vb, tb) in zip(st.sequence, other.sequence):
        assert ta == tb and len(va) == len(vb)
        for ca, cb in zip(va, vb):
            assert ca.eidx == cb.eidx
            assert abs(ca.filtprob - cb.filtprob) < 1e-10
            assert abs(ca.seqprob - cb.seqprob) < 1e-10

    # continuation equivalence: one more step from original vs rehydrated
    v3a = forward_step(idx, params, st.sequence[-1][0], 42, 84_000,
                       48.000, 11.020, float("nan"))
    v3b = forward_step(idx, params, other.sequence[-1][0], 42, 84_000,
                       48.000, 11.020, float("nan"))
    assert [(c.eidx, c.frac, c.filtprob, c.seqprob) for c in v3a] == \
        [(c.eidx, c.frac, c.filtprob, c.seqprob) for c in v3b]
