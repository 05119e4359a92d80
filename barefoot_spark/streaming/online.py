"""Online (streaming) map matching — the TrackerServer analog.

Keyed incremental matching with bounded state, mirroring the reference's
tracker semantics (tracker/TrackerServer.java:152-258,
tracker/TemporaryMemory.java:36-204, markov/KState.java:177-231):

- per-object state keyed by trace_id, with TTL expiry;
- arriving samples gated by out-of-order rejection and min-distance /
  min-interval thinning BEFORE matching;
- one ``forward_step`` per accepted sample (the same kernel and the
  same route search, ``route_ssmt_cached``, as the offline matcher —
  TrackerServerTest.java:156-166 proves online == offline and we keep
  that property as a pytest). One route cache lives as long as the
  matcher and serves all of its vehicles; no row depends on it;
- k/tau-bounded sequence pruning;
- publish suppression: no update emitted if the estimate moved less
  than `sensitive` meters on the same edge (TrackerServer.java:208-222).

Spark integration: ``process_batch`` is the per-key body of
``structured.match_stream`` (``applyInPandasWithState``); the state object
round-trips through a plain dict (KState's JSON persistence precedent,
markov/KState.java:63-118) so it can live in any state store.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .. import geo
from ..index import RoadIndex
from ..operators.match import (
    MatcherParams, _Cand, backtrack, estimate, forward_step, thinned,
)


@dataclass
class OnlineState:
    """Bounded KState: list of (vector, time_ms) plus the last sample."""
    sequence: list = field(default_factory=list)   # [(vector, t_ms)]
    last_time: int | None = None
    last_lat: float | None = None
    last_lon: float | None = None
    death_time_ms: int | None = None               # TTL bookkeeping


def prune_chains(sequence):
    """Reference-count chain pruning (KState.update/remove,
    markov/KState.java:177-231,233-253): every non-final vector keeps
    only candidates lying on some ancestor chain of the final vector —
    unreferenced candidates (and transitively their ancestors) are
    deleted. This is what keeps long-lived online state bounded by
    O(k x vector width) instead of growing with trace length."""
    if len(sequence) < 2:
        return
    referenced = {id(c.pred) for c in sequence[-1][0] if c.pred is not None}
    for vec, _t in reversed(sequence[:-1]):
        n_before = len(vec)
        vec[:] = [c for c in vec if id(c) in referenced]
        if len(vec) == n_before:
            # nothing removed: this vector's pred-reference set is
            # unchanged since the previous prune, and everything
            # upstream was already pruned against exactly that set —
            # the backward walk is amortized O(changed), mirroring the
            # reference's incremental refcounting (KState.remove)
            break
        referenced = {id(c.pred) for c in vec if c.pred is not None}


class OnlineMatcher:
    def __init__(self, idx: RoadIndex, params: MatcherParams | None = None,
                 k: int = -1, tau_ms: int = -1, ttl_ms: int = 60_000,
                 sensitive_m: float = 0.0):
        self.idx = idx
        self.params = params or MatcherParams()
        self.k = k
        self.tau_ms = tau_ms
        self.ttl_ms = ttl_ms
        self.sensitive_m = sensitive_m
        self.states: dict[str, OnlineState] = {}
        # route_ssmt_cached trees, shared by every vehicle
        self.route_cache: dict = {}

    # ------------------------------------------------------------------
    def update(self, trace_id: str, t_ms: int, lat: float, lon: float,
               azi: float = float("nan"), now_ms: int | None = None):
        """Process one sample. Returns ("ok" | "order" | "thin" |
        "break", publish: bool, estimate row or None)."""
        st = self.states.get(trace_id)
        if st is None:
            st = self.states[trace_id] = OnlineState()

        # out-of-order reject (TrackerServer.java:167-172; KState.java:182-184)
        if st.last_time is not None and t_ms < st.last_time:
            return "order", False, None
        # thinning gates (TrackerServer.java:173-185)
        if st.last_time is not None and thinned(
                self.params, t_ms - st.last_time, lat, lon, st.last_lat, st.last_lon):
            return "thin", False, None

        prev_vector = st.sequence[-1][0] if st.sequence else []
        prev_time = st.sequence[-1][1] if st.sequence else None
        prev_est = estimate(prev_vector) if prev_vector else None

        vector = forward_step(self.idx, self.params, prev_vector, prev_time,
                              t_ms, lat, lon, azi, self.route_cache)
        if not vector:
            return "break", False, None

        st.sequence.append(([c for c in vector], t_ms))
        prune_chains(st.sequence)
        st.last_time, st.last_lat, st.last_lon = t_ms, lat, lon
        st.death_time_ms = (now_ms if now_ms is not None else t_ms) + self.ttl_ms

        # k/tau pruning (KState.java:218-228): on truncation the new head
        # loses its predecessor pointers
        while ((self.tau_ms > 0 and t_ms - st.sequence[0][1] > self.tau_ms)
               or (self.k >= 0 and len(st.sequence) > self.k + 1)):
            st.sequence.pop(0)
            for c in st.sequence[0][0]:
                c.pred = None

        est = estimate(vector)
        publish = True
        if prev_est is not None and self.sensitive_m > 0:
            moved = float(geo.distance(est.lat, est.lon, prev_est.lat, prev_est.lon))
            if est.eidx == prev_est.eidx and moved < self.sensitive_m:
                publish = False
        row = (trace_id, int(t_ms), int(self.idx.edge_id[est.eidx]),
               float(est.frac), float(est.lat), float(est.lon),
               float(est.filtprob))
        return "ok", publish, row

    # ------------------------------------------------------------------
    def sequence(self, trace_id: str):
        """Viterbi backtrack over the stored bounded sequence
        (KState.sequence, markov/KState.java:285-301)."""
        st = self.states.get(trace_id)
        if st is None:
            return []
        return [(trace_id, int(t_ms), int(self.idx.edge_id[c.eidx]),
                 float(c.frac)) for c, t_ms in backtrack(st.sequence)]

    def expire(self, now_ms: int):
        """TTL cleaner (TemporaryMemory.java:49-78): drop dead states,
        return expired ids (the tracker publishes deletes for them)."""
        dead = [k for k, st in self.states.items()
                if st.death_time_ms is not None and st.death_time_ms < now_ms]
        for k in dead:
            del self.states[k]
        return dead


def state_to_json(st: OnlineState) -> dict:
    """KState JSON persistence analog (markov/KState.java:304-335,
    format documented wiki/Home.md:619-707): per-step candidate vectors
    with predecessor references, so state survives process boundaries
    (the streaming checkpoint / redistribution story)."""
    ids: dict[int, str] = {}
    for si, (vec, _t) in enumerate(st.sequence):
        for ci, c in enumerate(vec):
            ids[id(c)] = f"{si}:{ci}"
    seq = []
    for si, (vec, t_ms) in enumerate(st.sequence):
        vector = []
        for ci, c in enumerate(vec):
            vector.append({
                "candid": ids[id(c)],
                "predid": ids.get(id(c.pred), "") if c.pred is not None else "",
                "eidx": c.eidx, "frac": c.frac, "lat": c.lat, "lon": c.lon,
                "azi": c.azi, "filtprob": c.filtprob, "seqprob": c.seqprob,
                "route": list(c.route) if c.route else None,
                "route_len": c.route_len,
            })
        seq.append({"vector": vector, "time": int(t_ms)})
    return {"sequence": seq, "last_time": st.last_time,
            "last_lat": st.last_lat, "last_lon": st.last_lon,
            "death_time_ms": st.death_time_ms}


def state_from_json(obj: dict) -> OnlineState:
    """Rehydrate an OnlineState (KState(JSONObject, factory) analog,
    markov/KState.java:63-118)."""
    st = OnlineState()
    by_id: dict[str, _Cand] = {}
    for si, elem in enumerate(obj["sequence"]):
        vec = []
        for cd in elem["vector"]:
            c = _Cand(cd["eidx"], cd["frac"], cd["lat"], cd["lon"], cd["azi"])
            c.filtprob = cd["filtprob"]
            c.seqprob = cd["seqprob"]
            c.route = list(cd["route"]) if cd["route"] is not None else None
            c.route_len = cd["route_len"]
            c.pred = by_id.get(cd["predid"]) if cd["predid"] else None
            by_id[cd["candid"]] = c
            vec.append(c)
        st.sequence.append((vec, int(elem["time"])))
    st.last_time = obj["last_time"]
    st.last_lat = obj["last_lat"]
    st.last_lon = obj["last_lon"]
    st.death_time_ms = obj["death_time_ms"]
    return st


def process_batch(matcher: OnlineMatcher, pdf) -> list[tuple]:
    """Feed a micro-batch through the online matcher, each trace in time
    order and equal times in arrival order (a stable sort); returns the
    published estimate rows."""
    out = []
    for r in pdf.sort_values(["trace_id", "time"],
                             kind="stable").itertuples(index=False):
        azi = float(getattr(r, "azimuth", float("nan")))
        status, publish, row = matcher.update(str(r.trace_id), int(r.time),
                                              float(r.lat), float(r.lon), azi)
        if status == "ok" and publish:
            out.append(row)
    return out
