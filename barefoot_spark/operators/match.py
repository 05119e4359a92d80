"""HMM map matching: lock-step Viterbi kernel run per partition by mapInPandas.

Re-implements the semantics of barefoot's matcher stack —
candidate search + emission (matcher/Matcher.java:185-238), Minset
pruning (matcher/Minset.java:71-114), per-predecessor shortest-path
transitions (matcher/Matcher.java:248-351), edge-based Dijkstra
(topology/Dijkstra.java:90-295), HMM forward step
(markov/Filter.java:114-244), and KState estimate/backtrack
(markov/KState.java:177-301) — as numpy kernels. The samples are
hash-repartitioned by ``trace_id`` (partition count sized by work,
``session.repartition_by_work``) and ``mapInPandas`` runs the kernel
once per partition, with one shared route cache for all its traces.

Spark-first shape (the reference's own Spark recipe, wiki/Home.md:716-770,
modernized): the road index is a broadcast variable, traces are the
shuffle key, and all math is numpy over Arrow batches. Work that spans
samples (radius search, Minset, emission distance) is vectorized over a
whole trace at once. The forward recursion is sequential in time but
independent across traces, so ``forward_steps`` advances a group of up
to LOCKSTEP_TRACES traces by one sample per call, over flat arrays with
per-trace offsets: numpy's per-call cost is paid once per step of the
group, not once per step of every trace. Only routing (one search per
trace and predecessor) and the per-pair path walk stay Python loops.
A trace's rows never depend on the traces it shares steps with;
``match_trace`` is the same kernel with a group of one.
This kernel, ``match_trace`` and the online matcher all route through
one search, ``route_ssmt_cached``; ``route_ssmt`` is the tests' plain
reference and the engine does not call it.
"""

from __future__ import annotations

import heapq
import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from .. import geo
from ..index import RoadIndex
from ..session import repartition_by_work

MATCH_SCHEMA = StructType([
    StructField("trace_id", StringType()),
    StructField("seq", IntegerType()),
    StructField("sample_id", StringType()),
    StructField("time", LongType()),
    StructField("edge_id", LongType()),
    StructField("fraction", DoubleType()),
    StructField("lat", DoubleType()),
    StructField("lon", DoubleType()),
    StructField("azimuth", DoubleType()),
    StructField("route_edges", ArrayType(LongType())),
    StructField("route_length", DoubleType()),
    StructField("filtprob", DoubleType()),
    StructField("seqprob", DoubleType()),
])


@dataclass
class MatcherParams:
    """Defaults mirror matcher/Matcher.java:62-68 and
    config/server.properties:5-10. The route cache has no knob: it
    holds at most ``_TREE_CACHE_MAX`` trees (``route_ssmt_cached``)."""
    sigma: float = 10.0
    sigma_a: float = 10.0          # azimuth gaussian (Matcher.java:65)
    lam: float = 0.0               # 0 => adaptive beta (Matcher.java:323-327)
    max_radius: float = 200.0
    max_distance: float = 15000.0  # route bound meters (Matcher.java:67)
    shorten_turns: bool = True
    min_distance: float = 0.0      # thinning (Matcher.java:376-380)
    min_interval_ms: int = 0
    routing_cost: str = "time"     # MatcherTest routes with Time cost
    # duplicate-timestamp policy for BATCH matching, mirroring
    # MatcherServer.java:82-86 ("multiple samples for same time" is an
    # error on offline requests). "error" raises; "drop" keeps the first
    # sample per (trace, time); any other value is rejected here. The
    # ONLINE matcher intentionally has no such gate:
    # TrackerServer.java:168 / KState.java:182 reject only strictly
    # out-of-order samples, equal times pass through.
    dup_time: str = "error"

    def __post_init__(self):
        if self.dup_time not in ("error", "drop"):
            raise ValueError(f"MatcherParams.dup_time must be 'error' or "
                             f"'drop', got {self.dup_time!r}")


# ---------------------------------------------------------------------------
# Edge-based Dijkstra (topology/Dijkstra.java:90-295 semantics)
# ---------------------------------------------------------------------------

def route_ssmt(idx: RoadIndex, src, targets, cost_vec, bound_vec=None, bound_max=None):
    """Single-source multi-target shortest path over directed edges: the
    plain reference that tests check ``route_ssmt_cached`` against. The
    engine does not call it.

    src: (edge_idx, fraction); targets: sequence of (edge_idx, fraction).
    Costs accrue per whole edge, with fractional start/end adjustment
    exactly like the reference: startcost = c(e_src)*(1-f_src); reaching
    a target on edge e with fraction f costs ``path_cost - c(e)*(1-f)``
    (Dijkstra.java:152-163,243-258). Edges enter the queue once at first
    discovery (Dijkstra.java:262-268) — optimal because edge cost is
    parent-independent. The bound cost breaks the whole search when the
    popped mark's bound exceeds bound_max (Dijkstra.java:205-208).

    Returns {target_pos: [edge_idx path] or None}.
    """
    se, sf = src
    target_by_edge: dict[int, list] = {}
    for pos, (te, tf) in enumerate(targets):
        target_by_edge.setdefault(int(te), []).append((pos, float(tf)))

    startcost = cost_vec[se] * (1.0 - sf)
    startbound = bound_vec[se] * (1.0 - sf) if bound_vec is not None else 0.0

    entries: dict[int, tuple] = {}   # edge -> (cost, bound, pred_edge)
    finish: dict[int, tuple] = {}    # target_pos -> (edge, pred_edge)
    heap: list = []
    ctr = 0

    # same-edge targets ahead of the source (Dijkstra.java:152-171)
    if int(se) in target_by_edge:
        for pos, tf in target_by_edge[int(se)]:
            if tf < sf:
                continue
            reachcost = startcost - cost_vec[se] * (1.0 - tf)
            reachbound = (startcost - bound_vec[se] * (1.0 - tf)) if bound_vec is not None else 0.0
            heapq.heappush(heap, (reachcost, ctr, 1, pos, int(se), -1, reachbound))
            ctr += 1

    entries[int(se)] = (startcost, startbound, -1)
    heapq.heappush(heap, (startcost, ctr, 0, -1, int(se), -1, startbound))
    ctr += 1

    pending = {pos for pos in range(len(targets))}

    while heap:
        cost, _, kind, pos, edge, pred, bnd = heapq.heappop(heap)
        if not pending:
            break
        if bound_max is not None and bnd > bound_max:
            break
        if kind == 1:  # reach mark
            if pos in finish or pos not in pending:
                continue
            finish[pos] = (edge, pred)
            pending.discard(pos)
            continue
        # expand edge mark (only the first-inserted mark per edge exists)
        s, e = idx.succ_offsets[edge], idx.succ_offsets[edge + 1]
        for succ in idx.successors[s:e]:
            succ = int(succ)
            succcost = cost + cost_vec[succ]
            succbound = bnd + bound_vec[succ] if bound_vec is not None else 0.0
            if succ in target_by_edge:
                for tpos, tf in target_by_edge[succ]:
                    reachcost = succcost - cost_vec[succ] * (1.0 - tf)
                    reachbound = succbound - bound_vec[succ] * (1.0 - tf) if bound_vec is not None else 0.0
                    heapq.heappush(heap, (reachcost, ctr, 1, tpos, succ, edge, reachbound))
                    ctr += 1
            if succ not in entries:
                entries[succ] = (succcost, succbound, edge)
                heapq.heappush(heap, (succcost, ctr, 0, -1, succ, edge, succbound))
                ctr += 1

    paths: dict[int, list | None] = {}
    for pos in range(len(targets)):
        if pos not in finish:
            paths[pos] = None
            continue
        edge, pred = finish[pos]
        path = [edge]
        it = pred
        while it != -1:
            path.append(it)
            it = entries[it][2]
        paths[pos] = path[::-1]
    return paths


_TREE_CACHE_MAX = 4096


class _EdgeTree:
    """Lazily-extended Dijkstra pop sequence from edge ``se`` with
    relative costs (startcost = startbound = 0).

    Every query from ``(se, sf)`` shifts all edge-mark costs by the same
    constant K1 = cost_vec[se]*(1-sf) and all bounds by
    K2 = bound_vec[se]*(1-sf), so the pop ORDER and the first-discovery
    predecessor tree are invariant to the source fraction: one tree
    answers route_ssmt for every fraction and every bound threshold
    (``route_ssmt_cached`` replays the recorded pops and merges
    synthesized reach marks in cost order, preserving
    Dijkstra.java:205-208 bound-break semantics). The tree extends only
    as far as the deepest query needs — never past what ``route_ssmt``
    would have explored for the same queries."""

    __slots__ = ("idx", "cost_vec", "bound_vec", "entries", "heap",
                 "pops", "ctr")

    def __init__(self, idx, se, cost_vec, bound_vec):
        self.idx = idx
        self.cost_vec = cost_vec
        self.bound_vec = bound_vec
        self.entries = {int(se): (0.0, 0.0, -1)}  # edge -> (cost, bnd, pred)
        self.heap = [(0.0, 0, int(se))]
        self.pops = []                            # (rel_cost, rel_bnd, edge)
        self.ctr = 1

    def extend(self, i):
        """Ensure pops[i] exists, or the heap is exhausted."""
        cost_vec, bound_vec = self.cost_vec, self.bound_vec
        succ_lists = self.idx.succ_lists()
        entries, heap, pops = self.entries, self.heap, self.pops
        push = heapq.heappush
        while len(pops) <= i and heap:
            cost, _, edge = heapq.heappop(heap)
            bnd = entries[edge][1]
            pops.append((cost, bnd, edge))
            for succ in succ_lists[edge]:
                if succ not in entries:
                    sc = cost + cost_vec[succ]
                    sb = bnd + bound_vec[succ]
                    entries[succ] = (sc, sb, edge)
                    push(heap, (sc, self.ctr, succ))
                    self.ctr += 1


def prepare_targets(idx: RoadIndex, targets):
    """Per-step precomputation shared by every source routing to the
    same target set: target_by_edge and the pred-keyed reach-mark map
    (building these per source would repeat identical work P times)."""
    target_by_edge: dict[int, list] = {}
    for pos, (te, tf) in enumerate(targets):
        target_by_edge.setdefault(int(te), []).append((pos, float(tf)))
    idx_pred = idx.pred_lists()
    reach_by_pred: dict[int, list] = {}
    for te, lst in target_by_edge.items():
        for p in idx_pred[te]:
            reach_by_pred.setdefault(p, []).extend(
                (pos, te, tf) for pos, tf in lst)
    return target_by_edge, reach_by_pred


def route_ssmt_cached(idx: RoadIndex, src, targets, cost_vec, bound_vec,
                      bound_max, cache: dict, prepared=None):
    """The engine's one route search: ``route_ssmt`` over a per-source-
    edge tree cache (SURVEY §7's route-cache plan). The replay walks the
    recorded pop sequence in cost order, synthesizing reach marks from
    expanded predecessors exactly where the plain search would push
    them, with the same bound-break rule (ties between equal-cost reach
    and edge marks resolve reach-first, matching the push-order ctr for
    the tf==1 case). A source edge's pop sequence is deterministic, so
    no path depends on what shared ``cache``; it holds at most
    ``_TREE_CACHE_MAX`` trees and is cleared when full.

    Its arithmetic is not ``route_ssmt``'s: costs accumulate relative to
    the source edge, shifted by K1/K2, and reach costs are
    ``base_c + c(te)*tf``, not ``(base_c + c(te)) - c(te)*(1-tf)``. With
    exact inputs (integer costs, dyadic fractions) both are IEEE-exact
    and agree even on dense ties and marks exactly at bound_max
    (test_route_cache_exact_ties_and_bound); otherwise they can differ
    by ulps and resolve a near-tie differently, which is why every
    matcher, offline and online, runs this form only."""
    se, sf = src
    se = int(se)
    tree = cache.get(se)
    if tree is None:
        if len(cache) >= _TREE_CACHE_MAX:
            cache.clear()
        tree = cache[se] = _EdgeTree(idx, se, cost_vec, bound_vec)
    K1 = cost_vec[se] * (1.0 - sf)
    K2 = bound_vec[se] * (1.0 - sf)

    target_by_edge, reach_by_pred = prepared if prepared is not None \
        else prepare_targets(idx, targets)

    revents: list = []   # (abs_cost, ctr, pos, edge, pred, abs_bnd)
    rctr = 0
    if se in target_by_edge:
        for pos, tf in target_by_edge[se]:
            if tf < sf:
                continue
            rc = K1 - cost_vec[se] * (1.0 - tf)
            # startcost-in-bound quirk preserved from route_ssmt
            rb = K1 - bound_vec[se] * (1.0 - tf)
            heapq.heappush(revents, (rc, rctr, pos, se, -1, rb))
            rctr += 1

    finish: dict[int, tuple] = {}
    pending = set(range(len(targets)))
    pops = tree.pops
    push = heapq.heappush
    i = 0
    while pending:
        if i >= len(pops):
            tree.extend(i)
        has_pop = i < len(pops)
        pop_cost = pops[i][0] + K1 if has_pop else None
        if revents and (not has_pop or revents[0][0] <= pop_cost):
            rc, _, pos, te, pred, rb = heapq.heappop(revents)
            if rb > bound_max:
                break
            if pos in finish or pos not in pending:
                continue
            finish[pos] = (te, pred)
            pending.discard(pos)
            continue
        if not has_pop:
            break
        rel_cost, rel_bnd, edge = pops[i]
        i += 1
        if K2 + rel_bnd > bound_max:
            break
        hits = reach_by_pred.get(edge)
        if hits is not None:
            base_c = K1 + rel_cost
            base_b = K2 + rel_bnd
            for tpos, te, tf in hits:
                # == (base_c + cost[te]) - cost[te]*(1-tf), as route_ssmt
                push(revents, (base_c + cost_vec[te] * tf, rctr, tpos,
                               te, edge, base_b + bound_vec[te] * tf))
                rctr += 1

    entries = tree.entries
    paths: dict[int, list | None] = {}
    for pos in range(len(targets)):
        f = finish.get(pos)
        if f is None:
            paths[pos] = None
            continue
        edge, pred = f
        path = [edge]
        it = pred
        while it != -1:
            path.append(it)
            it = entries[it][2]
        paths[pos] = path[::-1]
    return paths


def path_valid(idx: RoadIndex, path, src, tgt) -> bool:
    """Path.valid (topology/Path.java:89-119): the edge sequence must
    start at the source's edge, end at the target's edge, not walk
    backwards on a single shared edge, and be successor-connected."""
    se, sf = src
    te, tf = tgt
    if not path or path[0] != int(se) or path[-1] != int(te):
        return False
    if int(se) == int(te) and sf > tf and len(path) == 1:
        return False
    succ_lists = idx.succ_lists()
    for i in range(len(path) - 1):
        if path[i + 1] not in succ_lists[path[i]]:
            return False
    return True


def path_cost(idx: RoadIndex, path, sf, tf, cost_vec):
    """Route cost with linear fractional endpoints (Path.cost,
    topology/Path.java:127-137)."""
    c = cost_vec[path[0]] * (1.0 - sf)
    for e in path[1:]:
        c += cost_vec[e]
    c -= cost_vec[path[-1]] * (1.0 - tf)
    return c


def path_cost2(idx: RoadIndex, path, sf, tf, vec_a, vec_b):
    """Two cost vectors in ONE path walk (the HMM pair loop needs
    timeprio AND distance per pair — two path_cost calls walked the
    path twice). Per-vector op order identical to path_cost, so the
    results are bit-identical to the separate calls."""
    e0, el = path[0], path[-1]
    rsf, rtf = 1.0 - sf, 1.0 - tf
    a = vec_a[e0] * rsf
    b = vec_b[e0] * rsf
    for e in path[1:]:
        a += vec_a[e]
        b += vec_b[e]
    return a - vec_a[el] * rtf, b - vec_b[el] * rtf


# ---------------------------------------------------------------------------
# Minset (matcher/Minset.java:71-114)
# ---------------------------------------------------------------------------

_PRECISION = 1e-8


def _round(f):
    return np.round(f / _PRECISION) * _PRECISION


def minset(idx: RoadIndex, eidx: np.ndarray, frac: np.ndarray):
    """Remove semantically redundant candidates: drop fraction≈0 points
    reachable from an in-set candidate, and fraction≈1 points none of
    whose successors are missing from the set."""
    _grp, eidx, frac = _minset_groups(
        idx, np.zeros(len(eidx), dtype=np.int64), eidx, frac)
    return eidx, frac


def _minset_groups(idx: RoadIndex, grp, eidx, frac):
    """``minset`` of every candidate set of a trace in one pass: set
    ``g`` is the candidates with ``grp == g`` and sets never see each
    other's members. Returns (grp, eidx, frac) of the kept candidates,
    sorted by (grp, eidx)."""
    grp = np.asarray(grp, dtype=np.int64)
    eidx = np.asarray(eidx, dtype=np.int64)
    order = np.lexsort((eidx, grp))
    grp, eidx, frac = grp[order], eidx[order], np.asarray(frac)[order]
    n = len(eidx)
    if n == 0:
        return grp, eidx, frac
    rf = _round(frac)
    # (set, edge) keys, ascending: membership is one searchsorted
    n_edges = len(idx.succ_offsets) - 1
    key = grp * n_edges + eidx

    # vectorized over all (candidate, successor) pairs at once: the
    # original per-candidate loop has no loop-carried dependency
    # (removal marks don't feed back into miss counting)
    starts = idx.succ_offsets[eidx]
    src, local = geo.ragged(idx.succ_offsets[eidx + 1] - starts)
    removed = np.zeros(n, dtype=bool)
    if len(src):
        # gather successors of every candidate: ranges [starts, ends)
        flat = idx.successors[starts[src] + local]
        flat_key = grp[src] * n_edges + flat
        pos = np.searchsorted(key, flat_key)
        pos_c = np.minimum(pos, n - 1)
        in_set = (pos < n) & (key[pos_c] == flat_key)
        hit = pos_c[in_set]
        zero_hit = rf[hit] == 0.0
        removed[hit[zero_hit]] = True
        misses = np.bincount(src, weights=~in_set, minlength=n)
        misses += np.bincount(src[in_set], weights=zero_hit, minlength=n)
    else:
        misses = np.zeros(n)

    removed |= (rf == 1.0) & ~removed & (misses == 0)
    keep = ~removed
    return grp[keep], eidx[keep], frac[keep]


# ---------------------------------------------------------------------------
# Per-trace matcher (offline mmatch, Matcher.java:366-387)
# ---------------------------------------------------------------------------

class _Cand:
    __slots__ = ("eidx", "frac", "lat", "lon", "azi", "filtprob", "seqprob",
                 "pred", "route", "route_len")

    def __init__(self, eidx, frac, lat, lon, azi):
        self.eidx = int(eidx)
        self.frac = float(frac)
        self.lat = float(lat)
        self.lon = float(lon)
        self.azi = float(azi)
        self.filtprob = 0.0
        self.seqprob = -np.inf
        self.pred = None
        self.route = None       # list of edge indices pred->self
        self.route_len = None


def _candidates_for_trace(idx: RoadIndex, lats, lons, params: MatcherParams):
    """Vectorized radius search + Minset + point geometry + emission
    distance for every sample of a trace at once. Returns per-sample
    tuples (eidx, frac, lat, lon, azi, dz) — ONE batched geodesic pass
    for the whole trace instead of per-step little-array calls (the
    per-call Vincenty overhead on 5-element arrays dominated the kernel
    before this batching). Minset runs once over all samples' sets."""
    pt, base, frac, _dist = idx.radius(lats, lons, params.max_radius)
    spt, seidx, sfrac, _src = idx.split(pt, base, frac)
    spt, all_ei, all_fr = _minset_groups(idx, spt, seidx, sfrac)
    if len(all_ei):
        clat, clon, cazi = idx.edge_point(all_ei, all_fr)
        dz_all = geo.distance(np.asarray(lats)[spt], np.asarray(lons)[spt],
                              clat, clon)
    else:
        clat = clon = cazi = dz_all = np.zeros(0)
    bounds = np.searchsorted(spt, np.arange(len(lats) + 1)).tolist()
    return [(all_ei[s:e], all_fr[s:e], clat[s:e], clon[s:e], cazi[s:e],
             dz_all[s:e]) for s, e in zip(bounds[:-1], bounds[1:])]


def hmm_forward_arrays(filt_prev, seq_prev, trans, emission):
    """Pure HMM forward recurrence (Filter.execute,
    markov/Filter.java:114-244) over arrays.

    filt_prev/seq_prev: (P,) predecessor probabilities (seq in log10);
    trans: (P, C) transition probabilities; emission: (C,).

    Returns (filtprob, seqprob, pred, keep):
    - keep[c]: candidate included in the result vector — reachable with
      positive accumulated transition mass (Filter.java:196-198 keeps
      such candidates even when emission is 0), or emission-seeded on
      HMM break / empty predecessors (Filter.java:208-232)
    - pred[c]: argmax predecessor index, -1 for seeded candidates
    - filtprob normalized over the kept set (Filter.java:238-240);
      if every kept filtprob underflows to exactly 0 the reference
      would normalize by zero (NaN) — we re-seed from emissions
      instead (documented deviation).

    One trace of ``_hmm_forward_segments``."""
    filt_prev = np.asarray(filt_prev, dtype=np.float64)
    emission = np.asarray(emission, dtype=np.float64)
    P, C = len(filt_prev), len(emission)
    trans = np.asarray(trans, dtype=np.float64).reshape(P, C)
    return _hmm_forward_segments(
        [P], [C], _pair_layout([P], [C]), filt_prev,
        np.asarray(seq_prev, dtype=np.float64), trans.T.ravel(), emission)


def _pair_layout(n_pred, n_cand):
    """Flat layout of a batch of traces, given each trace's predecessor
    and candidate counts: trace b owns the candidates after those of
    traces 0..b-1, and candidate j of it owns the n_pred[b] pairs
    first[j]:first[j] + n_pred[b], one per predecessor in order.
    Returns per candidate (seg, npr, p0, first): its trace, predecessor
    count, the trace's first predecessor, and its first pair."""
    p_off = np.zeros(len(n_pred) + 1, dtype=np.int64)
    np.cumsum(n_pred, out=p_off[1:])
    seg = np.repeat(np.arange(len(n_cand)), n_cand)
    npr = np.repeat(np.asarray(n_pred, dtype=np.int64), n_cand)
    first = np.cumsum(npr) - npr
    return seg, npr, p_off[seg], first


def _hmm_forward_segments(n_pred, n_cand, layout, filt_prev, seq_prev,
                          trans, emission):
    """``hmm_forward_arrays`` for a batch of independent traces in flat
    arrays laid out by ``_pair_layout(n_pred, n_cand)``. ``trans`` holds
    each trace's (P_b, C_b) matrix candidate by candidate. Every
    reduction runs over one candidate's or one trace's segment only, in
    a fixed order, so no value depends on which other traces share the
    batch. ``pred`` is the predecessor's position within its own trace."""
    B = len(n_cand)
    seg, npr, p0, first = layout
    N = len(seg)
    filtprob = np.zeros(N)
    seqprob = np.full(N, -np.inf)
    pred = np.full(N, -1, dtype=np.int64)
    keep = np.zeros(N, dtype=bool)
    has = npr > 0
    if has.any():
        M = len(trans)
        pair = np.arange(M)
        pair_c = np.repeat(np.arange(N), npr)
        pair_p = np.repeat(p0 - first, npr) + pair
        starts = first[has]
        ok = trans > 0
        # bincount adds each candidate's pairs in predecessor order
        filt_col = np.bincount(pair_c, trans * filt_prev[pair_p], N)[has]
        # masked log10 (where=) computes only the positive entries — no
        # errstate needed, identical values to the np.where formulation
        log_t = np.full(M, -np.inf)
        np.log10(trans, out=log_t, where=ok)
        log_e = np.full(N, -np.inf)
        np.log10(emission, out=log_e, where=emission > 0)
        seq_pair = seq_prev[pair_p] + log_t + log_e[pair_c]
        best_seq = np.maximum.reduceat(seq_pair, starts)
        # first predecessor reaching the max: np.argmax's tie rule
        best = np.minimum.reduceat(
            np.where(seq_pair == best_seq.repeat(npr[has]), pair, M),
            starts) - starts
        k = np.logical_or.reduceat(ok, starts) & (filt_col > 0)
        keep[has] = k
        filtprob[has] = np.where(k, filt_col * emission[has], 0.0)
        seqprob[has] = np.where(k, best_seq, -np.inf)
        # A kept candidate whose whole seq column is -inf (emission
        # underflow, or all predecessor seqprobs -inf) has no real argmax;
        # Filter.java's strict 'seqprob >' comparison leaves its
        # predecessor null — mirror that with pred = -1 so no bogus
        # route gets attached downstream.
        pred[has] = np.where(k & np.isfinite(best_seq), best, -1)
    # per-trace sums: bincount adds each segment's values in order, and
    # the zeros of dropped candidates add exactly
    norm = np.bincount(seg, filtprob, B)
    reseed = ((np.bincount(seg, keep, B) == 0) | (norm == 0.0)
              | (np.asarray(n_pred) == 0)) & (np.asarray(n_cand) > 0)
    if reseed.any():
        r = reseed[seg]
        seeded = r & (emission > 0)
        keep = np.where(r, seeded, keep)
        filtprob = np.where(r, np.where(seeded, emission, 0.0), filtprob)
        seqprob[r] = -np.inf
        np.log10(emission, out=seqprob, where=seeded)
        pred[r] = -1
        norm = np.bincount(seg, filtprob, B)
    norm = norm[seg]
    np.divide(filtprob, norm, out=filtprob, where=keep & (norm > 0))
    return filtprob, seqprob, pred, keep


def forward_steps(idx: RoadIndex, params: MatcherParams, steps,
                  route_cache: dict | None = None):
    """One HMM filter step (Filter.execute semantics,
    markov/Filter.java:114-244) for a batch of independent traces, each
    advanced by one sample: predecessor carry-over + emissions,
    per-predecessor bounded routing, forward probabilities with argmax
    backpointers, HMM-break re-seed, and the KState break-to-estimate
    chain repair.

    ``steps`` holds one (prev_vector, prev_time, t_ms, lat, lon, azi,
    cands) tuple per trace, ``cands`` being the sample's candidate
    arrays from ``_candidates_for_trace``. Returns one new candidate
    vector (possibly empty) per trace.

    Routing runs ``route_ssmt_cached`` over ``route_cache``, shareable
    across calls on one map and params (``None``: a fresh dict).

    Candidates, predecessors and (predecessor, candidate) pairs of the
    whole batch live in flat arrays with per-trace offsets, so each numpy
    call serves every trace; only routing, the per-pair path walk and
    the carry-over geodesics loop in Python. Nothing a trace gets
    depends on the rest of the batch: carry-over distances are computed
    per element, and every sum runs over one trace's segment
    (``_hmm_forward_segments``)."""
    B = len(steps)
    sig2 = params.sigma ** 2
    sqrt_2pi_sig2 = math.sqrt(2 * math.pi * sig2)
    sigA2 = params.sigma_a ** 2
    sqrt_2pi_sigA = math.sqrt(2 * math.pi * sigA2)

    prevs = [s[0] or [] for s in steps]
    cands = [s[6] for s in steps]
    n_pred = [len(v) for v in prevs]
    n_cand = [len(c[0]) for c in cands]
    # fresh copies: carry-over edits them in place
    ei, fr, clat, clon, cazi, dz = (np.concatenate([c[i] for c in cands])
                                    for i in range(6))
    layout = _pair_layout(n_pred, n_cand)
    seg, npr, _, first = layout
    ei_l, seg_l, first_l = ei.tolist(), seg.tolist(), first.tolist()
    s_lat, s_lon, s_azi = np.array([s[3:6] for s in steps],
                                   dtype=np.float64).T

    # predecessor position carry-over (Matcher.java:200-213): a
    # predecessor on a candidate's edge, behind it in driving direction
    # and within sigma, moves the candidate back onto its own position.
    # A carried candidate REUSES the predecessor's road point (the
    # reference keeps the predecessor's RoadPoint object), so no
    # edge_point recompute — only its emission distance changes. The
    # geodesics run per element: batch-invariant, unlike geo.distance,
    # whose path depends on the call's size.
    if any(n_pred) and len(ei):
        s12 = geo._inverse_scalar_s12
        fwd = idx.edge_forward
        pos_of = {k: j for j, k in enumerate(zip(seg_l, ei_l))}
        for b, prev in enumerate(prevs):
            for p in prev:
                j = pos_of.get((b, p.eidx))
                if j is None:
                    continue
                f = fr[j]
                if (f < p.frac if fwd[p.eidx] else f > p.frac) and \
                        s12(clat[j], clon[j], p.lat, p.lon) < params.sigma:
                    fr[j] = p.frac
                    clat[j], clon[j], cazi[j] = p.lat, p.lon, p.azi
                    dz[j] = s12(s_lat[b], s_lon[b], p.lat, p.lon)

    emission = 1 / sqrt_2pi_sig2 * np.exp(-dz * dz / (2 * sig2))
    with_azi = ~np.isnan(s_azi)
    if with_azi.any():
        da = np.abs(s_azi[seg] - cazi)
        da = np.minimum(da, 360.0 - da)
        emission = np.where(with_azi[seg], emission * np.maximum(
            1e-2, 1 / sqrt_2pi_sigA * np.exp(-da * da / (2 * sigA2))),
            emission)

    # ------ transitions: one bounded route search per predecessor ------
    # python-list cost views: the per-pair path walks below are ~5x
    # faster on float lists than numpy scalar indexing; identical
    # IEEE arithmetic either way
    tp_list = idx.cost_list("timeprio")
    bound_list = idx.cost_list("distance")
    cost_rt_list = idx.cost_list(params.routing_cost)
    route_cache = {} if route_cache is None else route_cache
    eb_list = idx.base_list()
    el_list = idx.len_list()
    shorten = params.shorten_turns
    fr_l = fr.tolist()
    pend: list[int] = []
    pend_cost: list[float] = []
    pend_len: list[float] = []
    pend_beta: list[float] = []
    routes: dict[int, list] = {}
    c0 = 0
    for b, prev in enumerate(prevs):
        c1 = c0 + n_cand[b]
        if not prev or c0 == c1:
            c0 = c1
            continue
        dt_ms = int(steps[b][2] - steps[b][1])
        bound = max(1000.0, min(params.max_distance, (dt_ms // 1000) * 100.0))
        beta = max(1.0, float(dt_ms)) / 1000.0 if params.lam == 0 else 1.0 / params.lam
        n_before = len(pend)
        targets = list(zip(ei_l[c0:c1], fr_l[c0:c1]))
        prepared = prepare_targets(idx, targets)
        for pi, p in enumerate(prev):
            paths = route_ssmt_cached(idx, (p.eidx, p.frac), targets,
                                      cost_rt_list, bound_list, bound,
                                      route_cache, prepared=prepared)
            pfrac = p.frac
            for ci in range(c1 - c0):
                path = paths[ci]
                if path is None:
                    continue
                sf, tf = pfrac, fr_l[c0 + ci]
                # shorten-turns rewrite (Matcher.java:298-321)
                if shorten and len(path) >= 2 and \
                        eb_list[path[0]] == eb_list[path[1]] and \
                        path[0] != path[1]:
                    if len(path) > 2:
                        sf = 1.0 - sf
                        path = path[1:]
                    else:
                        if sf < 1.0 - tf:
                            tf = min(1.0, 1.0 - tf + 5.0 / el_list[path[0]])
                            path = path[:1]
                        else:
                            sf = max(0.0, 1.0 - sf - 5.0 / el_list[path[1]])
                            path = path[1:]
                # one walk, both cost vectors (bit-identical to two
                # separate path_cost calls)
                ca, cb = path_cost2(idx, path, sf, tf, tp_list, bound_list)
                k = first_l[c0 + ci] + pi
                pend.append(k)
                pend_cost.append(ca)
                pend_len.append(cb)
                routes[k] = path
        pend_beta.extend([beta] * (len(pend) - n_before))
        c0 = c1
    trans = np.zeros(int(npr.sum()))
    if pend:
        # one vectorized exp over every routed pair of the batch
        beta_p = np.array(pend_beta)
        trans[pend] = (1.0 / beta_p) * np.exp(-np.array(pend_cost) / beta_p)

    filtprob, seqprob, pred, keep = _hmm_forward_segments(
        n_pred, n_cand, layout,
        np.array([p.filtprob for v in prevs for p in v], dtype=np.float64),
        np.array([p.seqprob for v in prevs for p in v], dtype=np.float64),
        trans, emission)

    out: list[list[_Cand]] = [[] for _ in range(B)]
    rlen = dict(zip(pend, pend_len))
    for j in np.flatnonzero(keep).tolist():
        b = seg_l[j]
        c = _Cand(ei_l[j], fr_l[j], clat[j], clon[j], cazi[j])
        c.filtprob, c.seqprob = float(filtprob[j]), float(seqprob[j])
        pr = int(pred[j])
        if pr >= 0:
            k = first_l[j] + pr
            c.pred = prevs[b][pr]
            c.route = routes[k]
            c.route_len = rlen[k]
        out[b].append(c)
    for b, result in enumerate(out):
        if result and prevs[b]:
            # KState.update: break candidates chain to previous estimate
            # (KState.java:186-189)
            prev_est = estimate(prevs[b])
            for c in result:
                if c.pred is None:
                    c.pred = prev_est
    return out


def forward_step(idx: RoadIndex, params: MatcherParams, prev_vector,
                 prev_time, t_ms: int, lat: float, lon: float, azi: float,
                 route_cache: dict | None = None):
    """One trace's HMM filter step: the sample's candidate search
    (radius + Minset + emission distance), then ``forward_steps`` with a
    batch of one, routing over ``route_cache``. The online (streaming)
    matcher calls it per sample with its lifetime cache; the offline
    kernel runs the same ``forward_steps`` and route search over many
    traces — their equality is the reference's strongest cross-check
    (tracker/TrackerServerTest.java:156-166).

    Returns the new candidate vector (possibly empty)."""
    cands = _candidates_for_trace(idx, np.array([lat]), np.array([lon]),
                                  params)[0]
    return forward_steps(idx, params, [(prev_vector, prev_time, t_ms, lat,
                                        lon, azi, cands)], route_cache)[0]


def estimate(vector):
    """Filter solution: argmax filtprob (KState.estimate,
    markov/KState.java:265-277); ties broken deterministically by lowest
    edge then fraction (the reference's HashSet order is JVM-dependent;
    SURVEY.md §2.6)."""
    return max(vector, key=lambda c: (c.filtprob, -c.eidx, -c.frac))


def backtrack(sequence) -> list[tuple]:
    """Viterbi backtrack (KState.sequence, markov/KState.java:285-301)
    over ``sequence``, a list of (vector, key) pairs: the estimate of the
    last vector and its predecessor chain, oldest first, each as
    (candidate, key of its entry). A chain cut short by k/tau pruning
    covers only the newest entries."""
    if not sequence:
        return []
    chain = []
    it = estimate(sequence[-1][0])
    for _ in range(len(sequence)):
        if it is None:
            break
        chain.append(it)
        it = it.pred
    offset = len(sequence) - len(chain)
    return [(c, sequence[offset + j][1])
            for j, c in enumerate(reversed(chain))]


def thinned(params: MatcherParams, dt_ms, lat, lon, last_lat, last_lon) -> bool:
    """The sample-thinning gate (Matcher.java:376-380,
    TrackerServer.java:173-185): a sample less than min_interval_ms or
    min_distance from the last kept sample is dropped. The geodesic is
    computed only when the distance gate is on."""
    if dt_ms < max(0, params.min_interval_ms):
        return True
    min_d = max(0.0, params.min_distance)
    return min_d > 0.0 and float(geo.distance(lat, lon, last_lat, last_lon)) < min_d


# Traces one ``forward_steps`` call advances together in the partition
# kernel. An active trace holds its candidate sets and Viterbi sequence
# until it ends, so this caps kernel memory at this many traces instead
# of the whole partition.
LOCKSTEP_TRACES = 256


class _TraceRun:
    """One trace inside the lock-step kernel: its time-sorted, gated and
    thinned samples with their candidate sets, and the Viterbi sequence
    built so far."""

    def __init__(self, idx: RoadIndex, params: MatcherParams, trace_id,
                 sample_ids, times_ms, lats, lons, azimuths):
        order = np.argsort(times_ms, kind="stable")
        sample_ids = np.asarray(sample_ids)[order]
        times_ms = np.asarray(times_ms, dtype=np.int64)[order]
        lats = np.asarray(lats, dtype=np.float64)[order]
        lons = np.asarray(lons, dtype=np.float64)[order]
        azimuths = np.asarray(azimuths, dtype=np.float64)[order]

        # duplicate-timestamp gate (MatcherSERVER semantics for offline
        # requests, MatcherServer.java:82-86)
        if len(times_ms) > 1:
            dup = np.concatenate([[False], times_ms[1:] == times_ms[:-1]])
            if dup.any():
                if params.dup_time == "error":
                    raise ValueError(
                        f"multiple samples for same time (trace {trace_id}, "
                        f"t={int(times_ms[np.flatnonzero(dup)[0]])})")
                keep_m = ~dup   # "drop": stable sort, first-arrived wins
                sample_ids, times_ms = sample_ids[keep_m], times_ms[keep_m]
                lats, lons = lats[keep_m], lons[keep_m]
                azimuths = azimuths[keep_m]

        # thinning needs the last *kept* sample, so the kept set is
        # decided sequentially; radius search runs vectorized on the
        # kept samples afterwards.
        if params.min_distance <= 0.0 and params.min_interval_ms <= 0:
            # both gates disabled (the defaults): nothing can thin
            kept = np.arange(len(times_ms))
        else:
            kept = [0] if len(times_ms) else []
            for i in range(1, len(times_ms)):
                j = kept[-1]
                if not thinned(params, times_ms[i] - times_ms[j], lats[i],
                               lons[i], lats[j], lons[j]):
                    kept.append(i)
            kept = np.array(kept, dtype=np.int64)
        self.trace_id = trace_id
        self.ids, self.t = sample_ids[kept], times_ms[kept]
        self.lat, self.lon, self.azi = lats[kept], lons[kept], azimuths[kept]
        self.cands = (_candidates_for_trace(idx, self.lat, self.lon, params)
                      if len(kept) else [])
        self.step = 0
        self.sequence: list[tuple[list[_Cand], int]] = []  # (vector, step)
        self.prev_vector: list[_Cand] = []
        self.prev_time = None

    def done(self) -> bool:
        return self.step >= len(self.t)

    def step_input(self):
        s = self.step
        return (self.prev_vector, self.prev_time, int(self.t[s]),
                float(self.lat[s]), float(self.lon[s]), float(self.azi[s]),
                self.cands[s])

    def advance(self, result):
        if result:
            self.sequence.append((result, self.step))
            self.prev_vector = result
            self.prev_time = self.t[self.step]
        # empty vector: sample dropped (KState.java:178-180), prev kept
        self.step += 1

    def rows(self, idx: RoadIndex) -> list[tuple]:
        """Estimate + backtrack (KState.java:265-301) as MATCH_SCHEMA rows."""
        rows = []
        for c, step in backtrack(self.sequence):
            route_eids = [int(idx.edge_id[e]) for e in c.route] if c.route else []
            rows.append((str(self.trace_id), int(step), str(self.ids[step]),
                         int(self.t[step]), int(idx.edge_id[c.eidx]),
                         float(c.frac), float(c.lat), float(c.lon),
                         float(c.azi), route_eids,
                         float(c.route_len) if c.route_len is not None else 0.0,
                         float(c.filtprob), float(c.seqprob)))
        return rows


def _match_lockstep(idx: RoadIndex, params: MatcherParams, traces,
                    route_cache: dict | None = None) -> list[tuple]:
    """Offline match of many traces, advanced in lock step: each
    ``forward_steps`` call moves every active trace by one sample. Up to
    LOCKSTEP_TRACES traces are active; one that ends hands its place to
    the next. ``traces`` yields (trace_id, sample_ids, times_ms, lats,
    lons, azimuths); rows come back in that order. ``route_cache=None``
    means one fresh route cache for the whole run."""
    route_cache = {} if route_cache is None else route_cache
    pending = iter(traces)
    out: list[list[tuple]] = []
    active: list[tuple[int, _TraceRun]] = []
    while True:
        while len(active) < LOCKSTEP_TRACES:
            tr = next(pending, None)
            if tr is None:
                break
            run = _TraceRun(idx, params, *tr)
            out.append([])
            if not run.done():
                active.append((len(out) - 1, run))
        if not active:
            break
        results = forward_steps(idx, params,
                                [run.step_input() for _, run in active],
                                route_cache)
        still = []
        for (i, run), result in zip(active, results):
            run.advance(result)
            if run.done():
                out[i] = run.rows(idx)
            else:
                still.append((i, run))
        active = still
    return [row for rows in out for row in rows]


def match_trace(idx: RoadIndex, trace_id, sample_ids, times_ms, lats, lons,
                azimuths, params: MatcherParams,
                route_cache: dict | None = None) -> list[tuple]:
    """Offline match of one trace; returns MATCH_SCHEMA rows. The
    partition kernel's lock-step matcher with a batch of one trace, so
    a trace gets the same rows alone as in any batch.
    route_cache: per-source-edge Dijkstra tree cache (see
    route_ssmt_cached), shareable across traces on one map and params;
    ``None`` means a fresh one. The rows are the same either way."""
    return _match_lockstep(idx, params, [(trace_id, sample_ids, times_ms,
                                          lats, lons, azimuths)], route_cache)


def _match_partition(idx: RoadIndex, params: MatcherParams,
                     pdf: pd.DataFrame) -> pd.DataFrame:
    """The ``match_traces`` kernel on one partition's samples: its traces
    in lock step (``_match_lockstep``) with one shared route cache."""
    traces = ((tid, g["sample_id"].to_numpy(), g["time"].to_numpy(np.int64),
               g["lat"].to_numpy(np.float64), g["lon"].to_numpy(np.float64),
               g["azimuth"].to_numpy(np.float64))
              for tid, g in pdf.groupby("trace_id", sort=False))
    return pd.DataFrame(_match_lockstep(idx, params, traces),
                        columns=[f.name for f in MATCH_SCHEMA.fields])


def dup_times(samples: DataFrame, id_col="trace_id",
              time_col="time") -> DataFrame:
    """Data-quality gate (SURVEY §2.1): (trace, time) pairs carrying
    more than one sample — the condition MatcherServer.java:82-86
    rejects on offline requests. Pure Catalyst groupBy (map-side
    combine, one shuffle); exact DuckDB twin in entry_queries."""
    return (samples.groupBy(id_col, time_col)
            .agg(F.count("*").alias("n_samples"))
            .filter(F.col("n_samples") > 1))


def match_traces(samples: DataFrame, idx_bc, params: MatcherParams | None = None,
                 num_partitions: int | None = None) -> DataFrame:
    """samples(trace_id, sample_id, time, lat, lon[, azimuth]) ->
    matched rows. idx_bc: ``sc.broadcast(RoadIndex)``.

    Scale notes: the only shuffle is a hash repartition by trace_id, then
    one ``mapInPandas`` kernel call per partition. Its partition count is
    sized by work (``session.repartition_by_work``: ~ROWS_PER_TASK samples
    per task, capped by cores and traces), because AQE would coalesce
    this small-in-bytes, CPU-heavy exchange into one task;
    ``num_partitions`` overrides it. Salt upstream if trace sizes are
    skewed (SURVEY.md §4). The index rides the broadcast, never the
    shuffle.
    """
    params = params or MatcherParams()
    if "azimuth" not in samples.columns:
        samples = samples.withColumn("azimuth", F.lit(float("nan")))

    def kernel(batches) -> pd.DataFrame:
        # one invocation per PARTITION (hash-partitioned by trace_id, so
        # every trace arrives whole): concatenating the partition's Arrow
        # batches and matching its traces here costs one python roundtrip
        # per partition instead of one per trace (groupBy().applyInPandas
        # pays per-group overhead that dominates with many small traces)
        chunks = list(batches)
        if chunks:
            yield _match_partition(idx_bc.value, params,
                                   pd.concat(chunks, ignore_index=True))

    cols = ["trace_id", "sample_id", "time", "lat", "lon", "azimuth"]
    return repartition_by_work(samples.select(*cols), "trace_id",
                               num_partitions).mapInPandas(kernel, MATCH_SCHEMA)
