"""HMM map matching: per-trace Viterbi kernel run per partition by mapInPandas.

Re-implements the semantics of barefoot's matcher stack —
candidate search + emission (matcher/Matcher.java:185-238), Minset
pruning (matcher/Minset.java:71-114), per-predecessor shortest-path
transitions (matcher/Matcher.java:248-351), edge-based Dijkstra
(topology/Dijkstra.java:90-295), HMM forward step
(markov/Filter.java:114-244), and KState estimate/backtrack
(markov/KState.java:177-301) — as one numpy kernel per trace. The
samples are hash-repartitioned by ``trace_id`` (partition count sized by
work, ``session.repartition_by_work``) and ``mapInPandas`` runs the kernel
once per partition, looping over its whole traces with one shared route
cache.

Spark-first shape (the reference's own Spark recipe, wiki/Home.md:716-770,
modernized): the road index is a broadcast variable, traces are the
shuffle key, and all per-trace math is numpy over Arrow batches. Batch
work that spans samples (radius search, emission) is vectorized over the
whole trace at once; only the inherently sequential forward recursion
iterates per time step.
"""

from __future__ import annotations

import heapq
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
    config/server.properties:5-10."""
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
    # sample per (trace, time); "accept" is the pre-gate legacy
    # behavior. The ONLINE matcher intentionally has no such gate:
    # TrackerServer.java:168 / KState.java:182 reject only strictly
    # out-of-order samples, equal times pass through.
    dup_time: str = "error"
    # cap on distinct source-edge Dijkstra trees kept in the shared
    # per-partition route cache (route_ssmt_cached): the cache is reset
    # when the cap is hit, so kernel memory is bounded by this knob
    # instead of growing with the partition's trace content on a
    # continental map. Results are cap-invariant (any eviction only
    # forces a recompute) — pinned by the parameterized
    # match_trace cache-equivalence test.
    route_cache_max_edges: int = 4096


# ---------------------------------------------------------------------------
# Edge-based Dijkstra (topology/Dijkstra.java:90-295 semantics)
# ---------------------------------------------------------------------------

def route_ssmt(idx: RoadIndex, src, targets, cost_vec, bound_vec=None, bound_max=None):
    """Single-source multi-target shortest path over directed edges.

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
    as far as the deepest query needs — never past what the uncached
    search would have explored for the same queries."""

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
                      bound_max, cache: dict, prepared=None,
                      cache_max: int = _TREE_CACHE_MAX):
    """route_ssmt with a shared per-source-edge tree cache (SURVEY §7's
    route-cache plan). Exact same results as route_ssmt — the replay
    walks the recorded pop sequence in cost order, synthesizing reach
    marks from expanded predecessors exactly where the uncached search
    would push them, and applies the same bound-break rule (ties between
    equal-cost reach and edge marks resolve reach-first, matching the
    push-order ctr for the tf==1 case).

    Accepted nondeterminism (documented, not a defect): the cached form
    accumulates RELATIVE costs shifted by K1/K2 while route_ssmt
    accumulates absolute costs, and computes reach costs as
    ``base_c + c(te)*tf`` vs ``(base_c + c(te)) - c(te)*(1-tf)``.
    Whenever all inputs are exactly representable (integer costs, dyadic
    fractions) both orders are IEEE-exact and the results are
    bit-identical even on dense cost ties and marks exactly at bound_max
    (proven by test_route_cache_exact_ties_and_bound). For inexact
    inputs the two orders can differ by ulps, so an exact-float tie or a
    bound sitting within one ulp of a mark may resolve differently —
    the same class of tie nondeterminism the reference exhibits through
    JVM HashSet iteration order (Dijkstra.java target-set ordering)."""
    se, sf = src
    se = int(se)
    tree = cache.get(se)
    if tree is None:
        if len(cache) >= cache_max:
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
    order = np.argsort(eidx)
    eidx, frac = eidx[order], frac[order]
    n = len(eidx)
    rf = _round(frac)
    if n == 0:
        return eidx, frac

    # vectorized over all (candidate, successor) pairs at once: the
    # original per-candidate loop has no loop-carried dependency
    # (removal marks don't feed back into miss counting)
    starts = idx.succ_offsets[eidx]
    ends = idx.succ_offsets[eidx + 1]
    counts = ends - starts
    total = int(counts.sum())
    if total:
        # gather successors of every candidate: ranges [starts, ends)
        src = np.repeat(np.arange(n), counts)
        flat = np.concatenate([idx.successors[s:e]
                               for s, e in zip(starts, ends)]) \
            if n < 64 else idx.successors[
                np.concatenate([np.arange(s, e) for s, e in zip(starts, ends)])]
        pos = np.searchsorted(eidx, flat)
        pos_c = np.minimum(pos, n - 1)
        in_set = (pos < n) & (eidx[pos_c] == flat)
        hit = pos_c[in_set]
        zero_hit = rf[hit] == 0.0
        removed = np.zeros(n, dtype=bool)
        removed[hit[zero_hit]] = True
        misses = np.bincount(src, weights=~in_set, minlength=n)
        misses += np.bincount(src[in_set], weights=zero_hit, minlength=n)
    else:
        removed = np.zeros(n, dtype=bool)
        misses = np.zeros(n)

    ones = (rf == 1.0) & ~removed & (misses == 0)
    removed |= ones
    keep = ~removed
    return eidx[keep], frac[keep]


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
    before this batching)."""
    pt, base, frac, _dist = idx.radius(lats, lons, params.max_radius)
    spt, seidx, sfrac, _src = idx.split(pt, base, frac)
    kept = []
    for i in range(len(lats)):
        sel = spt == i
        ei, fr = minset(idx, seidx[sel], sfrac[sel])
        kept.append((ei, fr))
    all_ei = np.concatenate([k[0] for k in kept]) if kept else np.zeros(0, np.int64)
    all_fr = np.concatenate([k[1] for k in kept]) if kept else np.zeros(0)
    if len(all_ei):
        clat, clon, cazi = idx.edge_point(all_ei, all_fr)
        counts = np.array([len(k[0]) for k in kept])
        s_lat = np.repeat(lats, counts)
        s_lon = np.repeat(lons, counts)
        dz_all = geo.distance(s_lat, s_lon, clat, clon)
    else:
        clat = clon = cazi = dz_all = np.zeros(0)
    out = []
    pos = 0
    for ei, fr in kept:
        n = len(ei)
        out.append((ei, fr, clat[pos:pos + n], clon[pos:pos + n],
                    cazi[pos:pos + n], dz_all[pos:pos + n]))
        pos += n
    return out


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
      instead (documented deviation)."""
    filt_prev = np.asarray(filt_prev, dtype=np.float64)
    seq_prev = np.asarray(seq_prev, dtype=np.float64)
    emission = np.asarray(emission, dtype=np.float64)
    P, C = len(filt_prev), len(emission)
    filtprob = np.zeros(C)
    seqprob = np.full(C, -np.inf)
    pred = np.full(C, -1, dtype=np.int64)
    keep = np.zeros(C, dtype=bool)
    if P and C:
        trans = np.asarray(trans, dtype=np.float64).reshape(P, C)
        ok = trans > 0
        filt_col = (trans * filt_prev[:, None]).sum(axis=0)
        # masked log10 (where=) computes only the positive entries — no
        # errstate needed, identical values to the np.where formulation
        log_t = np.full((P, C), -np.inf)
        np.log10(trans, out=log_t, where=ok)
        log_e = np.full(C, -np.inf)
        np.log10(emission, out=log_e, where=emission > 0)
        seq_mat = seq_prev[:, None] + log_t + log_e[None, :]
        best = np.argmax(seq_mat, axis=0)
        keep = ok.any(axis=0) & (filt_col > 0)
        filtprob = np.where(keep, filt_col * emission, 0.0)
        seqprob = np.where(keep, seq_mat[best, np.arange(C)], -np.inf)
        # A kept candidate whose whole seq column is -inf (emission
        # underflow, or all predecessor seqprobs -inf) has no real argmax;
        # Filter.java's strict 'seqprob >' comparison leaves its
        # predecessor null — mirror that with pred = -1 so no bogus
        # routes[0][ci] gets attached downstream.
        pred = np.where(keep & np.isfinite(seqprob), best, -1)
    normsum = filtprob[keep].sum()
    if not keep.any() or P == 0 or normsum == 0.0:
        keep = emission > 0
        filtprob = np.where(keep, emission, 0.0)
        seqprob = np.full(C, -np.inf)
        np.log10(emission, out=seqprob, where=keep)
        pred = np.full(C, -1, dtype=np.int64)
        normsum = filtprob[keep].sum()
    if normsum > 0:
        filtprob = np.where(keep, filtprob / normsum, filtprob)
    return filtprob, seqprob, pred, keep


def forward_step(idx: RoadIndex, params: MatcherParams, prev_vector,
                 prev_time, t_ms: int, lat: float, lon: float, azi: float,
                 precomputed=None, route_cache: dict | None = None):
    """One HMM filter step (Filter.execute semantics,
    markov/Filter.java:114-244): candidate search + Minset + predecessor
    carry-over + emissions, per-predecessor bounded routing, forward
    probabilities with argmax backpointers, HMM-break re-seed, and the
    KState break-to-estimate chain repair. Shared by the offline trace
    kernel and the online (streaming) matcher — their equality is the
    reference's strongest cross-check (tracker/TrackerServerTest.java:
    156-166).

    Returns the new candidate vector (possibly empty)."""
    cost_vec = idx.cost_vector(params.routing_cost)
    bound_vec = idx.cost_dist
    sig2 = params.sigma ** 2
    sqrt_2pi_sig2 = np.sqrt(2 * np.pi * sig2)
    sigA2 = params.sigma_a ** 2
    sqrt_2pi_sigA = np.sqrt(2 * np.pi * sigA2)

    if precomputed is None:
        pt, base, frac, _d = idx.radius(np.array([lat]), np.array([lon]),
                                        params.max_radius)
        _spt, seidx, sfrac, _src = idx.split(pt, base, frac)
        ei, fr = minset(idx, seidx, sfrac)
        if len(ei):
            clat, clon, cazi = idx.edge_point(ei, fr)
            dz = geo.distance(np.full(len(ei), lat), np.full(len(ei), lon),
                              clat, clon)
        else:
            clat = clon = cazi = dz = np.zeros(0)
    else:
        ei, fr, clat, clon, cazi, dz = precomputed
    ei = np.asarray(ei, dtype=np.int64)
    fr = np.asarray(fr, dtype=np.float64).copy()
    clat = np.asarray(clat, dtype=np.float64).copy()
    clon = np.asarray(clon, dtype=np.float64).copy()
    cazi = np.asarray(cazi, dtype=np.float64).copy()
    dz = np.asarray(dz, dtype=np.float64).copy()

    # predecessor position carry-over (Matcher.java:200-213), batched:
    # one geodesic pass over all matching (predecessor, candidate) pairs.
    # A carried candidate REUSES the predecessor's road point (the
    # reference keeps the predecessor's RoadPoint object), so no
    # edge_point recompute — only its emission distance changes.
    if prev_vector and len(ei):
        pos_of = {int(e): j for j, e in enumerate(ei)}
        hits = [(p, pos_of[p.eidx]) for p in prev_vector if p.eidx in pos_of]
        if hits:
            js = np.array([j for _, j in hits], dtype=np.int64)
            p_lat = np.array([p.lat for p, _ in hits])
            p_lon = np.array([p.lon for p, _ in hits])
            d = geo.distance(clat[js], clon[js], p_lat, p_lon)
            pf = np.array([p.frac for p, _ in hits])
            fwd = idx.edge_forward[[p.eidx for p, _ in hits]]
            carry = (d < params.sigma) & np.where(fwd, fr[js] < pf, fr[js] > pf)
            if carry.any():
                cj = js[carry]
                fr[cj] = pf[carry]
                clat[cj], clon[cj] = p_lat[carry], p_lon[carry]
                cazi[cj] = np.array([p.azi for p, _ in hits])[carry]
                dz[cj] = geo.distance(np.full(len(cj), lat),
                                      np.full(len(cj), lon),
                                      clat[cj], clon[cj])

    if len(ei):
        emission = 1 / sqrt_2pi_sig2 * np.exp(-dz * dz / (2 * sig2))
        if not np.isnan(azi):
            da = np.abs(azi - cazi)
            da = np.minimum(da, 360.0 - da)
            emission = emission * np.maximum(
                1e-2, 1 / sqrt_2pi_sigA * np.exp(-da * da / (2 * sigA2)))
    else:
        emission = np.zeros(0)

    cands = [_Cand(ei[j], fr[j], clat[j], clon[j], cazi[j]) for j in range(len(ei))]

    # ------ transitions + forward step (Filter.execute) ------
    result: list[_Cand] = []
    if prev_vector and cands:
        dt_ms = int(t_ms - prev_time)
        bound = max(1000.0, min(params.max_distance, (dt_ms // 1000) * 100.0))
        beta = max(1.0, float(dt_ms)) / 1000.0 if params.lam == 0 else 1.0 / params.lam
        targets = [(c.eidx, c.frac) for c in cands]
        trans = np.zeros((len(prev_vector), len(cands)))
        routes: list[list] = [[None] * len(cands) for _ in prev_vector]
        rlens = np.zeros((len(prev_vector), len(cands)))
        # python-list cost views: the per-pair path walks below are ~5x
        # faster on float lists than numpy scalar indexing; identical
        # IEEE arithmetic either way
        tp_list = idx.cost_list("timeprio")
        bound_list = idx.cost_list("distance")
        cost_rt_list = idx.cost_list(params.routing_cost)
        eb_list = idx.base_list()
        el_list = idx.len_list()
        shorten = params.shorten_turns
        pend_pi: list[int] = []
        pend_ci: list[int] = []
        pend_cost: list[float] = []
        prepared = prepare_targets(idx, targets) \
            if route_cache is not None else None
        for pi, p in enumerate(prev_vector):
            if route_cache is not None:
                paths = route_ssmt_cached(idx, (p.eidx, p.frac), targets,
                                          cost_rt_list, bound_list, bound,
                                          route_cache, prepared=prepared,
                                          cache_max=params.route_cache_max_edges)
            else:
                paths = route_ssmt(idx, (p.eidx, p.frac), targets, cost_vec,
                                   bound_vec, bound)
            routes_pi = routes[pi]
            rlens_pi = rlens[pi]
            pfrac = p.frac
            for ci, c in enumerate(cands):
                path = paths[ci]
                if path is None:
                    continue
                sf, tf = pfrac, c.frac
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
                pend_pi.append(pi)
                pend_ci.append(ci)
                # one walk, both cost vectors (bit-identical to two
                # separate path_cost calls)
                ca, cb = path_cost2(idx, path, sf, tf, tp_list, bound_list)
                pend_cost.append(ca)
                routes_pi[ci] = path
                rlens_pi[ci] = cb
        if pend_pi:
            # one vectorized exp instead of a scalar np.exp per pair
            trans[pend_pi, pend_ci] = (1.0 / beta) * np.exp(
                -np.asarray(pend_cost) / beta)

        # pure forward recurrence over the whole (P x C) matrix
        # (hmm_forward_arrays — tested against the reference's
        # FilterTest dense-matrix oracle)
        filt_prev = np.array([p.filtprob for p in prev_vector])
        seq_prev = np.array([p.seqprob for p in prev_vector])
        filtprob, seqprob, pred, keep = hmm_forward_arrays(
            filt_prev, seq_prev, trans, emission)
        for ci in np.flatnonzero(keep):
            c = cands[ci]
            c.filtprob = float(filtprob[ci])
            c.seqprob = float(seqprob[ci])
            if pred[ci] >= 0:
                best = int(pred[ci])
                c.pred = prev_vector[best]
                c.route = routes[best][ci]
                c.route_len = float(rlens[best, ci])
            else:
                c.pred = None
                c.route = None
                c.route_len = None
            result.append(c)
    elif cands:
        # no predecessors: initial seeding through the same recurrence
        filtprob, seqprob, pred, keep = hmm_forward_arrays(
            np.zeros(0), np.zeros(0), np.zeros((0, len(cands))), emission)
        for ci in np.flatnonzero(keep):
            c = cands[ci]
            c.filtprob = float(filtprob[ci])
            c.seqprob = float(seqprob[ci])
            c.pred = None
            c.route = None
            c.route_len = None
            result.append(c)

    if result:
        # KState.update: break candidates chain to previous estimate
        # (KState.java:186-189)
        if prev_vector:
            prev_est = estimate(prev_vector)
            for c in result:
                if c.pred is None:
                    c.pred = prev_est
    return result


def estimate(vector):
    """Filter solution: argmax filtprob (KState.estimate,
    markov/KState.java:265-277); ties broken deterministically by lowest
    edge then fraction (the reference's HashSet order is JVM-dependent;
    SURVEY.md §2.6)."""
    return max(vector, key=lambda c: (c.filtprob, -c.eidx, -c.frac))


def match_trace(idx: RoadIndex, trace_id, sample_ids, times_ms, lats, lons,
                azimuths, params: MatcherParams,
                route_cache: dict | None = None) -> list[tuple]:
    """Offline match of one trace; returns MATCH_SCHEMA rows.
    route_cache: shared per-source-edge Dijkstra tree cache (see
    route_ssmt_cached) — safe to share across traces on the same map
    with the same cost function."""
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
            if params.dup_time == "drop":
                keep_m = ~dup   # stable sort: first-arrived sample wins
                sample_ids, times_ms = sample_ids[keep_m], times_ms[keep_m]
                lats, lons = lats[keep_m], lons[keep_m]
                azimuths = azimuths[keep_m]

    # thinning (Matcher.java:376-380) needs the last *kept* sample, so the
    # kept set is decided sequentially; radius search runs vectorized on
    # the kept samples afterwards.
    min_d = max(0.0, params.min_distance)
    min_dt = max(0, params.min_interval_ms)
    if min_d <= 0.0 and min_dt <= 0:
        # both gates disabled (the defaults): nothing can thin, skip the
        # per-sample geodesic entirely
        kept = np.arange(len(times_ms))
    else:
        kept = []
        last_t, last_lat, last_lon = None, None, None
        for i in range(len(times_ms)):
            if last_t is not None:
                if (times_ms[i] - last_t) < min_dt:
                    continue
                d = float(geo.distance(lats[i], lons[i], last_lat, last_lon))
                if d < min_d:
                    continue
            kept.append(i)
            last_t, last_lat, last_lon = times_ms[i], lats[i], lons[i]
        kept = np.array(kept, dtype=np.int64)
    if not len(kept):
        return []
    k_ids, k_t = sample_ids[kept], times_ms[kept]
    k_lat, k_lon, k_azi = lats[kept], lons[kept], azimuths[kept]

    cand_sets = _candidates_for_trace(idx, k_lat, k_lon, params)

    sequence: list[tuple[list[_Cand], int]] = []  # (vector, step)
    prev_vector: list[_Cand] = []
    prev_time = None

    for step in range(len(kept)):
        result = forward_step(idx, params, prev_vector, prev_time,
                              int(k_t[step]), float(k_lat[step]),
                              float(k_lon[step]), float(k_azi[step]),
                              precomputed=cand_sets[step],
                              route_cache=route_cache)
        if result:
            sequence.append((result, step))
            prev_vector = result
            prev_time = k_t[step]
        # empty vector: sample dropped (KState.java:178-180), prev kept

    if not sequence:
        return []

    # estimate + backtrack (KState.java:265-301)
    est = estimate(sequence[-1][0])
    chain = []
    it = est
    for _ in range(len(sequence)):
        if it is None:
            break
        chain.append(it)
        it = it.pred
    chain = chain[::-1]

    rows = []
    offset = len(sequence) - len(chain)
    for j, c in enumerate(chain):
        vec, step = sequence[offset + j]
        route_eids = [int(idx.edge_id[e]) for e in c.route] if c.route else []
        rows.append((str(trace_id), int(step), str(k_ids[step]), int(k_t[step]),
                     int(idx.edge_id[c.eidx]), float(c.frac), float(c.lat),
                     float(c.lon), float(c.azi), route_eids,
                     float(c.route_len) if c.route_len is not None else 0.0,
                     float(c.filtprob), float(c.seqprob)))
    return rows


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
        # batches and looping traces here costs one python roundtrip per
        # partition instead of one per trace (groupBy().applyInPandas
        # pays per-group overhead that dominates with many small traces)
        idx = idx_bc.value
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        rows = []
        route_cache: dict = {}   # shared across the partition's traces
        for tid, g in pdf.groupby("trace_id", sort=False):
            rows.extend(match_trace(
                idx, tid, g["sample_id"].to_numpy(),
                g["time"].to_numpy(np.int64),
                g["lat"].to_numpy(np.float64), g["lon"].to_numpy(np.float64),
                g["azimuth"].to_numpy(np.float64), params,
                route_cache=route_cache))
        yield pd.DataFrame(rows, columns=[f.name for f in MATCH_SCHEMA.fields])

    cols = ["trace_id", "sample_id", "time", "lat", "lon", "azimuth"]
    return repartition_by_work(samples.select(*cols), "trace_id",
                               num_partitions).mapInPandas(kernel, MATCH_SCHEMA)
