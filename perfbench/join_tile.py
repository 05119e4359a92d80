"""join_tile: seeded geotags through tile assignment and three spatial
joins; every job ends in an aggregate (its digest) and nothing is
written.

One pass = four jobs over the same cached point table:
``tiles.assign_tiles`` (res 15 + parent 7), ``joins.radius_join`` at
RADIUS_M, ``joins.nearest_join`` and ``joins.radius_join_fast``.

Checks, per job: the Spark digest equals the digest of an independent
reference path — numpy ``cells.latlng_to_cell`` for tiles, direct
``RoadIndex.radius``/``nearest`` + ``split`` calls for the kernel joins,
and a numpy twin of the codegen refine for the fast join. Once per run,
a brute-force subsample (every road against BRUTE_POINTS points) checks
the reference paths' cell prefilters.
"""

from __future__ import annotations

import contextlib
import itertools
import time

import numpy as np

import common as C
import proctree
import sparkmetrics
from digest import (digest_query, fetch, floor_to, np_digest, np_hash, sql_floor,
                    xor_all)

POINTS = 120_000
WARM_POINTS = 2_000
RADIUS_M = 100.0
RES, PARENT_RES = 15, 7
BRUTE_POINTS = 256
EDGE_TOL_M = 1e-6     # pairs this close to RADIUS_M may fall either way
OPS = ("tiles", "radius", "nearest", "fast")


class State:
    def __init__(self, spark, idx, bc, points, parts_pdf, parts, arrays):
        self.spark, self.idx, self.bc = spark, idx, bc
        self.points, self.parts_pdf, self.parts = points, parts_pdf, parts
        self.ids, self.lat, self.lon = arrays


def queries(st: State, points):
    from pyspark.sql import functions as F
    from barefoot_spark.operators import joins as J, tiles as T
    hit = [F.col("point_id"), F.col("edge_id"), sql_floor("fraction", 1e4),
           sql_floor("distance", 10)]
    return {
        "tiles": digest_query(
            T.assign_tiles(points, res=RES, parent_res=PARENT_RES),
            [F.col("point_id"), F.col("cell"), F.col(f"cell_p{PARENT_RES}")]),
        "radius": digest_query(J.radius_join(points, st.bc, RADIUS_M), hit),
        "nearest": digest_query(J.nearest_join(points, st.bc), hit),
        "fast": digest_query(
            J.radius_join_fast(points, st.parts, RADIUS_M, RES, single_part=True),
            [F.col("point_id"), F.col("gid"), sql_floor("fraction", 1e3),
             F.floor("distance")]),
    }


def one_pass(st: State, points=None, tracer=None, group: str | None = None):
    """Run the four jobs; returns ({op: digest}, {op: wall_s}, {op: info}).
    With a tracer, each job is a span under a "pass" span, runs in its
    own job group, and ``info`` holds its plan and stage metrics."""
    got, walls, info = {}, {}, {}
    sc = st.spark.sparkContext
    with tracer.span("pass") if tracer else contextlib.nullcontext():
        for op, q in queries(st, st.points if points is None else points).items():
            if tracer:
                sc.setJobGroup(f"{group}-{op}", f"join_tile {op}")
            t0 = time.perf_counter()
            with tracer.span(op) if tracer else contextlib.nullcontext():
                got[op] = fetch(q)
            walls[op] = time.perf_counter() - t0
            if tracer:
                info[op] = (sparkmetrics.plan_metrics(q),
                            sparkmetrics.group_stages(st.spark, f"{group}-{op}"))
    return got, walls, info


# ---------------------------------------------------------------------------
# independent reference paths (no Spark)
# ---------------------------------------------------------------------------

def fast_refine(parts, lat, lon):
    """numpy twin of ``joins.seg_refine_sql``: (distance_m, fraction) of
    points against their candidate sub-segments (parts is a dict of
    aligned arrays)."""
    ax, ay, bx, by = parts["ax"], parts["ay"], parts["bx"], parts["by"]
    k = np.cos(np.radians((ay + by) / 2.0))
    dx, dy = (bx - ax) * k, by - ay
    wx, wy = (lon - ax) * k, lat - ay
    t = np.clip((wx * dx + wy * dy) / np.maximum(dx * dx + dy * dy, 1e-30), 0.0, 1.0)
    qx, qy = ax + t * (bx - ax), ay + t * (by - ay)
    h = (np.sin(np.radians(qy - lat) / 2.0) ** 2
         + np.cos(np.radians(lat)) * np.cos(np.radians(qy))
         * np.sin(np.radians(qx - lon) / 2.0) ** 2)
    dist = 2.0 * 6371008.8 * np.arcsin(np.sqrt(h))
    frac = (parts["cum_before"] + t * parts["seg_len"]) / np.maximum(parts["total_len"], 1e-30)
    return dist, frac


def fast_pairs(st: State, ids, lat, lon):
    """Fast-join candidates the way the codegen plan finds them (point
    cell = part cell), refined in numpy: (point_idx, part_idx, dist, frac)."""
    from barefoot_spark import cells
    pc = cells.latlng_to_cell(lat, lon, RES)
    cell = st.parts_pdf["cell"].to_numpy()
    order = np.argsort(cell, kind="stable")
    lo = np.searchsorted(cell[order], pc, "left")
    hi = np.searchsorted(cell[order], pc, "right")
    pt = np.repeat(np.arange(len(pc)), hi - lo)
    part = order[np.concatenate([np.arange(a, b) for a, b in zip(lo, hi)])] \
        if len(pt) else np.zeros(0, np.int64)
    cols = {c: st.parts_pdf[c].to_numpy()[part]
            for c in ("ax", "ay", "bx", "by", "cum_before", "seg_len", "total_len")}
    dist, frac = fast_refine(cols, lat[pt], lon[pt])
    return pt, part, dist, frac


def reference(st: State) -> dict:
    """{op: (rows, digest, optional row hashes)} from the reference paths.
    Optional hashes are fast-join pairs within EDGE_TOL_M of the radius,
    which the JVM's and numpy's trig may place on either side."""
    from barefoot_spark import cells
    idx, ids, lat, lon = st.idx, st.ids, st.lat, st.lon
    ref = {"tiles": np_digest(ids, cells.latlng_to_cell(lat, lon, RES),
                              cells.latlng_to_cell(lat, lon, PARENT_RES)) + ((),)}
    for op, fn in (("radius", lambda: idx.radius(lat, lon, RADIUS_M)),
                   ("nearest", lambda: idx.nearest(lat, lon))):
        pt, base, frac, dist = fn()
        spt, eidx, sfrac, src = idx.split(pt, base, frac)
        ref[op] = np_digest(ids[spt], idx.edge_id[eidx], floor_to(sfrac, 1e4),
                            floor_to(dist[src], 10)) + ((),)
    pt, part, dist, frac = fast_pairs(st, ids, lat, lon)
    h = np_hash(ids[pt], st.parts_pdf["gid"].to_numpy()[part],
                floor_to(frac, 1e3), np.floor(dist).astype(np.int64))
    sure = dist <= RADIUS_M - EDGE_TOL_M
    edge = np.abs(dist - RADIUS_M) < EDGE_TOL_M
    ref["fast"] = (int(sure.sum()), xor_all(h[sure]), tuple(int(x) for x in h[edge]))
    return ref


def matches(got, want) -> bool:
    n, d = got
    n0, d0, optional = want
    if len(optional) > 12:
        return False
    for k in range(len(optional) + 1):
        for extra in itertools.combinations(optional, k):
            x = d0
            for e in extra:
                x ^= e
            if n == n0 + k and d == x:
                return True
    return False


def brute_force(run: C.Run, st: State):
    """Every road against the first BRUTE_POINTS points: the radius set,
    the nearest distance and the fast-join set of the reference paths must
    agree with exhaustive evaluation."""
    from barefoot_spark import geo
    idx = st.idx
    lat, lon = st.lat[:BRUTE_POINTS], st.lon[:BRUTE_POINTS]
    nb = len(idx.gid)
    pp = np.repeat(np.arange(BRUTE_POINTS), nb)
    bb = np.tile(np.arange(nb), BRUTE_POINTS)
    _f, dist = geo.polyline_intercept(idx.coords, idx.offsets, lat[pp], lon[pp],
                                      poly_for_point=bb)
    clear = np.abs(dist - RADIUS_M) >= EDGE_TOL_M
    want = set(zip(pp[(dist < RADIUS_M) & clear], bb[(dist < RADIUS_M) & clear]))
    pt, base, _fr, d = idx.radius(lat, lon, RADIUS_M)
    keep = np.abs(d - RADIUS_M) >= EDGE_TOL_M
    run.op(set(zip(pt[keep], base[keep])) == want, "radius index != brute force")

    best = np.full(BRUTE_POINTS, np.inf)
    np.minimum.at(best, pp, dist)
    pt, base, _fr, d = idx.nearest(lat, lon)
    run.op(len(set(pt)) == BRUTE_POINTS and np.allclose(d, best[pt], rtol=0, atol=1e-6),
           "nearest index != brute force")

    parts = st.parts_pdf
    qp = np.repeat(np.arange(BRUTE_POINTS), len(parts))
    qr = np.tile(np.arange(len(parts)), BRUTE_POINTS)
    cols = {c: parts[c].to_numpy()[qr]
            for c in ("ax", "ay", "bx", "by", "cum_before", "seg_len", "total_len")}
    bd, _bf = fast_refine(cols, lat[qp], lon[qp])
    gid = parts["gid"].to_numpy()
    inside = bd <= RADIUS_M - EDGE_TOL_M
    want = set(zip(qp[inside], gid[qr[inside]]))
    pt, part, fd, _ff = fast_pairs(st, st.ids[:BRUTE_POINTS], lat, lon)
    inside = fd <= RADIUS_M - EDGE_TOL_M
    run.op(set(zip(pt[inside], gid[part[inside]])) == want,
           "fast-join cell cover != brute force")


# ---------------------------------------------------------------------------

def main(run: C.Run):
    import pandas as pd
    from pyspark.sql import functions as F
    from barefoot_spark.operators import joins as J
    args = run.args
    rss = proctree.PeakRss()

    def build():
        t0 = time.perf_counter()
        spark = C.start_spark()
        t_session = time.perf_counter() - t0
        t0 = time.perf_counter()
        idx = C.build_index()
        t_index = time.perf_counter() - t0
        bc = spark.sparkContext.broadcast(idx)
        parts_pdf = J.segment_parts_pdf(idx, RADIUS_M, RES)
        parts = spark.createDataFrame(parts_pdf).cache()
        parts.count()
        arrays = C.synth_points(POINTS, args.seed)
        points = spark.createDataFrame(pd.DataFrame(
            {"point_id": arrays[0], "lat": arrays[1], "lon": arrays[2]})).cache()
        points.count()
        st = State(spark, idx, bc, points, parts_pdf, parts, arrays)
        one_pass(st, points.filter(F.col("point_id") < WARM_POINTS))
        return st, {"session": t_session, "index": t_index}

    st, timings = C.setup_rounds(run, build,
                                 lambda s: C.stop_spark(s.spark, final=False))
    try:
        C.check_canaries(run, st.idx)
        C.log("input digest (rows, xor):", C.points_digest(st.ids, st.lat, st.lon))
        one_pass(st)    # settle: untimed full-size pass (JIT warm-up)
        rss.sample()

        def untraced(i):
            out = one_pass(st)
            rss.sample()
            return out
        cpu0 = proctree.cpu_s()
        passes = C.timed_passes(run, args.seconds, untraced)
        cpu = proctree.cpu_s() - cpu0
        walls = [sum(p[1].values()) for p in passes]
        C.log("pass walls (s):", " ".join(f"{w:.3f}" for w in walls))
        traced = (C.timed_passes(run, args.seconds,
                                 lambda i: one_pass(st, tracer=run.tracer,
                                                    group=f"join-{i}"))
                  if args.trace else [])

        ref = reference(st)
        C.log("reference digests:", {op: ref[op][:2] for op in OPS})
        for got, _w, _i in passes + traced:
            for op in OPS:
                run.op(matches(got[op], ref[op]),
                       f"{op}: spark {got[op]} != reference {ref[op][:2]}")
        brute_force(run, st)

        if not args.trace:
            med = C.median(walls)
            run.metric("rows_per_s", POINTS / med, "1/s")
            lat = np.repeat(np.array(walls) * 1e3, POINTS)
            run.metric("update_p50_ms", float(np.median(lat)), "ms")
            run.metric("update_p90_ms", C.percentile(lat, 90), "ms")
            run.metric("peak_rss_mb", rss.sample(), "MB")
            C.log("peak rss by process (MB):",
                  " ".join(f"{c}={mb:.0f}" for c, mb in rss.parts))
            return

        run.metric("session.start_s", timings["session"], "s")
        run.metric("index.build_s", timings["index"], "s")
        C.index_layer(run, st.idx, broadcast=True)
        run.metric("process.cpu_s", cpu / (POINTS * len(passes) / 1000.0), "s/krow")
        op_s = lambda op: C.median([p[1][op] for p in traced])  # noqa: E731
        run.metric("tiles.assign_s", op_s("tiles"), "s")
        run.metric("joins.radius_s", op_s("radius"), "s")
        run.metric("joins.nearest_s", op_s("nearest"), "s")
        run.metric("joins.fast_s", op_s("fast"), "s")

        def per_pass(key):
            return C.median([sum(p[2][op][0][key] for op in OPS) for p in traced])
        run.metric("arrow.mb_to_python", per_pass("pythonDataSent") / 1e6, "MB")
        run.metric("arrow.mb_from_python", per_pass("pythonDataReceived") / 1e6, "MB")
        run.metric("arrow.python_s", per_pass("pythonTotalTime") / 1e3, "s")
        run.metric("shuffle.mb", C.median(
            [sum(s["shuffle_write_bytes"] for op in OPS for s in p[2][op][1])
             for p in traced]) / 1e6, "MB")
        run.metric("trace.overhead_pct",
                   (C.median([sum(p[1].values()) for p in traced]) / C.median(walls)
                    - 1) * 100.0, "%")
    finally:
        C.stop_spark(st.spark, final=True)
