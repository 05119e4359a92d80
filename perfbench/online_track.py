"""online_track: interleaved vehicles feed ``OnlineMatcher.update`` in an
open loop at a fixed arrival rate (no Spark, no JVM).

Sample i is due at ``t0 + i / RATE`` whatever the matcher is doing; its
latency runs from that due time to the end of its ``update`` call, so a
slow update also shows as queue wait on the samples behind it. At each
trace's last sample the loop calls ``sequence()``; every EXPIRE_EVERY
samples it calls ``expire()``. Both run on the same thread, so their
cost delays later samples the way it would in a tracker.
"""

from __future__ import annotations

import math
import time
import traceback

import numpy as np

import common as C
import proctree
import tracing

# Offered load: on the seed engine this workload's updates took 2.1 ms
# closed-loop and 2.5 ms when served one by one at their due times, which
# puts capacity at about 400 updates/s on a 4-vCPU host; RATE is half of
# that. It is a constant of the benchmark and never re-derived per run.
RATE = 200.0
VEHICLES = 20
SAMPLES = 60          # samples per trace, 1 Hz
EXPIRE_EVERY = 200
WARM_UPDATES = 60
FRACTION_TOL = 1e-9


class Inputs:
    def __init__(self, idx, seed: int, n: int):
        from barefoot_spark.sources import samples as SS
        n_traces = math.ceil(n / (VEHICLES * SAMPLES)) * VEHICLES
        self.traces = SS.synth_traces(idx, n_traces=n_traces,
                                      samples_per_trace=SAMPLES, seed=seed)
        by_id = {tid: g for tid, g in self.traces.groupby("trace_id")}
        ids = sorted(by_id)
        # vehicle v drives traces v, v + VEHICLES, ... back to back; tick k
        # is simulated second k and carries one sample of every vehicle
        self.arrivals = []
        for i in range(n):
            k, v = divmod(i, VEHICLES)
            g = by_id[ids[(k // SAMPLES) * VEHICLES + v]]
            s = k % SAMPLES
            self.arrivals.append((g["trace_id"].iat[s], k * 1000,
                                  float(g["lat"].iat[s]), float(g["lon"].iat[s]),
                                  float(g["azimuth"].iat[s]), s == SAMPLES - 1))


def serve(idx, arrivals, tracer=None):
    """Run the open loop once over ``arrivals`` with a fresh matcher."""
    from barefoot_spark.streaming.online import OnlineMatcher
    om = OnlineMatcher(idx)
    lat_ms, queue_ms, service_ms, lag_ms, held = [], [], [], [], []
    sequences, errors = {}, 0
    t0 = time.perf_counter() + 0.005
    prev_end = t0
    for i, (tid, t_ms, lat, lon, azi, last) in enumerate(arrivals):
        due = t0 + i / RATE
        wait = due - time.perf_counter()
        if wait > 0:
            time.sleep(wait)
        start = time.perf_counter()
        try:
            om.update(tid, t_ms, lat, lon, azi)
        except Exception:
            errors += 1
            traceback.print_exc()
        end = time.perf_counter()
        lat_ms.append((end - due) * 1e3)
        service_ms.append((end - start) * 1e3)
        queue_ms.append(max(0.0, prev_end - due) * 1e3)
        lag_ms.append((start - max(due, prev_end)) * 1e3)
        if last:
            sequences[tid] = om.sequence(tid)
        if (i + 1) % EXPIRE_EVERY == 0:
            if tracer is not None:
                held.append(sum(len(vec) for st in om.states.values()
                                for vec, _t in st.sequence))
            om.expire(t_ms)
        prev_end = time.perf_counter()
    return {"latency_ms": lat_ms, "service_ms": service_ms,
            "queue_ms": queue_ms, "lag_ms": lag_ms, "held": held,
            "sequences": sequences, "errors": errors,
            "elapsed_s": prev_end - t0}


def sequences_digest(sequences: dict) -> tuple[int, int]:
    from digest import floor_to, np_digest
    rows = [r for tid in sorted(sequences) for r in sequences[tid]]
    return np_digest(np.array([C.trace_number(r[0]) for r in rows]),
                     np.array([r[1] for r in rows]), np.array([r[2] for r in rows]),
                     floor_to([r[3] for r in rows], 1e6))


def verify(run: C.Run, idx, inputs: Inputs, sequences: dict):
    """The served sequences against a replay of the same samples one
    trace at a time, each through its own fresh matcher, with no
    interleaving, clock or expiry: per-key state must make the two agree
    exactly (same rows, same integer digest)."""
    from barefoot_spark.streaming.online import OnlineMatcher
    by_id = {}
    for tid, t_ms, lat, lon, azi, _last in inputs.arrivals:
        by_id.setdefault(tid, []).append((t_ms, lat, lon, azi))
    isolated = {}
    for tid in sequences:
        om = OnlineMatcher(idx)
        for t_ms, lat, lon, azi in by_id[tid]:
            om.update(tid, t_ms, lat, lon, azi)
        isolated[tid] = om.sequence(tid)
    got, want = sequences_digest(sequences), sequences_digest(isolated)
    C.log("online output digest (rows, xor):", got)
    run.op(got == want, f"online digest {got} != isolated replay {want}")


def count_updates(run: C.Run, res: dict):
    run.attempted += len(res["latency_ms"])
    run.failed += res["errors"]


def main(run: C.Run):
    args = run.args
    n = math.ceil(RATE * args.seconds)

    def build():
        t0 = time.perf_counter()
        idx = C.build_index()
        t_index = time.perf_counter() - t0
        inputs = Inputs(idx, args.seed, n)
        serve(idx, inputs.arrivals[:WARM_UPDATES])      # warm pass
        return (idx, inputs), {"index": t_index}

    (idx, inputs), timings = C.setup_rounds(run, build, lambda state: None)
    C.check_canaries(run, idx)
    C.log("input digest (rows, xor):", C.traces_digest(inputs.traces))

    cpu0 = proctree.cpu_s()
    base = serve(idx, inputs.arrivals)
    cpu = proctree.cpu_s() - cpu0
    count_updates(run, base)

    if not args.trace:
        done = len(inputs.arrivals)
        run.metric("rows_per_s", done / base["elapsed_s"], "1/s")
        run.metric("update_p50_ms", C.median(base["latency_ms"]), "ms")
        run.metric("update_p90_ms", C.percentile(base["latency_ms"], 90), "ms")
        run.metric("peak_rss_mb", proctree.hwm_mb(), "MB")
        verify(run, idx, inputs, base["sequences"])
        return

    from barefoot_spark.operators import match as M
    from barefoot_spark.streaming import online as O
    with tracing.wrapped(run.tracer, [
            (O.OnlineMatcher, "update", "update"),
            (O, "forward_step", "forward_step"),
            (O, "prune_chains", "prune"),
            (M, "route_ssmt", "#route_calls")]):
        traced = serve(idx, inputs.arrivals, run.tracer)
    count_updates(run, traced)
    verify(run, idx, inputs, traced["sequences"])
    ms = lambda name: C.median(run.tracer.durations(name)) * 1e3  # noqa: E731
    run.metric("index.build_s", timings["index"], "s")
    C.index_layer(run, idx, broadcast=False)
    run.metric("process.cpu_s", cpu / (len(inputs.arrivals) / 1000.0), "s/krow")
    run.metric("online.service_ms", C.median(traced["service_ms"]), "ms")
    run.metric("online.queue_wait_ms", C.median(traced["queue_ms"]), "ms")
    run.metric("online.forward_step_ms", ms("forward_step"), "ms")
    run.metric("online.prune_ms", ms("prune"), "ms")
    run.metric("online.route_calls_per_update",
               run.tracer.counts["route_calls"] / len(inputs.arrivals), "count")
    run.metric("online.candidates_held", C.median(traced["held"]), "count")
    run.metric("online.gen_lag_ms", C.median(traced["lag_ms"]), "ms")
    run.metric("online.update_p99_ms", C.percentile(traced["latency_ms"], 99), "ms")
    run.metric("trace.overhead_pct",
               (C.median(traced["service_ms"]) / C.median(base["service_ms"]) - 1)
               * 100.0, "%")
