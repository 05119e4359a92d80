"""match_batch: offline map matching of seeded traces on the default
``match_traces`` path, committed through ``StageRunner.run_stage``.

One pass = ``run_stage("match", match_traces(samples, idx_bc))`` into a
fresh base directory, then ``run_stage`` once more, which resumes (skips)
from the commit. No ``num_partitions`` is passed: the pass runs the
partitioning users get.

Check: every pass's committed table has the same integer digest as the
in-process ``match_trace`` over the same traces (no Spark), with one
shared route cache as in the kernel's single partition.
"""

from __future__ import annotations

import contextlib
import os
import time
import traceback

import numpy as np

import common as C
import proctree
import sparkmetrics
import tracing
from digest import digest_query, fetch, floor_to, np_digest, sql_floor

TRACES = 60
SAMPLES = 60          # 1 Hz, 10 m noise (synth_traces defaults)
WARM_TRACES = 2
STAGE = "match"


class State:
    def __init__(self, spark, idx, bc, traces, samples):
        self.spark, self.idx, self.bc = spark, idx, bc
        self.traces, self.samples = traces, samples


def one_pass(st: State, base: str, group: str | None = None, samples=None):
    """Commit + resume once; returns (wall_s, commit_s, resume_s)."""
    from barefoot_spark import ckpt
    from barefoot_spark.operators import match as M
    samples = st.samples if samples is None else samples
    if group:
        st.spark.sparkContext.setJobGroup(group, "match_batch pass")
    runner = ckpt.StageRunner(st.spark, base)
    t0 = time.perf_counter()
    runner.run_stage(STAGE, lambda: M.match_traces(samples, st.bc))
    t1 = time.perf_counter()
    runner.run_stage(STAGE, lambda: M.match_traces(samples, st.bc))
    t2 = time.perf_counter()
    return t2 - t0, t1 - t0, t2 - t1


def digest_cols():
    from pyspark.sql import functions as F
    return [F.expr("cast(substring(trace_id, 7) as bigint)"), F.col("seq"),
            F.col("time"), F.col("edge_id"), sql_floor("fraction", 1e4),
            sql_floor("route_length", 10), F.size("route_edges"),
            sql_floor("filtprob", 1e4)]


def rows_digest(rows) -> tuple[int, int]:
    """numpy twin of ``digest_cols`` over MATCH_SCHEMA tuples."""
    col = lambda i: [r[i] for r in rows]  # noqa: E731
    return np_digest(np.array([C.trace_number(t) for t in col(0)]),
                     np.array(col(1)), np.array(col(3)), np.array(col(4)),
                     floor_to(col(5), 1e4), floor_to(col(10), 10),
                     np.array([len(e) for e in col(9)]), floor_to(col(11), 1e4))


def replay(st: State, groups: list[list[str]], tracer=None):
    """Spark-free ``match_trace`` of every trace in this process, one route
    cache per partition group. Returns (rows, stats)."""
    from barefoot_spark.operators import match as M
    params = M.MatcherParams()
    by_id = dict(list(st.traces.groupby("trace_id", sort=False)))
    rows, calls, hits = [], [0], [0]
    real = M.route_ssmt_cached

    def counting(idx, src, targets, cost_vec, bound_vec, bound_max, cache,
                 *a, **kw):
        calls[0] += 1
        hits[0] += int(src[0]) in cache
        return real(idx, src, targets, cost_vec, bound_vec, bound_max, cache,
                    *a, **kw)
    span = tracer.span if tracer else lambda _name: contextlib.nullcontext()
    patches = (tracing.wrapped(tracer, [(M, "forward_step", "forward_step")])
               if tracer else contextlib.nullcontext())
    if tracer is not None:
        M.route_ssmt_cached = counting
    try:
        with patches:
            for group in groups:
                cache: dict = {}
                for tid in group:
                    g = by_id[tid]
                    with span("match_trace"):
                        rows.extend(M.match_trace(
                            st.idx, tid, g["sample_id"].to_numpy(),
                            g["time"].to_numpy(np.int64),
                            g["lat"].to_numpy(np.float64),
                            g["lon"].to_numpy(np.float64),
                            g["azimuth"].to_numpy(np.float64), params,
                            route_cache=cache))
    finally:
        M.route_ssmt_cached = real
    return rows, {"route_calls": calls[0], "cache_hits": hits[0]}


def partition_groups(st: State) -> list[list[str]]:
    """Trace ids per partition of the match exchange, as Spark (with AQE
    coalescing) lays them out on the default path."""
    from pyspark.sql import functions as F
    cols = ["trace_id", "sample_id", "time", "lat", "lon", "azimuth"]
    pairs = (st.samples.select(*cols).repartition("trace_id")
             .select("trace_id", F.spark_partition_id().alias("pid"))
             .distinct().collect())
    groups: dict[int, list[str]] = {}
    for r in sorted(pairs, key=lambda r: r["trace_id"]):
        groups.setdefault(r["pid"], []).append(r["trace_id"])
    return list(groups.values())


def main(run: C.Run):
    from barefoot_spark.sources import samples as SS
    from pyspark.sql import functions as F
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
        traces = SS.synth_traces(idx, n_traces=TRACES,
                                 samples_per_trace=SAMPLES, seed=args.seed)
        samples = spark.createDataFrame(traces).cache()
        samples.count()
        st = State(spark, idx, bc, traces, samples)
        warm_ids = sorted(traces["trace_id"].unique())[:WARM_TRACES]
        one_pass(st, C.fresh_dir("ckpt", "warm"),
                 samples=samples.filter(F.col("trace_id").isin(warm_ids)))
        return st, {"session": t_session, "index": t_index}

    st, timings = C.setup_rounds(run, build,
                                 lambda s: C.stop_spark(s.spark, final=False))
    try:
        C.check_canaries(run, st.idx)
        C.log("input digest (rows, xor):", C.traces_digest(st.traces))
        n_rows = len(st.traces)
        # settle: one untimed full-size pass, so the first timed pass does
        # not also pay the JIT warm-up of the full input
        one_pass(st, C.fresh_dir("ckpt", "settle"))
        rss.sample()

        def untraced(i):
            base = C.fresh_dir("ckpt", f"pass-{i}")
            out = one_pass(st, base)
            rss.sample()
            return out + (base,)
        cpu0 = proctree.cpu_s()
        passes = C.timed_passes(run, args.seconds, untraced)
        cpu = proctree.cpu_s() - cpu0
        walls = [p[0] for p in passes]
        C.log("pass walls (s):", " ".join(f"{w:.3f}" for w in walls))

        traced = []
        if args.trace:
            def traced_pass(i):
                base = C.fresh_dir("ckpt", f"traced-{i}")
                group = f"match-{i}"
                with run.tracer.span("pass"):
                    wall, commit, resume = one_pass(st, base, group)
                stages = sparkmetrics.group_stages(st.spark, group)
                return wall, commit, resume, base, stages
            traced = C.timed_passes(run, args.seconds, traced_pass)

        # --- check every committed table against the local replay ---
        groups = (partition_groups(st) if args.trace
                  else [sorted(st.traces["trace_id"].unique())])
        t0 = time.perf_counter()
        ref_rows, stats = replay(st, groups, run.tracer)
        kernel_s = time.perf_counter() - t0
        want = rows_digest(ref_rows)
        C.log("reference digest (rows, xor):", want)
        for _wall, _c, _r, base, *_ in passes + traced:
            try:
                got = fetch(digest_query(st.spark.read.parquet(
                    os.path.join(base, STAGE)), digest_cols()))
            except Exception:   # an unreadable commit is a failed pass
                traceback.print_exc()
                got = None
            run.op(got == want, f"committed match {got} != local replay {want}")

        if not args.trace:
            med = C.median(walls)
            run.metric("rows_per_s", n_rows / med, "1/s")
            # every row of a pass is due at its start and done at its commit
            lat = np.repeat(np.array(walls) * 1e3, n_rows)
            run.metric("update_p50_ms", float(np.median(lat)), "ms")
            run.metric("update_p90_ms", C.percentile(lat, 90), "ms")
            run.metric("peak_rss_mb", rss.sample(), "MB")
            C.log("peak rss by process (MB):",
                  " ".join(f"{c}={mb:.0f}" for c, mb in rss.parts))
            return

        run.metric("session.start_s", timings["session"], "s")
        run.metric("index.build_s", timings["index"], "s")
        C.index_layer(run, st.idx, broadcast=True)
        vit = [max(p[4], key=lambda s: s["run_s"]) for p in traced]
        run.metric("match.viterbi_tasks", C.median([v["tasks"] for v in vit]), "count")
        run.metric("match.task_core_s", C.median([v["run_s"] for v in vit]), "s")
        run.metric("match.parallelism",
                   C.median([v["run_s"] / max(v["wall_s"], 1e-3) for v in vit]), "x")
        run.metric("shuffle.mb", C.median(
            [sum(s["shuffle_write_bytes"] for s in p[4]) for p in traced]) / 1e6, "MB")
        run.metric("process.cpu_s", cpu / (n_rows * len(passes) / 1000.0), "s/krow")
        run.metric("match.kernel_s", kernel_s, "s")
        run.metric("match.forward_step_s",
                   sum(run.tracer.durations("forward_step")), "s")
        run.metric("match.route_calls", stats["route_calls"], "count")
        run.metric("match.route_cache_hit_ratio",
                   stats["cache_hits"] / max(1, stats["route_calls"]), "ratio")
        run.metric("ckpt.write_s", C.median(
            [p[1] - v["wall_s"] for p, v in zip(traced, vit)]), "s")
        run.metric("ckpt.mb_written", C.dir_mb(traced[0][3]), "MB")
        run.metric("ckpt.resume_s", C.median([p[2] for p in traced]), "s")
        run.metric("trace.overhead_pct",
                   (C.median([p[0] for p in traced]) / C.median(walls) - 1) * 100.0,
                   "%")
    finally:
        C.stop_spark(st.spark, final=True)
