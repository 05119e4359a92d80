"""Benchmark harness (driver contract): runs the engine's headline
queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec",
 "queries": {name: sec, ...}, "sf": ..., "throughput": {...},
 "rows": {name: n, ...}, "checksums": {name: xor of xxhash64, ...},
 "jobs": {name: Spark jobs of the last timed rep, ...}}

Headline stages mirror BASELINE.json's metric definition: tile
assignment throughput, broadcast-index spatial-join throughput, and
Viterbi match wall-time, plus representative analytics/datapipe queries.
All spatial inputs are synthesized deterministically (seed 42) at a size
proportional to the scale factor.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from barefoot_spark import roads
from barefoot_spark.index import RoadIndex
from barefoot_spark.operators import datapipe as DP, joins as J, match as M, tiles as T
from barefoot_spark.session import build_session
from barefoot_spark.sources import samples as SS
import barefoot_spark.entry_queries as EQ


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def run_bench(spark, sf_dir: str, sf: float):
    """Returns ({query: sec}, {stage: rows_per_sec}, {query: rows},
    {query: checksum}, {query: jobs})."""
    timings = {}
    throughput = {}
    rows = {}
    checksums = {}
    jobs = {}
    sc = spark.sparkContext

    # best-of-3 default: this shared host shows 2-3x noise spikes on
    # single runs and the spikes often hit two consecutive reps
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    def count(df):
        return df.agg(F.count("*")).collect()

    def timed(name, query, rows_hint=None, pre=None, action=count):
        """Best-of-`reps` timing of ``action(query())`` (shared host
        shows 2-3x noise spikes on single runs — the min is the
        achievable number; identical protocol for every query). `pre`
        runs untimed before each rep (cache resets so reps stay cold
        where the query persists). One more untimed pass records the
        query's row count and an order-insensitive checksum of its rows,
        xor of xxhash64 over all columns, so two runs can show that
        they returned the same rows. The last timed rep runs in a job
        group, to count its Spark jobs (~0.1 s each on a small host)."""
        best = None
        group, last = f"bench-{name}", max(1, reps) - 1
        for rep in range(last + 1):
            if pre is not None:
                pre()
            if rep == last:
                sc.setJobGroup(group, name)
            t0 = time.time()
            action(query())
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        sc._jsc.clearJobGroup()
        # the status store is fed by the listener bus, which runs behind
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        timings[name] = round(best, 3)
        if rows_hint:
            throughput[name] = round(rows_hint / best)
        if pre is not None:
            pre()
        df = query()
        rows[name], checksums[name] = df.agg(
            F.count("*"), F.bit_xor(F.xxhash64(*[df[c] for c in df.columns]))).first()

    # --- spatial synthetic inputs (deterministic, sized by sf) ---
    grid_n = 16 if sf <= 0.02 else 24
    idx = RoadIndex(roads.grid_pdf(grid_n, seed=42), res=16)
    idx_bc = spark.sparkContext.broadcast(idx)
    n_tile_points = int(100_000_000 * sf)
    n_probe_points = int(50_000_000 * sf)
    n_traces = max(8, int(5000 * sf))

    lat_lo, lat_hi = 48.0, 48.0 + grid_n * 0.005
    lon_lo, lon_hi = 11.0, 11.0 + grid_n * 0.005

    def synth_points(n):
        return (spark.range(0, n, 1, spark.sparkContext.defaultParallelism * 2)
                .withColumn("lat", F.lit(lat_lo) + (F.col("id") % 9973) / 9973.0
                            * F.lit(lat_hi - lat_lo))
                .withColumn("lon", F.lit(lon_lo) + ((F.col("id") * 7919) % 9973) / 9973.0
                            * F.lit(lon_hi - lon_lo))
                .withColumnRenamed("id", "point_id"))

    # warm-up (untimed): spin up python workers, ship the broadcast
    # index, JIT the kernels — one-time session costs that a long-lived
    # cluster amortizes away (same protocol as tools/scale_worker.py)
    T.assign_tiles(synth_points(100_000), res=15, parent_res=7) \
        .agg(F.count("*")).collect()
    J.radius_join(synth_points(100_000), idx_bc, 100.0) \
        .agg(F.count("*")).collect()
    warm_traces = SS.synth_traces(idx, n_traces=8, samples_per_trace=20, seed=7)
    M.match_traces(spark.createDataFrame(warm_traces), idx_bc) \
        .agg(F.count("*")).collect()
    # dedup path warm-up: Arrow-UDF worker spin + codegen for the LSH
    # join shapes; clearCache afterwards so the TIMED run still pays its
    # own signature/bands materialization (no primed persists)
    EQ.q_minhash_dedup(spark, sf_dir).agg(F.count("*")).collect()
    spark.catalog.clearCache()

    # 1. tile assignment (pure codegen path)
    timed("tile_assign",
          lambda: T.assign_tiles(synth_points(n_tile_points), res=15, parent_res=7),
          rows_hint=n_tile_points,
          action=lambda df: df.agg(F.count(F.col("cell")),
                                   F.sum(F.col("cell") % 97)).collect())

    # 2. broadcast-index radius join (kernel probe path)
    timed("radius_join",
          lambda: J.radius_join(synth_points(n_probe_points), idx_bc, 100.0),
          rows_hint=n_probe_points)

    # 2b. pure-Catalyst radius join (codegen scale path, no Python)
    parts = spark.createDataFrame(
        J.segment_parts_pdf(idx, 100.0, 15)).cache()
    parts.count()
    timed("radius_join_fast",
          lambda: J.radius_join_fast(synth_points(n_probe_points), parts,
                                     100.0, 15, single_part=True),
          rows_hint=n_probe_points)

    # 3. Viterbi match
    geotags = SS.synth_traces(idx, n_traces=n_traces, samples_per_trace=60, seed=42)
    samples_df = spark.createDataFrame(geotags).repartition(
        spark.sparkContext.defaultParallelism, "trace_id").cache()
    n_samples = samples_df.count()
    timed("viterbi_match", lambda: M.match_traces(samples_df, idx_bc),
          rows_hint=n_samples)

    # 4-8. analytics / datapipe on the driver tables
    timed("lineitem_pricing", lambda: EQ.q_lineitem_pricing(spark, sf_dir),
          action=lambda df: df.collect())
    timed("event_sessions", lambda: EQ.q_event_sessions(spark, sf_dir))
    timed("exact_dedup", lambda: EQ.q_exact_dedup(spark, sf_dir))
    # clearCache per rep: minhash persists its bands table; without the
    # reset, rep 2 would reuse it and undercount. (The spatial input
    # caches above are already consumed by this point.)
    timed("minhash_dedup", lambda: EQ.q_minhash_dedup(spark, sf_dir),
          pre=spark.catalog.clearCache)
    timed("ann_topk", lambda: EQ.q_ann_topk(spark, sf_dir))
    return timings, throughput, rows, checksums, jobs


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _sf_of(sf_dir)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = build_session(app="barefoot-bench", master=f"local[{cpus}]",
                          shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    timings, throughput, rows, checksums, jobs = run_bench(spark, sf_dir, sf)
    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "spatial-join+tile+viterbi headline wall-time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "throughput_rows_per_sec": throughput,
        "rows": rows,
        "checksums": checksums,
        "cpus": cpus,
        "jobs": jobs,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
