"""One scaling-run worker: executes the headline spatial stages at a
given parallelism and writes JSON metrics (+ stage checksums proving
identical results across parallelism levels).
Usage: python tools/scale_worker.py <cpus> <out_json> [sf_dir]"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np
from pyspark.sql import functions as F

from barefoot_spark import roads
from barefoot_spark.index import RoadIndex
from barefoot_spark.operators import joins as J, match as M, tiles as T
from barefoot_spark.session import build_session
from barefoot_spark.sources import samples as SS


def main():
    cpus = int(sys.argv[1])
    out_path = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    spark = build_session(app=f"scale-{cpus}", master=f"local[{cpus}]",
                          shuffle_partitions=max(cpus, 8),
                          extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch":
                                      "1048576"})
    spark.sparkContext.setLogLevel("ERROR")

    grid_n = 24
    idx = RoadIndex(roads.grid_pdf(grid_n, seed=42), res=16)
    idx_bc = spark.sparkContext.broadcast(idx)
    n_tile = int(12_000_000_000 * sf)
    n_probe = int(150_000_000 * sf)
    # viterbi sized for the strong-scaling regime: at the previous
    # 10k*sf (1000 traces at sf0.1) the hi level finished in ~2.5s of
    # which a fitted ~0.9s was fixed per-query cost (scheduling, python
    # worker spin-up, checksum agg), capping the measurable efficiency
    # at ~0.77 regardless of engine scaling; 4x the traces amortizes it
    n_traces = max(8, int(40_000 * sf))
    lat_lo, lat_hi = 48.0, 48.0 + grid_n * 0.005
    lon_lo, lon_hi = 11.0, 11.0 + grid_n * 0.005

    def synth_points(n):
        return (spark.range(0, n, 1, cpus * 2)
                .withColumn("lat", F.lit(lat_lo) + (F.col("id") % 9973) / 9973.0
                            * F.lit(lat_hi - lat_lo))
                .withColumn("lon", F.lit(lon_lo) + ((F.col("id") * 7919) % 9973) / 9973.0
                            * F.lit(lon_hi - lon_lo))
                .withColumnRenamed("id", "point_id"))

    # warmup: JIT-compile the exact codegen shapes + spin up python
    # workers so the measured runs are steady-state
    wt = T.assign_tiles(synth_points(1_000_000), res=15, parent_res=7)
    wt.select(F.xxhash64("point_id", "cell", "cell_p7").alias("h")) \
        .agg(F.expr("bit_xor(h)"), F.count("*")).collect()
    J.radius_join(synth_points(100_000), idx_bc, 100.0).agg(F.count("*")).collect()

    results = {"cpus": cpus, "sf": sf, "stages": {}, "checksums": {}}

    def best_of(fn, n=2):
        best = None
        cs = None
        for _ in range(n):
            t0 = time.time()
            cs = fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return best, cs

    def checksum(df, cols):
        # bit_xor: order-insensitive, overflow-free, cheap (decimal sums
        # of hashes dominate the timing otherwise)
        row = df.select(F.xxhash64(*cols).alias("h")).agg(
            F.expr("bit_xor(h)").alias("c"), F.count("*").alias("n")).collect()[0]
        return [str(row["c"]), int(row["n"])]

    # 1. tile assignment
    tiles_df = T.assign_tiles(synth_points(n_tile), res=15, parent_res=7)
    dt, cs = best_of(lambda: checksum(tiles_df, ["point_id", "cell", "cell_p7"]))
    results["stages"]["tile_assign"] = {"rows": n_tile, "sec": round(dt, 3),
                                        "rows_per_sec": round(n_tile / dt)}
    results["checksums"]["tile_assign"] = cs

    # 2. radius join (broadcast-index probe)
    rj = J.radius_join(synth_points(n_probe), idx_bc, 100.0)
    dt, cs = best_of(lambda: checksum(rj, ["point_id", "edge_id"]))
    results["stages"]["radius_join"] = {"rows": n_probe, "sec": round(dt, 3),
                                        "rows_per_sec": round(n_probe / dt)}
    results["checksums"]["radius_join"] = cs

    # 2a. pure-Catalyst radius join (codegen scale path — no python
    # worker, no Arrow pipe; this is how the probe runs at 10^12 scale)
    parts = spark.createDataFrame(
        J.segment_parts_pdf(idx, 100.0, 15)).cache()
    parts.count()
    rjf = J.radius_join_fast(synth_points(n_probe), parts, 100.0, 15,
                             single_part=True)
    dt, cs = best_of(lambda: checksum(rjf, ["point_id", "gid"]))
    results["stages"]["radius_join_fast"] = {
        "rows": n_probe, "sec": round(dt, 3),
        "rows_per_sec": round(n_probe / dt)}
    results["checksums"]["radius_join_fast"] = cs

    # 2b. Arrow-pipe floor: identical input through a no-op kernel. In
    # single-JVM local mode the JVM->Python Arrow feed tops out at a
    # constant ~3M rows/s regardless of cores (per-executor pipeline on
    # a real cluster, so the floor divides away at N executors); measure
    # it so the report can separate engine scaling from harness floor.
    import pyarrow as pa
    import pyspark.sql.types as Ty

    def passthrough(it):
        for rb in it:
            yield pa.RecordBatch.from_arrays([pa.array([rb.num_rows])], names=["n"])

    one = Ty.StructType([Ty.StructField("n", Ty.LongType())])
    dt, _ = best_of(lambda: synth_points(n_probe).mapInArrow(passthrough, one)
                    .agg(F.sum("n")).collect() and None)
    results["stages"]["arrow_pipe_floor"] = {"rows": n_probe, "sec": round(dt, 3),
                                             "rows_per_sec": round(n_probe / dt)}

    # 3. Viterbi match. Trace generation is driver-side python (~33ms/
    # trace), so synthesize once into a parquet cache that every run at
    # every parallelism level reads — the two levels consume the
    # byte-identical input file. The input layout is fixed across levels
    # (the way a real dataset's partitioning stays fixed as executors
    # are added); the match runs the default path, so the Viterbi task
    # count is the one ``repartition_by_work`` picks at this level.
    import pandas as pd
    cache = os.path.join(REPO, "BENCH",
                         f"_traces_{grid_n}_{n_traces}.parquet")
    if not os.path.exists(cache):
        pdf = SS.synth_traces(idx, n_traces=n_traces,
                              samples_per_trace=60, seed=42)
        pdf.to_parquet(cache + ".tmp")
        os.replace(cache + ".tmp", cache)
    geotags = pd.read_parquet(cache)
    nparts = max(16, min(64, n_traces // 62))
    samples_df = spark.createDataFrame(geotags).repartition(
        nparts, "trace_id").cache()
    n_samples = samples_df.count()
    matched = M.match_traces(samples_df, idx_bc)
    viterbi_tasks = matched.rdd.getNumPartitions()
    print(f"viterbi_match: {viterbi_tasks} tasks for {n_samples} samples "
          f"at local[{cpus}]", flush=True)
    dt, cs = best_of(lambda: checksum(
        matched.select("trace_id", "seq", "edge_id",
                       F.round("fraction", 9).alias("fr")),
        ["trace_id", "seq", "edge_id", "fr"]))
    results["stages"]["viterbi_match"] = {"rows": n_samples, "sec": round(dt, 3),
                                          "rows_per_sec": round(n_samples / dt),
                                          "tasks": viterbi_tasks}
    results["checksums"]["viterbi_match"] = cs

    with open(out_path, "w") as f:
        json.dump(results, f)
    spark.stop()


if __name__ == "__main__":
    main()
