"""SparkSession factory with scale-oriented defaults.

Single place for the engine's physical-execution knobs (SURVEY.md §4):
AQE on (runtime re-plan + skew-join splitting), Arrow enabled for every
pandas kernel, shuffle partitions sized for the local harness but meant
to be overridden to ~2-3x total cores on a real cluster.

AQE partition coalescing merges small shuffle partitions by BYTES. That
suits the Catalyst pipelines, but a keyed Python kernel (the Viterbi
matcher) spends seconds of CPU on a few kilobytes of input, so
coalescing collapses it into one task. ``match_traces`` goes through
``repartition_by_work`` instead: it counts rows and keys, then
asks for ``ceil(rows / ROWS_PER_TASK)`` partitions, capped by the cores
and the keys, with an explicit count that AQE leaves alone. The rule is
deliberately not "one task per core": every extra task starts one more
Python worker (~130 MB RSS) and a cold per-partition route cache, so a
task is only added when it has enough rows to pay for both.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

# Rows (trace samples) per task of a keyed Python kernel. Chosen from
# three task counts (1, 2, 4) measured on ONE input: match_traces over
# 60 traces x 60 samples (3600 rows) of the 24x24 grid map, local[4] on a
# 4-vCPU host. 4 tasks cost +34-78 % peak RSS (3 more Python workers plus
# driver-JVM heap). 2 tasks read +24 % rows/s for +27 % peak RSS on a
# quiet host, and +2 % rows/s for +24 % peak RSS under ~20 % CPU steal
# (medians of 10 alternating pairs, see CHANGES.md). Any value from 1800
# to 3599 gives those 2 tasks, so 3000 is not a measured per-row cost:
# other maps, trace densities and hosts are untested. Each task starts
# one more Python worker (~130 MB RSS) and a cold per-partition route
# cache.
ROWS_PER_TASK = 3000


def build_session(app="barefoot-spark", master=None, shuffle_partitions=None,
                  extra_conf=None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    b = (SparkSession.builder.appName(app).master(master)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
         .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
         .config("spark.ui.enabled", "false"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def repartition_by_work(df: DataFrame, key: str,
                        num_partitions: int | None = None) -> DataFrame:
    """Hash-repartition ``df`` by ``key`` for a keyed Python kernel, with
    the partition count sized by work (see the module docstring):
    ``clamp(ceil(rows / ROWS_PER_TASK), 1, min(defaultParallelism, keys))``.

    Runs one aggregate job over ``df`` (row count and an HLL sketch of the
    keys, so ``key`` is an integer, string or binary column): cheap over a
    scan or a cached input, but it evaluates ``df``'s plan once more, so
    an expensive uncached input is best committed or cached first.
    ``num_partitions`` skips the sizing job and is used as given.

    The keys are counted with ``hll_sketch_agg``, not
    ``approx_count_distinct``: per job over 3600 cached samples the latter
    allocated 70 MB on the driver JVM against 30 MB, and thirty such jobs
    took the JVM's RSS from 0.48 GB to 1.36-1.54 GB with it, to 0.77 GB
    with the sketch (0.72 GB counting rows only).
    """
    if not num_partitions:
        rows, keys = df.agg(
            F.count(F.lit(1)),
            F.hll_sketch_estimate(F.hll_sketch_agg(key))).first()
        cap = min(df.sparkSession.sparkContext.defaultParallelism, keys)
        num_partitions = max(1, min(math.ceil(rows / ROWS_PER_TASK), cap))
    return df.repartition(num_partitions, key)
