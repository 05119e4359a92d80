"""Checkpointed stage runner: per-stage outputs, per-partition lineage +
metrics, and mid-job resume.

North-rule obligation (BASELINE.json): "every stage checkpoints
per-partition lineage + metrics ... so runs resume mid-job". Precedent
in the reference: KState's full JSON round-trip for persistence &
redistribution (markov/KState.java:63-118,304-335).

Model: a pipeline is a DAG of named stages; each stage materializes its
output as parquet under ``<base>/<stage>`` before the next stage reads
it. Completion is detected via Spark's ``_SUCCESS`` marker (stage level)
or a manifest of completed partition-key values (partitioned stages), so
a re-run skips finished work. Every run appends rows to
``<base>/_metrics``:
(stage, partition_id, output_rows, checksum, wall_ms, run_ts) — the
checksum is an order-insensitive xxhash64 sum, giving cheap cross-run
equality checks (e.g. the tile assignments at local[8] vs local[32]).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F


class StageRunner:
    """All filesystem probes go through the Hadoop FileSystem API (via
    the JVM), never ``os.path``: the production base_dir is an
    ``hdfs://``/``s3a://`` URI that the driver's local filesystem cannot
    see — an ``os.path.exists`` probe there would silently report every
    stage incomplete and recompute/overwrite instead of resuming."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir.rstrip("/")
        # resolved once: py4j walks ``jvm.org.apache.hadoop.fs.Path`` one
        # package segment at a time, each a reflective lookup on the JVM
        # (~1.6 ms per walk vs ~0.2 ms for a call on the resolved class)
        self._Path = spark._jvm.org.apache.hadoop.fs.Path
        fs, path = self._fs(self.base)
        fs.mkdirs(path)

    def _fs(self, path: str):
        """(FileSystem, Path) for a possibly-scheme-qualified path —
        resolves hdfs://, s3a://, file:, and bare local paths alike."""
        jpath = self._Path(path)
        return (jpath.getFileSystem(self.spark._jsc.hadoopConfiguration()),
                jpath)

    def _join(self, *parts: str) -> str:
        # URI-safe join: os.path.join would mangle scheme-qualified
        # bases on non-posix drivers and invites accidental absolute-
        # path resets; stage names never contain "/"
        return "/".join([self.base, *parts])

    def _exists(self, path: str) -> bool:
        fs, jpath = self._fs(path)
        return bool(fs.exists(jpath))

    def _out(self, stage: str) -> str:
        return self._join(stage)

    def _metrics_path(self) -> str:
        return self._join("_metrics")

    def is_complete(self, stage: str) -> bool:
        return self._exists(self._join(stage, "_SUCCESS"))

    def _write_metrics(self, stage: str, out_df: DataFrame, wall_ms: float):
        cols = [f.name for f in out_df.schema.fields
                if f.dataType.typeName() not in ("array", "map", "struct", "binary")]
        m = (out_df
             .withColumn("__pid", F.spark_partition_id())
             .groupBy("__pid")
             .agg(F.count("*").alias("output_rows"),
                  # bit_xor: order-insensitive and overflow-free (ANSI
                  # mode forbids overflowing long sums of hashes)
                  F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("checksum"))
             .select(F.lit(stage).alias("stage"),
                     F.col("__pid").alias("partition_id"),
                     "output_rows", "checksum",
                     F.lit(float(wall_ms)).alias("wall_ms"),
                     F.lit(int(time.time() * 1000)).alias("run_ts")))
        m.write.mode("append").parquet(self._metrics_path())

    def run_stage(self, stage: str, build) -> DataFrame:
        """Materialize ``build()`` under the stage directory unless a
        complete output already exists (resume = skip)."""
        out = self._out(stage)
        if self.is_complete(stage):
            return self.spark.read.parquet(out)
        t0 = time.time()
        df = build() if callable(build) else build
        df.write.mode("overwrite").parquet(out)
        wall_ms = (time.time() - t0) * 1000
        written = self.spark.read.parquet(out)
        self._write_metrics(stage, written, wall_ms)
        return written

    # ------------------------------------------------------------------
    # partition-granular resume
    # ------------------------------------------------------------------
    def _manifest_path(self, stage: str) -> str:
        return self._join(f"_manifest_{stage}")

    def completed_keys(self, stage: str):
        path = self._manifest_path(stage)
        if not self._exists(path):
            return None
        try:
            return self.spark.read.parquet(path)
        except Exception:
            return None

    def run_partitioned_stage(self, stage: str, input_df: DataFrame,
                              key_col: str, transform) -> DataFrame:
        """Process only partition-key values not yet in the manifest;
        append output partitioned by the key. A crashed run resumes by
        re-listing the manifest and processing the remainder (the unit of
        idempotent commit is one key value — e.g. one coarse cell prefix
        of the planet)."""
        out = self._out(stage)
        done = self.completed_keys(stage)
        todo = input_df
        if done is not None:
            todo = input_df.join(F.broadcast(done.withColumnRenamed("key", key_col)),
                                 key_col, "left_anti")
        keys = [r[0] for r in todo.select(key_col).distinct().collect()]
        if keys:
            t0 = time.time()
            result = transform(todo)
            (result.write.mode("append").partitionBy(key_col).parquet(out))
            wall_ms = (time.time() - t0) * 1000
            self._write_metrics(f"{stage}:{len(keys)}keys",
                                self.spark.read.parquet(out), wall_ms)
            # manifest schema derives from the key column's actual type
            # (a hardcoded long would crash on string keys — e.g. the
            # documented H3-prefix-string partitioning)
            from pyspark.sql.types import StructField, StructType
            mschema = StructType(
                [StructField("key", input_df.schema[key_col].dataType)])
            (self.spark.createDataFrame([(k,) for k in keys], mschema)
             .write.mode("append").parquet(self._manifest_path(stage)))
        return self.spark.read.parquet(out)

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(self._metrics_path())

    def stage_checksum(self, stage: str) -> int:
        """Order-insensitive whole-stage checksum (sum over partitions) —
        identical across parallelism levels iff the rows are."""
        m = self.metrics().filter(F.col("stage") == stage)
        row = m.agg(F.expr("bit_xor(checksum)").alias("c"),
                    F.sum("output_rows").alias("n")).collect()[0]
        return (int(row["c"] or 0), int(row["n"] or 0))


def materialize(df: DataFrame, mode: str = "local",
                runner: "StageRunner | None" = None,
                stage: str | None = None) -> DataFrame:
    """Materialization strategy seam for shared subtrees (the dedup
    signature/pair tables and the DBCAN per-bucket segmentation).

    mode="local": eager ``localCheckpoint`` — truncates lineage onto
    executor-local blocks. Optimal for a single JVM (blocks are
    GC-reclaimed, no cache-entry leak), but NOT fault-tolerant on a
    cluster: losing an executor after the checkpoint kills the job
    because the truncated lineage cannot recompute the lost blocks.

    mode="reliable": parquet commit through ``StageRunner.run_stage``
    — the production setting. Survives executor loss (any task re-reads
    the committed files), records per-partition lineage + metrics, and
    a re-run of the same stage name resumes by reading the committed
    output instead of recomputing.

    The resume unit is the STAGE NAME within the runner's base dir:
    calling the same operator twice on DIFFERENT inputs with the same
    runner and the same stage name would resume the second call from
    the first call's commit. Operators therefore expose a
    ``stage_prefix`` parameter — give each distinct invocation sharing
    a runner its own prefix (or each its own runner base dir).
    """
    if mode == "local":
        return df.localCheckpoint(eager=True)
    if mode == "reliable":
        if runner is None or stage is None:
            raise ValueError(
                "materialize(mode='reliable') needs runner= and stage=")
        return runner.run_stage(stage, df)
    raise ValueError(f"unknown materialize mode {mode!r}")
