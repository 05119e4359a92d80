"""Checkpoint/lineage/resume tests: stage skip on re-run, metrics rows,
partition-granular resume, cross-run checksum equality, the Spark jobs a
commit and a resume run, and the schemas they return."""

import datetime
import decimal
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F, types as ST

from barefoot_spark.ckpt import METRICS_SCHEMA, StageRunner
from barefoot_spark.operators import tiles as T


def counted_jobs(spark, fn):
    """(fn(), ids of the Spark jobs fn ran), counted through a job group."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4()}"
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    # the status store is fed by the listener bus, which runs behind
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def assert_inferred_schema(spark, runner, stage, *dfs):
    ref = spark.read.parquet(runner._out(stage)).schema
    for df in dfs:
        assert df.schema == ref


@pytest.fixture()
def points_df(spark):
    pdf = pd.DataFrame({
        "point_id": np.arange(2000),
        "lat": np.random.default_rng(1).uniform(5, 80, 2000),
        "lon": np.random.default_rng(2).uniform(-170, 170, 2000),
    })
    return spark.createDataFrame(pdf)


def test_stage_resume_skips(spark, points_df, tmp_path):
    runner = StageRunner(spark, str(tmp_path))
    calls = []

    def build():
        calls.append(1)
        return T.assign_tiles(points_df, res=14)

    out1 = runner.run_stage("tiles", build)
    assert out1.count() == 2000
    assert len(calls) == 1
    out2 = runner.run_stage("tiles", build)   # resume: no rebuild
    assert len(calls) == 1
    assert out2.count() == 2000

    assert_inferred_schema(spark, runner, "tiles", out1, out2)

    m = runner.metrics().toPandas()
    assert set(m["stage"]) == {"tiles"}
    assert m["output_rows"].sum() == 2000
    assert m["checksum"].notna().all()


def test_commit_and_resume_job_counts(spark, points_df, tmp_path):
    """A commit runs the stage's own write jobs plus one bookkeeping
    query, the per-partition aggregate (under AQE its shuffle-map job and
    its result job); a resume runs no job at all."""
    tiles = T.assign_tiles(points_df, res=14)
    _, own = counted_jobs(spark, lambda: tiles.write.parquet(str(tmp_path / "own")))
    runner = StageRunner(spark, str(tmp_path / "base"))
    sc = spark.sparkContext
    described = []

    def commit_stage():
        out = runner.run_stage("tiles", tiles)
        # the caller's job description is back in place
        described.append(sc.getLocalProperty("spark.job.description"))
        return out
    out, commit = counted_jobs(spark, commit_stage)
    assert described == ["counted"]
    assert len(own) >= 1 and len(commit) == len(own) + 2
    store = sc._jsc.sc().statusStore()
    assert [store.job(j).description().get() for j in commit[-2:]] == \
        ["ckpt tiles: metrics"] * 2
    resumed, resume = counted_jobs(spark, lambda: StageRunner(
        spark, str(tmp_path / "base")).run_stage("tiles", tiles))
    assert resume == []
    assert_inferred_schema(spark, runner, "tiles", out, resumed)
    assert resumed.count() == 2000


def test_committed_schema_equals_inferred(spark, tmp_path):
    """Nested, temporal, decimal, map and non-nullable columns: the
    commit's read-back and the footer-schema resume both return the
    schema ``spark.read.parquet`` infers, for empty stages too."""
    schema = ST.StructType([
        ST.StructField("id", ST.LongType(), False),
        ST.StructField("arr", ST.ArrayType(ST.DoubleType(), False), False),
        ST.StructField("st", ST.StructType([
            ST.StructField("a", ST.IntegerType(), False),
            ST.StructField("b", ST.StringType())]), False),
        ST.StructField("ts", ST.TimestampType()),
        ST.StructField("tsn", ST.TimestampNTZType()),
        ST.StructField("d", ST.DateType()),
        ST.StructField("dec", ST.DecimalType(12, 3)),
        ST.StructField("m", ST.MapType(ST.StringType(), ST.LongType(), False)),
        ST.StructField("bin", ST.BinaryType()),
        ST.StructField("f", ST.FloatType()),
        ST.StructField("flag", ST.BooleanType())])
    row = (1, [1.0, 2.0], (3, "x"), datetime.datetime(2020, 1, 1),
           datetime.datetime(2020, 1, 2), datetime.date(2020, 1, 3),
           decimal.Decimal("1.500"), {"k": 1}, b"ab", 1.5, True)
    df = spark.createDataFrame([row], schema).withColumn(
        "tagged", F.col("id").alias("tagged", metadata={"comment": "kept"}))
    runner = StageRunner(spark, str(tmp_path))
    for stage, data in (("rich", df), ("empty", df.filter("id < 0"))):
        out1 = runner.run_stage(stage, data)
        out2 = StageRunner(spark, str(tmp_path)).run_stage(stage, data)
        assert_inferred_schema(spark, runner, stage, out1, out2)
        assert out2.collect() == data.collect()


def test_metrics_mixed_writers(spark, points_df, tmp_path):
    """``_metrics`` may hold parts of Spark's own writer (as runs stored
    them before the driver wrote the table) beside driver-written parts
    and a leftover hidden temp file of a crashed append: ``metrics()``
    keeps the column types, the temp file is skipped, and the checksums
    are those of Spark's aggregate."""
    runner = StageRunner(spark, str(tmp_path))
    tiles = runner.run_stage("tiles", lambda: T.assign_tiles(points_df, res=14))
    want = runner.stage_checksum("tiles")
    metrics_dir = tmp_path / "_metrics"
    cols = [f.name for f in tiles.schema.fields]
    (tiles.withColumn("__pid", F.spark_partition_id())
     .groupBy("__pid")
     .agg(F.count("*").alias("output_rows"),
          F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("checksum"))
     .select(F.lit("spark").alias("stage"), F.col("__pid").alias("partition_id"),
             "output_rows", "checksum", F.lit(1.0).alias("wall_ms"),
             F.lit(0).cast("long").alias("run_ts"))
     .write.mode("append").parquet(str(metrics_dir)))
    runner.run_stage("again", lambda: T.assign_tiles(points_df, res=14))
    (metrics_dir / ".part-crashed.snappy.parquet").write_bytes(b"PAR1")

    m = runner.metrics().toPandas()
    assert m.dtypes.astype(str).to_dict() == {
        "stage": "object", "partition_id": "int32", "output_rows": "int64",
        "checksum": "int64", "run_ts": "int64", "wall_ms": "float64"}
    assert sorted(set(m["stage"])) == ["again", "spark", "tiles"]
    assert runner.stage_checksum("tiles") == want
    assert runner.stage_checksum("spark") == want
    assert runner.stage_checksum("again") == want
    # either writer's footer gives the same inferred schema
    for part in metrics_dir.glob("part-*.parquet"):
        assert spark.read.parquet(str(part)).schema == METRICS_SCHEMA


def test_checksum_stable_across_parallelism(spark, points_df, tmp_path):
    r1 = StageRunner(spark, str(tmp_path / "a"))
    r2 = StageRunner(spark, str(tmp_path / "b"))
    df1 = T.assign_tiles(points_df.coalesce(1), res=14)
    df4 = T.assign_tiles(points_df.repartition(7), res=14)
    r1.run_stage("tiles", lambda: df1)
    r2.run_stage("tiles", lambda: df4)
    c1 = r1.stage_checksum("tiles")
    c2 = r2.stage_checksum("tiles")
    assert c1 == c2  # identical tile assignments at any parallelism


def test_stage_runner_scheme_qualified_uri(spark, points_df, tmp_path):
    """Completion/manifest probes must go through the Hadoop FS API, not
    os.path: a scheme-qualified base (here file:, standing in for
    hdfs://—s3a:// on a cluster) must still detect completed stages and
    resume instead of recomputing. os.path.exists('file:/...') is False
    on every POSIX driver, which is exactly the silent-recompute bug
    this guards against."""
    base = "file:" + str(tmp_path / "sch")
    runner = StageRunner(spark, base)
    calls = []

    def build():
        calls.append(1)
        return T.assign_tiles(points_df, res=14)

    out1 = runner.run_stage("tiles", build)
    assert out1.count() == 2000
    assert runner.is_complete("tiles")
    # a FRESH runner over the same URI resumes (no driver-local state)
    runner2 = StageRunner(spark, base)
    out2 = runner2.run_stage("tiles", build)
    assert len(calls) == 1
    assert out2.count() == 2000
    # scheme-aware joins: outputs actually landed under the URI
    assert (tmp_path / "sch" / "tiles" / "_SUCCESS").exists()


def test_partitioned_resume_string_key(spark, tmp_path):
    """run_partitioned_stage with a STRING partition key (the
    documented H3-prefix-string use case): the manifest schema must
    derive from the key column type, not assume long."""
    pdf = pd.DataFrame({"point_id": np.arange(40),
                        "pfx": [f"cell{i % 4}" for i in range(40)]})
    df = spark.createDataFrame(pdf)
    runner = StageRunner(spark, "file:" + str(tmp_path / "sk"))
    calls = []

    def transform(d):
        calls.append(d.select("pfx").distinct().count())
        return d.withColumn("flag", F.lit(1))

    out1 = runner.run_partitioned_stage("s", df, "pfx", transform)
    assert out1.count() == 40 and calls == [4]
    out2 = runner.run_partitioned_stage("s", df, "pfx", transform)
    assert out2.count() == 40 and calls == [4]   # full resume
    extra = spark.createDataFrame(pd.DataFrame(
        {"point_id": [99], "pfx": ["cell9"]}))
    out3 = runner.run_partitioned_stage("s", df.unionByName(extra),
                                        "pfx", transform)
    assert out3.count() == 41 and calls == [4, 1]
    done = runner.completed_keys("s")
    assert done.schema["key"].dataType == ST.StringType()
    assert {r[0] for r in done.collect()} == {"cell0", "cell1", "cell2", "cell3", "cell9"}


def test_partitioned_resume(spark, points_df, tmp_path):
    runner = StageRunner(spark, str(tmp_path))
    tiled = T.assign_tiles(points_df, res=14, parent_res=2)

    seen_batches = []

    def transform(df):
        seen_batches.append(df.select("cell_p2").distinct().count())
        return df.withColumn("flag", F.lit(1))

    out1 = runner.run_partitioned_stage("probe", tiled, "cell_p2", transform)
    total = out1.count()
    assert total == 2000
    n_keys_first = seen_batches[0]

    # resume: everything done -> transform not called again
    out2 = runner.run_partitioned_stage("probe", tiled, "cell_p2", transform)
    assert len(seen_batches) == 1
    assert out2.count() == 2000

    # new data in a fresh partition key is processed incrementally
    # (points_df is northern-hemisphere only, so a southern point
    # lands in a parent cell with no completed manifest entry)
    extra = spark.createDataFrame(pd.DataFrame({
        "point_id": [99999], "lat": [-85.0], "lon": [0.1]}))
    tiled2 = T.assign_tiles(extra, res=14, parent_res=2).unionByName(tiled)
    out3 = runner.run_partitioned_stage("probe", tiled2, "cell_p2", transform)
    assert len(seen_batches) == 2
    assert seen_batches[1] <= n_keys_first  # only the missing key(s)
