"""Work-sized partitioning of keyed Python kernels
(``session.repartition_by_work``) and the match output's independence
from the partition layout it picks."""

import pytest
from pyspark.sql import functions as F

from barefoot_spark import roads, session
from barefoot_spark.ckpt import StageRunner
from barefoot_spark.index import RoadIndex
from barefoot_spark.operators import match as M
from barefoot_spark.sources import samples as S


def keyed(spark, rows, keys):
    return spark.range(rows).withColumn("k", (F.col("id") % keys).cast("string"))


def parts(df):
    return df.rdd.getNumPartitions()


def test_repartition_by_work_counts(spark):
    rpt = session.ROWS_PER_TASK
    cores = spark.sparkContext.defaultParallelism
    assert cores > 2
    # below one task's worth of rows: one task, whatever the key count
    assert parts(session.repartition_by_work(keyed(spark, rpt - 1, 500), "k")) == 1
    # above it: split by rows
    assert parts(session.repartition_by_work(keyed(spark, rpt + 1, 500), "k")) == 2
    # never more tasks than distinct keys, nor than cores
    assert parts(session.repartition_by_work(keyed(spark, 10 * rpt, 2), "k")) == 2
    assert parts(session.repartition_by_work(keyed(spark, 100 * rpt, 500), "k")) == cores
    # no rows or no non-null keys: one task
    assert parts(session.repartition_by_work(keyed(spark, 0, 5), "k")) == 1
    nulls = spark.range(2 * rpt).withColumn("k", F.lit(None).cast("string"))
    assert parts(session.repartition_by_work(nulls, "k")) == 1
    # an explicit count is used as given
    assert parts(session.repartition_by_work(keyed(spark, 10, 2), "k", 7)) == 7


@pytest.fixture(scope="module")
def grid():
    return RoadIndex(roads.grid_pdf(8, seed=42), res=15)


@pytest.fixture(scope="module")
def traces(spark, grid):
    pdf = S.synth_traces(grid, n_traces=12, samples_per_trace=30, seed=5)
    return spark.createDataFrame(pdf).cache()


def test_match_traces_default_task_count(spark, grid, traces, monkeypatch):
    bc = spark.sparkContext.broadcast(grid)
    n_rows = traces.count()
    assert n_rows < session.ROWS_PER_TASK
    assert parts(M.match_traces(traces, bc)) == 1
    # the same input above the per-task row count splits, capped by cores
    monkeypatch.setattr(session, "ROWS_PER_TASK", n_rows // 3)
    assert 1 < parts(M.match_traces(traces, bc)) <= \
        spark.sparkContext.defaultParallelism
    # ... and never into more tasks than there are traces
    two = traces.filter(F.col("trace_id").isin("trace-000000", "trace-000001"))
    monkeypatch.setattr(session, "ROWS_PER_TASK", 1)
    assert parts(M.match_traces(two, bc)) == 2


def test_match_digest_independent_of_partitions(spark, grid, traces,
                                                tmp_path, monkeypatch):
    """Each partition keeps its own route cache, and a cached tree depends
    on its source edge alone, so the committed output must not depend on
    how the traces are split."""
    bc = spark.sparkContext.broadcast(grid)
    runner = StageRunner(spark, str(tmp_path))

    def committed(stage, num_partitions=None):
        out = runner.run_stage(
            stage, lambda: M.match_traces(traces, bc,
                                          num_partitions=num_partitions))
        assert out.schema == spark.read.parquet(str(tmp_path / stage)).schema
        row = out.agg(F.count(F.lit(1)).alias("n"),
                      F.expr("bit_xor(xxhash64(*))").alias("x")).first()
        return row["n"], row["x"]

    want = committed("one", 1)
    assert want[0] > 0
    assert committed("two", 2) == want
    assert committed("four", 4) == want
    assert committed("default") == want
    monkeypatch.setattr(session, "ROWS_PER_TASK", 130)   # 3 tasks
    assert committed("default_split") == want
