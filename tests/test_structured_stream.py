"""Structured Streaming matcher: state carries across micro-batches and
the streamed estimates equal the directly-driven online matcher."""

import json
import os

import numpy as np
import pandas as pd
import pytest

from barefoot_spark import roads
from barefoot_spark.index import RoadIndex
from barefoot_spark.sources import samples as SS
from barefoot_spark.streaming import structured as ST
from barefoot_spark.streaming.online import OnlineMatcher


@pytest.fixture(scope="module")
def idx():
    return RoadIndex(roads.micro7_pdf(), res=15)


def test_stream_matches_online(spark, idx, tmp_path):
    idx_bc = spark.sparkContext.broadcast(idx)
    pdf = SS.synth_traces(idx, n_traces=2, samples_per_trace=12, seed=9)

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    schema = ("trace_id string, sample_id string, time long, "
              "lat double, lon double, azimuth double")
    stream = spark.readStream.schema(schema).parquet(in_dir)
    out = ST.match_stream(stream, idx_bc)
    q = (out.writeStream.format("memory").queryName("est")
         .option("checkpointLocation", ckpt).outputMode("append").start())

    # two micro-batches: first half, then second half of each trace
    first = pdf.groupby("trace_id").head(6)
    second = pdf[~pdf.index.isin(first.index)]
    spark.createDataFrame(first).coalesce(1).write.mode("append").parquet(in_dir)
    q.processAllAvailable()
    n1 = spark.sql("select count(*) c from est").collect()[0]["c"]
    spark.createDataFrame(second).coalesce(1).write.mode("append").parquet(in_dir)
    q.processAllAvailable()
    got = spark.sql("select * from est").toPandas()
    q.stop()

    assert n1 > 0 and len(got) > n1  # state continued across batches

    # oracle: drive the same samples through the online matcher directly
    om = OnlineMatcher(idx)
    expect = []
    for tid, g in pdf.groupby("trace_id"):
        for r in g.sort_values("time").itertuples(index=False):
            status, publish, row = om.update(tid, int(r.time), r.lat, r.lon, r.azimuth)
            if status == "ok" and publish:
                expect.append(row)
    exp = pd.DataFrame(expect, columns=[f.name for f in ST.ESTIMATE_SCHEMA.fields]) \
        .sort_values(["trace_id", "time"]).reset_index(drop=True)
    got = got.sort_values(["trace_id", "time"]).reset_index(drop=True)
    assert len(got) == len(exp)
    assert got["edge_id"].tolist() == exp["edge_id"].tolist()
    np.testing.assert_allclose(got["fraction"], exp["fraction"], atol=1e-12)

def test_stream_equal_times_in_arrival_order(spark, tmp_path):
    """Samples of one trace sharing a time are matched in arrival order:
    a 60-sample trace with times floored to 3 s arrives shuffled in one
    micro-batch, and the streamed estimates equal the online matcher fed
    the same frame through a stable sort by time. An unstable sort
    (numpy's introsort reorders the ties of a 60-row column) feeds the
    equal-time samples in another order and publishes other rows."""
    idx = RoadIndex(roads.grid_pdf(8, seed=5), res=16)
    idx_bc = spark.sparkContext.broadcast(idx)
    pdf = SS.synth_traces(idx, n_traces=1, samples_per_trace=60, seed=11)
    pdf["time"] = pdf["time"] // 3000 * 3000
    arrived = pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    spark.createDataFrame(arrived).coalesce(1).write.mode("append") \
        .parquet(in_dir)
    schema = ("trace_id string, sample_id string, time long, "
              "lat double, lon double, azimuth double")
    stream = spark.readStream.schema(schema).parquet(in_dir)
    q = (ST.match_stream(stream, idx_bc).writeStream.format("memory")
         .queryName("est_ties")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").start())
    q.processAllAvailable()
    got = spark.sql("select * from est_ties").toPandas()
    q.stop()

    om = OnlineMatcher(idx)
    expect = []
    for r in arrived.sort_values("time", kind="stable").itertuples(index=False):
        status, publish, row = om.update(r.trace_id, int(r.time), r.lat,
                                         r.lon, r.azimuth)
        if status == "ok" and publish:
            expect.append(row)
    assert len(expect) == 60
    assert list(got.itertuples(index=False, name=None)) == expect


def test_stream_restart_from_checkpoint(spark, idx, tmp_path):
    """The Structured Streaming recovery contract: STOP the query after
    the first micro-batch, start a NEW query from the same
    checkpointLocation, feed the rest — the restarted query must resume
    from the persisted state store (not re-seed), so the combined
    estimates equal the uninterrupted online-matcher run. This is the
    cluster-crash analog of the KState JSON save/restore test."""
    idx_bc = spark.sparkContext.broadcast(idx)
    pdf = SS.synth_traces(idx, n_traces=2, samples_per_trace=12, seed=21)

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    schema = ("trace_id string, sample_id string, time long, "
              "lat double, lon double, azimuth double")

    def start():
        # file sink, not memory: the memory sink refuses checkpoint
        # recovery; parquet is the exactly-once recoverable sink
        stream = spark.readStream.schema(schema).parquet(in_dir)
        out = ST.match_stream(stream, idx_bc)
        return (out.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append").start())

    first = pdf.groupby("trace_id").head(6)
    second = pdf[~pdf.index.isin(first.index)]

    q1 = start()
    spark.createDataFrame(first).coalesce(1).write.mode("append").parquet(in_dir)
    q1.processAllAvailable()
    q1.stop()                      # simulated crash/redeploy
    n1 = len(spark.read.parquet(out_dir).toPandas())

    q2 = start()                   # fresh query, same checkpoint
    spark.createDataFrame(second).coalesce(1).write.mode("append").parquet(in_dir)
    q2.processAllAvailable()
    q2.stop()
    got = spark.read.parquet(out_dir).toPandas()
    n2 = len(got) - n1

    om = OnlineMatcher(idx)
    expect = []
    for tid, g in pdf.groupby("trace_id"):
        for r in g.sort_values("time").itertuples(index=False):
            status, publish, row = om.update(tid, int(r.time), r.lat, r.lon,
                                             r.azimuth)
            if status == "ok" and publish:
                expect.append(row)
    exp = pd.DataFrame(expect,
                       columns=[f.name for f in ST.ESTIMATE_SCHEMA.fields]) \
        .sort_values(["trace_id", "time"]).reset_index(drop=True)
    got = got.sort_values(["trace_id", "time"]).reset_index(drop=True)
    assert n1 > 0 and n2 > 0       # both runs contributed rows
    assert len(got) == len(exp)
    assert got["edge_id"].tolist() == exp["edge_id"].tolist()
    np.testing.assert_allclose(got["fraction"], exp["fraction"], atol=1e-12)


def test_ingest_dedup_stream(spark, tmp_path):
    """Streaming ingest dedup: re-uploads of the same phash within the
    watermark are dropped across micro-batches; the quality gate runs
    before state; watermark-bounded state admits the same key again
    once the watermark has passed it."""
    from barefoot_spark.streaming import ingest as IG

    in_dir = str(tmp_path / "img_in")
    ckpt = str(tmp_path / "img_ckpt")
    os.makedirs(in_dir)

    schema = ("image_id string, phash long, caption string, ts timestamp")
    stream = spark.readStream.schema(schema).parquet(in_dir)
    out = IG.ingest_images_stream(stream, delay="10 minutes",
                                  min_caption_len=3)
    q = (out.writeStream.format("memory").queryName("ingested")
         .option("checkpointLocation", ckpt).outputMode("append").start())

    def batch(rows):
        pdf = pd.DataFrame(rows, columns=["image_id", "phash", "caption", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(in_dir)
        q.processAllAvailable()

    t0 = "2026-01-01 00:00:"
    batch([("a", 111, "alpha cat", t0 + "00"),
           ("a2", 111, "alpha cat again", t0 + "05"),   # dup phash in-batch
           ("b", 222, "beta dog", t0 + "10"),
           ("junk", 333, "x", t0 + "11")])              # caption gate
    batch([("a3", 111, "alpha cat later", t0 + "20"),   # dup across batches
           ("c", 444, "gamma bird", t0 + "30")])
    got = spark.sql("select phash from ingested").toPandas()
    assert sorted(got.phash) == [111, 222, 444]

    # advance event time far past the watermark delay, then re-upload
    # phash 111: its state entry has been reaped -> admitted again
    batch([("w", 555, "watermark pusher", "2026-01-01 01:00:00")])
    batch([("a4", 111, "alpha cat reborn", "2026-01-01 01:00:05")])
    got2 = spark.sql("select phash from ingested").toPandas()
    q.stop()
    assert sorted(got2.phash) == [111, 111, 222, 444, 555]

    # the same operator on a BATCH frame: plain dedup + gate
    pdf = pd.DataFrame(
        [("a", 111, "alpha cat", "2026-01-01"), ("a2", 111, "dup", "2026-01-01"),
         ("j", 9, "x", "2026-01-01")],
        columns=["image_id", "phash", "caption", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    b = IG.ingest_images_stream(spark.createDataFrame(pdf),
                                min_caption_len=3)
    assert sorted(r.phash for r in b.collect()) == [111]


def test_thin_frames_stream_matches_batch(spark, tmp_path):
    """Streaming frame thinning drained across two micro-batches split
    mid-trajectory == the batch operator on the full trajectories
    (state carries the last kept frame across the split)."""
    from barefoot_spark.operators import datapipe as D
    from barefoot_spark.sources import images as IM
    from barefoot_spark.streaming import ingest as IG

    pdf = IM.synth_frame_stream_pdf(4, 24)
    want = (D.frame_thinning(spark.createDataFrame(pdf))
            .toPandas().set_index("image_id").sort_index())

    in_dir = str(tmp_path / "frames_in")
    ckpt = str(tmp_path / "frames_ckpt")
    os.makedirs(in_dir)
    schema = "traj_id long, image_id string, t long, phash long"
    stream = spark.readStream.schema(schema).parquet(in_dir)
    out = IG.thin_frames_stream(stream)
    q = (out.writeStream.format("memory").queryName("thinned")
         .option("checkpointLocation", ckpt).outputMode("append").start())

    # split each trajectory's frames mid-stream, in time order
    first = pdf.groupby("traj_id", group_keys=False).apply(
        lambda g: g.sort_values("t").head(12))
    second = pdf[~pdf.image_id.isin(first.image_id)]
    for part in (first, second):
        spark.createDataFrame(part).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        q.processAllAvailable()
    got = spark.sql("select * from thinned").toPandas() \
        .set_index("image_id").sort_index()
    q.stop()

    assert len(got) == len(pdf)
    assert (got.kept == want.kept).all()
    assert 0 < got.kept.sum() < len(got)


def test_thin_frames_stream_multichunk_group(spark, tmp_path):
    """A trajectory whose micro-batch slice spans MULTIPLE Arrow chunks
    (tiny arrow.maxRecordsPerBatch + scrambled multi-partition input)
    must still fold in global time order: the kernel concatenates the
    chunk iterator before sorting, otherwise chunk-local sorts would
    misflag in-order frames via the out-of-order reject."""
    from barefoot_spark.operators import datapipe as D
    from barefoot_spark.sources import images as IM
    from barefoot_spark.streaming import ingest as IG

    pdf = IM.synth_frame_stream_pdf(4, 24)
    want = (D.frame_thinning(spark.createDataFrame(pdf))
            .toPandas().set_index("image_id").sort_index())

    in_dir = str(tmp_path / "mc_in")
    ckpt = str(tmp_path / "mc_ckpt")
    os.makedirs(in_dir)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        # write ALL frames BEFORE starting the query, time-scrambled
        # across 4 partitions: batch 0 then contains every file, so
        # each trajectory's 24-row slice arrives in ONE micro-batch as
        # >=3 Arrow chunks of 8, interleaved by the groupBy shuffle.
        # (Starting the query first raced the 4-part write: a trigger
        # could list a partial file set, split a trajectory across
        # micro-batches out of time order, and the out-of-order reject
        # would then LEGITIMATELY flag those frames — the multi-chunk
        # property under test needs a single batch.)
        scrambled = pdf.sample(frac=1.0, random_state=7)
        (spark.createDataFrame(scrambled).repartition(4)
         .write.mode("append").parquet(in_dir))
        schema = "traj_id long, image_id string, t long, phash long"
        stream = spark.readStream.schema(schema).parquet(in_dir)
        out = IG.thin_frames_stream(stream)
        q = (out.writeStream.format("memory").queryName("thinned_mc")
             .option("checkpointLocation", ckpt)
             .outputMode("append").start())
        q.processAllAvailable()
        got = spark.sql("select * from thinned_mc").toPandas() \
            .set_index("image_id").sort_index()
        q.stop()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                           old)

    assert len(got) == len(pdf)
    assert (got.kept == want.kept).all()


def test_cell_window_counts_stream(spark, tmp_path):
    """Streaming per-cell windowed counts: windows finalize when the
    watermark passes, late frames beyond the delay are dropped, and
    the same operator on a batch frame emits every window."""
    from barefoot_spark.streaming import ingest as IG

    in_dir = str(tmp_path / "geo_in")
    ckpt = str(tmp_path / "geo_ckpt")
    os.makedirs(in_dir)

    schema = "image_id string, lat double, lon double, ts timestamp"
    stream = spark.readStream.schema(schema).parquet(in_dir)
    out = IG.cell_window_counts(stream, window="10 minutes",
                                delay="5 minutes", res=8)
    q = (out.writeStream.format("memory").queryName("cellcounts")
         .option("checkpointLocation", ckpt).outputMode("append").start())

    def batch(rows):
        pdf = pd.DataFrame(rows, columns=["image_id", "lat", "lon", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        (spark.createDataFrame(pdf).coalesce(1)
         .write.mode("append").parquet(in_dir))
        q.processAllAvailable()

    A = (52.52, 13.40)   # one res-8 cell
    B = (48.14, 11.58)   # a different res-8 cell
    t0 = "2026-01-01 00:"
    batch([("f1", *A, t0 + "01:00"), ("f2", *A, t0 + "03:00"),
           ("f3", *B, t0 + "04:00")])
    # nothing emitted yet: watermark has not passed the window end
    assert spark.sql("select * from cellcounts").count() == 0

    # advance event time -> watermark 00:20 -> [00:00,00:10) finalizes
    batch([("f4", *A, t0 + "25:00")])
    got = spark.sql(
        "select cell, n_frames from cellcounts").toPandas()
    assert sorted(got.n_frames.tolist()) == [1, 2]
    assert got.cell.nunique() == 2

    # a frame behind the watermark is DROPPED, not re-emitted
    batch([("late", *A, t0 + "02:00")])
    # advance far enough to finalize [00:20,00:30)
    batch([("f5", *B, t0 + "45:00")])
    got2 = spark.sql(
        "select cell, n_frames from cellcounts").toPandas()
    q.stop()
    # late frame did not resurrect the closed window; f4's window
    # emitted exactly one frame
    assert sorted(got2.n_frames.tolist()) == [1, 1, 2]

    # batch mode: same operator, every window emits
    pdf = pd.DataFrame(
        [("f1", *A, "2026-01-01 00:01:00"),
         ("f2", *A, "2026-01-01 00:03:00"),
         ("f3", *B, "2026-01-01 00:04:00"),
         ("f4", *A, "2026-01-01 00:25:00")],
        columns=["image_id", "lat", "lon", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    b = (IG.cell_window_counts(spark.createDataFrame(pdf),
                               window="10 minutes", res=8)
         .toPandas())
    assert sorted(b.n_frames.tolist()) == [1, 1, 2]
