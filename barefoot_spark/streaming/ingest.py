"""Streaming ingest front-end for the image+caption table.

The batch dedup operators (operators/datapipe.py) assume the corpus is
at rest; this is the arrival-time half a 100-TB pipeline needs: as
image records stream in, drop re-uploads (same content key) with
STATE BOUNDED BY THE WATERMARK — `dropDuplicatesWithinWatermark` keeps
a key in the state store only until the event-time watermark passes
it, so state size tracks ingest-rate x delay instead of corpus size
(an unbounded `dropDuplicates` state would itself become a 10^12-key
table). Stateless gates run BEFORE the dedup so junk rows never touch
the state store.

Reference analog: the tracker's ingest path drops out-of-order and
duplicate-time samples before state updates
(tracker/TrackerServer.java:152-258); here the same discipline is
applied to the image table's content keys.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType, LongType, StringType, StructField, StructType,
)

from ..operators.datapipe import thin_frames_fold


def ingest_images_stream(images: DataFrame, time_col: str = "ts",
                         delay: str = "10 minutes",
                         dedup_keys=("phash",),
                         min_caption_len: int = 0) -> DataFrame:
    """Streaming image ingest: quality gate -> event-time watermark ->
    first-arrival exact dedup on `dedup_keys` with watermark-bounded
    state. Works identically on a batch DataFrame (watermark is a
    no-op there), so the same code path serves backfill and live
    ingest.

    dedup_keys defaults to the content key the input_hint schema
    already carries (phash); pass ("phash", "caption") for joint
    image+caption identity, or a content hash column for byte-exact
    identity."""
    out = images
    if min_caption_len > 0:
        out = out.filter(F.length(F.col("caption")) >= min_caption_len)
    out = out.withWatermark(time_col, delay)
    if out.isStreaming:
        return out.dropDuplicatesWithinWatermark(list(dedup_keys))
    return out.dropDuplicates(list(dedup_keys))


THIN_FRAMES_SCHEMA = StructType([
    StructField("traj_id", LongType()),
    StructField("image_id", StringType()),
    StructField("t", LongType()),
    StructField("kept", BooleanType()),
])

THIN_STATE_SCHEMA = StructType([
    StructField("last_t", LongType()),
    StructField("last_ph", LongType()),
])


def thin_frames_stream(frames: DataFrame, min_interval: int = 4,
                       max_hamming: int = 6) -> DataFrame:
    """Streaming frame thinning, stateful per trajectory — the
    arrival-time twin of ``operators.datapipe.frame_thinning``. State
    is the last KEPT frame's (t, phash); each micro-batch folds its
    frames in time order through the batch operator's recurrence,
    ``datapipe.thin_frames_fold``, so an in-order stream drained under ANY micro-batch split emits
    exactly the batch operator's keep flags (pytest-pinned equality).
    A frame arriving strictly before the last kept frame's time is
    out-of-order and emitted kept=false without touching state (the
    tracker's out-of-order reject, TrackerServer.java:152-258 —
    batch mode instead sorts the whole trajectory first).

    Scale shape: state is two longs per LIVE trajectory — bounded by
    concurrent trajectories x 16 bytes, never corpus size — and the
    input projection (traj_id, image_id, t, phash) keeps the binary
    payload out of the state store entirely."""

    def fn(key, pdf_iter, state: GroupState):
        last = tuple(int(v) for v in state.get) if state.exists else None
        out = pd.DataFrame(columns=[f.name for f in THIN_FRAMES_SCHEMA.fields])
        # Concatenate the group's Arrow chunks BEFORE sorting: a
        # trajectory whose micro-batch slice spans multiple chunks
        # (arrow.maxRecordsPerBatch, or shuffle interleaving from a
        # multi-partition source) must fold in GLOBAL time order, or
        # in-order frames get misflagged by the out-of-order reject.
        # Per-trajectory-per-batch memory is already the operating
        # assumption of the batch kernel.
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) \
                .sort_values(["t", "image_id"], ignore_index=True)
            out = pdf[["traj_id", "image_id", "t"]].copy()
            out["kept"], last = thin_frames_fold(
                pdf["t"].to_numpy(np.int64), pdf["phash"].to_numpy(np.int64),
                min_interval, max_hamming, last)
        if last is not None:
            state.update(last)
        return iter((out,))

    return (frames.select("traj_id", "image_id", "t", "phash")
            .groupBy("traj_id")
            .applyInPandasWithState(fn, THIN_FRAMES_SCHEMA,
                                    THIN_STATE_SCHEMA, "append",
                                    GroupStateTimeout.NoTimeout))


def cell_window_counts(frames: DataFrame, time_col: str = "ts",
                       res: int = 8, window: str = "10 minutes",
                       delay: str = "5 minutes") -> DataFrame:
    """Streaming per-cell tumbling-window frame counts — the live twin
    of ``operators.tiles.tile_image_rollup``'s count column: geotag ->
    codegen cell id (``tiles.cell_expr`` is a plain Column expression,
    so it runs unchanged inside a streaming plan) -> event-time window
    aggregation with WATERMARK-BOUNDED state.

    Output: (win_start, win_end, cell, n_frames), one row per finalized
    window per cell (append mode: a window emits once the watermark
    passes its end; frames later than `delay` behind the max event
    time are dropped, the same late-data discipline as the tracker's
    out-of-order reject).

    Scale shape: state is ONE count row per live (window, cell) pair —
    bounded by active-cell count x windows-in-flight, never corpus
    size — and partial aggregation happens map-side before the state
    store, so a hot downtown cell ships one partial per task, not one
    row per frame. Works identically on a batch DataFrame (watermark
    is a no-op, every window emits): backfill and live ingest share
    the code path."""
    from ..operators import tiles as T
    out = (frames
           .withColumn("cell", T.cell_expr(F.col("lat"), F.col("lon"),
                                           res))
           .withWatermark(time_col, delay)
           .groupBy(F.window(F.col(time_col), window), "cell")
           .agg(F.count("*").alias("n_frames")))
    return out.select(F.col("window.start").alias("win_start"),
                      F.col("window.end").alias("win_end"),
                      "cell", "n_frames")
