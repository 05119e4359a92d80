"""Per-cell image rollup (skew-safe) and caption consistency gate:
brute-force pandas twins + the planted hot-cell / spam fixtures."""

import numpy as np
import pytest
import pandas as pd

from barefoot_spark import cells
from barefoot_spark.operators import datapipe, skew, tiles
from barefoot_spark.sources import images as IM


def _brute_rollup(pdf: pd.DataFrame, res: int = 8,
                  scene_bits: int = 12) -> pd.DataFrame:
    df = pdf.copy()
    df["cell"] = cells.latlng_to_cell(df["lat"].to_numpy(),
                                      df["lon"].to_numpy(), res)
    df["scene"] = (df["phash"].to_numpy().astype(np.int64)
                   .astype(np.uint64) >> np.uint64(64 - scene_bits)) \
        .astype(np.int64)
    out = df.groupby("cell").agg(
        n_frames=("image_id", "count"),
        n_trajs=("traj_id", "nunique"),
        n_scenes=("scene", "nunique"),
        t_min=("t", "min"), t_max=("t", "max")).reset_index()
    return out.sort_values("cell").reset_index(drop=True)


def test_tile_image_rollup_matches_brute_force(spark):
    pdf = IM.synth_geo_frames_pdf(48, 32)
    got = (tiles.tile_image_rollup(spark.createDataFrame(pdf),
                                   res=8, salt_n=16)
           .toPandas().sort_values("cell").reset_index(drop=True))
    want = _brute_rollup(pdf)
    pd.testing.assert_frame_equal(got[want.columns], want,
                                  check_dtype=False)


def test_geo_frames_plant_a_hot_cell(spark):
    pdf = IM.synth_geo_frames_pdf(48, 32)
    frames = tiles.assign_tiles(spark.createDataFrame(pdf), res=8)
    share = skew.top_key_share(frames, "cell")
    # 60% of trajectories are clipped inside one res-8 downtown tile
    assert share >= 0.55
    # and the fixture still covers a real tail of other cells
    assert frames.select("cell").distinct().count() > 10


def test_geo_frames_reach_negative_phash():
    pdf = IM.synth_geo_frames_pdf(48, 32)
    assert (pdf["phash"] < 0).any(), \
        "fixture must exercise the unsigned scene shift on negative int64"


def test_tile_pyramid_levels_match_direct_assignment(spark):
    pdf = IM.synth_geo_frames_pdf(48, 32)
    got = (tiles.tile_rollup_pyramid(spark.createDataFrame(pdf),
                                     fine_res=8, coarse_levels=(6, 4))
           .toPandas())
    for res in (8, 6, 4):
        lvl = (got[got["res"] == res].drop(columns=["res"])
               .sort_values("cell").reset_index(drop=True))
        want = _brute_rollup(pdf, res=res)
        pd.testing.assert_frame_equal(lvl[want.columns], want,
                                      check_dtype=False)


def test_tile_pyramid_parent_child_consistency(spark):
    pdf = IM.synth_geo_frames_pdf(48, 32)
    got = (tiles.tile_rollup_pyramid(spark.createDataFrame(pdf),
                                     fine_res=8, coarse_levels=(6,))
           .toPandas())
    fine = got[got["res"] == 8].copy()
    coarse = got[got["res"] == 6].set_index("cell")
    fine["parent"] = cells.cell_to_parent(fine["cell"].to_numpy(), 6)
    merged = fine.groupby("parent").agg(n_frames=("n_frames", "sum"),
                                        t_min=("t_min", "min"),
                                        t_max=("t_max", "max"))
    assert set(merged.index) == set(coarse.index)
    merged = merged.sort_index()
    coarse = coarse.sort_index()
    for col in ("n_frames", "t_min", "t_max"):
        assert (merged[col].to_numpy()
                == coarse[col].to_numpy()).all()
    # distinct counts are NOT sums of children (trajectories span
    # cells) — the pyramid must still get them exact (<= the sum)
    child_sum = fine.groupby("parent")["n_trajs"].sum().sort_index()
    assert (coarse["n_trajs"].to_numpy()
            <= child_sum.to_numpy()).all()


def test_tile_pyramid_reliable_mode_resumes(spark, tmp_path):
    from barefoot_spark.ckpt import StageRunner
    pdf = IM.synth_geo_frames_pdf(12, 8)
    frames = spark.createDataFrame(pdf)
    local = (tiles.tile_rollup_pyramid(frames, fine_res=8,
                                       coarse_levels=(6,))
             .toPandas().sort_values(["res", "cell"])
             .reset_index(drop=True))
    runner = StageRunner(spark, str(tmp_path / "pyr"))
    rel = (tiles.tile_rollup_pyramid(frames, fine_res=8,
                                     coarse_levels=(6,),
                                     mode="reliable", runner=runner)
           .toPandas().sort_values(["res", "cell"])
           .reset_index(drop=True))
    pd.testing.assert_frame_equal(local, rel[local.columns])
    # second run resumes from the committed stages (same result)
    runner2 = StageRunner(spark, str(tmp_path / "pyr"))
    rel2 = (tiles.tile_rollup_pyramid(frames, fine_res=8,
                                      coarse_levels=(6,),
                                      mode="reliable", runner=runner2)
            .toPandas().sort_values(["res", "cell"])
            .reset_index(drop=True))
    pd.testing.assert_frame_equal(rel, rel2)
    # every committed stage resumes with the schema inference would find
    stages = sorted((tmp_path / "pyr").glob("pyramid:*"))
    assert len(stages) == 6
    for stage in stages:
        resumed = runner2.run_stage(stage.name, lambda: pytest.fail("rebuilt"))
        assert (resumed.schema
                == spark.read.parquet(str(stage)).schema)


def test_tile_pyramid_crash_mid_dag_resumes(spark, tmp_path):
    """Fault injection on the composed multi-stage DAG: the pyramid is
    killed mid-run (after the fine-level stats/trajs/scenes stages
    committed, while building the first coarse level), then re-run
    against the same checkpoint base with a fresh runner — the resume
    must SKIP every already-committed stage (zero rebuilds of the fine
    level) and the final rows must equal an uninterrupted run's."""
    from barefoot_spark.ckpt import StageRunner

    class CrashingRunner(StageRunner):
        """Raises on a chosen stage name (simulating a driver/executor
        loss mid-job) and records which stages were actually BUILT
        (vs resumed from a committed output)."""

        def __init__(self, spark_, base, crash_on=None):
            super().__init__(spark_, base)
            self.crash_on = crash_on
            self.built = []

        def run_stage(self, stage, build):
            if stage == self.crash_on:
                raise RuntimeError(f"injected crash at {stage}")
            if not self.is_complete(stage):
                self.built.append(stage)
            return super().run_stage(stage, build)

    pdf = IM.synth_geo_frames_pdf(12, 8)
    frames = spark.createDataFrame(pdf)
    base = str(tmp_path / "pyr_crash")

    # attempt 1: dies while materializing the first coarse stage;
    # the three fine-level stages have already committed
    r1 = CrashingRunner(spark, base, crash_on="pyramid:stats6")
    with pytest.raises(RuntimeError, match="injected crash"):
        tiles.tile_rollup_pyramid(frames, fine_res=8, coarse_levels=(6,),
                                  mode="reliable", runner=r1)
    assert set(r1.built) == {"pyramid:stats8", "pyramid:trajs8",
                             "pyramid:scenes8"}
    for st in r1.built:
        assert r1.is_complete(st)

    # attempt 2 (fresh runner = restarted job): completes, rebuilding
    # ONLY the stages the crash lost
    r2 = CrashingRunner(spark, base)
    resumed = (tiles.tile_rollup_pyramid(frames, fine_res=8,
                                         coarse_levels=(6,),
                                         mode="reliable", runner=r2)
               .toPandas().sort_values(["res", "cell"])
               .reset_index(drop=True))
    assert set(r2.built) == {"pyramid:stats6", "pyramid:trajs6",
                             "pyramid:scenes6"}

    # identical final rows vs an uninterrupted run in a clean base
    clean_runner = StageRunner(spark, str(tmp_path / "pyr_clean"))
    clean = (tiles.tile_rollup_pyramid(frames, fine_res=8,
                                       coarse_levels=(6,),
                                       mode="reliable",
                                       runner=clean_runner)
             .toPandas().sort_values(["res", "cell"])
             .reset_index(drop=True))
    pd.testing.assert_frame_equal(resumed, clean[resumed.columns])

    # and the per-stage lineage checksums agree between the resumed
    # and clean bases (order-insensitive xxhash64 over partitions)
    for st in ("pyramid:stats8", "pyramid:stats6"):
        assert r2.stage_checksum(st) == clean_runner.stage_checksum(st)


def test_caption_consistency_matches_brute_force(spark):
    pdf = IM.synth_caption_reuse_pdf(512)
    got = (datapipe.caption_consistency(
               spark.createDataFrame(pdf, schema=IM.IMAGES_SCHEMA))
           .toPandas().sort_values("image_id").reset_index(drop=True))
    cap = pdf.groupby("caption").agg(
        caption_images=("image_id", "count"),
        caption_scenes=("phash", "nunique"))
    ph = pdf.groupby("phash").agg(phash_captions=("caption", "nunique"))
    want = pdf[["image_id", "caption", "phash"]] \
        .join(cap, on="caption").join(ph, on="phash")
    want["is_spam_caption"] = ((want["caption_images"] >= 3)
                               & (want["caption_scenes"] >= 3))
    want["is_conflict"] = want["phash_captions"] > 1
    want = (want.drop(columns=["caption", "phash"])
            .sort_values("image_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got[want.columns], want,
                                  check_dtype=False)


def test_caption_consistency_flags_planted_failures(spark):
    pdf = IM.synth_caption_reuse_pdf(512)
    got = (datapipe.caption_consistency(
               spark.createDataFrame(pdf, schema=IM.IMAGES_SCHEMA))
           .toPandas().set_index("image_id"))
    # every boilerplate caption spans dozens of distinct images -> spam
    boiler_ids = pdf.loc[pdf["caption"].isin(IM._BOILERPLATE_CAPTIONS),
                         "image_id"]
    assert len(boiler_ids) > 50
    assert got.loc[boiler_ids, "is_spam_caption"].all()
    # a copied image keeping its own caption -> conflict on both copies
    donor, copy = pdf.iloc[4], pdf.iloc[5]
    assert copy["phash"] == donor["phash"] \
        and copy["caption"] != donor["caption"]
    assert got.loc[copy["image_id"], "is_conflict"]
    assert got.loc[donor["image_id"], "is_conflict"]
    # unique well-formed rows are untouched
    assert not got["is_spam_caption"].all()
    assert not got["is_conflict"].all()


def test_caption_consistency_keeps_null_keys(spark):
    """Rows with NULL caption or phash (missing alt-text / unhashable
    bytes) must still come back flagged — the join-back is null-safe."""
    df = spark.createDataFrame(
        [("n1", None, 5), ("n2", None, 6), ("p1", "cap a", None),
         ("x", "cap b", 7)],
        schema="image_id string, caption string, phash long")
    got = (datapipe.caption_consistency(df).toPandas()
           .set_index("image_id").sort_index())
    assert len(got) == 4                      # nothing silently dropped
    # the two NULL captions form one group spanning two distinct images
    assert got.loc["n1", "caption_images"] == 2
    assert got.loc["n2", "caption_scenes"] == 2
    assert not got["is_spam_caption"].any()
    assert not got["is_conflict"].any()


def test_tile_cap_sample_exact_and_deterministic(spark):
    """The salted two-stage top-K picks exactly the single-window
    winners (brute-force md5-rank twin), caps the hot cell, and is
    invariant under repartitioning."""
    import hashlib

    pdf = IM.synth_geo_frames_pdf(24, 16)
    frames = spark.createDataFrame(pdf)
    got = (tiles.tile_cap_sample(frames, res=8, cap=5, salt_n=4)
           .toPandas().sort_values(["cell", "rank"])
           .reset_index(drop=True))
    # brute force: md5-rank per cell
    b = pdf.copy()
    b["cell"] = cells.latlng_to_cell(b["lat"].to_numpy(),
                                     b["lon"].to_numpy(), 8)
    b["key"] = b["image_id"].map(
        lambda s: hashlib.md5(s.encode()).hexdigest())
    b = b.sort_values(["cell", "key", "image_id"])
    b["rank"] = b.groupby("cell").cumcount() + 1
    want = (b[b["rank"] <= 5][["cell", "image_id", "rank"]]
            .sort_values(["cell", "rank"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got[["cell", "image_id", "rank"]], want, check_dtype=False)
    # cap respected, hot cell actually clipped
    assert got.groupby("cell")["rank"].max().max() <= 5
    assert (b.groupby("cell").size() > 5).any()
    # deterministic across physical layout
    got2 = (tiles.tile_cap_sample(frames.repartition(7), res=8,
                                  cap=5, salt_n=4)
            .toPandas().sort_values(["cell", "rank"])
            .reset_index(drop=True))
    pd.testing.assert_frame_equal(got[got2.columns], got2)


def test_cell_parent_expr_matches_numpy_kernel(spark):
    """The Catalyst parent derivation is bit-identical to
    cells.cell_to_parent across random points and resolution pairs
    (incl. dr=0 identity and res 15 extremes)."""
    rng = np.random.default_rng(11)
    lat = rng.uniform(-89.9, 89.9, 20000)
    lon = rng.uniform(-179.9, 179.9, 20000)
    for rf, rc in [(15, 7), (8, 6), (12, 0), (15, 15)]:
        fine = np.unique(cells.latlng_to_cell(lat, lon, rf))
        want = dict(zip(fine.tolist(),
                        cells.cell_to_parent(fine, rc)
                        .astype(np.int64).tolist()))
        df = spark.createDataFrame(pd.DataFrame({"cell": fine}))
        got = (df.select("cell",
                         tiles.cell_parent_expr(df["cell"], rf, rc)
                         .alias("p")).toPandas())
        # row-aligned mapping check (not just multiset equality):
        # every input cell maps to exactly the numpy kernel's parent
        assert len(got) == len(fine)
        assert all(want[c] == p
                   for c, p in zip(got["cell"], got["p"]))


def test_curate_frames_composition(spark):
    """One disposition row per input frame; gates compose exactly:
    final_keep == survived thinning AND within the per-cell cap of
    the THINNED set; frames dropped by thinning never carry a rank."""
    pdf = IM.synth_geo_frames_pdf(24, 16)
    frames = spark.createDataFrame(pdf)
    got = (tiles.curate_frames(frames, min_interval=4, max_hamming=6,
                               res=8, cap=5, salt_n=4)
           .toPandas().set_index("image_id").sort_index())
    assert len(got) == len(pdf) and got.index.is_unique
    # thinning column equals the standalone operator
    from barefoot_spark.operators.datapipe import frame_thinning
    thin = (frame_thinning(frames).toPandas()
            .set_index("image_id")["kept"].sort_index())
    assert (got["kept_thin"] == thin).all()
    # cap column equals the standalone cap over the thinned survivors
    kept = spark.createDataFrame(
        pdf[pdf["image_id"].isin(thin[thin].index)])
    capped = (tiles.tile_cap_sample(kept, res=8, cap=5, salt_n=4)
              .toPandas().set_index("image_id")["rank"])
    assert (got.loc[capped.index, "rank"] == capped).all()
    assert got["final_keep"].equals(got["rank"].notna())
    assert not got.loc[~got["kept_thin"], "rank"].notna().any()
