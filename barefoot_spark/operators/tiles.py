"""Tile assignment: geotag -> cell id as a pure-Catalyst column
expression.

The north rule's "batch-encode every image record's geotag into cells"
stage. ``cell_expr`` is the integer math of ``cells.latlng_to_cell``
(the numpy kernel the spatial joins use) as built-in Column
expressions: it stays inside whole-stage codegen, is what the DuckDB
oracle mirrors bit-for-bit (``cell_expr_sql``), and makes the
assignment exact integer arithmetic (identical across parallelism
levels by construction, per BASELINE.json's determinism requirement).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .. import cells


def cell_expr(lat: Column, lon: Column, res: int) -> Column:
    """Pure-SQL cell id; exact same packing as cells.pack.

    res must be <= 15: the packing puts res at bit 59, so res 16 would
    set the int64 sign bit — numpy wraps silently (internal kernel use
    is consistent either way) but Spark's ANSI arithmetic raises
    ARITHMETIC_OVERFLOW, and the "positive, sortable, prefix-prunable"
    contract of the SQL cell id only holds through res 15 (~9 m cells:
    finer than any query radius this engine serves)."""
    if res > 15:
        raise ValueError(f"cell_expr requires res <= 15, got {res}")
    edge = cells.res_edge_deg(res)
    nx = int(round(360.0 / edge))
    ny = int(round(180.0 / edge))
    ix = F.least(F.greatest(F.floor((lon + 180.0) / F.lit(edge)), F.lit(0)), F.lit(nx - 1))
    iy = F.least(F.greatest(F.floor((lat + 90.0) / F.lit(edge)), F.lit(0)), F.lit(ny - 1))
    return (F.lit(res) * F.lit(1 << cells._RES_SHIFT)
            + ix.cast("long") * F.lit(1 << cells._IX_SHIFT)
            + iy.cast("long"))


def cell_expr_sql(lat_col: str, lon_col: str, res: int) -> str:
    """The DuckDB-oracle twin of cell_expr (same doubles, same integers).
    Same res <= 15 bound as cell_expr — res 16 would overflow the int64
    sign bit in the packing either side of the comparison."""
    if res > 15:
        raise ValueError(f"cell_expr_sql requires res <= 15, got {res}")
    edge = cells.res_edge_deg(res)
    nx = int(round(360.0 / edge))
    ny = int(round(180.0 / edge))
    ix = (f"least(greatest(cast(floor(({lon_col} + 180.0e0) / {edge!r}e0) "
          f"as bigint), 0), {nx - 1})")
    iy = (f"least(greatest(cast(floor(({lat_col} + 90.0e0) / {edge!r}e0) "
          f"as bigint), 0), {ny - 1})")
    return (f"cast({res} * {1 << cells._RES_SHIFT} + {ix} * {1 << cells._IX_SHIFT} "
            f"+ {iy} as bigint)")


def cell_parent_expr(cell: Column, res: int, parent_res: int) -> Column:
    """Pure-Catalyst twin of ``cells.cell_to_parent``: the coarser
    ancestor derived from the packed cell id ALONE — no lat/lon
    re-read. Edges double per resolution step, so the parent's grid
    index is the child's shifted right by the level difference.
    Same res <= 15 positivity contract as cell_expr."""
    if not 0 <= parent_res <= res <= 15:
        raise ValueError(f"need 0 <= parent_res <= res <= 15, got "
                         f"{parent_res}..{res}")
    dr = res - parent_res
    ix = F.shiftrightunsigned(cell, cells._IX_SHIFT) \
        .bitwiseAND(F.lit((1 << cells._IX_BITS) - 1))
    iy = cell.bitwiseAND(F.lit((1 << cells._IY_BITS) - 1))
    return (F.lit(parent_res) * F.lit(1 << cells._RES_SHIFT)
            + F.shiftrightunsigned(ix, dr) * F.lit(1 << cells._IX_SHIFT)
            + F.shiftrightunsigned(iy, dr)).cast("long")


def _rollup_parts(df: DataFrame, salt_n: int, scene_bits: int):
    """The three skew-safe branches of a per-cell rollup over a
    cell-assigned frame table: salted algebraic stats, and the
    distinct (cell, trajectory) / (cell, scene-bucket) pair sets.
    Distinct counts deliberately AVOID ``countDistinct(a),
    countDistinct(b)`` in one agg — Spark plans multi-distinct via
    Expand (row blowup, hot key on one reducer) — and instead dedup
    the pair set first, spreading a hot cell across its distinct
    members. Shared by tile_image_rollup and the pyramid cascade."""
    from . import skew as SK
    stats = SK.salted_agg(
        df, ["cell"],
        {"n_frames": ("count", "image_id"),
         "t_min": ("min", "t"), "t_max": ("max", "t")},
        salt_n=salt_n)
    trajs = df.select("cell", "traj_id").distinct()
    scenes = df.select(
        "cell",
        F.shiftrightunsigned(F.col("phash"), 64 - scene_bits)
         .alias("scene")).distinct()
    return stats, trajs, scenes


def _rollup_join(stats: DataFrame, trajs: DataFrame,
                 scenes: DataFrame) -> DataFrame:
    """Count the deduped pair sets per cell and re-join the three
    branches on cell — a post-aggregation key whose cardinality is
    the tile count, not the frame count."""
    t = trajs.groupBy("cell").agg(F.count("*").alias("n_trajs"))
    s = scenes.groupBy("cell").agg(F.count("*").alias("n_scenes"))
    return (stats.join(t, "cell").join(s, "cell")
            .select("cell", "n_frames", "n_trajs", "n_scenes",
                    "t_min", "t_max"))


def tile_rollup_pyramid(frames: DataFrame, fine_res: int = 8,
                        coarse_levels=(6, 4), salt_n: int = 16,
                        scene_bits: int = 12, mode: str = "local",
                        runner=None, stage_prefix: str = "pyramid") \
        -> DataFrame:
    """Multi-resolution tile rollup: raw frames are scanned EXACTLY
    once (at ``fine_res``); every coarser level derives from the
    next-finer level by pure cell-id arithmetic — algebraic stats
    (count/min/max) re-merge from the finer aggregates, and the
    distinct trajectory/scene counts cascade through (cell, member)
    pair sets that shrink monotonically per level. At 100 TB this is
    the difference between one pass and one pass per zoom level; it
    is also how an Iceberg rollup table maintains its zoom hierarchy
    incrementally.

    Output: (res, cell, n_frames, n_trajs, n_scenes, t_min, t_max),
    one row per cell per level, fine level included."""
    from .. import ckpt as CK

    def mat(d, name):
        # each level's frontier is materialized once, so the cascade
        # truly scans the raw frames a single time — without this the
        # lazy plan re-executes the fine aggregation per zoom level
        return CK.materialize(d, mode=mode, runner=runner,
                              stage=f"{stage_prefix}:{name}")

    # fine_res is always emitted by the base level — re-listing it in
    # coarse_levels would union a duplicate (res, cell) block via a
    # dr=0 identity re-merge, breaking (res, cell)-keyed consumers
    levels = sorted({int(r) for r in coarse_levels} - {fine_res},
                    reverse=True)
    df = assign_tiles(frames, res=fine_res)
    stats, trajs, scenes = _rollup_parts(df, salt_n, scene_bits)
    stats = mat(stats, f"stats{fine_res}")
    trajs = mat(trajs, f"trajs{fine_res}")
    scenes = mat(scenes, f"scenes{fine_res}")

    def level_df(res, stats, trajs, scenes):
        return (_rollup_join(stats, trajs, scenes)
                .select(F.lit(res).cast("int").alias("res"), "*"))

    out = level_df(fine_res, stats, trajs, scenes)
    prev_res = fine_res
    for res in levels:
        parent = cell_parent_expr(F.col("cell"), prev_res, res)
        stats = mat(stats.groupBy(parent.alias("cell"))
                    .agg(F.sum("n_frames").alias("n_frames"),
                         F.min("t_min").alias("t_min"),
                         F.max("t_max").alias("t_max")), f"stats{res}")
        trajs = mat(trajs.select(parent.alias("cell"), "traj_id")
                    .distinct(), f"trajs{res}")
        scenes = mat(scenes.select(parent.alias("cell"), "scene")
                     .distinct(), f"scenes{res}")
        out = out.unionByName(level_df(res, stats, trajs, scenes))
        prev_res = res
    return out


def tile_image_rollup(frames: DataFrame, res: int = 8, salt_n: int = 16,
                      scene_bits: int = 12) -> DataFrame:
    """Per-cell rollup of a geotagged image-frame table — the north
    rule's "dense urban cells" stage run end-to-end on the image
    payload: geotag -> cell id (pure-codegen integer math), then a
    skew-safe aggregation in which a mega-city cell holding 10^9
    frames never lands on one reducer.

    Input: (traj_id, image_id, t, lat, lon, phash). Output per cell:
    n_frames, n_trajs (distinct trajectories), n_scenes (distinct
    coarse phash buckets — top ``scene_bits`` bits via unsigned
    shift), t_min, t_max.

    Skew design: counts/min/max go through ``skew.salted_agg`` (the
    hot cell fans out over ``salt_n`` reducers, algebraic re-merge is
    exact); the distinct counts deliberately AVOID
    ``countDistinct(a), countDistinct(b)`` in one agg — Spark plans
    multi-distinct via Expand (row blowup, hot key on one reducer) —
    and instead use dedup-then-count: groupBy(cell, traj) spreads the
    hot cell across its distinct members before the per-cell count.
    The three branches re-join on cell, a post-aggregation key whose
    cardinality is the tile count, not the frame count (see
    _rollup_parts/_rollup_join, shared with the pyramid cascade)."""
    return _rollup_join(
        *_rollup_parts(assign_tiles(frames, res=res), salt_n,
                       scene_bits))


def tile_cap_sample(frames: DataFrame, res: int = 8, cap: int = 32,
                    salt_n: int = 16, id_col: str = "image_id") \
        -> DataFrame:
    """Geographic balancing sampler: keep at most ``cap`` frames per
    cell — the curation move that stops a training set from being 90%
    downtown crossings because that's where the crawl density is.

    Selection is by deterministic content-hash rank (md5 of the image
    id, ties by id), so the kept set is reproducible across runs,
    parallelism levels, and retries — never a ``rand()`` draw.

    Skew design — exact two-stage top-K: stage 1 ranks within
    (cell, salt) where the salt is itself a hash of the id
    (deterministic), keeping ``cap`` per salt, so the hot downtown
    cell sorts as ``salt_n`` modest partitions instead of one
    mega-reducer; stage 2 ranks the <= salt_n*cap survivors per cell.
    Every member of the true per-cell top-``cap`` is in its salt
    bucket's top-``cap``, so the composition is EXACT — the same rows
    a single global window would pick, at a bounded per-key cost.

    Output: the kept frames with (cell, rank) attached. ``id_col``
    must be unique (it is the table's key): duplicate ids tie on both
    sort keys and the window winner becomes arbitrary, voiding the
    reproducibility guarantee."""
    df = assign_tiles(frames, res=res)
    key = F.md5(F.encode(F.col(id_col), "utf-8"))
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_n))
    w1 = Window.partitionBy("cell", "_salt").orderBy(key, id_col)
    w2 = Window.partitionBy("cell").orderBy(key, id_col)
    s1 = (df.withColumn("_salt", salt)
          .withColumn("_rn", F.row_number().over(w1))
          .filter(F.col("_rn") <= cap).drop("_rn"))
    return (s1.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= cap).drop("_salt"))


def curate_frames(frames: DataFrame, min_interval: int = 4,
                  max_hamming: int = 6, res: int = 8, cap: int = 32,
                  salt_n: int = 16, id_col: str = "image_id") \
        -> DataFrame:
    """The composed GEO-curation flagship over the geotagged
    trajectory frame table — the image-table twin of curate_images
    for the spatial axis: temporal thinning (drop near-identical
    consecutive frames, the reference's sample-thinning gate) ->
    geographic balancing (cap the downtown cell via the exact salted
    two-stage top-K) -> one hash-checkable disposition row per INPUT
    frame: (image_id, traj_id, t, cell, kept_thin, rank, final_keep).
    ``rank`` is the within-cell md5 rank for frames that survived
    both gates, NULL otherwise; ``final_keep`` is never NULL.

    100-TB shape: the thinning kernel shuffles once on traj_id (one
    trajectory = one task, bytes pruned first); the cap stage ranks
    the THINNED survivor set, not the corpus; the disposition joins
    key on the table's unique id (AQE-handled equi-joins of narrow
    projections)."""
    from . import datapipe as DP
    base = assign_tiles(frames, res=res).select(
        id_col, "traj_id", "t", "cell")
    thin = DP.frame_thinning(frames, min_interval=min_interval,
                             max_hamming=max_hamming, id_col=id_col)
    kept = (thin.filter(F.col("kept")).select(id_col)
            .join(frames, id_col))
    capped = tile_cap_sample(kept, res=res, cap=cap, salt_n=salt_n,
                             id_col=id_col)
    return (base
            .join(thin.select(id_col, F.col("kept").alias("kept_thin")),
                  id_col)
            .join(capped.select(id_col, "rank"), id_col, "left")
            .select(id_col, "traj_id", "t", "cell", "kept_thin",
                    "rank",
                    F.col("rank").isNotNull().alias("final_keep")))


def assign_tiles(df: DataFrame, lat="lat", lon="lon", res: int = 15,
                 out="cell", parent_res: int | None = None) -> DataFrame:
    """Add cell (and optionally coarse parent prefix — the partition
    key for Iceberg-style layouts, SURVEY.md §4 item 1)."""
    df = df.withColumn(out, cell_expr(F.col(lat), F.col(lon), res))
    if parent_res is not None:
        df = df.withColumn(f"{out}_p{parent_res}",
                           cell_expr(F.col(lat), F.col(lon), parent_res))
    return df
