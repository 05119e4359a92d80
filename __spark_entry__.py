"""Driver contract for the spark-graft builder (PySpark target).

entry(spark): flagship end-to-end pipeline — deterministic image+geotag
synthesis over a grid road map, tile assignment, broadcast-index radius
join, and the per-trace Viterbi matcher (mapInPandas kernel).

queries()/oracle_sql(): one entry per implemented operator family from
SURVEY.md §2 (see barefoot_spark/entry_queries.py). SQL-expressible ops
carry a DuckDB oracle built from the same formula fragments as the Spark
pipeline; kernel ops (Viterbi, seeded-signature dedup, image codec) are
rows-only per the contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship (the north-star pipeline): a deterministic image+caption
    record table in the input-hint shape (image_id, bytes, w, h, fmt,
    caption, phash) geotagged along road trajectories derived from
    sf0.001 data; every image's geotag is tile-encoded, trajectory
    groups are matched to road segments by the per-partition Viterbi
    kernel, and matched rows carry the image metadata back out (binary
    bytes are projected away before any shuffle)."""
    from pyspark.sql import functions as F

    from barefoot_spark import roads
    from barefoot_spark.index import RoadIndex
    from barefoot_spark.operators import match as M, tiles as T
    from barefoot_spark.sources import images as IM
    from barefoot_spark.sources import samples as SS

    sf_dir = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_traces = max(4, min(16, orders.count() // 100))

    idx = RoadIndex(roads.grid_pdf(8, seed=42), res=15)
    idx_bc = spark.sparkContext.broadcast(idx)

    geotags = SS.synth_traces(idx, n_traces=n_traces, samples_per_trace=30,
                              seed=42)
    # one image record per geotagged sample (exact input-hint schema)
    imgs = IM.synth_images_pdf(len(geotags))
    records = geotags.reset_index(drop=True).join(
        imgs.reset_index(drop=True))
    records["sample_id"] = records["image_id"]
    rdf = spark.createDataFrame(records)

    matched = M.match_traces(
        rdf.select("trace_id", "sample_id", "time", "lat", "lon", "azimuth"),
        idx_bc)
    tiled = T.assign_tiles(matched, lat="lat", lon="lon", res=14, parent_res=7)
    meta = rdf.select(F.col("image_id").alias("sample_id"),
                      "caption", "phash")   # bytes stay out of the join
    return (tiled.join(meta, "sample_id")
            .select("trace_id", "seq", "sample_id", "time", "edge_id",
                    "fraction", "lat", "lon", "cell", "cell_p7",
                    "caption", "phash"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from barefoot_spark.entry_queries import QUERIES
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    # oracles are closed over sf_dir-independent SQL (tables are
    # pre-registered views); generate with a placeholder dir.
    from barefoot_spark.entry_queries import ORACLES
    return {name: fn("") for name, fn in ORACLES.items()}
