"""Roads table schema, deterministic fixtures, and the directed-edges view.

Schema mirrors barefoot's base relation `bfmap_ways` / BaseRoad
(reference: road/BaseRoad.java:34-46, map/tools/bfmap.py:290-301), per
FIXTURES.md §1. The directed split (forward id = gid*2, backward id =
gid*2+1 when not oneway, with reversed geometry and swapped endpoints —
roadmap/RoadMap.java:51-61, roadmap/Road.java:38-74) is pure DataFrame
code: a union of two projections, no shuffle, fully codegen'd except the
WKB reversal which is one Arrow-batched pandas UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, DoubleType, IntegerType, LongType, ShortType,
    StructField, StructType,
)

from . import geo, wkbio

ROADS_SCHEMA = StructType([
    StructField("gid", LongType(), False),
    StructField("osm_id", LongType(), False),
    StructField("class_id", ShortType(), False),
    StructField("source", LongType(), False),
    StructField("target", LongType(), False),
    StructField("oneway", BooleanType(), False),
    StructField("priority", DoubleType(), False),
    StructField("maxspeed_forward", IntegerType(), False),
    StructField("maxspeed_backward", IntegerType(), False),
    StructField("length", DoubleType(), False),
    StructField("geom_wkb", BinaryType(), False),
])

# (gid, source, target, oneway, wkt) — verbatim from the reference's
# 7-road MatcherTest micro map (MatcherTest.java:68-75).
MICRO7 = [
    (0, 0, 1, False, "LINESTRING(11.000 48.000, 11.010 48.000)"),
    (1, 1, 2, False, "LINESTRING(11.010 48.000, 11.020 48.000)"),
    (2, 2, 3, False, "LINESTRING(11.020 48.000, 11.030 48.000)"),
    (3, 1, 4, True, "LINESTRING(11.010 48.000, 11.011 47.999)"),
    (4, 4, 5, True, "LINESTRING(11.011 47.999, 11.021 47.999)"),
    (5, 5, 6, True, "LINESTRING(11.021 47.999, 11.021 48.010)"),
    (6, 6, 7, False, "LINESTRING(11.021 48.010, 11.021 48.020)"),
]

# 6-road junction map from RoadMapTest.java:44-68 (p1..p5 vertices).
_P1 = "11.3441505 48.0839963"
_P2 = "11.3421209 48.0850624"
_P3 = "11.3460348 48.0850108"
_P4 = "11.3427522 48.0832129"
_P5 = "11.3469701 48.0825356"
JUNCTION6 = [
    (1, 1, 2, True, f"LINESTRING({_P1},{_P2})"),
    (2, 3, 1, False, f"LINESTRING({_P3},{_P1})"),
    (3, 4, 1, True, f"LINESTRING({_P4},{_P1})"),
    (4, 1, 5, False, f"LINESTRING({_P1},{_P5})"),
    (5, 2, 4, False, f"LINESTRING({_P2},{_P4})"),
    (6, 5, 3, False, f"LINESTRING({_P5},{_P3})"),
]


def roads_pdf_from_entries(entries, class_id=0, priority=1.0, maxspeed=100) -> pd.DataFrame:
    """(gid, source, target, oneway, wkt) rows -> roads pandas frame with
    geodesically recomputed lengths (PostGISReader.java:159-165 recomputes
    length from geometry on load)."""
    rows = []
    for gid, source, target, oneway, wkt in entries:
        coords = wkbio.parse_wkt_linestring(wkt)
        offsets = np.array([0, len(coords)], dtype=np.int64)
        length = float(geo.polyline_length(coords, offsets)[0])
        rows.append((gid, gid, class_id, source, target, bool(oneway), float(priority),
                     int(maxspeed), int(maxspeed), length, wkbio.linestring_to_wkb(coords)))
    return pd.DataFrame(rows, columns=[f.name for f in ROADS_SCHEMA.fields])


def micro7_pdf() -> pd.DataFrame:
    return roads_pdf_from_entries(MICRO7, class_id=0, priority=1.0, maxspeed=100)


def junction6_pdf() -> pd.DataFrame:
    return roads_pdf_from_entries(JUNCTION6, class_id=1, priority=1.0, maxspeed=60)


def grid_pdf(n: int, seed: int = 42, lat0: float = 48.0, lon0: float = 11.0,
             spacing_deg: float = 0.005) -> pd.DataFrame:
    """Seeded n x n city grid (FIXTURES.md §1 'grid'): horizontal +
    vertical streets, ~15% oneway, mixed classes. Deterministic."""
    rng = np.random.default_rng(seed)
    entries = []
    gid = 0

    def vid(i, j):
        return i * (n + 1) + j

    for i in range(n + 1):
        for j in range(n + 1):
            lon_a = lon0 + j * spacing_deg
            lat_a = lat0 + i * spacing_deg
            if j < n:
                entries.append((gid, vid(i, j), vid(i, j + 1), bool(rng.random() < 0.15),
                                f"LINESTRING({lon_a} {lat_a}, {lon_a + spacing_deg} {lat_a})"))
                gid += 1
            if i < n:
                entries.append((gid, vid(i, j), vid(i + 1, j), bool(rng.random() < 0.15),
                                f"LINESTRING({lon_a} {lat_a}, {lon_a} {lat_a + spacing_deg})"))
                gid += 1
    classes = rng.integers(0, 4, size=len(entries))
    pdf = roads_pdf_from_entries(entries, class_id=0, priority=1.0, maxspeed=50)
    pdf["class_id"] = classes.astype(np.int16)
    pdf["priority"] = np.where(classes == 0, 1.0, 1.0 + classes * 0.2)
    pdf["maxspeed_forward"] = np.where(classes == 0, 100, 50).astype(np.int32)
    pdf["maxspeed_backward"] = pdf["maxspeed_forward"]
    return pdf


def roads_df(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    return spark.createDataFrame(pdf, schema=ROADS_SCHEMA)


_reverse_wkb = F.pandas_udf(
    lambda s: s.map(wkbio.reverse_linestring_wkb), BinaryType())


def edges_view(roads: DataFrame) -> DataFrame:
    """roads -> directed edges DataFrame.

    Pure projection + union (no shuffle): forward edge keeps geometry and
    maxspeed_forward with edge_id = gid*2; backward edge (only when not
    oneway) swaps source/target, reverses geometry, takes
    maxspeed_backward, edge_id = gid*2+1 (Road.java:61-74).
    Cost columns are precomputed here so routing kernels read plain
    arrays: time = m * 3.6/min(maxspeed,130) (Time.java:32-33),
    timeprio = time * max(1, priority) (TimePriority.java:33-34).
    """
    common = ["gid", "osm_id", "class_id", "priority", "length"]
    fwd = roads.select(
        (F.col("gid") * 2).alias("edge_id"),
        F.col("source"), F.col("target"),
        F.lit(True).alias("forward"),
        F.col("maxspeed_forward").alias("maxspeed"),
        F.col("geom_wkb"),
        *common)
    bwd = roads.filter(~F.col("oneway")).select(
        (F.col("gid") * 2 + 1).alias("edge_id"),
        F.col("target").alias("source"), F.col("source").alias("target"),
        F.lit(False).alias("forward"),
        F.col("maxspeed_backward").alias("maxspeed"),
        _reverse_wkb(F.col("geom_wkb")).alias("geom_wkb"),
        *common)
    edges = fwd.unionByName(bwd)
    time = F.col("length") * 3.6 / F.least(F.col("maxspeed").cast("double"), F.lit(130.0))
    return edges.withColumn("cost_distance", F.col("length")) \
        .withColumn("cost_time", time) \
        .withColumn("cost_timeprio", time * F.greatest(F.lit(1.0), F.col("priority")))


# road-class dim table (FIXTURES.md §4): same shape as the reference's
# road-types config (map/tools/road-types.json:1-50, loaded by
# roadmap/Loader.roadtypes, roadmap/Loader.java:148-165)
ROAD_TYPES = [
    # (class_id, tag, name, priority, maxspeed)
    (101, "highway", "motorway", 0.9, 130),
    (102, "highway", "motorway_link", 1.1, 80),
    (104, "highway", "trunk", 1.1, 120),
    (106, "highway", "primary", 1.2, 100),
    (108, "highway", "secondary", 1.4, 80),
    (110, "highway", "tertiary", 1.5, 70),
    (112, "highway", "residential", 1.8, 50),
    (0, "fixture", "micro", 1.0, 100),
    (1, "fixture", "junction", 1.0, 60),
    (2, "fixture", "grid-a", 1.2, 50),
    (3, "fixture", "grid-b", 1.4, 50),
]


def road_types_pdf() -> pd.DataFrame:
    return pd.DataFrame(ROAD_TYPES,
                        columns=["class_id", "tag", "name", "priority", "maxspeed"])


def apply_road_type_config(roads: DataFrame, types: DataFrame) -> DataFrame:
    """Config gate + defaulting (road/PostGISReader.java:140-158): drop
    roads whose class_id has no configured type (inner join against the
    broadcast dim table); null/zero maxspeeds default from the config;
    priority comes from the config. Pure Catalyst."""
    t = F.broadcast(types.select(
        F.col("class_id").alias("t_class"), F.col("priority").alias("t_priority"),
        F.col("maxspeed").alias("t_maxspeed")))
    joined = roads.join(t, roads["class_id"] == t["t_class"], "inner")
    def msp(col):
        return F.when(F.col(col).isNull() | (F.col(col) <= 0),
                      F.col("t_maxspeed")).otherwise(F.col(col))
    return (joined
            .withColumn("maxspeed_forward", msp("maxspeed_forward"))
            .withColumn("maxspeed_backward", msp("maxspeed_backward"))
            .withColumn("priority", F.col("t_priority"))
            .drop("t_class", "t_priority", "t_maxspeed"))


def filter_roads(roads: DataFrame, exclude_classes=None, polygon_rings=None,
                 mode: str = "overlap", spark=None) -> DataFrame:
    """Scan-level road predicates (road/PostGISReader.java:90-121):
    class exclusion is a Catalyst filter (pushed to the source);
    polygon restriction keeps roads whose geometry overlaps (any vertex
    inside) or is contained by (all vertices inside) the polygon —
    ST_Overlaps/ST_Contains analog via the ray-cast kernel."""
    out = roads
    if exclude_classes:
        out = out.filter(~F.col("class_id").isin(list(exclude_classes)))
    if polygon_rings is not None:
        from .operators.joins import ray_cast

        def check(batches):
            for pdf in batches:
                keep = []
                for wkb in pdf["geom_wkb"]:
                    c = wkbio.wkb_to_linestring(wkb)
                    inside = ray_cast(c[:, 1], c[:, 0], polygon_rings)
                    keep.append(bool(inside.all() if mode == "contain"
                                     else inside.any()))
                yield pdf[np.array(keep, dtype=bool)]

        out = out.mapInPandas(check, out.schema)
    return out
