"""Spark-level integration: DataFrame operators vs their local-numpy
equivalents (same broadcast index, same kernels) and plan checks."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from barefoot_spark import roads, wkbio
from barefoot_spark.index import RoadIndex
from barefoot_spark.operators import joins, match as M, tiles
from barefoot_spark.sources import samples as S


@pytest.fixture(scope="module")
def idx():
    return RoadIndex(roads.micro7_pdf(), res=15)


@pytest.fixture(scope="module")
def idx_bc(spark, idx):
    return spark.sparkContext.broadcast(idx)


def points_df(spark, pts):
    pdf = pd.DataFrame(pts, columns=["point_id", "lat", "lon"])
    return spark.createDataFrame(pdf)


def test_radius_join_matches_local(spark, idx, idx_bc):
    pts = [("a", 48.001, 11.001), ("b", 48.001, 11.019), ("c", 49.0, 12.0)]
    out = joins.radius_join(points_df(spark, pts), idx_bc, 200.0).toPandas()
    # local oracle
    lat = np.array([p[1] for p in pts])
    lon = np.array([p[2] for p in pts])
    pt, base, frac, dist = idx.radius(lat, lon, 200.0)
    spt, eidx, sfrac, src = idx.split(pt, base, frac)
    expect = sorted(zip([pts[i][0] for i in spt], idx.edge_id[eidx].tolist()))
    got = sorted(zip(out["point_id"], out["edge_id"]))
    assert got == expect
    assert set(out[out.point_id == "a"]["edge_id"]) == {0, 1}


def test_nearest_and_knn_join(spark, idx, idx_bc):
    pts = [("a", 48.0005, 11.005)]
    near = joins.nearest_join(points_df(spark, pts), idx_bc).toPandas()
    assert set(near["edge_id"]) == {0, 1}  # both directions of base 0
    knn = joins.knn_join(points_df(spark, pts), idx_bc, k=3).toPandas()
    assert len(knn) == 3
    assert np.all(np.diff(knn.sort_values("distance")["distance"]) >= 0)


def test_tile_assign_expr_equals_numpy(spark):
    """The Catalyst cell expression packs the same ids as the numpy
    kernel the spatial joins use (cells.latlng_to_cell)."""
    from barefoot_spark import cells
    pdf = pd.DataFrame({
        "point_id": np.arange(500),
        "lat": np.linspace(-80, 80, 500),
        "lon": np.linspace(-170, 170, 500),
    })
    got = (tiles.assign_tiles(spark.createDataFrame(pdf), res=15)
           .toPandas().sort_values("point_id")["cell"].to_numpy())
    want = cells.latlng_to_cell(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), 15)
    np.testing.assert_array_equal(got, want)


def test_tile_assign_stable_across_parallelism(spark):
    pdf = pd.DataFrame({
        "point_id": [str(i) for i in range(1000)],
        "lat": np.random.default_rng(1).uniform(-80, 80, 1000),
        "lon": np.random.default_rng(2).uniform(-170, 170, 1000),
    })
    one = tiles.assign_tiles(spark.createDataFrame(pdf).coalesce(1), res=14).toPandas()
    many = tiles.assign_tiles(spark.createDataFrame(pdf).repartition(16), res=14).toPandas()
    m1 = dict(zip(one.point_id, one.cell))
    m2 = dict(zip(many.point_id, many.cell))
    assert m1 == m2  # identical tile assignments at any parallelism


def test_raster_vector_join(spark, idx_bc):
    seg_cells = joins.segment_cells_df(spark, idx_bc, res=15)
    pts = points_df(spark, [("a", 48.0, 11.005), ("b", 48.015, 11.021)])
    tiled = tiles.assign_tiles(pts, res=15)
    out = joins.raster_vector_join(tiled, seg_cells).toPandas()
    # point a sits on base road 0; point b on base road 6
    assert 0 in set(out[out.point_id == "a"]["gid"])
    assert 6 in set(out[out.point_id == "b"]["gid"])
    # plan: broadcast join, no sort-merge
    plan = joins.raster_vector_join(tiled, seg_cells)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_point_in_polygon(spark):
    rings = [np.array([[11.0, 48.0], [11.02, 48.0], [11.02, 48.02],
                       [11.0, 48.02], [11.0, 48.0]])]
    bc = spark.sparkContext.broadcast([("poly1", rings)])
    pts = points_df(spark, [("in", 48.01, 11.01), ("out", 48.05, 11.01),
                            ("edge-ish", 48.019, 11.019)])
    out = joins.point_in_polygon(pts, bc).toPandas()
    got = set(out["point_id"])
    assert got == {"in", "edge-ish"}


def test_match_traces_spark_equals_local(spark, idx, idx_bc):
    pdf = S.synth_traces(idx, n_traces=3, samples_per_trace=15, seed=7)
    sdf = spark.createDataFrame(pdf)
    out = M.match_traces(sdf, idx_bc).toPandas().sort_values(
        ["trace_id", "seq"]).reset_index(drop=True)
    # local oracle per trace
    params = M.MatcherParams()
    local_rows = []
    for tid, g in pdf.groupby("trace_id"):
        local_rows.extend(M.match_trace(
            idx, tid, g["sample_id"].to_numpy(), g["time"].to_numpy(np.int64),
            g["lat"].to_numpy(), g["lon"].to_numpy(),
            g["azimuth"].to_numpy(), params))
    local = pd.DataFrame(local_rows, columns=[f.name for f in M.MATCH_SCHEMA.fields]) \
        .sort_values(["trace_id", "seq"]).reset_index(drop=True)
    assert len(out) == len(local) > 0
    assert out["edge_id"].tolist() == local["edge_id"].tolist()
    np.testing.assert_allclose(out["fraction"], local["fraction"], atol=1e-12)


def test_matched_sequence_follows_roads(spark, idx, idx_bc):
    # matched edges must be on the map and consecutive route edges connected
    pdf = S.synth_traces(idx, n_traces=2, samples_per_trace=20, seed=11)
    out = M.match_traces(spark.createDataFrame(pdf), idx_bc).toPandas()
    assert len(out) > 0
    known = set(idx.edge_id.tolist())
    assert set(out["edge_id"]) <= known
    for route in out["route_edges"]:
        for e in route:
            assert int(e) in known


def test_radius_join_fast_bounded_error(spark):
    """Pure-Catalyst radius join (cell cover + codegen planar/haversine
    refine) vs the exact Vincenty kernel: every exact hit clearly inside
    the radius is found, no hit clearly outside appears, and
    distance/fraction agree within 0.5% relative (the documented
    planar-refine bound at sub-km radii)."""
    g_idx = RoadIndex(roads.grid_pdf(8, seed=42), res=15)
    rng = np.random.default_rng(3)
    n = 400
    lat = rng.uniform(48.0, 48.0 + 8 * 0.005, n)
    lon = rng.uniform(11.0, 11.0 + 8 * 0.005, n)
    pts = spark.createDataFrame(pd.DataFrame(
        {"point_id": np.arange(n), "lat": lat, "lon": lon}))
    r = 120.0
    res = 15
    parts = spark.createDataFrame(joins.segment_parts_pdf(g_idx, r, res))
    fast = joins.radius_join_fast(pts, parts, r, res).toPandas()
    fast_pairs = {(int(p), int(g)): (d, f) for p, g, f, d in
                  zip(fast.point_id, fast.gid, fast.fraction, fast.distance)}

    pt, base, frac, dist = g_idx.radius(lat, lon, r)
    tol = 0.005
    exact_pairs = {}
    for i in range(len(pt)):
        exact_pairs[(int(pt[i]), int(g_idx.gid[base[i]]))] = (dist[i], frac[i])
    # recall: exact hits well inside must appear
    missed = [k for k, (d, f) in exact_pairs.items()
              if d < r * (1 - tol) and k not in fast_pairs]
    assert not missed, missed[:5]
    # precision: fast hits must be near-hits in exact terms
    for k, (d, f) in fast_pairs.items():
        if k in exact_pairs:
            de, fe = exact_pairs[k]
            assert abs(d - de) <= max(1.0, tol * max(d, de)), (k, d, de)
            assert abs(f - fe) <= 0.01, (k, f, fe)
        else:
            # not an exact hit: must be a borderline case
            assert d >= r * (1 - tol), (k, d)


@pytest.mark.parametrize("join", [
    lambda pts, parts: joins.radius_join_fast(pts, parts, 150.0, 15),
    lambda pts, parts: joins.nearest_join_fast(pts, parts, 150.0, 15),
    lambda pts, parts: joins.knn_join_fast(pts, parts, 3, 150.0, 15),
], ids=["radius_join_fast", "nearest_join_fast", "knn_join_fast"])
def test_radius_join_fast_plan_is_codegen(spark, join):
    """Every codegen join must plan as broadcast hash join with no
    Python operators (no BatchEvalPython / MapInPandas / PythonUDF
    nodes)."""
    g_idx = RoadIndex(roads.micro7_pdf(), res=15)
    pts = spark.range(100).select(
        F.col("id").alias("point_id"),
        (F.lit(48.0) + F.col("id") / 10000.0).alias("lat"),
        (F.lit(11.0) + F.col("id") / 10000.0).alias("lon"))
    parts = spark.createDataFrame(joins.segment_parts_pdf(g_idx, 150.0, 15))
    out = join(pts, parts)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for bad in ("Python", "MapInPandas", "ArrowEval"):
        assert bad not in plan, plan[:500]


def test_nearest_and_knn_fast_match_kernel(spark):
    """Codegen nearest/kNN vs the exact kernel on grid roads: same
    road ids wherever distances are unambiguous (>1% separation), and
    distances within the planar-refine bound."""
    g_idx = RoadIndex(roads.grid_pdf(8, seed=42), res=15)
    rng = np.random.default_rng(6)
    n = 200
    lat = rng.uniform(48.0, 48.0 + 8 * 0.005, n)
    lon = rng.uniform(11.0, 11.0 + 8 * 0.005, n)
    pts = spark.createDataFrame(pd.DataFrame(
        {"point_id": np.arange(n), "lat": lat, "lon": lon}))
    R = 400.0
    parts = spark.createDataFrame(joins.segment_parts_pdf(g_idx, R, 15))

    near = joins.nearest_join_fast(pts, parts, R, 15).toPandas()
    p, base, frac, dist = g_idx.nearest(lat, lon)
    exact_near = {}
    for i in range(len(p)):
        exact_near.setdefault(int(p[i]), []).append((dist[i], int(g_idx.gid[base[i]])))
    assert set(near.point_id) == set(exact_near)       # grid: all within R
    for pid, grp in near.groupby("point_id"):
        ex = sorted(exact_near[int(pid)])
        d0 = ex[0][0]
        # unambiguous cases must pick the same road
        if len(ex) == 1 or (len(ex) > 1 and ex[1][0] > d0 * 1.01 + 1.0):
            runners = {d for d, g in [(dd, gg) for dd, gg in ex]}
            assert ex[0][1] in set(grp.gid), (pid, ex, grp)
        for d in grp.distance:
            assert abs(d - d0) <= max(1.0, 0.01 * d0)

    k = 3
    knn = joins.knn_join_fast(pts, parts, k, R, 15).toPandas()
    pk, basek, frack, distk = g_idx.knearest(lat, lon, k)
    for pid in range(0, n, 11):
        ex = sorted(distk[pk == pid])
        got = sorted(knn[knn.point_id == pid]["distance"])
        assert len(got) == min(k, len(ex))
        for a, b in zip(got, ex):
            assert abs(a - b) <= max(1.0, 0.01 * b), (pid, got, ex)


def test_postgis_jdbc_query_pushdown(spark):
    """JDBC source wiring (PostGISReader.java:103-129): the subquery
    pushes the polygon intersection and class exclusions into the
    database, and the reader is partitioned on gid. (.load() needs a
    live PostGIS; construction is fully covered.)"""
    from barefoot_spark.sources import jdbc as JS

    q = JS.postgis_roads_query(
        "bfmap_ways", polygon_wkt="POLYGON((11 48, 12 48, 12 49, 11 48))",
        exclusions={117: None, 115: 60})
    poly = "ST_GeomFromText('POLYGON((11 48, 12 48, 12 49, 11 48))', 4326)"
    # exact predicate of PostGISReader.java:102-105 (Contains OR
    # Overlaps), with the bbox && only as an ANDed index prefilter
    assert f"ST_Contains({poly},geom) OR ST_Overlaps({poly},geom)" in q
    assert f"geom && {poly} AND" in q
    assert "class_id <> 117" in q
    assert "NOT (class_id = 115 AND maxspeed_forward < 60)" in q
    assert "ST_AsBinary(geom)" in q          # WKB, same as the parquet path

    # reader construction is lazy — no connection until .load()
    r = JS.postgis_roads_reader(spark, "db", 5432, "osm", "u", "p",
                                polygon_wkt="POLYGON((0 0,1 0,1 1,0 0))",
                                num_partitions=16, gid_upper=1_000_000)
    assert r is not None
    # a loose/absent gid bound would serialize the scan -> rejected
    with pytest.raises(ValueError):
        JS.postgis_roads_reader(spark, "db", 5432, "osm", "u", "p")

@pytest.mark.skipif("BF_PG_DSN" not in __import__("os").environ,
                    reason="live PostGIS smoke: set BF_PG_DSN="
                           "host:port:db:user:password to enable")
def test_postgis_jdbc_live_load(spark):
    """End-to-end JDBC load against a real PostGIS (the only untested
    seam of the reader — query/option construction is covered above).
    Runs whenever an environment provides a server via BF_PG_DSN; the
    sandbox has none, so this is skipped and documented in COVERAGE.md."""
    import os

    from barefoot_spark.sources import jdbc as JS

    host, port, db, user, pw = os.environ["BF_PG_DSN"].split(":")
    gid_upper = 10_000_000
    df = JS.postgis_roads_reader(spark, host, int(port), db, user, pw,
                                 num_partitions=4,
                                 gid_upper=gid_upper).load()
    rows = df.limit(5).collect()
    assert {"gid", "osm_id", "class_id", "source", "target",
            "geom"} <= set(df.columns)
    # a realistic OSM import has rows in the gid window, and the WKB
    # geometry must decode (a vacuous >= 0 would let the smoke pass on
    # an empty/miswired database)
    assert len(rows) > 0
    from barefoot_spark import wkbio
    coords = wkbio.wkb_to_linestring(bytes(rows[0]["geom"]))
    assert len(coords) >= 2
