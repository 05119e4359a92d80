"""Route geometry + output formatter tests (Route.geometry /
MatcherKState sink analogs)."""

import json

import numpy as np
import pytest

from barefoot_spark import geo, roads
from barefoot_spark.index import RoadIndex
from barefoot_spark.operators import match as M, output as O
from barefoot_spark.sources import samples as SS


@pytest.fixture(scope="module")
def idx():
    return RoadIndex(roads.micro7_pdf(), res=15)


def test_route_geometry_single_edge(idx):
    # same-edge sub-clip: edge 0 from 0.2 to 0.8
    g = O.route_geometry(idx, [0], 0.2, 0.8)
    assert len(g) == 2
    lat0, lon0, _ = idx.edge_point(idx.eid_to_idx(np.array([0])), np.array([0.2]))
    assert abs(g[0][0] - lon0[0]) < 1e-9 and abs(g[0][1] - lat0[0]) < 1e-9


def test_route_geometry_multi_edge(idx):
    # edges 0 -> 2 -> 4 (roads 0,1,2 eastbound): start mid-0, end mid-2
    g = O.route_geometry(idx, [0, 2, 4], 0.5, 0.5)
    # start ~11.005, through 11.010, 11.020, end ~11.025
    lons = [p[0] for p in g]
    assert lons[0] == pytest.approx(11.005, abs=1e-6)
    assert lons[-1] == pytest.approx(11.025, abs=1e-6)
    assert lons == sorted(lons)
    # route length from geometry ~= sum of clipped edges
    glat = np.array([p[1] for p in g])
    glon = np.array([p[0] for p in g])
    d = float(np.sum(geo.distance(glat[:-1], glon[:-1], glat[1:], glon[1:])))
    expect = 0.5 * idx.edge_len[idx.eid_to_idx(np.array([0]))[0]] \
        + idx.edge_len[idx.eid_to_idx(np.array([2]))[0]] \
        + 0.5 * idx.edge_len[idx.eid_to_idx(np.array([4]))[0]]
    assert d == pytest.approx(expect, rel=1e-3)


def test_geojson_and_slim_sinks(spark, idx):
    idx_bc = spark.sparkContext.broadcast(idx)
    pdf = SS.synth_traces(idx, n_traces=2, samples_per_trace=10, seed=3)
    matched = M.match_traces(spark.createDataFrame(pdf), idx_bc)
    with_geom = O.with_route_geometry(matched, idx_bc)
    gj = O.to_geojson(with_geom).toPandas()
    assert len(gj) >= 1
    for s in gj["geojson"]:
        obj = json.loads(s)
        assert obj["type"] == "MultiLineString"
        assert len(obj["coordinates"]) >= 1
        for line in obj["coordinates"]:
            assert all(len(pt) == 2 for pt in line)

    slim = O.to_slim_json(matched).toPandas()
    assert len(slim) > 0
    rec = json.loads(slim.iloc[0]["slim"])
    assert "road" in rec and "frac" in rec

    # debug sink: every field of a debug row is the matched row's value
    # (a NULL field is omitted by to_json)
    debug = O.to_debug_json(matched).toPandas()
    rows = matched.toPandas().set_index(["trace_id", "seq"])
    assert len(debug) == len(rows)
    d = debug.iloc[len(debug) // 2]
    rec = json.loads(d["debug"])
    want = rows.loc[(d["trace_id"], d["seq"])]
    fields = ["sample_id", "time", "edge_id", "fraction", "lat", "lon",
              "azimuth", "route_length", "filtprob", "seqprob"]
    assert set(rec) <= set(fields)
    for k in fields:
        if want[k] is None or (isinstance(want[k], float) and np.isnan(want[k])):
            assert k not in rec or np.isnan(rec[k]), k
        else:
            assert rec[k] == want[k], k


def test_to_osm_json_road_references(spark):
    """toOSMJSON format golden: every road reference must be the
    "osm_refid:source:target" triple of the matched edge
    (MatcherKState.getOSMRoad), for the candidate point and each route
    road."""
    import json as _json
    from barefoot_spark import roads as R
    from barefoot_spark.index import RoadIndex
    from barefoot_spark.operators import match as M
    from barefoot_spark.operators import output as O
    from barefoot_spark.sources import samples as SS

    idx = RoadIndex(R.grid_pdf(6, seed=3), res=16)
    pdf = SS.synth_traces(idx, n_traces=2, samples_per_trace=12, seed=3)
    idx_bc = spark.sparkContext.broadcast(idx)
    matched = M.match_traces(spark.createDataFrame(pdf), idx_bc)
    out = O.to_osm_json(matched, idx_bc).toPandas()
    assert len(out) == 24
    mpdf = matched.toPandas()
    eid_pos = {int(e): j for j, e in enumerate(idx.edge_id)}

    def triple(eid):
        j = eid_pos[int(eid)]
        return (f"{int(idx.osm_id[idx.edge_base[j]])}:"
                f"{int(idx.edge_src[j])}:{int(idx.edge_dst[j])}")

    by_key = {(r.trace_id, str(r.seq)): r for r in mpdf.itertuples(index=False)}
    for rec, tid, seq in zip(out["osm_json"], out["trace_id"], out["seq"]):
        obj = _json.loads(rec)
        src_row = by_key[(tid, seq)]
        # the point's road is the matched edge's OSM triple, and the
        # route rewrites each edge id to its triple, in order
        assert obj["point"]["road"] == triple(src_row.edge_id)
        assert obj["route"] == [triple(e) for e in src_row.route_edges]
