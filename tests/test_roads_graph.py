"""Road config/filters, graph operators, sample wire-format parsing."""

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from barefoot_spark import graphx, roads
from barefoot_spark.sources import samples as SS


def test_edges_view_split(spark):
    rdf = roads.roads_df(spark, roads.micro7_pdf())
    edges = roads.edges_view(rdf).toPandas()
    # 7 forward + 4 backward (gids 0,1,2,6 two-way)
    assert sorted(edges["edge_id"]) == [0, 1, 2, 3, 4, 5, 6, 8, 10, 12, 13]
    bwd = edges[edges.edge_id == 1].iloc[0]
    fwd = edges[edges.edge_id == 0].iloc[0]
    assert bwd["source"] == fwd["target"] and bwd["target"] == fwd["source"]
    # cost columns follow Time/TimePriority formulas
    assert fwd["cost_time"] == pytest.approx(fwd["length"] * 3.6 / 100.0)


def test_road_type_config_gate(spark):
    pdf = roads.micro7_pdf()
    pdf.loc[0, "class_id"] = 999       # unconfigured class
    pdf.loc[1, "maxspeed_forward"] = 0  # needs default
    rdf = roads.roads_df(spark, pdf)
    types = spark.createDataFrame(roads.road_types_pdf())
    out = roads.apply_road_type_config(rdf, types).toPandas()
    assert 999 not in set(out["class_id"])          # gate drops it
    assert len(out) == 6
    row = out[out.gid == 1].iloc[0]
    assert row["maxspeed_forward"] == 100            # defaulted from config
    assert row["priority"] == 1.0                    # config priority


def test_road_filters(spark):
    rdf = roads.roads_df(spark, roads.micro7_pdf())
    out = roads.filter_roads(rdf, exclude_classes=[0]).toPandas()
    assert len(out) == 0
    # polygon covering only the western half (lon < 11.015)
    ring = [np.array([[10.99, 47.99], [11.015, 47.99], [11.015, 48.03],
                      [10.99, 48.03], [10.99, 47.99]])]
    ov = roads.filter_roads(rdf, polygon_rings=ring, mode="overlap").toPandas()
    assert set(ov["gid"]) == {0, 1, 3, 4}  # roads with any vertex west of 11.015
    cn = roads.filter_roads(rdf, polygon_rings=ring, mode="contain").toPandas()
    assert set(cn["gid"]) == {0, 3}      # fully inside


def test_successors_dataframe(spark):
    rdf = roads.roads_df(spark, roads.micro7_pdf())
    edges = roads.edges_view(rdf)
    succ = graphx.successors(edges).toPandas().set_index("edge_id")
    assert list(succ.loc[0, "successors"]) == [1, 2, 6]
    assert list(succ.loc[6, "successors"]) == [8]


def test_connected_components(spark):
    # micro7 is one weak component; add an isolated road far away
    pdf = roads.micro7_pdf()
    extra = roads.roads_pdf_from_entries(
        [(99, 100, 101, False, "LINESTRING(12.0 49.0, 12.01 49.0)")])
    rdf = roads.roads_df(spark, pd.concat([pdf, extra], ignore_index=True))
    edges = roads.edges_view(rdf)
    comp = graphx.connected_components_star(edges).toPandas()
    by_edge = dict(zip(comp["edge_id"], comp["component"]))
    main = {by_edge[e] for e in [0, 1, 2, 4, 6, 8, 10, 12]}
    assert len(main) == 1
    assert by_edge[198] != next(iter(main))


def test_parse_reference_sample_fixture(reference_file):
    """Parse the reference's actual wire-format fixture (x0001-015.json,
    80 Munich samples with datetime-string times)."""
    arr = json.load(open(reference_file("matcher/x0001-015.json")))
    out = SS.parse_sample_json(pd.Series([json.dumps(o) for o in arr]))
    assert len(out) == 80
    assert (out["trace_id"] == "\\x0001").all()
    assert out["time"].is_monotonic_increasing
    assert out["lat"].between(48.0, 48.3).all()
    assert out["lon"].between(11.4, 11.7).all()
    # '2014-09-10 06:54:07+0200' -> epoch ms
    assert out["time"].iloc[0] == int(pd.Timestamp("2014-09-10 06:54:07+0200").timestamp() * 1000)


def union_find_components(pdf):
    """Brute-force oracle: {edge_id: min vertex id of the source's weak
    component}, by plain union-find over the undirected edges."""
    parent = {}

    def find(v):
        while parent.setdefault(v, v) != v:
            v = parent[v]
        return v
    for s, t in zip(pdf["source"].tolist(), pdf["target"].tolist()):
        a, b = find(s), find(t)
        parent[max(a, b)] = min(a, b)
    return {e: find(s) for e, s in zip(pdf["edge_id"].tolist(), pdf["source"].tolist())}


def test_connected_components_star_equivalence(spark):
    """large-star/small-star CC == union-find on a random graph with
    many components and a long path (high diameter)."""
    import numpy as np
    rng = np.random.default_rng(3)
    # random sparse graph: 120 vertices, 110 edges -> several components
    src = rng.integers(0, 120, 110)
    dst = rng.integers(0, 120, 110)
    # plus a 40-vertex path (diameter stress: label propagation needs
    # ~40 rounds; star finishes in O(log^2))
    psrc = np.arange(200, 239)
    pdst = np.arange(201, 240)
    eid = np.arange(len(src) + len(psrc))
    pdf = pd.DataFrame({
        "edge_id": eid,
        "source": np.concatenate([src, psrc]),
        "target": np.concatenate([dst, pdst])})
    st = graphx.connected_components_star(spark.createDataFrame(pdf)).toPandas()
    st_m = dict(zip(st["edge_id"].tolist(), st["component"].tolist()))
    assert st_m == union_find_components(pdf)
    # path is one component labeled by its min vertex
    assert st_m[len(src)] == 200


def test_graph_construction_and_components_reference_goldens(spark):
    """GraphTest.testConstruction/testComponents (topology/GraphTest.
    java:32-141) verbatim: successor sets per edge and weakly-connected
    edge components (dead ends, circle, self-loop, star, path)."""
    import pandas as pd

    cons = [(0, 0, 1), (1, 1, 0), (2, 1, 2), (3, 2, 1), (4, 3, 1),
            (6, 4, 0), (7, 0, 4), (8, 0, 5)]
    edges = spark.createDataFrame(pd.DataFrame(
        cons, columns=["edge_id", "source", "target"]))
    succ = graphx.successors(edges).toPandas().set_index("edge_id")
    by_source = {0: {0, 7, 8}, 1: {1, 2}, 2: {3}, 3: {4}, 4: {6}, 5: set()}
    tgt = dict((e, t) for e, _s, t in cons)
    for e in tgt:
        assert set(succ.loc[e, "successors"]) == by_source[tgt[e]], e

    comp_edges = cons + [(9, 6, 7), (10, 7, 8), (11, 8, 9), (12, 9, 6),
                         (13, 10, 10),
                         (14, 11, 12), (15, 11, 13), (16, 11, 14),
                         (17, 15, 16), (18, 16, 17), (19, 17, 18),
                         (20, 18, 19), (21, 19, 20), (22, 20, 21),
                         (23, 21, 22)]
    want = [{0, 1, 2, 3, 4, 6, 7, 8}, {9, 10, 11, 12}, {13},
            {14, 15, 16}, {17, 18, 19, 20, 21, 22, 23}]
    cdf = spark.createDataFrame(pd.DataFrame(
        comp_edges, columns=["edge_id", "source", "target"]))
    out = graphx.connected_components_star(cdf).toPandas()
    groups = {}
    for e, c in zip(out["edge_id"], out["component"]):
        groups.setdefault(c, set()).add(int(e))
    assert sorted(map(sorted, groups.values())) == sorted(map(sorted, want))


def test_azimuth_normalization_reference_goldens():
    """MatcherSampleTest (matcher/MatcherSampleTest.java:25-57)
    verbatim: heading wraps to [0, 360) with positive modulo."""
    import numpy as np
    cases = [(-0.1, 359.9), (-359.9, 0.1), (-360.1, 359.9), (360.0, 0.0),
             (360.1, 0.1), (720.1, 0.1), (-719.9, 0.1), (-720.1, 359.9)]
    for raw, want in cases:
        got = float(SS.normalize_azimuth(raw))
        assert abs(got - want) < 1e-10, (raw, got, want)
    assert np.isnan(SS.normalize_azimuth(float("nan")))
    # wire-format parse applies the wrap
    out = SS.parse_sample_json(pd.Series(
        ['{"id":"a","time":0,"point":"POINT(11 48)","azimuth":-0.1}']))
    assert abs(out["azimuth"].iloc[0] - 359.9) < 1e-10
