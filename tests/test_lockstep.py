"""The match kernel advances many traces per forward step (lock step);
no trace's rows may depend on which traces share its steps."""

import numpy as np
import pandas as pd
import pytest

from barefoot_spark import geo, roads
from barefoot_spark.index import RoadIndex
from barefoot_spark.operators import match as M
from barefoot_spark.sources import samples as S

COLS = [f.name for f in M.MATCH_SCHEMA.fields]
PARAMS = M.MatcherParams(min_distance=2.0)


@pytest.fixture(scope="module")
def grid():
    return RoadIndex(roads.grid_pdf(12, seed=42), res=16)


@pytest.fixture(scope="module")
def samples(grid):
    """Uneven synthetic traces plus the edge cases: one sample, a
    stationary trace that thinning cuts to its first sample, an off-map
    trace with no candidates, and a trace whose second half jumps
    kilometres away one second later (an HMM break)."""
    pdf = S.synth_traces(grid, n_traces=14, samples_per_trace=30, seed=3)
    rng = np.random.default_rng(3)
    parts = [g.iloc[:int(rng.integers(5, 31))]
             for _, g in pdf.groupby("trace_id", sort=False)]

    def trace(tid, frame):
        out = frame.copy()
        out["trace_id"] = tid
        out["sample_id"] = [f"{tid}-{i:04d}" for i in range(len(out))]
        return out

    g0 = parts[0]
    parts.append(trace("one", g0.iloc[:1]))
    parts.append(trace("still", g0.iloc[[0] * 6].assign(
        time=g0["time"].iloc[0] + 1000 * np.arange(6))))
    parts.append(trace("offmap", g0.iloc[:5].assign(lat=10.0, lon=10.0)))

    # the HMM break: the far half of another trace, continued 1 s later
    a = pdf[pdf.trace_id == "trace-000001"]
    far = max((g for _, g in pdf.groupby("trace_id")), key=lambda g: float(
        geo.distance(a["lat"].iloc[14], a["lon"].iloc[14],
                     g["lat"].iloc[0], g["lon"].iloc[0])))
    assert float(geo.distance(a["lat"].iloc[14], a["lon"].iloc[14],
                              far["lat"].iloc[0], far["lon"].iloc[0])) > 2000
    jump = pd.concat([a.iloc[:15], far.iloc[:15].assign(
        time=a["time"].iloc[14] + 1000 * np.arange(1, 16))])
    parts.append(trace("break", jump))
    return pd.concat(parts, ignore_index=True)


def bits(rows):
    """Rows with every float spelled out exactly (bitwise comparison)."""
    return [tuple(v.hex() if isinstance(v, float) else v for v in r)
            for r in rows]


def per_trace(grid, samples):
    rows = []
    for tid, g in samples.groupby("trace_id", sort=False):
        rows.extend(M.match_trace(
            grid, tid, g["sample_id"].to_numpy(), g["time"].to_numpy(np.int64),
            g["lat"].to_numpy(np.float64), g["lon"].to_numpy(np.float64),
            g["azimuth"].to_numpy(np.float64), PARAMS, route_cache={}))
    return rows


def test_inputs_cover_the_edge_cases(grid, samples):
    rows = pd.DataFrame(per_trace(grid, samples), columns=COLS)
    n = rows.groupby("trace_id").size()
    assert n["one"] == 1 and n["still"] == 1 and "offmap" not in n
    # the break re-seeds: a later sample without a route from its pred
    brk = rows[rows.trace_id == "break"]
    assert (brk["route_edges"].iloc[1:].map(len) == 0).any()
    assert samples.groupby("trace_id").size().nunique() > 5


@pytest.mark.parametrize("group", [1, 3, None])
def test_lockstep_groups_equal_per_trace(grid, samples, group, monkeypatch):
    """The partition kernel with lock-step groups of 1, 3 and all traces
    emits, bitwise in every column, the rows of match_trace run on each
    trace alone."""
    monkeypatch.setattr(M, "LOCKSTEP_TRACES",
                        group or samples.trace_id.nunique())
    got = M._match_partition(grid, PARAMS, samples)
    assert list(got.columns) == COLS
    want = per_trace(grid, samples)
    assert len(got) == len(want) > 0
    assert bits(got.itertuples(index=False, name=None)) == bits(want)
