"""Real-data fixture: the reference's NYC taxi CSV
(analysis/xba96de419e711691b9445d6a6307c170.csv, loaded exactly like
NYCSample.java:31-51) through geodesic DBSCAN and the DBRCAN density
function — mirrors DBSCANTest.testNYCSample (radius=100, density=10,
DBSCANTest.java:169-222) and DBRCANTest.testNYCSample
(DBRCAN.function(timestamps, 86400, 1800, 0), DBRCANTest.java:599-655),
with a numpy brute-force DBSCAN as the exact oracle."""

import numpy as np
import pandas as pd
import pytest

from barefoot_spark import geo
from barefoot_spark.operators import analysis as A

CSV = "analysis/xba96de419e711691b9445d6a6307c170.csv"


def _load_nyc(path):
    df = pd.read_csv(path, header=None)
    # NYCSample.java:40-49: cols 10/11 = pickup lon/lat (time col 5),
    # cols 12/13 = dropoff lon/lat (time col 6); epoch seconds
    pick = pd.DataFrame({
        "lon": df[10], "lat": df[11],
        "t": pd.to_datetime(df[5], utc=True).astype("int64") // 10**9})
    drop = pd.DataFrame({
        "lon": df[12], "lat": df[13],
        "t": pd.to_datetime(df[6], utc=True).astype("int64") // 10**9})
    out = pd.concat([pick, drop], ignore_index=True)
    out["point_id"] = np.arange(len(out))
    return out


def _bf_dbscan(lat, lon, eps_m, min_pts):
    """Exact DBSCAN oracle: full geodesic distance matrix, BFS over
    core-core edges, min-core-id labels, border -> min neighbor label
    (the deterministic tie rule dbscan_2d uses in place of the
    reference's HashSet order)."""
    n = len(lat)
    d = geo.inverse(np.repeat(lat, n), np.repeat(lon, n),
                    np.tile(lat, n), np.tile(lon, n))[0].reshape(n, n)
    nbr = (d <= eps_m) & ~np.eye(n, dtype=bool)
    is_core = nbr.sum(axis=1) + 1 >= min_pts
    label = np.full(n, -1, dtype=np.int64)
    for i in range(n):
        if not is_core[i] or label[i] >= 0:
            continue
        comp, stack = [i], [i]
        label[i] = i
        while stack:
            u = stack.pop()
            for v in np.flatnonzero(nbr[u] & is_core):
                if label[v] < 0:
                    label[v] = i
                    stack.append(v)
                    comp.append(v)
        label[np.array(comp)] = min(comp)
    out = label.astype(float)
    out[label < 0] = np.nan
    for i in np.flatnonzero(~is_core):
        cores = np.flatnonzero(nbr[i] & is_core)
        out[i] = label[cores].min() if len(cores) else np.nan
    return out, nbr, is_core


@pytest.fixture(scope="module")
def nyc(reference_file):
    return _load_nyc(reference_file(CSV))


def test_nyc_dbscan_matches_bruteforce_and_reference_invariants(spark, nyc):
    eps_m, min_pts = 100.0, 10
    out = (A.dbscan_2d(spark.createDataFrame(
               nyc[["point_id", "lat", "lon"]]), eps_m=eps_m, min_pts=min_pts)
           .toPandas().sort_values("point_id").reset_index(drop=True))
    got = out["cluster_id"].to_numpy(dtype=float)
    want, nbr, _ = _bf_dbscan(nyc["lat"].to_numpy(), nyc["lon"].to_numpy(),
                              eps_m, min_pts)
    assert np.array_equal(np.isnan(got), np.isnan(want))
    m = ~np.isnan(got)
    assert np.array_equal(got[m].astype(int), want[m].astype(int))

    # DBSCANTest.java:190-202 invariants on the real data: every cluster
    # >= density points; every clustered point has an in-cluster
    # neighbor within the radius
    labels = got[m].astype(int)
    sizes = pd.Series(labels).value_counts()
    assert (sizes >= min_pts).all()
    assert len(sizes) >= 2          # Manhattan + airports split apart
    for i in np.flatnonzero(m):
        same = np.flatnonzero(m & (got == got[i]))
        assert nbr[i, same].any()


def test_nyc_dbrcan_function_per_cluster(spark, nyc):
    """DBRCANTest.testNYCSample: per DBSCAN cluster, the DBRCAN density
    step function of the pickup/dropoff times over a 24h ring
    (modulo=86400, eps=1800, buffer=0) — structural asserts on the
    emitted functions (the reference writes .dat files, no asserts)."""
    eps_m, min_pts = 100.0, 10
    want, _, _ = _bf_dbscan(nyc["lat"].to_numpy(), nyc["lon"].to_numpy(),
                            eps_m, min_pts)
    pdf = nyc.assign(cluster=want)
    pdf = pdf[~np.isnan(want)]
    df = spark.createDataFrame(
        pdf[["cluster", "t"]].astype({"cluster": "int64", "t": "float64"}))
    fn = (A.dbrcan_function_df(df, modulo=24 * 60 * 60, eps=30 * 60,
                               buffer=0.0, group_col="cluster",
                               value_col="t")
          .toPandas())
    assert set(fn["cluster"]) == set(pdf["cluster"].astype(int))
    for cid, g in fn.groupby("cluster"):
        xs = g["x"].to_numpy()
        assert ((xs >= 0) & (xs < 86400)).all()
        # breakpoints non-decreasing; duplicates = zero-width steps the
        # reference also emits after epsilon rounding (DBRCAN.java:410+)
        assert (np.diff(np.sort(xs)) >= 0).all()
        assert (g["minimum"].to_numpy() >= 0).all()
    # at least one cluster shows a real density peak over the day
    assert fn["minimum"].max() >= 2
