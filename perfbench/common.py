"""Shared parts of the three workloads: environment, Spark lifecycle,
the fixed road map, seeded inputs, set-up rounds, timed passes, the
Spark-free layer probes and the result line."""

from __future__ import annotations

import math
import os
import pickle
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# The map every workload runs on: a seeded 24 x 24 city grid
# (1200 two-way-or-oneway streets, 0.005 deg spacing) indexed at res 16.
GRID_N, MAP_SEED, INDEX_RES = 24, 42, 16
LAT0, LON0, SPACING = 48.0, 11.0, 0.005
SETUP_ROUNDS = 3      # set-up is repeated and its median reported
MIN_PASSES = 3        # no batch metric rests on fewer passes

# Canary digests of the two input generators at seed 0. A change to
# ``sources.samples.synth_traces`` or to numpy's generator changes the
# workloads; the run then counts a failed operation instead of silently
# measuring different inputs.
CANARY_TRACES = (20, 6491901650728306778)
CANARY_POINTS = (1000, 3032515437774899897)


def prepare_env():
    """Make the engine importable here and in Spark's Python workers,
    keep Spark's scratch space and all temp files inside the checkout,
    and cap Spark at the CPUs this process may use."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # temp files stay in the checkout too: Python's (the gateway handshake)
    # and the JVM's (extracted native libraries; no hsperfdata in /tmp)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    cpus = len(os.sched_getaffinity(0))
    if "SPARK_GRAFT_CPUS" in os.environ:
        cpus = min(cpus, int(os.environ["SPARK_GRAFT_CPUS"]))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)


_T0 = time.perf_counter()


def log(*parts):
    """A progress line on stderr, stamped with seconds since start."""
    print(f"# {time.perf_counter() - _T0:7.2f}s", *parts, file=sys.stderr,
          flush=True)


def median(xs):
    return statistics.median(xs)


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


# ---------------------------------------------------------------------------
# result accounting
# ---------------------------------------------------------------------------

class Run:
    """Counters and metrics of one benchmark invocation."""

    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, dict] = {}
        self.tracer = None

    def op(self, ok: bool, what: str):
        """Count one operation; a False ``ok`` counts it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            log("FAILED:", what)

    def metric(self, name: str, value: float, unit: str):
        self.metrics[name] = {"value": float(value), "unit": unit}

    def result(self) -> dict:
        return {"correct": self.failed == 0 and self.attempted > 0,
                "attempted": self.attempted, "failed": self.failed,
                "metrics": self.metrics}


# ---------------------------------------------------------------------------
# map, inputs, canaries
# ---------------------------------------------------------------------------

def build_index():
    from barefoot_spark import roads
    from barefoot_spark.index import RoadIndex
    return RoadIndex(roads.grid_pdf(GRID_N, seed=MAP_SEED), res=INDEX_RES)


def synth_points(n: int, seed: int):
    """n uniform geotags inside the map extent: (ids, lat, lon)."""
    rng = np.random.default_rng(seed)
    span = GRID_N * SPACING
    lat = LAT0 + rng.random(n) * span
    lon = LON0 + rng.random(n) * span
    return np.arange(n, dtype=np.int64), lat, lon


def trace_number(trace_id: str) -> int:
    """``trace-000123`` -> 123 (the integer key digests use)."""
    return int(trace_id[6:])


def traces_digest(pdf) -> tuple[int, int]:
    from digest import floor_to, np_digest
    return np_digest(np.array([trace_number(t) for t in pdf["trace_id"]]),
                     pdf["time"].to_numpy(np.int64),
                     floor_to(pdf["lat"], 1e7), floor_to(pdf["lon"], 1e7))


def points_digest(ids, lat, lon) -> tuple[int, int]:
    from digest import floor_to, np_digest
    return np_digest(ids, floor_to(lat, 1e7), floor_to(lon, 1e7))


def check_canaries(run: Run, idx):
    from barefoot_spark.sources import samples as SS
    got_t = traces_digest(SS.synth_traces(idx, n_traces=2,
                                          samples_per_trace=10, seed=0))
    run.op(got_t == CANARY_TRACES,
           f"trace generator changed: {got_t} != {CANARY_TRACES}")
    got_p = points_digest(*synth_points(1000, 0))
    run.op(got_p == CANARY_POINTS,
           f"point generator changed: {got_p} != {CANARY_POINTS}")


# ---------------------------------------------------------------------------
# Spark lifecycle
# ---------------------------------------------------------------------------

def start_spark():
    """A session from ``session.build_session`` with its defaults."""
    from barefoot_spark.session import build_session
    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, final: bool):
    """Stop the session; on ``final`` also end the JVM and wait for every
    process this run started."""
    import proctree
    spark.stop()
    if not final:
        return
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = proctree.reap_descendants()
    if left:
        log("had to kill leftover processes:", left)


# ---------------------------------------------------------------------------
# set-up rounds and timed passes
# ---------------------------------------------------------------------------

def setup_rounds(run: Run, build, discard):
    """Run ``build()`` SETUP_ROUNDS times (``discard(state)`` between
    rounds) and report the median wall as ``setup_s``. ``build`` returns
    (state, {part: seconds}); returns the last state and the median of
    each part over the rounds."""
    walls, timings, state = [], [], None
    for _ in range(SETUP_ROUNDS):
        if state is not None:
            discard(state)
        t0 = time.perf_counter()
        state, parts = build()
        walls.append(time.perf_counter() - t0)
        timings.append(parts)
    run.metric("setup_s", median(walls), "s")
    log("setup rounds (s):", " ".join(f"{w:.3f}" for w in walls))
    return state, {k: median(t[k] for t in timings) for k in timings[0]}


def timed_passes(run: Run, seconds: float, one_pass) -> list:
    """Call ``one_pass(i)`` until ``seconds`` have passed (and at least
    MIN_PASSES times). A pass that raises counts as a failed operation;
    returns the results of the passes that completed."""
    out, tried = [], 0
    t_end = time.perf_counter() + seconds
    while tried < MIN_PASSES or time.perf_counter() < t_end:
        tried += 1
        try:
            out.append(one_pass(tried - 1))
        except Exception:
            traceback.print_exc()
            run.op(False, f"pass {tried - 1} raised")
    if not out:
        raise RuntimeError("every timed pass failed")
    return out


def fresh_dir(*parts) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def dir_mb(path: str) -> float:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 1e6


# ---------------------------------------------------------------------------
# Spark-free layer probes (traced runs)
# ---------------------------------------------------------------------------

PROBE_POINTS, PROBE_SEED, PROBE_REPS = 50_000, 7, 3
CELL_POINTS = 1_000_000


def index_layer(run: Run, idx, broadcast: bool):
    """``index.*`` and ``cells.ns_per_pt`` on a fixed point batch."""
    from barefoot_spark import cells
    from barefoot_spark.index import RoadIndex
    _, lat, lon = synth_points(PROBE_POINTS, PROBE_SEED)
    radius_s, nearest_s = [], []
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        pt, base, frac, _d = idx.radius(lat, lon, 100.0)
        hits = len(idx.split(pt, base, frac)[0])
        radius_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        idx.nearest(lat, lon)
        nearest_s.append(time.perf_counter() - t0)
    # one more, untimed, radius call counts the cell-prefilter candidates
    orig, pairs = RoadIndex._candidates_for_envelopes, []

    def counting(self, *a):
        pair_pt, pair_base = orig(self, *a)
        pairs.append(len(pair_pt))
        return pair_pt, pair_base
    RoadIndex._candidates_for_envelopes = counting
    try:
        idx.radius(lat, lon, 100.0)
    finally:
        RoadIndex._candidates_for_envelopes = orig
    run.metric("index.radius_us_per_pt", median(radius_s) / PROBE_POINTS * 1e6, "us")
    run.metric("index.nearest_us_per_pt", median(nearest_s) / PROBE_POINTS * 1e6, "us")
    run.metric("index.hits_per_pt", hits / PROBE_POINTS, "count")
    run.metric("index.candidate_hit_ratio", len(pt) / max(1, sum(pairs)), "ratio")
    size = len(pickle.dumps(build_index(), protocol=pickle.HIGHEST_PROTOCOL))
    run.metric("index.broadcast_mb", size / 1e6 if broadcast else 0.0, "MB")
    _, clat, clon = synth_points(CELL_POINTS, PROBE_SEED)
    cell_s = []
    for _ in range(5):
        t0 = time.perf_counter()
        cells.latlng_to_cell(clat, clon, 15)
        cell_s.append(time.perf_counter() - t0)
    run.metric("cells.ns_per_pt", median(cell_s) / CELL_POINTS * 1e9, "ns")
