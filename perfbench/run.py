"""Benchmark entry point.

    python3 perfbench/run.py --workload {match_batch,join_tile,online_track}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics. Progress and diagnostics go to
standard error. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import common as C

WORKLOADS = ("match_batch", "join_tile", "online_track")
# layer prefixes each workload exercises; its traced run reports 0 for
# the layers it does not touch (no Spark session, no checkpoint, ...)
LAYERS = {
    "match_batch": ("session.", "index.", "cells.", "shuffle.", "match.",
                    "ckpt.", "process.", "trace."),
    "join_tile": ("session.", "index.", "cells.", "tiles.", "joins.",
                  "arrow.", "shuffle.", "process.", "trace."),
    "online_track": ("index.", "cells.", "online.", "process.", "trace."),
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def metric_specs(trace: bool) -> tuple[dict, set]:
    """{name: unit} of the metrics this run prints, and the names of the
    other kind (measured on the way, not printed)."""
    with open(os.path.join(C.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    kinds = ("per_layer", "end_to_end") if trace else ("end_to_end", "per_layer")
    return ({m["name"]: m["unit"] for m in spec[kinds[0]]},
            {m["name"] for m in spec[kinds[1]]})


def finish_metrics(run: C.Run, wanted: dict, other: set):
    """Keep only the metrics of this run's kind. Zero-fill the layers the
    workload does not touch; refuse a missing metric of a layer it does
    touch, a wrong unit, or an unknown name."""
    touched = LAYERS[run.args.workload] if run.args.trace else ("",)
    for name, unit in wanted.items():
        if name not in run.metrics:
            if name.startswith(touched):
                raise RuntimeError(f"metric {name} was not measured")
            run.metric(name, 0.0, unit)
        elif run.metrics[name]["unit"] != unit:
            raise RuntimeError(f"metric {name} unit {run.metrics[name]['unit']}"
                               f" != {unit}")
    extra = set(run.metrics) - set(wanted)
    if extra - other:
        raise RuntimeError(f"unknown metrics {sorted(extra - other)}")
    for name in extra:
        del run.metrics[name]


def main(argv=None) -> int:
    args = parse_args(argv)
    C.prepare_env()
    import barefoot_spark  # noqa: F401  (fail fast outside a full checkout)
    os.makedirs(os.path.join(C.WORK, "tmp"), exist_ok=True)
    wanted, other = metric_specs(bool(args.trace))
    run = C.Run(args)
    if args.trace:
        import tracing
        run.tracer = tracing.Tracer(f"{args.workload}-seed{args.seed}")
    module = __import__(args.workload)
    try:
        module.main(run)
    finally:
        for scratch in ("spark-local", "ckpt", "tmp"):
            shutil.rmtree(os.path.join(C.WORK, scratch), ignore_errors=True)
    if run.tracer is not None:
        os.makedirs(os.path.join(C.WORK, "spans"), exist_ok=True)
        run.tracer.write(os.path.join(C.WORK, "spans",
                                      f"{run.tracer.run_id}.jsonl"))
    finish_metrics(run, wanted, other)
    print(json.dumps(run.result()), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
