"""Pin VALUES-table golden oracles for the kernel/media entries whose
semantics have no DuckDB re-derivation (stateful HMM matcher, codec
kernels). The outputs are deterministic — seeded synthetic fixtures +
deterministic kernels, invariant under partitioning (pinned by pytest:
online==offline, cap-invariance, repartition(8) per-row ops) — so the
expected rows can be captured once and committed as literals, turning
the driver's weaker rows-only check into a full row+schema+value-hash
gate (round-4 VERDICT 'What's missing #1' / 'Next round #2-3').

Usage: python tools/pin_goldens.py          # rewrites barefoot_spark/_goldens.py
Then:  python tools/selfcheck.py /root/testdata/sf0.01 <entries>

The goldens were cross-checked for parallelism stability by running
selfcheck at SELFCHECK_MASTER=local[8] and local[32] (identical
hashes) before committing.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

GOLDEN_ENTRIES = [
    "viterbi_match", "x0001_match", "route_geojson",
    "video_frame_sample", "video_phash_dedup",
    "image_resize", "audio_features",
    "image_features", "image_verify",
]

SF_DIR = "/root/testdata/sf0.01"


def _cell(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    if isinstance(v, (np.bool_, bool)):
        return bool(v)
    if isinstance(v, (np.integer, int)):
        return int(v)
    if isinstance(v, (np.floating, float)):
        f = float(v)
        assert np.isfinite(f), f"non-finite golden value {f}"
        return f
    return str(v)


def main():
    import __spark_entry__ as E
    from barefoot_spark.session import build_session

    spark = build_session(app="pin_goldens", master="local[32]",
                          shuffle_partitions=32)
    queries = E.queries()
    out = {}
    for name in GOLDEN_ENTRIES:
        pdf = queries[name](spark, SF_DIR).toPandas()
        cols = list(pdf.columns)
        types = []
        for c in cols:
            dt = str(pdf[c].dtype)
            if dt == "bool":
                types.append("BOOLEAN")
            elif dt.startswith("int") or dt.startswith("uint"):
                types.append("BIGINT")
            elif dt.startswith("float"):
                types.append("DOUBLE")
            else:
                types.append("VARCHAR")
        rows = [tuple(_cell(v) for v in row)
                for row in pdf.itertuples(index=False, name=None)]
        out[name] = {"columns": cols, "types": types, "rows": rows}
        print(f"{name}: {len(rows)} rows x {len(cols)} cols")

    with open(os.path.join(ROOT, "barefoot_spark", "_goldens.py"), "w") as fh:
        fh.write('"""GENERATED by tools/pin_goldens.py — pinned expected\n'
                 "rows for the kernel/media entries (deterministic seeded\n"
                 "fixtures; see that script's docstring for the stability\n"
                 'argument). Do not edit by hand; regenerate instead."""\n\n'
                 "# fmt: off\n"
                 "GOLDENS = {\n")
        for name, d in out.items():
            fh.write(f"    {name!r}: {{\n")
            fh.write(f"        'columns': {d['columns']!r},\n")
            fh.write(f"        'types': {d['types']!r},\n")
            fh.write("        'rows': [\n")
            for r in d["rows"]:
                fh.write(f"            {r!r},\n")
            fh.write("        ],\n    },\n")
        fh.write("}\n")
    print("wrote barefoot_spark/_goldens.py")


if __name__ == "__main__":
    main()
