"""Time every DuckDB oracle standalone at a given sf (no Spark).

The driver's correctness gate runs oracle SQL in DuckDB alongside each
Spark query; tools/selfcheck.py's `sec` times only the Spark side, so a
pathological oracle (e.g. a recursive CTE that DuckDB re-inlines per
reference) can silently dominate the driver's per-entry wall time.
Usage: python tools/time_oracles.py [sf_dir] [name ...]
Prints one line per oracle: name, seconds, rows; then a sorted tail.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb

import __spark_entry__ as E

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    timings = []
    for name, sql in E.oracle_sql().items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            n = len(con.execute(sql).df())
            err = None
        except Exception as ex:  # noqa: BLE001 - report, keep sweeping
            n, err = -1, str(ex)[:200]
        dt = time.time() - t0
        timings.append((dt, name, n))
        print(f"{name:32s} {dt:7.2f}s rows={n}" + (f" ERROR={err}" if err else ""),
              flush=True)
    print("\n== slowest ==")
    for dt, name, n in sorted(timings, reverse=True)[:10]:
        print(f"{name:32s} {dt:7.2f}s rows={n}")


if __name__ == "__main__":
    main()
