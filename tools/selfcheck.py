"""Self-check harness mimicking the driver's correctness gate:
run every __spark_entry__ query at a given sf and compare against its
DuckDB oracle (row count + column names + order-insensitive value
comparison). Usage: python tools/selfcheck.py [sf_dir] [query ...]"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as E
from barefoot_spark.reference import FixtureMissing
from barefoot_spark.session import build_session

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype(float)
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        if str(df[c].dtype) in ("int32", "uint32", "int16"):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # default to the DRIVER's topology: the round-2 ghost-gate bug only
    # materialized at 32 buckets (defaultParallelism) and was invisible
    # at local[8] — the gate mimic must mimic the gate's parallelism
    master = os.environ.get("SELFCHECK_MASTER", "local[32]")
    nshuf = int(master.split("[")[1].rstrip("]*")or "8") if "[" in master else 8
    spark = build_session(app="selfcheck", master=master,
                          shuffle_partitions=max(nshuf, 8))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = E.queries()
    oracles = E.oracle_sql()
    results = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except FixtureMissing as ex:
            # an input file absent from this host: not run, never OK
            results[name] = {"status": "NOT_RUN", "error": str(ex)[:300]}
            print(name, results[name])
            continue
        except Exception as ex:
            results[name] = {"status": "SPARK_ERROR", "error": str(ex)[:300]}
            print(name, results[name])
            continue
        dt = time.time() - t0
        if name not in oracles:
            results[name] = {"status": "ROWS_ONLY", "rows": len(got), "sec": round(dt, 1)}
            print(name, results[name])
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as ex:
            results[name] = {"status": "ORACLE_ERROR", "error": str(ex)[:300]}
            print(name, results[name])
            continue
        g, w = normalize(got.copy()), normalize(want.copy())
        status = "OK"
        detail = {}
        if list(g.columns) != list(w.columns):
            status = "SCHEMA_MISMATCH"
            detail = {"spark": list(g.columns), "duck": list(w.columns)}
        elif len(g) != len(w):
            status = "ROWCOUNT_MISMATCH"
            detail = {"spark": len(g), "duck": len(w)}
        else:
            try:
                pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                              check_exact=False, atol=2e-6, rtol=0)
            except AssertionError as ex:
                status = "VALUE_MISMATCH"
                detail = {"msg": str(ex)[:400]}
        results[name] = {"status": status, "rows": len(got), "sec": round(dt, 1), **detail}
        print(name, results[name])

    bad = {k: v for k, v in results.items()
           if v["status"] not in ("OK", "ROWS_ONLY", "NOT_RUN")}
    not_run = sum(v["status"] == "NOT_RUN" for v in results.values())
    print(json.dumps({"total": len(results),
                      "passed": len(results) - len(bad) - not_run,
                      "bad": len(bad), "not_run": not_run}))
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
