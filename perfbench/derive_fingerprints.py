#!/usr/bin/env python3
"""Derives perfbench/fingerprints.json: the expected result of every
registered query the batch workloads run, computed by DuckDB from each
query's oracle SQL (SparkEntry.oracleSql, the SQL scripts/check.py runs)
over the bundled tables in perfbench/data.

    python3 perfbench/derive_fingerprints.py

Run it again only when the bundled data or a query's oracle changes.
"""
import json
import shutil
import sys

import duckdb

import fingerprint
import run
import workloads

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    names = sorted({q for w in workloads.BATCH.values() for q in w["queries"]}
                   - {workloads.REST_PULL, workloads.STREAM_LAND})
    run.build()
    work = run.BUILD / "work" / "derive"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    run.run_jvm(["--dump-oracle", str(work / "oracle.json"), "--names", ",".join(names)],
                work, work / "jvm.log")
    oracle = json.loads((work / "oracle.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.HERE / 'data' / t}.parquet'")
    out = {}
    for name in names:
        rows = con.execute(oracle[name]).fetchall()
        out[name] = fingerprint.of([d[0] for d in con.description], rows)
        print(f"{name}: {out[name]}", file=sys.stderr)
    doc = {"derived_with": f"duckdb {duckdb.__version__}", "data": "perfbench/data",
           "queries": out}
    (run.HERE / "fingerprints.json").write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
