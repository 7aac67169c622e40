#!/usr/bin/env python3
"""Dev-only local correctness loop mimicking the driver's DuckDB-oracle
compare: for each query result parquet under OUTDIR, run the matching
oracle SQL from oracle_sql.json in DuckDB over the sf tables, sort columns
by name and rows by value, and diff.

Usage: python3 scripts/check.py <sfDir> <outDir>
(Run `sbt "runMain graft.Verify <sfDir> <outDir>"` first.)
"""
import json
import math
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            # The DRIVER comparator sorts columns with pandas, which dies
            # on bytes/dict/list values (r2: m1/p9_full failed only
            # there). Fail the same way locally: hex/to_json/flatten such
            # columns at the query's result edge instead.
            if isinstance(v, (bytes, bytearray, dict, list)):
                raise TypeError(
                    f"driver-unsortable value in column {cols[i]!r}: "
                    f"{type(v).__name__} (hex/to_json/flatten it)")
            if isinstance(v, float):
                v = round(v, 9)
            rr.append(repr(v))
        out.append(tuple(rr))
    out.sort()
    return [cols[i] for i in order], out


def memory_limit():
    """About half of MemTotal, so one heavy oracle fails its own row with
    an out-of-memory error instead of taking the host down."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return f"{int(line.split()[1]) // 2 // 1024}MB"
    return "4GB"


def main(sf_dir, out_dir):
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{memory_limit()}'")
    con.execute("SET temp_directory = '/tmp/check_duckdb_spill'")
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    # a Verify run on a query subset leaves the other result dirs out
    subset = (Path(out_dir) / "verify_times.json").exists() and len(
        json.loads((Path(out_dir) / "verify_times.json").read_text())
    ) < len(oracle)
    n_pass = n_fail = n_skip = 0
    for name in sorted(oracle):
        res_dir = Path(out_dir) / name
        if not res_dir.exists():
            if subset:
                print(f"SKIP {name}: not in this Verify run")
                n_skip += 1
            else:
                print(f"FAIL {name}: no result dir")
                n_fail += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM '{res_dir}/*.parquet'").fetchall()
            gcols = [d[0] for d in con.description]
        except Exception as e:
            print(f"FAIL {name}: result read error: {e}")
            n_fail += 1
            continue
        try:
            want = con.execute(oracle[name]).fetchall()
            wcols = [d[0] for d in con.description]
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        try:
            gc, g = canon(got, gcols)
            wc, w = canon(want, wcols)
        except TypeError as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        if gc != wc:
            print(f"FAIL {name}: columns {gc} != {wc}")
            n_fail += 1
        elif g != w:
            n_fail += 1
            diff = [(a, b) for a, b in zip(g, w) if a != b]
            print(f"FAIL {name}: {len(g)} vs {len(w)} rows; "
                  f"first diffs: {diff[:2]}"
                  + (f" extra_got={g[len(w):][:1]}" if len(g) > len(w) else "")
                  + (f" extra_want={w[len(g):][:1]}" if len(w) > len(g) else ""))
        else:
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_skip} skip")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
