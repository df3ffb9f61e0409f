#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir>

Reads each <name>.parquet written by graft.Verify plus oracle_sql.json,
runs each oracle query in DuckDB over views named after the testdata
tables, and compares: schema (column names sorted), row count, and
values. Values are compared exactly (the engine is designed for
bit-identical doubles via decimal-exact aggregation) and, as a
diagnostic, with 1e-9 relative tolerance — so a report distinguishes
"hash-identical", "approximately right", and "wrong".

Every entry of the Verify run's _failures.json (a query that threw)
counts as FAIL. Only a query absent from both the outputs and the
failures file counts as filtered out of a name-filtered Verify run.
"""
import json
import math
import os
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, float):
        return v
    return v


def main(out_dir, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    n_exact = n_approx = n_fail = 0
    failed = set()
    if os.path.exists(f"{out_dir}/_failures.json"):
        with open(f"{out_dir}/_failures.json") as f:
            for e in json.load(f):
                print(f"FAIL {e['name']}: Verify raised {e['class']}: {e['message']}")
                failed.add(e["name"])
                n_fail += 1
    for name in sorted(oracle):
        if name in failed:
            continue
        if not os.path.isdir(f"{out_dir}/{name}"):
            continue  # filtered Verify run: only check dumped queries
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
        except Exception as e:
            print(f"FAIL {name}: spark output unreadable: {e}")
            n_fail += 1
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {str(e)[:200]}")
            n_fail += 1
            continue
        gc, ec = sorted(got.columns), sorted(exp.columns)
        if gc != ec:
            print(f"FAIL {name}: columns {gc} vs {ec}")
            n_fail += 1
            continue
        got, exp = got[gc], exp[gc]
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} vs {len(exp)}")
            n_fail += 1
            continue
        exact = True
        approx = True
        first_diff = None
        for c in gc:
            for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
                a, b = norm(a), norm(b)
                if a is None and b is None:
                    continue
                fa = isinstance(a, float)
                fb = isinstance(b, float)
                if fa and fb and math.isnan(a) and math.isnan(b):
                    continue
                if a != b:
                    exact = False
                    if fa and fb and b != 0 and abs(a - b) / max(abs(a), abs(b)) < 1e-9:
                        pass
                    else:
                        approx = False
                        if first_diff is None:
                            first_diff = (c, i, a, b)
        if exact:
            n_exact += 1
            print(f"OK   {name}: {len(got)} rows exact")
        elif approx:
            n_approx += 1
            print(f"NEAR {name}: {len(got)} rows match only within 1e-9 (hash would FAIL)")
        else:
            n_fail += 1
            c, i, a, b = first_diff
            print(f"FAIL {name}: value diff col={c} row={i}: spark={a!r} oracle={b!r}")
    print(f"\n{n_exact} exact, {n_approx} near, {n_fail} fail")
    return 1 if (n_fail or n_approx) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
