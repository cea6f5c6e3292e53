#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Reads each SparkEntry query result (parquet, written by graft.Verify) and the
oracle_sql.json it dumps, runs each oracle statement in DuckDB with the
testdata tables registered as views, canonicalizes both sides (columns sorted
by name, rows sorted, NaN-safe) and diffs values exactly. Every query named
in failures.json (written by graft.Verify: query -> message) counts as failed.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import json, math, sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in order))
    out.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return [cols[i] for i in order], out


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    try:
        failures = json.load(open(f"{out_dir}/failures.json"))
    except FileNotFoundError:
        failures = {}
    n_ok = n_bad = 0
    for name, msg in sorted(failures.items()):
        print(f"FAIL {name}: verify failed: {msg}")
        n_bad += 1
    for name, sql in sorted(oracle.items()):
        if name in failures:
            continue
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            gcols, grows = canon(got.fetchall(), got.columns)
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            n_bad += 1
            continue
        try:
            exp = con.sql(sql)
            ecols, erows = canon(exp.fetchall(), exp.columns)
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_bad += 1
            continue
        if gcols != ecols:
            print(f"FAIL {name}: columns spark={gcols} duck={ecols}")
            n_bad += 1
        elif grows != erows:
            n_bad += 1
            diffs = [(a, b) for a, b in zip(grows, erows) if a != b]
            print(f"FAIL {name}: rows spark={len(grows)} duck={len(erows)}, "
                  f"first diffs: {diffs[:3]}"
                  + (f" extra_spark={grows[len(erows):][:2]}" if len(grows) > len(erows) else "")
                  + (f" extra_duck={erows[len(grows):][:2]}" if len(erows) > len(grows) else ""))
        else:
            n_ok += 1
            print(f"ok   {name} ({len(grows)} rows)")
    print(f"== {n_ok} ok, {n_bad} fail")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
