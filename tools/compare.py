#!/usr/bin/env python3
"""Local dev harness approximating the driver's correctness gate:
runs each oracleSql query in DuckDB against the sf tables and compares
with the Spark result parquet written by graft.Verify.

Canonicalization: columns sorted by name, rows sorted by all columns,
values compared exactly (floats too — both sides round identically).

A query that threw in Verify (an entry in <verifyOutDir>/errors.json) and a
result dir with no oracle entry each count as a failure, so a stale result
left by an earlier run cannot pass for a row that failed or went unchecked.

Usage: tools/compare.py <sfDir> <verifyOutDir>
"""
import json, math, os, sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return [cols[i] for i in order], out


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    errors_path = f"{out_dir}/errors.json"
    errors = json.load(open(errors_path)) if os.path.exists(errors_path) else {}
    n_ok = n_bad = 0
    for name in sorted(errors):
        print(f"FAIL {name}: query threw in Verify: {errors[name]}")
        n_bad += 1
    for name in sorted(d for d in os.listdir(out_dir)
                       if os.path.isdir(f"{out_dir}/{d}")
                       and d not in oracle and d not in errors):
        print(f"FAIL {name}: result has no oracle entry")
        n_bad += 1
    for name in sorted(set(oracle) - set(errors)):
        sql = oracle[name]
        try:
            want = con.execute(sql)
            wcols = [d[0] for d in want.description]
            wrows = want.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_bad += 1
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            n_bad += 1
            continue
        if sorted(wcols) != sorted(gcols):
            print(f"FAIL {name}: columns differ\n  oracle: {sorted(wcols)}\n  spark:  {sorted(gcols)}")
            n_bad += 1
            continue
        wc, wr = canon(wrows, wcols)
        gc, gr = canon(grows, gcols)
        wr = [tuple(norm(v) for v in r) for r in wr]
        gr = [tuple(norm(v) for v in r) for r in gr]
        if len(wr) != len(gr):
            print(f"FAIL {name}: row count oracle={len(wr)} spark={len(gr)}")
            n_bad += 1
            continue
        diffs = [(i, a, b) for i, (a, b) in enumerate(zip(wr, gr)) if a != b]
        if diffs:
            print(f"FAIL {name}: {len(diffs)}/{len(wr)} rows differ; first: cols={wc}")
            i, a, b = diffs[0]
            print(f"  oracle[{i}]: {a}\n  spark [{i}]: {b}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(wr)} rows)")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} failed")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
