#!/usr/bin/env python3
"""Pin the expected result digest of every operation a seed can draw.

    python3 perfbench/pin.py            (from the checkout root)

For each scale, runs every dashboard and curation (template, parameters)
combination of the gen.py menus once through the harness. Where an
independent SQL formulation exists (below), the digest is computed with
DuckDB over the same generated parquet and must equal the harness's; it is
the DuckDB digest that gets pinned. The remaining operations (the two
SparkEntry chains and the curation funnels) are pinned from the harness.
Writes perfbench/expected.json. Ingest needs no pins: gen.py computes each
batch's expected survivors from the generated corpus at plan time.
"""
import argparse
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import digest  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SEG_COLS = ", ".join(
    f"max(CASE WHEN c_mktsegment = '{s}' THEN o_totalprice END) AS \"{s}\"" for s in gen.SEGMENTS)


def oracle_sql(t, p):
    """DuckDB SQL with the harness's output column names, or None."""
    if "window" in p:
        lo, hi = gen.WINDOWS[p["window"]]
        win = f"o_orderdate BETWEEN '{lo}' AND '{hi}'"
    if t == "li_filter_topn":
        flags = ", ".join(f"'{f}'" for f in gen.FLAG_SETS[p["flags"]])
        return (f"SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_shipdate "
                f"FROM lineitem WHERE l_shipdate BETWEEN '{lo}' AND '{hi}' "
                f"AND l_returnflag IN ({flags}) "
                f"ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20")
    if t == "orders_agg7":
        v = "o_totalprice"
        return (f"SELECT {p['key']}, count(*) AS count_{v}, sum({v}) AS sum_{v}, "
                f"avg({v}) AS avg_{v}, min({v}) AS min_{v}, max({v}) AS max_{v}, "
                f"median({v}) AS median_{v}, stddev_samp({v}) AS std_{v} "
                f"FROM orders WHERE {win} GROUP BY ALL")
    if t == "join_inner_seg":
        segs = ", ".join(f"'{s}'" for s in gen.SEG_SETS[p["segs"]])
        return (f"SELECT c_mktsegment AS r_c_mktsegment, c_nationkey AS r_c_nationkey, "
                f"count(*) AS count_o_totalprice, sum(o_totalprice) AS sum_o_totalprice, "
                f"avg(o_totalprice) AS avg_o_totalprice "
                f"FROM orders JOIN customer ON o_custkey = c_custkey "
                f"WHERE {win} AND c_mktsegment IN ({segs}) GROUP BY ALL")
    if t == "join_left_seg":
        return (f"SELECT c.c_mktsegment AS r_c_mktsegment, o_orderpriority, "
                f"count(*) AS count_o_totalprice, max(o_totalprice) AS max_o_totalprice "
                f"FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_mktsegment = "
                f"'{p['seg']}') c ON o_custkey = c.c_custkey WHERE {win} GROUP BY ALL")
    if t == "latest_per_group":
        segs = ", ".join(f"'{s}'" for s in gen.SEG_SETS[p["segs"]])
        return (f"SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, "
                f"c_nationkey AS r_c_nationkey FROM orders JOIN customer ON o_custkey = c_custkey "
                f"WHERE o_orderdate >= '{p['since']}' AND c_mktsegment IN ({segs}) "
                f"QUALIFY row_number() OVER (PARTITION BY o_custkey "
                f"ORDER BY o_orderdate DESC, o_orderkey DESC) = 1")
    if t == "pivot_ffill":
        return (f"WITH p AS (SELECT c_nationkey AS r_c_nationkey, "
                f"strftime(o_orderdate, '%Y-%m') AS o_month, {SEG_COLS} "
                f"FROM orders JOIN customer ON o_custkey = c_custkey WHERE {win} GROUP BY ALL) "
                f"SELECT *, last_value(\"BUILDING\" IGNORE NULLS) OVER (PARTITION BY r_c_nationkey "
                f"ORDER BY o_month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
                f"AS building_filled FROM p")
    if t == "rolling_avg":
        return (f"WITH m AS (SELECT c_mktsegment AS r_c_mktsegment, "
                f"strftime(o_orderdate, '%Y-%m') AS o_month, sum(o_totalprice) AS sum_o_totalprice "
                f"FROM orders JOIN customer ON o_custkey = c_custkey WHERE {win} GROUP BY ALL) "
                f"SELECT *, avg(sum_o_totalprice) OVER (PARTITION BY r_c_mktsegment "
                f"ORDER BY o_month ROWS BETWEEN {p['k'] - 1} PRECEDING AND CURRENT ROW) "
                f"AS rolling FROM m")
    if t == "sql_revenue":
        return (f"SELECT n.n_name, count(*) AS n_lines, sum(l.l_quantity) AS qty, "
                f"round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue "
                f"FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
                f"JOIN customer c ON o.o_custkey = c.c_custkey "
                f"JOIN nation n ON c.c_nationkey = n.n_nationkey "
                f"WHERE {win} AND c.c_mktsegment = '{p['seg']}' GROUP BY n.n_name")
    if t == "sql_argmax":
        return (f"SELECT o_custkey, o_orderkey, o_totalprice FROM orders WHERE {win} "
                f"QUALIFY row_number() OVER (PARTITION BY o_custkey "
                f"ORDER BY o_totalprice DESC, o_orderkey DESC) = 1")
    return None


def duckdb_digests(star_dir):
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')")
    out = {}
    for t, p in gen.all_combos(gen.DASH_MENUS):
        sql = oracle_sql(t, p)
        if sql:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[gen.op_key(t, p)] = digest.of_rows(cols, cur.fetchall())
    return out


def pin_scale(scale):
    pinned, bad = {}, []
    for workload in ("dashboard", "curation"):
        ns = argparse.Namespace(workload=workload, seed=0, seconds=1e6, trace=0, scale=scale,
                                data_dir=None, pin=True)
        pinned.update(run.run(ns))
    star = os.path.abspath(f"{run.BUILD}/data-v{gen.GEN_VERSION}-{scale}/star")
    for key, want in duckdb_digests(star).items():
        if pinned.get(key) != want:
            bad.append(f"{scale} {key}: harness {pinned.get(key)} duckdb {want}")
        pinned[key] = want
    return pinned, bad


def main():
    expected, bad = {}, []
    for scale in ("smoke", "full"):
        expected[scale], b = pin_scale(scale)
        bad += b
    for line in bad:
        print("MISMATCH " + line, file=sys.stderr)
    if bad:
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"pinned {sum(len(v) for v in expected.values())} digests")
    return 0


if __name__ == "__main__":
    sys.exit(main())
