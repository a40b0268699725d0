"""Input generation for the benchmark.

Two kinds of input, both deterministic:

* Base tables (seed-independent, generated once per checkout): a TPC-H-like
  star schema (region, nation, customer, supplier, part, orders, lineitem) and
  a 1x documents corpus with planted exact and near duplicates. The 4x corpus
  is derived from the 1x one by ``graft.ScaleGen`` (see run.py).
* A per-seed plan: the seeded parameters of every operation a workload
  issues, written as tab-separated lines for the JVM harness, plus (ingest)
  the arrival batches as JSONL and their expected survivors.
"""
import datetime as dt
import hashlib
import json
import os
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import digest

GEN_VERSION = "1"

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY0 = dt.date(1995, 1, 1)
N_DAYS = (dt.date(2001, 8, 1) - DAY0).days + 1


def _write(table, path):
    # one row group per table, like the repo's testdata: Tables caches such
    # single-partition scans, so the star schema is served from memory
    pq.write_table(table, path, row_group_size=1 << 30)


def _ts(days):
    epoch = (DAY0 - dt.date(1970, 1, 1)).days
    return pa.array((days.astype(np.int64) + epoch) * 86_400_000_000,
                    type=pa.timestamp("us"))


def gen_star(out, sf):
    rng = np.random.default_rng(42)
    os.makedirs(out, exist_ok=True)
    n_cust, n_ord = max(10, int(150_000 * sf)), max(10, int(1_500_000 * sf))
    n_part, n_supp = max(10, int(200_000 * sf)), max(10, int(10_000 * sf))
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
        "p_name": [f"part {k}" for k in range(1, n_part + 1)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
        "p_type": [f"TYPE_{t}" for t in rng.integers(0, 150, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2)}),
        f"{out}/part.parquet")
    okeys = np.arange(1, n_ord + 1, dtype=np.int64)
    odays = rng.integers(0, N_DAYS, n_ord)
    _write(pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    lines = rng.integers(1, 8, n_ord)  # 1..7 lines per order, mean 4
    n_li = int(lines.sum())
    owner = np.repeat(np.arange(n_ord), lines)
    lineno = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": okeys[owner],
        "l_partkey": rng.integers(1, n_part + 1, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.minimum(odays[owner] + rng.integers(1, 122, n_li),
                                     N_DAYS + 150))}),
        f"{out}/lineitem.parquet")


STOP = {"en": ["the", "a", "of", "and", "to", "in", "is"],
        "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
        "fr": ["le", "la", "les", "et", "est", "une", "dans"],
        "es": ["el", "los", "las", "y", "es", "una", "en"]}
WORDS = ("data spark batch stream query table column row scan sort hash join "
         "filter group agg window key value part order line small big fast "
         "slow merge index shard vector token corpus model train split mix "
         "dedup near exact bloom band sketch score gate pack budget sample "
         "source lang text word page site crawl clean dump").split()


def gen_documents(out, n_docs):
    """1x corpus: mostly fresh docs, ~6% exact duplicates (recased and
    re-punctuated, so only the normalized fingerprint matches), ~6% near
    duplicates (a few words swapped) and ~4% repetitive spam."""
    rng = random.Random(7)
    os.makedirs(out, exist_ok=True)
    langs = ["en"] * 6 + ["de", "fr", "es", "zh"]
    texts, lang_col = [], []
    for i in range(n_docs):
        r = rng.random()
        if i > 20 and r < 0.06:
            src = texts[rng.randrange(i)]
            t = src.upper() if rng.random() < 0.5 else src.replace(" ", ", ", 3) + "!"
            lang = lang_col[texts.index(src)]
        elif i > 20 and r < 0.12:
            j = rng.randrange(i)
            words = texts[j].split()
            for _ in range(max(1, len(words) // 25)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
            t, lang = " ".join(words), lang_col[j]
        elif r < 0.16:
            t, lang = " ".join([rng.choice(WORDS)] * rng.randint(30, 60)), "en"
        else:
            lang = rng.choice(langs)
            stops = STOP.get(lang, [])
            n = rng.randint(20, 90)
            t = " ".join(rng.choice(stops) if stops and rng.random() < 0.3
                         else rng.choice(WORDS) for _ in range(n))
        texts.append(t)
        lang_col.append(lang)
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": lang_col,
        "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")


# ---------------------------------------------------------------- plans

# Small fixed menus: the seed draws from these, so every parameter
# combination a seed can produce has a pinned expected digest.
# Options of one parameter select similar amounts of data (one-year windows,
# two of five segments, two of three flags), so a query's cost depends on its
# template, not on what the seed drew.
WINDOWS = [("1995-01-01", "1995-12-31"), ("1996-07-01", "1997-06-30"),
           ("1998-01-01", "1998-12-31"), ("2000-06-01", "2001-05-31")]
SEG_SETS = [("BUILDING", "AUTOMOBILE"), ("MACHINERY", "HOUSEHOLD"),
            ("FURNITURE", "BUILDING")]
FLAG_SETS = [("A", "R"), ("N", "R")]
DASH_MENUS = {
    "li_filter_topn": {"window": range(4), "flags": range(2)},
    "orders_agg7": {"window": range(4), "key": ["o_orderpriority", "o_orderstatus"]},
    "join_inner_seg": {"window": range(4), "segs": range(3)},
    "join_left_seg": {"window": range(4), "seg": SEGMENTS[:3]},
    "latest_per_group": {"segs": range(3), "since": ["1997-01-01", "1997-07-01"]},
    "pivot_ffill": {"window": range(4)},
    "rolling_avg": {"window": range(4), "k": [3, 6]},
    "covid_chain": {},
    "dashboard_chain": {},
    "sql_revenue": {"window": range(4), "seg": SEGMENTS[:3]},
    "sql_argmax": {"window": range(4)},
}
DASH_WARM_ROUNDS = 1  # PerfBench.DashboardWarmRounds
CURATION_MENUS = {
    "pipeline": {"rate": ["0.4", "0.5", "0.6"]},
    "curation": {"heldout": [13, 17, 19]},
    "ingest_funnel": {"batchmod": [11, 13, 16]},
}


def op_key(template, params):
    return template + "|" + ",".join(f"{k}={params[k]}" for k in sorted(params))


def all_combos(menus):
    """Every (template, params) a seed can draw."""
    out = []
    for t, menu in menus.items():
        combos = [{}]
        for k, vals in menu.items():
            combos = [dict(c, **{k: v}) for c in combos for v in vals]
        out += [(t, c) for c in combos]
    return out


def _rounds(menus, seed, n_rounds):
    """Balanced deck: every round issues each template once, in a seeded
    order with seeded parameters, so the template mix is the same for every
    seed and only order and parameters vary."""
    rng = random.Random(seed)
    ops = []
    for _ in range(n_rounds):
        ts = sorted(menus)
        rng.shuffle(ts)
        for t in ts:
            ops.append((t, {k: rng.choice(list(v)) for k, v in menus[t].items()}))
    return ops


def _param_line(t, p):
    return "\t".join([t, op_key(t, p)] + [f"{k}={v}" for k, v in sorted(p.items())])


def write_plan(workload, seed, run_dir, docs_path=None, every_combo=False):
    """The seed's plan; with `every_combo`, each (template, params) of the
    menus once instead (used to pin expected digests)."""
    os.makedirs(run_dir, exist_ok=True)
    if every_combo:
        menus = DASH_MENUS if workload == "dashboard" else CURATION_MENUS
        # the harness warms up on the dashboard plan's first rounds
        warm = _rounds(menus, seed, DASH_WARM_ROUNDS) if workload == "dashboard" else []
        lines = [_param_line(t, p) for t, p in warm + all_combos(menus)]
    elif workload == "dashboard":
        lines = [_param_line(t, p) for t, p in _rounds(DASH_MENUS, seed, 200)]
    elif workload == "curation":
        lines = [_param_line(t, p) for t, p in _rounds(CURATION_MENUS, seed, 40)]
    elif workload == "ingest":
        lines = _ingest_batches(seed, run_dir, docs_path)
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(f"{run_dir}/plan.tsv", "w") as f:
        f.write("\n".join(lines) + "\n")


def fingerprint(text):
    """graft.functions.Text.fingerprint, independently: md5 of the
    lowercased text with every non-[a-z0-9] character removed."""
    return hashlib.md5(re.sub("[^a-z0-9]", "", text.lower()).encode()).hexdigest()


INGEST_BATCHES, INGEST_BATCH_DOCS = 100, 60


def _ingest_batches(seed, run_dir, docs_path):
    """Assign a seeded share of the corpus to arrival batches and pre-write
    each as JSONL; the rest seeds the fingerprint index at set-up. Records
    each batch's expected survivors (fingerprint not yet in the index) and
    the index size after it, computed here without Spark."""
    docs = pq.read_table(docs_path, columns=["doc_id", "text", "lang", "source",
                                             "n_chars"]).to_pylist()
    docs.sort(key=lambda d: d["doc_id"])
    rng = random.Random(seed)
    n_batch = min(INGEST_BATCHES, len(docs) // (2 * INGEST_BATCH_DOCS))
    chosen = rng.sample(range(len(docs)), n_batch * INGEST_BATCH_DOCS)
    in_batch = set(chosen)
    index = {fingerprint(d["text"]) for i, d in enumerate(docs) if i not in in_batch}
    lines = []
    for b in range(n_batch):
        rows = [docs[i] for i in chosen[b * INGEST_BATCH_DOCS:(b + 1) * INGEST_BATCH_DOCS]]
        bdir = f"{run_dir}/batches/b{b:03d}"
        os.makedirs(bdir, exist_ok=True)
        with open(f"{bdir}/part-0.jsonl", "w") as f:
            for d in rows:
                f.write(json.dumps(d) + "\n")
        fps = [fingerprint(d["text"]) for d in rows]
        surv = [d["doc_id"] for d, fp in zip(rows, fps) if fp not in index]
        index.update(fps)
        lines.append("\t".join(["batch", f"b{b:03d}", f"dir={bdir}",
                                 f"rows={len(rows)}",
                                 f"bytes={os.path.getsize(bdir + '/part-0.jsonl')}",
                                 f"expect={digest.of_rows(['doc_id'], [(i,) for i in surv])}",
                                 f"index_after={len(index)}"]))
    with open(f"{run_dir}/batch_ids.txt", "w") as f:
        f.write("\n".join(str(docs[i]["doc_id"]) for i in chosen) + "\n")
    return lines

