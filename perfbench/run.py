#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard|curation|ingest --seed N
                             --seconds S --trace 0|1

Run from the root of a checkout. Builds the library and the harness from
source with the Scala compiler that ships in the Spark distribution
(``$SPARK_HOME/jars``, else the ``unmanagedBase`` that build.sbt declares)
into ``.bench_build/``, generates the input tables there once, writes the seed's plan, runs the JVM
harness (perfbench/src) and prints one JSON object as the last line of
standard output. With ``--trace 0`` its metrics are the end-to-end metrics of
BENCHMARK.json, with ``--trace 1`` the per-layer ones. Exit status is 0 when
every operation was checked correct, 1 when a result was wrong or an
operation failed, 2 when the benchmark could not run at all.

``--data-dir`` points the harness at another table directory (a missing one
must make every operation fail); ``--scale smoke`` uses tiny inputs.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

BUILD = ".bench_build"
# star-schema scale factor and 1x corpus size per scale
SCALES = {"full": (0.1, 5000), "smoke": (0.001, 500)}
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:  # the jar directory the repository's own build compiles against
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open("build.sbt").read() if os.path.exists("build.sbt") else "")
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise BenchError(f"Spark jars not found at {jars!r}: set SPARK_HOME")
    return jars


def heap():
    """A quarter of physical memory, clamped to 2-4 GB."""
    try:
        kb = int(next(l for l in open("/proc/meminfo") if l.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        kb = 8 << 20
    return f"{min(4, max(2, kb // (4 << 20)))}g"


def java_cmd(classpath, main, args):
    work = os.path.abspath(f"{BUILD}/work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{heap()}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}",
            "-cp", classpath, main, *map(str, args)], work


def build():
    """Compile src/main/scala and perfbench/src into a content-addressed
    class directory; a second call with unchanged sources is a no-op."""
    srcs = []
    for root in ("src/main/scala", os.path.join(HERE, "src")):
        if not os.path.isdir(root):
            raise BenchError(f"source directory {root} missing: run from a checkout root")
        for dp, _, fs in os.walk(root):
            srcs += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    srcs.sort()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    out = os.path.abspath(f"{BUILD}/classes-{h.hexdigest()[:16]}")
    if os.path.isdir(out):
        return out
    jars = spark_jars()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", f"{jars}/*", *srcs],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    os.rename(tmp, out)
    log(f"compiled in {time.time() - t0:.1f}s")
    return out


def classpath(classes):
    return f"{classes}:{spark_jars()}/*"


def prepare_data(scale, classes, cores):
    """Base tables, generated once per checkout and scale."""
    sf, n_docs = SCALES[scale]
    root = os.path.abspath(f"{BUILD}/data-v{gen.GEN_VERSION}-{scale}")
    if os.path.exists(f"{root}/DONE"):
        return root
    shutil.rmtree(root, ignore_errors=True)
    t0 = time.time()
    gen.gen_star(f"{root}/star", sf)
    gen.gen_documents(f"{root}/docs1x", n_docs)
    # the 4x corpus comes from the library's own scale-up generator
    cmd, work = java_cmd(classpath(classes), "graft.ScaleGen",
                         [f"{root}/docs1x", f"{root}/docs4x", 4])
    env = dict(os.environ, SPARK_GRAFT_SCALEGEN_TABLES="documents", SPARK_GRAFT_CPUS=str(cores))
    r = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=600)
    if r.returncode != 0:
        raise BenchError("ScaleGen failed:\n" + r.stdout[-4000:])
    open(f"{root}/DONE", "w").close()
    log(f"generated inputs in {time.time() - t0:.1f}s")
    return root


# ------------------------------------------------------------- metrics

LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_pick(samples, min_beyond=10):
    """Highest ladder percentile (nearest rank) with at least `min_beyond`
    samples above it, as (percentile, value); None when no percentile has."""
    xs = sorted(samples)
    n = len(xs)
    for p in LADDER:
        k = max(1, -(-int(p * 10) * n // 1000))  # ceil(p/100 * n)
        if n - k >= min_beyond:
            return p, xs[k - 1]
    return None


def load_expected(scale):
    path = os.path.join(HERE, "expected.json")
    if not os.path.exists(path):
        return {}
    return json.load(open(path)).get(scale, {})


def judge(ops, expected, summary, plan_lines, workload):
    """Mark each op ok/failed: an exception, a missing expectation or a
    digest mismatch is a failure. Returns (attempted, failed, notes)."""
    notes = []
    batch_expect = {}
    if workload == "ingest":
        for line in plan_lines:
            f = line.split("\t")
            batch_expect[f[1]] = dict(kv.split("=", 1) for kv in f[2:])
    for op in ops:
        if op.get("error"):
            op["ok"] = False
            continue
        want = (batch_expect.get(op["key"], {}).get("expect") if workload == "ingest"
                else expected.get(op["key"]))
        op["ok"] = want is not None and op.get("digest") == want
        if not op["ok"] and len(notes) < 5:
            notes.append(f"{op['key']}: got {op.get('digest')} want {want}")
    if workload == "ingest" and ops:
        last = batch_expect.get(ops[-1]["key"], {})
        want = int(last.get("index_after", -1))
        got = (summary.get("index_rows"), summary.get("index_distinct"))
        if got != (want, want):
            ops[-1]["ok"] = False
            notes.append(f"index rows/distinct {got}, want {want}")
    failed = sum(1 for o in ops if not o["ok"])
    if summary.get("setup_error"):
        notes.append("setup: " + summary["setup_error"])
    return len(ops), failed, notes


def failed_frac(attempted, failed):
    return failed / attempted if attempted else 1.0


def m(value, unit):
    return {"value": value, "unit": unit}


def setup_s(summary):
    """Median of the repeated session + table set-ups, plus the warm pass."""
    return statistics.median(summary["setup_loaded_s"]) + summary["warm_s"]


def end_to_end(ops, summary):
    lat = [o["ms"] for o in ops]
    busy = max(summary["run_s"] - summary["check_s"], 1e-9)
    return {
        "setup_s": m(setup_s(summary), "s"),
        "op_p50_ms": m(statistics.median(lat), "ms"),
        "items_per_s": m(sum(o["items"] for o in ops) / busy, "1/s"),
    }


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a, b):
    return a / b if b else 0.0


def _union_ms(intervals, lo, hi):
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def per_layer(ops, summary, events, cores):
    traced = [o for o in ops if o["traced"]]
    n = max(1, len(traced))

    def owner(t):
        for o in traced:
            if o["start_ms"] <= t <= o["end_ms"]:
                return o
        return None

    jobs, starts = {}, {}
    tasks, stages, progress = [], 0, {}
    for e in events:
        ev = e["ev"]
        if ev == "job_start":
            starts[e["job"]] = e["t"]
        elif ev == "job_end" and e["job"] in starts:
            o = owner(starts[e["job"]])
            if o:
                jobs.setdefault(o["i"], []).append((starts[e["job"]], e["t"]))
        elif ev == "stage" and owner(e["t"]):
            stages += 1
        elif ev == "task" and owner(e["t"]):
            tasks.append(e)
        elif ev == "progress":
            o = max((x for x in traced if x["start_ms"] <= e["t"]),
                    key=lambda x: x["start_ms"], default=None)
            if o:
                progress.setdefault(o["i"], []).append(e)
    wall_ms = sum(o["ms"] for o in traced)
    run_ms = sum(t["run_ms"] for t in tasks)
    driver_only = sum(o["end_ms"] - o["start_ms"] -
                      _union_ms(jobs.get(o["i"], []), o["start_ms"], o["end_ms"])
                      for o in traced)
    mb = 1048576.0
    out = {
        "exec.jobs_per_op": sum(len(v) for v in jobs.values()) / n,
        "exec.stages_per_op": stages / n,
        "exec.tasks_per_op": len(tasks) / n,
        "exec.driver_only_ms_per_op": driver_only / n,
        "exec.task_run_s_per_op": run_ms / 1000.0 / n,
        "exec.busy_share": _ratio(run_ms, wall_ms * cores),
        "exec.gc_ms_per_op": sum(t["gc_ms"] for t in tasks) / n,
        "exec.shuffle_write_mb_per_op": sum(t["sw_bytes"] for t in tasks) / mb / n,
        "exec.shuffle_read_mb_per_op": sum(t["sr_bytes"] for t in tasks) / mb / n,
        "exec.spill_mb_per_op": sum(t["spill_bytes"] for t in tasks) / mb / n,
        "session.build_s": statistics.median(summary["session_build_s"] or [0.0]),
        "tables.load_s": statistics.median(summary["tables_load_s"] or [0.0]),
        "setup.warm_s": summary["warm_s"],
        "tables.cached_mb": summary["tables_cached_mb"],
        "tables.cached_scan_share": _ratio(sum(o.get("cached_scans", 0) for o in traced),
                                           sum(o.get("scans", 0) for o in traced)),
        "plan.analyze_ms": _mean(o["call_ms"] for o in traced),
        "plan.optimize_ms": _mean(o.get("optimize_ms", 0) for o in traced),
        "plan.physical_ms": _mean(o.get("physical_ms", 0) for o in traced),
        "plans.graft_rules_ms": sum(o.get("graft_rules_ns", 0) for o in traced) / 1e6 / n,
        "plans.graft_rules_effective": _ratio(sum(o.get("graft_rules_eff", 0) for o in traced),
                                              sum(o.get("graft_rules_inv", 0) for o in traced)),
        "caches.persisted_rdds_peak": summary["persisted_peak"],
        "caches.loans_outstanding": _mean(o.get("loans_outstanding", 0) for o in traced),
        "caches.end_cached_mb": summary["cached_mb_end"],
    }
    # stages timed on their own after the measured loop: the text functions
    # (ingest and curation), each funnel stage (curation only)
    out["functions.gates_s"] = 0.0
    out.update(summary.get("stages") or {})
    # the sources metrics come from the harness's own timers, on every batch;
    # the streaming ones need the listener, so traced batches only
    batches = [o for o in ops if "append_ms" in o]
    pr = [(o, progress.get(o["i"], [])) for o in batches if o["traced"]]
    out.update({
        "streaming.start_ms": _mean(min(e["t"] for e in ps) - o["start_ms"] for o, ps in pr if ps),
        "streaming.get_batch_ms": _mean(sum(e["get_batch"] + e["latest_offset"] for e in ps)
                                        for _, ps in pr),
        "streaming.add_batch_ms": _mean(sum(e["add_batch"] for e in ps) for _, ps in pr),
        "streaming.commit_ms": _mean(sum(e["wal_commit"] + e["commit"] for e in ps)
                                     for _, ps in pr),
        "streaming.query_planning_ms": _mean(sum(e["planning"] for e in ps) for _, ps in pr),
        "sources.append_ms": _mean(o["append_ms"] for o in batches),
        "sources.index_files": _mean(o["index_files"] for o in batches),
        "sources.compact_ms": _mean(o["compact_ms"] for o in batches if o["compact_ms"] > 0),
        "sources.files_written_per_batch": _mean(o["out_files"] + o["append_files"]
                                                 for o in batches),
        "sources.bytes_written_per_input_byte": _ratio(
            sum(o["out_bytes"] + o["append_bytes"] for o in batches),
            sum(o["in_bytes"] for o in batches)),
    })
    tail = tail_pick([o["ms"] for o in ops])
    out.update({"e2e.ops": len(ops),
                "e2e.op_tail_pct": tail[0] if tail else 0,
                "e2e.op_tail_ms": tail[1] if tail else 0,
                "trace.overhead_pct": overhead_pct(ops)})
    return {k: m(v, unit_of(k)) for k, v in out.items()}


def overhead_pct(ops):
    """Traced rounds vs untraced rounds of the same run: geometric mean over
    templates of the mean-latency ratio, as a percentage. Ingest batches that
    compact the index are left out, so that traced and untraced batches do
    the same work."""
    ops = [o for o in ops if not o.get("compact_ms")]
    ratios = []
    for t in {o["template"] for o in ops}:
        a = [o["ms"] for o in ops if o["template"] == t and o["traced"]]
        b = [o["ms"] for o in ops if o["template"] == t and not o["traced"]]
        if a and b:
            ratios.append(_mean(a) / _mean(b))
    if not ratios:
        return 0.0
    g = 1.0
    for r in ratios:
        g *= r
    return (g ** (1 / len(ratios)) - 1) * 100


def unit_of(name):
    last = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_ms_per_op", "ms"), ("_s_per_op", "s"), ("_mb_per_op", "MB"),
                         ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_pct", "%"),
                         ("_share", "ratio"), ("_effective", "ratio"),
                         ("_per_input_byte", "ratio")):
        if last.endswith(suffix):
            return unit
    return "count"


def self_times(spans, events):
    """Per span name: count, total and self time (span minus the part of it
    its children cover). Scheduler jobs become child spans of the innermost
    span of their op that contains them."""
    starts = {e["job"]: e["t"] for e in events if e["ev"] == "job_start"}
    jid = max([s["id"] for s in spans] + [0])
    for e in events:
        if e["ev"] == "job_end" and e["job"] in starts:
            t0 = starts[e["job"]]
            holders = [s for s in spans if s["op"] >= 0 and s["start_ms"] <= t0 <= s["end_ms"]]
            if holders:
                parent = min(holders, key=lambda s: s["end_ms"] - s["start_ms"])
                jid += 1
                spans.append({"id": jid, "name": "exec.job", "start_ms": t0, "end_ms": e["t"],
                              "parent": parent["id"], "op": parent["op"]})
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    table = {}
    for s in spans:
        d = s["end_ms"] - s["start_ms"]
        own = d - _union_ms(kids.get(s["id"], []), s["start_ms"], s["end_ms"])
        c, tot, slf = table.get(s["name"], (0, 0.0, 0.0))
        table[s["name"]] = (c + 1, tot + d, slf + own)
    return spans, table


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    return [json.loads(l) for l in open(path) if l.strip()]


# ----------------------------------------------------------------- main

def run(args):
    t_start = time.time()
    cores = os.cpu_count() or 1
    classes = build()
    data = prepare_data(args.scale, classes, cores)
    run_dir = os.path.abspath(f"{BUILD}/runs/{args.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    gen.write_plan(args.workload, args.seed, run_dir, f"{data}/docs4x/documents.parquet",
                   every_combo=args.pin)
    table_dir = args.data_dir or (f"{data}/star" if args.workload == "dashboard"
                                  else f"{data}/docs4x")
    table_dir = os.path.abspath(table_dir)
    out = f"{run_dir}/out"
    cmd, work = java_cmd(classpath(classes), "perfbench.PerfBench",
                         [args.workload, table_dir, f"{run_dir}/plan.tsv", out, args.seconds,
                          args.trace, cores])
    budget = max(30, JVM_TIMEOUT_S - (time.time() - t_start))
    with open(f"{run_dir}/jvm.log", "w") as logf:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                               timeout=budget)
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness exceeded {budget:.0f}s; see {run_dir}/jvm.log")
    if r.returncode != 0 or not os.path.exists(f"{out}/summary.json"):
        tail = open(f"{run_dir}/jvm.log").read()[-3000:]
        raise BenchError(f"harness exited {r.returncode}:\n{tail}")
    shutil.rmtree(f"{out}/scratch", ignore_errors=True)
    summary = json.load(open(f"{out}/summary.json"))
    ops = read_jsonl(f"{out}/ops.jsonl")
    if not ops:
        raise BenchError("harness measured no operation")
    plan_lines = open(f"{run_dir}/plan.tsv").read().splitlines()
    expected = {} if args.pin else load_expected(args.scale)
    attempted, failed, notes = judge(ops, expected, summary, plan_lines, args.workload)
    for note in notes:
        log("check: " + note)
    if args.pin:
        return {o["key"]: o["digest"] for o in ops}
    if args.trace == 1:
        events = read_jsonl(f"{out}/events.jsonl")
        metrics = per_layer(ops, summary, events, cores)
        spans, table = self_times(read_jsonl(f"{out}/spans.jsonl"), events)
        with open(f"{out}/spans.jsonl", "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in spans)
        log(f"spans written to {out}/spans.jsonl")
        log(f"{'span':34} {'count':>6} {'total_ms':>10} {'self_ms':>10}")
        for name, (c, tot, slf) in sorted(table.items(), key=lambda kv: -kv[1][2]):
            log(f"{name:34} {c:6d} {tot:10.0f} {slf:10.0f}")
    else:
        metrics = end_to_end(ops, summary)
    log(f"{args.workload}: {attempted} ops, {failed} failed "
        f"(failed_frac {failed_frac(attempted, failed):.3f}), "
        f"cached_mb_end {summary['cached_mb_end']:.1f}")
    return {"correct": failed == 0 and not summary.get("setup_error"),
            "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "curation", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    ap.add_argument("--data-dir", default=None)
    args = ap.parse_args(argv)
    args.pin = False  # pin.py calls run() with pin=True
    try:
        result = run(args)
    except (BenchError, OSError, ValueError, subprocess.SubprocessError) as e:
        log(f"error: {e}")
        return 2
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
