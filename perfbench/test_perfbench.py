#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py            (from the checkout root)

Unit tests of the percentile picker, failure accounting and digest, plus a
smoke run of every workload on tiny inputs (builds the harness on first use)
and a run against a missing data directory, which must fail every operation.
Set PERFBENCH_SKIP_SMOKE=1 to run the unit tests only.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import digest  # noqa: E402
import run  # noqa: E402


class TailPick(unittest.TestCase):
    def test_refuses_percentile_with_fewer_than_ten_beyond(self):
        self.assertIsNone(run.tail_pick(range(10)))
        self.assertIsNone(run.tail_pick(range(19)))  # p50 would leave 9 beyond

    def test_picks_highest_qualifying_percentile(self):
        self.assertEqual(run.tail_pick(range(1, 21)), (50.0, 10))
        self.assertEqual(run.tail_pick(range(1, 101)), (90.0, 90))
        self.assertEqual(run.tail_pick(range(1, 1001)), (99.0, 990))


def op(key, digest_, error=None):
    return {"key": key, "digest": digest_, "error": error}


class Accounting(unittest.TestCase):
    def test_failed_frac_counts_errors_mismatches_and_unpinned(self):
        ops = [op("a", "d1"), op("b", "wrong"), op("c", None, "boom"), op("unpinned", "x")]
        attempted, failed, _ = run.judge(ops, {"a": "d1", "b": "d2", "c": "d3"}, {}, [],
                                         "dashboard")
        self.assertEqual((attempted, failed), (4, 3))
        self.assertEqual(run.failed_frac(attempted, failed), 0.75)
        self.assertEqual([o["ok"] for o in ops], [True, False, False, False])

    def test_digest_mismatch_is_a_failure(self):
        ops = [op("a", "1:aa:00")]
        self.assertEqual(run.judge(ops, {"a": "1:aa:01"}, {}, [], "dashboard")[1], 1)

    def test_ingest_index_invariant(self):
        plan = ["batch\tb000\tdir=x\trows=2\texpect=2:h:s\tindex_after=7"]
        ok = [op("b000", "2:h:s")]
        self.assertEqual(run.judge(ok, {}, {"index_rows": 7, "index_distinct": 7}, plan,
                                   "ingest")[1], 0)
        dup = [op("b000", "2:h:s")]
        self.assertEqual(run.judge(dup, {}, {"index_rows": 8, "index_distinct": 7}, plan,
                                   "ingest")[1], 1)


class MetricNames(unittest.TestCase):
    """The metrics a run prints are exactly those BENCHMARK.json lists."""

    def setUp(self):
        self.spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
        self.ops = [{"i": 0, "template": "t", "key": "t|", "start_ms": 0, "end_ms": 5,
                     "ms": 5.0, "call_ms": 1.0, "items": 1, "traced": True}]
        self.summary = {"setup_loaded_s": [2.0, 1.0, 1.5], "warm_s": 1.0, "run_s": 1.0,
                        "check_s": 0.1, "session_build_s": [0.1], "tables_load_s": [0.9],
                        "tables_cached_mb": 1.0, "cached_mb_end": 1.0, "persisted_peak": 0}

    def names_units(self, metrics):
        return {k: v["unit"] for k, v in metrics.items()}

    def test_end_to_end(self):
        want = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        self.assertEqual(self.names_units(run.end_to_end(self.ops, self.summary)), want)
        self.assertEqual(run.setup_s(self.summary), 2.5)

    def test_per_layer(self):
        want = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        self.assertEqual(self.names_units(run.per_layer(self.ops, self.summary, [], 4)), want)


class Digest(unittest.TestCase):
    def test_canonical_numbers(self):
        self.assertEqual(digest.canon(1200), "1200")
        self.assertEqual(digest.canon(-0.0), "0")
        self.assertEqual(digest.canon(1.0), "L0")
        self.assertEqual(digest.canon(-1.0), "-L0")
        # summation-order noise is ignored, even at a decimal tie
        self.assertEqual(digest.canon(0.1 + 0.2), digest.canon(0.3))
        self.assertEqual(digest.canon(254651.93324999989), digest.canon(254651.93325))
        # a relative change of 1e-5 is not
        self.assertNotEqual(digest.canon(254651.93), digest.canon(254654.48))

    def test_order_insensitive_and_column_sensitive(self):
        a = digest.of_rows(["x", "y"], [(1, "a"), (2, "b")])
        self.assertEqual(a, digest.of_rows(["y", "x"], [("b", 2), ("a", 1)]))
        self.assertNotEqual(a, digest.of_rows(["x", "z"], [(1, "a"), (2, "b")]))
        self.assertNotEqual(a, digest.of_rows(["x", "y"], [(1, "a"), (2, "c")]))


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True,
                       timeout=900)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if lines else None)


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_SMOKE"), "smoke runs skipped")
class Smoke(unittest.TestCase):
    def test_each_workload_passes_on_tiny_inputs(self):
        for w in ("dashboard", "curation", "ingest"):
            with self.subTest(workload=w):
                code, res = bench("--workload", w, "--seed", "3", "--seconds", "1",
                                  "--scale", "smoke")
                self.assertEqual(code, 0)
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreater(res["metrics"]["op_p50_ms"]["value"], 0)

    def test_missing_data_dir_fails_every_operation(self):
        for w in ("dashboard", "ingest"):
            with self.subTest(workload=w):
                code, res = bench("--workload", w, "--seed", "3", "--seconds", "1",
                                  "--scale", "smoke",
                                  "--data-dir", ".bench_build/no-such-dir")
                self.assertEqual(code, 1)
                self.assertFalse(res["correct"])
                self.assertEqual(res["failed"], res["attempted"])


if __name__ == "__main__":
    unittest.main()
