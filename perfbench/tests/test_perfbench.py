"""Tests of the benchmark itself:

    python3 -m unittest discover -s perfbench/tests -v

The digest test compiles the program and the harness on first use (about
a minute and a half) and starts one small Spark session."""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402


def call(op, ok=True, unit=0, digest="d"):
    return {"op": op, "ok": ok, "unit": unit, "traced": False, "seconds": 1.0,
            "digest": digest}


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(stats.tail(range(1, 101)), (90, 90))
        # 99 samples: only 9 lie beyond p90, so the tail falls back to p75
        self.assertEqual(stats.tail(range(1, 100)), (75, 75))

    def test_small_samples_report_the_median_or_nothing(self):
        self.assertEqual(stats.tail(range(1, 21)), (50, 10))
        self.assertIsNone(stats.tail(range(1, 20)))
        self.assertIsNone(stats.tail([]))

    def test_ties_at_the_percentile_are_not_beyond_it(self):
        self.assertIsNone(stats.tail([1.0] * 50 + [2.0] * 9))
        self.assertEqual(stats.tail([1.0] * 50 + [2.0] * 10), (75, 1.0))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class FailedAccounting(unittest.TestCase):
    def test_thrown_call_counts_as_failed(self):
        calls = [call("a"), call("b", ok=False), call("a")]
        self.assertEqual(stats.failures(calls, []), (3, 1))

    def test_failed_check_fails_every_call_of_its_ops(self):
        calls = [call("a"), call("b"), call("a"), call("c")]
        checks = [{"name": "x", "ok": False, "ops": ["a"]},
                  {"name": "y", "ok": True, "ops": ["b", "c"]}]
        self.assertEqual(stats.failures(calls, checks), (4, 2))

    def test_a_call_is_counted_once(self):
        calls = [call("a", ok=False)]
        checks = [{"name": "x", "ok": False, "ops": ["a"]},
                  {"name": "y", "ok": False, "ops": ["a"]}]
        self.assertEqual(stats.failures(calls, checks), (1, 1))

    def test_unstable_digest_ignores_warmup(self):
        calls = [call("a", unit=-1, digest="slice"), call("a", digest="full"),
                 call("a", unit=1, digest="full"), call("b", digest="1"),
                 call("b", unit=1, digest="2")]
        self.assertEqual(stats.unstable_digests(calls), ["b"])


class Inputs(unittest.TestCase):
    def test_tables_are_a_function_of_the_seed(self):
        a, b, c = tables.tables(3), tables.tables(3), tables.tables(4)
        for name, rows in tables.ROWS.items():
            self.assertEqual(a[name].num_rows, rows)
            self.assertTrue(a[name].equals(b[name]))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_oracle_canon_is_order_independent(self):
        rows = [(1, "x", 0.1 + 0.2), (2, "y", -0.0)]
        self.assertEqual(oracle._canon(rows, ["a", "b", "c"]),
                         oracle._canon([(r[2], r[1], r[0]) for r in reversed(rows)],
                                       ["c", "b", "a"]))

    def test_build_refuses_a_tree_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            with self.assertRaises(build.BuildError):
                build.jar_dir(d)
            open(os.path.join(d, "build.sbt"), "w").close()
            with self.assertRaises(build.BuildError):
                build.sources(d)


class DigestOrderIndependence(unittest.TestCase):
    def test_selftest(self):
        b = build.build()
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "tmp"))
            r = subprocess.run(b.java(d, main="graft.perfbench.SelfTest"),
                               capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])
        self.assertNotIn("FAIL", r.stdout)


if __name__ == "__main__":
    unittest.main()
