"""Tests of the benchmark's own rules.

    python3 -m unittest discover -s graftbench -p 'test_*.py'

The last test starts one JVM (about 20 s); it is skipped when the sf0.1
data is absent.
"""
import contextlib
import io
import json
import os
import unittest
from pathlib import Path

import run

QUERIES = ["a", "b", "c", "d", "e", "f"]


def harness(samples, checked, walls=(1.0,)):
    return {
        "setup": {"setup_s": 3.5},
        "checked": checked,
        "warm": [],
        "samples": samples,
        "passes": [{"pass": i + 1, "traced": False, "wall_s": w}
                   for i, w in enumerate(walls)],
        "peak_rss_mb": 900.0,
    }


def sample(query, secs, error=None):
    return {"query": query, "pass": 1, "secs": secs, "error": error}


def checked(query, rows=3, hash_="7", error=None):
    return {"query": query, "rows": rows, "hash": hash_, "secs": 0.1, "error": error}


class P90Rule(unittest.TestCase):
    def test_needs_ten_samples_beyond_it(self):
        self.assertIsNone(run.p90_if_supported([0.1] * 99))
        values = [i / 100 for i in range(100)]
        p90 = run.p90_if_supported(values)
        self.assertIsNotNone(p90)
        self.assertGreaterEqual(sum(1 for v in values if v > p90), 10)

    def test_summary_omits_p90_below_the_rule(self):
        out = run.summarize(harness([sample("a", 0.2)] * 40, [checked("a")]),
                            {"a": {"rows": 3, "hash": "7"}})
        self.assertIsNone(out["query_p90_s"])
        self.assertEqual(out["sample_count"], 40)


class SeedPermutation(unittest.TestCase):
    def test_same_seed_same_order(self):
        self.assertEqual(run.pass_orders(QUERIES, 7, 20), run.pass_orders(QUERIES, 7, 20))

    def test_other_seed_other_order(self):
        self.assertNotEqual(run.pass_orders(QUERIES, 7, 20), run.pass_orders(QUERIES, 8, 20))

    def test_every_query_once_per_pass(self):
        for order in run.pass_orders(QUERIES, 3, 50):
            self.assertEqual(sorted(order), QUERIES)


class TimedPasses(unittest.TestCase):
    def test_whole_passes_that_fit(self):
        self.assertEqual(run.timed_passes(20, 5.5, 0), 3)
        self.assertEqual(run.timed_passes(20, 8.0, 0), 2)

    def test_at_least_one_pass_and_two_when_traced(self):
        self.assertEqual(run.timed_passes(0, 5.5, 0), 1)
        self.assertEqual(run.timed_passes(0, 5.5, 1), 2)


class FailureCounting(unittest.TestCase):
    expected = {"a": {"rows": 3, "hash": "7"}, "b": {"rows": 3, "hash": "9"}}

    def test_throwing_and_mismatching_queries_count_as_failed(self):
        out = run.summarize(harness(
            [sample("a", 0.5), sample("b", None, "boom"), sample("a", 0.7)],
            [checked("a", hash_="8"), checked("b", hash_="9")]), self.expected)
        self.assertEqual(out["attempted"], 5)
        self.assertEqual(out["failed"], 2)
        self.assertEqual(out["mismatched"], ["a"])
        self.assertFalse(out["correct"])

    def test_failed_samples_are_not_timed(self):
        out = run.summarize(harness(
            [sample("a", 0.5), sample("b", None, "boom"), sample("a", 0.7)],
            [checked("a"), checked("b", hash_="9")]), self.expected)
        self.assertEqual(out["sample_count"], 2)
        self.assertAlmostEqual(out["metrics"]["query_p50_s"], 0.6)

    def test_unrecorded_query_is_a_mismatch(self):
        self.assertEqual(run.check_results([checked("z")], self.expected), ["z"])

    def test_clean_run_is_correct(self):
        out = run.summarize(harness([sample("a", 0.5)], [checked("a"), checked("b", hash_="9")]),
                            self.expected)
        self.assertEqual((out["failed"], out["correct"]), (0, True))


class BenchmarkJson(unittest.TestCase):
    def test_metric_names_and_units_match_the_runner(self):
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertLessEqual({w["name"] for w in spec["workloads"]},
                             set(json.loads(run.WORKLOADS.read_text())))


@unittest.skipUnless(Path(os.environ.get(
    "GRAFT_BENCH_DATA", Path.home() / "testdata" / "sf0.1")).is_dir(), "no sf0.1 data")
class BrokenQuery(unittest.TestCase):
    def test_broken_query_is_counted_not_dropped_or_timed(self):
        out = io.StringIO()
        with contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
            code = run.main(["--workload", "dashboard", "--seed", "424242", "--seconds", "0",
                             "--queries", "a3_scalar_count,no_such_query"])
        self.assertEqual(code, 0)
        line = json.loads(out.getvalue().strip().splitlines()[-1])
        # the check, warm-up and timed passes each attempt both queries;
        # the broken one fails in all three
        self.assertEqual((line["attempted"], line["failed"]), (6, 3))
        self.assertFalse(line["correct"])
        artifact = json.loads((run.RUNS / "dashboard-s424242-t0" / "artifact.json").read_text())
        self.assertEqual(artifact["sample_count"], 1)
        self.assertEqual(artifact["mismatched"], ["no_such_query"])


if __name__ == "__main__":
    unittest.main()
