"""Tests of the benchmark's own arithmetic and failure path.

    python3 -m unittest discover -s perfbench/tests

The failure-path test builds and starts the harness JVM, so it needs
SPARK_HOME and takes about half a minute on a cold build.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_none_below_ten_samples_beyond_the_median(self):
        self.assertIsNone(metrics.tail_percentile(range(19)))

    def test_median_when_exactly_ten_lie_beyond_it(self):
        p, value, beyond = metrics.tail_percentile(range(1, 21))
        self.assertEqual((p, value, beyond), (50, 10, 10))

    def test_highest_percentile_with_ten_beyond(self):
        # 100 samples: p90's nearest rank is 90, leaving exactly 10 above it;
        # p95 would leave 5
        p, value, beyond = metrics.tail_percentile([float(x) for x in range(1, 101)])
        self.assertEqual((p, value, beyond), (90, 90.0, 10))

    def test_unsorted_input(self):
        xs = list(range(1, 41))[::-1]
        p, value, beyond = metrics.tail_percentile(xs)
        self.assertEqual((p, value, beyond), (75, 30, 10))


class DriverSelf(unittest.TestCase):
    def test_gaps_between_jobs_are_driver_time(self):
        self.assertAlmostEqual(metrics.driver_self((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_jobs_count_once(self):
        self.assertAlmostEqual(metrics.driver_self((0, 10), [(1, 5), (2, 6), (4, 7)]), 4)

    def test_jobs_outside_the_span_are_clipped(self):
        self.assertAlmostEqual(metrics.driver_self((2, 8), [(0, 3), (7, 12), (20, 30)]), 4)

    def test_a_span_without_jobs_is_all_driver_time(self):
        self.assertAlmostEqual(metrics.driver_self((1.5, 4), []), 2.5)


class WriteAttribution(unittest.TestCase):
    roots = {"lake": "/w/batch/lake", "wh": "/w/batch/wh", "dump": "/w/batch/dump"}

    def layer(self, path):
        return metrics.classify_write(path, self.roots)

    def test_lake_landing(self):
        self.assertEqual(self.layer("file:/w/batch/lake/datalake/src/erp/public/orders"),
                         "io.lake_write")

    def test_journal_staging_and_append(self):
        self.assertEqual(self.layer("file:/w/batch/wh/dwh/order_state__journal__tmp_1a2b3c4d"),
                         "io.journal_write")
        self.assertEqual(self.layer("/w/batch/wh/dwh/order_state__journal"), "io.journal_write")

    def test_master_replace(self):
        self.assertEqual(self.layer("file:/w/batch/wh/dwh/order_state__tmp_1a2b3c4d"),
                         "merge.master_write")

    def test_run_ledger(self):
        self.assertEqual(self.layer("file:///w/batch/dump/_graft_run_ledger"), "exec.ledger_write")

    def test_elsewhere(self):
        self.assertEqual(self.layer("file:/w/batch/lakehouse/x"), "other")
        self.assertEqual(self.layer("file:/w/out/q13_near_dup_jaccard"), "other")


class Counts(unittest.TestCase):
    def test_failed_checks_count_as_failed_ops(self):
        raw = {"ops": [{"kind": "setup", "ok": True}, {"kind": "prepare", "ok": True},
                       {"kind": "op", "ok": True}, {"kind": "op", "ok": False}],
               "checks": [{"ok": True}, {"ok": False}]}
        self.assertEqual(metrics.counts(raw), (5, 2))

    def test_nothing_attempted_is_one_failure(self):
        self.assertEqual(metrics.counts({"ops": [], "checks": []}), (1, 1))


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics the runner prints."""

    def test_metric_names_and_units_match_the_runner(self):
        import run
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         metrics.per_layer_names(run.CURATION_QUERIES))
        self.assertTrue({w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS))


class GeneratedCorpus(unittest.TestCase):
    """The generated curation corpus has the fixture corpus's shape
    (README.md lists the fixture's figures)."""

    def test_shape_matches_the_fixture_figures(self):
        import tempfile
        import numpy as np
        import corpus_stats
        import gen
        with tempfile.TemporaryDirectory() as out:
            gen.documents(np.random.default_rng(7), 500, out)
            s = corpus_stats.stats(os.path.join(out, "documents.parquet"))
        self.assertEqual((s["rows"], s["vocabulary"], s["sources"]), (500, 31, 20))
        self.assertTrue(s["marker_in_vocabulary"])
        # 10-99 tokens, plus the marker on a near-duplicate
        self.assertEqual(s["tokens"][0], 10)
        self.assertIn(s["tokens"][-1], (99, 100))
        self.assertAlmostEqual(s["langs"]["en"], 0.4, delta=0.06)
        self.assertAlmostEqual(s["near_dup_share"], 0.05, delta=0.02)


@unittest.skipUnless(os.environ.get("SPARK_HOME"), "needs a Spark install")
class FailurePath(unittest.TestCase):
    def test_missing_input_dir_fails_every_op(self):
        missing = os.path.join(ROOT, ".bench_build", "no-such-input")
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "dwh_batch",
                            "--seed", "1", "--seconds", "1", "--trace", "1", "--input", missing],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertNotEqual(p.returncode, 0)
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], result["attempted"])
        self.assertEqual(result["metrics"]["error_rate"]["value"], 1.0)


if __name__ == "__main__":
    unittest.main()
