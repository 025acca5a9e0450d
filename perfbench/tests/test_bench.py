"""The benchmark's own tests.

  python3 -m unittest discover -s perfbench/tests -v

from the root of a checkout. The smoke tests build the harness (first
run only), then run every workload on tiny inputs, with tracing off and
on, and check that every metric BENCHMARK.json names is printed with its
unit. One run demands a wrong output hash and must fail its check.
"""
import contextlib
import io
import json
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import compare  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(workload, trace, *extra):
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny",
                        *extra], cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p


class Declarations(unittest.TestCase):
    def test_benchmark_json_matches_the_harness(self):
        self.assertLessEqual({w["name"] for w in SPEC["workloads"]}, set(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in SPEC["end_to_end"]], metrics.E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in SPEC["per_layer"]],
                         metrics.PER_LAYER)
        setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(m["bound"] for m in SPEC["end_to_end"]))


class Metrics(unittest.TestCase):
    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_quantile(200), 0.9)
        self.assertAlmostEqual(metrics.tail_quantile(40), 0.75)
        self.assertEqual(metrics.tail_quantile(12), 0.5)

    def test_the_passes_with_least_steal_count(self):
        passes = [{"pass": i, "steal_frac": f} for i, f in enumerate([0.0, 0.05, 0.002, 0.0])]
        self.assertEqual([p["pass"] for p in metrics.counted(passes, 3)], [0, 2, 3])
        self.assertEqual([p["pass"] for p in metrics.counted(passes[:3], 3)], [0, 1, 2])

    def test_self_times_partition_the_operation(self):
        spans = [
            {"id": 1, "parent": 0, "trace": 1, "name": "query", "start": 0.0, "end": 1000.0},
            {"id": 2, "parent": 1, "trace": 1, "name": "queries.build", "start": 0.0, "end": 600.0},
            {"id": 3, "parent": 2, "trace": 1, "name": "spark.job", "start": 100.0, "end": 300.0},
            {"id": 4, "parent": 3, "trace": 1, "name": "spark.stage", "start": 150.0, "end": 250.0},
            {"id": 5, "parent": 1, "trace": 1, "name": "write", "start": 600.0, "end": 950.0},
        ]
        t = metrics.self_times(spans)
        self.assertAlmostEqual(t["queries"], 0.4)
        self.assertAlmostEqual(t["spark"], 0.2)
        self.assertAlmostEqual(t["plans"], 0.35)
        self.assertAlmostEqual(t["bench"], 0.05)
        self.assertAlmostEqual(sum(t.values()), 1.0)

    def test_wrong_expected_hash_fails_the_check(self):
        ops = [{"pass": p, "name": "q1", "key": "q1_x", "ok": True, "rows": 3,
                "hsum": "10", "hxor": "5"} for p in (-1, 0)]
        cfg = {"mode": "queries", "non_empty": True}
        self.assertEqual(metrics.check({"ops": ops}, cfg, None, {}), [])
        bad = metrics.check({"ops": ops}, cfg, None, {"q1": "0" * 16})
        self.assertEqual(len(bad), 2)

    def test_changed_output_fails_the_check(self):
        ops = [{"pass": p, "name": "q1", "key": "q1_x", "ok": True, "rows": 3,
                "hsum": h, "hxor": "5"} for p, h in ((-1, "10"), (0, "11"))]
        bad = metrics.check({"ops": ops}, {"mode": "queries"}, None, {})
        self.assertEqual([(f["pass"], f["name"]) for f in bad], [(0, "q1")])


class Compare(unittest.TestCase):
    def result(self, trace, pass_s, cpu_s=4.0):
        r = {"workload": "w", "seed": 1, "trace": trace, "end_to_end": {"pass_s": pass_s}}
        if trace:
            r["per_layer"] = {"plans.fingerprint": 7, "spark.jobs": 3.0,
                              "spark.shuffle_read_mb": 1.0, "spark.shuffle_write_mb": 1.0,
                              "plans.exchanges": 2, "spark.task_cpu_s": cpu_s}
            r["per_query_fingerprint"] = {"q1": 7}
        return r

    def run_compare(self, before, after):
        spec = {"end_to_end": [{"name": "pass_s", "unit": "s", "better": "lower",
                                "bound": 0.25}]}
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            worse = compare.compare_workload("w", before, after, spec)
        return worse, out.getvalue()

    def test_a_regression_is_flagged_as_drift_and_still_fails(self):
        before = [self.result(1, 4.0), self.result(0, 4.0)]
        after = [self.result(1, 6.0), self.result(0, 6.0)]
        worse, text = self.run_compare(before, after)
        self.assertTrue(worse)
        self.assertIn("probable host drift", text)

    def test_no_drift_note_when_task_cpu_moved(self):
        before = [self.result(1, 4.0), self.result(0, 4.0)]
        after = [self.result(1, 6.0, cpu_s=6.0), self.result(0, 6.0)]
        worse, text = self.run_compare(before, after)
        self.assertTrue(worse)
        self.assertNotIn("probable host drift", text)


class Smoke(unittest.TestCase):
    def test_every_workload_prints_every_metric_with_its_unit(self):
        for w in run.WORKLOADS:
            for trace, declared in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                with self.subTest(workload=w, trace=trace):
                    rc, line, p = bench(w, trace)
                    self.assertEqual(rc, 0, p.stdout[-2000:] + p.stderr[-2000:])
                    self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(line["correct"])
                    self.assertEqual(line["failed"], 0)
                    self.assertGreater(line["attempted"], 0)
                    self.assertEqual(set(line["metrics"]), {m["name"] for m in declared})
                    for m in declared:
                        got = line["metrics"][m["name"]]
                        self.assertEqual(got["unit"], m["unit"])
                        self.assertIsInstance(got["value"], (int, float))

    def test_a_wrong_expected_hash_makes_the_run_fail(self):
        rc, line, p = bench("sql_mix", 0, "--expect-hash", "q01=0123456789abcdef")
        self.assertNotEqual(rc, 0)
        self.assertFalse(line["correct"])
        self.assertGreaterEqual(line["failed"], 1)


if __name__ == "__main__":
    unittest.main()
