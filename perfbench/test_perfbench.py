#!/usr/bin/env python3
"""Tests of the benchmark's own pieces.

    python3 perfbench/test_perfbench.py

The generator test builds the benchmark (as run.py does) and runs the
JVM's self-test of the seeded generators; the rest is plain Python.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import diff  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


class TailRule(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        for n in (21, 64, 100, 1000):
            xs = list(range(1, n + 1))
            pct, value, beyond = stats.tail(xs)
            self.assertEqual(beyond, 10)
            self.assertEqual(sum(1 for x in xs if x > value), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 6.0, 4.0, 10.0, 0.5, 11.0, 12.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_known_percentiles(self):
        self.assertEqual(stats.tail(range(1, 101)), (90.0, 90, 10))
        self.assertEqual(stats.tail(range(1, 41)), (75.0, 30, 10))
        self.assertEqual(stats.tail(range(1, 26)), (60.0, 15, 10))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (100.0, 3, 0))
        self.assertEqual(stats.tail(range(10)), (100.0, 9, 0))
        self.assertEqual(stats.tail(range(20)), (100.0, 19, 0))
        with self.assertRaises(ValueError):
            stats.tail([])

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2, 10]), 2.5)


def capture(workload="query_mix", seed=1, jobs=7):
    per_layer = {k: 0.0 for k in diff.WORK_COUNTERS}
    per_layer.update({"exec.jobs": jobs, "exec.tasks": 3.0})
    ledger = [{"op": "q1", **{f: 1.0 for f in diff.LEDGER_COUNTERS}}]
    return {"workload": workload, "seed": seed, "trace": True, "per_layer": per_layer,
            "ledger": ledger}


class CounterDiff(unittest.TestCase):
    def test_equal_capture_has_no_diff(self):
        base = diff.record([capture(), capture()])
        self.assertEqual(diff.diff(base, capture()), [])

    def test_changed_counter_is_reported(self):
        base = diff.record([capture()])
        lines = diff.diff(base, capture(jobs=8))
        self.assertEqual(lines, ["query_mix exec.jobs: 7 -> 8"])

    def test_counter_within_recorded_range_passes(self):
        base = diff.record([capture(jobs=7), capture(jobs=8)])
        self.assertEqual(base["workloads"]["query_mix"]["counters"]["exec.jobs"], [7, 8])
        self.assertEqual(diff.diff(base, capture(jobs=8)), [])
        self.assertEqual(diff.diff(base, capture(jobs=9)),
                         ["query_mix exec.jobs: [7, 8] -> 9"])

    def test_ledger_rows_are_compared(self):
        base = diff.record([capture()])
        changed = capture()
        changed["ledger"][0]["stages"] = 2.0
        self.assertEqual(diff.diff(base, changed), ["query_mix q1/stages: 1 -> 2"])
        changed["ledger"].append({"op": "q2", **{f: 1.0 for f in diff.LEDGER_COUNTERS}})
        self.assertIn("query_mix q2/jobs: absent -> 1", diff.diff(base, changed))

    def test_seed_and_workload_must_match(self):
        base = diff.record([capture()])
        self.assertIn("not the baseline's", diff.diff(base, capture(seed=2))[0])
        self.assertEqual(diff.diff(base, capture(workload="other")),
                         ["other: no baseline"])
        with self.assertRaises(SystemExit):
            diff.record([capture(seed=1), capture(seed=2)])

    def test_command_exit_codes(self):
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for i, c in enumerate([capture(), capture(jobs=9)]):
                paths.append(os.path.join(d, f"c{i}.json"))
                with open(paths[-1], "w") as fh:
                    json.dump(c, fh)
            baseline = os.path.join(d, "b.json")
            self.assertEqual(diff.main(["--update", "--baseline", baseline, paths[0]]), 0)
            self.assertEqual(diff.main(["--baseline", baseline, paths[0]]), 0)
            self.assertEqual(diff.main(["--baseline", baseline, paths[1]]), 1)

    def test_checked_in_baseline_covers_every_workload(self):
        with open(diff.BASELINE) as fh:
            base = json.load(fh)
        self.assertEqual(sorted(base["workloads"]), sorted(run.WORKLOADS))


class Spec(unittest.TestCase):
    def test_benchmark_json_matches_the_metrics_run_reports(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         run.PER_LAYER)


class Generators(unittest.TestCase):
    def test_seeded_generators_are_deterministic(self):
        build_dir, _ = build.build(log=subprocess.DEVNULL)
        cp = os.path.join(build_dir, "classes") + os.pathsep + os.path.join(build.spark_jars(), "*")
        done = subprocess.run([build.java(), "-XX:-UsePerfData", "-cp", cp,
                               "graft.perfbench.Main", "--selftest"],
                              capture_output=True, text=True, timeout=300)
        self.assertEqual(done.returncode, 0, done.stdout + done.stderr)


if __name__ == "__main__":
    unittest.main()
