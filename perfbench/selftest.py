"""Fast self-tests of the benchmark's own parts (no Spark session needed).

    python3 perfbench/selftest.py

Covers the event-log parser on a small recorded log (job-group
attribution, job-interval union, Python-worker metrics), the tail
percentile rule, seeded input generation (one seed, byte-identical
inputs) and the metric lists in ``BENCHMARK.json``.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
from stats import tail, union_seconds  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small")


class EventLogTest(unittest.TestCase):
    """The fixture is a trimmed log of three calls: a pandas UDF
    aggregation (group ``pb|udf|0|run``) and a plain aggregation split
    into build and run groups."""

    def setUp(self) -> None:
        self.ledger = eventlog.parse(eventlog.read_events(FIXTURE))

    def test_jobs_attributed_to_groups(self) -> None:
        g = self.ledger.groups
        self.assertEqual(set(g), {"pb|udf|0|run", "pb|agg|0|build", "pb|agg|0|run"})
        self.assertEqual(g["pb|udf|0|run"]["jobs"], 3)
        self.assertEqual(g["pb|agg|0|build"]["jobs"], 2)
        self.assertEqual(g["pb|agg|0|run"]["jobs"], 2)
        self.assertEqual(g["pb|udf|0|run"]["tasks"], 6)
        self.assertEqual(g["pb|agg|0|run"]["shuffle_write_bytes"], 364)
        self.assertEqual(self.ledger.total(list(g), "failed_tasks"), 0)

    def test_python_worker_metrics(self) -> None:
        udf = self.ledger.groups["pb|udf|0|run"]
        self.assertAlmostEqual(udf["python_run_s"], 4.435)
        self.assertAlmostEqual(udf["python_boot_s"], 2.379)
        self.assertEqual(udf["bytes_to_python"], 16696)
        self.assertEqual(udf["bytes_from_python"], 16432)
        plain = self.ledger.groups["pb|agg|0|run"]
        self.assertEqual(plain["python_run_s"], 0)

    def test_busy_time_and_attribution_across_jobs_and_logs(self) -> None:
        # sequential jobs: the union equals the summed job time
        g = "pb|udf|0|run"
        self.assertAlmostEqual(self.ledger.busy_s([g]), self.ledger.groups[g]["job_s"])
        # overlapping jobs of one group count once
        events = [
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
             "Stage IDs": [0], "Properties": {eventlog.GROUP_PROP: "g"}},
            {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
             "Stage IDs": [1], "Properties": {eventlog.GROUP_PROP: "g"}},
            {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000,
             "Job Result": {"Result": "JobSucceeded"}},
            {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2500,
             "Job Result": {"Result": "JobFailed"}},
            {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1200,
             "Stage IDs": [0, 2], "Properties": {}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
             "Task End Reason": {"Reason": "ExceptionFailure"}},
        ]
        # a second application reuses job and stage ids
        events += [
            {"Event": "SparkListenerLogStart"},
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 9000,
             "Stage IDs": [0], "Properties": {eventlog.GROUP_PROP: "h"}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
             "Task End Reason": {"Reason": "Success"}},
            {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 9100,
             "Job Result": {"Result": "JobSucceeded"}},
        ]
        ledger = eventlog.parse(events)
        self.assertEqual(ledger.groups["h"]["tasks"], 1)
        self.assertAlmostEqual(ledger.busy_s(["h"]), 0.1)
        self.assertAlmostEqual(ledger.busy_s(["g"]), 1.5)
        self.assertAlmostEqual(ledger.groups["g"]["job_s"], 2.0)
        self.assertEqual(ledger.groups["g"]["failed_jobs"], 1)
        # stage 0 ran under the first job that listed it
        self.assertEqual(ledger.groups["g"]["failed_tasks"], 1)
        self.assertEqual(ledger.groups[""]["jobs"], 1)

    def test_union_seconds(self) -> None:
        self.assertEqual(union_seconds([]), 0)
        self.assertEqual(union_seconds([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(union_seconds([(5, 6), (0, 10)]), 10)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self) -> None:
        t = tail([float(i) for i in range(1, 101)])
        self.assertEqual((t["value"], t["pct"], t["beyond"], t["n"]), (90.0, 90.0, 10, 100))
        t = tail([float(i) for i in range(1, 1001)])
        self.assertEqual((t["value"], t["pct"]), (990.0, 99.0))

    def test_too_few_samples_claims_no_tail(self) -> None:
        t = tail([float(i) for i in range(1, 20)])
        self.assertIsNone(t["pct"])
        self.assertEqual(t["value"], 10.0)
        self.assertEqual(tail([float(i) for i in range(1, 21)])["pct"], 50.0)


class GeneratorTest(unittest.TestCase):
    def _write_all(self, out: str, seed: int) -> None:
        gen.write_corpus(os.path.join(out, "corpus"), seed, 0.001)
        gen.write_star_inputs(os.path.join(out, "star"), seed, 20, 500)
        for i, tbl in enumerate(gen.lake_batches(seed, 2, 300)):
            pq.write_table(tbl, os.path.join(out, f"batch{i}.parquet"))

    def _same_tree(self, a: str, b: str) -> bool:
        cmp = filecmp.dircmp(a, b)
        stack = [cmp]
        while stack:
            c = stack.pop()
            if c.left_only or c.right_only or c.funny_files:
                return False
            _match, mismatch, errors = filecmp.cmpfiles(
                c.left, c.right, c.common_files, shallow=False
            )
            if mismatch or errors:
                return False
            stack.extend(c.subdirs.values())
        return True

    def test_one_seed_gives_identical_bytes(self) -> None:
        with tempfile.TemporaryDirectory() as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            self._write_all(a, 11)
            self._write_all(b, 11)
            self._write_all(c, 12)
            self.assertTrue(self._same_tree(a, b))
            self.assertFalse(self._same_tree(a, c))

    def test_lake_columns_match_the_batches(self) -> None:
        from workloads import LAKE_COLS

        self.assertEqual(gen.lake_batches(1, 1, 10)[0].column_names, LAKE_COLS)


class CompareTest(unittest.TestCase):
    def test_refuses_records_from_hosts_with_other_cpu_counts(self) -> None:
        from compare import compare

        rec = {"workload": "lake", "host": {"cpus": 4},
               "metrics": {"pass_s": 2.0}, "layers": {"spark.jobs": 0.0}}
        other = {**rec, "host": {"cpus": 8}, "metrics": {"pass_s": 1.0}}
        with self.assertRaises(ValueError):
            compare(rec, other)
        same = {**rec, "metrics": {"pass_s": 1.0}}
        self.assertEqual(compare(rec, same)[0], ("pass_s", 2.0, 1.0, 0.5))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_lists_the_printed_metrics(self) -> None:
        import run

        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.assertEqual(e2e, run.END_TO_END)
        self.assertEqual(layers, run.per_layer_units())
        from workloads import WORKLOADS

        self.assertEqual({w["name"] for w in spec["workloads"]}, set(WORKLOADS))


if __name__ == "__main__":
    unittest.main()
