#!/usr/bin/env python3
"""Self-tests of the benchmark's own statistics and correctness checks.

    python3 perfbench/selftest.py

Needs python3 with duckdb and pandas; runs no Spark.
"""
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class Statistics(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertRaises(ValueError, stats.median, [])

    def test_union_of_task_intervals(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)
        self.assertEqual(stats.union_length([(5, 5), (8, 6)]), 0)

    def test_no_task_time_is_the_gaps(self):
        # pass 0..1000 ms; tasks cover 100..400 and 300..600 and one that
        # started before the pass: the gaps are 600 ms minus the clipped part
        tasks = [(100, 400), (300, 600), (-50, 50)]
        self.assertAlmostEqual(stats.no_task_seconds(tasks, 0, 1000), 0.45)

    def test_busy_fraction(self):
        self.assertAlmostEqual(stats.busy_fraction(8.0, 4.0, 4), 0.5)


class SelfTimes(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        d = tempfile.mkdtemp()
        try:
            path = os.path.join(d, "spans.jsonl")
            rows = [
                {"kind": "workload", "id": "w", "parent": "", "start_ms": 0, "end_ms": 1000},
                {"kind": "pass", "id": "p1", "parent": "w", "start_ms": 0, "end_ms": 1000},
                {"kind": "op", "id": "o1", "parent": "p1", "start_ms": 100, "end_ms": 700},
                {"kind": "job", "id": "j1", "parent": "o1", "start_ms": 200, "end_ms": 400},
                {"kind": "job", "id": "j2", "parent": "o1", "start_ms": 300, "end_ms": 500},
                {"kind": "stage", "id": "s1", "parent": "j1", "start_ms": 250, "end_ms": 350},
            ]
            with open(path, "w") as f:
                for r in rows:
                    f.write(run.json.dumps(r) + "\n")
            st = run.self_times(path)
            self.assertAlmostEqual(st["pass"], 0.4)
            self.assertAlmostEqual(st["op"], 0.3)
            self.assertAlmostEqual(st["job"], 0.3)
            self.assertAlmostEqual(st["stage"], 0.1)
        finally:
            shutil.rmtree(d)


class Correctness(unittest.TestCase):
    """A perturbed result must be caught, both by the oracle replay and by
    the pass-to-pass digest check."""

    def setUp(self):
        import duckdb
        self.d = tempfile.mkdtemp()
        self.con = duckdb.connect()
        self.con.execute(f"COPY (SELECT range AS k, range * 1.5 AS v FROM range(50)) "
                         f"TO '{self.d}/t.parquet' (FORMAT PARQUET)")
        self.con.execute(f"CREATE VIEW t AS SELECT * FROM '{self.d}/t.parquet'")
        self.sql = "SELECT k, v FROM t WHERE k % 2 = 0 ORDER BY k"

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.d)

    def result(self, name, sql):
        os.makedirs(os.path.join(self.d, name))
        self.con.execute(f"COPY ({sql}) TO '{self.d}/{name}/part.parquet' (FORMAT PARQUET)")
        return os.path.join(self.d, name)

    def test_oracle_accepts_the_same_rows_in_another_order(self):
        got = self.result("same", "SELECT k, v FROM t WHERE k % 2 = 0 ORDER BY k DESC")
        self.assertIsNone(oracle.compare(self.con, got, self.sql))

    def test_oracle_catches_a_perturbed_value(self):
        got = self.result("value", "SELECT k, CASE WHEN k = 10 THEN v + 0.001 ELSE v END AS v "
                                   "FROM t WHERE k % 2 = 0")
        self.assertIn("values differ", oracle.compare(self.con, got, self.sql))

    def test_oracle_catches_a_dropped_row(self):
        got = self.result("row", "SELECT k, v FROM t WHERE k % 2 = 0 AND k <> 4")
        self.assertIn("rows", oracle.compare(self.con, got, self.sql))

    def test_a_timed_pass_that_differs_from_the_checked_one_fails(self):
        raw = {"workload": "w", "seed": 1, "checks": [], "ops": [
            {"id": "a", "pass": 0, "name": "q", "ok": True, "digest": "x"},
            {"id": "b", "pass": 1, "name": "q", "ok": True, "digest": "x"},
            {"id": "c", "pass": 2, "name": "q", "ok": True, "digest": "perturbed"},
            {"id": "d", "pass": 2, "name": "r", "ok": False, "digest": ""},
            {"id": "e", "pass": 0, "name": "r", "ok": True, "digest": ""}]}
        bad, timed = run.failures(raw, self.d, {})
        self.assertEqual(bad, {"c", "d"})
        self.assertEqual(len(timed), 3)

    def test_a_failed_check_fails_the_operations_it_names(self):
        raw = {"workload": "w", "seed": 1, "ops": [
            {"id": "a", "pass": 0, "name": "t", "ok": True, "digest": ""},
            {"id": "b", "pass": 1, "name": "t", "ok": True, "digest": ""}],
            "checks": [{"name": "twin", "ok": False, "failed_ops": ["b"]}]}
        self.assertEqual(run.failures(raw, self.d, {})[0], {"b"})

    def test_pinned_survivors_must_match(self):
        raw = {"workload": "w", "seed": 7, "checks": [], "ops": [
            {"id": "a", "pass": 0, "name": "curate", "ok": True, "digest": "5", "survivors": 5},
            {"id": "b", "pass": 1, "name": "curate", "ok": True, "digest": "5", "survivors": 5}]}
        self.assertEqual(run.failures(raw, self.d, {"survivors": {"w": {"7": {"curate": 5}}}})[0],
                         set())
        self.assertEqual(run.failures(raw, self.d, {"survivors": {"w": {"7": {"curate": 6}}}})[0],
                         {"b"})


if __name__ == "__main__":
    unittest.main()
