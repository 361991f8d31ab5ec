"""Self-tests of the benchmark's own arithmetic and checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

PERFBENCH_E2E=1 adds an end-to-end run (builds the engine, ~1 min) in
which a deliberately wrong output must surface as failed ops with a cause.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402
from run import account  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_reported_one(self):
        xs = list(range(1, 101))
        v, p, n = report.tail(reversed(xs))
        self.assertEqual((v, p, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_small_samples(self):
        self.assertEqual(report.tail(range(1, 21)), (10, 50.0, 20))
        self.assertEqual(report.tail([3, 1, 2, 5, 4, 6, 7, 8, 9, 10, 11]),
                         (1, 100.0 / 11, 11))
        # no percentile has ten samples beyond it: the maximum
        self.assertEqual(report.tail([2.0, 7.0, 1.0]), (7.0, 100.0, 3))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return dict(id=i, parent=parent, name=f"s{i}", start=start, end=end)

    def test_union_length_merges_overlaps(self):
        self.assertEqual(report.union_length([(5, 7), (1, 3), (2, 4)]), 5)
        self.assertEqual(report.union_length([]), 0)

    def test_self_time_subtracts_the_union_of_clipped_children(self):
        spans = [self.span(0, None, 0, 10),
                 self.span(1, 0, 1, 3), self.span(2, 0, 2, 5),  # overlap: [1, 5]
                 self.span(3, 0, 8, 12),                        # clipped to [8, 10]
                 self.span(4, 1, 1, 2)]                         # grandchild
        s = report.self_times(spans)
        self.assertEqual(s[0], 10 - 4 - 2)
        self.assertEqual(s[1], 2 - 1)
        self.assertEqual(s[2], 3)
        self.assertEqual(s[4], 1)


class TracingOverhead(unittest.TestCase):
    def test_bracketing_cancels_a_linear_drift(self):
        # untraced passes speed up by 1 s a pass; traced ones cost 0.5 s more
        walls = [10, 9.5, 8, 7.5, 6]
        passes = [{"traced": i % 2 == 1, "start": 0, "end": w * 1000}
                  for i, w in enumerate(walls)]
        self.assertEqual(report.tracing_overhead(passes), 0.5)


class WrongOutput(unittest.TestCase):
    """A wrong output fails every timed op of its query, with its cause."""

    SQL = ("SELECT event_type, CAST(count(*) AS BIGINT) AS cnt "
           "FROM events GROUP BY event_type")

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        gen.generate(7, self.data, ["events"], {"events": dict(
            rows=500, users=20, days=2, start="2024-01-01",
            kinds=["view", "click"], items=5, user_zipf=0.3, item_zipf=0.6,
            value_mean=5.0)})
        self.check = os.path.join(self.tmp.name, "check")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{self.data}/events.parquet'")
        for name, sql in (("q_right", self.SQL),
                          ("q_wrong", f"SELECT event_type, cnt + 1 AS cnt FROM ({self.SQL})")):
            os.makedirs(os.path.join(self.check, name))
            con.execute(f"COPY ({sql}) TO '{self.check}/{name}/part-0.parquet' (FORMAT parquet)")

    def tearDown(self):
        self.tmp.cleanup()

    def test_cause_and_failed_frac(self):
        causes = oracle.check(self.data, self.check,
                              {"q_right": self.SQL, "q_wrong": self.SQL},
                              ["q_right", "q_wrong"])
        self.assertEqual(list(causes), ["q_wrong"])
        self.assertTrue(causes["q_wrong"].startswith("VALUES 4 multiset-diff rows"))
        record = {"passes": [{"pass": 0}, {"pass": 1}], "ops": [
            {"pass": p, "name": n, "error": None}
            for p in ("setup", "0", "1") for n in ("q_right", "q_wrong")]}
        attempted, failed = account(record, causes)
        self.assertEqual((attempted, failed), (4, 2))

    def test_thrown_op_counts_even_without_a_cause(self):
        record = {"passes": [{"pass": 0}], "ops": [
            {"pass": "0", "name": "q_right", "error": "java.lang.RuntimeException: boom"}]}
        self.assertEqual(account(record, {}), (1, 1))


class Generator(unittest.TestCase):
    def test_seed_fixes_the_draw(self):
        with tempfile.TemporaryDirectory() as d:
            for seed, sub in ((1, "a"), (1, "b"), (2, "c")):
                gen.generate(seed, os.path.join(d, sub), sorted(gen.MAKERS))
            for t in gen.MAKERS:
                a, b, c = (pq.read_table(os.path.join(d, s, f"{t}.parquet"))
                           for s in "abc")
                self.assertTrue(a.equals(b), t)
                self.assertFalse(a.equals(c), t)
            spec = json.load(open(os.path.join(HERE, "workloads.json")))["inputs"]
            ev = pq.read_table(os.path.join(d, "a", "events.parquet")).to_pydict()
            self.assertEqual(len(ev["event_id"]), spec["events"]["rows"])
            self.assertEqual(set(ev["event_type"]), set(spec["events"]["kinds"]))
            self.assertTrue(all(0 <= u < spec["events"]["users"] for u in ev["user_id"]))
            self.assertEqual(ev["ts"], sorted(ev["ts"]))


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class EndToEnd(unittest.TestCase):
    def test_injected_wrong_output_is_a_failure_with_its_cause(self):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "gmall_batch",
             "--seed", "5", "--inject-wrong", "q_pv_hourly"],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        line = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(line["correct"])
        self.assertGreater(line["failed"], 0)
        self.assertIn("q_pv_hourly failed: WRONG ROWS", r.stderr)


if __name__ == "__main__":
    unittest.main()
