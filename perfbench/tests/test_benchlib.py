"""Tests of the benchmark's own rules: python3 -m unittest discover -s perfbench/tests"""
import json
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import benchlib as bl  # noqa: E402
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_enough_independent_samples_give_p90(self):
        samples = [(float(v), v) for v in range(1, 201)]
        self.assertEqual(bl.tail_percentile(samples), (0.9, 180.0))

    def test_tail_backs_off_until_ten_samples_lie_beyond(self):
        samples = [(float(v), v) for v in range(1, 41)]  # 40 samples
        q, v = bl.tail_percentile(samples)
        self.assertEqual((q, v), (0.75, 30.0))
        self.assertEqual(sum(1 for x, _ in samples if x > v), 10)

    def test_samples_of_one_group_count_once(self):
        # 30 batches of 100 rows: only the 10 batches above the reported
        # value count, however many rows they hold
        samples = [(b * 1000.0 + r, b) for b in range(30) for r in range(100)]
        self.assertEqual(bl.tail_percentile(samples), (0.69, 20069.0))

    def test_too_few_samples_fall_back_to_the_median(self):
        samples = [(float(v), v) for v in range(1, 8)]
        self.assertEqual(bl.tail_percentile(samples), (0.5, 4.0))
        self.assertEqual(bl.tail_percentile(samples[:6]), (0.5, 3.5))
        self.assertEqual(bl.tail_percentile([]), (0.5, 0.0))


class StreamLatency(unittest.TestCase):
    files = [
        {"name": "f0.json", "sched_ms": 900, "released_ms": 901, "posts": 3},   # before the window
        {"name": "f1.json", "sched_ms": 1000, "released_ms": 1002, "posts": 2},
        {"name": "f2.json", "sched_ms": 1100, "released_ms": 1100, "posts": 2},
        {"name": "f3.json", "sched_ms": 1200, "released_ms": 1260, "posts": 4},  # never committed
        {"name": "f4.json", "sched_ms": 2000, "released_ms": 2000, "posts": 1},  # after the window
    ]

    def test_latency_runs_from_scheduled_release_to_commit(self):
        file_batch = {"f0.json": 1, "f1.json": 1, "f2.json": 2, "f4.json": 3}
        commit_end = {1: 1500, 2: 2600, 3: 3000}
        samples, missing = bl.stream_latencies(self.files, file_batch, commit_end, (1000, 2000))
        self.assertEqual(sorted(samples), [(500, "f1.json"), (500, "f1.json"),
                                           (1500, "f2.json"), (1500, "f2.json")])
        self.assertEqual(missing, 4)

    def test_release_lateness_does_not_shorten_latency(self):
        # f3 released 60 ms late: latency still counts from its schedule
        samples, _ = bl.stream_latencies(self.files, {"f3.json": 5}, {5: 1700}, (1000, 2000))
        self.assertEqual(samples, [(500, "f3.json")] * 4)

    def test_source_log_maps_files_to_batches(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "9.compact"), "w") as f:
                f.write("v1\n" + json.dumps({"path": "file:///x/in/f1.json", "timestamp": 1, "batchId": 3}) + "\n")
            with open(os.path.join(d, "10"), "w") as f:
                f.write("v1\n" + json.dumps({"path": "file:///x/in/f2.json", "timestamp": 2, "batchId": 10}) + "\n")
            with open(os.path.join(d, ".10.crc"), "w") as f:
                f.write("junk")
            self.assertEqual(bl.parse_source_log(d), {"f1.json": 3, "f2.json": 10})

    def test_backlog_growth_is_zero_when_commits_keep_up(self):
        files = [{"name": f"f{k}", "sched_ms": k * 100, "released_ms": k * 100, "posts": 10}
                 for k in range(100)]
        steady = {f"f{k}": k // 10 for k in range(100)}
        commit = {b: b * 1000 + 1500 for b in range(10)}
        series = bl.backlog_series(files, steady, commit, (2000, 8000))
        self.assertAlmostEqual(bl.backlog_growth(series), 0, delta=50)
        slow = {b: b * 1600 + 1500 for b in range(10)}
        self.assertGreater(bl.backlog_growth(bl.backlog_series(files, steady, slow, (2000, 8000))), 100)


def write_parquet(con, sql, path):
    os.makedirs(path, exist_ok=True)
    con.sql(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT PARQUET)")


class OutputChecks(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.d = self.tmp.name
        self.con = duckdb.connect()
        self.ref = ("SELECT 'id' || i AS content_id, CASE WHEN i % 2 = 0 THEN 'POSITIVE' "
                    "ELSE 'NEGATIVE' END AS sentiment_label, i / 10.0 AS sentiment_score FROM range(20) t(i)")
        write_parquet(self.con, self.ref, os.path.join(self.d, "ref"))

    def tearDown(self):
        self.tmp.cleanup()

    def sink_failures(self, sql):
        write_parquet(self.con, sql, os.path.join(self.d, "sink"))
        return bl.check_sink(self.con, os.path.join(self.d, "sink"), os.path.join(self.d, "ref"))

    def test_identical_sink_passes(self):
        self.assertEqual(self.sink_failures(self.ref), [])

    def test_corrupted_sink_row_is_a_failure(self):
        bad = self.ref.replace("i / 10.0 AS", "CASE WHEN i = 7 THEN 0.5 ELSE i / 10.0 END AS")
        fails = self.sink_failures(bad)
        self.assertEqual(len(fails), 1)
        self.assertIn("id7", fails[0])

    def test_duplicate_and_missing_writes_are_failures(self):
        fails = self.sink_failures(f"SELECT * FROM ({self.ref}) WHERE content_id <> 'id3' "
                                   f"UNION ALL SELECT * FROM ({self.ref}) WHERE content_id = 'id4'")
        self.assertEqual(sorted(f.split(":")[0] for f in fails), ["missing", "written 2 times"])

    def mix_run(self, result_sql):
        """A one-query mix whose first-pass result is `result_sql`."""
        self.con.sql("CREATE OR REPLACE VIEW t AS SELECT i AS x FROM range(5) r(i)")
        write_parquet(self.con, result_sql, os.path.join(self.d, "check", "q1"))
        q = {"name": "q1", "ok": True, "ms": 10.0, "module": "Relational"}
        raw = {"check_dir": os.path.join(self.d, "check"),
               "oracle_sql": {"q1": "SELECT x, x * 2 AS y FROM t ORDER BY x"},
               "passes": [{"pass": p, "phase": phase, "traced": False, "wall_ms": 10.0, "queries": [q]}
                          for p, phase in enumerate(("cold", "warmup", "timed"))]}
        _, _, attempted, failed, _ = run.mix_metrics(raw, self.con, "analytics_mix", False, self.d)
        return attempted, failed

    def test_matching_query_result_passes(self):
        self.assertEqual(self.mix_run("SELECT i AS x, i * 2 AS y FROM range(5) r(i) ORDER BY x"), (3, 0))

    def test_corrupted_query_result_fails_every_execution(self):
        bad = "SELECT i AS x, CASE WHEN i = 3 THEN 0 ELSE i * 2 END AS y FROM range(5) r(i) ORDER BY x"
        self.assertEqual(self.mix_run(bad), (3, 3))


if __name__ == "__main__":
    unittest.main()
