"""Tests of the benchmark itself: python3 -m unittest discover perfbench/tests

The generator and check tests run in seconds. The oracle test needs the
oracle SQL the harness dumps, so it runs only after a benchmark run has
built the program (.bench_build/)."""
import glob
import json
import os
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def make(profile, seed, events, out, *extra):
    gen.main(["make", "--profile", profile, "--seed", str(seed), "--events", str(events),
              "--out", out, *extra])
    with open(os.path.join(out, "manifest.json")) as f:
        return json.load(f)


class GeneratorTest(unittest.TestCase):

    def test_tiny_profile_runs_in_seconds(self):
        with tempfile.TemporaryDirectory() as d:
            t0 = time.time()
            man = make("tiny", 5, 2000, d, "--stream", "--backlog", "1000",
                       "--rate", "250", "--slot-ms", "1000")
            self.assertLess(time.time() - t0, 10)
            st = man["stats"]
            self.assertEqual(st["events"], 2001)  # + the flush hit
            self.assertGreater(st["gate_forward_ratio"], 0.1)
            files = man["stream"]["files"]
            self.assertEqual(sum(f["lines"] for f in files), 2001)
            live = [f for f in files if f["phase"] == "live"]
            self.assertEqual([f["offset_s"] for f in live], [float(k) for k in range(len(live))])
            self.assertEqual(len(glob.glob(os.path.join(d, "in", "*.json"))),
                             len(files) - len(live))

    def test_same_seed_same_digest(self):
        with tempfile.TemporaryDirectory() as d:
            a = make("network", 11, 3000, os.path.join(d, "a"))["digest"]
            b = make("network", 11, 3000, os.path.join(d, "b"))["digest"]
            c = make("network", 12, 3000, os.path.join(d, "c"))["digest"]
            s = make("showers", 11, 3000, os.path.join(d, "s"))["digest"]
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertNotEqual(a, s)

    def test_every_profile_yields_the_requested_event_count(self):
        for profile in sorted(gen.PROFILES):
            for seed in range(16):
                ev = gen.make_events(profile, seed, 2000)
                self.assertEqual({len(v) for v in ev.values()}, {2000}, (profile, seed))

    def test_wire_lines_match_wire_synthesis(self):
        ev = gen.make_events("tiny", 1, 200)
        rejects = 0
        for line, eid in zip(gen.wire_lines(ev, 0, 200), ev["event_id"]):
            r = json.loads(line)
            bad = eid % 89 == 0 or eid % 97 == 0
            rejects += bad
            self.assertEqual(r["topic"].startswith("muonpi/data/cluster"), eid % 89 == 0)
            self.assertEqual(r["payload"].startswith("."), eid % 97 == 0)
            self.assertEqual(len(r["payload"].split()), 7)
        self.assertGreater(rejects, 0)


class CheckTest(unittest.TestCase):

    EXPECTED = {
        "detector_dag": [(10, 20, 2, 2, False)],
        "detector_dag_mqtt": [(10, "a"), (10, "b")],
        "detector_dag_ascii": [(10, "Event: n=2 1/1 V dt=10")],
    }

    def batch(self, rows):
        return {"iterations": [{"wall_s": 1.0, "same_as_first": True}],
                "rows": {k: [list(r) for r in v] for k, v in rows.items()}, "errors": []}

    def test_matching_output_passes(self):
        failures = []
        self.assertEqual(run.check_batch(self.batch(self.EXPECTED), self.EXPECTED, failures),
                         (3, 0))
        self.assertEqual(failures, [])

    def test_wrong_expected_output_is_a_failure(self):
        wrong = dict(self.EXPECTED, detector_dag_ascii=[(10, "Event: n=2 0/1 V dt=10")])
        failures = []
        attempted, failed = run.check_batch(self.batch(self.EXPECTED), wrong, failures)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(failures[0]["query"], "detector_dag_ascii")
        self.assertEqual(failures[0]["mismatched_rows"], 2)

    def test_diff_rows_is_a_multiset_compare(self):
        self.assertEqual(oracle.diff_rows([(1,), (1,)], [(1,)])[0], 1)
        self.assertEqual(oracle.diff_rows([(1,), (2,)], [(2,), (1,)])[0], 0)


class MetricNamesTest(unittest.TestCase):

    def test_benchmark_json_names_and_units(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.E2E)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(run.WORKLOADS))
        self.assertIn("setup_s", run.E2E)


@unittest.skipUnless(glob.glob(os.path.join(run.WORK, "oracle-sql-*.json")),
                     "needs the oracle SQL dumped by a benchmark run")
class OracleTest(unittest.TestCase):

    def test_materialized_oracle_equals_the_sql_as_written(self):
        import duckdb
        path = max(glob.glob(os.path.join(run.WORK, "oracle-sql-*.json")), key=os.path.getmtime)
        with open(path) as f:
            sqls = json.load(f)
        with tempfile.TemporaryDirectory() as d:
            make("tiny", 3, 800, d)
            pq = os.path.join(d, "events.parquet")
            got, counts = oracle.run_oracle(sqls, pq, threads=2)
            con = duckdb.connect()
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{pq}')")
            for name, sql in sqls.items():
                self.assertEqual(got[name], sorted(tuple(r) for r in con.execute(sql).fetchall()),
                                 name)
        self.assertGreater(len(got["detector_dag"]), 0)
        self.assertGreater(counts["gated"], 0)


if __name__ == "__main__":
    unittest.main()
