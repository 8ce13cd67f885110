"""Tests for LakeBench's arithmetic and its contract files.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The replay test builds the program and runs the JVM self-test (about two
minutes on four cores); the others are pure Python.
"""

import json
import re
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


class PercentileRule(unittest.TestCase):
    def test_linear_between_ranks(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(run.percentile(xs, 0), 1)
        self.assertEqual(run.percentile(xs, 50), 3)
        self.assertEqual(run.percentile(xs, 100), 5)
        self.assertAlmostEqual(run.percentile([10, 20], 75), 17.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            run.percentile([], 50)

    def test_highest_percentile_with_ten_beyond(self):
        cases = {9: None, 19: None, 20: 50, 39: 50, 40: 75, 99: 75,
                 100: 90, 199: 90, 200: 95, 999: 95, 1000: 99, 10000: 99.9}
        for n, q in cases.items():
            self.assertEqual(run.tail_percentile(n), q, f"n={n}")

    def test_beyond_counts_samples_above_the_rank(self):
        self.assertEqual(run.samples_beyond(40, 75), 10)
        self.assertEqual(run.samples_beyond(39, 75), 9)
        self.assertEqual(run.samples_beyond(100, 90), 10)


def span(i, parent, a, b, run_id="r"):
    return {"id": i, "parent": parent, "name": f"s{i}", "start_ns": a,
            "end_ns": b, "run": run_id}


class SelfTime(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(run.self_times([span(0, -1, 10, 40)]), {("r", 0): 30})

    def test_overlapping_children_count_once(self):
        st = run.self_times([span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 20, 50)])
        self.assertEqual(st[("r", 0)], 60)
        self.assertEqual(st[("r", 1)], 20)

    def test_only_direct_children_are_subtracted(self):
        st = run.self_times([span(0, -1, 0, 100), span(1, 0, 0, 50), span(2, 1, 0, 40)])
        self.assertEqual(st[("r", 0)], 50)
        self.assertEqual(st[("r", 1)], 10)

    def test_child_outside_parent_is_clipped(self):
        st = run.self_times([span(0, -1, 10, 20), span(1, 0, 15, 90)])
        self.assertEqual(st[("r", 0)], 5)

    def test_runs_do_not_mix(self):
        st = run.self_times([span(0, -1, 0, 10, "a"), span(1, 0, 0, 10, "b")])
        self.assertEqual(st[("a", 0)], 10)


class ContractFiles(unittest.TestCase):
    def setUp(self):
        self.bench = json.loads((ROOT / "BENCHMARK.json").read_text())

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(run.WORKLOADS))

    def test_end_to_end_match(self):
        got = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(got, {k: v[0] for k, v in run.END_TO_END.items()})

    def test_per_layer_match(self):
        got = [(m["name"], m["unit"], m["better"]) for m in self.bench["per_layer"]]
        self.assertEqual(got, [r[:3] for r in run.per_layer_table()])


    def test_sweep_queries_match(self):
        src = (ROOT / "perfbench/src/lakebench/QuerySweep.scala").read_text()
        listed = re.search(r"val Queries: Seq\[String\] = Seq\(([^)]*)\)", src).group(1)
        self.assertEqual(tuple(re.findall(r'"([^"]+)"', listed)), run.SWEEP_QUERIES)

    def test_sweep_answers_recorded(self):
        recorded = [l.split("\t")[0] for l in run.FINGERPRINTS.read_text().splitlines()]
        self.assertEqual(sorted(recorded), sorted(run.SWEEP_QUERIES))


class SessionConfig(unittest.TestCase):
    """The benchmark's Spark settings are graft.Bench's."""

    def test_same_settings_as_bench(self):
        bench = (ROOT / "src/main/scala/graft/Bench.scala").read_text()
        ours = (ROOT / "perfbench/src/lakebench/Harness.scala").read_text()
        theirs = dict(re.findall(r'\.config\("([^"]+)",\s*("[^"]*"|\w+)\)', bench))
        mine = dict(re.findall(r'"(spark\.[^"]+)"\s*->\s*("[^"]*"|[\w.]+)', ours))
        self.assertEqual(set(mine) - {"spark.master"}, set(theirs))
        for k, v in theirs.items():
            if v.startswith('"'):
                self.assertEqual(mine[k], v, k)
        self.assertIn(".master(s\"local[$cpus]\")", bench)
        self.assertIn('"spark.master" -> s"local[$cpus]"', ours)


class Replay(unittest.TestCase):
    """Both lake workloads at sf0.001 size (6,000 rows): every answer
    matches its replay, and a replay missing one deleted slice does not."""

    def test_selftest(self):
        r = subprocess.run([sys.executable, str(ROOT / "perfbench/run.py"), "--selftest"],
                           capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:] + r.stdout[-3000:])
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertTrue(last["correct"])
        self.assertGreater(last["attempted"], 20)
        self.assertEqual(last["failed"], 0)


if __name__ == "__main__":
    unittest.main()
