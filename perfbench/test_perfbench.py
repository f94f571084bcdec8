"""Tests of the benchmark's own pieces.

  python3 -m unittest discover -s perfbench -p 'test_*.py'

PERFBENCH_SLOW=1 adds one short run of every workload (builds the
program on first use), checking that every declared metric is printed.
"""
import filecmp
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def tree_equal(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        tree_equal(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for w in ("pipeline-france", "query-mix"):
                for copy in ("a", "b"):
                    out = os.path.join(d, w, copy)
                    os.makedirs(out)
                    if w == "query-mix":
                        gen.generate_tables(out, 7)
                    else:
                        gen.generate(out, w, 7)
                self.assertTrue(tree_equal(os.path.join(d, w, "a"),
                                           os.path.join(d, w, "b")), w)

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for seed in (1, 2):
                gen.generate(os.path.join(d, str(seed)), "pipeline-france", seed)
            self.assertFalse(tree_equal(os.path.join(d, "1"), os.path.join(d, "2")))

    def test_edge_rows_as_declared(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate(d, "pipeline-france", 3)
            declared = gen.edge_counts(m["states"])
            self.assertEqual(m["edge_rows"], declared)
            fleet = None
            for snap in m["snapshots"]:
                with open(os.path.join(d, snap["dir"], "flights",
                                       "flights_raw.json")) as f:
                    states = json.load(f)["states"]
                found = {
                    "truncated_short": sum(len(s) == 5 for s in states),
                    "truncated_long": sum(len(s) == 9 for s in states),
                    "null_position": sum(len(s) == 17 and (s[5] is None or s[6] is None)
                                         for s in states),
                    "blank_callsign": sum(s[1] == " " * 8 for s in states),
                    "non_numeric": sum(len(s) == 17 and s[9] == "n/a" for s in states),
                    "integer_doubles": sum(len(s) == 17 and type(s[7]) is int
                                           for s in states),
                }
                self.assertEqual(found, declared, snap["dir"])
                keys = [s[0] for s in states]
                self.assertEqual(len(set(keys)), len(keys), "icao24 unique")
                # the same fleet every snapshot, so the upsert overwrites keys
                fleet = fleet or set(keys)
                self.assertEqual(set(keys), fleet)
                with_position = sum(len(s) > 6 and s[5] is not None and s[6] is not None
                                    for s in states)
                self.assertEqual(snap["survivors"], with_position)

    def test_weather_stations(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate(d, "pipeline-france", 3)
            with open(os.path.join(d, "snap_0000", "weather", "weather_raw.json")) as f:
                weather = json.load(f)
            self.assertEqual([(w["latitude"], w["longitude"]) for w in weather],
                             gen.FRANCE_STATIONS)
            self.assertEqual(m["stations"], len(gen.FRANCE_STATIONS))


class OracleTest(unittest.TestCase):

    def test_compare_flags_a_changed_cell(self):
        import pandas as pd
        with tempfile.TemporaryDirectory() as d:
            tables = os.path.join(d, "tables")
            gen.generate_tables(d, 1)
            outputs = os.path.join(d, "outputs")
            os.makedirs(outputs)
            sql = "SELECT n_regionkey, COUNT(*) AS n FROM nation GROUP BY n_regionkey"
            with open(os.path.join(outputs, "oracle_sql.json"), "w") as f:
                json.dump({"q": sql}, f)
            good = pd.DataFrame({"n": [5] * 5, "n_regionkey": list(range(5))})
            good["n_regionkey"] = good["n_regionkey"].astype("int32")
            good.to_parquet(os.path.join(outputs, "q"))
            self.assertEqual(oracle.compare(tables, outputs), [])
            good.loc[2, "n"] = 6
            good.to_parquet(os.path.join(outputs, "q"))
            self.assertEqual(len(oracle.compare(tables, outputs)), 1)


class SpecTest(unittest.TestCase):

    def test_names_and_units_valid(self):
        s = spec()
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        names += [w["name"] for w in s["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in s["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertIn({"name": "setup_s", "unit": "s", "better": "lower",
                       "bound": max(m["bound"] for m in s["end_to_end"])},
                      s["end_to_end"])

    def test_shape_prints_declared_metrics(self):
        s = spec()
        raw = {"attempted": 3, "failed": 0,
               "metrics": {m["name"]: 1.5 for m in s["end_to_end"]}}
        for trace, declared in ((0, s["end_to_end"]), (1, s["per_layer"])):
            out = json.loads(json.dumps(run.shape(raw, s, trace)))
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(set(out["metrics"]), {m["name"] for m in declared})
            for m in declared:
                self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])


@unittest.skipUnless(os.environ.get("PERFBENCH_SLOW") == "1", "set PERFBENCH_SLOW=1")
class RunTest(unittest.TestCase):

    def test_every_metric_printed(self):
        s = spec()
        produced = set()
        for w in s["workloads"]:
            for trace in (0, 1):
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                     w["name"], "--seed", "5", "--seconds", "1", "--trace",
                     str(trace)], cwd=ROOT, stdout=subprocess.PIPE, check=True)
                out = json.loads(p.stdout.decode().strip().splitlines()[-1])
                self.assertTrue(out["correct"], (w["name"], trace))
                self.assertEqual(out["failed"], 0)
                declared = s["per_layer"] if trace else s["end_to_end"]
                self.assertEqual(set(out["metrics"]), {m["name"] for m in declared})
                if not trace:
                    for m in declared:
                        self.assertGreater(out["metrics"][m["name"]]["value"], 0, m)
                with open(os.path.join(ROOT, ".bench_build", "perfbench", w["name"],
                                       "result.json")) as f:
                    produced |= set(json.load(f)["metrics"])
        # every declared per-layer metric is measured by some workload
        self.assertEqual({m["name"] for m in s["per_layer"]} - produced, set())


if __name__ == "__main__":
    unittest.main()
