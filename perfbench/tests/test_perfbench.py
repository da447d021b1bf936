"""Tests of the benchmark itself (not of the engine).

    python3 -m unittest discover -s perfbench/tests

The Scala self-test builds the driver on first use (about a minute).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import duckdb
import pandas as pd

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def run_bench(args, env=None, cwd=ROOT, script=None):
    script = script or os.path.join(BENCH, "run.py")
    return subprocess.run([sys.executable, script] + args, cwd=cwd, capture_output=True,
                          text=True, env=env, timeout=120)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = gen.tables(5), gen.tables(5)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_other_tables(self):
        a, b = gen.tables(5), gen.tables(6)
        self.assertFalse(a["orders"].equals(b["orders"]))
        self.assertFalse(a["embeddings"].equals(b["embeddings"]))

    def test_fixture_schema(self):
        t = gen.tables(1)
        self.assertEqual(str(t["orders"].schema.field("o_orderdate").type), "timestamp[us]")
        self.assertEqual(str(t["embeddings"].schema.field("embedding").type), "list<item: float>")
        self.assertEqual(str(t["nation"].schema.field("n_nationkey").type), "int32")
        ts = t["events"].column("ts").to_pylist()
        self.assertLess(str(ts[0]), "2024-01-02")
        self.assertGreater(str(ts[-1]), "2024-01-25")


class OracleTest(unittest.TestCase):
    def setUp(self):
        self.good = pd.DataFrame({"b": [1.5, 2.5, 3.5], "a": ["x", "y", "z"]})

    def test_equal_frames_pass(self):
        self.assertIsNone(oracle.compare(self.good, self.good[["a", "b"]].copy()))

    def test_corruptions_are_flagged(self):
        changed = self.good.copy()
        changed.loc[1, "b"] = 2.6
        reordered = self.good.iloc[::-1].reset_index(drop=True)
        for bad in (changed, reordered, self.good.iloc[:2], self.good.rename(columns={"a": "c"})):
            self.assertIsNotNone(oracle.compare(bad, self.good))

    def test_check_against_duckdb(self):
        with tempfile.TemporaryDirectory() as d:
            data, res = os.path.join(d, "data"), os.path.join(d, "res")
            gen.write_tables(data, 3)
            sql = "SELECT n_name, n_regionkey FROM nation ORDER BY n_nationkey"
            os.makedirs(os.path.join(res, "ok"))
            os.makedirs(os.path.join(res, "bad"))
            con = duckdb.connect()
            src = os.path.join(data, "nation.parquet")
            con.execute(f"COPY (SELECT n_name, n_regionkey FROM '{src}' ORDER BY n_nationkey) "
                        f"TO '{os.path.join(res, 'ok', 'part-0.parquet')}' (FORMAT parquet)")
            con.execute(f"COPY (SELECT n_name, n_regionkey + (n_nationkey = 7)::INT AS n_regionkey "
                        f"FROM '{src}' ORDER BY n_nationkey) "
                        f"TO '{os.path.join(res, 'bad', 'part-0.parquet')}' (FORMAT parquet)")
            con.close()
            bad = oracle.check(data, res, {"ok": sql, "bad": sql, "missing": sql})
            self.assertEqual(sorted(b.split(":")[0] for b in bad), ["bad", "missing"])


class SummaryTest(unittest.TestCase):
    def test_largest_summary_fits(self):
        for names in (run.END_TO_END, run.PER_LAYER):
            metrics = {n: {"value": 123456.78901234567, "unit": u} for n, u in names.items()}
            line = run.summary(True, 123456, 123456, metrics)
            self.assertLessEqual(len(line.encode()), run.SUMMARY_LIMIT)
            self.assertEqual(sorted(json.loads(line)), ["attempted", "correct", "failed", "metrics"])

    def test_metric_names_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))

    def test_oversized_summary_is_refused(self):
        metrics = {f"m{i}": {"value": 1.0, "unit": "ms"} for i in range(100)}
        with self.assertRaises(run.BenchError):
            run.summary(True, 1, 0, metrics)


class CommandLineTest(unittest.TestCase):
    def assert_refused(self, p, needle):
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")
        self.assertIn(needle, p.stderr)

    def test_unknown_workload(self):
        self.assert_refused(run_bench(["--workload", "nope", "--seed", "1", "--seconds", "1",
                                       "--trace", "0"]), "invalid choice")

    def test_bad_seed(self):
        for seed in ("-1", "x", "1.5"):
            self.assert_refused(run_bench(["--workload", "analytics", "--seed", seed,
                                           "--seconds", "1", "--trace", "0"]), "seed")

    def test_bad_trace(self):
        self.assert_refused(run_bench(["--workload", "analytics", "--seed", "1", "--seconds", "1",
                                       "--trace", "2"]), "trace")

    def test_plan_changing_variable(self):
        env = dict(os.environ, GRAFT_AB="nofan")
        self.assert_refused(run_bench(["--workload", "analytics", "--seed", "1", "--seconds", "1",
                                       "--trace", "0"], env=env), "GRAFT_AB")

    def test_without_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__", "target"))
            p = run_bench(["--workload", "analytics", "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=d, script=os.path.join(d, "perfbench", "run.py"))
            self.assert_refused(p, "program sources not found")


class DriverSelfTest(unittest.TestCase):
    def test_scala_checks(self):
        cp = run.build()
        p = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest"], capture_output=True,
                           text=True, timeout=120)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.assertIn("selftest ok", p.stdout)


if __name__ == "__main__":
    unittest.main()
