"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The fast tests need only python, numpy, pyarrow and duckdb. The
end-to-end test runs the one command for every workload, with and without
tracing, and takes a few minutes; it runs when PERFBENCH_E2E=1.
"""
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class ContractTest(unittest.TestCase):
    def test_names_and_units(self):
        b = spec()
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        names += [w["name"] for w in b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)

    def test_spec_matches_code(self):
        b = spec()
        self.assertEqual({w["name"] for w in b["workloads"]}, set(WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, layers.UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.E2E_UNITS)

    def test_short_queries_follow_the_selection_rule(self):
        # every second q-tier query by measured cost, from the cheapest
        with open(os.path.join(ROOT, "plans/r20/bench_full_final.json")) as f:
            times = json.load(f)["queries"]
        tier = sorted((t, q) for q, t in times.items() if re.match(r"q\d\d_", q))
        self.assertEqual(len(tier), 28)
        self.assertEqual(WORKLOADS["short_queries"]["queries"], [q for _, q in tier[::2]])

    def test_tail_latency_is_an_upper_percentile(self):
        # ten samples beyond it where the fewest samples allow, else p75
        for n_min, n, pct, beyond in ((56, 56, 100 * 46 / 56, 10), (40, 40, 75.0, 10),
                                      (12, 12, 75.0, 3), (12, 30, 75.0, 7),
                                      (56, 84, 100 * 46 / 56, 15)):
            samples = [float(i) for i in range(n)]
            value, got = run.tail_latency(samples, n_min)
            self.assertAlmostEqual(got, pct)
            self.assertEqual(sum(1 for s in samples if s > value), beyond)
            self.assertGreater(value, statistics.median(samples))


class OracleTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=run.WORK)
        self.data = gen.stage(os.path.join(self.tmp, "data"), seed=3, sf=0.001)
        self.check = os.path.join(self.tmp, "check")
        sql = ("SELECT c_mktsegment, count(*) AS n, sum(c_acctbal) AS bal "
               "FROM customer GROUP BY c_mktsegment")
        os.makedirs(self.check)
        with open(os.path.join(self.check, "oracle_sql.json"), "w") as f:
            json.dump({"good": sql, "bad": sql}, f)
        con = duckdb.connect()
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        rows = con.execute(sql).fetch_arrow_table()
        bal = rows.column("bal").to_pylist()
        bal[0] += 0.01  # one cent off in one group
        bad = rows.set_column(2, "bal", pa.array(bal))
        for name, table in (("good", rows), ("bad", bad)):
            os.makedirs(os.path.join(self.check, name))
            pq.write_table(table, os.path.join(self.check, name, "part-0.parquet"))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_perturbed_result_is_flagged(self):
        verdict, rows = oracle.check(self.data, self.check, ["good", "bad"])
        self.assertEqual(rows, {"good": 5, "bad": 5})
        self.assertEqual(verdict["good"], "")
        self.assertEqual(verdict["bad"], "row hash differs from oracle")

    def test_missing_output_is_flagged(self):
        self.assertEqual(oracle.check(self.data, self.check, ["none"])[0]["none"], "no output")


class SeedTest(unittest.TestCase):
    def test_two_seeds_differ_with_the_same_shape(self):
        a, b = gen.tables(1, 0.01), gen.tables(2, 0.01)
        con = duckdb.connect()
        for name in gen.TABLES:
            self.assertEqual(a[name].schema, b[name].schema)
            self.assertEqual(a[name].num_rows, b[name].num_rows)
            if name not in ("region", "nation"):
                self.assertNotEqual(a[name], b[name], name)
        # a few query shapes: join fan-out, near-duplicate count, groups
        shapes = [
            "SELECT count(*) FROM o JOIN l ON o_orderkey = l_orderkey "
            "WHERE o_orderstatus = 'F' AND l_returnflag = 'R'",
            "SELECT count(*) FROM d WHERE text LIKE '% dup'",
            "SELECT count(DISTINCT user_id) FROM e WHERE event_type = 'purchase'",
        ]
        counts = []
        for t in (a, b):
            for alias, name in (("o", "orders"), ("l", "lineitem"),
                                ("d", "documents"), ("e", "events")):
                con.register(alias, t[name])
            counts.append([con.execute(q).fetchone()[0] for q in shapes])
        for x, y in zip(*counts):
            self.assertGreater(x, 0)
            self.assertLess(max(x, y) / min(x, y), 1.5)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class EndToEndTest(unittest.TestCase):
    def run_one(self, workload, seed, trace):
        cp = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(cp.returncode, 0, cp.stderr[-3000:])
        return json.loads(cp.stdout.strip().splitlines()[-1])

    def test_one_command_prints_every_metric(self):
        b = spec()
        for w in WORKLOADS:
            for trace, group in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    line = self.run_one(w, 1, trace)
                    self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(line["correct"])
                    self.assertEqual(line["failed"], 0)
                    self.assertGreaterEqual(line["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in b[group]}
                    got = {k: v["unit"] for k, v in line["metrics"].items()}
                    self.assertEqual(got, want)
                    for v in line["metrics"].values():
                        self.assertIsInstance(v["value"], (int, float))

    def test_seeds_give_row_counts_of_the_same_order(self):
        for w in WORKLOADS:
            rows = []
            for seed in (1, 2):
                self.run_one(w, seed, 0)
                path = os.path.join(run.WORK, "runs", f"{w}-seed{seed}-trace0", "metrics.json")
                with open(path) as f:
                    rows.append(json.load(f)["rows"])
            for q in WORKLOADS[w]["queries"]:
                with self.subTest(workload=w, query=q):
                    x, y = rows[0][q], rows[1][q]
                    self.assertGreater(min(x, y), 0)
                    self.assertLess(max(x, y) / min(x, y), 3.0)


if __name__ == "__main__":
    unittest.main()
