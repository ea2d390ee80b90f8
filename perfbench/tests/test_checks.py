"""Tests for perfbench's output checks: a correct result passes, and a
perturbed one (one dropped row, one changed value) fails.

    python3 -m unittest discover -s perfbench/tests -v

With PERFBENCH_SMOKE=1 the tests also run every workload in smoke mode
(sf0.001, a few seconds, every check on; builds the program first) and
perturb the recorded outputs of that run.
"""
import copy
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

DATA = os.path.join(BENCH, "data", "sf0.001")


class OracleCheckTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        self.con = check.connect(DATA)
        self.sql = {"q": "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY 1"}

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def write_result(self, table):
        d = os.path.join(self.tmp, "q")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))

    def test_exact_result_passes(self):
        self.write_result(self.con.execute(self.sql["q"]).fetch_arrow_table())
        self.assertEqual(check.check_oracle(self.con, self.tmp, self.sql), [])

    def test_dropped_row_fails(self):
        t = self.con.execute(self.sql["q"]).fetch_arrow_table()
        self.write_result(t.slice(1))
        failures = check.check_oracle(self.con, self.tmp, self.sql)
        self.assertEqual(len(failures), 1)
        self.assertIn("row count", failures[0])

    def test_changed_value_fails(self):
        t = self.con.execute(
            "SELECT n_nationkey, CASE WHEN n_nationkey = 3 THEN 'X' ELSE n_name END AS n_name, "
            "n_regionkey FROM nation").fetch_arrow_table()
        self.write_result(t)
        self.assertEqual(len(check.check_oracle(self.con, self.tmp, self.sql)), 1)

    def test_missing_result_fails(self):
        self.assertEqual(len(check.check_oracle(self.con, self.tmp, self.sql)), 1)


class FingerprintCheckTest(unittest.TestCase):
    def setUp(self):
        self.con = check.connect(DATA)
        self.spec = {"table": "orders", "key": "o_orderkey", "via": "tcp",
                     "cols": ["o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority"],
                     "lo": 100, "hi": 3000}
        n, sums = check.fingerprint_query(
            self.con, "orders", self.spec["cols"], "WHERE o_orderkey BETWEEN 100 AND 3000")
        self.op = {"phase": "scan", "name": "orders.0", "round": 2, "ok": True,
                   "count": n, "sums": {k: str(v) for k, v in sums.items()},
                   "spec": self.spec}

    def test_matching_scan_passes(self):
        self.assertEqual(check.check_ops(self.con, [self.op]), [])

    def test_dropped_row_fails(self):
        # the fingerprint of the first row, taken out of the totals
        n1, row = check.fingerprint_query(
            self.con, "(SELECT * FROM orders WHERE o_orderkey BETWEEN 100 AND 3000 "
                      "ORDER BY o_orderkey LIMIT 1)", self.spec["cols"])
        bad = copy.deepcopy(self.op)
        bad["count"] -= n1
        bad["sums"] = {k: str(int(v) - row[k]) for k, v in bad["sums"].items()}
        self.assertEqual(len(check.check_ops(self.con, [bad])), 1)

    def test_changed_value_fails(self):
        bad = copy.deepcopy(self.op)
        bad["sums"]["o_totalprice"] = str(int(bad["sums"]["o_totalprice"]) + 1)
        self.assertEqual(len(check.check_ops(self.con, [bad])), 1)

    def test_failed_operation_is_not_checked(self):
        bad = copy.deepcopy(self.op)
        bad.update(ok=False, count=-1, sums={})
        self.assertEqual(check.check_ops(self.con, [bad]), [])

    def test_dml_state_detects_a_lost_update(self):
        d = {"delete_below": 100.005, "update_mod": 4, "update_rem": 1,
             "merge_mod": 7, "merge_new": 30}
        n, sums = check.dml_state(self.con, d)
        op = {"phase": "dml_state", "name": "work_customer", "round": 2, "ok": True,
              "count": n, "sums": {k: str(v) for k, v in sums.items()}, "spec": d}
        self.assertEqual(check.check_ops(self.con, [op]), [])
        bad = copy.deepcopy(op)
        bad["sums"]["c_mktsegment"] = str(int(bad["sums"]["c_mktsegment"]) - 1)
        self.assertEqual(len(check.check_ops(self.con, [bad])), 1)


@unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE") == "1", "set PERFBENCH_SMOKE=1")
class SmokeRunTest(unittest.TestCase):
    """Every workload end to end at sf0.001 with every check on."""

    def run_workload(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_workloads(self):
        for workload in ("mem", "wire"):
            for trace in (0, 1):
                with self.subTest(workload=workload, trace=trace):
                    r = self.run_workload(workload, trace)
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    if trace == 0:
                        self.assertTrue(all(m["value"] > 0 for m in r["metrics"].values()),
                                        r["metrics"])

    def test_perturbed_run_output_fails(self):
        self.run_workload("wire", 0)
        run_dir = os.path.join(ROOT, ".bench_build", "runs", "wire-trace0")
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
        con = check.connect(DATA)
        self.assertEqual(check.check_ops(con, result["ops"]), [])
        for phase in ("scan", "lookup", "load", "dml_state"):
            ops = copy.deepcopy(result["ops"])
            op = next(o for o in ops if o["phase"] == phase and o["count"] > 0)
            op["count"] -= 1  # one dropped row
            with self.subTest(phase=phase):
                self.assertEqual(len(check.check_ops(con, ops)), 1)


if __name__ == "__main__":
    unittest.main()
