"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

CheckTest runs in seconds (DuckDB only). SmokeTest runs every workload once
at sf 0.001 through the real program, so it builds the benchmark first if
needed and takes a few minutes.
"""
import json
import os
import sys
import tempfile
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def fail_ratio(ops):
    timed = [o for o in ops if o["timed"]]
    return sum(1 for o in timed if not o["pass"]) / len(timed)


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def test_canon_matches_across_engines(self):
        import datetime as dt
        import decimal
        # The program writes Java's forms; DuckDB returns Python's.
        self.assertEqual(check.canon(1.0e7), check.canon(10000000))
        self.assertEqual(check.canon({"dec": "12.50"}), check.canon(decimal.Decimal("12.5")))
        self.assertEqual(check.canon(915148800000000), check.canon(dt.datetime(1999, 1, 1)))
        self.assertNotEqual(check.canon(0.1), check.canon(0.10000000149011612))

    def _point_scan(self):
        plan = gen.generate("point_scan", 7, self.dir, sf=0.001)
        ops = []
        for i, o in enumerate(plan["warm"] + plan["passes"][0] + plan["passes"][1]):
            ops.append({"name": f"{o['kind']}_{o['api']}", "cls": o["kind"], "ok": True, "err": "",
                        "timed": i >= len(plan["warm"]), "params": o, "check": {}})
        exp = check.expected_point_scan(ops, plan, self.dir)
        for i, o in enumerate(ops):
            o["check"] = dict(exp[i])  # what a correct program reports
        return plan, {"ops": ops}

    def test_point_scan_correct_output_passes(self):
        plan, result = self._point_scan()
        self.assertEqual(fail_ratio(check.check(result, "point_scan", plan, self.dir)), 0)

    def test_point_scan_wrong_expected_value_fails(self):
        plan, result = self._point_scan()
        real = check.expected_point_scan

        def corrupted(*a):
            exp = real(*a)
            exp[len(exp) - 1] = {k: (v or 0) + 1 for k, v in exp[len(exp) - 1].items()}
            return exp
        with mock.patch.object(check, "expected_point_scan", corrupted):
            self.assertGreater(fail_ratio(check.check(result, "point_scan", plan, self.dir)), 0)

    def test_dml_wrong_expected_value_fails(self):
        plan = gen.generate("dml_mixed", 7, self.dir, sf=0.001)
        r = plan["rounds"][0]
        ops = [{"name": n, "cls": "read" if n == "read" else "commit", "ok": True, "err": "", "timed": True,
                "params": p, "check": {}}
               for n, p in [("append", {"batch": r["append_batch"]}), ("delete", r["delete"]),
                            ("update", r["update"]), ("merge", {"batch": r["merge_batch"]}), ("read", {})]]
        ops[-1]["check"] = dict(check.expected_dml(ops, self.dir)[4])
        self.assertEqual(fail_ratio(check.check({"ops": ops}, "dml_mixed", plan, self.dir)), 0)
        ops[-1]["check"]["sum_cents"] += 1
        self.assertGreater(fail_ratio(check.check({"ops": ops}, "dml_mixed", plan, self.dir)), 0)

    def test_suite_wrong_reference_fails(self):
        gen.generate("suite", 7, self.dir, sf=0.001)
        sql = "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY o_orderstatus"
        con = check._connect(self.dir)
        rows = [[check.canon(v) for v in reversed(r)] for r in con.sql(sql).fetchall()]  # n, o_orderstatus
        result = {"oracle_sql": {"q": sql},
                  "reference": {"q": {"columns": ["n", "o_orderstatus"], "rows": rows}},
                  "ops": [{"name": "q", "key": "q", "ok": True, "timed": True}]}
        self.assertEqual(fail_ratio(check.check(json.loads(json.dumps(result)), "suite", {}, self.dir)), 0)
        result["reference"]["q"]["rows"][0][0] = str(int(rows[0][0]) + 1)
        self.assertGreater(fail_ratio(check.check(result, "suite", {}, self.dir)), 0)


class SmokeTest(unittest.TestCase):
    def test_every_workload_at_sf0001(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                line, _ = run.run(w, seed=1, seconds=1, trace=0, sf=0.001)
                self.assertTrue(line["correct"], line)
                self.assertGreaterEqual(line["attempted"], 1)
                self.assertEqual(line["failed"], 0)
                self.assertTrue(all(m["value"] > 0 for m in line["metrics"].values()), line)


if __name__ == "__main__":
    unittest.main()
