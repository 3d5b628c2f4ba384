"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py          # from the repository root

The artifact test builds the harness (perfbench/build.py) on first use.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_eleventh_largest_has_ten_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, pct, n = stats.tail({"a": xs})
        self.assertEqual((v, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_order_and_grouping_do_not_matter(self):
        xs = [float(x) for x in range(1, 31)]
        v, pct, n = stats.tail({"a": xs[15:], "b": list(reversed(xs[:15]))})
        self.assertEqual((v, n), (20.0, 30))
        self.assertAlmostEqual(pct, 100.0 * 20 / 30)

    def test_below_21_samples_the_tail_is_the_slowest_statement_median(self):
        self.assertEqual(stats.tail({"a": [3.0], "b": [1.0], "c": [2.0]}),
                         (3.0, 100.0, 3))
        # one outlying draw of "b" does not make the tail
        by = {"a": [4.0, 5.0, 6.0], "b": [1.0, 2.0, 9.0]}
        self.assertEqual(stats.tail(by), (5.0, 100.0, 6))
        xs = {f"s{i}": [float(i)] for i in range(20)}
        self.assertEqual(stats.tail(xs), (19.0, 100.0, 20))


class Comparators(unittest.TestCase):
    def ref_answer(self):
        return {"mode": "rows", "n_rows": 2, "n_cols": 2, "ordered": False,
                "rows": ["1\x01a", "2\x01b"]}

    def test_ref_accepts_same_rows_in_any_order_and_float_noise(self):
        ans = {"mode": "rows", "n_rows": 2, "n_cols": 2, "ordered": False,
               "rows": ["1\x011.000000e+00", "2\x01b"]}
        r = {"ok": True, "n_rows": 2, "n_cols": 2,
             "rows": [["2", "b"], ["1", "1.0000001e+00"]]}
        self.assertIsNone(oracle.check_ref(r, ans))

    def test_ref_flags_a_wrong_row(self):
        r = {"ok": True, "n_rows": 2, "n_cols": 2,
             "rows": [["1", "a"], ["2", "c"]]}
        why = oracle.check_ref(r, self.ref_answer())
        self.assertIsNotNone(why)
        self.assertIn("row 1", why)

    def test_ref_flags_a_failed_statement(self):
        r = {"ok": False, "err": "AnalysisException: boom"}
        self.assertTrue(oracle.check_ref(r, self.ref_answer()).startswith("ERR"))

    def test_oc_orders_columns_by_name_and_flags_a_wrong_row(self):
        ans = {"cols": ["a", "b"], "rows": [["1", "x"], ["2", "y"]]}
        good = {"ok": True, "n_rows": 2, "cols": ["b", "a"],
                "rows": [["y", "2"], ["x", "1"]]}
        self.assertIsNone(oracle.check_oc(good, ans))
        bad = {"ok": True, "n_rows": 2, "cols": ["b", "a"],
               "rows": [["y", "2"], ["x", "3"]]}
        self.assertIn("row 0", oracle.check_oc(bad, ans))

    def test_unanswerable_oracle_is_reported_not_passed(self):
        r = {"ok": True, "n_rows": 0, "cols": [], "rows": []}
        self.assertEqual(oracle.check_oc(r, {"error": "x"}), oracle.UNCHECKED)


class Artifact(unittest.TestCase):
    def all_failed(self):
        stmts = [{"id": "s1", "lat_s": 0.5, "ok": False},
                 {"id": "s2", "lat_s": 0.25, "ok": False}]
        return {
            "workload": "w", "cores": 4,
            "setups": [{"total_s": 1.0, "session_s": 0.9, "register_s": 0.1}],
            "passes": [{"traced": False, "wall_s": 0.75, "stmts": stmts}],
            "results": [{"id": "s1", "ok": False, "err": "X: a"},
                        {"id": "s2", "ok": False, "err": "X: b"}],
            "heap_peak_mb": 100.0}

    def test_zero_successes_still_give_every_metric(self):
        art = json.loads(json.dumps(self.all_failed()))
        expect = {"s1": ("oc", None), "s2": ("oc", None)}
        oracle._answers.update({"s1": {"cols": [], "rows": []},
                                "s2": {"cols": [], "rows": []}})
        attempted, failures, unchecked = run.check(art, expect)
        self.assertEqual((attempted, len(failures), unchecked), (2, 2, []))
        metrics, _ = run.end_to_end(art)
        line = json.dumps({"correct": False, "attempted": attempted,
                           "failed": len(failures),
                           "metrics": {k: {"value": v, "unit": u}
                                       for k, (v, u) in metrics.items()}})
        self.assertEqual(set(json.loads(line)["metrics"]),
                         {"setup_s", "wall_s", "stmt_p50_s", "stmt_tail_s"})

    def test_harness_serializes_an_all_failed_artifact(self):
        classes = build.build()
        tmp = os.path.join(build.BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        p = subprocess.run(run.java_cmd(classes, "perfbench.SelfTest", tmp=tmp),
                           capture_output=True, text=True, cwd=build.ROOT)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr)
        self.assertIn("SelfTest ok", p.stdout)


if __name__ == "__main__":
    unittest.main()
