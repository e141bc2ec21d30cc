#!/usr/bin/env python3
"""Tests of the benchmark's own accounting.

Usage: python3 -m unittest discover -s perfbench -p 'test_*.py'

The first test feeds synthetic harness records; the second runs the real
harness on one good query plus one injected failure of each kind (a query
that throws and a result whose digest differs from the reference), so it
builds the engine and prebuilds the stores first if that was not done.
"""
import unittest

import run


def op(pass_, name, wall_s, rows=1, digest="7", error=None):
    return {"pass": pass_, "op": name, "traced": False, "start": 0,
            "end": int(wall_s * 1000), "rows": rows, "digest": digest,
            "error": error, "build": None, "action": None}


class AccountingTest(unittest.TestCase):
    def test_thrown_and_wrong_digest_ops_count_as_failed_and_are_not_timed(self):
        reference = {n: {"rows": 1, "digest": "7"} for n in ("good", "throws", "wrong")}
        doc = {"setup_s": 3.0, "heap_mb": 100.0, "ops": [
            op(p, n, w, **kw) for p in (0, 1, 2) for n, w, kw in (
                ("good", 2.0 - 0.5 * (p > 0), {}),
                ("throws", 50.0, {"error": "java.lang.RuntimeException: boom"}),
                ("wrong", 70.0, {"digest": "8"}))]}
        attempted, failed = run.account(doc, reference)
        self.assertEqual((attempted, failed), (9, 6))
        metrics, _ = run.end_to_end(doc)
        self.assertEqual(metrics["cold_pass_s"], 2.0)
        self.assertEqual(metrics["warm_pass_s"], 1.5)
        self.assertEqual(metrics["op_p50_s"], 1.5)
        self.assertEqual(metrics["setup_s"], 3.0)

    def test_traced_run_whose_ops_all_failed_still_gives_metrics(self):
        doc = {"cpus": 4, "block_mb_peak": 0.0,
               "passes": [{"pass": p, "traced": p % 2 == 0} for p in (0, 1, 2)],
               "ops": [dict(op(p, "throws", 1.0, error="java.lang.RuntimeException: boom"),
                            traced=p % 2 == 0) for p in (0, 1, 2)]}
        self.assertEqual(run.account(doc, {}), (3, 3))
        metrics = run.per_layer(doc)
        self.assertIsNone(metrics["queries.build_s"])
        self.assertIsNone(metrics["trace.overhead_frac"])
        self.assertEqual(metrics["spark.block_mb_peak"], 0.0)

    def test_tail_is_the_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(run.tail_percentile(list(range(10))))
        p, value, beyond = run.tail_percentile(list(range(1, 21)))
        self.assertEqual((p, value, beyond), (50, 10, 10))


class HarnessFailureTest(unittest.TestCase):
    def test_injected_failures_are_counted_by_a_real_run(self):
        name = "injected_failures"
        run.WORKLOADS[name] = ["o5_topk", "no_such_query"]
        try:
            doc, _ = run.run_workload(name, seed=0, seconds=0, trace=False)
        finally:
            del run.WORKLOADS[name]
        good = run.json.loads((run.HERE / "reference.json").read_text())["reports"]["o5_topk"]
        by_op = {r["op"]: r for r in doc["ops"]}
        self.assertIsNotNone(by_op["no_such_query"]["error"])
        self.assertEqual([by_op["o5_topk"]["rows"], by_op["o5_topk"]["digest"]],
                         [good["rows"], good["digest"]])
        wrong = {"o5_topk": {"rows": good["rows"], "digest": str(int(good["digest"]) + 1)}}
        self.assertEqual(run.account(doc, wrong), (6, 6))
        self.assertEqual(run.pass_times(doc), {})


if __name__ == "__main__":
    unittest.main()
