"""Tests of the benchmark's Python helpers: the tail helper, error-rate
accounting, the pipeline result checker and the span summariser.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
import oracle  # noqa: E402
import summarise  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n in (20, 25, 40, 100, 300, 1000, 5000, 100000):
            p = metrics.tail_percentile(n)
            self.assertGreaterEqual(n * (1 - p / 100), 10 - 1e-9, n)
            # a tenth of a percent higher leaves fewer than ten beyond
            if p < 99.9:
                self.assertLess(n * (1 - (p + 0.1) / 100), 10, n)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(300), 96.6)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(metrics.tail_percentile(19), 50.0)
        v, p, n = metrics.tail([3.0, 1.0, 2.0])
        self.assertEqual((v, p, n), (2.0, 50.0, 3))

    def test_tail_value(self):
        v, p, n = metrics.tail([float(i) for i in range(101)])
        self.assertEqual((p, n), (90.0, 101))
        self.assertAlmostEqual(v, 90.0)


class ErrorRateTest(unittest.TestCase):
    def test_thrown_op_and_wrong_result_both_count(self):
        ops = [{"cls": "read", "s": 0.1, "rows": 1, "ok": True, "err": None},
               {"cls": "read", "s": 0.1, "rows": 1, "ok": False,
                "err": "RuntimeException: boom"},
               {"cls": "read", "s": 0.1, "rows": 1, "ok": False,
                "err": "got (count 3, sum 1.0), expected (count 4, sum 1.0)"}]
        checks = [{"name": "lww:a", "error": None}, {"name": "lww:b", "error": "1 row"}]
        self.assertEqual(metrics.error_rate(ops, checks), (5, 3))


class OracleCheckTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def _write(self, name, rows):
        import duckdb
        os.makedirs(os.path.join(self.dir, name))
        con = duckdb.connect()
        values = ", ".join(f"({a}, '{b}', {c}::DOUBLE)" for a, b, c in rows)
        con.execute(f"COPY (SELECT * FROM (VALUES {values}) t(k, term, score)) "
                    f"TO '{self.dir}/{name}/part-0.parquet' (FORMAT parquet)")

    def test_rejects_a_corrupted_result(self):
        rows = [(1, "spark", 0.5), (2, "data", 1.25)]
        want = {"q": oracle.digest(rows, ["k", "term", "score"])}
        self._write("q", rows)
        self.assertEqual(oracle.check(want, oracle.got(self.dir, ["q"])), {"q": None})
        shutil.rmtree(os.path.join(self.dir, "q"))
        self._write("q", [(1, "spark", 0.5), (2, "data", 1.26)])
        self.assertIsNotNone(oracle.check(want, oracle.got(self.dir, ["q"]))["q"])

    def test_rejects_missing_rows_and_results(self):
        rows = [(1, "spark", 0.5), (2, "data", 1.25)]
        want = {"q": oracle.digest(rows, ["k", "term", "score"]),
                "r": oracle.digest(rows, ["k", "term", "score"])}
        self._write("q", rows[:1])
        errs = oracle.check(want, oracle.got(self.dir, ["q", "r"]))
        self.assertIsNotNone(errs["q"])
        self.assertEqual(errs["r"], "no result")

    def test_row_and_column_order_do_not_matter(self):
        a = oracle.digest([(1, "x"), (2, "y")], ["a", "b"])
        b = oracle.digest([("y", 2), ("x", 1)], ["b", "a"])
        self.assertEqual(a, b)


def trace(spans, jobs=(), phases=()):
    return {"span_fields": ["id", "parent", "op", "layer", "name", "start", "end", "thread"],
            "spans": [list(s) + ["main"] for s in spans], "jobs": list(jobs),
            "phases": list(phases), "counts": [],
            "store": {k: {"n": 0, "bytes": 0, "ns": 0} for k in summarise.STORE_KINDS}}


def job(jid, span, op, start, end):
    j = {"job": jid, "span": span, "op": op, "start": start, "end": end, "stages": 1,
         "tasks": 4}
    for f, _ in summarise.JOB_SUMS.values():
        j[f] = 0
    return j


class SummariserTest(unittest.TestCase):
    # op 1: [0, 100); api.write [10, 90) holding a store call [20, 30)
    # and a job [40, 70) with a catalyst phase [35, 45) overlapping it
    SPANS = [(1, 0, 1, "bench", "append_small", 0, 100),
             (2, 1, 1, "api", "api.write", 10, 90),
             (3, 2, 1, "core", "core.store.write", 20, 30)]

    def test_self_times_sum_to_the_op_span(self):
        ops = summarise.build_ops(trace(self.SPANS, [job(7, 2, 1, 40, 70)],
                                        [(1, "planning", 35, 45)]))
        nodes = ops[1]
        st = summarise.self_times(nodes)
        self.assertEqual(sum(st.values()), 100)
        by_name = {n.name: st.get(n.id, 0) for n in nodes}
        self.assertEqual(by_name["core.store.write"], 10)
        self.assertEqual(by_name["spark.job"], 30)
        # the phase ran inside api.write: it owns [35, 40), the job [40, 70)
        self.assertEqual(by_name["catalyst.planning"], 5)
        self.assertEqual(by_name["api.write"], 80 - 10 - 30 - 5)
        self.assertEqual(by_name["append_small"], 20)

    def test_children_are_clipped_to_their_parent(self):
        spans = [(1, 0, 1, "bench", "op", 0, 50), (2, 1, 1, "api", "api.write", 10, 40)]
        ops = summarise.build_ops(trace(spans, [job(3, 2, 1, 30, 80)]))
        st = summarise.self_times(ops[1])
        self.assertEqual(sum(st.values()), 50)
        self.assertEqual(st["job3"], 10)

    def test_jobs_of_other_ops_are_not_attributed(self):
        ops = summarise.build_ops(trace(self.SPANS, [job(9, 0, 0, 40, 70)]))
        self.assertNotIn("job9", {n.id for n in ops[1]})

    def test_per_layer_metrics_and_overhead(self):
        report = {"trace": trace(self.SPANS, [job(7, 2, 1, 40, 70)]),
                  "traced_ops": [{"cls": "append_small", "s": 1.2, "rows": 10, "ok": True}],
                  "ops": [{"cls": "append_small", "s": 1.0, "rows": 10, "ok": True}],
                  "info": {"cpus": 4, "user_bytes_per_row": 16}, "traced_wall_s": 1.0}
        m = summarise.per_layer(report)
        self.assertAlmostEqual(m["trace.overhead_frac"][0], 0.2)
        self.assertEqual(m["spark.jobs_per_op"][0], 1)
        self.assertAlmostEqual(sum(v for k, (v, _) in m.items() if k.startswith("self.")),
                               100e-9)


if __name__ == "__main__":
    unittest.main()
