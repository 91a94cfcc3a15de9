import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402
import oracle  # noqa: E402


class SpanArithmeticTest(unittest.TestCase):
    # pass(10) -> plan(2), load(5) -> write(3); stream(1)
    SPANS = [(1, 0, "plan", 2.0), (3, 2, "write", 3.0), (2, 0, "load", 5.0),
             (4, 0, "stream", 1.0), (0, -1, "pass", 10.0)]

    def test_self_time_is_span_minus_children(self):
        own = metrics.self_times(self.SPANS)
        self.assertAlmostEqual(own[0], 10.0 - 2.0 - 5.0 - 1.0)
        self.assertAlmostEqual(own[2], 5.0 - 3.0)
        self.assertAlmostEqual(own[3], 3.0)
        self.assertAlmostEqual(sum(own.values()), 10.0)

    def test_subtree(self):
        self.assertEqual(metrics.subtree(self.SPANS, 2), {2, 3})
        self.assertEqual(metrics.subtree(self.SPANS, 0), {0, 1, 2, 3, 4})

    def test_prefix_difference(self):
        stages = metrics.prefix_stages([
            {"name": "read", "inputs": [], "s": 1.5},
            {"name": "pivot", "inputs": ["read"], "s": 2.25},
            {"name": "wiki", "inputs": [], "s": 3.0},
            {"name": "merge", "inputs": ["wiki", "read"], "s": 4.0}])
        self.assertAlmostEqual(stages["read"], 1.5)
        self.assertAlmostEqual(stages["pivot"], 0.75)
        # a join is charged beyond its slowest input
        self.assertAlmostEqual(stages["merge"], 1.0)

    def test_jobs_attributed_to_nested_spans(self):
        tv = metrics.TraceView({
            "spans": [list(s) for s in self.SPANS],
            "jobs": [[0, 1, [0]], [1, 3, [1, 2]], [2, 2, [3]], [3, -1, [4]]],
            "stages": {str(i): {"tasks": i + 1} for i in range(5)}})
        self.assertEqual([j[0] for j in tv.jobs_in(2)], [1, 2])
        self.assertEqual(len(tv.jobs_in(0)), 3)
        self.assertEqual([r["tasks"] for r in tv.stage_rows(tv.jobs_in(2))], [2, 3, 4])


class TailRuleTest(unittest.TestCase):
    def test_reported_tail_has_ten_samples_beyond(self):
        for n in (20, 40, 100, 1000, 5000):
            xs = [float(i) for i in range(n)]
            p, v, beyond = metrics.tail(xs)
            self.assertGreaterEqual(beyond, 10, n)
            self.assertEqual(beyond, sum(1 for x in xs if x > v))
            higher = [q for q in metrics.TAIL_LADDER if q > p]
            for q in higher:  # no higher rung qualifies
                self.assertLess(sum(1 for x in xs if x > metrics.percentile(xs, q)), 10)

    def test_rungs(self):
        self.assertEqual(metrics.tail([float(i) for i in range(1000)])[0], 99.0)
        self.assertEqual(metrics.tail([float(i) for i in range(200)])[0], 95.0)
        self.assertEqual(metrics.tail([float(i) for i in range(41)])[0], 75.0)

    def test_too_few_samples_fall_back_to_median(self):
        p, v, beyond = metrics.tail([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((p, v, beyond), (50.0, 3.0, 2))

    def test_percentile_interpolates(self):
        self.assertAlmostEqual(metrics.percentile([1.0, 2.0, 3.0, 4.0], 50), 2.5)
        self.assertEqual(metrics.percentile([5.0], 99), 5.0)


def raw_record(traced):
    passes = []
    for i, run_s in enumerate([10.0, 12.0, 11.0, 13.0]):
        t = traced and i in (1, 2)
        passes.append({"idx": i, "traced": t, "run_s": run_s, "span": 100 + i if t else -1,
                       "units": [["etl.plan", 1.0 + i], ["chunk", 2.0], ["chunk", 4.0]],
                       "outputs": {}, "memory": {"live_mb": 2.0 + i % 2, "storage_mb": 1.0}})
    spans = [[101, -1, "pass", 12.0], [102, -1, "pass", 11.0],
             [103, 101, "etl.load", 3.0], [104, 102, "etl.load", 5.0]]
    return {"workload": "etl_movies", "setups": [{"start_s": 5.0, "warmup_s": 10.0},
                                                 {"start_s": 1.0, "warmup_s": 2.0},
                                                 {"start_s": 1.0, "warmup_s": 3.0}],
            "passes": passes, "vmhwm_kb": 4096, "errors": [], "check": {},
            "trace": {"spans": spans, "jobs": [[0, 103, [0]], [1, 104, [1]], [2, 104, [2]]],
                      "stages": {"0": {"tasks": 4, "run_ms": 4000, "gc_ms": 10, "spill_b": 0,
                                       "shuffle_write_b": 0, "input_b": 100, "output_b": 0,
                                       "dur_ms": [1000] * 4}},
                      "batches": [], "probes": {}} if traced else {}}


class RecordMetricsTest(unittest.TestCase):
    def test_end_to_end(self):
        m = metrics.end_to_end(raw_record(False))
        self.assertEqual(set(m), {n for n, _ in metrics.END_TO_END})
        self.assertAlmostEqual(m["setup_s"], 4.0)
        self.assertAlmostEqual(m["run_s"], 11.5)
        self.assertAlmostEqual(m["chunk_p50_s"], 3.0)
        self.assertAlmostEqual(m["query_geomean_s"], 2.5)
        self.assertAlmostEqual(m["peak_rss_mb"], 3.0)

    def test_per_layer_reports_every_metric(self):
        m = metrics.per_layer(raw_record(True), 4, ["q_a"], input_bytes=50)
        self.assertEqual(list(m), [n for n, _ in metrics.per_layer_names(["q_a"])])
        self.assertAlmostEqual(m["etl.load_s"], 4.0)
        self.assertAlmostEqual(m["etl.load_jobs"], 1.5)
        self.assertAlmostEqual(m["trace.untraced_run_s"], 11.5)
        self.assertAlmostEqual(m["trace.traced_run_s"], 11.5)
        self.assertAlmostEqual(m["trace.pass_self_s"], ((12 - 3) + (11 - 5)) / 2)
        self.assertAlmostEqual(m["spark.storage_peak_mb"], 1.0)
        self.assertAlmostEqual(m["jvm.vmhwm_mb"], 4.0)


class FingerprintTest(unittest.TestCase):
    def test_order_independent_and_type_strict(self):
        import pandas as pd
        from decimal import Decimal
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        b = pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]})
        self.assertEqual(oracle.fingerprint(a), oracle.fingerprint(b))
        c = pd.DataFrame({"k": [1, 2], "v": [Decimal("0.5"), Decimal("1.5")]})
        self.assertNotEqual(oracle.fingerprint(a), oracle.fingerprint(c))


if __name__ == "__main__":
    unittest.main()
