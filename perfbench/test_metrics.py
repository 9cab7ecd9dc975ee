"""Self-tests of the benchmark's metric helpers.

    python3 perfbench/run.py --selftest
"""
import unittest

import metrics


def op(name, start, end, ok=True, build_end=None):
    return {"name": name, "start": start, "end": end, "ok": ok,
            "build_end": start if build_end is None else build_end,
            "compiles": 0, "compile_ns": 0}


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((value, n), (90, 100))
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)

    def test_percentile_moves_with_sample_count(self):
        value, pct, n = metrics.tail(list(range(40)))
        self.assertEqual((value, n), (29, 40))
        self.assertAlmostEqual(pct, 75.0)

    def test_exactly_eleven(self):
        self.assertEqual(metrics.tail(list(range(11)))[0], 0)

    def test_too_few_samples_gives_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 5
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class FailureAccountingTest(unittest.TestCase):
    def passes(self):
        return [{"start": 0.0, "end": 100.0, "ops": [
            op("a", 0.0, 30.0), op("boom", 30.0, 70.0, ok=False), op("b", 70.0, 100.0)]},
            {"start": 100.0, "end": 160.0, "ops": [
                op("boom", 100.0, 110.0, ok=False), op("a", 110.0, 140.0), op("b", 140.0, 160.0)]}]

    def test_throwing_operation_counts_as_failed_not_as_time(self):
        attempted, failed, pass_ms, samples = metrics.timed_accounting(self.passes())
        self.assertEqual((attempted, failed), (6, 2))
        self.assertEqual(pass_ms, [60.0, 50.0])
        self.assertEqual(samples, {"a": [30.0, 30.0], "b": [30.0, 20.0]})

    def test_output_mismatch_counts_as_failed(self):
        attempted, failed, pass_ms, samples = metrics.timed_accounting(self.passes(), {"b"})
        self.assertEqual((attempted, failed), (6, 4))
        self.assertEqual(pass_ms, [30.0, 30.0])
        self.assertEqual(samples, {"a": [30.0, 30.0]})


class GeometricMeanTest(unittest.TestCase):
    def test_geometric_mean_of_per_operation_medians(self):
        gm = metrics.gmean_of_medians({"small": [1.0, 1.0, 50.0], "big": [100.0, 90.0, 110.0]})
        self.assertAlmostEqual(gm, 10.0)

    def test_empty(self):
        self.assertEqual(metrics.gmean_of_medians({}), 0.0)


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(20, 25), (0, 10), (2, 3)]), 15)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(4, 4), (6, 5)]), 0)

    def test_self_time_subtracts_covered_part(self):
        self.assertEqual(metrics.self_time((0, 100), [(10, 20), (15, 40), (90, 120)]), 60)
        self.assertEqual(metrics.self_time((0, 100), []), 100)
        self.assertEqual(metrics.self_time((0, 100), [(-5, 200)]), 0)

    def test_children_outside_span_do_not_count(self):
        self.assertEqual(metrics.self_time((50, 60), [(0, 10), (70, 80)]), 10)

    def test_driver_idle_is_pass_minus_job_union(self):
        result = {"ops": [{"name": "q", "layer": "queries"}],
                  "passes": [{"start": 0.0, "end": 100.0, "generate": None, "shard_files": 0,
                              "ops": [op("q", 0.0, 100.0, build_end=40.0)]}],
                  "trace": {"jobs": [
                      {"id": 0, "pass": 0, "op": 0, "start": 10.0, "end": 30.0, "stages": [0]},
                      {"id": 1, "pass": 0, "op": 0, "start": 20.0, "end": 50.0, "stages": [1]},
                      {"id": 2, "pass": 0, "op": 0, "start": 80.0, "end": 90.0, "stages": []}],
                      "stages": [], "phases": [], "progress": []}}
        layers = metrics.layer_rollup(result)
        self.assertAlmostEqual(layers["driver.idle_s"][0], 0.050)
        # build [0,40] holds jobs 0 and 1; their union clipped to it covers 30
        self.assertAlmostEqual(layers["span.build.self_s"][0], 0.010)
        self.assertAlmostEqual(layers["span.write.self_s"][0], 0.050)
        self.assertEqual(layers["spark.exec.jobs"][0], 3.0)


if __name__ == "__main__":
    unittest.main()
