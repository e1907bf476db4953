"""Percentile rule, self-time arithmetic and call-site attribution.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def span(i, parent, start, end, name="s", kind="op", pass_=0):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name,
            "kind": kind, "pass": pass_, "traced": False, "error": None, "req": -1}


class PercentileRule(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail_percentile(0))
        self.assertIsNone(metrics.tail_percentile(10))

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(15), 33)
        for n in range(11, 500):
            p = metrics.tail_percentile(n)
            self.assertGreaterEqual(n * (100 - p) / 100.0, 10 - 1e-9, n)
            if p < 99:
                self.assertLess(n * (100 - (p + 1)) / 100.0, 10, n)

    def test_capped_below_the_maximum(self):
        self.assertEqual(metrics.tail_percentile(100000), 99)

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(metrics.percentile([5], 95), 5.0)
        self.assertEqual(metrics.percentile([0, 10], 90), 9.0)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 90)]
        own = metrics.self_times(spans)
        self.assertEqual(own, {1: 40, 2: 20, 3: 40})

    def test_overlapping_children_count_once(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 10, 60), span(3, 1, 40, 80)]
        self.assertEqual(metrics.self_times(spans)[1], 30)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 90, 130)]
        self.assertEqual(metrics.self_times(spans)[1], 90)

    def test_grandchildren_do_not_count_twice(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 0, 50), span(3, 2, 10, 20)]
        own = metrics.self_times(spans)
        self.assertEqual((own[1], own[2], own[3]), (50, 40, 10))

    def test_union(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_ms([(0, 10)], 2, 8), 6)
        self.assertEqual(metrics.union_ms([]), 0)


class Attribution(unittest.TestCase):
    def test_first_engine_frame_wins(self):
        details = ("org.apache.spark.sql.Dataset.collect(Dataset.scala:3720)\n"
                   "graft.engine.Quality$.gateWith(Quality.scala:61)\n"
                   "graft.engine.Gold$.$anonfun$ensure$1(Gold.scala:117)\n"
                   "perfbench.Nightly.chain(Workloads.scala:60)")
        self.assertEqual(metrics.attribute(details), "Quality")

    def test_nested_and_anonymous_classes(self):
        self.assertEqual(metrics.attribute(
            "graft.engine.Gold$.$anonfun$ensure$3(Gold.scala:150)"), "Gold")
        self.assertEqual(metrics.attribute(
            "graft.functions.TextKernels$Minhash.eval(TextKernels.scala:10)"), "TextKernels")
        self.assertEqual(metrics.attribute(
            "graft.engine.DedupQueries$.$anonfun$queries$2(DedupQueries.scala:22)"),
            "DedupQueries")

    def test_no_engine_frame(self):
        self.assertIsNone(metrics.attribute(
            "org.apache.spark.sql.Dataset.collect(Dataset.scala:3720)\n"
            "perfbench.Driver$.main(Driver.scala:1)"))
        self.assertIsNone(metrics.attribute(""))

    def test_adaptive_stages_take_the_module_of_their_execution(self):
        data = {"jobs": [{"id": 1, "stages": [10], "execution": 5},
                         {"id": 2, "stages": [11], "execution": 5},
                         {"id": 3, "stages": [12], "execution": 6}],
                "stages": [{"id": 10, "attempt": 0, "details":
                            "java.base/java.lang.Thread.run(Thread.java:840)"},
                           {"id": 11, "attempt": 0, "details":
                            "graft.engine.Quality$.validateWith(Quality.scala:71)"},
                           {"id": 12, "attempt": 0, "details":
                            "java.base/java.lang.Thread.run(Thread.java:840)"}]}
        self.assertEqual(metrics.stage_modules(data),
                         {(10, 0): "Quality", (11, 0): "Quality", (12, 0): None})

    def test_jobs_take_their_span_unless_it_is_stale(self):
        data = {"spans": [span(1, -1, 0, 100, kind="op"), span(2, -1, 200, 300, kind="op")],
                "jobs": [{"id": 7, "submit": 50, "span": 1},
                         {"id": 8, "submit": 250, "span": 1},
                         {"id": 9, "submit": 150, "span": -1}]}
        self.assertEqual(metrics.job_spans(data), {7: 1, 8: 2})


class Report(unittest.TestCase):
    def test_end_to_end_uses_untraced_passes(self):
        data = {"setup_s": [9.0, 2.0, 2.5],
                "passes": [{"i": 0, "traced": False, "start": 0, "end": 4000, "cpu_s": 7.5},
                           {"i": 1, "traced": True, "start": 4000, "end": 9000, "cpu_s": 9.0}],
                "spans": []}
        e2e = metrics.end_to_end(data)
        self.assertEqual(e2e, {"setup_s": 2.5, "pass_cpu_s": 7.5})

    def test_every_per_layer_name_is_valid_and_unique(self):
        names = [n for n, _ in metrics.per_layer_names()]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(names), 128)
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


if __name__ == "__main__":
    unittest.main()
