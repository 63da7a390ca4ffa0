"""Unit tests of the benchmark's own arithmetic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, pct, n = layers.tail_percentile(xs)
        self.assertEqual((v, n), (90, 100))
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 3  # 15 samples
        v, pct, n = layers.tail_percentile(xs)
        self.assertEqual(n, 15)
        self.assertEqual(sorted(xs)[4], v)
        self.assertAlmostEqual(pct, 100 * 5 / 15)

    def test_too_few_samples_is_the_maximum(self):
        self.assertEqual(layers.tail_percentile([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(layers.tail_percentile(list(range(10)))[1], 100.0)

    def test_exactly_eleven(self):
        v, pct, n = layers.tail_percentile(list(range(11)))
        self.assertEqual((v, n), (0, 11))

    def test_empty(self):
        with self.assertRaises(ValueError):
            layers.tail_percentile([])


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(layers.union_length(
            [(0, 2), (1, 3), (5, 6), (7, 7), (6, 6.5)]), 4.5)
        self.assertEqual(layers.union_length([]), 0)

    def test_self_time_clips_children(self):
        # op span 0..10, jobs 1..3, 2..4 (overlap), 9..12 (leaks out)
        self.assertEqual(layers.self_time((0, 10), [(1, 3), (2, 4), (9, 12)]), 6)
        self.assertEqual(layers.self_time((0, 10), []), 10)
        self.assertEqual(layers.self_time((0, 10), [(-5, 20)]), 0)


def _op(pass_, op, start, construct_end, end, module="operators.Graph"):
    return {"kind": "op", "phase": "timed", "pass": pass_, "op": op,
            "module": module, "tag": f"timed:{pass_}:{op}",
            "start": start, "construct_end": construct_end, "end": end,
            "ok": True, "error": ""}


def _job(tag, start, end):
    return {"kind": "job", "tag": tag, "id": start, "start": start, "end": end}


def _stage(tag, tasks, task_ms, max_ms, med_ms, mb=0):
    b = mb * (1 << 20)
    return {"kind": "stage", "tag": tag, "tasks": tasks, "task_ms": task_ms,
            "max_task_ms": max_ms, "median_task_ms": med_ms,
            "shuffle_read": b, "shuffle_write": b, "spill": 0,
            "input": b, "output": 0}


class PerLayer(unittest.TestCase):
    """Two traced passes and one untraced pass of two ops, in ms."""

    def setUp(self):
        self.records = [
            _op(1, "a", 0, 100, 1000),
            _job("timed:1:a", 50, 80), _job("timed:1:a", 200, 600),
            _job("timed:1:a", 500, 700),
            _stage("timed:1:a", 4, 800, 400, 100, mb=2),
            _op(1, "b", 1000, 1000, 1500, module="operators.Similarity"),
            _job("timed:1:b", 1100, 1400),
            _stage("timed:1:b", 1, 300, 300, 300),
            _op(3, "a", 0, 200, 2000),
            _job("timed:3:a", 500, 1500),
            _stage("timed:3:a", 2, 1000, 600, 400, mb=4),
            _op(3, "b", 2000, 2000, 2500, module="operators.Similarity"),
            # untraced pass: no job or stage records
            _op(2, "a", 0, 100, 900),
            _op(2, "b", 900, 900, 1300, module="operators.Similarity"),
        ]
        self.passes = [{"pass": 1, "traced": True, "seconds": 1.5},
                       {"pass": 2, "traced": False, "seconds": 1.3},
                       {"pass": 3, "traced": True, "seconds": 2.5}]
        self.m = layers.per_layer(
            self.records, self.passes, ["a", "b"],
            ["operators.Graph", "operators.Similarity", "operators.Dedup"],
            cores=4)

    def test_ops_and_modules(self):
        self.assertAlmostEqual(self.m["op.a_s"], 1.5)   # median(1.0, 2.0)
        self.assertAlmostEqual(self.m["op.b_s"], 0.5)
        self.assertAlmostEqual(self.m["operators.Graph.busy_s"], 1.5)
        self.assertAlmostEqual(self.m["operators.Similarity.busy_s"], 0.5)
        self.assertEqual(self.m["operators.Dedup.busy_s"], 0.0)

    def test_driver_gap_and_construct(self):
        # pass 1: a covered 30+500 of 1000 -> 470; b covered 300 of 500 -> 200
        # pass 3: a covered 1000 of 2000 -> 1000; b uncovered -> 500
        self.assertAlmostEqual(self.m["plans.driver_gap_s"], (0.67 + 1.5) / 2)
        self.assertAlmostEqual(self.m["plans.construct_s"], (0.1 + 0.2) / 2)
        self.assertEqual(self.m["plans.jobs"], 2.5)

    def test_stages(self):
        self.assertEqual(self.m["spark.stages"], 1.5)
        self.assertEqual(self.m["spark.tasks"], 3.5)
        self.assertAlmostEqual(self.m["spark.task_s"], 1.05)
        # skew only counts stages with two or more tasks: max(400/100, 600/400)
        self.assertEqual(self.m["spark.task_skew"], 4.0)
        self.assertAlmostEqual(self.m["sources.scan_mb"], 3.0)
        # core use = task time / (pass wall * cores): 1.1/(1.5*4), 1.0/(2.5*4)
        self.assertAlmostEqual(self.m["spark.core_util"],
                               (1.1 / 6 + 1.0 / 10) / 2)

    def test_overhead_and_absent_layers(self):
        self.assertAlmostEqual(self.m["trace.overhead_s"], 2.0 - 1.3)
        self.assertEqual(self.m["pipeline.landing_s"], 0.0)
        self.assertEqual(self.m["sources.files_written"], 0.0)

    def test_span_tree(self):
        spans = {s["id"]: s for s in layers.span_tree(self.records)}
        op = "timed:1:a"
        # the job at 50..80 started inside construct (0..100)
        self.assertEqual(spans[f"{op}/job50"]["parent"], f"{op}/construct")
        self.assertEqual(spans[f"{op}/construct"]["parent"], op)
        self.assertIsNone(spans[op]["parent"])
        self.assertEqual(spans[f"{op}/construct"]["self_ms"], 70)
        # materialize 100..1000 minus jobs 200..600 and 500..700
        self.assertEqual(spans[f"{op}/materialize"]["self_ms"], 400)
        self.assertEqual(spans["timed:2:b/materialize"]["self_ms"], 400)

    def test_units(self):
        self.assertEqual(layers.unit_of("functions.simhash64.rows_per_s"), "rows/s")
        self.assertEqual(layers.unit_of("spark.shuffle_read_mb"), "MB")
        self.assertEqual(layers.unit_of("plans.jobs"), "count")
        self.assertEqual(layers.unit_of("op.q5_multi_join_s"), "s")


if __name__ == "__main__":
    unittest.main()
