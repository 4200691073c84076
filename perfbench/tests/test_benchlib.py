"""Tests for the benchmark's own arithmetic.

Run from the root of the repository: python3 -m unittest discover perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import benchlib as bl  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_with_enough_samples(self):
        xs = list(range(1, 1001))
        self.assertEqual(bl.percentile(xs, 50), (500, 50.0, 1000))
        self.assertEqual(bl.percentile(xs, 99), (990, 99.0, 1000))

    def test_too_few_samples_falls_back_to_highest_supported(self):
        # 100 samples: p99 would leave 1 beyond it; p90 is the highest with 10
        value, used, n = bl.percentile(list(range(1, 101)), 99)
        self.assertEqual((value, used, n), (90, 90.0, 100))

    def test_fewer_than_the_minimum_uses_the_lowest(self):
        self.assertEqual(bl.percentile([5, 3, 9], 50), (3, 0.0, 3))

    def test_weights_count_as_samples(self):
        # 600 samples of 1.0 and 400 of 2.0: p50 is 1.0, p70 is 2.0
        samples = [(2.0, 400), (1.0, 600)]
        self.assertEqual(bl.percentile(samples, 50)[0], 1.0)
        self.assertEqual(bl.percentile(samples, 70)[0], 2.0)
        self.assertEqual(bl.percentile(samples, 99)[2], 1000)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            bl.percentile([], 50)


class AttributionTest(unittest.TestCase):
    def test_each_record_goes_to_the_first_batch_covering_its_shard_offset(self):
        # shard 0 sends at 0, 10, 20 ns; shard 1 at 5, 15 ns (after t0 = 1000)
        sched = {"0": [0, 10, 20], "1": [5, 15]}
        batches = [
            {"event_ns": 1100, "end_offsets": {"0": 2, "1": 1}},
            {"event_ns": 1200, "end_offsets": {"0": 3, "1": 2}},
        ]
        lat, uncovered = bl.attribute_latencies(batches, sched, 1000)
        self.assertEqual(sorted(v for v, _ in lat), sorted([100, 90, 95, 180, 185]))
        self.assertEqual(uncovered, 0)

    def test_records_past_the_last_offset_are_uncovered(self):
        sched = {"0": [0, 10, 20]}
        lat, uncovered = bl.attribute_latencies([{"event_ns": 50, "end_offsets": {"0": 1}}], sched, 0)
        self.assertEqual(lat, [(50, 1)])
        self.assertEqual(uncovered, 2)

    def test_an_empty_batch_adds_nothing(self):
        sched = {"0": [0, 10]}
        batches = [{"event_ns": 30, "end_offsets": {"0": 2}}, {"event_ns": 60, "end_offsets": {"0": 2}}]
        lat, _ = bl.attribute_latencies(batches, sched, 0)
        self.assertEqual(sorted(lat), [(20, 1), (30, 1)])

    def test_closed_loop_batches_weigh_by_their_records(self):
        batches = [{"event_ns": 300, "end_offsets": {"0": 5, "1": 5}},
                   {"event_ns": 700, "end_offsets": {"0": 8, "1": 5}}]
        self.assertEqual(bl.batch_latencies(batches, 100), [(200, 10), (600, 3)])


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(key, start, end):
        return {"key": key, "start_ns": start, "end_ns": end}

    def test_children_are_subtracted_from_their_parent_only(self):
        spans = [self.span("batch", 0, 100), self.span("sink.a", 10, 40),
                 self.span("sink.b", 50, 90), self.span("job", 55, 70)]
        got = {s["key"]: own for s, own in bl.self_times(spans)}
        self.assertEqual(got, {"batch": 30, "sink.a": 30, "sink.b": 25, "job": 15})

    def test_overlapping_children_count_once(self):
        spans = [self.span("write", 0, 100), self.span("job1", 10, 60), self.span("job2", 10, 30)]
        got = {s["key"]: own for s, own in bl.self_times(spans)}
        self.assertEqual(got["write"], 50)

    def test_siblings_are_independent(self):
        spans = [self.span("a", 0, 10), self.span("b", 20, 30)]
        self.assertEqual([own for _, own in bl.self_times(spans)], [10, 10])

    def test_union(self):
        self.assertEqual(bl.union_ns([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(bl.union_ns([]), 0)


class SpreadTest(unittest.TestCase):
    def test_quartile_spread(self):
        self.assertAlmostEqual(bl.quartile_spread([10, 10, 10, 10]), 0.0)
        self.assertGreater(bl.quartile_spread([9, 10, 11, 12]), 0.0)


if __name__ == "__main__":
    unittest.main()
