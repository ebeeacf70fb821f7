"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import benchstats as bs


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(bs.quantile(xs, 50), 50)
        self.assertEqual(bs.quantile(xs, 95), 95)
        self.assertEqual(bs.quantile(xs, 100), 100)
        self.assertEqual(bs.quantile([7], 99), 7)

    def test_tail_keeps_ten_samples_beyond(self):
        # 200 samples support p95 exactly: 10 lie beyond it
        self.assertEqual(bs.tail_percentile(200), 95)
        # 100 samples: p90 is the highest with 10 beyond
        self.assertEqual(bs.tail_percentile(100), 90)
        self.assertEqual(bs.tail_percentile(36), 72)
        for n in (20, 36, 100, 200, 1000):
            q = bs.tail_percentile(n)
            xs = list(range(n))
            v = bs.quantile(xs, q)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)

    def test_tail_capped_and_refused_for_small_samples(self):
        self.assertEqual(bs.tail_percentile(100000), 95)
        self.assertEqual(bs.tail_percentile(99, cap=99), 89)
        self.assertIsNone(bs.tail_percentile(19))
        self.assertIsNone(bs.tail_percentile(0))
        self.assertEqual(bs.tail([1.0] * 5), (None, None, 5))
        q, v, n = bs.tail(list(range(100)))
        self.assertEqual((q, v, n), (90, 89, 100))


class Backlog(unittest.TestCase):
    def test_drained_within_the_limit_does_not_grow(self):
        self.assertFalse(bs.backlog_grows(4200.0, 5000))
        self.assertFalse(bs.backlog_grows(5000.0, 5000))
        # visible before the step ended
        self.assertFalse(bs.backlog_grows(-40.0, 5000))

    def test_drain_beyond_the_limit_grows(self):
        self.assertTrue(bs.backlog_grows(5000.5, 5000))

    def test_unobserved_drain_grows(self):
        self.assertTrue(bs.backlog_grows(None, 5000))
        self.assertTrue(bs.backlog_grows(float("nan"), 5000))


class RatePick(unittest.TestCase):
    def test_highest_rate_meeting_both_conditions(self):
        steps = [(5, 900.0, 2500.0), (1500, 2000.0, 3000.0), (5000, 4800.0, 4200.0), (15000, 9000.0, 9000.0)]
        self.assertEqual(bs.pick_eps_max(steps, 5000), 5000)

    def test_latency_limit_alone_disqualifies(self):
        steps = [(5, 900.0, 3000.0), (1500, 4000.0, 5200.0)]
        self.assertEqual(bs.pick_eps_max(steps, 5000), 5)

    def test_growing_backlog_alone_disqualifies(self):
        steps = [(5, 900.0, 3000.0), (1500, 6000.0, 4000.0)]
        self.assertEqual(bs.pick_eps_max(steps, 5000), 5)

    def test_none_qualifies(self):
        self.assertEqual(bs.pick_eps_max([(5, 9000.0, 100.0), (1500, 100.0, None)], 5000), 0)


class SelfTime(unittest.TestCase):
    def span(self, i, name, parent, a, b):
        return {"i": i, "name": name, "parent": parent, "start_ns": a, "end_ns": b}

    def test_parent_minus_children(self):
        spans = [self.span(0, "op", -1, 0, 100),
                 self.span(1, "build", 0, 10, 30),
                 self.span(2, "collect", 0, 30, 90),
                 self.span(3, "inner", 2, 40, 50)]
        self.assertEqual(bs.self_times(spans), {"op": 20, "build": 20, "collect": 50, "inner": 10})

    def test_overlapping_children_counted_once(self):
        spans = [self.span(0, "batch", -1, 0, 100),
                 self.span(1, "a", 0, 10, 60),
                 self.span(2, "b", 0, 40, 80),
                 self.span(3, "c", 0, 90, 150)]
        self.assertEqual(bs.self_times(spans)["batch"], 100 - 70 - 10)

    def test_names_summed(self):
        spans = [self.span(0, "op", -1, 0, 10), self.span(1, "op", -1, 20, 25)]
        self.assertEqual(bs.self_times(spans), {"op": 15})


if __name__ == "__main__":
    unittest.main()
