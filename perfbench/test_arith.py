"""Self-tests for the benchmark's own arithmetic (no Spark needed):

    python3 perfbench/test_arith.py
"""

from __future__ import annotations

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import (  # noqa: E402
    Job,
    Span,
    attribute_jobs,
    job_gap,
    layer_self_times,
    op_p50,
    parse_metric,
    self_times,
    tail_percentile,
    union_length,
)


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        values = list(range(1, 101))  # 100 samples
        self.assertEqual(tail_percentile(values), (90.0, 90))
        self.assertEqual(tail_percentile(list(range(1, 1001))), (99.0, 990))
        self.assertEqual(tail_percentile(list(range(1, 201))), (95.0, 190))

    def test_twenty_samples_support_only_the_median(self):
        self.assertEqual(tail_percentile(list(range(1, 21))), (50.0, 10))
        self.assertEqual(tail_percentile(list(range(1, 8))), (50.0, 4))

    def test_percentile_follows_the_guaranteed_count(self):
        # 150 samples this run, but only 100 guaranteed: stay at p90
        self.assertEqual(tail_percentile(list(range(1, 151)), guaranteed_n=100), (90.0, 135))

    def test_order_does_not_matter(self):
        values = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
        self.assertEqual(tail_percentile(values), tail_percentile(sorted(values)))


class OpMedian(unittest.TestCase):
    def test_geometric_mean_of_per_kind_medians(self):
        samples = [("a", 1.0), ("a", 3.0), ("a", 2.0), ("b", 8.0), ("b", 8.0)]
        self.assertAlmostEqual(op_p50(samples), 4.0)  # sqrt(2 * 8)
        self.assertAlmostEqual(op_p50([("batch", x) for x in (5.0, 1.0, 3.0)]), 3.0)


def _span(i, layer, start, end, parent=None, **attrs):
    return Span(i, f"s{i}", layer, start, end, parent, attrs)


class SelfTime(unittest.TestCase):
    def test_union_counts_overlaps_once_and_clips(self):
        self.assertEqual(union_length([(1, 3), (2, 5), (7, 8), (9, 12)], 0, 10), 6)

    def test_span_self_time_subtracts_children_once(self):
        spans = [_span(1, "a", 0, 10), _span(2, "b", 1, 3, 1), _span(3, "b", 2, 5, 1),
                 _span(4, "c", 7, 8, 1), _span(5, "d", 2, 3, 3)]
        st = self_times(spans)
        self.assertEqual(st[1], 10 - 5)
        self.assertEqual(st[3], 3 - 1)
        self.assertEqual(st[4], 1)

    def test_layer_self_time(self):
        # two overlapping jobs under an action; a nested call of the same
        # layer is not subtracted from its parent
        spans = [_span(1, "exec", 0, 10), _span(2, "spark", 1, 6, 1),
                 _span(3, "spark", 4, 8, 1), _span(4, "queries", 10, 14),
                 _span(5, "queries", 11, 12, 4), _span(6, "sources", 12, 13, 4)]
        lt = layer_self_times(spans)
        self.assertEqual(lt["exec"], 10 - 7)
        self.assertEqual(lt["spark"], 7)
        self.assertEqual(lt["queries"], 4 - 1)
        self.assertEqual(lt["sources"], 1)


class JobAttribution(unittest.TestCase):
    def test_group_then_window_then_unattributed(self):
        ops = [_span(1, "bench", 0, 10, group="g1", op=True),
               _span(2, "bench", 10, 20, group="g2", op=True)]
        jobs = [Job(1, "g2", 3, 4),  # group wins over the window it falls in
                Job(2, None, 12, 13),  # no group: window of op 2
                Job(3, "other", 5, 6),  # unknown group: window of op 1
                Job(4, None, 25, 26)]  # outside every op
        attribute_jobs(jobs, ops)
        self.assertEqual([(j.op, j.how) for j in jobs],
                         [(2, "group"), (2, "window"), (1, "window"), (None, "")])

    def test_job_gap_is_idle_time_between_jobs(self):
        self.assertEqual(job_gap([Job(1, None, 0, 2), Job(2, None, 1, 3), Job(3, None, 5, 6)]), 2)
        self.assertEqual(job_gap([]), 0.0)


class MetricText(unittest.TestCase):
    def test_formatted_sql_metrics(self):
        self.assertEqual(parse_metric("1,000"), 1000)
        self.assertEqual(parse_metric("11.5 KiB"), 11.5 * 1024)
        self.assertEqual(parse_metric("2.2 s"), 2.2)
        self.assertAlmostEqual(parse_metric(
            "total (min, med, max (stageId: taskId))\n482 ms (215 ms, 267 ms, 267 ms (stage 5.0: task 4))"),
            0.482)


if __name__ == "__main__":
    unittest.main()
