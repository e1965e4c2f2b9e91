"""Unit tests of the benchmark's metric math (perfbench/stats.py).

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def batch(bid, start, trigger, end_offset, rows=1):
    return {"batch_id": bid, "start_ms": start, "end_offset": end_offset,
            "num_input_rows": rows, "durations": {"triggerExecution": trigger}}


def shard(offset, due, records):
    return {"offset": offset, "due_ms": due, "records": records}


class MedianPercentile(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_nearest_rank_percentile_and_tail_count(self):
        xs = list(range(1, 1001))  # 1..1000
        self.assertEqual(stats.percentile(xs, 50), (500, 500))
        # p99 of 1000 samples is the 990th; ten samples lie beyond it
        self.assertEqual(stats.percentile(xs, 99), (990, 10))
        self.assertEqual(stats.percentile(xs, 100), (1000, 0))
        # with 100 samples p99 leaves a single sample in the tail
        self.assertEqual(stats.percentile(list(range(100)), 99), (98, 1))
        self.assertEqual(stats.percentile([7], 99), (7, 0))

    def test_quartile_spread_matches_statistics_quantiles(self):
        vals = [10.0, 11.0, 9.5, 10.5, 12.0, 9.0, 10.2, 10.8, 11.5, 9.8]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(stats.quartile_spread(vals),
                               (q3 - q1) / statistics.median(vals))


class LatencyAttribution(unittest.TestCase):
    # offsets count shard files consumed; batch 0 (the warm-up shard)
    # ends at offset 1, so data shard k (1-based among data) has offset k+1
    progress = [
        batch(0, 1000, 500, "1"),
        batch(1, 2000, 300, "1", rows=0),   # no-data batch: covers nothing new
        batch(2, 3000, 1000, "3"),          # takes shards 2 and 3
        batch(3, 4100, 900, "4"),           # takes shard 4
    ]

    def test_first_batch_whose_end_offset_covers_the_shard(self):
        self.assertEqual(stats.covering_batch(shard(1, 0, 1), self.progress)["batch_id"], 0)
        self.assertEqual(stats.covering_batch(shard(2, 0, 1), self.progress)["batch_id"], 2)
        self.assertEqual(stats.covering_batch(shard(3, 0, 1), self.progress)["batch_id"], 2)
        self.assertEqual(stats.covering_batch(shard(4, 0, 1), self.progress)["batch_id"], 3)
        self.assertIsNone(stats.covering_batch(shard(5, 0, 1), self.progress))

    def test_latency_is_batch_end_minus_due_per_record(self):
        shards = [shard(2, 2500, 2), shard(3, 2750, 1), shard(4, 3000, 3), shard(5, 3250, 4)]
        samples, uncovered = stats.latency_samples(shards, self.progress)
        # batch 2 ends 4000, batch 3 ends 5000
        self.assertEqual(samples, [1500, 1500, 1250, 2000, 2000, 2000])
        self.assertEqual([s["offset"] for s in uncovered], [5])

    def test_progress_order_is_by_batch_id_not_list_order(self):
        shuffled = list(reversed(self.progress))
        self.assertEqual(stats.covering_batch(shard(2, 0, 1), shuffled)["batch_id"], 2)

    def test_closed_loop_throughput(self):
        shards = [shard(2, 2000, 100), shard(3, 2900, 100), shard(4, 4000, 50)]
        rps, n = stats.throughput(shards, self.progress)
        self.assertEqual(n, 250)
        self.assertAlmostEqual(rps, 250 / 3.0)  # 2000 → batch 3 end 5000

    def test_closed_loop_throughput_from_a_warm_up_batch_end(self):
        shards = [shard(4, 4000, 50)]
        rps, n = stats.throughput(shards, self.progress, start_ms=4000)
        self.assertEqual(n, 50)
        self.assertAlmostEqual(rps, 50 / 1.0)  # batch 2 end 4000 → batch 3 end 5000


class SelfTime(unittest.TestCase):
    def test_union_of_children_is_subtracted_once(self):
        span = {"start_ms": 0, "end_ms": 100}
        kids = [{"start_ms": 10, "end_ms": 30}, {"start_ms": 20, "end_ms": 40},
                {"start_ms": 90, "end_ms": 150}, {"start_ms": -5, "end_ms": 2}]
        # covered: [0,2] + [10,40] + [90,100] = 42
        self.assertEqual(stats.self_time_ms(span, kids), 58)
        self.assertEqual(stats.self_time_ms(span, []), 100)


if __name__ == "__main__":
    unittest.main()
