"""Tests of the benchmark's measurement helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import numpy as np

import stats


class PercentileRule(unittest.TestCase):
    def test_percentile_matches_linear_interpolation(self):
        rng = np.random.default_rng(0)
        for n in (1, 2, 7, 100):
            xs = list(rng.random(n))
            for q in (0, 50, 90, 95, 99, 100):
                self.assertAlmostEqual(stats.percentile(xs, q), float(np.percentile(xs, q)))

    def test_percentile_of_nothing_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_samples(200, 95), 10)
        self.assertTrue(stats.tail_ok(200, 95))
        self.assertFalse(stats.tail_ok(199, 95))
        self.assertTrue(stats.tail_ok(1000, 99))
        self.assertFalse(stats.tail_ok(999, 99))

    def test_highest_supported_percentile(self):
        self.assertAlmostEqual(stats.highest_supported_percentile(1000), 99.0)
        self.assertAlmostEqual(stats.highest_supported_percentile(200), 95.0)
        self.assertIsNone(stats.highest_supported_percentile(19))
        p = stats.highest_supported_percentile(60)
        self.assertTrue(stats.tail_ok(60, p))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(3, 4), (0, 10)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "streaming", "start_ns": 0, "end_ns": 100},
            {"id": 2, "parent": 1, "layer": "sinks", "start_ns": 10, "end_ns": 30},
            {"id": 3, "parent": 1, "layer": "sinks", "start_ns": 20, "end_ns": 40},
            {"id": 4, "parent": 0, "layer": "sources", "start_ns": 200, "end_ns": 205},
        ]
        self.assertEqual(stats.self_times(spans), {"streaming": 70, "sinks": 40, "sources": 5})


class CheckpointLatency(unittest.TestCase):
    """A checkpoint laid out as Structured Streaming writes it: file-source
    logs under sources/<n>/ (one JSON entry per file after a version line,
    compacted every few batches) and one commits/<batch> file per batch."""

    def _checkpoint(self, root):
        def log(path, entries):
            with open(path, "w") as f:
                f.write("v1\n" + "\n".join(json.dumps(e) for e in entries) + "\n")

        src = os.path.join(root, "sources", "0")
        os.makedirs(src)
        log(os.path.join(src, "1.compact"), [
            {"path": "file:///in/tick-0.parquet", "timestamp": 1, "batchId": 0},
            {"path": "file:///in/tick-1.parquet", "timestamp": 1, "batchId": 1}])
        log(os.path.join(src, "2"), [
            {"path": "file:///in/tick-2.parquet", "timestamp": 1, "batchId": 2},
            {"path": "file:///in/tick-3.parquet", "timestamp": 1, "batchId": 2}])
        open(os.path.join(src, ".2.crc"), "w").close()
        # a second source (a join's other side) read tick-1 one batch later
        src1 = os.path.join(root, "sources", "1")
        os.makedirs(src1)
        log(os.path.join(src1, "0"), [
            {"path": "file:///in/tick-1.parquet", "timestamp": 1, "batchId": 2}])
        commits = os.path.join(root, "commits")
        os.makedirs(commits)
        for b, t in ((0, 1_000), (1, 2_000), (2, 5_000)):
            p = os.path.join(commits, str(b))
            open(p, "w").close()
            os.utime(p, ns=(t * 1_000_000, t * 1_000_000))
        open(os.path.join(commits, ".2.crc"), "w").close()

    def test_file_to_batch_reads_compacted_and_delta_logs(self):
        with tempfile.TemporaryDirectory() as d:
            self._checkpoint(d)
            self.assertEqual(stats.file_batches(d), {
                "tick-0.parquet": 0, "tick-1.parquet": 2,
                "tick-2.parquet": 2, "tick-3.parquet": 2})
            self.assertEqual(stats.commit_times_ns(d),
                             {0: 1_000_000_000, 1: 2_000_000_000, 2: 5_000_000_000})

    def test_pending_files_counts_due_and_unconsumed(self):
        with tempfile.TemporaryDirectory() as d:
            self._checkpoint(d)
            offsets = os.path.join(d, "offsets")
            os.makedirs(offsets)
            for b, t in ((0, 500), (1, 1_500), (2, 3_000)):
                p = os.path.join(offsets, str(b))
                open(p, "w").close()
                os.utime(p, ns=(t * 1_000_000, t * 1_000_000))
            files = ["tick-0.parquet", "tick-1.parquet", "tick-2.parquet", "tick-3.parquet"]
            due = [t * 1_000_000 for t in (0, 400, 1_000, 2_500)]
            # batch 0: ticks 0 and 1 due; batch 1: tick 0 consumed, 1 and 2
            # due (tick 1 waits for the other source); batch 2: ticks 1-3
            self.assertEqual(stats.pending_files(d, files, due), [2, 2, 3])

    def test_latency_runs_from_due_time_to_commit(self):
        with tempfile.TemporaryDirectory() as d:
            self._checkpoint(d)
            files = ["tick-0.parquet", "tick-2.parquet", "tick-9.parquet"]
            due = [900 * 1_000_000, 4_000 * 1_000_000, 4_500 * 1_000_000]
            self.assertEqual(stats.file_latencies_ms(d, files, due), [100.0, 1000.0, None])


if __name__ == "__main__":
    unittest.main()
