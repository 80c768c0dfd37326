"""Percentile guard: python3 -m unittest discover -s netbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import stats  # noqa: E402


class PercentileGuard(unittest.TestCase):
    def test_twenty_samples_cannot_carry_a_tail(self):
        # an earlier version reported "p50.0 of n=20" as its tail metric
        xs = [float(i) for i in range(20)]
        with self.assertRaises(stats.PercentileRefused):
            stats.percentile(xs, 95)
        with self.assertRaises(stats.PercentileRefused):
            stats.tail_pair(xs, 50, 95)

    def test_refusal_does_not_fall_back_to_a_lower_percentile(self):
        with self.assertRaisesRegex(stats.PercentileRefused, "p95 needs at least 200"):
            stats.percentile(list(range(199)), 95)

    def test_minimum_counts(self):
        self.assertEqual(stats.min_samples(50), 20)
        self.assertEqual(stats.min_samples(90), 100)
        self.assertEqual(stats.min_samples(95), 200)

    def test_value_carries_its_sample_count(self):
        xs = list(range(1, 201))
        self.assertEqual(stats.percentile(xs, 95), (190, 200))
        self.assertEqual(stats.percentile(xs, 50), (100, 200))
        lo, hi = stats.tail_pair(xs, 50, 95)
        self.assertEqual((lo["n"], hi["n"]), (200, 200))
        self.assertGreaterEqual(hi["value"], lo["value"])


class CommitGuard(unittest.TestCase):
    TICK_S = 0.5

    def dumps(self, commits):
        """19 dumps per tick; `commits` maps each tick to its commit
        (id, seconds after tick 0)."""
        xs, gs = [], []
        for tick, (batch, at) in enumerate(commits):
            for _ in range(19):
                xs.append(at - tick * self.TICK_S)
                gs.append(batch)
        return xs, gs

    def test_one_commit_for_every_dump_is_refused(self):
        # an earlier version committed all 11 timed ticks in one cold
        # micro-batch: 209 dumps but one measurement, and its p95 - p50
        # was 5 ticks, a constant of the schedule
        xs, gs = self.dumps([(1, 20.0)] * 11)
        lo, hi = stats.tail_pair(xs, 50, 95)
        self.assertAlmostEqual(hi["value"] - lo["value"], 5 * self.TICK_S)
        with self.assertRaisesRegex(stats.PercentileRefused, "distinct commits"):
            stats.grouped_percentile(xs, gs, 50)

    def test_backlogged_commits_are_refused(self):
        # enough dumps, but a backlog folded 3 ticks into 2 commits
        xs, gs = self.dumps([(1, 6.0), (2, 12.0), (2, 12.0)] * 2)
        with self.assertRaisesRegex(stats.PercentileRefused, "got 2"):
            stats.grouped_percentile(xs, gs, 50)

    def test_one_commit_per_tick_passes(self):
        commits = [(b, b * self.TICK_S + 5.0 + 0.01 * b) for b in range(3)]
        xs, gs = self.dumps(commits)
        self.assertEqual(stats.grouped_percentile(xs, gs, 50),
                         {"value": 5.01, "n": 57, "p": 50, "groups": 3})


if __name__ == "__main__":
    unittest.main()
