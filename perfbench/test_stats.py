"""Unit tests for the benchmark's own pure logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The Scala digest functions are checked by perfbench.SelfTest, which the
last test runs when a build of the harness exists.
"""
import glob
import os
import subprocess
import unittest

import build
import stats


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(19))))  # 9 above the median
        self.assertEqual(stats.tail_percentile(list(range(1, 21))), (50, 10))

    def test_picks_the_highest_qualifying(self):
        xs = list(range(1, 41))  # p75 = 30 leaves 10 above it, p90 = 36 only 4
        self.assertEqual(stats.tail_percentile(xs), (75, 30))
        self.assertEqual(stats.tail_percentile(list(range(1, 1001)))[0], 99)

    def test_ties_do_not_count_as_beyond(self):
        self.assertIsNone(stats.tail_percentile([1.0] * 100))


class SelfTime(unittest.TestCase):
    def span(self, i, start, end, parent=-1):
        return {"id": i, "name": f"s{i}", "start": start, "end": end, "parent": parent}

    def test_duration_minus_children(self):
        spans = [self.span(1, 0, 100), self.span(2, 10, 30, 1), self.span(3, 50, 60, 1)]
        self.assertEqual(stats.self_times(spans), {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 100), self.span(2, 10, 50, 1), self.span(3, 40, 70, 1)]
        self.assertEqual(stats.self_times(spans)[1], 40)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(1, 10, 20), self.span(2, 0, 15, 1)]
        self.assertEqual(stats.self_times(spans)[1], 5)

    def test_grandchildren_do_not_reduce_the_grandparent(self):
        spans = [self.span(1, 0, 100), self.span(2, 0, 40, 1), self.span(3, 50, 90, 2)]
        self.assertEqual(stats.self_times(spans)[1], 60)

    def test_by_name(self):
        spans = [self.span(1, 0, 10), self.span(2, 0, 4, 1)]
        spans[1]["name"] = "s1"
        self.assertEqual(stats.self_time_by_name(spans), {"s1": 10})


class FixedWaves(unittest.TestCase):
    def test_selects_tail_waves_up_to_one_percent(self):
        waves = [{"fetched": 900, "wall_s": 5.0}, {"fetched": 20, "wall_s": 2.5},
                 {"fetched": 21, "wall_s": 2.6}, {"fetched": 5, "wall_s": 2.4},
                 {"fetched": 0, "wall_s": 0.1}]
        self.assertEqual(stats.fixed_waves(waves, 2000), [2.5, 2.4])
        self.assertEqual(stats.median(stats.fixed_waves(waves, 2000)), 2.45)

    def test_none_on_a_single_drain_wave(self):
        self.assertEqual(stats.fixed_waves([{"fetched": 16000, "wall_s": 7.0}], 16000), [])


class Spread(unittest.TestCase):
    def test_quartile_distance_over_median(self):
        self.assertAlmostEqual(stats.spread([10, 10, 10, 10]), 0.0)
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5]), (4.5 - 1.5) / 3)


class HostSpeed(unittest.TestCase):
    def test_reference_over_median_kernel_time(self):
        self.assertAlmostEqual(stats.host_speed([0.02, 0.03, 0.04], 0.03), 1.0)
        self.assertAlmostEqual(stats.host_speed([0.06, 0.06], 0.03), 0.5)

    def test_one_slowed_pass_does_not_move_it(self):
        self.assertAlmostEqual(stats.host_speed([0.03, 0.03, 0.09], 0.03), 1.0)


class ScalaDigests(unittest.TestCase):
    def test_self_test_main(self):
        builds = glob.glob(os.path.join(build.build_dir(), "classes-*"))
        builds = [b for b in builds if os.path.exists(os.path.join(b, ".done"))]
        if not builds:
            self.skipTest("harness not built (python3 perfbench/build.py)")
        cp = max(builds, key=os.path.getmtime) + os.pathsep + os.path.join(build.spark_jars(), "*")
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.SelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout)


if __name__ == "__main__":
    unittest.main()
