"""Self-test of the benchmark's statistics and output checks.

    python3 -m unittest discover -s perfbench/tests

The checksum test builds the benchmark (as a run does) and runs
perfbench.SelfTest in a JVM.
"""

import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_tail_is_the_eleventh_largest(self):
        values = list(range(1, 101))  # 1..100
        self.assertEqual(stats.tail(values), (90, 90.0))

    def test_tail_leaves_exactly_ten_samples_beyond(self):
        for n in (11, 20, 37, 250):
            values = [float(i) for i in range(n)]
            value, pct = stats.tail(values)
            self.assertEqual(sum(1 for v in values if v > value), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail([1.0] * 10))

    def test_order_does_not_matter(self):
        values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 6.0, 4.0, 0.0, 10.0, 11.0]
        self.assertEqual(stats.tail(values), stats.tail(sorted(values)))


class FailureTest(unittest.TestCase):
    OPS = [
        {"start": 0.0, "end": 1.0, "error": None},
        {"start": 1.0, "end": 1.01, "error": "AnalysisException: PATH_NOT_FOUND"},
        {"start": 2.0, "end": 4.0, "error": "checksum 00ff, expected 0a0b"},
        {"start": 4.0, "end": 7.0, "error": None},
    ]

    def test_raised_and_wrong_output_both_fail(self):
        self.assertEqual(stats.failures(self.OPS), (4, 2))

    def test_a_failed_operation_is_never_a_fast_time(self):
        self.assertEqual(stats.latencies(self.OPS), [1.0, 3.0])

    def test_union_length_merges_overlaps(self):
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3), (5, 6)], 0, 10), 4.0)
        self.assertAlmostEqual(stats.union_length([(-1, 2), (9, 12)], 0, 10), 3.0)


class ChecksumTest(unittest.TestCase):
    def test_checksum_is_stable(self):
        classpath = run.build()
        out = subprocess.run(["java", "-cp", classpath, "perfbench.SelfTest"],
                             capture_output=True, text=True, timeout=120)
        self.assertEqual(out.returncode, 0, out.stderr)


if __name__ == "__main__":
    unittest.main()
