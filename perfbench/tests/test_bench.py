"""Tests of the benchmark's own logic.

    python3 perfbench/tests/test_bench.py

The Python half covers the percentile rule and the failure tally; the
Scala half (perfbench.SelfTest, built like the benchmark) covers the
open-loop schedule arithmetic, the output-check counting and the batch
hash's independence from row order.
"""
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import build  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p99_when_ten_samples_lie_beyond_it(self):
        self.assertEqual(run.tail_rank(1000), 990)
        self.assertEqual(run.tail_rank(5000), 4950)

    def test_falls_back_to_the_highest_percentile_with_ten_beyond(self):
        self.assertEqual(run.tail_rank(500), 490)
        self.assertEqual(run.tail_rank(11), 1)
        self.assertIsNone(run.tail_rank(10))
        for n in range(11, 3000):
            r = run.tail_rank(n)
            self.assertGreaterEqual(n - r, 10)
            self.assertLessEqual(r, -(-99 * n // 100))

    def test_values_at_rank(self):
        values = list(range(1000, 0, -1))
        self.assertEqual(run.at_rank(values, run.tail_rank(len(values))), 990)
        self.assertEqual(run.percentile(values, 0.5), 500)
        self.assertEqual(run.percentile([7], 0.5), 7)


class FailureTally(unittest.TestCase):
    @staticmethod
    def check(**kw):
        c = dict.fromkeys(("expected",) + run.FAIL_FIELDS, 0)
        c.update(kw)
        return c

    def test_clean_run(self):
        self.assertEqual(run.tally({"a": self.check(expected=5)}), (5, 0, True))

    def test_errors_and_missing_results_count_as_failed(self):
        checks = {"capacity": self.check(expected=10, missing=3, other=1),
                  "open": self.check(expected=4, wrong=1, duplicate=1, extra=2)}
        self.assertEqual(run.tally(checks), (14, 8, False))

    def test_rows_dropped_by_the_watermark_fail_the_run(self):
        self.assertEqual(run.tally({"capacity": self.check(expected=4, dropped=3)}), (4, 3, False))

    def test_late_results_fail_but_are_not_wrong(self):
        self.assertEqual(run.tally({"open": self.check(expected=4, late=2)}), (4, 2, True))


class ScalaSelfTest(unittest.TestCase):
    def test_schedule_check_counting_and_hash(self):
        classes = build.build()
        r = subprocess.run(build.java_cmd(classes, "perfbench.SelfTest", heap="1g"),
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout[-4000:])


if __name__ == "__main__":
    unittest.main()
