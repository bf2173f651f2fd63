"""Self-tests of the benchmark harness.

    python3 perfbench/test_harness.py          # statistics only
    python3 perfbench/test_harness.py --jvm    # plus the JVM checks

The JVM checks (generator determinism, the producer's manifest check, a
throwing query counted as failed and never timed) build the harness
first, like a benchmark run does."""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertIsNone(stats.tail([]))

    def test_eleven_samples_give_the_smallest_with_ten_beyond(self):
        value, pct, n = stats.tail([float(x) for x in range(11)])
        self.assertEqual(value, 0.0)
        self.assertEqual(n, 11)
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_hundred_samples_give_p90(self):
        xs = [float(x) for x in range(1, 101)]
        value, pct, n = stats.tail(list(reversed(xs)))
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)


class GeoMean(unittest.TestCase):
    def test_known_values(self):
        self.assertAlmostEqual(stats.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(stats.geomean([2.0, 8.0, 4.0]), 4.0)
        self.assertAlmostEqual(stats.geomean([3.5]), 3.5)

    def test_outlier_moves_it_less_than_the_mean(self):
        xs = [1.0] * 7 + [170.0]
        self.assertLess(stats.geomean(xs), sum(xs) / len(xs) / 2)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])
        with self.assertRaises(ValueError):
            stats.geomean([])


class Median(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


def jvm_selftest():
    import run
    root = os.getcwd()
    launch = run.ensure_built(root)
    work = os.path.join(root, ".bench_build", "selftest")
    run.rmtree(work)
    code = subprocess.call(run.java_command(launch, work) +
                           ["--mode", "selftest", "--work", work],
                           env=run.jvm_env(work), cwd=root)
    run.rmtree(work)
    return code


if __name__ == "__main__":
    with_jvm = "--jvm" in sys.argv
    result = unittest.main(argv=[sys.argv[0]], exit=False).result
    ok = result.wasSuccessful()
    if with_jvm:
        ok = jvm_selftest() == 0 and ok
    sys.exit(0 if ok else 1)
