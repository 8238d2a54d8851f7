"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a checkout. The span test starts the benchmark JVM (and
builds it first if the sources changed), so it takes a minute or so.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

SCRATCH = os.path.join(HERE, ".work", "selftest")


def same_tree(a, b):
    """True when two directories hold the same files with the same bytes."""
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratedInputs(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        os.makedirs(SCRATCH)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def path(self, name):
        return os.path.join(SCRATCH, name)

    def test_multilabel_same_seed_same_bytes(self):
        gen.multilabel(self.path("a"), 5, 2000)
        gen.multilabel(self.path("b"), 5, 2000)
        gen.multilabel(self.path("c"), 6, 2000)
        self.assertTrue(same_tree(self.path("a"), self.path("b")))
        self.assertFalse(same_tree(self.path("a"), self.path("c")))

    def test_tables_same_seed_same_bytes(self):
        gen.tables(self.path("a"), seed=7)
        gen.tables(self.path("b"), seed=7)
        gen.tables(self.path("c"), seed=8)
        self.assertTrue(same_tree(self.path("a"), self.path("b")))
        self.assertFalse(same_tree(self.path("a"), self.path("c")))
        self.assertEqual(sorted(os.listdir(self.path("a"))),
                         sorted(f"{t}.parquet" for t in gen.TABLES))

    def test_dedup_plan_same_seed_same_plan(self):
        ids = list(range(1000))
        words = [10 + i % 80 for i in ids]
        a = gen.dedup_plan(ids, words, 3)
        self.assertEqual(a, gen.dedup_plan(ids, words, 3))
        self.assertNotEqual(a, gen.dedup_plan(ids, words, 4))
        base = set(a["base"])
        for c in a["copies"]:
            self.assertIn(c["source"], base)  # copies are of indexed docs
            self.assertGreaterEqual(words[c["source"]], 20)


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        for n in (20, 37, 100, 1000):
            xs = [float(i) for i in range(n)]
            pct, value = stats.tail(xs[::-1])
            self.assertEqual(sum(x > value for x in xs), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)
        self.assertEqual(stats.tail(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)

    def test_few_samples_give_the_maximum(self):
        for n in (1, 5, 10, 19):
            self.assertEqual(stats.tail([3.0] + [1.0] * (n - 1)), (100.0, 3.0))


class SpanAttribution(unittest.TestCase):
    def test_fit_jobs_on_one_partition(self):
        # AdaBoostMHClassifier on one partition: 2 jobs per round plus 4
        # (grid, count), so 24 at T=10; the span must get every one of them
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "selftest_spans",
             "--seed", "1", "--seconds", "1", "--trace", "1"],
            cwd=os.path.dirname(HERE), check=True, stdout=subprocess.PIPE, text=True).stdout
        raw = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(raw["fit_jobs"], 24)
        self.assertEqual(raw["listener_jobs"], raw["fit_jobs"])


if __name__ == "__main__":
    unittest.main()
