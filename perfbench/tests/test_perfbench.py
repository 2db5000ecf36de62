"""Self-tests of the benchmark: run from the repository root with

    python3 -m unittest discover -s perfbench/tests -v

The fingerprint test builds the engine (like the first benchmark run) and
runs every query of the three query workloads twice at sf0.001, so it
takes a few minutes.
"""
import filecmp
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402
import run  # noqa: E402


def tree_digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_tables_identical_for_same_seed(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        gen.gen_tables(a, 7, 0.001)
        gen.gen_tables(b, 7, 0.001)
        gen.gen_tables(c, 8, 0.001)
        self.assertEqual(tree_digest(a), tree_digest(b))
        self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_etl_identical_for_same_seed(self):
        a, b = (os.path.join(self.tmp, x) for x in "ab")
        ea = gen.gen_etl(a, 7, 2000, 1000)
        eb = gen.gen_etl(b, 7, 2000, 1000)
        self.assertEqual(ea, eb)
        for f in ("xetra.csv", "eurex.csv", "dimension.csv"):
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False))

    def test_etl_plants_what_it_reports(self):
        e = gen.gen_etl(self.tmp, 3, 2000, 1000)
        with open(os.path.join(self.tmp, "xetra.csv")) as f:
            xetra = f.read().splitlines()
        with open(os.path.join(self.tmp, "eurex.csv")) as f:
            eurex = f.read().splitlines()
        self.assertEqual(len(xetra), 1 + e["xetra_rows"] + e["corrupt_xetra"])
        self.assertEqual(len(eurex), 1 + e["eurex_rows"] + e["corrupt_eurex"])
        self.assertTrue(set(e["malformed_xetra"]) <= set(xetra))
        self.assertTrue(set(e["malformed_eurex"]) <= set(eurex))
        # quoted descriptions with commas, as in the reference files
        self.assertTrue(any('",' in line and ',"' in line for line in xetra[1:50]))
        with open(os.path.join(self.tmp, "dimension.csv")) as f:
            dim = f.read().splitlines()
        self.assertEqual(len(dim) - 1, gen.DIM_SEGMENTS)
        self.assertGreater(e["missing_isin"], 0)
        self.assertGreater(e["missing_underlying"], 0)


class TailPercentileTest(unittest.TestCase):
    def test_leaves_ten_samples_above(self):
        xs = list(range(1, 101))  # 100 samples
        p, v, n = run.tail_percentile(xs)
        self.assertEqual((p, v, n), (90.0, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20]
        p, v, n = run.tail_percentile(xs)
        self.assertEqual((p, v, n), (50.0, 10, 20))

    def test_too_few_samples_gives_the_maximum(self):
        self.assertEqual(run.tail_percentile([3, 1, 2]), (100.0, 3, 3))
        self.assertEqual(run.tail_percentile(list(range(10))), (100.0, 9, 10))
        self.assertEqual(run.tail_percentile(list(range(11))), (100.0 / 11, 0, 11))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            run.tail_percentile([])


class FingerprintTest(unittest.TestCase):
    """Every query of the query workloads gives the same result rows at
    local[1] and local[4] on sf0.001."""

    def test_local1_equals_local4(self):
        run.build()
        names = sorted({q for w in run.WORKLOADS["workloads"].values() for q in w.get("queries", [])})
        w = dict(run.WORKLOADS["workloads"]["catalog_light"], queries=names, sf=0.001, warm_passes=1)
        run.PASSES = 1
        tmp = tempfile.mkdtemp(dir=run.ROOT)
        try:
            prints = []
            for cores in (1, 4):
                d = os.path.join(tmp, f"local{cores}")
                os.makedirs(d)
                run.run_queries(w, 1, 0, 0, d, cores)
                prints.append(run.fingerprints(os.path.join(d, "dump"), names))
            differ = [n for n in names if prints[0].get(n) != prints[1].get(n)]
            self.assertEqual(differ, [], json.dumps({n: [p.get(n) for p in prints] for n in differ}))
            self.assertEqual(len(prints[0]), len(names))
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
