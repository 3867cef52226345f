#!/usr/bin/env python3
"""The generator is a pure function of (workload, seed): one seed gives
byte-identical files twice, and two seeds give different files. Also
checks that BENCHMARK.json names the metrics run.py prints and repeats the
generator's knobs.

    python3 perfbench/test_gen.py
"""
import collections
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_is_byte_identical_and_seeds_differ(self):
        for workload in gen.WORKLOADS:
            with self.subTest(workload=workload), tempfile.TemporaryDirectory() as tmp:
                a, b, c = (os.path.join(tmp, x) for x in "abc")
                gen.generate(workload, 5, a)
                gen.generate(workload, 5, b)
                gen.generate(workload, 6, c)
                self.assertEqual(files(a), files(b))
                _, mismatch, errors = filecmp.cmpfiles(a, b, files(a), shallow=False)
                self.assertEqual((mismatch, errors), ([], []))
                _, differ, _ = filecmp.cmpfiles(a, c, files(a), shallow=False)
                self.assertIn("documents.parquet", differ)
                self.assertIn(os.path.join("texts", "part-00000.txt"), differ)

    def test_duplicate_shares_follow_the_knobs(self):
        k = dict(gen.WORKLOADS["curation"], docs=2000)
        texts, _, _ = gen.corpus(gen.np.random.default_rng(1), k)
        self.assertEqual(len(texts), 2000)
        distinct = len(set(texts))
        # exact copies collapse; near copies stay distinct
        self.assertLess(abs(distinct / 2000 - (1 - k["exact"])), 0.05)

    def test_duplicate_clusters_do_not_depend_on_the_seed(self):
        k = gen.WORKLOADS["curation"]

        def clusters(seed):
            texts, _, _ = gen.corpus(gen.np.random.default_rng(seed), k)
            # a near copy differs from its original in the last token only
            return sorted(collections.Counter(t.rsplit(" ", 1)[0] for t in texts).values())

        self.assertEqual(clusters(1), clusters(2))
        self.assertEqual(sum(gen.cluster_sizes(k)), round(k["docs"] * (k["exact"] + k["near"])))


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_metrics_match_run_py(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]}, run.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]}, run.LAYER_UNITS)
        self.assertEqual([w["name"] for w in self.spec["workloads"]], run.WORKLOADS)

    def test_why_lines_repeat_the_knobs(self):
        for w in self.spec["workloads"]:
            self.assertLessEqual(len(w["why"]), 200, w["name"])
            k = gen.WORKLOADS[w["name"]]
            for knob in ("docs", "vocab", "zipf", "exact", "near", "edit", "near_min"):
                v = k[knob] if isinstance(k[knob], str) else f"{k[knob]:g}"
                self.assertIn(f"{knob}={v}", w["why"], (w["name"], knob))


if __name__ == "__main__":
    unittest.main()
