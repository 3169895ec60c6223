"""Unit tests of the harness's own logic.

Run: python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import benchlib as bl  # noqa: E402

# One wave of CrawlEngine.run's `log` lines, in the engine's own format.
WAVE0 = [
    (1.20, "prep done (pages cached + robots rules table) t=1.2s"),
    (2.00, "wave=0 politeness-select done (200 rows) t=2.0s"),
    (3.10, "wave=0 fetch+extract done (200 rows) t=3.1s"),
    (5.70, "wave=0 frontier-checkpoint done t=5.7s"),
    (6.20, "wave=0 sink barrier done t=6.2s"),
    (6.40, "wave=0 frontier-write done (400 rows) t=6.4s"),
    (6.50, "wave=0   selected=200    fetched=200    errors=0    seen=200     parityFail=0 t=6.5s"),
]
WAVE1 = [
    (7.00, "wave=1 politeness-select done (400 rows) t=7.0s"),
    (8.50, "wave=1 fetch+extract done (400 rows) t=8.5s"),
    (11.10, "wave=1 frontier-checkpoint done t=11.1s"),
    (11.50, "wave=1 sink barrier done t=11.5s"),
    (11.60, "wave=1 frontier-write done (0 rows) t=11.6s"),
    (11.75, "wave=1   selected=400    fetched=400    errors=0    seen=600     parityFail=0 t=11.8s"),
]


class StatsTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(bl.geomean([1, 4, 16]), 4.0)
        self.assertAlmostEqual(bl.geomean([2.5]), 2.5)
        vals = [0.3, 1.7, 9.0]
        self.assertAlmostEqual(bl.geomean(vals), math.prod(vals) ** (1 / 3))
        with self.assertRaises(ValueError):
            bl.geomean([1.0, 0.0])
        with self.assertRaises(ValueError):
            bl.geomean([])

    def test_geomean_not_swamped_by_large_values(self):
        # halving the small leaf moves the geomean as much as halving the large one
        base = bl.geomean([0.5, 20.0])
        self.assertAlmostEqual(bl.geomean([0.25, 20.0]), bl.geomean([0.5, 10.0]))
        self.assertLess(bl.geomean([0.25, 20.0]), base)

    def test_percentile(self):
        vals = [5, 1, 4, 2, 3]
        self.assertEqual(bl.percentile(vals, 0), 1)
        self.assertEqual(bl.percentile(vals, 50), 3)
        self.assertEqual(bl.percentile(vals, 100), 5)
        self.assertAlmostEqual(bl.percentile([1, 2], 25), 1.25)
        self.assertEqual(bl.percentile([7], 90), 7)
        with self.assertRaises(ValueError):
            bl.percentile(vals, 101)

    def test_median(self):
        self.assertEqual(bl.median([3, 1, 2]), 2)
        self.assertEqual(bl.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            bl.median([])


class PhaseParserTest(unittest.TestCase):
    def test_classify(self):
        self.assertEqual([bl.classify(line) for _, line in WAVE0],
                         ["prep", "select", "fetch_extract", "frontier", "sink", "commit", "commit"])
        self.assertIsNone(bl.classify("resuming from snapshot wave=3 fetched=10 errors=0"))

    def test_phases_sum_to_wall_time(self):
        ph = bl.crawl_phases(WAVE0 + WAVE1, 12.0)
        self.assertAlmostEqual(sum(ph["totals"].values()), 12.0)
        t = ph["totals"]
        self.assertAlmostEqual(t["prep"], 1.2)
        self.assertAlmostEqual(t["select"], 0.8 + 0.5)
        self.assertAlmostEqual(t["fetch_extract"], 1.1 + 1.5)
        self.assertAlmostEqual(t["frontier"], 2.6 + 2.6)
        self.assertAlmostEqual(t["sink"], 0.5 + 0.4)
        # sink barrier -> commit line, both waves, plus the 0.25 s tail
        self.assertAlmostEqual(t["commit"], 0.3 + 0.25 + 0.25)

    def test_waves_and_first_commit(self):
        ph = bl.crawl_phases(WAVE0 + WAVE1, 12.0)
        self.assertAlmostEqual(ph["first_commit_s"], 6.5)
        self.assertEqual(len(ph["waves"]), 2)
        self.assertAlmostEqual(ph["waves"][0], 6.5)
        self.assertAlmostEqual(ph["waves"][1], 5.25)
        self.assertEqual([round(x, 6) for x in ph["frontier_per_wave"]], [2.6, 2.6])

    def test_phase_of(self):
        ph = bl.crawl_phases(WAVE0, 7.0)
        self.assertEqual(bl.phase_of(ph["intervals"], 0.5), "prep")
        self.assertEqual(bl.phase_of(ph["intervals"], 4.0), "frontier")
        self.assertEqual(bl.phase_of(ph["intervals"], 6.9), "commit")
        self.assertIsNone(bl.phase_of(ph["intervals"], 7.5))

    def test_wall_before_last_boundary_is_an_error(self):
        with self.assertRaises(ValueError):
            bl.crawl_phases(WAVE0, 6.0)

    def test_unknown_lines_are_skipped(self):
        noisy = WAVE0[:2] + [(2.5, "some other engine message")] + WAVE0[2:]
        self.assertEqual(bl.crawl_phases(noisy, 7.0)["totals"], bl.crawl_phases(WAVE0, 7.0)["totals"])


class DigestTest(unittest.TestCase):
    ROWS = [f"0\t{i}\thttps://site{i}.com/\t0" for i in range(50)]

    def test_order_independent(self):
        shuffled = list(self.ROWS)
        random.Random(7).shuffle(shuffled)
        self.assertEqual(bl.multiset_digest(self.ROWS), bl.multiset_digest(shuffled))

    def test_sensitive_to_content_and_multiplicity(self):
        d = bl.multiset_digest(self.ROWS)
        self.assertNotEqual(d, bl.multiset_digest(self.ROWS[:-1]))
        self.assertNotEqual(d, bl.multiset_digest(self.ROWS + self.ROWS[:1]))
        changed = list(self.ROWS)
        changed[3] = changed[3].replace("site3", "site33")
        self.assertNotEqual(d, bl.multiset_digest(changed))
        self.assertTrue(d.startswith("50:"))

    def test_file_digest_ignores_blank_lines(self):
        import tempfile
        with tempfile.TemporaryDirectory() as tmp:
            path = os.path.join(tmp, "rows.tsv")
            with open(path, "w", encoding="utf-8") as f:
                f.write("\n".join(self.ROWS) + "\n\n")
            self.assertEqual(bl.file_digest(path), bl.multiset_digest(self.ROWS))


class ErrorAccountingTest(unittest.TestCase):
    EXPECTED = {"waves": 3, "fetched": 800, "errors": 100, "order_digest": "a", "seen_digest": "b"}
    GOOD = {"waves": 3, "fetched": 800, "errors": 100, "parity_failures": 0}
    DIGESTS = {"order_digest": "a", "seen_digest": "b"}

    def test_clean_pass(self):
        self.assertEqual(bl.crawl_pass_failures(self.GOOD, self.EXPECTED, self.DIGESTS), (800, 0, []))

    def test_designed_404s_are_not_failures(self):
        attempted, failed, _ = bl.crawl_pass_failures(self.GOOD, self.EXPECTED, self.DIGESTS)
        self.assertEqual(failed, 0)
        self.assertEqual(attempted, 800)

    def test_parity_failures_count_one_page_each(self):
        r = dict(self.GOOD, parity_failures=3)
        self.assertEqual(bl.crawl_pass_failures(r, self.EXPECTED, self.DIGESTS)[:2], (800, 3))

    def test_count_or_digest_mismatch_fails_the_pass(self):
        r = dict(self.GOOD, fetched=799)
        self.assertEqual(bl.crawl_pass_failures(r, self.EXPECTED, self.DIGESTS)[:2], (800, 800))
        d = dict(self.DIGESTS, seen_digest="x")
        attempted, failed, notes = bl.crawl_pass_failures(self.GOOD, self.EXPECTED, d)
        self.assertEqual((attempted, failed), (800, 800))
        self.assertIn("seen_digest", notes[0])

    def test_thrown_error_fails_the_pass(self):
        r = {"error": "SparkException: boom"}
        self.assertEqual(bl.crawl_pass_failures(r, self.EXPECTED)[:2], (800, 800))

    def test_ledger_rate(self):
        ledger = bl.Ledger()
        ledger.add(800, 0)
        ledger.add(7, 1, "q_salsa: 2 differing rows")
        ledger.add(7, 0)
        self.assertEqual((ledger.attempted, ledger.failed), (814, 1))
        self.assertAlmostEqual(ledger.error_rate, 1 / 814)
        self.assertFalse(ledger.correct)
        clean = bl.Ledger()
        clean.add(10, 0)
        self.assertEqual(clean.error_rate, 0.0)
        self.assertTrue(clean.correct)
        self.assertFalse(bl.Ledger().correct)
        with self.assertRaises(ValueError):
            clean.add(1, 2)


class OracleCompareTest(unittest.TestCase):
    def test_frame_mismatch(self):
        import pandas as pd
        a = pd.DataFrame({"n": ["x", "y"], "v": [1, 2]})
        self.assertIsNone(bl.frame_mismatch(a.iloc[::-1], a))
        self.assertIn("rows", bl.frame_mismatch(a.iloc[:1], a))
        self.assertIn("columns", bl.frame_mismatch(a.rename(columns={"v": "w"}), a))
        self.assertIn("differing", bl.frame_mismatch(a.assign(v=[1, 3]), a))


class SpanTest(unittest.TestCase):
    SPANS = [
        {"id": 0, "name": "workload.bfs_crawl", "parent": -1, "start_s": 0.0, "end_s": 10.0},
        {"id": 1, "name": "crawl.run", "parent": 0, "start_s": 0.5, "end_s": 9.5},
        {"id": 2, "name": "crawl.phase.prep", "parent": 1, "start_s": 0.5, "end_s": 2.5},
        {"id": 3, "name": "crawl.phase.frontier", "parent": 1, "start_s": 2.5, "end_s": 9.0},
        {"id": 4, "name": "spark.job.7", "parent": 3, "start_s": 3.0, "end_s": 4.0},
        {"id": 5, "name": "probes", "parent": -1, "start_s": 10.0, "end_s": 11.0},
    ]

    def test_self_times(self):
        st = bl.self_times(self.SPANS, 0)
        self.assertAlmostEqual(st["crawl"], 2.0 + 0.5)  # prep phase + run minus its phases
        self.assertAlmostEqual(st["frontier"], 6.5)  # spark spans are not subtracted
        self.assertEqual(st["pipeline"], 0.0)

    def test_innermost(self):
        self.assertEqual(bl.innermost(self.SPANS, 3.5), 3)
        self.assertEqual(bl.innermost(self.SPANS, 0.2), 0)
        self.assertEqual(bl.innermost(self.SPANS, 12.0), -1)


if __name__ == "__main__":
    unittest.main()
