"""Tests for the benchmark's own code (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

SMALL_SERVE = dict(run.SERVE, subjects=300, fresh=12, revisits=4)


def _tree_digest(d):
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratedInputs(unittest.TestCase):

    def _prepare(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            with mock.patch.object(run, "SERVE", SMALL_SERVE):
                expected = run.PREPARE[workload](seed, 20, d)
            return _tree_digest(d), expected

    def test_same_seed_gives_identical_inputs(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(self._prepare(w, 7), self._prepare(w, 7))

    def test_different_seed_gives_different_inputs(self):
        self.assertNotEqual(self._prepare("harvest_serve", 7)[0],
                            self._prepare("harvest_serve", 8)[0])

    def test_harvest_has_filtered_cards_and_churning_revisits(self):
        hv = gen.Harvest(3, 7, 40, 12)
        cards = [r["modelId"] for b in hv.batches for r in b]
        bad = [m for m in cards if not hv.kept(m)]
        self.assertTrue(0.05 < len(bad) / len(cards) < 0.3)
        for b, rev in enumerate(hv.revisited[1:], start=1):
            self.assertEqual(len(rev), 12)
            for m in rev:
                visits = hv.license_at[m]
                i = [bb for bb, _ in visits].index(b)
                self.assertGreater(i, 0)
                # a revisit changes the license, or drops the gate for good
                changed = visits[i - 1][1] != visits[i][1]
                self.assertTrue(changed or not hv.states[m]["gated"])

    def test_serve_plan_mix_and_closed_range_reads(self):
        g = gen.Graph(5, 400)
        ops = gen.serve_plan(g, 5, 20, 3, gen.T0)
        kinds = [o["kind"] for o in ops]
        self.assertEqual({k: kinds.count(k) for k in set(kinds)},
                         {"lookup": 12, "asof": 4, "pivot": 2, "scan": 2, "trickle": 3})
        asof = [o for o in ops if o["kind"] == "asof"]
        self.assertTrue(asof)
        for o in asof:
            for s in o["subjects"]:
                self.assertNotEqual(g.as_of(s, o["ms"]), g.current(s))


class TailRule(unittest.TestCase):

    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(10))))
        value, pct, n = stats.tail(list(range(1, 12)))
        self.assertEqual((value, n), (1, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_hundred_samples_give_p90(self):
        xs = list(range(100, 0, -1))
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)


class DriverGap(unittest.TestCase):

    def test_wall_minus_union_of_job_intervals(self):
        span = {"start_ms": 0, "end_ms": 10000}
        jobs = [{"start_ms": 1000, "end_ms": 3000}, {"start_ms": 2000, "end_ms": 4000},
                {"start_ms": 6000, "end_ms": 7000}, {"start_ms": 9500, "end_ms": 12000}]
        # union inside the span: [1000,4000] + [6000,7000] + [9500,10000]
        self.assertAlmostEqual(stats.driver_gap(span, jobs), 10.0 - 4.5)

    def test_nested_and_no_jobs(self):
        span = {"start_ms": 100, "end_ms": 1100}
        self.assertAlmostEqual(stats.driver_gap(span, []), 1.0)
        nested = [{"start_ms": 100, "end_ms": 1100}, {"start_ms": 200, "end_ms": 300}]
        self.assertAlmostEqual(stats.driver_gap(span, nested), 0.0)

    def test_jobs_attribute_to_the_open_span(self):
        spans = [{"start_ms": 0, "end_ms": 50}, {"start_ms": 50, "end_ms": 90}]
        jobs = [{"start_ms": 10}, {"start_ms": 50}, {"start_ms": 70}, {"start_ms": 95}]
        owned = stats.attribute(spans, jobs)
        self.assertEqual([[j["start_ms"] for j in js] for js in owned], [[10], [50, 70]])


if __name__ == "__main__":
    unittest.main()
