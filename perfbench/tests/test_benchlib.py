"""Tests of the benchmark's own arithmetic and checks.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import checks, loadgen, stats  # noqa: E402


class PercentileChoice(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99.0)   # 10 beyond the p99
        self.assertEqual(stats.tail_percentile(999), 95.0)    # 9 beyond the p99
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertIsNone(stats.tail_percentile(39))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(list(reversed(xs)), 100), 100)
        self.assertEqual(stats.beyond(100, 99), 1)


class Windowed(unittest.TestCase):
    def test_medians_over_sub_windows_ignore_one_stall(self):
        quiet = [1.0] * 100
        stalled = [1.0] * 50 + [80.0] * 50
        p50, pct, tail, p50_min = stats.windowed(quiet + stalled + quiet, 3)
        self.assertEqual((p50, pct, tail, p50_min), (1.0, 90.0, 1.0, 1.0))
        slow = [3.0] * 100
        self.assertEqual(stats.windowed(slow + quiet + slow, 3)[3], 1.0)
        # over the whole sample the stall owns the tail
        self.assertEqual(stats.percentile(quiet + stalled + quiet, 90), 80.0)

    def test_sub_window_count_is_capped_by_the_sample(self):
        self.assertEqual(stats.windowed([5.0, 1.0, 3.0], 10)[0], 3.0)
        self.assertIsNone(stats.windowed([1.0] * 30, 1)[2])


class OpenLoop(unittest.TestCase):
    def test_latency_runs_from_due_time(self):
        # due at 1.0 s, sent late at 1.5 s, answered at 1.6 s: 600 ms, not 100
        self.assertEqual(stats.latency_from_due(1_000_000_000, 1_600_000_000), 600.0)

    def test_schedule_is_evenly_spaced_per_step(self):
        reqs, bounds = loadgen.schedule([(10, 1.0), (20, 0.5)], lambda: ("search", 0), 0)
        self.assertEqual(len(reqs), 20)
        self.assertEqual([r.due for r in reqs[:3]], [0, 100_000_000, 200_000_000])
        self.assertEqual(reqs[10].due, 1_000_000_000)
        self.assertEqual(reqs[11].due - reqs[10].due, 50_000_000)
        self.assertEqual([b[2] for b in bounds], [1_000_000_000, 1_500_000_000])

    def test_backlog(self):
        def rec(due, start):
            return {"due": due, "start": start}
        # 40 requests, all sent on time: nothing queued at the end
        on_time = [rec(i, i) for i in range(40)]
        self.assertFalse(stats.backlog_grew(on_time, 39, workers=4))
        # the last 10 were still waiting when the step ended
        late = [rec(i, i if i < 30 else 100) for i in range(40)]
        self.assertEqual(stats.queued_at(late, 39), 10)
        self.assertTrue(stats.backlog_grew(late, 39, workers=4))


class MaxRate(unittest.TestCase):
    def step(self, rate, search, hybrid, failed=0, grew=False):
        return {"rate": rate, "tail_ms": {"search": search, "hybrid": hybrid},
                "failed": failed, "backlog_grew": grew}

    def test_highest_rate_meeting_the_limit(self):
        table = [self.step(200, 4.0, 3.0), self.step(400, 12.0, 49.9),
                 self.step(800, 60.0, 20.0), self.step(1600, 400.0, 500.0, grew=True)]
        self.assertEqual(stats.max_rps_at_slo(table, 50.0), 400)

    def test_growing_backlog_or_failures_disqualify(self):
        table = [self.step(200, 4.0, 3.0), self.step(400, 5.0, 5.0, grew=True),
                 self.step(800, 5.0, 5.0, failed=1)]
        self.assertEqual(stats.max_rps_at_slo(table, 50.0), 200)

    def test_none_meets_the_limit(self):
        self.assertEqual(stats.max_rps_at_slo([self.step(200, 51.0, 3.0)], 50.0), 0)
        self.assertEqual(stats.max_rps_at_slo([self.step(200, None, 3.0)], 50.0), 0)


class SelfTime(unittest.TestCase):
    def test_span_minus_covered_child_time(self):
        parent = {"start": 0, "end": 100}
        kids = [{"start": 10, "end": 30}, {"start": 20, "end": 40},   # overlap: 30 covered
                {"start": 90, "end": 120}]                            # clipped to 10
        self.assertEqual(stats.self_time(parent, kids), 60)

    def test_self_times_by_parent_link(self):
        spans = [{"id": 1, "parent": 0, "start": 0, "end": 50},
                 {"id": 2, "parent": 1, "start": 5, "end": 25},
                 {"id": 3, "parent": 2, "start": 10, "end": 15}]
        self.assertEqual(stats.self_times(spans), {1: 30, 2: 15, 3: 5})

    def test_covered_union(self):
        self.assertEqual(stats.covered([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.covered([]), 0)


class Req:
    def __init__(self, qidx, body, status=200):
        self.qidx, self.body, self.status = qidx, body, status


class Checks(unittest.TestCase):
    def test_wrong_expected_frame_count_trips_the_check(self):
        checks.check_frames([640, 640], 640)
        with self.assertRaises(checks.CheckFailed):
            checks.check_frames([640, 640], 641)
        with self.assertRaises(checks.CheckFailed):
            checks.check_frames([640, 639], 640)

    def test_search_recall_floor(self):
        truth = {0: list(range(15))}
        good = Req(0, json.dumps({"response": {"docs": [{"id": i} for i in range(15)]}}))
        self.assertEqual(checks.check_search([good], truth, 15), 1.0)
        bad = Req(0, json.dumps({"response": {"docs": [{"id": i} for i in range(5, 20)]}}))
        with self.assertRaises(checks.CheckFailed):
            checks.check_search([bad], truth, 15)   # recall 10/15

    def test_hybrid_must_equal_the_direct_call(self):
        direct = {0: [[0, 7, 0.0325], [1, 3, 0.0161]]}
        body = {"response": {"docs": [{"doc_id": 7, "rank": 0, "rrf": 0.0325},
                                      {"doc_id": 3, "rank": 1, "rrf": 0.0161}]}}
        self.assertEqual(checks.check_hybrid([Req(0, json.dumps(body))], direct), 1)
        body["response"]["docs"][1]["rrf"] = 0.0162
        with self.assertRaises(checks.CheckFailed):
            checks.check_hybrid([Req(0, json.dumps(body))], direct)

    def test_curated_output(self):
        ok = dict(kept_ids=[1, 2, 4, 6, 8], pii_left=[], hashes=["h", "h"],
                  exact_pairs=[[1, 3]], near_pairs=[[2, 5], [6, 7], [8, 9]], prior_hash="h")
        self.assertEqual(checks.check_curated(**ok), 0)
        # the ceiling: 2 near pairs may survive, 3 may not
        self.assertEqual(checks.check_curated(**dict(ok, kept_ids=[1, 2, 4, 5, 6, 7, 8])), 2)
        for change in ({"kept_ids": [1, 2, 3]}, {"pii_left": ["a@b.org"]},
                       {"hashes": ["h", "g"]}, {"prior_hash": "g"},
                       {"kept_ids": [1, 2, 4, 5, 6, 7, 8, 9]}):
            with self.assertRaises(checks.CheckFailed):
                checks.check_curated(**dict(ok, **change))


if __name__ == "__main__":
    unittest.main()
