"""Self-tests of the benchmark's own arithmetic and input generation.

    python3 wlbench/test_wlbench.py
"""
import os
import random
import sys
import tempfile
import unittest
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))
import gen  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_fixed_percentiles(self):
        self.assertEqual(stats.tail_percentile(72), 85)
        self.assertEqual(stats.tail_percentile(60), 80)
        self.assertEqual(stats.tail_percentile(30), 65)
        self.assertEqual(stats.tail_percentile(28), 60)
        self.assertEqual(stats.tail_percentile(101), 90)
        self.assertEqual(stats.tail_percentile(100), 85)
        with self.assertRaises(ValueError):
            stats.tail_percentile(12)

    def test_every_run_has_ten_beyond(self):
        rng = random.Random(5)
        for workload, n_min in stats.MIN_OPS.items():
            p = stats.TAIL_P[workload]
            for n in range(n_min, n_min + 40):
                xs = [rng.lognormvariate(0, 1) for _ in range(n)]
                self.assertGreaterEqual(stats.beyond(xs, p), stats.MIN_BEYOND)
                self.assertNotEqual(stats.percentile(xs, p), stats.median(xs))

    def test_the_next_percentile_up_fails(self):
        grid = stats.TAIL_GRID
        for workload, n_min in stats.MIN_OPS.items():
            p = stats.TAIL_P[workload]
            higher = [q for q in grid if q > p]
            if higher:
                xs = list(range(n_min))
                self.assertLess(stats.beyond(xs, min(higher)), stats.MIN_BEYOND)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.beyond(xs, 90), 10)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)


class Intervals(unittest.TestCase):
    def test_union(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([(0, 1), (2, 3), (3, 5)]), 4)
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)

    def test_orchestration_is_wall_minus_stage_union(self):
        # two overlapping stages and one later stage inside a 100 ms op
        stages = [(10, 40), (30, 50), (70, 80)]
        busy = stats.union_length(stats.clip(stages, 0, 100))
        self.assertEqual(busy, 50)
        self.assertEqual(100 - busy, 50)

    def test_clip(self):
        self.assertEqual(stats.clip([(-5, 5), (8, 20), (30, 40)], 0, 10),
                         [(0, 5), (8, 10)])


class SelfTime(unittest.TestCase):
    def test_nested(self):
        spans = [
            ["op", 1, -1, 0, 100],
            ["dql.parse", 1, 0, 0, 5],
            ["dql.compile", 1, 0, 5, 45],
            ["catalyst.analysis", 1, 2, 30, 40],
            ["dql.eager", 1, 2, 10, 25],
            ["dql.eager", 1, 2, 20, 35],
            ["exec.action", 1, 0, 45, 100],
        ]
        self_t = stats.self_times(spans)
        self.assertEqual(self_t[0], 0)          # op: fully covered
        self.assertEqual(self_t[1], 5)
        self.assertEqual(self_t[2], 40 - 30)    # compile minus [10, 40)
        self.assertEqual(self_t[3], 10)
        self.assertEqual(self_t[6], 55)

    def test_children_outside_parent_are_clipped(self):
        spans = [["op", 1, -1, 0, 10], ["x", 1, 0, 5, 20]]
        self.assertEqual(stats.self_times(spans)[0], 5)


class Spread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        vals = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, q2, q3 = __import__("statistics").quantiles(vals, n=4)
        self.assertAlmostEqual(stats.spread(vals), (q3 - q1) / q2)


class Generator(unittest.TestCase):
    """Same seed, same inputs; any two seeds, the same op mix and the same
    amount of work within the stated tolerance."""
    ROWS_TOLERANCE = 0.10

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.base = os.path.join(cls.tmp.name, "base")
        gen.write_base(cls.base)
        cls.events = pq.read_table(os.path.join(cls.base, "events.parquet"))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_base_shape(self):
        ev = self.events
        self.assertEqual(ev.num_rows, gen.N_EVENTS)
        series = {(t, u) for t, u in zip(ev.column("event_type").to_pylist(),
                                         ev.column("user_id").to_pylist())}
        self.assertEqual(len(series), gen.N_USERS * len(gen.TYPES))
        self.assertFalse(gen.write_base(self.base))  # reused, not rewritten

    def test_dashboard_same_seed_same_plan(self):
        self.assertEqual(gen.dashboard_plan(3), gen.dashboard_plan(3))
        self.assertNotEqual(gen.dashboard_plan(3), gen.dashboard_plan(4))

    def _selected_rows(self, plan):
        """Event rows the panels of one 5-pass type rotation select."""
        ts = self.events.column("ts").cast("int64").to_numpy() // 1_000_000
        ty = np.array(self.events.column("event_type").to_pylist())
        us = self.events.column("user_id").to_numpy()
        total = 0
        for rot in range(len(gen.TYPES)):
            for i, p in enumerate(plan["panels"]):
                t = gen.TYPES[(rot + i) % len(gen.TYPES)]
                m = (ts >= p["start_ms"]) & (ts < p["end_ms"]) & (ty == t)
                if p["users"]:
                    m &= np.isin(us, p["users"])
                total += int(m.sum())
        return total

    def test_dashboard_seeds_same_mix_and_rows(self):
        plans = [gen.dashboard_plan(s) for s in range(1, 9)]
        mixes = {tuple((p["name"], p["end_ms"] - p["start_ms"], len(p["users"]))
                       for p in pl["panels"]) for pl in plans}
        self.assertEqual(len(mixes), 1)
        rows = [self._selected_rows(pl) for pl in plans]
        self.assertLessEqual((max(rows) - min(rows)) / min(rows),
                             self.ROWS_TOLERANCE, rows)

    def test_curate_same_seed_same_corpus_and_seeds_same_size(self):
        sizes = []
        for seed in (1, 1, 2, 3):
            d = tempfile.mkdtemp(dir=self.tmp.name)
            plan = gen.curate_plan(seed, self.base, d)
            docs = pq.read_table(os.path.join(plan["corpus_dir"], "documents.parquet"))
            vecs = pq.read_table(os.path.join(plan["corpus_dir"], "embeddings.parquet"))
            delta = pq.read_table(plan["delta_docs"])
            chars = sum(len(t) for t in docs.column("text").to_pylist())
            sizes.append((docs.num_rows, vecs.num_rows, delta.num_rows, chars,
                          docs.column("text").to_pylist()))
        self.assertEqual(sizes[0], sizes[1])            # same seed, same bytes
        for s in sizes[2:]:
            self.assertEqual(s[:3], sizes[0][:3])       # same row counts
            self.assertLessEqual(abs(s[3] - sizes[0][3]) / sizes[0][3],
                                 self.ROWS_TOLERANCE)   # same amount of text
        n = sizes[0][0]
        self.assertEqual(n, plan["corpus_docs"])
        dup = sum(1 for t in sizes[0][4] if t.endswith(" dup"))
        self.assertGreaterEqual(dup, int(gen.CORPUS_DOCS * gen.NEAR_DUP_SHARE))


    def test_stream_same_seed_same_plan_and_seeds_same_work(self):
        self.assertEqual(gen.stream_plan(3), gen.stream_plan(3))
        plans = [gen.stream_plan(s) for s in range(1, 9)]
        self.assertNotEqual(plans[0]["users"], plans[1]["users"])
        for pl in plans:
            # only the users differ: rate, backlog, queries and counts are fixed
            fixed = {k: v for k, v in pl.items() if k != "users"}
            self.assertEqual(fixed, {k: v for k, v in plans[0].items()
                                     if k != "users"})
            self.assertEqual(len(set(pl["users"])), gen.STREAM["users"])


class MatchesSf01(unittest.TestCase):
    """The base tables copy the measured sf0.1 properties (gen.SF01)."""
    REL = 0.10  # quantiles and means, relative
    SHARE = 0.015  # shares, absolute

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        gen.write_base(cls.tmp.name)
        cls.got = gen.measure(cls.tmp.name)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def close(self, key):
        want, got = gen.SF01[key], self.got[key]
        for k, v in want.items():
            self.assertLessEqual(abs(got[k] - v), self.REL * v, (key, k, got[k], v))

    def test_counts(self):
        for k in ("events", "series", "documents", "vocabulary",
                  "embeddings", "dim"):
            self.assertEqual(self.got[k], gen.SF01[k], k)

    def test_events_per_series_window(self):
        self.close("events_per_series_first_7d")

    def test_values(self):
        self.close("value_quantiles")

    def test_documents(self):
        self.close("doc_words")
        self.close("doc_chars")

    def test_shares(self):
        for k in ("near_dup_share", "exact_dup_share", "events_per_type_share",
                  "series_over_5_events_first_7d_share"):
            self.assertLessEqual(abs(self.got[k] - gen.SF01[k]), self.SHARE,
                                 (k, self.got[k], gen.SF01[k]))
        for lang, v in gen.SF01["lang_share"].items():
            self.assertLessEqual(abs(self.got["lang_share"][lang] - v),
                                 self.SHARE, lang)


if __name__ == "__main__":
    unittest.main()
