"""Unit tests for the benchmark's own logic (no JVM, no engine).

    python3 -m unittest discover -s perfbench/tests
"""
import contextlib
import hashlib
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen     # noqa: E402
import repeat  # noqa: E402
import stats   # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(xs, 0.99), 99)
        self.assertEqual(stats.percentile([7.0], 0.9), 7.0)

    def test_ten_beyond(self):
        # 100 samples put exactly 10 beyond p90; 99 do not
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertEqual(stats.beyond(99, 0.9), 9)
        self.assertGreaterEqual(stats.beyond(100, 0.9), stats.MIN_BEYOND)
        self.assertLess(stats.beyond(99, 0.9), stats.MIN_BEYOND)
        self.assertEqual(stats.beyond(1000, 0.99), 10)

    def test_samples_beyond_match_the_percentile(self):
        for n in (20, 40, 100, 250, 1000):
            xs = [float(i) for i in range(n)]
            for q in (0.5, 0.75, 0.9, 0.99):
                p = stats.percentile(xs, q)
                self.assertEqual(sum(1 for x in xs if x > p), stats.beyond(n, q))


class BoundComputation(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        vals = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.0]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(stats.spread(vals), (q3 - q1) / statistics.median(vals))

    def test_worse_by_follows_direction(self):
        self.assertAlmostEqual(stats.worse_by([10, 10, 10], [11, 11, 11], "lower"), 0.1)
        self.assertAlmostEqual(stats.worse_by([10, 10, 10], [11, 11, 11], "higher"), -0.1)

    def test_wins_counts_pairs_and_not_ties(self):
        self.assertEqual(stats.wins([10, 10, 10, 10], [9, 11, 10, 8], "lower"), 0.5)
        self.assertEqual(stats.wins([10, 10, 10, 10], [9, 11, 10, 8], "higher"), 0.25)

    def test_overhead_cancels_linear_drift(self):
        # untraced passes speed up by 1 s per pass; traced ones cost 10% more
        units = [(10.0 - i + (0.1 * (10.0 - i) if i % 2 else 0.0), i % 2 == 1) for i in range(5)]
        self.assertAlmostEqual(stats.overhead(units), 0.1)
        self.assertEqual(stats.overhead([(1.0, False)]), 0.0)

    def test_verdict(self):
        parent = [10.0, 10.1, 9.9, 10.0, 10.05]
        self.assertEqual(stats.verdict(parent, [10.5] * 5, "lower", 0.1), "ok")
        self.assertEqual(stats.verdict(parent, [11.2] * 5, "lower", 0.1), "regressed")
        noisy = [5.0, 10.0, 15.0, 8.0, 12.0]
        self.assertEqual(stats.verdict(noisy, [10.0] * 5, "lower", 0.1), "unresolved")
        self.assertEqual(stats.verdict(noisy, [4.0] * 5, "lower", 0.1), "ok")


class InterleavedAB(unittest.TestCase):
    def test_sides_alternate_which_runs_first(self):
        calls = []
        fake = {"metrics": {"setup_s": {"value": 1.0, "unit": "s"}}}

        def run_once(root, workload, seed):
            calls.append((os.path.basename(root), seed))
            return fake
        bench = {"end_to_end": [{"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}]}
        saved = repeat.run_once, repeat.spec, sys.argv
        with tempfile.TemporaryDirectory() as t:
            os.makedirs(f"{t}/parent")
            try:
                repeat.run_once, repeat.spec = run_once, lambda root: bench
                sys.argv = ["repeat.py", "--workload", "batch", "--seeds", "1-3",
                            "--against", f"{t}/parent"]
                with open(os.devnull, "w") as null, contextlib.redirect_stdout(null):
                    repeat.main()
            finally:
                repeat.run_once, repeat.spec, sys.argv = saved
        here = os.path.basename(os.getcwd())
        self.assertEqual(calls, [("parent", 1), (here, 1), (here, 2), ("parent", 2),
                                 ("parent", 3), (here, 3)])


class StreamSchedule(unittest.TestCase):
    KW = dict(rate=200, open_seconds=2, warm=50, burst=100, bursts=2)

    def test_phases_and_open_loop_due_times(self):
        rows = gen.stream_schedule(7, **self.KW)
        phases = [r[1] for r in rows]
        self.assertEqual(phases.count(0), 50)
        self.assertEqual(phases.count(1), 400)
        self.assertEqual(phases.count(2), 100)
        self.assertEqual(phases.count(3), 100)
        due = [r[2] for r in rows if r[1] == 1]
        self.assertEqual(due[0], 0)
        self.assertEqual(due, sorted(due))
        self.assertEqual(due[-1], 399 * 1000 // 200)   # 200 events/s
        self.assertTrue(all(r[2] == -1 for r in rows if r[1] != 1))

    def test_late_event_shape(self):
        rows = gen.stream_schedule(7, **self.KW)
        prev_max = 0
        for i, r in enumerate(rows):
            lateness = prev_max - r[3]
            if i % 10 == 0 and i > 0:
                self.assertGreater(lateness, 0)
                self.assertLessEqual(lateness, 10000)   # 1-10 s late, under the 11 s watermark
            elif i % 10:
                self.assertLessEqual(lateness, 0)       # on time: event time only moves forward
            prev_max = max(prev_max, r[3])

    def test_repeats_stay_inside_the_dedup_horizon(self):
        rows = gen.stream_schedule(7, **self.KW)
        first = {}
        for r in rows:
            fp = frozenset(r[6].split(" "))    # the dedup fingerprint is the word set
            first.setdefault(fp, r[3])
            self.assertLess(abs(r[3] - first[fp]), 60000)

    def test_seeded(self):
        self.assertEqual(gen.stream_schedule(3, **self.KW), gen.stream_schedule(3, **self.KW))
        self.assertNotEqual(gen.stream_schedule(3, **self.KW), gen.stream_schedule(4, **self.KW))


class SeededInputs(unittest.TestCase):
    def digest(self, d):
        h = hashlib.sha256()
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            gen.gen_star(f"{t}/a", 5)
            gen.gen_star(f"{t}/b", 5)
            gen.gen_star(f"{t}/c", 6)
            gen.gen_corpus(f"{t}/d", 5, 200)
            gen.gen_corpus(f"{t}/e", 5, 200)
            self.assertEqual(self.digest(f"{t}/a"), self.digest(f"{t}/b"))
            self.assertNotEqual(self.digest(f"{t}/a"), self.digest(f"{t}/c"))
            self.assertEqual(self.digest(f"{t}/d"), self.digest(f"{t}/e"))


if __name__ == "__main__":
    unittest.main()
