"""Self-tests for the benchmark's own helpers.

    python3 perfbench/selftest.py          # helpers + a tiny Spark run
    python3 perfbench/selftest.py Pure     # helpers only, no Spark

The Spark cases run one tiny instance of each flow and check that the
generators' expected outcomes match what the library actually did.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import procs  # noqa: E402
import run  # noqa: E402
from spans import Span, percentile_with_tail, self_time, union_length  # noqa: E402
from workloads import OpRecord  # noqa: E402


class Pure(unittest.TestCase):
    def test_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(percentile_with_tail(list(range(19))))
        self.assertEqual(percentile_with_tail(list(range(1, 21))), (50, 10))
        self.assertEqual(percentile_with_tail(list(range(1, 100)))[0], 50)
        self.assertEqual(percentile_with_tail(list(range(1, 101))), (90, 90))
        self.assertEqual(percentile_with_tail(list(range(1, 1001))), (99, 990))

    def test_union_length_merges_overlaps(self):
        self.assertEqual(union_length([]), 0.0)
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertEqual(union_length([(0, 10), (2, 3)]), 10.0)

    def test_self_time_subtracts_covered_child_time(self):
        parent = Span(1, None, "op", 0.0, 10.0)
        kids = [Span(2, 1, "a", 1.0, 4.0), Span(3, 1, "b", 3.0, 5.0), Span(4, 1, "c", 9.0, 12.0)]
        # children cover [1, 5] and [9, 10] inside the parent: 5 s
        self.assertEqual(self_time(parent, kids), 5.0)
        self.assertEqual(self_time(parent, []), 10.0)

    def test_trace_blocks_balance_traced_and_untraced(self):
        for cycle in (1, 2, 3, 4, 7):
            block = run.trace_block(cycle)
            flags = [run.is_traced(j, cycle) for j in range(2 * block)]
            self.assertEqual(flags[:block], flags[block:])
            self.assertEqual(sum(flags[:block]), block // 2)
            self.assertFalse(flags[0])  # untraced first ...
            self.assertFalse(flags[block - 1])  # ... and last
            for pos in range(cycle):  # each position traced as often as not
                at = flags[pos:block:cycle]
                self.assertEqual(at.count(True), at.count(False))
        self.assertEqual([run.is_traced(j, 1) for j in range(4)], [False, True, True, False])

    def test_position_p50_takes_per_position_medians_first(self):
        def rec(wall, traced=False, ok=True):
            return OpRecord("q", wall, 1, ok, traced)

        # two passes over three queries; the first pass is slow
        recs = [rec(9.0), rec(5.0), rec(1.0), rec(3.0), rec(4.0), rec(2.0)]
        # per query: median(9, 3) = 6, median(5, 4) = 4.5, median(1, 2) = 1.5
        self.assertEqual(run.position_p50(recs, 3, traced=False), 4.5)
        recs[1] = rec(5.0, ok=False)  # failed operations are left out
        self.assertEqual(run.position_p50(recs, 3, traced=False), 4.0)
        recs = [rec(1.0), rec(2.0, True), rec(3.0, True), rec(4.0)]
        self.assertEqual(run.position_p50(recs, 2, traced=True), 2.5)
        self.assertEqual(run.position_p50(recs, 2, traced=False), 2.5)

    def test_cycle_p50_sums_whole_successful_untraced_cycles(self):
        recs = [OpRecord("q", 1.0, 1, True, cpu_s=2.0) for _ in range(6)]
        recs[4].cpu_s = 5.0
        self.assertEqual(run.cycle_p50(recs, 3, field="cpu_s"), 7.5)  # median(6, 9)
        self.assertEqual(run.position_p50(recs, 3, traced=False, field="cpu_s"), 2.0)
        recs[0].ok = False  # a cycle with a failed operation is left out
        self.assertEqual(run.cycle_p50(recs, 3, field="cpu_s"), 9.0)
        recs[3].traced = True
        self.assertEqual(run.cycle_p50(recs, 3), 0.0)

    def test_process_tree_is_found_and_reaped(self):
        child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
        self.assertIn(child.pid, procs.descendants(os.getpid()))
        procs.reap_all(timeout=0.2)  # kills the child once the timeout passed
        self.assertNotIn(child.pid, procs.descendants(os.getpid()))
        c0, t0 = procs.tree_cpu_s(), time.process_time()
        while time.process_time() - t0 < 0.3:
            pass
        self.assertGreater(procs.tree_cpu_s() - c0, 0.2)

    def test_tracing_overhead_cancels_drift(self):
        # every cycle runs 20% faster than the one before; tracing adds 10%
        for cycle in (1, 3, 4):
            recs = []
            for j in range(2 * run.trace_block(cycle)):
                traced = run.is_traced(j, cycle)
                wall = (j % cycle + 1) * 0.8 ** (j // cycle) * (1.1 if traced else 1.0)
                recs.append(OpRecord("op", wall, 1, True, traced))
            self.assertAlmostEqual(run.tracing_overhead(recs, cycle), 1.1)

    def test_acled_feed_is_deterministic_per_seed(self):
        def run(seed):
            feed = gen.AcledFeed(seed, day_rows=(50, 80))
            return [(b.day, b.version, b.rows) for b in (feed.next_batch() for _ in range(7))]

        self.assertEqual(run(1), run(1))
        self.assertNotEqual(run(1), run(2))
        batches = run(1)
        self.assertEqual([v for _, v, _ in batches].count(0), 7 - 7 // gen.REPLAY_EVERY)
        sizes = {len(r) for d, v, r in batches if v == 0}
        self.assertGreater(len(sizes), 1)  # day sizes vary

    def test_replay_corrects_rows_and_keeps_keys(self):
        feed = gen.AcledFeed(4, day_rows=(200, 200))
        fresh = {b.day: b for b in (feed.next_batch() for _ in range(gen.REPLAY_EVERY - 1))}
        replay = feed.next_batch()
        self.assertEqual(replay.version, 1)
        self.assertLess(fresh[replay.day].keys, replay.keys)  # late events added
        self.assertTrue(any("corrected" in r["notes"] for r in replay.rows))
        self.assertEqual(feed.expected[replay.day], {r["event_id_cnty"]: r for r in replay.rows})

    def test_fetcher_pages_through_a_day(self):
        feed = gen.AcledFeed(5, page_size=30, day_rows=(95, 95))
        batch = feed.next_batch()
        pages = []
        fetch = feed.fetcher(batch, pages)
        rows = []
        for page in range(1, 10):
            chunk = fetch(batch.day, page, 1000, {})
            rows += chunk
            if len(chunk) < 30:
                break
        self.assertEqual(rows, batch.rows)
        self.assertEqual(pages, [1, 2, 3, 4])

    def test_releases_are_deterministic_and_consistent(self):
        def run(seed):
            rel = gen.DocumentReleases(seed, n_docs=400)
            return [rel.next_release() for _ in range(3)]

        a, b = run(7), run(7)
        self.assertEqual([r.docs for r in a], [r.docs for r in b])
        self.assertNotEqual([r.docs for r in a], [r.docs for r in run(8)])
        prev = gen.DocumentReleases(7, n_docs=400).base
        for r in a:
            ids_before, ids_after = {d[0] for d in prev}, {d[0] for d in r.docs}
            c = r.status_counts
            self.assertEqual(c["added"], len(ids_after - ids_before))
            self.assertEqual(c["removed"], len(ids_before - ids_after))
            self.assertEqual(c["changed"] + c["unchanged"], len(ids_before & ids_after))
            texts = [d[1] for d in r.docs]
            for doc_id, text, *_ in r.docs:
                if doc_id in r.planted_dups:
                    self.assertGreater(texts.count(text), 1)
            prev = r.docs
        first = [d[1] for d in a[0].docs]
        self.assertEqual(len(first) - len(set(first)), len(a[0].planted_dups))

    def test_analytics_tables_are_deterministic(self):
        import pyarrow.parquet as pq

        d1, d2 = tempfile.mkdtemp(), tempfile.mkdtemp()
        try:
            n1 = gen.write_analytics_tables(3, d1, 0.001)
            n2 = gen.write_analytics_tables(3, d2, 0.001)
            self.assertEqual(n1, n2)
            for f in sorted(os.listdir(d1)):
                t1, t2 = pq.read_table(os.path.join(d1, f)), pq.read_table(os.path.join(d2, f))
                self.assertTrue(t1.equals(t2), f)
                self.assertEqual(t1.num_rows, n1[f[: -len(".parquet")]])
        finally:
            shutil.rmtree(d1)
            shutil.rmtree(d2)


class TinyRun(unittest.TestCase):
    """The generators' expected outcomes against the real flows."""

    @classmethod
    def setUpClass(cls):
        sys.path.insert(0, os.path.dirname(HERE))
        from acled_spark.session import get_spark

        cls.tmp = tempfile.mkdtemp()
        cls.spark = get_spark(
            app_name="perfbench-selftest", master="local[2]", shuffle_partitions=2,
            extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
        )

    @classmethod
    def tearDownClass(cls):
        run._stop_spark(cls.spark)
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def test_daily_feed_matches_silver(self):
        from workloads import DailyElt

        wl = DailyElt(self.spark, os.path.join(self.tmp, "daily"), 1)
        wl.prepare()
        wl.feed = gen.AcledFeed(1, day_rows=(60, 90))
        recs = [wl.op() for _ in range(4)]
        kinds = ["replay" if i % gen.REPLAY_EVERY == 0 else "fresh" for i in range(1, 5)]
        self.assertEqual([r.kind for r in recs], kinds)
        self.assertTrue(all(r.ok for r in recs), [r.problem for r in recs])
        self.assertEqual(wl.verify(recs), [])

    def test_release_matches_expected_counts(self):
        from workloads import CorpusReleaseFlow

        wl = CorpusReleaseFlow(self.spark, os.path.join(self.tmp, "release"), 1)
        wl.n_docs = 200
        os.makedirs(wl.work_dir)
        wl.prepare()
        recs = [wl.op() for _ in range(2)]
        self.assertTrue(all(r.ok for r in recs), [r.problem for r in recs])


if __name__ == "__main__":
    unittest.main()
