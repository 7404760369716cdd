"""Tests of the benchmark's own logic: span self time, the feed rates,
the percentile rule, the result digest and the seeded input generators.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
import metrics  # noqa: E402


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_ms((0, 10), []), 10)

    def test_nested_children(self):
        # a job inside the span, and a stage inside that job
        self.assertEqual(metrics.self_ms((0, 100), [(10, 40), (15, 20)]), 70)

    def test_overlapping_children_count_once(self):
        # two concurrent jobs: their union [10, 60) covers 50 ms
        self.assertEqual(metrics.self_ms((0, 100), [(10, 50), (30, 60)]), 50)

    def test_children_clipped_to_span(self):
        # a job that started before the execute span and one that ended after
        self.assertEqual(metrics.self_ms((100, 200), [(50, 120), (180, 260)]), 60)

    def test_disjoint_and_touching(self):
        self.assertEqual(metrics.union_ms([(0, 5), (5, 10), (20, 25)]), 15)

    def test_operation_reconciles(self):
        op = {"kind": "query", "start_ms": 0.0, "build_end_ms": 30.0, "end_ms": 100.0,
              "jobs": [{"start_ms": 10, "end_ms": 20, "stages": [1]},
                       {"start_ms": 40, "end_ms": 90, "stages": [2, 3]},
                       {"start_ms": 50, "end_ms": 95, "stages": [4]}],
              "stages": [dict(id=i, tasks=1, start_ms=a, end_ms=b, **STAGE)
                         for i, a, b in [(1, 11, 19), (2, 41, 60), (3, 60, 85), (4, 51, 94)]],
              "qes": [], "progress": []}
        m = metrics.op_layers(op)
        self.assertEqual(m["build_ms"] + (op["end_ms"] - op["build_end_ms"]), 100.0)
        self.assertEqual(m["build_jobs"], 1)
        self.assertEqual(m["self_ms.build"], 20.0)     # 30 ms minus the 10 ms job
        self.assertEqual(m["driver_gap_ms"], 15.0)     # 70 ms minus jobs' union [40, 95)
        self.assertEqual(m["self_ms.job"], 2 + 6 + 2)  # each job minus its stages
        self.assertEqual(m["jobs"], 3)
        self.assertEqual(m["single_task_stages"], 4)


STAGE = dict(task_run_ms=0, task_cpu_ns=0, task_deser_ms=0, gc_ms=0, result_bytes=0,
             shuffle_write_bytes=0, shuffle_read_bytes=0, shuffle_fetch_wait_ms=0,
             spill_mem_bytes=0, spill_disk_bytes=0, input_bytes=0, input_rows=0,
             output_bytes=0, output_rows=0, max_task_ms=0, failed_tasks=0,
             peak_exec_mem_bytes=0)


class FeedRateTest(unittest.TestCase):
    def test_rates_are_medians_over_the_given_passes(self):
        ops = [{"pass": p, "kind": k, "start_ms": 0.0, "end_ms": ms}
               for p, k, ms in [(2, "drain", 1000), (2, "append", 100),
                                (3, "drain", 2000), (3, "append", 200),
                                (4, "drain", 4000), (4, "append", 400)]]
        rates = metrics.feed_rates({"ops": ops}, [{"pass": 2}, {"pass": 3}, {"pass": 4}], 1000)
        self.assertEqual(rates, {"ingest_rows_per_s": 500.0, "append_rows_per_s": 5000.0})
        self.assertEqual(metrics.feed_rates({"ops": ops}, [{"pass": 2}], None), {})


class PercentileTest(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        self.assertIsNone(metrics.percentile(list(range(99)), 0.9))
        self.assertIsNotNone(metrics.percentile(list(range(100)), 0.9))

    def test_median_needs_one_sample(self):
        self.assertEqual(metrics.percentile([7.0], 0.5), 7.0)
        self.assertIsNone(metrics.percentile([], 0.5))

    def test_interpolates(self):
        self.assertAlmostEqual(metrics.percentile(list(range(101)), 0.9), 90.0)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 0.5), 2.5)


class DigestTest(unittest.TestCase):
    def test_order_independent(self):
        rows = [(1, "a", 2.5), (2, "b", None), (1, "a", 2.5)]
        self.assertEqual(metrics.digest(rows), metrics.digest(list(reversed(rows))))

    def test_multiset_sensitive(self):
        self.assertNotEqual(metrics.digest([(1,), (1,)]), metrics.digest([(1,)]))
        self.assertNotEqual(metrics.digest([(1.0,)]), metrics.digest([(1.0000001,)]))


class GeneratorTest(unittest.TestCase):
    def _files(self, seed):
        with tempfile.TemporaryDirectory() as d:
            feed, _, rows = gen.write_ingest_input(seed, d)
            return rows, {f: open(os.path.join(feed, f), "rb").read()
                          for f in sorted(os.listdir(feed))}

    def test_same_seed_same_bytes(self):
        self.assertEqual(self._files(5), self._files(5))

    def test_other_seed_other_values(self):
        self.assertNotEqual(gen.feed_table(5).column("raw"), gen.feed_table(6).column("raw"))

    def test_window_table_same_seed_same_bytes(self):
        def table_bytes(seed):
            with tempfile.TemporaryDirectory() as d:
                return open(gen.write_window_input(seed, d), "rb").read()
        self.assertEqual(table_bytes(5), table_bytes(5))
        self.assertNotEqual(table_bytes(5), table_bytes(6))

    def test_window_table_has_ties_and_null_runs(self):
        t = gen.window_table(5)
        self.assertEqual(t.num_rows, gen.WINDOW_ROWS)
        self.assertLess(len(t.column("ts").unique()), t.num_rows)
        self.assertGreater(t.column("raw").null_count, 0)

    def test_feed_is_poll_ordered(self):
        ts = gen.feed_table(5).column("ts").to_pylist()
        polls = gen.feed_table(5).column("poll").to_pylist()
        self.assertEqual(polls, sorted(polls))
        self.assertEqual(len(ts), gen.INGEST_POLLS * gen.INGEST_INVERTERS * 3)


if __name__ == "__main__":
    unittest.main()
