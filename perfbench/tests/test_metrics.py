"""Tests of the benchmark's helper functions.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir))
import lakehouse  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir,
                        "fixtures", "sf0.1")


class UnionTest(unittest.TestCase):
    def test_disjoint_intervals_add_up(self):
        self.assertAlmostEqual(metrics.union_length([(0, 1), (2, 4)]), 3.0)

    def test_overlapping_jobs_count_once(self):
        # three jobs of an overlap pool run concurrently inside [1, 4]
        jobs = [(1.0, 3.0), (1.5, 4.0), (2.0, 2.5), (6.0, 7.0)]
        self.assertAlmostEqual(metrics.union_length(jobs), 4.0)

    def test_nested_and_empty_intervals(self):
        self.assertAlmostEqual(metrics.union_length([(0, 10), (2, 3), (5, 5)]), 10.0)
        self.assertEqual(metrics.union_length([]), 0.0)

    def test_driver_only_never_negative_under_concurrency(self):
        # summing these durations gives 9 s of "job time" in a 5 s window,
        # which is how a sum-based driver gap goes negative
        jobs = [(0.0, 3.0), (0.0, 3.0), (0.0, 3.0)]
        busy, driver_only = metrics.busy_and_driver_only((0.0, 5.0), jobs)
        self.assertAlmostEqual(busy, 3.0)
        self.assertAlmostEqual(driver_only, 2.0)
        self.assertAlmostEqual(busy + driver_only, 5.0)

    def test_jobs_are_clipped_to_the_window(self):
        busy, driver_only = metrics.busy_and_driver_only(
            (1.0, 4.0), [(0.0, 2.0), (3.5, 9.0)])
        self.assertAlmostEqual(busy, 1.5)
        self.assertAlmostEqual(driver_only, 1.5)

    def test_window_fully_covered(self):
        busy, driver_only = metrics.busy_and_driver_only((0.0, 2.0), [(-1.0, 3.0)])
        self.assertAlmostEqual(busy, 2.0)
        self.assertEqual(driver_only, 0.0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_part(self):
        span = {"t0": 0.0, "t1": 10.0}
        kids = [{"t0": 1.0, "t1": 3.0}, {"t0": 2.0, "t1": 4.0}, {"t0": 8.0, "t1": 12.0}]
        # children cover [1, 4] and [8, 10] of the span
        self.assertAlmostEqual(metrics.self_time(span, kids), 5.0)

    def test_no_children(self):
        self.assertAlmostEqual(metrics.self_time({"t0": 2.0, "t1": 3.5}, []), 1.5)


class AttributionTest(unittest.TestCase):
    spans = [
        {"id": 0, "kind": "workload", "t0": 0.0, "t1": 10.0},
        {"id": 1, "kind": "item", "t0": 1.0, "t1": 4.0},
        {"id": 2, "kind": "build", "t0": 1.0, "t1": 2.0},
        {"id": 3, "kind": "sink", "t0": 2.0, "t1": 4.0},
        {"id": 4, "kind": "item", "t0": 5.0, "t1": 6.0},
    ]

    def test_job_goes_to_innermost_containing_span(self):
        self.assertEqual(metrics.attribute(1.5, self.spans)["id"], 2)
        self.assertEqual(metrics.attribute(3.0, self.spans)["id"], 3)
        self.assertEqual(metrics.attribute(5.5, self.spans)["id"], 4)

    def test_job_between_items_goes_to_workload(self):
        self.assertEqual(metrics.attribute(4.5, self.spans)["id"], 0)

    def test_job_outside_every_span(self):
        self.assertIsNone(metrics.attribute(11.0, self.spans))


class TailTest(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        s = metrics.percentile_summary(xs)
        self.assertEqual(s["tail"], 90)  # 91..100 lie beyond it
        self.assertEqual(s["tail_pct"], 90.0)
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["p50"], 50.5)

    def test_tail_with_exactly_eleven_samples_is_the_minimum(self):
        s = metrics.percentile_summary([5.0] + [9.0] * 10)
        self.assertEqual(s["tail"], 5.0)

    def test_too_few_samples_fall_back_to_the_maximum(self):
        s = metrics.percentile_summary([3.0, 1.0, 2.0])
        self.assertEqual(s["tail"], 3.0)
        self.assertEqual(s["tail_pct"], 100.0)
        self.assertIsNone(metrics.tail_index(10))
        self.assertEqual(metrics.tail_index(11), 0)

    def test_order_does_not_matter(self):
        xs = [0.3, 2.0, 0.1, 1.5, 0.7] * 5
        self.assertEqual(metrics.percentile_summary(xs),
                         metrics.percentile_summary(sorted(xs)))


class AmplificationTest(unittest.TestCase):
    def test_write_amp(self):
        self.assertAlmostEqual(metrics.write_amp(5_000_000, 250_000), 20.0)
        self.assertIsNone(metrics.write_amp(10, 0))

    def test_space_amp(self):
        self.assertAlmostEqual(metrics.space_amp(30_000_000, 10_000_000), 3.0)
        self.assertIsNone(metrics.space_amp(10, 0))



class StreamTest(unittest.TestCase):
    def batch(self, run_id, t0, trigger, add, rows, mem):
        return {"run_id": run_id, "t0": t0, "state_rows": rows, "state_mem_bytes": mem,
                "state_commit_ms": 10,
                "duration_ms": {"triggerExecution": trigger, "addBatch": add}}

    def test_phases_state_and_time_outside_batches(self):
        batches = [self.batch("a", 1.0, 1500, 1000, 5, 2**20),
                   self.batch("a", 3.0, 500, 200, 7, 2**21),
                   self.batch("b", 2.0, 1000, 800, 3, 2**20)]
        out = metrics.stream_layer(batches, 4.0)
        self.assertEqual(out["stream.batches"], 3)
        self.assertAlmostEqual(out["stream.addBatch_s"], 2.0)
        self.assertAlmostEqual(out["stream.walCommit_s"], 0.0)
        self.assertAlmostEqual(out["stream.outside_batch_s"], 1.0)
        # each query's last batch: a's second one and b's only one
        self.assertEqual(out["stream.state_rows"], 10)
        self.assertAlmostEqual(out["stream.state_mem_mb"], 3.0)
        self.assertAlmostEqual(out["stream.state_commit_s"], 0.03)

    def test_no_batches(self):
        out = metrics.stream_layer([], 2.0)
        self.assertEqual(out["stream.batches"], 0)
        self.assertEqual(out["stream.outside_batch_s"], 0.0)

    def test_rate(self):
        self.assertAlmostEqual(metrics.rate(300, 1.5), 200.0)
        self.assertEqual(metrics.rate(5, 0.0), 0.0)


class OracleCompareTest(unittest.TestCase):
    expected = {"cols": [{"name": "k", "cat": "num"}, {"name": "s", "cat": "str"}],
                "fp": {"n": 3.0, "nn_0": 3.0, "v_0": 6.0, "nn_1": 2.0, "v_1": 7.0}}

    def test_columns_match_by_name_in_any_order(self):
        schema = [{"name": "s", "cat": "str"}, {"name": "k", "cat": "num"}]
        fp = {"n": 3, "nn_0": 2, "v_0": 7.0, "nn_1": 3, "v_1": 6.0000000001}
        self.assertIsNone(oracle.compare(self.expected, schema, fp))

    def test_wrong_sum_is_reported(self):
        schema = [{"name": "k", "cat": "num"}, {"name": "s", "cat": "str"}]
        fp = {"n": 3, "nn_0": 3, "v_0": 6.5, "nn_1": 2, "v_1": 7.0}
        self.assertIn("column k", oracle.compare(self.expected, schema, fp))

    def test_wrong_row_count_is_reported(self):
        schema = [{"name": "k", "cat": "num"}, {"name": "s", "cat": "str"}]
        fp = {"n": 4, "nn_0": 3, "v_0": 6.0, "nn_1": 2, "v_1": 7.0}
        self.assertIn("rows", oracle.compare(self.expected, schema, fp))

    def test_rows_and_schema(self):
        schema = [{"name": "k", "cat": "num"}]
        self.assertIsNone(oracle.rows_and_schema(schema, {"n": 2}, None))
        self.assertEqual(oracle.rows_and_schema(schema, {"n": 0}, None), "no rows")
        self.assertIsNotNone(oracle.rows_and_schema(schema, {"n": 2}, [{"name": "x"}]))


class WorkloadTest(unittest.TestCase):
    def test_one_member_per_module_in_every_seed_order(self):
        for w in workloads.WORKLOADS:
            names = [m["name"] for m in workloads.member_plan(w, 1)]
            self.assertEqual(len(names), sum(len(g) for g in workloads.WORKLOADS[w]))
            self.assertEqual(sorted(names),
                             sorted(m["name"] for m in workloads.member_plan(w, 2)))

    def test_lakehouse_rounds_have_one_make_up(self):
        import collections
        import tempfile
        with tempfile.TemporaryDirectory() as work:
            ops, _, _ = lakehouse.make_plan(3, FIXTURES, work)
        for r in range(lakehouse.ROUNDS):
            mine = [op for op in ops if op["round"] == r]
            classes = collections.Counter(op["class"] for op in mine)
            self.assertEqual(classes["write"], len(lakehouse.WRITES))
            self.assertEqual(classes["read"], classes["write"])
            self.assertEqual(classes["maintenance"], 3)


if __name__ == "__main__":
    unittest.main()
