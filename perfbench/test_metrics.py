"""Tests for the benchmark's own arithmetic. Run: python3 perfbench/test_metrics.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_leaving_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        v, p, beyond, n = metrics.tail(xs)
        self.assertEqual((p, v, beyond, n), (90.0, 90, 10, 100))

    def test_p95_needs_two_hundred_samples(self):
        self.assertEqual(metrics.tail(range(200))[1], 95.0)
        self.assertEqual(metrics.tail(range(199))[1], 90.0)

    def test_small_sample_falls_back_to_median_rank(self):
        v, p, beyond, n = metrics.tail([5, 1, 3])
        self.assertEqual((p, v, beyond, n), (50.0, 3, 1, 3))

    def test_exactly_twenty_gives_p50_with_ten_beyond(self):
        v, p, beyond, _ = metrics.tail(range(20))
        self.assertEqual((p, v, beyond), (50.0, 9, 10))

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([3, 1, 2] * 20), metrics.tail(sorted([3, 1, 2] * 20)))


class UnionTest(unittest.TestCase):
    def test_overlaps_merge_and_gaps_do_not(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.union_ms([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipping_to_window(self):
        self.assertEqual(metrics.union_ms([(-5, 5), (8, 30)], 0, 10), 7)

    def test_empty(self):
        self.assertEqual(metrics.union_ms([]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_part(self):
        # a 100 ms query with two overlapping jobs covering 30..70
        self.assertEqual(metrics.self_ms((0, 100), [(30, 60), (50, 70)]), 60)

    def test_children_outside_are_ignored(self):
        self.assertEqual(metrics.self_ms((0, 100), [(90, 150), (-20, 10)]), 80)


class AttributionTest(unittest.TestCase):
    def test_first_graft_frame_names_the_module(self):
        cs = ("org.apache.spark.sql.Dataset.collect(Dataset.scala:3)\n"
              "graft.operators.Dedup$.run(Dedup.scala:10)\n"
              "graft.queries.Text$.$anonfun$q1$1(Text.scala:5)\n"
              "perfbench.Harness$.runQueries(Harness.scala:9)")
        self.assertEqual(metrics.module_of(cs), "operators")

    def test_top_level_object_is_graft(self):
        self.assertEqual(metrics.module_of("graft.Tables$.apply(Tables.scala:1)"), "graft")

    def test_benchmark_frame_is_force(self):
        cs = "org.apache.spark.sql.Dataset.collect(Dataset.scala:3)\nperfbench.Harness$.x(Harness.scala:9)"
        self.assertEqual(metrics.module_of(cs), "force")

    def test_loader_prefixed_frames(self):
        self.assertEqual(metrics.module_of("app//graft.streaming.WindowJoin$.f(W.scala:2)"), "streaming")

    def test_no_own_frame_is_other(self):
        cs = "org.apache.spark.sql.execution.streaming.MicroBatchExecution.run(M.scala:1)"
        self.assertEqual(metrics.module_of(cs), "other")

    def test_streaming_query_job_is_streaming_whatever_its_call_site(self):
        # a micro-batch job carries the call site of the query's start()
        job = {"callsite": "perfbench.Harness$.runStream(Harness.scala:9)", "streaming": True}
        self.assertEqual(metrics.job_module(job, {}), "streaming")


    def test_pool_thread_job_takes_its_sql_execution_call_site(self):
        pool = "java.base/java.lang.Thread.run(Thread.java:840)"
        execs = {"7": "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\ngraft.operators.Dedup$.f(D.scala:2)"}
        job = {"callsite": pool, "streaming": False, "execution": "7"}
        self.assertEqual(metrics.job_module(job, execs), "operators")
        self.assertEqual(metrics.job_module(dict(job, execution=None), execs), "other")
        own = {"callsite": "graft.queries.Text$.q(T.scala:1)", "streaming": False, "execution": "7"}
        self.assertEqual(metrics.job_module(own, execs), "queries")


class FailRatioTest(unittest.TestCase):
    def test_exceptions_and_wrong_outputs_both_count(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True, "checked_ok": False}, {"ok": True, "checked_ok": True}]
        self.assertEqual(metrics.fail_ratio(ops), (0.5, 2, 4))

    def test_all_good(self):
        self.assertEqual(metrics.fail_ratio([{"ok": True}] * 3), (0.0, 0, 3))

    def test_nothing_attempted_is_a_failure(self):
        self.assertEqual(metrics.fail_ratio([])[0], 1.0)


class ClassMeanTest(unittest.TestCase):
    def test_geometric_mean_of_class_medians(self):
        by = {"a": [1.0, 2.0, 100.0], "b": [8.0]}  # medians 2 and 8
        self.assertAlmostEqual(metrics.class_gmean(by), 4.0)

    def test_each_class_weighs_the_same(self):
        self.assertAlmostEqual(metrics.class_gmean({"a": [1.0] * 50, "b": [4.0]}), 2.0)

    def test_slowing_one_class_moves_the_result_by_its_share(self):
        base = {"a": [1.0, 1.0], "b": [2.0, 2.0], "c": [3.0, 3.0]}
        slow = dict(base, b=[2.0 * 1.331, 2.0 * 1.331])
        self.assertAlmostEqual(metrics.class_gmean(slow) / metrics.class_gmean(base), 1.1)


class PassOrderTest(unittest.TestCase):
    def test_groups_alternate_then_the_rest(self):
        import run
        self.assertEqual(run.interleave([["s1", "s2", "s3"], ["c1"]]), ["s1", "c1", "s2", "s3"])

    def test_a_pass_holds_every_query_once_and_the_seed_fixes_it(self):
        import run
        names = [f"s{i}" for i in range(7)] + [f"c{i}" for i in range(4)]
        group = {n: "sql" if n[0] == "s" else "curation" for n in names}
        order = run.pass_order(5, "batch", names, group)
        self.assertEqual(sorted(order), sorted(names))
        self.assertEqual(order, run.pass_order(5, "batch", names, group))
        self.assertEqual([group[n] for n in order[:8]], ["sql", "curation"] * 4)


class ParentTest(unittest.TestCase):
    def test_innermost_containing_span(self):
        spans = [("run", 0, 100), ("pass", 10, 90), ("q1", 20, 30)]
        self.assertEqual(metrics.parent_of(25, spans), "q1")
        self.assertEqual(metrics.parent_of(50, spans), "pass")
        self.assertIsNone(metrics.parent_of(150, spans))


if __name__ == "__main__":
    unittest.main()
