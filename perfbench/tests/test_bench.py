"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 100), 100)
        self.assertEqual(metrics.percentile([7], 90), 7)
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)

    def test_empty_sample_raises(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_ten_samples_beyond_rule(self):
        self.assertEqual(metrics.samples_beyond(100, 90), 10)
        self.assertTrue(metrics.tail_ok(100, 90))
        self.assertFalse(metrics.tail_ok(99, 90))
        self.assertTrue(metrics.tail_ok(20, 50))
        self.assertFalse(metrics.tail_ok(19, 50))
        self.assertFalse(metrics.tail_ok(999, 99))

    def test_quartiles_match_statistics(self):
        self.assertEqual(metrics.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (1.5, 3.0, 4.5))
        self.assertEqual(metrics.quartiles([7.0]), (7.0, 7.0, 7.0))


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [{"id": "p", "parent": None, "start": 0, "end": 10},
                 {"id": "a", "parent": "p", "start": 1, "end": 4},
                 {"id": "b", "parent": "p", "start": 6, "end": 8}]
        self.assertEqual(metrics.self_times(spans), {"p": 5, "a": 3, "b": 2})

    def test_overlapping_children_count_once(self):
        spans = [{"id": "p", "parent": None, "start": 0, "end": 10},
                 {"id": "a", "parent": "p", "start": 1, "end": 6},
                 {"id": "b", "parent": "p", "start": 4, "end": 8}]
        self.assertEqual(metrics.self_times(spans)["p"], 3)

    def test_child_outside_parent_is_clipped(self):
        spans = [{"id": "p", "parent": None, "start": 0, "end": 10},
                 {"id": "a", "parent": "p", "start": 8, "end": 15}]
        self.assertEqual(metrics.self_times(spans)["p"], 8)

    def test_assign_innermost_parent(self):
        cands = [{"id": "q", "start": 0, "end": 10}, {"id": "c", "start": 0, "end": 4},
                 {"id": "s", "start": 4, "end": 10}]
        jobs = [{"id": "j1", "start": 1}, {"id": "j2", "start": 5}, {"id": "j3", "start": 11}]
        metrics.assign_parents(jobs, cands)
        self.assertEqual([j["parent"] for j in jobs], ["c", "s", None])


BPE_SITE = """org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)
graft.operators.Bpe$.learn(Bpe.scala:120)
graft.queries.TextQueries$.$anonfun$queries$5(TextQueries.scala:40)
perfbench.Batch$.$anonfun$run$4(Harness.scala:174)"""
AQE_SITE = """org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)
java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)
java.base/java.lang.Thread.run(Thread.java:840)"""
SINK_SITE = """org.apache.spark.sql.classic.DataFrameWriter.save(DataFrameWriter.scala:1)
perfbench.Batch$.$anonfun$run$4(Harness.scala:176)"""
CKPT_SITE = """org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)
graft.operators.GraphAlgorithms$.kCore(GraphAlgorithms.scala:88)"""


class AttributionTest(unittest.TestCase):
    def test_nearest_graft_frame(self):
        self.assertEqual(metrics.attribute(BPE_SITE), ("operators", "Bpe"))
        self.assertEqual(metrics.attribute(
            "x.y(Z.scala:1)\ngraft.core.Tables$.read(Tables.scala:23)"), ("core", "Tables"))
        self.assertEqual(metrics.attribute(
            "graft.SparkEntry$.entry(SparkEntry.scala:21)"), ("core", "SparkEntry"))

    def test_async_job_uses_sql_execution_site(self):
        self.assertEqual(metrics.attribute(AQE_SITE), ("spark", None))
        self.assertEqual(metrics.attribute(AQE_SITE, BPE_SITE), ("operators", "Bpe"))

    def test_benchmark_sink_is_queries(self):
        self.assertEqual(metrics.attribute(SINK_SITE), ("queries", None))
        self.assertEqual(metrics.attribute(SINK_SITE, BPE_SITE), ("queries", None))

    def test_micro_batch_job_is_streaming(self):
        start = "x.DataStreamWriter.start(DataStreamWriter.scala:137)\nperfbench.Serve$.drain(Harness.scala:246)"
        self.assertEqual(metrics.attribute(start, start, in_stream=True), ("streaming", None))
        self.assertEqual(metrics.attribute(BPE_SITE, "", in_stream=True), ("operators", "Bpe"))

    def test_checkpoint_jobs(self):
        self.assertTrue(metrics.is_checkpoint(CKPT_SITE))
        self.assertFalse(metrics.is_checkpoint(BPE_SITE))
        self.assertFalse(metrics.is_checkpoint(""))


class StaleReadTest(unittest.TestCase):
    # response of one key after 0, 1, 2, 3 commits
    EXPECTED = ["v0", "v1", "v2", "v3"]

    def test_versions_at(self):
        starts, ends = [10, 20, 30], [15, 25, 35]
        self.assertEqual(metrics.versions_at(ends, starts, 16, 19), (1, 1))
        self.assertEqual(metrics.versions_at(ends, starts, 16, 21), (1, 2))
        self.assertEqual(metrics.versions_at(ends, starts, 0, 5), (0, 0))

    def test_fresh_read_is_ok(self):
        self.assertEqual(metrics.check_read(self.EXPECTED, "v2", 2, 2), "ok")

    def test_read_during_commit_may_see_either_side(self):
        self.assertEqual(metrics.check_read(self.EXPECTED, "v1", 1, 2), "ok")
        self.assertEqual(metrics.check_read(self.EXPECTED, "v2", 1, 2), "ok")

    def test_older_version_after_commit_is_stale(self):
        self.assertEqual(metrics.check_read(self.EXPECTED, "v1", 2, 2), "stale")

    def test_unknown_response_is_wrong(self):
        self.assertEqual(metrics.check_read(self.EXPECTED, "v9", 2, 3), "wrong")

    def test_check_reads_against_truth(self):
        rows = lambda *rs: [dict(zip(("user_id", "ts", "event_id", "event_type", "value"), r))
                            for r in rs]
        truth = oracle.Truth([rows((1, 1, 10, "view", 30.0), (2, 1, 11, "click", 60.0)),
                              rows((1, 2, 12, "click", 5.0)),   # tombstones user 1
                              rows((2, 3, 13, "view", 25.0))])
        self.assertEqual(truth.kv(0, 1), 10)
        self.assertIsNone(truth.kv(1, 1))
        self.assertEqual(truth.index(2, "view", 0), [[2, 13]])
        commits = [{"start": 100, "end": 110}, {"start": 200, "end": 210}]
        reads = [
            {"route": "kv", "arg": 1, "start": 50, "end": 60, "status": 200, "result": 10},
            {"route": "kv", "arg": 1, "start": 120, "end": 130, "status": 200, "result": 10},
            {"route": "kv", "arg": 1, "start": 120, "end": 130, "status": 404, "result": None},
            {"route": "index", "arg": ["view", 0], "start": 205, "end": 215, "status": 200,
             "result": [[3, 99]]},
            {"route": "kv", "arg": 2, "start": 220, "end": 230, "status": 500, "result": "x"},
        ]
        counts, bad = oracle.check_reads(truth, reads, commits)
        self.assertEqual(counts, {"ok": 2, "stale": 1, "wrong": 1, "error": 1})
        self.assertEqual([b["verdict"] for b in bad], ["stale", "wrong", "error"])


class CompareTest(unittest.TestCase):
    def test_clear_gain_is_improved(self):
        parent = [10.0 + 0.1 * (i % 3) for i in range(10)]
        change = [8.0 + 0.1 * (i % 3) for i in range(10)]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)["verdict"], "improved")
        self.assertEqual(compare.verdict(change, parent, "higher", 0.1)["verdict"], "improved")

    def test_needs_ten_pairs(self):
        v = compare.verdict([10.0, 10.1, 10.2], [8.0, 8.1, 8.2], "lower", 0.1)
        self.assertEqual(v["verdict"], "too few pairs")

    def test_regression_beyond_bound(self):
        parent = [10.0 + 0.1 * (i % 3) for i in range(10)]
        change = [12.0 + 0.1 * (i % 3) for i in range(10)]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)["verdict"], "regression")

    def test_wide_spread_is_unresolved(self):
        parent = [5.0, 15.0] * 5
        change = [6.0, 14.0] * 5
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)["verdict"], "unresolved")

    def test_win_rate_below_nine_tenths_is_not_a_gain(self):
        parent = [10.0] * 10
        change = [9.0] * 8 + [10.5] * 2
        self.assertNotEqual(compare.verdict(parent, change, "lower", 0.1)["verdict"], "improved")

    def test_runs_pair_by_seed(self):
        def run(seed, value, t):
            return {"provenance": {"workload": "w", "seed": seed}, "finished": t,
                    "metrics": {"pass_s": value}}
        parent = [run(2, 20.0, 1), run(1, 10.0, 2), run(3, 30.0, 3)]
        change = [run(1, 11.0, 4), run(2, 21.0, 5), run(4, 41.0, 6)]
        pv, cv, unpaired = compare.paired(parent, change, "w", "pass_s")
        self.assertEqual((pv, cv, unpaired), ([10.0, 20.0], [11.0, 21.0], 2))


if __name__ == "__main__":
    unittest.main()
