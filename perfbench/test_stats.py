"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import collections
import unittest

import numpy as np

import gen
import oracle
import stats


def span(i, parent, start, end, name="op", kind="k", compiles=0):
    return {"ev": "span", "span_rec": {"id": i, "parent": parent, "name": name, "kind": kind,
                                       "start": start, "end": end, "ok": True,
                                       "compiles": compiles}}


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_index(100), 89)
        self.assertEqual(stats.tail_index(1000), 989)
        # exactly ten samples lie above the chosen one
        n = 57
        self.assertEqual(n - 1 - stats.tail_index(n), 10)

    def test_short_runs_fall_back_to_the_median_sample(self):
        self.assertEqual(stats.tail_index(1), 0)
        self.assertEqual(stats.tail_index(20), 10)
        self.assertEqual(stats.tail_index(21), 10)
        self.assertEqual(stats.tail_index(22), 11)
        with self.assertRaises(ValueError):
            stats.tail_index(0)

    def test_tail_never_below_median(self):
        for n in range(1, 60):
            xs = list(range(n))
            p50, tail = stats.p50_and_tail(xs)
            self.assertGreaterEqual(tail, p50, n)


class UnionTest(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_clipping(self):
        self.assertEqual(stats.union_length([(-5, 5), (8, 20)], 0, 10), 7)
        self.assertEqual(stats.union_length([(11, 20)], 0, 10), 0)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children(self):
        spans = {s["span_rec"]["id"]: s["span_rec"] for s in [
            span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
            span(4, 1, 80, 120), span(5, 2, 15, 20)]}
        got = stats.self_times(spans)
        # children cover [10, 60] and [80, 100] inside the parent
        self.assertEqual(got[1], 30)
        self.assertEqual(got[2], 25)
        self.assertEqual(got[3], 30)
        self.assertEqual(got[5], 5)


class AttributionTest(unittest.TestCase):
    def trace(self):
        return [
            span(1, 0, 100, 200), span(2, 1, 110, 150, name="api.construct"),
            span(3, 1, 150, 200, name="api.collect"),
            span(4, 0, 300, 400, name="streaming.sink"),
            {"ev": "job_start", "job": 1, "time": 155, "span": 3, "stages": [1]},
            {"ev": "job_end", "job": 1, "time": 190, "ok": True},
            # a stream-thread job without the span property: placed by time
            {"ev": "job_start", "job": 2, "time": 310, "span": 0, "stages": [2]},
            {"ev": "job_end", "job": 2, "time": 350, "ok": True},
            # set-up work outside every span: dropped
            {"ev": "job_start", "job": 3, "time": 10, "span": 0, "stages": [3]},
            {"ev": "job_end", "job": 3, "time": 20, "ok": True},
            {"ev": "stage", "stage": 1, "attempt": 0, "submit": 156, "tasks": 2, "span": 3},
            {"ev": "stage", "stage": 2, "attempt": 0, "submit": 312, "tasks": 1, "span": 0},
            {"ev": "stage", "stage": 3, "attempt": 0, "submit": 11, "tasks": 1, "span": 0},
            {"ev": "task", "stage": 1, "launch": 160, "finish": 170, "ok": True, "run_ms": 10},
            {"ev": "task", "stage": 1, "launch": 158, "finish": 180, "ok": True, "run_ms": 20},
            {"ev": "task", "stage": 2, "launch": 320, "finish": 340, "ok": False, "run_ms": 20},
            {"ev": "task", "stage": 3, "launch": 12, "finish": 18, "ok": True, "run_ms": 6},
            {"ev": "qe", "ok": True, "phases": {
                "analysis": {"start": 112, "end": 120},
                "planning": {"start": 152, "end": 154}}},
            {"ev": "files", "time": 315, "files": 3},
        ]

    def test_events_land_on_their_spans(self):
        spans, jobs, stages, tasks, placed, _ = stats.attribute(self.trace())
        self.assertEqual({j: v["span"] for j, v in jobs.items()}, {1: 3, 2: 4})
        self.assertEqual(sorted(t["span"] for t in tasks), [3, 3, 4])
        self.assertEqual(sorted(t["wait"] for t in tasks), [2, 4, 8])
        self.assertEqual({(p["span"], p["phase"]) for p in placed},
                         {(2, "analysis"), (3, "planning"), (4, "files")})
        self.assertEqual(stats.root_of(spans, 3), 1)
        self.assertEqual(stats.innermost_at(spans, 115), 2)
        self.assertIsNone(stats.innermost_at(spans, 250))

    def test_layer_roll_up_and_ratio_bases(self):
        result = {"ops": [{"kind": "a", "ms": 100.0}], "cores": 4, "input_bytes": 0,
                  "triggers": [{"ms": 100.0, "progress": [
                      {"durations": {"addBatch": 80, "walCommit": 5}}]}]}
        m, report = stats.layer_metrics(result, self.trace(), attempted=4, failed=1)
        v = {k: x["value"] for k, x in m.items()}
        # two top-level spans (the op and the sink) are the per-op base
        self.assertEqual(v["schedule.jobs"], 2)
        self.assertEqual(v["schedule.jobs_per_op"], 1.0)
        self.assertEqual(v["schedule.tasks_per_stage"], 1.5)
        self.assertEqual(v["schedule.failed_tasks"], 1)
        self.assertEqual(v["streaming.jobs_per_trigger"], 1.0)
        self.assertEqual(v["streaming.add_batch_ms"], 80)
        self.assertEqual(v["execute.task_run_ms"], 25.0)
        self.assertEqual(v["plan.ms"], 5.0)
        self.assertEqual(v["sources.files_written"], 3)
        # no input bytes: the ratio reads 0, not a division error
        self.assertEqual(v["sources.write_amplification"], 0.0)
        self.assertEqual(v["failed_op_share"], 0.25)
        # op 1: wall 100, job covers 35; sink: wall 100, job covers 40
        self.assertEqual(v["driver.self_ms"], (65 + 60) / 2)
        self.assertAlmostEqual(v["driver.job_time_share"], 75 / 200)
        self.assertEqual(v["api.construct_ms"], 40)
        self.assertTrue(report)

    def test_ratio(self):
        self.assertEqual(stats.ratio(3, 0), 0.0)
        self.assertEqual(stats.ratio(3, 4), 0.75)


class EndToEndTest(unittest.TestCase):
    def ops(self):
        return [{"kind": "a", "ms": 100.0, "ok": True}, {"kind": "a", "ms": 300.0, "ok": True},
                {"kind": "a", "ms": 200.0, "ok": True}, {"kind": "b", "ms": 800.0, "ok": True}]

    def test_typical_latency_is_independent_of_the_mix(self):
        self.assertAlmostEqual(stats.typical_latency(self.ops()), 400.0)
        # more ops of the fast kind do not move it
        more = self.ops() + [{"kind": "a", "ms": 200.0}] * 5
        self.assertAlmostEqual(stats.typical_latency(more), 400.0)

    def test_completed_rate_counts_ok_ops_over_timed_wall(self):
        ops = self.ops() + [{"kind": "b", "ms": 50.0, "ok": False}]
        # 4 completed ops over a 2 s timed region; the failed one is not a completion
        self.assertAlmostEqual(stats.completed_rate(ops, 2.0), 2.0)
        self.assertEqual(stats.completed_rate([], 0.0), 0.0)

    def test_metrics_and_bases(self):
        triggers = [{"kind": "x", "ms": 300.0}, {"kind": "y", "ms": 100.0},
                    {"kind": "x", "ms": 3000.0}, {"kind": "y", "ms": 100.0},
                    {"kind": "x", "ms": 300.0}, {"kind": "y", "ms": 100.0}]
        result = {"ops": self.ops(), "triggers": triggers, "rows_in": 300, "batches": 3,
                  "timed_s": 8.0, "stored_bytes": 50, "input_bytes": 200,
                  "heap_retained_mb": 80.0}
        m = stats.end_to_end("stream_ingest", result, 12.0)
        # 100 rows per batch over median 300 + 100 ms per batch: the slow trigger is ignored
        self.assertAlmostEqual(m["throughput_per_s"]["value"], 250.0)
        self.assertEqual(m["stored_bytes_per_input_byte"]["value"], 0.25)
        self.assertEqual(m["setup_s"]["value"], 12.0)
        # kg_lookup: completed requests over the timed wall, not over op latencies
        self.assertAlmostEqual(stats.end_to_end("kg_lookup", result, 1.0)
                               ["throughput_per_s"]["value"], 0.5)


class GeneratorTest(unittest.TestCase):
    def test_kind_schedule_holds_each_weight_and_spreads_kinds(self):
        cycle = gen.kind_schedule(gen.KG_KINDS)
        self.assertEqual(collections.Counter(cycle), dict(gen.KG_KINDS))
        # a weight-3 kind is never sent twice in a row
        self.assertFalse(any(a == b for a, b in zip(cycle, cycle[1:])))


class OracleArithmeticTest(unittest.TestCase):
    def test_sq8_rounds_half_away_from_zero(self):
        scales = np.array([127.0, 254.0, 0.0])
        vecs = np.array([[0.5, -1.0, 3.0], [-0.5, 1.0, -2.0]], dtype=np.float32)
        self.assertEqual(oracle.sq8_codes(vecs, scales).tolist(), [[1, -1, 0], [-1, 1, 0]])

    def test_sq8_topk_excludes_query_and_breaks_ties_by_id(self):
        ids = np.array([5, 3, 9, 1])
        codes = np.array([[1, 0], [2, 0], [2, 0], [0, 1]])
        self.assertEqual(oracle.sq8_topk(ids, codes, 5, 2), [[3, 2], [9, 2]])

    def test_structural_compare_tolerates_float_noise_only(self):
        self.assertTrue(oracle.same({"a": [1, 0.1 + 0.2]}, {"a": [1, 0.3]}))
        self.assertFalse(oracle.same({"a": [1, 0.3]}, {"a": [1, 0.31]}))
        self.assertFalse(oracle.same([1, 2], [2, 1]))


if __name__ == "__main__":
    unittest.main()
