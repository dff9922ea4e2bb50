"""Tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


def span(i, layer, start_ms, end_ms, parent=-1, cpu_ns=0):
    return {"id": i, "layer": layer, "label": layer, "parent": parent,
            "start_us": int(start_ms * 1000), "end_us": int(end_ms * 1000),
            "driver_cpu_ns": cpu_ns}


def job(i, start_ms, end_ms, cpu_ns=0, shuffle=0):
    return {"id": i, "start_ms": start_ms, "end_ms": end_ms, "tasks": 1,
            "cpu_ns": cpu_ns, "scan_bytes": 0, "shuffle_bytes": shuffle,
            "spill_bytes": 0, "sched_wait_ms": 0}


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(metrics.percentile([3.0, 1.0, 2.0, 4.0], 50), 2.5)
        self.assertAlmostEqual(
            metrics.percentile([3.0, 1.0, 2.0, 4.0], 90), 3.7)
        self.assertEqual(metrics.percentile([5.0], 90), 5.0)
        self.assertEqual(metrics.percentile([2.0, 4.0], 50), 3.0)

    def test_failed_op_ranks_above_every_latency(self):
        # the failed op is the slowest, so p50 still draws on successes
        self.assertEqual(metrics.percentile([1.0, None, 2.0, 3.0, 4.0], 50),
                         3.0)
        # ... and p90 draws on the failure: not met
        self.assertIsNone(metrics.percentile([1.0, None, 2.0, 3.0], 90))
        # a median between a success and a failure is not met either
        self.assertIsNone(metrics.percentile([1.0, None], 50))

    def test_all_failed_is_not_met(self):
        self.assertIsNone(metrics.percentile([None, None], 50))
        self.assertIsNone(metrics.percentile([], 50))


class DriverTimeTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # jobs [10,30] and [20,40] overlap: busy 10..40, idle 0..10, 40..50
        self.assertEqual(
            metrics.driver_ms(0, 50, [(10, 30), (20, 40)]), 20)

    def test_nested_and_disjoint_jobs(self):
        busy = [(5, 45), (10, 20), (50, 60)]
        self.assertEqual(metrics.driver_ms(0, 100, busy), 100 - 40 - 10)

    def test_jobs_clipped_to_the_span(self):
        # a job running past the span end only covers up to the end
        self.assertEqual(metrics.driver_ms(0, 10, [(5, 50)]), 5)
        self.assertEqual(metrics.driver_ms(0, 10, [(20, 30)]), 10)

    def test_no_jobs_is_all_driver_time(self):
        self.assertEqual(metrics.driver_ms(3, 8, []), 5)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_taken_out_of_the_parent(self):
        spans = [span(0, "tick", 0, 100), span(1, "catalog", 10, 30, 0),
                 span(2, "lineage", 30, 70, 0), span(3, "inner", 40, 50, 2)]
        got = metrics.self_ms(spans)
        self.assertEqual(got, {0: 40.0, 1: 20.0, 2: 30.0, 3: 10.0})

    def test_innermost_span_owns_a_job(self):
        spans = [span(0, "tick", 0, 100), span(1, "lineage", 30, 70, 0)]
        self.assertEqual(metrics.innermost(spans, 50), 1)
        self.assertEqual(metrics.innermost(spans, 80), 0)
        self.assertIsNone(metrics.innermost(spans, 120))


class PerLayerTest(unittest.TestCase):
    def test_roll_up(self):
        spans = [span(0, "tick", 0, 100, cpu_ns=9_000_000),
                 span(1, "lineage", 10, 60, 0, cpu_ns=4_000_000),
                 span(2, "llm_curation", 60, 90, 0)]
        jobs = [job(0, 15, 35, cpu_ns=2_000_000, shuffle=7),
                job(1, 20, 40, cpu_ns=1_000_000), job(2, 95, 99)]
        builds = [{"span": 1, "artifact": "fk_edges", "fingerprint": "a",
                   "mode": "full", "ms": 12, "bytes": 100},
                  {"span": 2, "artifact": "shards", "fingerprint": "b",
                   "mode": "part-delta", "ms": 3, "bytes": 10}]
        result = {"run_s": 1.5, "store_at_start": ["fk_edges"],
                  "extra": {"sensors.state_rows": 42.0},
                  "trace": {"spans": spans, "jobs": jobs, "builds": builds,
                            "listener_ms": 0.5}}
        v = metrics.per_layer(result)
        self.assertEqual(v["lineage.wall_ms"], 50)
        self.assertEqual(v["lineage.jobs"], 2)
        self.assertEqual(v["lineage.driver_ms"], 50 - 25)
        self.assertEqual(v["lineage.cpu_ms"], 7.0)
        self.assertEqual(v["lineage.shuffle_bytes"], 7)
        self.assertEqual(v["lineage.build_ms"], 12)
        self.assertEqual(v["llm_curation.build_ms"], 3)
        self.assertEqual(v["indexstore.builds_full"], 1)
        self.assertEqual(v["indexstore.builds_delta"], 1)
        self.assertEqual(v["indexstore.full_on_append"], 1)
        self.assertEqual(v["indexstore.bytes_written"], 110)
        self.assertEqual(v["spark.tasks"], 3)
        self.assertEqual(v["sensors.state_rows"], 42.0)
        self.assertEqual(v["trace.run_s"], 1.5)

    def test_metric_names_are_unique(self):
        names = [n for n, _ in metrics.per_layer_names()]
        self.assertEqual(len(names), len(set(names)))


class EndToEndTest(unittest.TestCase):
    def result(self, oks):
        return {"session_s": 2.0, "setup_s": [0.5, 0.1, 0.3],
                "baseline_s": 0.0, "run_s": 9.0, "cpu_s": 20.0,
                "rss_peak_mb": 900.0, "store_bytes": 30, "src_bytes": 10,
                "ops": [{"name": f"o{i}", "layer": "x", "wall_s": 1.0 + i,
                         "ok": ok, "error": ""} for i, ok in enumerate(oks)]}

    def test_all_ok(self):
        m = metrics.end_to_end(self.result([True, True, True]))
        self.assertEqual(m["setup_s"], 2.3)
        self.assertEqual(m["run_s"], 9.0)
        self.assertEqual(m["op_p50_s"], 2.0)
        self.assertAlmostEqual(m["op_p90_s"], 2.8)
        self.assertEqual(m["ok_frac"], 1.0)
        self.assertEqual(m["store_bytes_per_src_byte"], 3.0)

    def test_a_failed_op_makes_run_and_cpu_not_met(self):
        m = metrics.end_to_end(self.result([True, False, True]))
        self.assertIsNone(m["run_s"])
        self.assertIsNone(m["cpu_s"])
        self.assertIsNone(m["op_p90_s"])
        self.assertAlmostEqual(m["ok_frac"], 2 / 3)


if __name__ == "__main__":
    unittest.main()
