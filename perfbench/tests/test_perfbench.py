"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The generator test builds the Scala sources on first use (as a
benchmark run does); the others are pure."""

import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_keeps_ten_samples_beyond_it(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(stats.percentile(values, 50), 50)
        self.assertEqual(stats.percentile(values, 90), 90)
        self.assertEqual(stats.percentile([7], 99), 7)


def life(results, sent, setup_s=1.0, drain_s=3.0):
    return {
        "open": {"results": results, "sent": sent, "gen_late_ms": 0.0},
        "drain": {"events": 30, "seconds": drain_s}, "setup_s": setup_s,
    }


def result(lives, limit=1000):
    return {"lives": lives, "rate": 10, "backlog": 30, "late_limit_ms": limit}


class OpenLoopLatency(unittest.TestCase):
    def test_measured_from_the_scheduled_send_time(self):
        # events were due at 0, 100, ... but a stalled generator sent
        # them all at 900; results carry the schedule, so the stall
        # counts against latency
        results = [[1000.0 + i, 100.0 * i, 1] for i in range(10)]
        m, notes = stats.end_to_end(result([life(results, 10)]))
        lat = sorted(1000.0 + i - 100.0 * i for i in range(10))
        self.assertEqual(m["latency_p50_ms"][0], lat[4])
        self.assertEqual(notes["latency_p90_ms"], lat[8])

    def test_metrics_are_medians_over_lifetimes(self):
        lives = [life([[10.0, 0.0, 1]], 1, setup_s=3.0, drain_s=3.0),
                 life([[50.0, 0.0, 1]], 1, setup_s=1.0, drain_s=1.0),
                 life([[20.0, 0.0, 1]], 1, setup_s=2.0, drain_s=6.0)]
        m, notes = stats.end_to_end(result(lives))
        self.assertEqual(m["setup_s"][0], 2.0)
        self.assertEqual(m["throughput_eps"][0], 10.0)
        self.assertEqual(m["latency_p50_ms"][0], 20.0)
        self.assertEqual(notes["latency_samples"], 3)


class LateFraction(unittest.TestCase):
    def test_weighted_by_events_covered(self):
        # 5 events on time, 3 late, 2 never covered
        self.assertEqual(stats.late_fraction([(100, 5), (6000, 3)], 5000, 10), 0.5)

    def test_nothing_late(self):
        self.assertEqual(stats.late_fraction([(100, 4), (200, 6)], 5000, 10), 0.0)


class Attribution(unittest.TestCase):
    modules = stats.module_map(os.path.join(run.ROOT, "src", "main", "scala"))

    def test_call_site_to_module(self):
        cases = {
            "processBatch at StreamingPipeline.scala:507": "streaming",
            "write at Sinks.scala:82": "engine",
            "upsert at StateTable.scala:112": "engine",
            "nearDupFilterBatch at Dedup.scala:300": "operators",
            "flush at WindowManager.scala:49": "engine",
            "spread at Registry.scala:90": "queries",
            "run at ThreadPoolExecutor.java:1136": "runtime",
            "": "runtime",
        }
        for site, mod in cases.items():
            self.assertEqual(stats.module_of(site, self.modules), mod, site)

    def test_jobs_and_gap_account_for_add_batch(self):
        res = {"lives": [{
            "open": {"start_ms": 0, "gen_late_ms": 1.0},
            "drain": {"end_ms": 10000},
            "window": {"emitted": [], "peak_open_keys": 0},
            "cpu_s": 1.0, "wall_s": 1.0, "sent_series": [[0, 10]], "peak_rss_mb": 1.0,
        }], "close_after_ms": 0, "drain_eps_1cpu": 1.0}
        records = [
            {"kind": "progress", "batch": 1, "start": 1000, "rows": 10,
             "durations": {"addBatch": 500, "triggerExecution": 600},
             "start_offset": '{"0":0}', "end_offset": '{"0":10}'},
            {"kind": "job", "batch": 1, "start": 1100, "end": 1200, "sql": 1,
             "site": "processBatch at StreamingPipeline.scala:507", "stages": [1]},
            {"kind": "job", "batch": 1, "start": 1200, "end": 1400, "sql": 2,
             "site": "write at Sinks.scala:82", "stages": [2]},
            # a pool-thread job with no graft frame belongs to its SQL
            # execution's module
            {"kind": "job", "batch": 1, "start": 1400, "end": 1450, "sql": 2,
             "site": "", "stages": [3]},
            {"kind": "stage", "id": 1, "run_ms": 80, "gc_ms": 1, "shuffle_bytes": 0},
            {"kind": "plan", "sql": 2, "phases": {"analysis": 3, "optimization": 2,
                                                  "planning": 1, "other": 9}},
        ]
        m, notes = stats.per_layer(res, records, self.modules)
        self.assertEqual(notes["job_ms_per_trigger_by_module"],
                         {"streaming": 100, "engine": 250})
        self.assertEqual(m["runtime.driver_gap_ms"][0], 150)
        self.assertEqual(notes["accounted_ms_per_trigger"], m["streaming.add_batch_ms"][0])
        self.assertEqual(m["engine.sink_ms"][0], 200)
        self.assertEqual(m["engine.job_ms"][0], 250)
        self.assertEqual(m["engine.plan_ms"][0], 6)
        self.assertEqual(m["streaming.lag_end_events"][0], 0)
        self.assertEqual(m["streaming.rows_per_trigger"][0], 10)


class Generator(unittest.TestCase):
    def gen(self, workload, seed, n=200):
        with open(run.build()) as f:
            cp = f.read().strip()
        return subprocess.run(["java", "-cp", cp, "perfbench.Gen", workload, str(seed), str(n)],
                              check=True, capture_output=True, text=True).stdout

    def test_deterministic_per_seed(self):
        for w in run.WORKLOADS:
            a, b, c = self.gen(w, 7), self.gen(w, 7), self.gen(w, 8)
            self.assertEqual(a, b, w)
            self.assertNotEqual(a, c, w)
            self.assertEqual(len(a.splitlines()), 200)


if __name__ == "__main__":
    unittest.main()
