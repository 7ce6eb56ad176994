"""Unit tests for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics as M


def batch(n, start, end, t0, trigger_ms, rows, **extra):
    b = {"batch": n, "start_offset": start, "end_offset": end, "trigger_start_ms": t0,
         "durations_ms": {"triggerExecution": trigger_ms}, "rows": rows}
    b.update(extra)
    return b


def chunk(offset, phase, sched_ms, rows):
    return {"offset": offset, "phase": phase, "sched_ms": sched_ms,
            "added_ms": sched_ms, "rows": rows}


class PercentileTest(unittest.TestCase):
    def test_ten_beyond_rule(self):
        self.assertFalse(M.supported(99, 0.9))
        self.assertTrue(M.supported(100, 0.9))
        self.assertFalse(M.supported(999, 0.99))
        self.assertTrue(M.supported(1000, 0.99))
        self.assertTrue(M.supported(20, 0.5))
        self.assertFalse(M.supported(19, 0.5))
        self.assertFalse(M.supported(0, 0.5))

    def test_highest_supported(self):
        self.assertIsNone(M.highest_supported(15))
        self.assertEqual(M.highest_supported(20), 0.5)
        self.assertEqual(M.highest_supported(150), 0.9)
        self.assertEqual(M.highest_supported(1000), 0.99)

    def test_nearest_rank_is_an_observed_sample(self):
        values = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(M.percentile(values, 0.5), 3.0)
        self.assertEqual(M.percentile(values, 0.9), 5.0)
        self.assertEqual(M.percentile(values, 0.0), 1.0)
        self.assertEqual(M.percentile(list(range(1, 101)), 0.9), 90)
        with self.assertRaises(ValueError):
            M.percentile([], 0.5)


class LatencyMappingTest(unittest.TestCase):
    def setUp(self):
        self.chunks = [chunk(0, "warm", 0, 10), chunk(1, "burst", 100, 10),
                       chunk(2, "burst", 110, 10), chunk(3, "paced", 1000, 10),
                       chunk(4, "paced", 1010, 30), chunk(5, "paced", 1020, 10)]
        self.batches = [
            batch(0, -1, 0, 10, 50, 10),      # warm chunk
            batch(1, 0, 2, 120, 100, 20),     # burst chunks 1, 2
            batch(2, 2, 3, 1005, 45, 10),     # burst drained, paced chunk 3
            batch(3, 3, 5, 1030, 70, 40),     # paced chunks 4, 5
            batch(4, 5, 5, 1200, 5, 0),       # empty trigger
        ]

    def test_offsets_map_to_chunks_and_phase(self):
        got = M.label_batches(self.batches, self.chunks)
        self.assertEqual([b["phase"] for b in got], ["warm", "burst", "paced", "paced", None])
        self.assertEqual([c["offset"] for c in got[3]["chunks"]], [4, 5])
        self.assertEqual(list(M.chunks_of(self.batches[0])), [0])

    def test_latency_is_row_weighted_from_scheduled_send_to_commit(self):
        got = M.label_batches(self.batches, self.chunks)
        # batch 3 ends at 1100; chunk 4 (30 rows) waited 90 ms, chunk 5 (10 rows) 80 ms
        self.assertAlmostEqual(M.batch_latency_ms(got[3]), (90 * 30 + 80 * 10) / 40.0)
        # the first paced batch is not a sample, the empty one carries nothing
        self.assertEqual(M.paced_latencies(got), [M.batch_latency_ms(got[3])])

    def test_burst_throughput_spans_the_measured_batches(self):
        chunks = [chunk(i, "burst", 0, 100) for i in range(4)]
        batches = [batch(i, i - 1, i, 1000 * i, 500, 100) for i in range(4)]
        got = M.label_batches(batches, chunks)
        # batches 1..3 are measured: 300 rows from t=1000 to t=3500
        self.assertAlmostEqual(M.stream_rows_per_s(got), 300 / 2.5)

    def test_backlog_limit_follows_the_slower_of_trigger_and_batch(self):
        paced = [batch(i, 0, 0, 0, d, 1) for i, d in enumerate([100] * 9 + [400])]
        self.assertEqual(M.backlog_limit_rows(1000, 50, paced), 1000 * 2 * 0.1)
        self.assertEqual(M.backlog_limit_rows(1000, 300, paced), 1000 * 2 * 0.3)
        self.assertEqual(M.backlog_limit_rows(1000, 300, []), 1000 * 2 * 0.3)

    def test_window_batches_start_inside_the_listener_window(self):
        p = {"window_start_ms": 120, "batches": self.batches}
        self.assertEqual([b["batch"] for b in M.window_batches(p)], [1, 2, 3, 4])


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "name": "root", "run": "r", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "name": "a", "run": "r", "start_ms": 10, "end_ms": 40},
            {"id": 3, "parent": 1, "name": "b", "run": "r", "start_ms": 30, "end_ms": 50},
            {"id": 4, "parent": 1, "name": "c", "run": "r", "start_ms": 90, "end_ms": 130},
            {"id": 5, "parent": 2, "name": "d", "run": "r", "start_ms": 15, "end_ms": 20},
        ]
        st = M.self_times(spans)
        # children cover 10-50 and 90-100 (clipped): 50 ms
        self.assertAlmostEqual(st[1], 50.0)
        self.assertAlmostEqual(st[2], 25.0)
        self.assertAlmostEqual(st[5], 5.0)
        self.assertEqual(M.span_ms(spans, "a"), [30])
        self.assertEqual(M.span_ms(spans, "a", self_time=True), [25.0])
        self.assertEqual(M.span_ms(spans, "a", runs={"other"}), [])


class OutputTest(unittest.TestCase):
    def setUp(self):
        self.spec = M.load_spec()

    def test_output_names_and_units_follow_the_spec(self):
        units = M.units(self.spec, "end_to_end")
        values = {n: 1.5 for n in units}
        out = M.render(values, units)
        self.assertEqual(list(out), list(units))
        for name, unit in units.items():
            self.assertEqual(out[name], {"value": 1.5, "unit": unit})
        line = json.loads(M.result_line(True, 3, 0, out))
        self.assertEqual(sorted(line), ["attempted", "correct", "failed", "metrics"])

    def test_unknown_missing_or_non_finite_metrics_are_errors(self):
        units = M.units(self.spec, "end_to_end")
        values = {n: 1.0 for n in units}
        with self.assertRaises(KeyError):
            M.render(dict(values, bogus=1.0), units)
        with self.assertRaises(KeyError):
            M.render({k: v for k, v in values.items() if k != "setup_s"}, units)
        with self.assertRaises(ValueError):
            M.render(dict(values, setup_s=float("nan")), units)

    def test_spec_metric_sets(self):
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        self.assertEqual(e2e["setup_s"]["unit"], "s")
        self.assertEqual(e2e["setup_s"]["better"], "lower")
        self.assertEqual(e2e["setup_s"]["bound"], max(m["bound"] for m in e2e.values()))
        layers = [m["name"] for m in self.spec["per_layer"]]
        self.assertEqual(len(layers), len(set(layers)))
        doc = open(os.path.join(M.HERE, "README.md")).read()
        for name in layers + list(e2e):
            self.assertIn("`%s`" % name, doc, "%s is not documented" % name)


if __name__ == "__main__":
    unittest.main()
