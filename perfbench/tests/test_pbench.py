"""Tests of the benchmark's own logic: input generation, the open-loop
schedule, the percentile rule, span self time, result fingerprints, the
stream failure count and the tracing overhead.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
from pbench import gen, metrics, oracle, spans, stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class GeneratorTest(unittest.TestCase):
    def events(self, seed=7, n=20000, rate=500):
        return gen.click_events(seed, n, rate, n_users=5000, zipf=1.0)

    def test_same_seed_same_events(self):
        a, b = self.events(), self.events()
        for x, y in zip(a, b):
            np.testing.assert_array_equal(x, y)
        c = self.events(seed=8)
        self.assertFalse(np.array_equal(a[0], c[0]))

    def test_event_time_order_and_rate(self):
        ts, user, etype, prod = self.events()
        self.assertEqual(len(ts), 20000)
        self.assertTrue((np.diff(ts) >= 0).all())
        span_s = (ts[-1] - ts[0]) / 1000.0
        self.assertAlmostEqual(len(ts) / span_s, 500, delta=50)

    def test_reference_shape(self):
        ts, user, etype, prod = self.events()
        self.assertAlmostEqual(etype.mean(), 0.10, delta=0.02)
        # checkouts carry "N/A"; browse events carry ""/"N/A"/null noise
        self.assertTrue((prod[etype == gen.CHECKOUT] == 2).all())
        self.assertTrue(set(np.unique(prod[etype == gen.BROWSE])) >= {0, 1, 2, 3})
        # a user's events are at least 50 ms apart (visits never overlap)
        order = np.lexsort((ts, user))
        same = user[order][1:] == user[order][:-1]
        self.assertGreaterEqual(np.diff(ts[order])[same].min(), 50)
        # Zipf skew: the busiest user is far above the mean (busy users are
        # capped by their own visit and idle times)
        counts = np.bincount(user)
        self.assertGreater(counts.max(), 5 * counts[counts > 0].mean())

    def test_open_loop_ticks(self):
        ts = np.array([100, 100, 130, 160, 250, 400, 401], dtype=np.int64)
        cuts = gen.open_loop_ticks(ts, 1, 50, 6)
        # due offsets from event 1: 0, 30, 60, 150, 300, 301
        self.assertEqual(cuts.tolist(), [1, 3, 4, 5, 5, 5, 6])
        for k in range(1, len(cuts)):
            for i in range(cuts[k - 1], cuts[k]):
                self.assertLessEqual(ts[i] - ts[1], k * 50)
                if k > 1:
                    self.assertGreater(ts[i] - ts[1], (k - 1) * 50)

    def test_frames_round_trip_fields(self):
        ts, user, etype, prod = self.events(n=50)
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "ev.bin")
            gen.write_events(path, ts, user, etype, prod)
            np.testing.assert_array_equal(gen.read_event_times(path), ts)

    def test_tables_deterministic(self):
        a, b = gen.tables(3, 0.001), gen.tables(3, 0.001)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertEqual(a["lineitem"].num_rows, 6000)


class PercentileTest(unittest.TestCase):
    def test_rule(self):
        self.assertEqual(stats.tail_rank(1000), (990, 99.0))
        # 200 samples: p99 has only 2 beyond it; p95 is the highest with 10
        self.assertEqual(stats.tail_rank(200), (190, 95.0))
        k, p = stats.tail_rank(40)
        self.assertEqual((k, 40 - k), (30, 10))
        # too few samples: the upper median
        self.assertEqual(stats.tail_rank(6)[0], 4)
        self.assertEqual(stats.tail_rank(1)[0], 1)

    def test_cap(self):
        # p90 with 10 beyond needs 100 samples; fewer give a lower rank
        self.assertEqual(stats.tail_rank(100, cap=90.0), (90, 90.0))
        self.assertEqual(stats.tail_rank(1000, cap=90.0), (900, 90.0))
        self.assertEqual(stats.tail_rank(50, cap=90.0), (40, 80.0))

    def test_tail_value(self):
        xs = list(range(1, 201))
        self.assertEqual(stats.tail(xs), (190, 95.0))
        self.assertGreaterEqual(stats.tail([5.0, 1.0, 3.0, 2.0])[0], stats.median([5.0, 1.0, 3.0, 2.0]))


class BatchLatencyTest(unittest.TestCase):
    def test_geometric_mean_of_per_query_medians(self):
        # two queries: medians 100 and 400 ms, so the typical latency is 200
        ops = [{"name": "a", "ms": x, "ok": True} for x in (90.0, 100.0, 300.0)]
        ops += [{"name": "b", "ms": x, "ok": True} for x in (400.0, 380.0, 420.0)]
        ops += [{"pass_ms": 1000.0}, {"pass_ms": 1000.0}, {"pass_ms": 1000.0}]
        result = {"setup_s": 1.0, "peak_rss_mb": 1.0, "probe_ms": [1.0, 1.0],
                  "measure": {"ops": ops}, "check": {}}
        got, named = metrics.end_to_end({"kind": "batch"}, result)
        self.assertAlmostEqual(got["latency_ms"][0], 200.0)
        self.assertAlmostEqual(got["throughput_per_s"][0], 2.0)
        self.assertEqual(named["query_p50_ms"], 340.0)


class SpanTest(unittest.TestCase):
    def test_self_time_with_overlapping_children(self):
        s = [
            {"id": 0, "parent": -1, "start": 0.0, "end": 100.0, "layer": "a"},
            {"id": 1, "parent": 0, "start": 10.0, "end": 40.0, "layer": "b"},
            {"id": 2, "parent": 0, "start": 30.0, "end": 60.0, "layer": "b"},
            {"id": 3, "parent": 0, "start": 90.0, "end": 120.0, "layer": "b"},
            {"id": 4, "parent": 1, "start": 15.0, "end": 20.0, "layer": "c"},
        ]
        st = spans.self_times(s)
        # children cover 10-60 once and 90-100 (clipped): 60 ms of 100
        self.assertAlmostEqual(st[0], 40.0)
        self.assertAlmostEqual(st[1], 25.0)
        self.assertAlmostEqual(st[4], 5.0)
        self.assertAlmostEqual(spans.by_layer(s)["b"][0], 25.0 + 30.0 + 30.0)

    def test_covered(self):
        self.assertEqual(spans.covered([], 0, 10), 0.0)
        self.assertEqual(spans.covered([(5, 3)], 0, 10), 0.0)
        self.assertEqual(spans.covered([(0, 4), (2, 6), (8, 20)], 1, 10), 7.0)


class FingerprintTest(unittest.TestCase):
    def test_cells(self):
        cells = [None, ["f", "3ff8000000000000"], ["i", 3], ["s", "x"],
                 ["l", [["f", "3fb999999999999a"], None]],
                 ["ts", 86400000001], ["dt", 1], ["b", True]]
        got = [oracle.decode_cell(c) for c in cells]
        self.assertEqual(got[:4], [None, 1.5, 3, "x"])
        self.assertEqual(got[4], [0.1, None])
        self.assertEqual(got[5].isoformat(), "1970-01-02T00:00:00.000001")
        self.assertEqual(str(got[6]), "1970-01-02")

    def test_canonical_form(self):
        a = oracle.fingerprint(["k", "v"], [(1, 0.1), (None, float("nan")), (2, [1.0, None])])
        b = oracle.fingerprint(["k", "v"], [(2, [1.0, None]), (1, 0.1), (None, float("nan"))])
        self.assertEqual(a, b)
        # an int and a float that print alike differ; so do column orders
        self.assertNotEqual(oracle.fingerprint(["v"], [(1,)]), oracle.fingerprint(["v"], [(1.0,)]))
        self.assertNotEqual(oracle.fingerprint(["a", "b"], [(1, 2)]),
                            oracle.fingerprint(["b", "a"], [(1, 2)]))
        # doubles compare exactly
        self.assertNotEqual(oracle.fingerprint(["v"], [(0.1 + 0.2,)]),
                            oracle.fingerprint(["v"], [(0.3,)]))
        self.assertTrue(math.isnan(oracle.decode_cell(["f", "7ff8000000000000"])))


class StreamVerifyTest(unittest.TestCase):
    def result(self, late):
        sink = {"rows": 10, "missing": 0, "extra": 0, "missing_sample": [], "extra_sample": []}
        return {"check": {"sinks": {"buy_sessions": dict(sink), "user_kpis": dict(sink)},
                          "failed_batches": 0, "late_rows": late},
                "measure": {"segment": {"backlog": []}}}

    def test_clean_run(self):
        attempted, failed, notes = run.verify({"kind": "stream", "mode": "closed"},
                                              self.result({"user_kpis": 0}), None)
        self.assertEqual((attempted, failed, notes), (21, 0, []))

    def test_rows_behind_the_watermark_fail(self):
        attempted, failed, notes = run.verify({"kind": "stream", "mode": "closed"},
                                              self.result({"user_kpis": 3, "departments": 1}), None)
        self.assertEqual((attempted, failed), (25, 4))
        self.assertTrue(any("watermark" in n for n in notes))


class TraceOverheadTest(unittest.TestCase):
    def test_batch_pairs_each_query(self):
        ops = [{"name": "a", "ok": True, "traced": True, "ms": 110.0},
               {"name": "a", "ok": True, "traced": False, "ms": 100.0},
               {"name": "b", "ok": True, "traced": False, "ms": 1000.0},
               {"name": "b", "ok": True, "traced": True, "ms": 1000.0},
               # traced only: no untraced twin, left out
               {"name": "c", "ok": True, "traced": True, "ms": 5000.0},
               {"pass_ms": 1.0, "pass": 0}]
        got = metrics.trace_overhead_pct({"kind": "batch"}, {"ops": ops})
        self.assertAlmostEqual(got, 100.0 * (1110.0 / 1100.0 - 1))

    def test_closed_stream_chunks(self):
        seg = {"chunk_ms": [900.0, 1000.0, 1200.0, 1100.0, 1000.0],
               "chunk_traced": [False, True, False, True, False]}
        got = metrics.trace_overhead_pct({"kind": "stream", "mode": "closed"}, {"segment": seg})
        self.assertAlmostEqual(got, 100.0 * (1050.0 / 1000.0 - 1))

    def test_open_loop_is_unresolved(self):
        self.assertIsNone(metrics.trace_overhead_pct({"kind": "stream", "mode": "open"}, {}))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_what_run_py_prints(self):
        import json
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([m["name"] for m in b["end_to_end"]], metrics.E2E)
        self.assertEqual([m["name"] for m in b["per_layer"]], metrics.PER_LAYER)
        for m in b["per_layer"]:
            self.assertEqual(m["unit"], metrics.UNITS.get(m["name"], "count"), m["name"])
        with open(os.path.join(ROOT, "perfbench", "workloads.json")) as fh:
            wl = json.load(fh)["workloads"]
        self.assertTrue(all(w["name"] in wl for w in b["workloads"]))


if __name__ == "__main__":
    unittest.main()
