"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402


def span(i, parent, kind, start, end, name="x", **counters):
    return {"span": i, "parent": parent, "kind": kind, "name": name,
            "start": start, "end": end, "counters": counters}


class PercentileTest(unittest.TestCase):
    def test_endpoints_and_median(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 5.0)
        self.assertEqual(metrics.percentile(xs, 50), 3.0)

    def test_interpolates_between_ranks(self):
        xs = list(range(1, 11))  # 1..10
        self.assertAlmostEqual(metrics.percentile(xs, 90), 9.1)
        self.assertAlmostEqual(metrics.percentile([1.0, 2.0], 50), 1.5)

    def test_matches_statistics_inclusive(self):
        xs = [0.3, 0.9, 0.1, 0.7, 0.4, 0.8, 0.2]
        q = statistics.quantiles(xs, n=10, method="inclusive")
        self.assertAlmostEqual(metrics.percentile(xs, 90), q[8])

    def test_single_sample_and_empty(self):
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class QuartileTest(unittest.TestCase):
    def test_quartiles_as_statistics_quantiles(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        self.assertEqual(metrics.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(metrics.quartiles([2.0]), (2.0, 2.0, 2.0))


class SelfTimeTest(unittest.TestCase):
    def test_union_of_children(self):
        self.assertEqual(metrics.covered([(0, 4), (2, 6), (8, 9)], 0, 10), 7)
        self.assertEqual(metrics.covered([(-5, 3), (9, 20)], 0, 10), 4)
        self.assertEqual(metrics.covered([], 0, 10), 0)

    def test_self_time_excludes_covered_children(self):
        spans = [span(1, 0, "query", 0, 100),
                 span(2, 1, "construct", 0, 40),
                 span(3, 2, "job", 10, 20),
                 span(4, 2, "job", 15, 30),   # overlaps job 3
                 span(5, 1, "exec", 40, 100),
                 span(6, 5, "job", 50, 200)]  # runs past its parent
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 0)    # fully covered by construct + exec
        self.assertEqual(st[2], 20)   # 40 - union(10..30)
        self.assertEqual(st[3], 10)
        self.assertEqual(st[5], 10)   # 60 - (50..100)

    def test_open_span_has_no_self_time(self):
        st = metrics.self_times([span(1, 0, "run", 5, -1)])
        self.assertNotIn(1, st)


class LayerTest(unittest.TestCase):
    def raw(self):
        spans, samples, i = [span(1, 0, "run", 0, 10_000_000)], [], 1
        for p in (1, 2, 3):
            i += 1
            pid = i
            spans.append(span(pid, 1, "pass", p * 1_000_000, p * 1_000_000 + 900_000))
            for q, mod in (("a", "Dedup"), ("b", "TextOps")):
                i += 1
                qid = i
                s0 = p * 1_000_000 + (0 if q == "a" else 400_000)
                spans.append(span(qid, pid, "query", s0, s0 + 400_000, q, checkpoint_rdds=1.0))
                spans.append(span(qid + 1, qid, "construct", s0, s0 + 100_000, q, jobs=1.0))
                spans.append(span(qid + 2, qid + 1, "job", s0 + 50_000, s0 + 100_000))
                spans.append(span(qid + 3, qid, "plan", s0 + 100_000, s0 + 200_000, q))
                spans.append(span(qid + 4, qid, "exec", s0 + 200_000, s0 + 400_000, q,
                                  task_run_s=0.4 * p, shuffle_write_bytes=1000.0,
                                  peak_exec_bytes=10.0 * p))
                i += 4
                samples.append({"pass": p, "query": q, "module": mod, "span": qid,
                                "seconds": 0.4, "status": "ok"})
        return {"spans": spans, "samples": samples, "cpus": 4, "pinned_rdds": 1,
                "peak_rss_mb": 900.0, "retained_heap_mb": 90.0}

    def test_per_pass_sums_then_median(self):
        m = metrics.per_layer(self.raw())
        self.assertAlmostEqual(m["ops.Dedup.s"], 0.4)
        self.assertAlmostEqual(m["ops.TextOps.s"], 0.4)
        self.assertEqual(m["ops.Relational.s"], 0.0)
        self.assertAlmostEqual(m["construct.s"], 0.2)
        self.assertAlmostEqual(m["construct.driver_s"], 0.1)
        self.assertAlmostEqual(m["construct.eager_job_s"], 0.1)
        self.assertEqual(m["construct.eager_jobs"], 2.0)
        self.assertAlmostEqual(m["plan.s"], 0.2)
        self.assertAlmostEqual(m["exec.s"], 0.4)
        self.assertAlmostEqual(m["exec.task_run_s"], 1.6)       # median pass is p=2
        self.assertAlmostEqual(m["exec.core_util"], 1.6 / (0.4 * 4))
        self.assertEqual(m["shuffle.write_bytes"], 2000.0)
        self.assertEqual(m["memory.peak_exec_bytes"], 20.0)
        self.assertEqual(m["checkpoint.rdds"], 2.0)
        self.assertAlmostEqual(m["trace.pass_s"], 0.9)
        self.assertEqual(set(m), set(metrics.LAYER_UNITS))

    def test_end_to_end(self):
        raw = self.raw()
        m, info = metrics.end_to_end(raw, 12.5)
        self.assertAlmostEqual(m["pass_s"], 0.9)
        self.assertAlmostEqual(info["query_p50_s"], 0.4)
        self.assertEqual(m["setup_s"], 12.5)
        self.assertEqual(info["query_samples"], 6)
        self.assertEqual(set(m), set(metrics.E2E_UNITS))


class BenchmarkSpecTest(unittest.TestCase):
    def test_spec_lists_exactly_the_reported_metrics(self):
        root = os.path.dirname(os.path.dirname(HERE))
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, metrics.LAYER_UNITS)


if __name__ == "__main__":
    unittest.main()
