"""Tests of the benchmark's span arithmetic on hand-built spans.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCHMARK.json")


def span(id, parent, kind, name, start, end, **attrs):
    return {"id": id, "parent": parent, "kind": kind, "name": name,
            "start": start, "end": end, "attrs": attrs}


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4, 1, 3, 2]
        self.assertEqual(metrics.percentile(xs, 50), 2.5)
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 100), 4)
        self.assertAlmostEqual(metrics.percentile(xs, 75), 3.25)

    def test_single_value(self):
        self.assertEqual(metrics.percentile([7.5], 75), 7.5)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class UnionTest(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(metrics.union_ms([(0, 2), (5, 6)]), 3)

    def test_overlapping_jobs_count_once(self):
        # two jobs running at once for 3 ms: 10 ms busy, not 13
        self.assertEqual(metrics.union_ms([(0, 6), (3, 10)]), 10)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.union_ms([(0, 10), (2, 3), (10, 12)]), 12)

    def test_unsorted_and_empty_intervals(self):
        self.assertEqual(metrics.union_ms([(8, 9), (0, 1), (4, 4)]), 2)
        self.assertEqual(metrics.union_ms([]), 0)

    def test_clip_to_window(self):
        self.assertEqual(metrics.clip([(0, 5), (8, 20), (30, 40)], 2, 10),
                         [(2, 5), (8, 10)])


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_subtract_once(self):
        parent = span("o1", "r", "op", "q", 0, 100)
        kids = [span("j1", "o1", "job", "a", 10, 50),
                span("j2", "o1", "job", "b", 40, 70)]
        # children cover 10..70 = 60 ms; 40 ms is the op's own
        self.assertEqual(metrics.self_ms(parent, kids), 40)

    def test_children_outside_parent_are_clipped(self):
        parent = span("o1", "r", "op", "q", 0, 10)
        kids = [span("j1", "o1", "job", "a", -5, 3),
                span("j2", "o1", "job", "b", 8, 30)]
        self.assertEqual(metrics.self_ms(parent, kids), 5)


def catalog_record():
    """One run, two rounds of one query each. Round 0's query runs two
    overlapping construct jobs and one write job; round 1's is slower."""
    spans = [
        span("run", "", "run", "catalog_relational", 0, 1000),
        span("r0", "run", "round", "round 0", 0, 100, cpu_ms=250),
        span("o0", "r0", "op", "q01", 0, 100, ok=True),
        span("c0", "o0", "construct", "q01", 0, 60),
        span("w0", "o0", "write", "q01", 60, 100),
        span("j1", "c0", "job", "job 1", 10, 40, stages=1, stages_skipped=0,
             ok=True),
        span("j2", "c0", "job", "job 2", 30, 50, stages=2, stages_skipped=1,
             ok=True),
        span("j3", "w0", "job", "job 3", 70, 90, stages=1, stages_skipped=0,
             ok=True),
        span("s1.0", "j1", "stage", "s", 10, 40, tasks=4, task_ms=40,
             task_max_ms=20, task_median_ms=5, input_bytes=100,
             shuffle_read_bytes=0, shuffle_write_bytes=10, spill_bytes=0),
        span("s2.0", "j3", "stage", "s", 70, 90, tasks=2, task_ms=10,
             task_max_ms=6, task_median_ms=5, input_bytes=0,
             shuffle_read_bytes=10, shuffle_write_bytes=0, spill_bytes=0),
        span("q1", "", "qe", "save", 61, 64, analysis_ms=1,
             optimization_ms=1, planning_ms=1),
        span("q2", "", "qe", "collect", 11, 12, analysis_ms=5,
             optimization_ms=5, planning_ms=5),
        span("r1", "run", "round", "round 1", 200, 400, cpu_ms=350),
        span("o1", "r1", "op", "q01", 200, 400, ok=True),
        span("c1", "o1", "construct", "q01", 200, 300),
        span("w1", "o1", "write", "q01", 300, 400),
    ]
    return {"spans": spans, "checks": [], "peak_rss_kb": 2048}


class RunMetricsTest(unittest.TestCase):
    def test_end_to_end(self):
        run = metrics.Run(catalog_record())
        m = metrics.end_to_end(run, 3.5)
        self.assertEqual(m["setup_s"], (3.5, "s"))
        self.assertEqual(m["cpu_s"], (0.3, "s"))  # median of 0.25, 0.35
        self.assertEqual(m["peak_rss_mb"], (2.0, "MB"))

    def test_failed_check_fails_its_ops(self):
        rec = catalog_record()
        rec["checks"] = [{"name": "q01", "ok": False, "detail": "",
                          "fails_ops": ["q01"]}]
        run = metrics.Run(rec)
        self.assertEqual(len(metrics.failed_ops(run)), 2)
        self.assertEqual(len(metrics.failed_ops(metrics.Run(
            catalog_record()), ["q01"])), 2)

    def test_per_layer_round_zero(self):
        rec = catalog_record()
        # keep only round 0, so the median over rounds is round 0 itself
        rec["spans"] = [s for s in rec["spans"]
                        if s["id"] not in ("r1", "o1", "c1", "w1")]
        m = metrics.per_layer(metrics.Run(rec), lambda b: 0)
        self.assertEqual(m["run.wall_s"][0], 0.1)
        self.assertEqual(m["run.op_p50_ms"][0], 100)
        self.assertEqual(m["SparkEntry.construct_ms"][0], 60)
        self.assertEqual(m["SparkEntry.construct_jobs"][0], 2)
        self.assertEqual(m["SparkEntry.write_jobs"][0], 1)
        # only the qe inside the write span is the final write's planning
        self.assertEqual(m["catalyst.planning_ms"][0], 1)
        self.assertEqual(m["exec.jobs"][0], 3)
        self.assertEqual(m["exec.stages"][0], 2)
        self.assertEqual(m["exec.stages_skipped"][0], 1)
        self.assertEqual(m["exec.tasks"][0], 6)
        # jobs 10..40 and 30..50 overlap: busy 40 + 20, gap 40
        self.assertEqual(m["exec.busy_ms"][0], 60)
        self.assertEqual(m["exec.gap_ms"][0], 40)
        # slowest stage of the op is s1.0: max 20 over median 5
        self.assertEqual(m["exec.task_skew"][0], 4)
        self.assertEqual(m["CleanOps.probe_ms"][0], 0)


class DeclaredMetricsTest(unittest.TestCase):
    """A run prints exactly the metrics BENCHMARK.json declares, with the
    declared units."""

    def test_names_and_units_match_the_declaration(self):
        with open(BENCHMARK) as f:
            declared = json.load(f)
        run = metrics.Run(catalog_record())
        for key, got in [
                ("end_to_end", metrics.end_to_end(run, 1.0)),
                ("per_layer", metrics.per_layer(run, lambda b: 0))]:
            want = {m["name"]: m["unit"] for m in declared[key]}
            self.assertEqual(want, {k: u for k, (_, u) in got.items()})


if __name__ == "__main__":
    unittest.main()
