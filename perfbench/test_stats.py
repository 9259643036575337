"""Self-test of the benchmark's arithmetic.

    python3 perfbench/test_stats.py
"""
import math
import sys
from fractions import Fraction
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402


class Geomean(unittest.TestCase):
    def test_known_values(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([2.0, 8.0, 4.0]), 4.0)
        self.assertAlmostEqual(stats.geomean([0.5]), 0.5)

    def test_each_value_weighs_the_same(self):
        # halving any one of n values scales the geomean by 2^(-1/n)
        xs = [0.1, 1.0, 10.0, 100.0]
        for i in range(len(xs)):
            ys = list(xs)
            ys[i] /= 2
            self.assertAlmostEqual(stats.geomean(ys) / stats.geomean(xs), 2 ** -0.25)

    def test_rejects_non_positive(self):
        for bad in ([], [1.0, 0.0], [-1.0]):
            with self.assertRaises(ValueError):
                stats.geomean(bad)


class Tail(unittest.TestCase):
    def test_needs_ten_beyond(self):
        self.assertIsNone(stats.tail(range(19)))  # p50 has 9 beyond
        self.assertEqual(stats.tail(range(1, 21)), (50.0, 10))  # 10 beyond p50

    def test_picks_highest_level(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.tail(xs), (90.0, 90))  # p95 has only 5 beyond
        self.assertEqual(stats.tail(range(1, 1001)), (99.0, 990))
        self.assertEqual(stats.tail(range(1, 10001)), (99.9, 9990))

    def test_beyond_count_holds_for_every_size(self):
        for n in range(1, 400):
            t = stats.tail(range(n))
            if t is None:
                self.assertLess(n, 20)
                continue
            level, _ = t
            rank = math.ceil(Fraction(str(level)) * n / 100)
            self.assertGreaterEqual(n - rank, 10)
            higher = [x for x in stats.TAIL_LEVELS if x > level]
            for h in higher:
                self.assertLess(n - math.ceil(Fraction(str(h)) * n / 100), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertAlmostEqual(stats.self_time(0.0, 10.0, []), 10.0)

    def test_disjoint_children(self):
        self.assertAlmostEqual(stats.self_time(0.0, 10.0, [(1, 2), (4, 7)]), 6.0)

    def test_overlapping_children_count_once(self):
        # a broadcast job inside a longer job, and two concurrent writes
        kids = [(1.0, 5.0), (2.0, 3.0), (6.0, 8.0), (7.0, 9.0)]
        self.assertAlmostEqual(stats.self_time(0.0, 10.0, kids), 10.0 - 4.0 - 3.0)

    def test_children_summing_past_the_span(self):
        # four concurrent jobs over the whole span: summed they are 4x the
        # span, covered they are the span, so self time is zero, not negative
        kids = [(0.0, 10.0)] * 4
        self.assertAlmostEqual(stats.self_time(0.0, 10.0, kids), 0.0)

    def test_children_clipped_to_the_span(self):
        kids = [(-5.0, 1.0), (9.0, 20.0), (30.0, 40.0)]
        self.assertAlmostEqual(stats.self_time(0.0, 10.0, kids), 8.0)

    def test_touching_children(self):
        self.assertAlmostEqual(stats.covered([(0, 1), (1, 2), (2, 3)], 0, 3), 3.0)
        self.assertAlmostEqual(stats.covered([(2, 3), (0, 1)], 0, 3), 2.0)


class PerLayer(unittest.TestCase):
    def test_jobs_placed_by_property_and_by_time(self):
        lines = [
            {"kind": "run", "id": 1, "parent": 0, "name": "run", "start": 0, "end": 20},
            {"kind": "pass", "id": 2, "parent": 1, "name": "pass0", "start": 0, "end": 10},
            {"kind": "query", "id": 3, "parent": 2, "name": "q", "start": 0, "end": 10},
            {"kind": "build", "id": 4, "parent": 3, "name": "q", "start": 0, "end": 6},
            {"kind": "drain", "id": 5, "parent": 3, "name": "q", "start": 6, "end": 10},
            # two overlapping labelled store writes under the build span
            job(10, 4, "writeMinhashStore: sigs", 1, 3),
            job(11, 4, "writeMinhashStore: buckets", 2, 4),
            # a job with no span property, placed into the query by time
            job(12, -1, "", 7, 9),
            # the fence job after the pass: dropped
            job(13, -1, "", 15, 16),
            {"kind": "qe", "parent": 3, "start": 9, "end": 9, "attrs": {
                "analysis_s": 0.1, "optimization_s": 0.2, "planning_s": 0.3,
                "plans_nodes": 2, "codegen_s": 0.5}},
            {"kind": "batch", "parent": -1, "start": 2, "end": 2.5,
             "attrs": {"input_rows": 7}},
        ]
        result = {"cpus": 4, "passes": [
            {"phase": "measure", "traced": True, "wall_s": 10.0},
            {"phase": "measure", "traced": False, "wall_s": 8.0}]}
        m = stats.per_layer(result, lines)
        self.assertEqual(m["scheduler.jobs"], 3)
        self.assertEqual(m["queries.build_jobs"], 2)
        self.assertAlmostEqual(m["queries.build_s"], 6.0)
        self.assertAlmostEqual(m["queries.drain_s"], 4.0)
        self.assertAlmostEqual(m["queries.driver_gap_s"], 6.0 - 3.0)
        self.assertAlmostEqual(m["scheduler.job_s"], 3.0 + 2.0)
        self.assertEqual(m["store.write_jobs"], 2)
        self.assertAlmostEqual(m["store.write_s"], 3.0)
        self.assertEqual(m["gate.jobs"], 0)
        self.assertAlmostEqual(m["exec.run_s"], 3.0)
        self.assertAlmostEqual(m["scheduler.core_busy_ratio"], 3.0 / (10.0 * 4))
        self.assertAlmostEqual(m["scheduler.tasks_per_stage"], 2.0)
        self.assertEqual(m["catalyst.executions"], 1)
        self.assertAlmostEqual(m["plans.codegen_s"], 0.5)
        self.assertEqual(m["streaming.batches"], 1)
        self.assertEqual(m["streaming.input_rows"], 7)
        self.assertAlmostEqual(m["trace.overhead_s"], 2.0)


class Overhead(unittest.TestCase):
    def test_pairs_in_either_order(self):
        walls = [(False, 8.0), (True, 9.0), (True, 12.0), (False, 9.0),
                 (False, 7.0), (True, 9.0)]
        passes = [{"traced": t, "wall_s": w} for t, w in walls]
        # differences 1, 3, 2
        self.assertAlmostEqual(stats.tracing_overhead(passes), 2.0)


class EndToEnd(unittest.TestCase):
    def test_warmup_checked_but_not_measured(self):
        def q(name, latency, error=None):
            return {"name": name, "latency_s": latency, "error": error}

        def p(phase, wall, queries, heap):
            return {"phase": phase, "traced": False, "wall_s": wall, "cpu_s": 2 * wall,
                    "mem_peak_mb": heap, "queries": queries}

        result = {"setup_s": 5.0, "passes": [
            p("warmup", 50.0, [q("a", 40.0), q("b", 10.0)], 999.0),
            p("measure", 3.0, [q("a", 1.0), q("b", 2.0)], 100.0),
            p("measure", 5.0, [q("a", 2.0), q("b", 3.0)], None),
            p("measure", 4.0, [q("a", 4.0), q("b", 8.0)], 120.0)]}
        m, samples, attempted, failed = stats.end_to_end(result, {"a": None, "b": "rows 1 vs oracle 2"})
        self.assertEqual(m["setup_s"], 5.0)
        self.assertEqual(m["wall_s"], 4.0)
        self.assertEqual(m["cpu_s"], 8.0)
        self.assertAlmostEqual(m["query_geomean_s"], math.sqrt(2.0 * 3.0))
        self.assertAlmostEqual(m["mem_peak_mb"], 110.0)
        self.assertEqual((attempted, failed), (8, 1))
        self.assertEqual(len(samples["query_geomean_s"]), 6)


def job(jid, parent, label, start, end):
    attrs = {k: 0.0 for k in ("cpu_s", "gc_s", "deserialize_s", "shuffle_read_b",
                              "shuffle_write_b", "spill_b", "scan_read_b",
                              "sink_write_b")}
    attrs.update(stages=1.0, tasks=2.0, run_s=1.0)
    return {"kind": "job", "id": jid, "parent": parent, "name": label,
            "start": start, "end": end, "ok": True, "attrs": attrs}


if __name__ == "__main__":
    unittest.main()
