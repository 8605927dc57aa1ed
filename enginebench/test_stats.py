"""Unit tests of the benchmark's arithmetic. Run: python3 -m unittest
discover -s enginebench -p 'test_*.py' (no JVM needed)."""
import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.percentile(list(range(99)), 0.9))
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.9), 90)

    def test_nearest_rank_on_unsorted_input(self):
        vals = [float(v) for v in reversed(range(1, 201))]
        self.assertEqual(stats.percentile(vals, 0.9), 180.0)
        self.assertEqual(stats.percentile(vals, 0.5), 100.0)

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 0.9))
        self.assertIsNone(stats.median([]))

    def test_quartile_spread_matches_statistics_quantiles(self):
        q1, q2, q3, spread = stats.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(spread, 1.0)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlapping_and_touching(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4)]), [(0, 4), (5, 7)])
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (9, 12), (20, 21)]), 13)

    def test_union_ignores_empty_intervals(self):
        self.assertEqual(stats.union_length([(4, 4), (6, 5)]), 0)

    def test_covered_clips_to_the_span(self):
        self.assertEqual(stats.covered((10, 20), [(0, 12), (15, 30), (16, 18)]), 7)
        self.assertEqual(stats.covered((10, 20), [(0, 5), (25, 30)]), 0)

    def test_self_time_is_wall_minus_children_union(self):
        # op 0..100; phases 0..5; jobs 10..40 and 30..60 overlap
        self.assertEqual(stats.self_time((0, 100), [(0, 5), (10, 40), (30, 60)]), 45)
        self.assertEqual(stats.self_time((0, 100), []), 100)


class PassTest(unittest.TestCase):
    def test_pass_orders_are_seeded_permutations(self):
        a = stats.pass_orders(["a", "b", "c", "d"], 7, 5)
        self.assertEqual(a, stats.pass_orders(["a", "b", "c", "d"], 7, 5))
        self.assertNotEqual(a, stats.pass_orders(["a", "b", "c", "d"], 8, 5))
        for order in a:
            self.assertEqual(sorted(order), ["a", "b", "c", "d"])

    def test_assemble_passes_sums_op_walls_of_one_kind(self):
        ops = [
            {"kind": "cold", "pass": 0, "start_ms": 0, "end_ms": 9000},
            {"kind": "window", "pass": 2, "start_ms": 100, "end_ms": 1100},
            {"kind": "window", "pass": 2, "start_ms": 1500, "end_ms": 2000},
            {"kind": "window", "pass": 1, "start_ms": 0, "end_ms": 2000},
        ]
        self.assertEqual(stats.assemble_passes(ops), [2.0, 1.5])
        self.assertEqual(stats.assemble_passes(ops, "cold"), [9.0])


class LayersTest(unittest.TestCase):
    def record(self):
        op = {"id": 3, "name": "em_fit", "kind": "window", "pass": 1,
              "start_ms": 1000, "end_ms": 2000,
              "detail": {"iterations": 2, "loglik": -5.0}}
        stage = {"op": 3, "id": 0, "submit_ms": 1110, "complete_ms": 1190, "tasks": 4,
                 "run_ms": 800, "cpu_ns": 6e8, "gc_ms": 10, "ser_ms": 5,
                 "peak_mem": 1048576, "in_bytes": 100, "in_rows": 10, "out_bytes": 0,
                 "out_rows": 0, "shuffle_write": 7, "shuffle_read": 7,
                 "fetch_wait_ms": 0, "spill": 0}
        return {
            "ops": [op], "empty_job_s": [0.01, 0.02, 0.03], "points": 1000,
            "trace": {
                "jobs": [
                    {"op": 3, "id": 0, "exec": 0, "start_ms": 1100, "end_ms": 1200},
                    {"op": 3, "id": 1, "exec": 1, "start_ms": 1300, "end_ms": 1500},
                    {"op": 3, "id": 2, "exec": 2, "start_ms": 1600, "end_ms": 1800},
                ],
                "stages": [stage],
                "qes": [{"op": 3, "func": "head", "phases": {"analysis": [1000, 1050]},
                         "operators": 5, "exchanges": 1, "broadcasts": 1}],
                "batches": [], "cache": [{"op": 3, "peak_bytes": 2097152, "blocks": 4}],
                "codegen": [{"op": 3, "compiles": 0, "compile_ns": 0}],
            },
        }

    def test_driver_gap_floor_and_gmm(self):
        m, split = stats.layers(self.record(), nproc=4)
        self.assertAlmostEqual(m["op.wall_s"], 1.0)
        # covered: 1000..1050, 1100..1200, 1300..1500, 1600..1800 = 550 ms
        self.assertAlmostEqual(m["op.driver_gap_s"], 0.45)
        self.assertAlmostEqual(m["sched.job_s"], 0.5)
        self.assertAlmostEqual(m["sched.empty_job_s"], 0.02)
        self.assertAlmostEqual(m["sched.floor_share"], 3 * 0.02 / 1.0)
        self.assertAlmostEqual(m["exec.busy_share"], 0.8 / 4)
        self.assertAlmostEqual(m["cache.peak_mb"], 2.0)
        # execution 0 is the moments pass; executions 1 and 2 iterate
        self.assertAlmostEqual(m["gmm.iter_s_p50"], 0.2)
        self.assertAlmostEqual(m["gmm.points_per_s"], 1000 * 2 / 0.4)
        # job 0 is covered 80 ms by its stage; jobs 1 and 2 have no stage spans
        self.assertAlmostEqual(split["job_self_s"], 0.02 + 0.2 + 0.2)


if __name__ == "__main__":
    unittest.main()
