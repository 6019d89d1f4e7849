"""Self-tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import stats


class UnionLength(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(stats.union_length([(0, 2), (5, 6)]), 3)

    def test_overlap_counts_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (3, 5)]), 6)

    def test_nested_and_unsorted(self):
        self.assertEqual(stats.union_length([(10, 12), (0, 10), (1, 2)]), 12)

    def test_touching_intervals(self):
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2)

    def test_empty(self):
        self.assertEqual(stats.union_length([]), 0)


class SelfTime(unittest.TestCase):
    def test_children_outside_span_are_clipped(self):
        # span 10..20; children cover 5..12 and 18..30 -> 2 + 2 inside
        self.assertEqual(stats.self_time((10, 20), [(5, 12), (18, 30)]), 6)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 5), (2, 6)]), 5)

    def test_no_children(self):
        self.assertEqual(stats.self_time((3, 7), []), 4)

    def test_disjoint_child_dropped(self):
        self.assertEqual(stats.clip([(0, 1), (2, 3)], 1, 2), [])


class Quartiles(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        values = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.9, 7.9]
        q1, q2, q3 = statistics.quantiles(values, n=4)
        self.assertEqual(stats.quartiles(values), (q1, q2, q3))
        self.assertEqual(q2, statistics.median(values))

    def test_single_value(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0, 16.0]), 4.0)


class PassLayers(unittest.TestCase):
    def task(self, launch, finish, run_ms, **kw):
        t = dict(stage=1, launch=launch, finish=finish, ok=True, run_ms=run_ms,
                 cpu_ns=0, gc_ms=0, deser_ms=0, ser_ms=0, get_ms=0, result_b=0,
                 in_rows=0, out_b=0, sw_b=0, sw_rec=0, sw_ns=0, sr_b=0,
                 spill_b=0)
        t.update(kw)
        return t

    def test_rollup(self):
        gates = [{"start": 0, "end": 4000, "sec": 4.0},
                 {"start": 5000, "end": 6000, "sec": 1.0}]
        jobs = [{"start": 1000, "end": 3000}, {"start": 2000, "end": 3500},
                {"start": 5000, "end": 5500}, {"start": 9000, "end": 9900}]
        tasks = [self.task(1000, 1900, 800, deser_ms=50, in_rows=20_000),
                 self.task(2000, 3000, 1000, stage=2, ok=False, sw_b=1_000_000),
                 self.task(5100, 5400, 300, stage=3, out_b=500_000),
                 self.task(9100, 9200, 100, stage=4)]
        m = stats.pass_layers(gates, jobs, tasks, cpus=4)
        self.assertEqual(m["jobs.count"], 3)
        self.assertEqual(m["jobs.stages"], 3)
        self.assertEqual(m["jobs.tasks"], 3)
        self.assertAlmostEqual(m["jobs.open_s"], 3.0)
        self.assertAlmostEqual(m["operators.task_s"], 2.1)
        self.assertAlmostEqual(m["jobs.idle_core_s"], 4 * 3.0 - 2.1)
        self.assertAlmostEqual(m["driver.self_s"], (4.0 - 2.5) + (1.0 - 0.5))
        # task 1: 900 ms span, 800 run, 50 deserialize -> 50 delay + 50
        self.assertAlmostEqual(m["jobs.task_overhead_s"], 0.1 + 0.0 + 0.0)
        self.assertEqual(m["jobs.failed_tasks"], 1)
        self.assertEqual(m["sources.input_rows"], 20_000)
        self.assertAlmostEqual(m["sources.scan_task_s"], 0.8)
        self.assertAlmostEqual(m["sources.write_task_s"], 0.3)
        self.assertAlmostEqual(m["exchange.write_mb"], 1.0)
        self.assertAlmostEqual(m["operators.core_util"], 2.1 / 12.0)
        self.assertEqual(set(m), set(stats.LAYER_UNITS))


class GateJobs(unittest.TestCase):
    def test_job_goes_to_gate_holding_its_start(self):
        record = {
            "gates": [{"pass": 0, "gate": "a", "start": 0, "end": 100},
                      {"pass": 2, "gate": "a", "start": 200, "end": 300},
                      {"pass": 2, "gate": "b", "start": 300, "end": 400},
                      {"pass": 3, "gate": "a", "start": 500, "end": 600},
                      {"pass": 3, "gate": "b", "start": 600, "end": 700}],
            "jobs": [{"start": 50}, {"start": 210}, {"start": 250},
                     {"start": 350}, {"start": 590}, {"start": 650},
                     {"start": 660}, {"start": 670}]}
        # pass 0 is not asked for; a: 2 and 1 jobs, b: 1 and 3 jobs
        self.assertEqual(stats.gate_jobs(record, [2, 3]), {"a": 1.5, "b": 2})


if __name__ == "__main__":
    unittest.main()
