"""Unit tests for the benchmark's arithmetic.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import unittest

import stats


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(0))
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_chosen_percentile_leaves_ten_beyond(self):
        for n in range(20, 3000, 7):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            v = stats.percentile(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)

    def test_percentile_and_median(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertEqual(stats.median(xs), 3)
        self.assertEqual(stats.median([1, 2, 3, 4]), 2.5)


class UnionLength(unittest.TestCase):
    def test_disjoint_overlapping_nested(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 1), (2, 4)]), 3)
        self.assertEqual(stats.union_length([(0, 3), (2, 5)]), 5)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(stats.union_length([(2, 5), (0, 3), (5, 6)]), 6)

    def test_clipped_to_window(self):
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.union_length([(0, 1), (8, 12)], 2, 10), 2)
        self.assertEqual(stats.union_length([(0, 1)], 2, 10), 0)


def op_events(op, jobs):
    """Span log for one op whose jobs each have one stage and tasks."""
    out = [{"ev": "op_start", "op": op}]
    for job, stage, t0, t1, tasks in jobs:
        out.append({"ev": "job_start", "job": job, "t": t0, "stages": [stage]})
        for a, b in tasks:
            out.append(task(stage, a, b))
        out.append({"ev": "stage", "stage": stage, "attempt": 0, "t0": t0,
                    "t1": t1, "tasks": len(tasks)})
        out.append({"ev": "job_end", "job": job, "t": t1})
    out.append({"ev": "op_end", "op": op})
    return out


def task(stage, a, b, cpu_ns=1000):
    return {"ev": "task", "stage": stage, "t0": a, "t1": b, "run_ms": b - a,
            "cpu_ns": cpu_ns, "gc_ms": 0, "shw_b": 0, "fw_ms": 0, "spill_b": 0}


class Attribute(unittest.TestCase):
    def test_jobs_stages_tasks_follow_their_op(self):
        ev = (op_events(0, [(1, 10, 0, 10, [(1, 5), (2, 9)])])
              + op_events(1, [(2, 11, 20, 30, [(21, 29)]),
                              (3, 12, 31, 40, [(32, 39)])]))
        ops, unclaimed = stats.attribute(ev)
        self.assertEqual(unclaimed, 0)
        self.assertEqual(ops[0]["jobs"], {1: [0, 10]})
        self.assertEqual(len(ops[0]["tasks"]), 2)
        self.assertEqual(sorted(ops[1]["jobs"]), [2, 3])
        self.assertEqual(len(ops[1]["stages"]), 2)
        self.assertEqual(len(ops[1]["tasks"]), 2)

    def test_late_task_end_counts_for_the_op_that_caused_it(self):
        ev = op_events(0, [(1, 10, 0, 10, [(1, 5)])])
        ev += op_events(1, [(2, 11, 20, 30, [(21, 29)])])
        # a straggler of op 0's stage, delivered after op 1 ended
        ev.append(task(10, 2, 12, cpu_ns=7))
        ops, unclaimed = stats.attribute(ev)
        self.assertEqual(unclaimed, 0)
        self.assertEqual([t["cpu_ns"] for t in ops[0]["tasks"]], [1000, 7])
        self.assertEqual(len(ops[1]["tasks"]), 1)

    def test_work_outside_ops_is_unclaimed(self):
        # jobs between op_end and the next op_start (output checks)
        ev = op_events(0, [(1, 10, 0, 10, [(1, 5)])])
        ev += [{"ev": "job_start", "job": 2, "t": 11, "stages": [11]},
               task(11, 11, 12),
               {"ev": "stage", "stage": 11, "attempt": 0, "t0": 11, "t1": 12, "tasks": 1},
               {"ev": "job_end", "job": 2, "t": 12}]
        ops, unclaimed = stats.attribute(ev)
        self.assertEqual(unclaimed, 2)
        self.assertEqual(list(ops), [0])
        self.assertEqual(ops[0]["jobs"], {1: [0, 10]})


class Breakdown(unittest.TestCase):
    def test_self_times_add_up_to_the_op_wall(self):
        spans = [("ingest.read", 0, 10), ("ingest.infer", 10, 60),
                 ("ingest.write_parquet", 60, 90)]
        jobs = [(12, 40), (30, 55), (62, 88)]
        stages = [{"t0": 14, "t1": 38}, {"t0": 32, "t1": 50}, {"t0": 64, "t1": 86}]
        tasks = [{"t0": 15, "t1": 20}, {"t0": 16, "t1": 36}, {"t0": 40, "t1": 49},
                 {"t0": 65, "t1": 85}]
        b = stats.breakdown(0, 100, spans, jobs, stages, tasks)
        self.assertAlmostEqual(sum(b.values()), 0.1)
        self.assertAlmostEqual(b["bench"], 0.010)
        self.assertAlmostEqual(b["ingest.read"], 0.010)
        self.assertAlmostEqual(b["ingest.infer"], 0.050 - 0.043)
        self.assertAlmostEqual(b["ingest.write_parquet"], 0.030 - 0.026)
        self.assertAlmostEqual(b["spark.job_sched"], (43 + 26 - 36 - 22) / 1000)
        self.assertAlmostEqual(b["spark.stage_idle"], (36 + 22 - 30 - 20) / 1000)
        self.assertAlmostEqual(b["spark.task_busy"], (21 + 9 + 20) / 1000)

    def test_job_still_running_at_op_end_is_clipped(self):
        b = stats.breakdown(0, 10, [("ops.exec", 0, 10)], [(2, None)], [], [])
        self.assertAlmostEqual(b["ops.exec"], 0.002)
        self.assertAlmostEqual(b["spark.job_sched"], 0.008)
        self.assertAlmostEqual(sum(b.values()), 0.010)


if __name__ == "__main__":
    unittest.main()
