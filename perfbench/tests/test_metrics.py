"""Self-tests of the benchmark's derived metrics:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402


class TailTest(unittest.TestCase):
    def test_rank_leaves_ten_calls_beyond(self):
        values = list(range(1, 101))          # 100 calls, 1..100 s
        p, v, beyond = M.tail(values)
        self.assertEqual((p, v, beyond), (90.0, 90, 10))

    def test_percentile_rises_with_calls(self):
        self.assertEqual(M.tail(list(range(40)))[0], 75.0)
        self.assertEqual(M.tail(list(range(1000)))[0], 99.0)

    def test_order_of_input_is_irrelevant(self):
        self.assertEqual(M.tail([5, 1, 4, 2, 3] * 6), M.tail(sorted([5, 1, 4, 2, 3] * 6)))

    def test_few_calls_fall_back_to_median(self):
        p, v, beyond = M.tail([3.0, 1.0, 2.0, 10.0])
        self.assertEqual((p, v, beyond), (50.0, 2.5, 2))
        self.assertEqual(M.tail([7.0]), (50.0, 7.0, 0))

    def test_twenty_calls_is_the_median_rank(self):
        p, v, beyond = M.tail(list(range(1, 21)))
        self.assertEqual((p, v, beyond), (50.0, 10, 10))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        self.assertEqual(M.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_union_of_nested_and_touching(self):
        self.assertEqual(M.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_union_clips_to_window(self):
        self.assertEqual(M.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(M.union_length([(11, 12)], 0, 10), 0)
        self.assertEqual(M.union_length([]), 0)

    def test_driver_gap_is_wall_minus_busy(self):
        stages = [(100, 300), (250, 400), (600, 700)]   # ms
        busy = M.union_length(stages, 0, 1000) / 1000.0
        self.assertAlmostEqual(busy, 0.4)
        self.assertAlmostEqual(1.0 - busy, 0.6)

    def test_max_overlap(self):
        self.assertEqual(M.max_overlap([(0, 5), (1, 2), (3, 6), (6, 7)]), 2)
        self.assertEqual(M.max_overlap([(0, 5), (1, 4), (2, 3)]), 3)
        self.assertEqual(M.max_overlap([]), 0)


def span(id_, parent, kind, start, end, call=0):
    return {"id": id_, "parent": parent, "kind": kind, "name": id_, "call": call,
            "start_ms": start, "end_ms": end}


class SelfTimeTest(unittest.TestCase):
    def spans(self):
        return [
            span("call0", "", "call", 0, 1000),
            span("call0.build", "call0", "build", 0, 400),
            span("call0.plan", "call0", "plan", 400, 500),
            span("call0.exec", "call0", "exec", 500, 1000),
            span("job1", "call0", "job", 100, 300),
            span("job2", "call0", "job", 600, 900),
            span("job3", "call0", "job", 650, 950),
            span("stage1", "job1", "stage", 150, 250),
            span("stage2", "job2", "stage", 600, 900),
        ]

    def test_jobs_attach_to_the_phase_they_start_in(self):
        parents = {s["id"]: s["parent"] for s in M.attach_jobs(self.spans())}
        self.assertEqual(parents["job1"], "call0.build")
        self.assertEqual(parents["job2"], "call0.exec")
        self.assertEqual(parents["job3"], "call0.exec")

    def test_self_time_subtracts_union_of_children(self):
        st = M.self_times(M.attach_jobs(self.spans()))
        self.assertAlmostEqual(st["call0"], 0.0)      # phases tile the call
        self.assertAlmostEqual(st["call0.build"], 0.2)
        self.assertAlmostEqual(st["call0.plan"], 0.1)
        self.assertAlmostEqual(st["call0.exec"], 0.15)  # jobs cover 600..950
        self.assertAlmostEqual(st["job1"], 0.1)
        self.assertAlmostEqual(st["job2"], 0.0)
        self.assertAlmostEqual(st["stage1"], 0.1)

    def test_self_times_sum_to_root_duration(self):
        spans = M.attach_jobs([s for s in self.spans() if s["id"] != "job3"])
        st = M.self_times(spans)
        self.assertAlmostEqual(sum(st.values()), 1.0)

    def test_children_outside_parent_are_clipped(self):
        st = M.self_times([span("a", "", "call", 0, 100), span("b", "a", "job", 50, 500)])
        self.assertAlmostEqual(st["a"], 0.05)


class ScheduleTest(unittest.TestCase):
    QUERIES = ["q1", "q3", "q5", "q9", "x_a", "x_b"]

    def test_same_seed_same_order(self):
        self.assertEqual(M.schedule(7, self.QUERIES, 50), M.schedule(7, self.QUERIES, 50))

    def test_seed_changes_order(self):
        self.assertNotEqual(M.schedule(7, self.QUERIES, 50), M.schedule(8, self.QUERIES, 50))

    def test_every_pass_is_a_permutation(self):
        passes = M.schedule(3, self.QUERIES, 20)
        self.assertEqual(len(passes), 20)
        for p in passes:
            self.assertEqual(sorted(p), sorted(self.QUERIES))
        self.assertGreater(len({tuple(p) for p in passes}), 1)


if __name__ == "__main__":
    unittest.main()
