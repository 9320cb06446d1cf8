"""Self-tests of the benchmark's metric math.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        p, v = metrics.tail(xs)
        self.assertEqual(p, 90)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_highest_such_percentile(self):
        for n in (20, 37, 64, 150, 1000):
            xs = [float(i) for i in range(n)]
            p, v = metrics.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            # one percentile higher leaves fewer than ten beyond
            rank = -(-(p + 1) * n // 100)
            self.assertLess(n - rank, 10, n)

    def test_order_free(self):
        xs = [5.0, 1.0, 3.0] * 10
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(metrics.tail([1.0, 2.0, 3.0]), (50, 2.0))
        xs = [float(i) for i in range(16)]  # p37 would have ten beyond
        self.assertEqual(metrics.tail(xs), (50, 7.5))
        xs = [float(i) for i in range(20)]  # p50: the median, not a rank
        self.assertEqual(metrics.tail(xs), (50, 9.5))


class UnionTest(unittest.TestCase):
    def test_overlap_and_gap(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.union_ms([(0, 10), (2, 3), (10, 12)]), 12)

    def test_empty_and_degenerate(self):
        self.assertEqual(metrics.union_ms([]), 0)
        self.assertEqual(metrics.union_ms([(4, 4), (5, 3)]), 0)

    def test_idle_is_wall_minus_job_union(self):
        # query 0..100 ms; jobs 10..30 and 20..50 overlap, 90..120 spills
        # past the end and is clipped: 40 + 10 covered, 50 idle
        jobs = [(10, 30), (20, 50), (90, 120)]
        self.assertEqual(metrics.self_ms((0, 100), jobs), 50)


class SelfTimeTest(unittest.TestCase):
    def test_children_clipped_to_parent(self):
        self.assertEqual(metrics.covered_ms((10, 20), [(0, 12), (18, 30)]), 4)
        self.assertEqual(metrics.self_ms((10, 20), [(0, 12), (18, 30)]), 6)

    def test_no_children(self):
        self.assertEqual(metrics.self_ms((3, 8), []), 5)

    def test_fully_covered(self):
        self.assertEqual(metrics.self_ms((0, 10), [(0, 6), (4, 10)]), 0)


class DigestTest(unittest.TestCase):
    def test_match(self):
        self.assertEqual(metrics.compare_digests({"a": "x"}, {"a": "x"}), [])

    def test_mismatch_missing_and_unexpected(self):
        actual = {"a": "x", "b": None, "c": "z", "d": "w"}
        expected = {"a": "y", "b": "y", "c": "z", "e": "v"}
        self.assertEqual(metrics.compare_digests(actual, expected),
                         ["a", "b", "d", "e"])


class AttributionTest(unittest.TestCase):
    def setUp(self):
        self.execs = [
            {"id": "p0.0", "pass": 0, "q": "a", "traced": True, "ok": True,
             "t0": 0.0, "tb": 40.0, "t1": 100.0, "compile_ns": 2e6,
             "compiles": 1, "files_discovered": 1, "file_cache_hits": 0},
            {"id": "p0.1", "pass": 0, "q": "b", "traced": True, "ok": True,
             "t0": 100.0, "tb": 110.0, "t1": 200.0, "compile_ns": 0,
             "compiles": 0, "files_discovered": 0, "file_cache_hits": 1},
        ]
        self.jobs = [
            # build-time job of a, by group
            {"id": 0, "group": "p0.0", "start_ms": 10, "end_ms": 30,
             "stages": [0]},
            # action job of a
            {"id": 1, "group": "p0.0", "start_ms": 50, "end_ms": 90,
             "stages": [1, 2]},
            # a streaming micro-batch job of b: foreign group, by time
            {"id": 2, "group": "stream-run", "start_ms": 105, "end_ms": 108,
             "stages": [3]},
        ]
        stage = dict(attempt=0, retries=0, cpu_ms=1.0, gc_ms=0,
                     deserialize_ms=1, shuffle_write_bytes=0,
                     shuffle_read_bytes=0, fetch_wait_ms=0, spill_bytes=0,
                     scan_bytes=10, scan_rows=1, sink_bytes=0, sink_rows=0)
        self.stages = [
            dict(stage, id=0, submit_ms=10, end_ms=30, tasks=4, run_ms=40,
                 launch_delay_ms=4.0),
            dict(stage, id=1, submit_ms=50, end_ms=70, tasks=4, run_ms=60,
                 launch_delay_ms=8.0),
            dict(stage, id=2, submit_ms=70, end_ms=90, tasks=1, run_ms=20,
                 launch_delay_ms=0.0),
            dict(stage, id=3, submit_ms=105, end_ms=108, tasks=1, run_ms=3,
                 launch_delay_ms=1.0),
        ]
        self.plans = [{"kind": "plan", "func": "command", "ok": True,
                       "end_ms": 95,
                       "phases": {"analysis": [41, 43],
                                  "optimization": [43, 46],
                                  "planning": [46, 50]}}]
        self.progress = [{"start_ms": 104, "trigger_ms": 5,
                          "add_batch_ms": 3, "input_rows": 7,
                          "state_commit_ms": 1, "state_rows": 9,
                          "state_mem_bytes": 100}]

    def events(self):
        return metrics.attribute(self.execs, self.jobs, self.stages,
                                 self.plans, self.progress)

    def test_jobs_by_group_then_time(self):
        ev = self.events()
        self.assertEqual([j["id"] for j in ev["p0.0"]["jobs"]], [0, 1])
        self.assertEqual([j["id"] for j in ev["p0.1"]["jobs"]], [2])
        self.assertEqual([s["id"] for s in ev["p0.0"]["stages"]], [0, 1, 2])
        self.assertEqual(len(ev["p0.1"]["progress"]), 1)

    def test_exec_layers(self):
        ev = self.events()
        m = metrics.exec_layers(self.execs[0], ev["p0.0"])
        self.assertEqual(m["build.wall_ms"], 40)
        self.assertEqual(m["build.jobs"], 1)
        self.assertEqual(m["build.tasks"], 4)
        self.assertEqual(m["build.task_ms"], 40)
        self.assertEqual(m["exec.jobs"], 2)
        self.assertEqual(m["exec.tasks"], 9)
        self.assertEqual(m["plan.planning_ms"], 4)
        self.assertEqual(m["codegen.compile_ms"], 2)
        # wall 100, jobs cover 10..30 and 50..90
        self.assertEqual(m["sched.idle_ms"], 40)
        # build 0..40 minus its job 10..30
        self.assertEqual(m["self.build_ms"], 20)
        # action 40..100 minus phases 41..50 and job 50..90
        self.assertEqual(m["self.action_ms"], 11)
        b = metrics.exec_layers(self.execs[1], ev["p0.1"])
        self.assertEqual(b["stream.batches"], 1)
        self.assertEqual(b["stream.state_rows"], 9)

    def test_pass_ratios(self):
        tot = metrics.pass_layers(self.execs, self.events(), cores=4)
        self.assertEqual(tot["exec.tasks"], 10)
        self.assertAlmostEqual(tot["sched.launch_delay_ms"], 13.0 / 10)
        self.assertAlmostEqual(tot["cores.busy_frac"], 123 / (200 * 4))

    def test_span_tree(self):
        spans = metrics.spans(self.execs, self.events())
        by = {s["id"]: s for s in spans}
        self.assertIsNone(by["p0.0"]["parent"])
        self.assertEqual(by["p0.0/job0"]["parent"], "p0.0/build")
        self.assertEqual(by["p0.0/job1"]["parent"], "p0.0/action")
        self.assertEqual(by["p0.0/stage2.0"]["parent"], "p0.0/job1")
        self.assertEqual(by["p0.0/plan0.planning"]["parent"], "p0.0/action")
        self.assertTrue(all(s["exec"] in ("p0.0", "p0.1") for s in spans))
        self.assertEqual(len(by), len(spans))  # ids are unique

    def test_stage_listed_by_two_jobs_is_one_span(self):
        # job 1 re-lists stage 0 (skipped there, it ran under job 0)
        self.jobs[1]["stages"] = [0, 1, 2]
        spans = metrics.spans(self.execs, self.events())
        stage0 = [s for s in spans if s["id"] == "p0.0/stage0.0"]
        self.assertEqual(len(stage0), 1)
        self.assertEqual(stage0[0]["parent"], "p0.0/job0")


if __name__ == "__main__":
    unittest.main()
