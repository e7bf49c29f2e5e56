"""Tests for the benchmark's own arithmetic: python3 -m unittest discover perfbench"""
import itertools
import json
import os
import random
import unittest

import benchlib
import run


def brute_force_prefix(lines):
    xs = [l for l in lines if l]
    if not xs or len(set(xs)) < len(xs):
        return None
    return next(k for k in itertools.count(1) if len({l[:k] for l in xs}) == len(xs))


def call(name, start, end, total, phase="traced", pass_=1, **kw):
    c = {"call": name, "pass": pass_, "phase": phase, "start_ms": start,
         "end_ms": end, "total_s": total, "spans": {}, "output": None,
         "error": None, "resident_rdds_after": 0}
    c.update(kw)
    return c


class UnionLength(unittest.TestCase):
    def test_disjoint_overlapping_and_nested(self):
        self.assertEqual(benchlib.union_length([(0, 10), (20, 30)], 0, 100), 20)
        self.assertEqual(benchlib.union_length([(0, 10), (5, 15)], 0, 100), 15)
        self.assertEqual(benchlib.union_length([(0, 30), (5, 10), (12, 20)], 0, 100), 30)

    def test_clipped_to_window(self):
        self.assertEqual(benchlib.union_length([(-5, 5), (95, 120)], 0, 100), 10)
        self.assertEqual(benchlib.union_length([(200, 300)], 0, 100), 0)

    def test_touching_and_empty(self):
        self.assertEqual(benchlib.union_length([(0, 10), (10, 20)], 0, 100), 20)
        self.assertEqual(benchlib.union_length([], 0, 100), 0)

    def test_matches_a_unit_grid(self):
        rng = random.Random(1)
        for _ in range(200):
            ivs = [tuple(sorted(rng.sample(range(60), 2))) for _ in range(rng.randint(0, 6))]
            grid = sum(1 for t in range(10, 50) if any(s <= t < e for s, e in ivs))
            self.assertEqual(benchlib.union_length(ivs, 10, 50), grid)


class JobTime(unittest.TestCase):
    def test_in_and_outside_jobs_per_call(self):
        # Two calls of 1 s each; the gap between them is an untimed check
        # whose job must not count. Call a: jobs 100-400 and 300-600 (union
        # 500 ms). Call b: one job that outlives the call window.
        calls = [call("a", 0, 1000, 1.0), call("b", 2000, 3000, 1.0)]
        jobs = [{"start_ms": 100, "end_ms": 400, "tasks": 2},
                {"start_ms": 300, "end_ms": 600, "tasks": 2},
                {"start_ms": 1200, "end_ms": 1800, "tasks": 9},
                {"start_ms": 2500, "end_ms": 3400, "tasks": 1}]
        m = benchlib.layer_pass(calls, jobs, [])
        self.assertEqual(m["scheduler.jobs"], 3)
        self.assertEqual(m["scheduler.tasks"], 5)
        self.assertAlmostEqual(m["scheduler.in_jobs_s"], 1.0)
        self.assertAlmostEqual(m["scheduler.outside_jobs_s"], 1.0)

    def test_streaming_triggers_attributed_by_start(self):
        calls = [call("s", 0, 1000, 1.0)]
        p = {k: 0 for k, _, _ in benchlib.PROGRESS_COUNTERS}
        progress = [dict(p, ts_ms=10, input_rows=5, trigger_ms=200),
                    dict(p, ts_ms=500, input_rows=0, trigger_ms=50),
                    dict(p, ts_ms=1500, input_rows=7, trigger_ms=900)]
        m = benchlib.layer_pass(calls, [], progress)
        self.assertEqual(m["stream.batches"], 2)
        self.assertEqual(m["stream.empty_batches"], 1)
        self.assertEqual(m["stream.input_rows"], 5)
        self.assertAlmostEqual(m["stream.trigger_s"], 0.25)


class PassTime(unittest.TestCase):
    def test_pass_s_sums_per_call_medians(self):
        # Call a's burst in pass 1 and b's in pass 2 land in different
        # passes: the median pass (3.5 s) would carry one of them, the
        # per-call medians carry neither.
        samples = [call("a", 0, 1, 9.0, phase="warm", pass_=-1),
                   call("a", 0, 1, 1.0, phase="timed", pass_=0),
                   call("b", 0, 1, 2.0, phase="timed", pass_=0),
                   call("a", 0, 1, 1.5, phase="timed", pass_=1),
                   call("b", 0, 1, 2.0, phase="timed", pass_=1),
                   call("a", 0, 1, 1.0, phase="timed", pass_=2),
                   call("b", 0, 1, 3.0, phase="timed", pass_=2),
                   call("a", 0, 1, 5.0, phase="traced", pass_=3)]
        m = benchlib.end_to_end({"samples": samples, "setup_s": 5.0, "heap_retained_mb": 1.0})
        self.assertAlmostEqual(m["pass_s"][0], 3.0)


class OutputCheck(unittest.TestCase):
    def test_scalars(self):
        self.assertTrue(benchlib.output_ok(3296, 3296))
        self.assertFalse(benchlib.output_ok(3296, 3295))
        self.assertFalse(benchlib.output_ok(9, None))
        self.assertFalse(benchlib.output_ok(None, 9))

    def test_tallies(self):
        self.assertTrue(benchlib.output_ok({"a.com": 2, "b.com": 1}, {"b.com": 1, "a.com": 2}))
        self.assertFalse(benchlib.output_ok({"a.com": 2, "b.com": 1}, {"a.com": 2}))
        self.assertFalse(benchlib.output_ok({"a.com": 2}, {"a.com": 3}))
        self.assertFalse(benchlib.output_ok({"a.com": 2}, 2))

    def test_check_calls_counts_errors_and_mismatches(self):
        samples = [call("q", 0, 1, 1.0, output=5), call("q", 0, 1, 1.0, output=4),
                   call("q", 0, 1, 1.0, error="boom"), call("r", 0, 1, 1.0, output=1)]
        self.assertEqual(benchlib.check_calls(samples, {"q": 5}), (4, 3))


class Generator(unittest.TestCase):
    def test_same_seed_same_input(self):
        self.assertEqual(benchlib.generate_emails(3, 500), benchlib.generate_emails(3, 500))
        self.assertNotEqual(benchlib.generate_emails(3, 500)[0], benchlib.generate_emails(4, 500)[0])

    def test_distinct_lines_fixed_prefix_and_tally(self):
        for seed in range(20):
            lines, tally = benchlib.generate_emails(seed, 2000)
            self.assertEqual(len(set(lines)), 2000)
            self.assertTrue(all(l.count("@") == 1 for l in lines))
            self.assertEqual(sum(tally.values()), 2000)
            self.assertEqual(brute_force_prefix(lines), benchlib.PREFIX_LEN)

    def test_crowded_name_prefixes_still_get_a_twin(self):
        # At this size every 9-character variant of some bases is taken.
        lines, _ = benchlib.generate_emails(107, 500000)
        self.assertEqual(len(set(lines)), 500000)
        self.assertEqual(benchlib.minimal_unique_prefix(lines), benchlib.PREFIX_LEN)

    def test_minimal_unique_prefix_matches_brute_force(self):
        rng = random.Random(5)
        for _ in range(300):
            lines = ["".join(rng.choices("ab", k=rng.randint(0, 5)))
                     for _ in range(rng.randint(1, 8))]
            want = brute_force_prefix(lines)
            self.assertEqual(benchlib.minimal_unique_prefix(lines), want)
        self.assertEqual(benchlib.minimal_unique_prefix(["ab", "abc"]), 3)
        self.assertEqual(benchlib.minimal_unique_prefix(["b", "caaax", "caaay", "d"]), 5)


class Spec(unittest.TestCase):
    """BENCHMARK.json names what the code reports, and nothing else."""

    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_workloads(self):
        self.assertEqual(sorted(w["name"] for w in self.spec["workloads"]), sorted(run.WORKLOADS))

    def test_end_to_end(self):
        c = call("a", 0, 1, 1.0, phase="timed", pass_=0)
        got = benchlib.end_to_end({"samples": [c], "setup_s": 1.0, "heap_retained_mb": 1.0})
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         {k: u for k, (_, u) in got.items()})

    def test_per_layer(self):
        # One traced pass that touches every layer: a fixture call with a
        # job and a streaming trigger, and each parity call. Every name in
        # BENCHMARK.json must be a metric the pass computes.
        p = {k: 1 for k, _, _ in benchlib.PROGRESS_COUNTERS}
        job = {k: 1 for k, _, _ in benchlib.JOB_COUNTERS}
        samples = [call("a", 0, 1, 1.0, phase="timed", pass_=0),
                   call("a", 10, 20, 1.0, spans={"entry": 1, "plan": 1, "write": 1})] + [
            call("parity." + k, 30, 40, 1.0) for k in ("solve", "iterative", "mapreduce")]
        jobs = [dict(job, start_ms=12, end_ms=15)]
        m = benchlib.layer_pass(samples[1:], jobs, [dict(p, ts_ms=12)])
        names = [x["name"] for x in self.spec["per_layer"]]
        self.assertEqual([n for n in names if n not in m],
                         ["memory.rss_peak_mb", "trace.overhead_frac"])
        got = benchlib.per_layer({"samples": samples, "jobs": jobs, "progress": [],
                                  "rss_peak_mb": 2048.0}, self.spec["per_layer"])
        self.assertEqual(list(got), names)

if __name__ == "__main__":
    unittest.main()
