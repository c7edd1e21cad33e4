#!/usr/bin/env python3
"""Self-check of the benchmark's own logic: statistics, the cold/warm
split, attempted/failed counts, the job-output checks, and generator
determinism. Needs no engine build.

    python3 perfbench/selfcheck.py
"""
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

def rec(p, op, wall, ok=True):
    phase = "cold" if p == 0 else "settle" if p == 1 else "warm"
    return {"pass": p, "phase": phase, "op": op, "wall_s": wall, "ok": ok}


class Stats(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertRaises(ValueError, stats.median, [])

    def test_tail_needs_ten_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(39))))
        p, v = stats.tail_percentile(list(range(40)))
        self.assertEqual((p, v), (75.0, 29))
        self.assertEqual(sum(1 for x in range(40) if x > v), 10)
        p, v = stats.tail_percentile(list(range(100, 0, -1)))
        self.assertEqual((p, v), (90.0, 90))

    def test_cold_warm_split_and_counts(self):
        rs = [rec(0, "a", 5.0), rec(0, "b", 7.0),
              rec(1, "a", 9.0), rec(1, "b", 9.0),
              rec(2, "a", 1.0), rec(2, "b", 2.0, ok=False),
              rec(3, "a", 3.0), rec(3, "b", 4.0),
              rec(4, "a", 2.0), rec(4, "b", 6.0)]
        cold, warm = stats.split_passes(rs)
        self.assertEqual([r["wall_s"] for r in cold], [5.0, 7.0])
        # the settling pass is neither cold nor warm
        self.assertEqual(len(warm), 6)
        # failed executions never enter a median
        self.assertEqual(stats.op_medians(warm, ["a", "b"]), {"a": 2.0, "b": 5.0})
        self.assertEqual(stats.counts(rs), (10, 1))

    def test_end_to_end(self):
        res = {
            "ops": [rec(0, "a", 5.0), rec(0, "b", 7.0), rec(1, "a", 9.0),
                    rec(1, "b", 9.0), rec(2, "a", 1.0), rec(2, "b", 2.0),
                    rec(3, "a", 3.0), rec(3, "b", 4.0)],
            "passes": [{"pass": 0, "phase": "cold", "cpu_s": 30.0},
                       {"pass": 1, "phase": "settle", "cpu_s": 20.0},
                       {"pass": 2, "phase": "warm", "cpu_s": 9.0},
                       {"pass": 3, "phase": "warm", "cpu_s": 11.0}],
            # the first half, JVM start-up and JIT warm-up, is left out
            "setup": [{"total_s": 8.0}, {"total_s": 4.0}, {"total_s": 1.0},
                      {"total_s": 3.0}],
            "peak_rss_mb": 2500.0,
        }
        m = {k: v for k, (v, _) in run.end_to_end(res, ["a", "b"]).items()}
        self.assertEqual(m, {"setup_s": 2.0, "cold_s": 12.0, "wall_s": 5.0,
                             "op_p50_s": 2.5, "cpu_s": 10.0, "peak_rss_mb": 2500.0})


class QueryChecks(unittest.TestCase):
    def test_missing_cold_result_is_a_failure(self):
        d = tempfile.mkdtemp(dir=work_dir())
        try:
            w = {"kind": "queries", "ops": ["q1"]}
            bad = run.checks(w, {"oracle": {"q1": "SELECT 1"}}, d, d, "x")
            self.assertEqual(list(bad), ["q1"])
        finally:
            shutil.rmtree(d)


class Layers(unittest.TestCase):
    def test_gap_and_busy_share_use_the_whole_op(self):
        traced = dict(rec(3, "a", 2.0), traced=True, stage_busy_s=0.5,
                      task_s=2.0, skew=1.0)
        res = {"setup": [{"session_s": 5.0, "tables_s": 1.0},
                         {"session_s": 0.1, "tables_s": 0.2}],
               "fingerprint_ms": 0.3, "artifacts": None, "cpus": 2,
               "cold_artifact_trees": 0, "cold_codegen_compiles": 0,
               "ops": [traced, dict(rec(2, "a", 1.0), traced=False)]}
        m = {k: v for k, (v, _) in run.per_layer(res, ["a"], False).items()}
        self.assertEqual((m["session.build_s"], m["tables.open_s"]), (0.1, 0.2))
        self.assertEqual(m["sched.gap_s"], 1.5)
        self.assertEqual(m["sched.op_wall_s"], 2.0)
        self.assertEqual(m["exec.busy_share"], 0.5)
        self.assertEqual(m["trace.overhead"], 2.0)


class JobChecks(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp(dir=work_dir())
        self.inp = os.path.join(self.dir, "in")
        os.makedirs(self.inp)
        with open(os.path.join(self.inp, "a.txt"), "w") as fh:
            fh.write("Hello [World]\n\n  a product\nbye\tHELLO\n")

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write_parts(self, parts):
        out = os.path.join(self.dir, "out")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        for i, lines in enumerate(parts):
            with open(os.path.join(out, f"part-{i:05d}"), "w") as fh:
                fh.write("".join(ln + "\n" for ln in lines))
        return out

    def test_expected_outputs(self):
        wc, grep = check.expected_outputs(self.inp, "product")
        # empty tokens are kept: '[' ']' and the blank/indented lines
        self.assertEqual(set(wc), {"hello\t2", "world\t1", "\t5", "a\t1",
                                   "product\t1", "bye\t1"})
        self.assertEqual(dict(grep), {"a product": 1})

    def test_md5_routing_and_sorting(self):
        wc, grep = check.expected_outputs(self.inp, "product")
        parts = [[], []]
        for line in sorted(wc):
            parts[check.md5_part(line.split("\t")[0], 2)].append(line)
        out = self.write_parts(parts)
        self.assertIsNone(check.check_job(out, "submit_wordcount", 2, (wc, grep)))
        # routing is only required of the executable path
        moved = [sorted(parts[0] + parts[1]), []]
        out = self.write_parts(moved)
        self.assertIsNone(check.check_job(out, "mr_wordcount", 2, (wc, grep)))
        self.assertIn("md5", check.check_job(out, "submit_wordcount", 2, (wc, grep)))
        out = self.write_parts([list(reversed(moved[0])), []])
        self.assertIn("byte-sorted", check.check_job(out, "mr_wordcount", 2, (wc, grep)))
        out = self.write_parts([moved[0]])
        self.assertIn("part files", check.check_job(out, "mr_wordcount", 2, (wc, grep)))
        split = [moved[0], [moved[0][0]]]
        out = self.write_parts(split)
        self.assertIsNotNone(check.check_job(out, "mr_wordcount", 2, (wc, grep)))

    def test_grep_routes_by_constant_key(self):
        wc, grep = check.expected_outputs(self.inp, "product")
        parts = [[], [], []]
        parts[check.md5_part("1", 3)] = ["a product"]
        out = self.write_parts(parts)
        self.assertIsNone(check.check_job(out, "submit_grep", 3, (wc, grep)))


class Generators(unittest.TestCase):
    def same_bytes(self, fn, shape):
        d = tempfile.mkdtemp(dir=work_dir())
        try:
            fn(7, os.path.join(d, "a"), shape)
            fn(7, os.path.join(d, "b"), shape)
            fn(8, os.path.join(d, "c"), shape)
            a, b, c = (gen.digest(os.path.join(d, x)) for x in "abc")
            self.assertEqual(a, b)
            self.assertNotEqual(a, c)
        finally:
            shutil.rmtree(d)

    def test_fixture_is_checked(self):
        d = tempfile.mkdtemp(dir=work_dir())
        try:
            shape = run.WORKLOADS["suite_sf001"]["shape"]
            gen.fixture(1, os.path.join(d, "a"), shape)
            self.assertEqual(gen.digest(os.path.join(d, "a")), shape["sha256"])
            self.assertRaises(ValueError, gen.fixture, 1, os.path.join(d, "b"),
                              dict(shape, sha256="0" * 64))
        finally:
            shutil.rmtree(d)

    def test_text(self):
        self.same_bytes(gen.text, {"files": 2, "bytes": 40000, "vocab": 300})

    def test_text_is_ascii_with_the_grep_term(self):
        d = tempfile.mkdtemp(dir=work_dir())
        try:
            gen.text(3, d, {"files": 1, "bytes": 200000, "vocab": 500})
            with open(os.path.join(d, "input000.txt"), "rb") as fh:
                raw = fh.read()
            self.assertTrue(all(b < 128 for b in raw))
            self.assertIn(gen.GREP_TERM, raw.decode().lower())
            self.assertIn(b"\n\n", raw)
        finally:
            shutil.rmtree(d)


def work_dir():
    d = os.path.join(run.STATE, "selfcheck")
    os.makedirs(d, exist_ok=True)
    return d


if __name__ == "__main__":
    unittest.main(verbosity=1)
