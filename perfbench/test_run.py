"""Tests for the benchmark's own code (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import contextlib
import io
import os
import tempfile
import unittest
from unittest import mock

import run


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(run.percentile(xs, 50), 5)
        self.assertEqual(run.percentile(xs, 90), 9)
        self.assertEqual(run.percentile(xs, 91), 10)
        self.assertEqual(run.percentile(xs, 100), 10)
        self.assertEqual(run.percentile(xs, 1), 1)

    def test_order_and_small_samples(self):
        self.assertEqual(run.percentile([30.0, 10.0, 20.0], 50), 20.0)
        self.assertEqual(run.percentile([7.5], 90), 7.5)
        self.assertEqual(run.percentile([4, 1], 50), 1)

    def test_rejects_bad_input(self):
        with self.assertRaises(ValueError):
            run.percentile([], 50)
        with self.assertRaises(ValueError):
            run.percentile([1], 0)


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name, "run": 0,
            "start_ms": start, "end_ms": end}


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_and_clipped_children(self):
        spans = [span(1, 0, 0, 100, "root"),
                 span(2, 1, 10, 30, "a"), span(3, 1, 20, 50, "b"),
                 span(4, 1, 90, 120, "c")]
        st = run.self_times(spans)
        # children cover [10, 50) and [90, 100) of the root
        self.assertAlmostEqual(st[1], 50.0)
        self.assertAlmostEqual(st[2], 20.0)
        self.assertAlmostEqual(st[4], 30.0)

    def test_grandchildren_count_only_against_their_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 60), span(3, 2, 10, 40)]
        st = run.self_times(spans)
        self.assertAlmostEqual(st[1], 40.0)
        self.assertAlmostEqual(st[2], 30.0)
        self.assertAlmostEqual(st[3], 30.0)
        # self times of a tree add up to the root's wall time
        self.assertAlmostEqual(sum(st.values()), 100.0)

    def test_by_name_sums_repeated_spans(self):
        spans = [span(1, 0, 0, 10, "q"), span(2, 0, 20, 25, "q")]
        self.assertEqual(run.self_time_by_name(spans)["q"], (15.0, 15.0, 2))

    def test_covered_union(self):
        self.assertEqual(run.covered_ms([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(run.covered_ms([]), 0.0)


class SeededPlanTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in run.WORKLOADS:
            self.assertEqual(run.plan(w, 7), run.plan(w, 7))

    def test_other_seed_other_inputs(self):
        for w in run.WORKLOADS:
            a, b = run.plan(w, 7), run.plan(w, 8)
            self.assertNotEqual(a["base"], b["base"])
        self.assertNotEqual(run.plan("resume_build", 7)["fresh"],
                            run.plan("resume_build", 8)["fresh"])
        self.assertNotEqual(run.plan("graph_query", 7)["queries"],
                            run.plan("graph_query", 8)["queries"])

    def test_page_ranges_do_not_overlap(self):
        n = max(w["pages"] for w in run.WORKLOADS.values())
        bases = sorted(int(run.plan("full_build", s)["base"]) for s in range(50))
        self.assertTrue(all(b - a >= n for a, b in zip(bases, bases[1:])))

    def test_fresh_buckets_are_an_eighth(self):
        fresh = [int(b) for b in run.plan("resume_build", 3)["fresh"].split(",")]
        self.assertEqual(len(set(fresh)), run.NBUCKETS // 8)
        self.assertTrue(all(0 <= b < run.NBUCKETS for b in fresh))

    def test_query_mix_is_fixed_per_block(self):
        qs = run.plan("graph_query", 5)["queries"].split(",")
        block = sum(run.QUERY_MIX.values())
        self.assertEqual(len(qs), block * run.QUERY_BLOCKS)
        for i in range(0, len(qs), block):
            kinds = [q.split(":")[0] for q in qs[i:i + block]]
            self.assertEqual({k: kinds.count(k) for k in run.QUERY_MIX}, run.QUERY_MIX)


def record(checks, workload="full_build"):
    return {"workload": workload, "setup_s": [1.0, 1.2, 1.1],
            "ops": [{"kind": "build", "ms": 1000.0, "ok": True}],
            "samples": {}, "counters": {}, "hashes": {}, "checks": checks,
            "spans": [], "stages": [], "jobs_by_span": {},
            "values": {"prep_s": 0.5, "pages": 100.0, "stored_bytes": 5000.0,
                       "triple_precision": 1.0, "triple_recall": 0.99}}


class ReportTest(unittest.TestCase):
    declared = [{"name": "a", "unit": "ms"}, {"name": "b", "unit": "s"}]

    def test_declared_order_units_and_default(self):
        out = run.report({"b": 2}, self.declared, default=0.0)
        self.assertEqual(out, {"a": {"value": 0.0, "unit": "ms"},
                               "b": {"value": 2.0, "unit": "s"}})

    def test_undeclared_or_missing_metric_fails(self):
        with self.assertRaises(run.CheckFailed):
            run.report({"a": 1, "b": 2, "c": 3}, self.declared)
        with self.assertRaises(run.CheckFailed):
            run.report({"a": 1}, self.declared)


class ExitCodeTest(unittest.TestCase):
    def main(self, rec, tmp):
        out = io.StringIO()
        with mock.patch.object(run, "build"), \
                mock.patch.object(run, "run_jvm", return_value=rec), \
                mock.patch.object(run, "WORK", tmp), \
                contextlib.redirect_stdout(out), \
                contextlib.redirect_stderr(io.StringIO()):
            code = run.main(["--workload", rec["workload"], "--seed", "1",
                             "--seconds", "1", "--trace", "0"])
        return code, out.getvalue()

    def test_passing_checks_print_the_result(self):
        with tempfile.TemporaryDirectory() as tmp:
            code, out = self.main(record([{"name": "c", "ok": True, "detail": ""}]), tmp)
        self.assertEqual(code, 0)
        line = run.json.loads(out.strip().splitlines()[-1])
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        declared = [m["name"] for m in run.load_spec()["end_to_end"]]
        self.assertEqual(list(line["metrics"]), declared)
        self.assertEqual(line["metrics"]["setup_s"]["value"], 1.1 + 0.5)

    def test_failed_check_exits_non_zero_without_result(self):
        with tempfile.TemporaryDirectory() as tmp:
            code, out = self.main(record([{"name": "c", "ok": False, "detail": "x"}]), tmp)
        self.assertNotEqual(code, 0)
        self.assertEqual(out, "")

    def test_changed_query_hash_across_runs_fails(self):
        with tempfile.TemporaryDirectory() as tmp:
            rec = record([])
            rec["hashes"] = {"degrees:1": "aa/3"}
            self.assertEqual(self.main(rec, tmp)[0], 0)
            rec["hashes"] = {"degrees:1": "bb/3"}
            self.assertNotEqual(self.main(rec, tmp)[0], 0)

    def test_missing_engine_sources_exit_non_zero(self):
        with tempfile.TemporaryDirectory() as tmp, \
                mock.patch.object(run, "ROOT", tmp), \
                mock.patch.object(run, "WORK", tmp), \
                contextlib.redirect_stdout(io.StringIO()) as out, \
                contextlib.redirect_stderr(io.StringIO()):
            self.assertNotEqual(run.main(["--workload", "full_build", "--seed", "1",
                                          "--seconds", "1"]), 0)
        self.assertEqual(out.getvalue(), "")


if __name__ == "__main__":
    unittest.main()
