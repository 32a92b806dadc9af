#!/usr/bin/env python3
"""Self-tests of the benchmark harness.

    python3 perfbench/selftest.py          # metric rules only (no JVM)
    python3 perfbench/selftest.py --jvm    # also fingerprint invariance in Spark

Covers the tail-percentile rule, span self time, time-window attribution,
the output checks, which passes are timed, the frozen operation lists, and
(with --jvm) that the output fingerprint is the same under repartition(1)
and repartition(n).
"""
import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import unittest  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import analyze  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ladder_picks_highest_with_ten_beyond(self):
        vals = [float(i) for i in range(1, 101)]  # 100 samples
        pct, v, beyond = analyze.tail(vals)
        self.assertEqual(pct, 90.0)
        self.assertEqual(v, 90.0)
        self.assertEqual(beyond, 10)

    def test_exactly_ten_beyond_counts(self):
        pct, v, beyond = analyze.tail([float(i) for i in range(1, 41)])
        self.assertEqual((pct, v, beyond), (75.0, 30.0, 10))

    def test_order_does_not_matter(self):
        vals = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(analyze.tail(vals), analyze.tail(sorted(vals)))

    def test_small_sample_falls_back_to_median(self):
        pct, v, beyond = analyze.tail([1.0, 2.0, 3.0])
        self.assertEqual(pct, 50.0)
        self.assertEqual(v, 2.0)
        self.assertLess(beyond, analyze.TAIL_BEYOND)

    def test_large_sample_reaches_p99(self):
        pct, _, beyond = analyze.tail([float(i) for i in range(2000)])
        self.assertEqual(pct, 99.0)
        self.assertGreaterEqual(beyond, analyze.TAIL_BEYOND)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(analyze.self_time((0.0, 10.0), []), 10.0)

    def test_overlapping_children_counted_once(self):
        self.assertEqual(analyze.self_time((0.0, 10.0), [(1.0, 4.0), (3.0, 6.0)]), 5.0)

    def test_children_clipped_to_parent(self):
        self.assertEqual(analyze.self_time((0.0, 10.0), [(-5.0, 2.0), (9.0, 20.0)]), 7.0)

    def test_disjoint_children(self):
        self.assertEqual(analyze.self_time((0.0, 10.0), [(1.0, 2.0), (5.0, 7.0)]), 7.0)


class Attribution(unittest.TestCase):
    leaves = [(0.0, 10.0), (10.0, 20.0), (30.0, 40.0)]

    def test_instant_goes_to_holding_window(self):
        self.assertEqual(analyze.attribute(self.leaves, 15.0), 1)
        self.assertIsNone(analyze.attribute(self.leaves, 25.0))

    def test_interval_goes_to_largest_overlap(self):
        self.assertEqual(analyze.attribute(self.leaves, 8.0, 19.0), 1)
        self.assertIsNone(analyze.attribute(self.leaves, 21.0, 29.0))

    def test_job_spans_hang_under_leaf_and_count_as_driver_time(self):
        trace = {
            "spans": [[0, -1, "pass", "pass1", 0.0, 100.0], [1, 0, "op", "q", 0.0, 100.0],
                      [2, 1, "construct", "q", 0.0, 60.0], [3, 1, "exec", "q", 60.0, 100.0]],
            "jobs": [[7, 10.0, 30.0, 1], [8, 65.0, 95.0, 2]],
            "stages": [[1, 10.0, 30.0, 4]],
            "tasks": [[11.0, 29.0, 18, 1000, 0, 0, 0, 0], [70.0, 90.0, 20, 1000, 0, 0, 0, 0]],
            "progress": [],
        }
        spans, leaves, ev, unattributed = analyze.build_tree(trace)
        self.assertEqual(unattributed, 0)
        jobs = [s for s in spans if s["layer"] == "job"]
        self.assertEqual(sorted(j["parent"] for j in jobs), [2, 3])
        self.assertEqual(analyze.self_time((0.0, 60.0), ev[2]["jobs"]), 40.0)
        self.assertEqual(len(ev[3]["tasks"]), 1)


class Checks(unittest.TestCase):
    def test_fingerprint_mismatch_fails(self):
        op = {"name": "q", "fp": "3:00000000000000aa", "error": None}
        self.assertIsNone(analyze.check_query_op(op, {"q": "3:00000000000000aa"}))
        self.assertIn("fingerprint", analyze.check_query_op(op, {"q": "3:00000000000000ab"}))
        self.assertEqual(analyze.check_query_op(op, {}), "no expected fingerprint")

    def test_missing_listed_op_counts_as_failed(self):
        wl = {"kind": "queries", "ops": ["a", "b"]}
        result = {"passes": [{"idx": 0, "ops": [
            {"name": "a", "fp": "1:0000000000000001", "error": None},
            {"name": "b", "fp": None, "error": "not in SparkEntry.queries"}]}]}
        attempted, failures = analyze.check_run(result, wl, {"a": "1:0000000000000001"})
        self.assertEqual(attempted, 2)
        self.assertEqual([f[1] for f in failures], ["b"])

    def test_etl_health_must_grow_by_source_count(self):
        op = dict(name="s", error=None, status="SUCCESS", records_in=10, records_out=9,
                  read_back=9, files=1, bytes=1)
        want = {"s": {"records_in": 10, "records_out": 9}}
        ok = analyze.check_etl_pass({"ops": [op], "health_rows": 1}, want, 0)
        self.assertEqual(ok, {"s": None, "health": None})
        bad = analyze.check_etl_pass({"ops": [op], "health_rows": 1}, want, 1)
        self.assertIn("grew by 0", bad["health"])


class Timing(unittest.TestCase):
    def test_cold_and_warmup_passes_are_not_timed(self):
        def p(warm, warmup, wall):
            return {"warm": warm, "warmup": warmup, "traced": False, "wall_s": wall,
                    "ops": [{"name": "q", "wall_s": wall / 2, "fp": "4:0000000000000001"}]}
        result = {"passes": [p(False, False, 9.0), p(True, True, 6.0), p(True, False, 2.0),
                             p(True, False, 4.0), p(True, False, 3.0)]}
        metrics, info = analyze.end_to_end(result, {"kind": "queries"}, [1.0, 3.0, 2.0])
        self.assertEqual(metrics["pass_s"][0], 3.0)
        self.assertEqual(metrics["op_p50_s"][0], 1.5)
        self.assertEqual(metrics["setup_s"][0], 2.0)
        self.assertNotIn("cold_pass_s", metrics)
        self.assertEqual((info["cold_pass_s"], info["warm_passes"]), (9.0, 3))


class FrozenLists(unittest.TestCase):
    def test_every_listed_op_has_an_expected_output(self):
        with open(os.path.join(HERE, "workloads.json")) as f:
            workloads = json.load(f)["workloads"]
        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)
        for name, wl in workloads.items():
            want = expected["etl"]["sources"] if wl["kind"] == "etl" else expected["fingerprints"]
            self.assertEqual(len(wl["ops"]), len(set(wl["ops"])), name)
            self.assertEqual(len(wl["ops"]), wl["n_ops"], name + ": list length changed")
            for op in wl["ops"]:
                self.assertIn(op, want, "%s: %s" % (name, op))


def jvm_selftest():
    """Run perfbench.SelfTest through the harness JVM; True if all ok."""
    import subprocess
    import run
    bdir = run.build_dir()
    os.makedirs(bdir, exist_ok=True)
    jars = run.spark_jars()
    jar, _ = run.build(bdir, jars)
    work = os.path.join(bdir, "work", "selftest")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    r = subprocess.run(run.jvm(jar, jars, work, dict(kind="selftest", cores=2, work=work)),
                       capture_output=True, text=True, cwd=run.ROOT, timeout=300)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("selftest ")]
    print("\n".join(lines))
    return r.returncode == 0 and lines and all(ln.startswith("selftest ok") for ln in lines)


if __name__ == "__main__":
    with_jvm = "--jvm" in sys.argv
    result = unittest.main(argv=[sys.argv[0]], exit=False).result
    ok = result.wasSuccessful()
    if with_jvm:
        ok = jvm_selftest() and ok
    sys.exit(0 if ok else 1)
