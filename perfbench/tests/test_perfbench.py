"""Tests of the benchmark itself.

The unit tests check the metric arithmetic and the answer checks without a
JVM. The smoke tests run every workload end to end on the sf0.001 tables with
a short window; they build the engine first, which takes about a minute.

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import workloads  # noqa: E402


def op(i, start, end, status=200, key="k"):
    return {"id": f"pb{i}", "key": key, "start_ms": start, "end_ms": end, "status": status}


class FailureAccounting(unittest.TestCase):
    def test_failed_op_never_lowers_latency(self):
        ops = [op(i, 0.0, 100.0 + i) for i in range(20)]
        ok = {o["id"]: True for o in ops}
        out = {"setup_ms": 1000.0, "cpu_ms": 500.0, "heap_retained_mb": 50.0}
        clean, _ = run.end_to_end("dashboard_fresh", out, ops, ok, {})
        # a refused request that came back in 1 ms
        bad = ops + [op(99, 0.0, 1.0, status=400)]
        ok_bad = dict(ok, pb99=False)
        dirty, report = run.end_to_end("dashboard_fresh", out, bad, ok_bad, {})
        for k in ("latency_p50_ms", "latency_p90_ms", "latency_geomean_ms"):
            self.assertGreaterEqual(dirty[k], clean[k], k)
        self.assertGreater(report["failed_ratio"], 0.0)
        # throughput counts the 20 correct operations only
        self.assertAlmostEqual(dirty["throughput_qps"], 20 / 0.119)

    def test_wrong_answer_counts_as_failed(self):
        ops = [op(1, 0.0, 10.0), op(2, 0.0, 12.0)]
        _, report = run.end_to_end("dashboard_fresh", {"setup_ms": 1.0, "cpu_ms": 1.0, "heap_retained_mb": 1.0},
                                   ops, {"pb1": True, "pb2": False}, {})
        self.assertEqual(report["failed_ratio"], 0.5)


class TracingOverhead(unittest.TestCase):
    def test_steady_drift_cancels(self):
        # latency falls 10 ms per third as the JVM warms; tracing adds nothing
        ops = [dict(op(i, 0.0, lat), phase=ph) for i, (ph, lat) in
               enumerate([("before", 110.0)] * 5 + [("traced", 100.0)] * 5 + [("after", 90.0)] * 5)]
        self.assertAlmostEqual(run.overhead_pct(ops), 0.0)

    def test_overlap_is_left_out(self):
        ops = [dict(op(i, 0.0, lat), phase=ph) for i, (ph, lat) in
               enumerate([("before", 100.0), ("overlap", 900.0), ("traced", 110.0), ("after", 100.0)])]
        self.assertAlmostEqual(run.overhead_pct(ops), 10.0)


class MetricNames(unittest.TestCase):
    @unittest.skipUnless(os.path.exists(os.path.join(ROOT, "BENCHMARK.json")), "no BENCHMARK.json")
    def test_printed_metrics_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        pairs = lambda ms: [(m["name"], m["unit"]) for m in ms]
        self.assertEqual(pairs(spec["end_to_end"]), pairs(run.END_TO_END))
        self.assertEqual(pairs(spec["per_layer"]), pairs(run.PER_LAYER))


class AnswerChecks(unittest.TestCase):
    def test_rows_compare_as_multisets_with_float_tolerance(self):
        exp = [{"a": "x", "v": 1.0}, {"a": "y", "v": 2.0}]
        got = [{"a": "y", "v": 2.0 + 1e-12}, {"a": "x", "v": 1}]
        self.assertTrue(workloads.same_rows(got, exp, ["a", "v"]))
        self.assertFalse(workloads.same_rows(got[:1], exp, ["a", "v"]))
        self.assertFalse(workloads.same_rows([{"a": "x", "v": 1.5}, got[0]], exp, ["a", "v"]))

    def test_guards_keep_racing_requests_apart(self):
        zoned = workloads.sql("SELECT 1", {"sqlTimeZone": "Asia/Kolkata"})
        self.assertEqual(workloads.dashboard_guard("sql", zoned), "exclusive")
        self.assertEqual(workloads.dashboard_guard("sql", workloads.sql("SELECT 1")), "")
        self.assertEqual(workloads.dashboard_guard("native", workloads.native({"queryType": "scan"})), "shared")

    def test_stale_read_is_rejected(self):
        # two inserts of 3 and 2 rows, the first in the warm pass; a read
        # sent after both were acknowledged must see all 5 rows
        meta = {"slices": [(0, 3), (10, 12)], "warm_inserts": 1,
                "parts": [{"click": (3, 3.0, 3)}, {"click": (2, 2.0, 2)}]}
        writes = [dict(op(1, 0.0, 5.0, key="insert:1"), sha="w")]
        reads = [dict(op(2, 6.0, 7.0, key="read:native_ts"), sha="stale"),
                 dict(op(3, 6.0, 7.0, key="read:native_ts"), sha="fresh")]
        bodies = {("insert:0", "w0"): '[{"inserted":3}]', ("insert:1", "w"): '[{"inserted":5}]',
                  ("read:native_ts", "stale"): '[{"timestamp":null,"result":{"n":3,"v":3.0}}]',
                  ("read:native_ts", "fresh"): '[{"timestamp":null,"result":{"n":5,"v":5.0}}]',
                  ("final:count", "f"): '[{"n":5}]'}
        extra = {"warm": [{"key": "insert:0", "status": 200, "sha": "w0"}],
                 "after": [{"key": "final:count", "status": 200, "sha": "f"}]}
        verdict, final_ok, want = workloads.check_ingest(writes + reads, extra, meta, bodies)
        self.assertTrue(verdict["pb1"])
        self.assertFalse(verdict["pb2"])
        self.assertTrue(verdict["pb3"])
        self.assertTrue(final_ok)
        self.assertEqual(want, 5)


def bench(workload, *extra, seconds=3):
    env = dict(os.environ)
    env.setdefault("CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build"))
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", str(seconds), "--smoke", *extra],
                       cwd=ROOT, capture_output=True, text=True, env=env, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


@unittest.skipUnless(os.path.isdir(os.path.join(ROOT, "src", "main", "scala")), "needs the engine sources")
class Smoke(unittest.TestCase):
    """Every workload end to end at sf0.001."""

    def check(self, workload, trace):
        res, _ = bench(workload, "--trace", str(trace))
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(res["attempted"], 1)
        names = [m["name"] for m in (run.PER_LAYER if trace else run.END_TO_END)]
        self.assertEqual(sorted(res["metrics"]), sorted(names))
        return res

    def test_dashboard_fresh(self):
        res = self.check("dashboard_fresh", 0)
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertTrue(all(v["value"] > 0 for v in res["metrics"].values()))

    def test_dashboard_repeat_traced(self):
        res = self.check("dashboard_repeat", 1)
        self.assertTrue(res["correct"])
        m = {k: v["value"] for k, v in res["metrics"].items()}
        # every timed request is a result-cache hit: no resolve, no jobs
        self.assertLess(m["sources.resolve_calls"], 0.05)
        self.assertLess(m["scheduler.jobs_per_op"], 0.05)
        self.assertGreater(m["server.result_cache_hit_ratio"], 0.95)
        self.assertGreater(m["server.self_ms"], 0.0)

    def test_olap_suite_traced(self):
        res = self.check("olap_suite", 1)
        self.assertTrue(res["correct"])
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertGreater(m["scheduler.jobs_per_op"], 0.0)
        self.assertGreater(m["catalyst.optimization_ms"], 0.0)
        # in process: the server layer is not on the path
        self.assertTrue(all(m[k] == 0.0 for k in m if k.startswith("server.")))

    def test_ingest_mixed_write_path(self):
        # the writer and the readers take turns, about one INSERT a second:
        # the traced third must be long enough to hold one
        res, err = bench("ingest_mixed", "--trace", "1", seconds=9)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertGreater(m["sources.insert_ms"], 0.0)
        self.assertGreater(m["sources.files_per_insert"], 0.0)
        # every INSERT is acknowledged with the right row count, the final
        # count equals the acknowledged rows, and with the client-side guard
        # no read overlaps an INSERT, so none is stale
        self.assertNotIn("final row count", err)
        self.assertNotIn("failed: insert:", err)
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)

    def test_ingest_mixed_unguarded(self):
        # INSERTs overlap reads here, so a stale read may or may not show;
        # whatever shows is a failed read, never a refused INSERT
        res, err = bench("ingest_mixed", "--unguarded", seconds=6)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertNotIn("failed: insert:", err)
        self.assertNotIn("final row count", err)

    def test_bad_request_raises_failed_ratio(self):
        res, err = bench("dashboard_fresh", "--inject-bad", "0.7")
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        report = json.loads(next(l for l in err.splitlines() if l.startswith("report "))[7:])
        self.assertGreater(report["failed_ratio"], 0.5)
        # the refused requests answer in milliseconds, yet they are charged
        # at least the 1 s target, so the latency figures rise instead of falling
        for k in ("latency_p50_ms", "latency_p90_ms"):
            self.assertGreaterEqual(res["metrics"][k]["value"], 1000.0, k)


if __name__ == "__main__":
    unittest.main()
