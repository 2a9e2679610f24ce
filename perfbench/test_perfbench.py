#!/usr/bin/env python3
"""The benchmark's own tests. Each workload runs in smoke mode (tiny
sizes, a few seconds of measuring), untraced and traced, and the
output must follow BENCHMARK.json: every end-to-end metric untraced,
every per-layer metric traced, each with its unit, all checks passing,
and traced self times adding up to the span walls. A copy holding only
BENCHMARK.json and perfbench/ must fail without printing a result.

    python3 perfbench/test_perfbench.py      # about two minutes
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

# named metrics each workload prints on its detail line (the line
# before the result)
DETAIL = {
    "pubsub-live": ["publish_ms_p50", "publish_ms_p90", "deliver_ms_p50", "deliver_ms_p90",
                    "failed_frac", "live.generator_late_ms_p90", "live.backlog_end_records",
                    "live.duplicates", "streaming.batches", "streaming.pickup_ms_p50",
                    "streaming.add_batch_ms_p50", "streaming.wal_commit_ms_p50",
                    "replay_tail_ms_p50", "replay_full_rps", "replay_since_ms_p50",
                    "ack_ms_p50", "log.heads_ms_p50", "log.retain_ms",
                    "log.retain.files_deleted", "host.calib_ms"],
    "suite-packs": ["suite_s", "query_s_p50", "query_s_p90", "failed_frac", "host.calib_ms"],
}
TRACED_DETAIL = {
    "pubsub-live": ["log.publish.job_ms_p50", "log.publish.driver_ms_p50", "log.publish.jobs",
                    "log.publish.files", "log.publish.bytes_per_record",
                    "log.replay.plan_ms_p50", "log.replay.files_read_share",
                    "log.replay.rows_returned_share"],
    "suite-packs": ["suite.construct_s", "suite.plan_s", "suite.exec_s",
                    "suite.construct_jobs", "suite.relational.wall_s",
                    "suite.relational.construct_s", "suite.relational.jobs"],
}
# the suite's row counts, as expected_rows.tsv holds them for smoke runs
EXPECTED_SMOKE = {q: int(n) for s, q, n in (
    line.split("\t") for line in (HERE / "expected_rows.tsv").read_text().splitlines())
    if s == "smoke"}


def run(workload, trace, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", "3", "--trace", str(trace), "--smoke"],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


class SmokeRuns(unittest.TestCase):
    def check_run(self, workload, trace):
        p = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        result, detail = json.loads(lines[-1]), json.loads(lines[-2])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], detail["failures"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        spec = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(sorted(result["metrics"]), sorted(m["name"] for m in spec))
        for m in spec:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        if not trace:
            for m in spec:
                self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])
                self.assertGreaterEqual(detail["samples"][m["name"]], 1, m["name"])
        names = DETAIL[workload] + (TRACED_DETAIL[workload] if trace else [])
        for name in names:
            self.assertIn(name, detail["detail"], name)
            self.assertTrue(detail["detail"][name]["unit"], name)
        if workload == "suite-packs":
            rows = {k[len("suite.rows."):]: v["value"] for k, v in detail["detail"].items()
                    if k.startswith("suite.rows.")}
            self.assertEqual(rows, EXPECTED_SMOKE)
        if trace:
            d = detail["detail"]
            self_ms = sum(v["value"] for k, v in d.items() if k.startswith("trace.self_ms."))
            wall = d["trace.root_wall_ms"]["value"]
            self.assertGreater(wall, 0)
            self.assertAlmostEqual(self_ms, wall, delta=max(1.0, wall * 1e-6))

    def test_pubsub_live(self):
        self.check_run("pubsub-live", 0)

    def test_pubsub_live_traced(self):
        self.check_run("pubsub-live", 1)

    def test_suite_packs(self):
        self.check_run("suite-packs", 0)

    def test_suite_packs_traced(self):
        self.check_run("suite-packs", 1)


class BareCopy(unittest.TestCase):
    def test_fails_without_the_program(self):
        (ROOT / ".bench_build").mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(HERE, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = run("pubsub-live", 0, cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


class Spec(unittest.TestCase):
    def test_benchmark_json_shape(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertLessEqual({w["name"] for w in SPEC["workloads"]}, set(DETAIL))
        e2e = {m["name"]: m for m in SPEC["end_to_end"]}
        self.assertEqual(e2e["setup_s"]["unit"], "s")
        self.assertEqual(max(m["bound"] for m in SPEC["end_to_end"]), e2e["setup_s"]["bound"])
        self.assertLessEqual(max(m["bound"] for m in SPEC["end_to_end"]), 0.25)


if __name__ == "__main__":
    unittest.main()
