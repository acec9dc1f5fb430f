#!/usr/bin/env python3
"""Tests of the benchmark itself: every workload at tiny scale, the metric
names and units it prints, the traced run's span tree, negative controls
that must fail the oracle check, and a refusal without program sources.

Run from the repository root (about eight minutes; each case starts a JVM):

  python3 -m unittest benchmark/test_benchmark.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check_mix  # noqa: E402

def load(path):
    with open(path) as fh:
        return json.load(fh)


SPEC = load(os.path.join(ROOT, "BENCHMARK.json"))
RUN = os.path.join(HERE, "run.py")

# Workload metrics each workload names in its summary lines, with units.
NAMED = {
    "day_cycle": {"ingest_trigger_ms_p50": "ms", "alert_trigger_ms_p50": "ms",
                  "ingest_events_per_s": "events/s", "report_cycle_ms_p50": "ms",
                  "day_close_ms_p50": "ms"},
    "backfill": {"ingest_trigger_ms_p50": "ms", "ingest_events_per_s": "events/s",
                 "report_cycle_ms_p50": "ms", "day_close_ms_p50": "ms"},
    "query_mix": {"mix_wall_s": "s"},
}
COMMON = {"setup_s": "s", "peak_rss_mb": "MB", "op_fail_ratio": "ratio"}
FACTS = ("nproc", "loadavg_start", "loadavg_end", "jvm", "spark", "seed", "streams", "events")


def run(workload, *extra, cwd=ROOT, script=RUN):
    cmd = [sys.executable, script, "--workload", workload, "--seed", "7",
           "--seconds", "10", "--scale", "tiny"] + list(extra)
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, lines, result, p.stderr


def summary(lines, prefix):
    """`metric name = value unit` / `fact name = value` lines as a dict."""
    out = {}
    for line in lines:
        if line.startswith(prefix + " "):
            name, _, rest = line[len(prefix) + 1:].partition(" = ")
            out[name] = rest
    return out


class Workloads(unittest.TestCase):
    def check_untraced(self, workload):
        code, lines, res, err = run(workload, "--trace", "0")
        self.assertEqual(code, 0, err[-3000:])
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        declared = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, declared)
        self.assertTrue(all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"])
        named = summary(lines, "metric")
        for name, unit in {**NAMED[workload], **COMMON}.items():
            self.assertIn(name, named)
            self.assertEqual(named[name].split()[1], unit, (name, named[name]))
        self.assertEqual(float(named["op_fail_ratio"].split()[0]), 0.0)
        facts = summary(lines, "fact")
        for f in FACTS if workload != "query_mix" else set(FACTS) - {"streams"}:
            self.assertIn(f, facts)

    def test_day_cycle(self):
        self.check_untraced("day_cycle")

    def test_backfill(self):
        self.check_untraced("backfill")

    def test_query_mix(self):
        self.check_untraced("query_mix")

    def test_traced_day_cycle_has_layers_and_spans(self):
        code, lines, res, err = run("day_cycle", "--trace", "1")
        self.assertEqual(code, 0, err[-3000:])
        declared = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        self.assertEqual(got, declared)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        for k in ("sources.rows", "streaming.add_batch_ms", "streaming.state_rows",
                  "rollup.ms", "rollup.frame_ms", "rollup.rows_in", "finalize.ms", "upsert.ms",
                  "upsert.rows",
                  "sink.messages", "engine.jobs", "engine.tasks", "engine.planning_ms"):
            self.assertGreater(m[k], 0, k)
        spans = load(os.path.join(ROOT, summary(lines, "fact")["spans"]))
        e2 = [s for s in spans if s["name"] == "e2" and s["measured"]]
        self.assertTrue(e2)
        kids = {c["name"] for c in e2[0]["children"]}
        self.assertLessEqual({"rollup", "finalize", "reports.weak", "reports.vendor", "sink"}, kids)
        rollup = next(c for c in e2[0]["children"] if c["name"] == "rollup")
        self.assertGreater(rollup["engine"]["jobs"], 0)
        self.assertLessEqual(rollup["self_ms"], rollup["wall_ms"])


class NegativeControls(unittest.TestCase):
    def assert_fails(self, workload, kind):
        code, lines, res, err = run(workload, "--trace", "0", "--perturb", kind)
        self.assertNotEqual(code, 0)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertTrue(any(line.startswith("MISMATCH") for line in lines))

    def test_dropped_event_fails(self):
        self.assert_fails("backfill", "drop_event")

    def test_wrong_score_fails(self):
        self.assert_fails("backfill", "wrong_score")

    def test_duplicated_alert_fails(self):
        self.assert_fails("day_cycle", "dup_alert")

    def test_dropped_query_row_fails(self):
        self.assert_fails("query_mix", "drop_event")

    def test_wrong_query_cell_fails(self):
        self.assert_fails("query_mix", "wrong_score")

    def test_query_output_compare(self):
        want = pd.DataFrame({"k": [1, 2, 3], "score": [10.0, 20.0, 30.0]})
        self.assertIsNone(check_mix.compare(want.iloc[::-1], want))
        self.assertIn("rows", check_mix.compare(want.iloc[1:], want))
        wrong = want.copy()
        wrong.loc[0, "score"] = 11.0
        self.assertIsNotNone(check_mix.compare(wrong, want))


class Refusal(unittest.TestCase):
    def test_fails_without_program_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        try:
            code, lines, res, _ = run("day_cycle", "--trace", "0", cwd=bare,
                                      script=os.path.join(bare, "benchmark", "run.py"))
            self.assertNotEqual(code, 0)
            self.assertIsNone(res)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
