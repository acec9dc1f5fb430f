#!/usr/bin/env python3
"""Benchmark of the streaming lifecycle and the query registry.

Run from the repository root:

  python3 benchmark/run.py --workload day_cycle --seed 1 --seconds 20 --trace 0

Workloads: day_cycle, backfill, query_mix (see benchmark/README.md).
`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
metrics; both check every output against an oracle. The last stdout
line is one JSON object: correct, attempted, failed, metrics.

Extra options: --scale tiny (small inputs, for the benchmark's tests),
--cores N (local[N], default 4), --perturb drop_event|wrong_score|dup_alert
(negative control: the check must fail), --tables DIR (query_mix: read the
tables from DIR instead of generating them, to compare with other data).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("day_cycle", "backfill", "query_mix")
# Workload metrics that are a gated end-to-end metric under its generic
# name: the summary line says so instead of printing the value twice.
GATED_AS = {"report_cycle_ms_p50": "step_ms_p50", "mix_wall_s": "busy_s"}
TIMEOUT_S = 150

JAVA_OPTS = [
    "-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dderby.stream.error.file=/dev/null",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return " ".join(fh.read().split()[:3])
    except OSError:
        return ""


def fail(msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--perturb", choices=("none", "drop_event", "wrong_score", "dup_alert"), default="none")
    ap.add_argument("--tables", default="")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found next to the benchmark")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as fh:
        spec = json.load(fh)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    import build
    classes = build.build()

    load_start = loadavg()
    work = os.path.join(ROOT, ".bench_build", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    traces = os.path.join(ROOT, ".bench_build", "traces")
    os.makedirs(traces, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    t0_ms = int(time.time() * 1000)
    data, sizes = "", {}
    if args.workload == "query_mix" and args.tables:
        data, sizes = os.path.abspath(args.tables), {"tables": os.path.abspath(args.tables)}
    elif args.workload == "query_mix":
        import gen_tables
        data = os.path.join(work, "data")
        sizes = gen_tables.generate(data, args.seed, args.scale)

    cmd = ["java", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + JAVA_OPTS + [
        "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
        "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
        "--data", data, "--out", out, "--cores", str(args.cores), "--scale", args.scale,
        "--perturb", args.perturb, "--t0", str(t0_ms)]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"harness exited with {code}")
    with open(out) as fh:
        res = json.load(fh)

    attempted, failed = res["attempted"], res["failed"]
    mismatches = list(res["mismatches"])
    if args.workload == "query_mix":
        import check_mix
        for name, reason in check_mix.check(data, os.path.join(work, "out"), args.perturb).items():
            attempted += 1
            if reason is not None:
                failed += 1
                mismatches.append(f"query {name}: {reason}")
        res["named"]["op_fail_ratio"]["value"] = failed / attempted

    values = res["layers"] if args.trace else res["e2e"]
    metrics = {}
    for m in declared:
        v = values.get(m["name"])
        if v is None:
            fail(f"metric {m['name']} was not measured")
        if isinstance(v, dict):
            if v["unit"] != m["unit"]:
                fail(f"metric {m['name']} measured in {v['unit']}, declared {m['unit']}")
            v = v["value"]
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    facts = dict(res["facts"], **sizes, loadavg_launch=load_start, loadavg_exit=loadavg())
    if args.trace:
        spans = out.replace(".json", ".spans.json")
        keep = os.path.join(traces, f"{args.workload}-{args.seed}.spans.json")
        shutil.copyfile(spans, keep)
        facts["spans"] = os.path.relpath(keep, ROOT)
    for k, v in facts.items():
        print(f"fact {k} = {v}")
    for k, v in res["named"].items():
        gated = f" [gated as {GATED_AS[k]}]" if k in GATED_AS and not args.trace else ""
        print(f"metric {k} = {v['value']:.6g} {v['unit']}{gated}")
    for m in mismatches:
        print(f"MISMATCH {m}")
    shutil.rmtree(work, ignore_errors=True)

    correct = failed == 0 and attempted > 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
