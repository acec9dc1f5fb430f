#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and summarise it.

For each workload: untraced runs over the given seeds, made in `--sets`
sets whose runs interleave (seed by seed, workload by workload, set by
set), so that a drift of the host's load reaches every set alike. For
each set it reports the median and the quartile spread, (Q3 - Q1) /
median, of every end-to-end and workload metric, and the relative
difference of each set's median from the first set's. Then one traced
run per workload (per-layer values, and the tracing overhead as traced
minus untraced-median end-to-end values). Writes the raw results as JSON
and prints markdown tables.

Usage (from the repository root):
  python3 benchmark/receipt.py --workloads day_cycle,query_mix --seeds 1-10 \\
      --sets 2 --seconds 20 --out benchmark/receipts/run.json [--cores 4] [--no-trace]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace, cores):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(cores)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = p.stdout.strip().splitlines()
    out = {"exit": p.returncode, "facts": {}, "named": {}, "mismatches": []}
    for line in lines:
        if line.startswith("fact "):
            k, _, v = line[5:].partition(" = ")
            out["facts"][k] = v
        elif line.startswith("metric "):
            k, _, v = line[7:].partition(" = ")
            value, unit = v.split()[:2]
            if "[gated as" not in v:
                out["named"][k] = {"value": float(value), "unit": unit}
        elif line.startswith("MISMATCH"):
            out["mismatches"].append(line)
    out["result"] = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if out["result"] is None:
        out["stderr"] = p.stderr[-3000:]
    return out


def spread(xs):
    med = statistics.median(xs)
    if len(xs) < 2 or med == 0:
        return med, None
    q = statistics.quantiles(xs, n=4)
    return med, (q[2] - q[0]) / med


def seeds_of(text):
    a, _, b = text.partition("-")
    return list(range(int(a), int(b or a) + 1))


def summarise(runs, bounds):
    """Median and spread of every metric over the correct runs."""
    ok = [r for r in runs if r["result"] and r["result"]["correct"]]
    summary = {}
    for source in ("metrics", "named"):
        names = (ok[0]["result"]["metrics"] if source == "metrics" else ok[0]["named"]) if ok else {}
        for name in names:
            xs = [(r["result"]["metrics"] if source == "metrics" else r["named"])[name]["value"]
                  for r in ok]
            med, sp = spread(xs)
            summary.setdefault(name, {"median": med, "spread": sp, "values": xs,
                                      "unit": names[name]["unit"],
                                      "bound": bounds.get(name) if source == "metrics" else None})
    return ok, summary


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--no-trace", action="store_true")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = args.workloads.split(",")
    seeds = seeds_of(args.seeds)
    runs = {(w, k): [] for w in workloads for k in range(args.sets)}
    for s in seeds:
        for w in workloads:
            for k in range(args.sets):
                runs[(w, k)].append(dict(run(w, s, args.seconds, 0, args.cores), seed=s, set=k))
    report = {"seconds": args.seconds, "cores": args.cores, "sets": args.sets, "workloads": {}}
    for w in workloads:
        sets = [summarise(runs[(w, k)], bounds) for k in range(args.sets)]
        summary = sets[0][1]
        entry = {"runs": [r for k in range(args.sets) for r in runs[(w, k)]],
                 "correct_runs": sum(len(ok) for ok, _ in sets),
                 "summary": [s for _, s in sets]}
        print(f"\n### {w}: {entry['correct_runs']}/{len(entry['runs'])} runs correct, "
              f"seeds {args.seeds}, {args.sets} interleaved set(s)\n")
        head = "| metric | unit | " + " | ".join(
            f"median {k + 1} | spread {k + 1}" + (f" | diff {k + 1}" if k else "")
            for k in range(args.sets)) + " | bound |"
        print(head)
        print("|" + "---|" * (head.count("|") - 1))
        for name, s in summary.items():
            cells = []
            for k, (_, sk) in enumerate(sets):
                x = sk.get(name)
                if x is None:
                    cells += ["", ""] + ([""] if k else [])
                    continue
                cells.append(f"{x['median']:.4g}")
                cells.append("" if x["spread"] is None else f"{x['spread']:.3f}")
                if k:
                    diff = (x["median"] - s["median"]) / s["median"] if s["median"] else None
                    cells.append("" if diff is None else f"{diff:+.3f}")
            print(f"| `{name}` | {s['unit']} | " + " | ".join(cells) + f" | {s['bound'] or ''} |")
        if not args.no_trace:
            t = run(w, seeds[0], args.seconds, 1, args.cores)
            entry["traced"] = t
            if t["result"]:
                layers = t["result"]["metrics"]
                entry["overhead"] = {
                    k: layers[f"traced.{k}"]["value"] - summary[k]["median"]
                    for k in summary if f"traced.{k}" in layers}
                print(f"\ntraced run (seed {seeds[0]}): correct={t['result']['correct']}\n")
                print("| layer metric | unit | value |")
                print("|---|---|---|")
                for k, v in layers.items():
                    print(f"| `{k}` | {v['unit']} | {v['value']:.6g} |")
                print("\ntracing overhead (traced - untraced median of set 1): " + ", ".join(
                    f"{k} {v:+.4g}" for k, v in entry["overhead"].items()))
        report["workloads"][w] = entry
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)


if __name__ == "__main__":
    main()
