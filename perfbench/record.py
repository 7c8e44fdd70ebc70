#!/usr/bin/env python3
"""Record the benchmark: repeated untraced runs and one traced run per workload.

    python3 perfbench/record.py --seeds 1-10 [--workloads a,b] [--traced] [--out FILE]

Run from the repository root. For every workload it runs
`perfbench/run.py` once per seed, then reports for every end-to-end metric
the median and the quartile spread (q3 - q1) / median, computed as
statistics.quantiles(values, n=4) gives the quartiles. With --traced it
also makes one traced run per workload (the first seed) and records its
per-layer table, the layer-claim lines and the tracing overhead: the traced
run's end-to-end values against the untraced medians. The record is written
as JSON to --out (default: stdout).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = os.path.join(HERE, ".work", "runs")


def load_benchmark():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, seed, seconds, trace):
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} trace {trace} failed (exit {out.returncode})")
    with open(os.path.join(RUNS, f"{workload}-{seed}-{trace}.json")) as fh:
        record = json.load(fh)
    return json.loads(lines[-1]), record, lines, wall


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("nan")


def parse_seeds(text):
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    bench = load_benchmark()
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    seeds = parse_seeds(a.seeds)
    report = {"run_seconds": seconds, "seeds": seeds, "workloads": {}}
    for w in workloads:
        values, e2e_all, walls, samples, loads = {}, {}, [], [], []
        for seed in seeds:
            result, record, _, wall = run(w, seed, seconds, 0)
            if not result["correct"] or result["failed"]:
                raise SystemExit(f"{w} seed {seed}: incorrect result {result}")
            walls.append(round(wall, 1))
            samples.append(record["samples"])
            loads.append(record["loadavg_start"])
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            for k, v in record["e2e"].items():
                e2e_all.setdefault(k, []).append(v["value"])
            print(f"{w} seed={seed} wall={wall:.1f}s " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), file=sys.stderr)
        entry = {
            "metrics": {k: {"median": statistics.median(v), "spread": spread(v),
                            "bound": bounds.get(k), "values": v} for k, v in values.items()},
            "e2e_medians": {k: statistics.median(v) for k, v in e2e_all.items()},
            "run_wall_s": walls, "samples": samples, "loadavg_start": loads,
        }
        if a.traced:
            result, record, lines, wall = run(w, seeds[0], seconds, 1)
            entry["traced"] = {
                "seed": seeds[0], "run_wall_s": round(wall, 1),
                "per_layer": {k: v["value"] for k, v in result["metrics"].items()},
                "claims": [l for l in lines if l.startswith(("op ", "claim ", "jobs="))],
                "e2e": {k: v["value"] for k, v in record["e2e"].items()},
                "overhead": {k: v["value"] / entry["e2e_medians"][k] - 1
                             for k, v in record["e2e"].items()
                             if k in entry["e2e_medians"] and entry["e2e_medians"][k]
                             and k != "error_rate"},
            }
        report["workloads"][w] = entry
        for k, m in entry["metrics"].items():
            print(f"{w} {k} median={m['median']:.4g} spread={m['spread']:.3f} bound={m['bound']}",
                  file=sys.stderr)
    text = json.dumps(report, indent=1)
    if a.out:
        with open(a.out, "w") as fh:
            fh.write(text + "\n")
    else:
        print(text)


if __name__ == "__main__":
    main()
