#!/usr/bin/env python3
"""Repeat-run evidence for the benchmark at the current checkout.

    python3 perfbench/evidence.py --out perfbench/results/<name>.json \
        [--workloads get_mix,wire_ingest,churn] [--seeds 101-110] [--traced-seed 101]

For each workload: one untraced run per seed, then one traced run. Writes,
per workload, every measured metric's median, first and third quartile and
spread ((q3 - q1) / median, statistics.quantiles(n=4)); the traced run's
metrics; and the tracing overhead (traced op_p50_ms over the untraced
median, minus one). Run from the root of a checkout.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def run(workload, seed, seconds, trace):
    t = time.monotonic()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], capture_output=True, text=True)
    wall = time.monotonic() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace} failed")
    full, result = json.loads(lines[-2]), json.loads(lines[-1])
    print(f"{workload} seed={seed} trace={trace} wall={wall:.1f}s "
          f"correct={result['correct']} attempted={result['attempted']} "
          f"failed={result['failed']}", flush=True)
    return {"seed": seed, "wall_s": round(wall, 1), "result": result,
            "measured": {k: v["value"] for k, v in full["measured"].items()},
            "units": {k: v["unit"] for k, v in full["measured"].items()},
            "notes": full["notes"]}


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--traced-seed", type=int, default=None)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    lo, hi = (int(x) for x in args.seeds.split("-"))
    seeds = list(range(lo, hi + 1))
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    out = {"run_seconds": spec["run_seconds"], "seeds": seeds, "workloads": {}}
    for w in names:
        runs = [run(w, s, spec["run_seconds"], 0) for s in seeds]
        keys = sorted(set.intersection(*(set(r["measured"]) for r in runs)))
        entry = {
            "runs": runs,
            "all_correct": all(r["result"]["correct"] for r in runs),
            "metrics": {k: dict(summary([r["measured"][k] for r in runs]),
                            unit=runs[0]["units"][k]) for k in keys},
            "end_to_end_spread": {
                m["name"]: summary([r["result"]["metrics"][m["name"]]["value"] for r in runs])["spread"]
                for m in spec["end_to_end"]},
        }
        traced = run(w, args.traced_seed or seeds[0], spec["run_seconds"], 1)
        entry["traced"] = traced
        op = entry["metrics"]["op_p50_ms"]["median"]
        entry["tracing_overhead"] = {
            "untraced_op_p50_ms_median": op,
            "traced_op_p50_ms": traced["measured"]["op_p50_ms"],
            "overhead": traced["measured"]["op_p50_ms"] / op - 1.0,
        }
        out["workloads"][w] = entry
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
        for k, v in entry["end_to_end_spread"].items():
            print(f"  {w} {k}: spread {v:.3f}", flush=True)
        print(f"  {w} tracing overhead on op_p50_ms: "
              f"{entry['tracing_overhead']['overhead']:+.3f}", flush=True)


if __name__ == "__main__":
    main()
