"""Steadiness check: run the benchmark once per seed on each workload, one
run at a time, and report for every end-to-end metric its ten-run median
and its spread (inter-quartile distance over the median) next to the
bound in BENCHMARK.json, plus the wall time of each run.

    python3 perfbench/steady.py --seeds 1-10 [--workloads backup-ops,...] \\
        [--out perfbench/steadiness.json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    report = {"seeds": args.seeds, "run_seconds": spec["run_seconds"], "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for seed in args.seeds:
            cmd = spec["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", "0",
            ]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            if proc.returncode != 0:
                print(proc.stderr[-3000:], file=sys.stderr)
                raise SystemExit(f"{wl} seed {seed}: exit {proc.returncode}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": round(wall, 2), **result})
            print(f"{wl} seed={seed} wall={wall:.1f}s correct={result['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                  flush=True)
        summary = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            entry = {"median": statistics.median(vals), "values": vals}
            if len(vals) >= 2:
                entry["spread"] = spread(vals)
            if name in bounds:
                entry["bound"] = bounds[name]
            summary[name] = entry
            if "spread" in entry:
                print(f"  {wl} {name}: median={entry['median']:.4g} "
                      f"spread={entry['spread']:.3f} bound={entry.get('bound', '-')}")
        report["workloads"][wl] = {
            "runs": runs,
            "metrics": summary,
            "mean_wall_s": statistics.mean(r["wall_s"] for r in runs),
            "all_correct": all(r["correct"] for r in runs),
        }
    walls = [w["mean_wall_s"] for w in report["workloads"].values()]
    report["evaluation_estimate_s"] = round(
        4 * statistics.mean(walls) + 22 * sum(walls), 1)
    print(f"estimated time of a full evaluation (4 + 22 runs per workload): {report['evaluation_estimate_s']} s of 3420")
    if args.out:
        with open(os.path.join(ROOT, args.out), "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
