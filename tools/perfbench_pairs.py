"""Interleaved parent/change pairs of ``perfbench/run.py``, with each run's
whole-process CPU.

    python tools/perfbench_pairs.py run --parent A --change B \\
        --workload backup-ops --seeds 201-210 [--trace 0] --out pairs.jsonl
    python tools/perfbench_pairs.py summary pairs.jsonl > PERFBENCH.json

``A`` and ``B`` are two checkouts. For each seed both run the same
workload, odd seeds the change first and even seeds the parent first.
Each run appends one JSON line: its end-to-end (or, with ``--trace 1``,
per-layer) metrics, whether every execution was correct, its wall time,
and ``run_cpu_s``, the user + system CPU seconds of the run and every
process it waited for (``getrusage(RUSAGE_CHILDREN)``: the driver JVM, the
spark-submit launcher and the Python process). That total shows whether
set-up CPU was removed or only moved into the warm-up and the passes.

``run_cpu_s`` cannot see the pyspark daemon or its Python workers: the
daemon ignores ``SIGCHLD``, so its workers are never waited for and no
``RUSAGE_CHILDREN`` counts them. ``worker_cpu_s`` does: every ~0.5 s the
run's process tree is read from ``/proc``, the last user + system CPU
reading of each pid is kept, and the sum runs over every process but
``run.py`` and the JVMs (the launcher JVM is reaped into the driver JVM's
children, so ``run_cpu_s`` already holds it). A worker that lives less
than one sampling interval is missed. ``whole_cpu_s`` in the summary is
the sum of the two.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import subprocess
import sys
import tempfile
import time

SAMPLE_S = 0.5


def children_cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def proc_stats() -> dict[int, tuple[int, str, float]]:
    """``{pid: (ppid, comm, own user + system CPU seconds)}`` of every
    process /proc shows."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                text = fh.read()
        except OSError:  # exited while listing
            continue
        comm = text[text.index("(") + 1:text.rindex(")")]
        fields = text.rsplit(")", 1)[1].split()
        out[int(name)] = (int(fields[1]), comm, (int(fields[11]) + int(fields[12])) / tick)
    return out


def sample_workers(root: int, last: dict[int, float]) -> None:
    """Record in ``last`` the CPU of each non-JVM process below ``root``."""
    stats = proc_stats()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        if stats[pid][1] != "java":
            last[pid] = stats[pid][2]


def run_one(checkout: str, workload: str, seed: int, trace: int, seconds: float) -> dict:
    cpu0, t0 = children_cpu_s(), time.perf_counter()
    workers: dict[int, float] = {}
    with tempfile.TemporaryFile("w+") as out:
        proc = subprocess.Popen(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
            cwd=checkout, stdout=out, stderr=subprocess.DEVNULL, text=True,
        )
        while proc.poll() is None:
            sample_workers(proc.pid, workers)
            time.sleep(SAMPLE_S)
        wall, cpu = time.perf_counter() - t0, children_cpu_s() - cpu0
        out.seek(0)
        lines = out.read().strip().splitlines()
    last = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return {
        "returncode": proc.returncode,
        "correct": bool(last and last["correct"]),
        "metrics": {k: v["value"] for k, v in last["metrics"].items()} if last else {},
        "wall_s": round(wall, 2),
        "run_cpu_s": round(cpu, 2),
        "worker_cpu_s": round(sum(workers.values()), 2),
    }


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def cmd_run(args: argparse.Namespace) -> None:
    sides = {"parent": args.parent, "change": args.change}
    for seed in seed_range(args.seeds):
        order = ["change", "parent"] if seed % 2 else ["parent", "change"]
        for side in order:
            rec = run_one(sides[side], args.workload, seed, args.trace, args.seconds)
            rec.update(workload=args.workload, seed=seed, side=side, trace=args.trace)
            with open(args.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(json.dumps(rec), flush=True)


def stats(xs: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return {"median": round(med, 3), "q1": round(q1, 3), "q3": round(q3, 3)}


RUN_CPU = {
    "run_cpu_s": lambda r: r["run_cpu_s"],
    "worker_cpu_s": lambda r: r["worker_cpu_s"],
    "whole_cpu_s": lambda r: r["run_cpu_s"] + r["worker_cpu_s"],
}


def cmd_summary(args: argparse.Namespace) -> None:
    recs = []
    for path in args.files:
        with open(path) as fh:
            recs += [json.loads(line) for line in fh]
    out = {}
    for wl in sorted({r["workload"] for r in recs if r["trace"] == 0}):
        runs = {(r["seed"], r["side"]): r for r in recs
                if r["workload"] == wl and r["trace"] == 0}
        # a run that failed has no metrics; its pair is left out and counted
        paired = [s for s, side in runs if side == "parent" and (s, "change") in runs]
        seeds = sorted(s for s in paired if runs[(s, "parent")]["metrics"]
                       and runs[(s, "change")]["metrics"])
        metrics = {}
        keys = list(runs[(seeds[0], "parent")]["metrics"]) + list(RUN_CPU)
        for k in keys:
            def val(seed, side):
                r = runs[(seed, side)]
                return RUN_CPU[k](r) if k in RUN_CPU else r["metrics"][k]
            p = [round(val(s, "parent"), 4) for s in seeds]
            c = [round(val(s, "change"), 4) for s in seeds]
            ps, cs = stats(p), stats(c)
            metrics[k] = {
                "parent": p, "change": c,
                "parent_stats": ps, "change_stats": cs,
                "change_wins": sum(b < a for a, b in zip(p, c)),
                "median_delta_pct": (round(100 * (cs["median"] / ps["median"] - 1), 1)
                                     if ps["median"] else None),
                "parent_iqr": round(ps["q3"] - ps["q1"], 3),
            }
        out[wl] = {
            "seeds": seeds,
            "pairs_left_out": len(paired) - len(seeds),
            "all_correct": all(runs[(s, side)]["correct"]
                               for s in paired for side in ("parent", "change")),
            "metrics": metrics,
        }
    trace = [
        {k: r[k] for k in ("workload", "seed", "side", "metrics")}
        for r in recs if r["trace"] == 1
    ]
    json.dump({"workloads": out, "trace": trace}, sys.stdout, indent=1)
    print()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="N or LO-HI")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--seconds", type=float, default=10)
    r.add_argument("--out", required=True)
    s = sub.add_parser("summary")
    s.add_argument("files", nargs="+")
    args = ap.parse_args()
    if args.cmd == "run":
        cmd_run(args)
    else:
        cmd_summary(args)


if __name__ == "__main__":
    main()
