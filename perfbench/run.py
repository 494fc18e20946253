"""esop-spark benchmark: one workload per invocation, run from outside the
program through its public entry points only (``esop_spark.session.get_spark``,
``__spark_entry__.queries()`` and ``esop_spark.sources.fixtures``).

    python3 perfbench/run.py --workload backup-ops --seed 1 --seconds 10 --trace 0

Load model: a closed loop with one client. One Python process issues one
query at a time against ``local[<nproc>]``, with shuffle partitions pinned
by ``bench._pinned_shuffle_partitions``. Every execution starts from an
untimed reset of the session caches (the same reset as bench.py), so each
timed number is what a fresh esop command pays; JVM start belongs to
``setup_s`` (its CPU seconds) and first codegen to one untimed warm-up
pass. A timed execution builds the query's DataFrame and collects its rows,
as a CLI command that prints its result does; its wall time and the CPU
seconds of the driver JVM and this process are recorded. The seed only
permutes the query order of each pass.

Every execution (warm-up included) is checked, untimed, against the
DuckDB oracle digest in ``perfbench/expected.json``. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The raw record of the run (every sample, spans, event-log
counters, provenance and calibration scans) goes to
``.perfbench/records/``. See perfbench/README.md for the workloads and for
which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DATA_DIR = "perfbench/data/sf0.01"
SF = 0.01
EXPECTED_PATH = "perfbench/expected.json"
OUT_DIR = ".perfbench"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# The per-query cost at sf0.01 on 4 cores, and why these queries were
# kept, are in perfbench/README.md: set-up, the warm-up pass and three timed
# passes of every query the benchmark was planned with would not fit the
# run budget.
WORKLOADS = {
    # esop's command surface (list, remove-backup, backup, restore,
    # commitlog-restore): each command rebuilds the manifest_entries
    # fixture cache, so the sources layer and task scheduling dominate
    "backup-ops": [
        "q01_list_backups",
        "q02_removable_entries",
        "q03_upload_diff",
        "q04_restore_diff",
        "q07_commitlog_window",
    ],
    # iterative curation: DataFrame build with eager per-round jobs
    "curation-iterative": [
        "q278_component_census",
    ],
}
MIN_PASSES = 3
# The end-to-end metrics the last line carries, those BENCHMARK.json
# bounds. On a shared VM, hypervisor CPU steal comes in waves of tens of
# seconds, so the gated figures are the ones steal moves least: CPU
# seconds of set-up and of a pass, and a pass's wall time built from each
# query's fastest timed execution (README.md).
END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "pass_min_s": "s",
}
# every end-to-end metric printed on the human-readable lines; the ungated
# ones are too unsteady on a shared 4-core box (median wall times, the
# per-query CPU median, the JVM's peak RSS, which moves 10-50 % run to run
# with G1 heap sizing), zero by construction (failed_ratio), or thin at this
# sample count (query_tail_s, printed with its percentile and n)
REPORTED_UNITS = {
    **END_TO_END_UNITS,
    "setup_wall_s": "s",
    "query_cpu_p50_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "jvm_rss_peak_mib": "MiB",
    "failed_ratio": "1",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.fixture_s": "s",
    "sources.fixture_jobs": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_tasks": "count",
    "spark.plan_s": "s",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.utilization": "1",
    "executor.gc_s": "s",
    "spill.disk_mib": "MiB",
    "shuffle.read_mib": "MiB",
    "shuffle.write_mib": "MiB",
    "input.records": "count",
    "trace.overhead_s": "s",
}


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22, starttime
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int, children: bool = False) -> float:
    """User and system CPU seconds of a process, with those of its reaped
    children when ``children`` is set."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    ticks = fields[11:15] if children else fields[11:13]  # utime stime cutime cstime
    return sum(int(x) for x in ticks) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mib(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def isolate(work: str, event_dir: str | None, cores: int) -> None:
    """Point every scratch path Spark and the JVM take from the
    environment into the run's work directory; must run before the JVM
    starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the short-lived launcher JVM of spark-submit, then the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = java
    args = [f'--driver-java-options "{java} -Dderby.system.home={tmp}"']
    if event_dir is not None:
        os.makedirs(event_dir)
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{event_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def stop_jvm() -> None:
    """End the driver JVM that pyspark launched and wait for it to exit.
    It exits when its stdin closes; left alone, that happens only when this
    process exits, and nothing waits for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def operator_modules(fn) -> list[str]:
    """``esop_spark`` modules whose functions a query entry point calls."""
    mods = set()
    for name in fn.__code__.co_names:
        obj = fn.__globals__.get(name)
        mod = getattr(obj, "__module__", None) or getattr(obj, "__name__", "")
        if isinstance(mod, str) and mod.startswith("esop_spark."):
            mods.add(mod[len("esop_spark."):])
    return sorted(mods)


class Bench:
    """One benchmark process: the session, the queries and the record."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.names = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = len(os.sched_getaffinity(0))
        self.sf_dir = os.path.join(ROOT, DATA_DIR)
        with open(os.path.join(ROOT, EXPECTED_PATH)) as fh:
            self.expected = json.load(fh)["queries"]
        self.attempted = 0
        self.failures: list[dict] = []
        self.spans: list[dict] = []
        # query -> (build registers the fixture views, execution fills the
        # manifest_entries cache), learnt in the warm-up pass
        self.fixture_use: dict[str, tuple[bool, bool]] = {}

    # -- set-up -----------------------------------------------------------

    def setup(self) -> None:
        import __spark_entry__ as entry_mod
        from bench import _pinned_shuffle_partitions
        from esop_spark.session import get_spark
        from esop_spark.sources import fixtures

        self.fixtures = fixtures
        t0 = time.time()
        self.spark = get_spark(
            "esop-perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=_pinned_shuffle_partitions(SF),
            console_progress=False,
        )
        t1 = time.time()
        fixtures.register_fixture_views(self.spark, self.sf_dir)
        self.setup_wall_s = process_age_s()
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())
        # spark-submit execs the driver JVM after its launcher JVM exits, so
        # the launcher's CPU is in the driver process's reaped children
        t = os.times()
        self.setup_cpu_s = (proc_cpu_s(self.jvm_pid, children=True)
                            + t.user + t.system)
        self.span("setup", "session.start", t0, t1)
        self.qs = entry_mod.queries()

    def span(self, trace_id: str, name: str, start: float, end: float,
             parent: str | None = None) -> None:
        self.spans.append(
            {"trace": trace_id, "name": name, "start": start, "end": end,
             "parent": parent}
        )

    def manifest_cached(self) -> bool:
        """Whether the manifest_entries cache holds any partition."""
        return any(
            info.name() == "In-memory table manifest_entries"
            and info.numCachedPartitions() > 0
            for info in self.sc._jsc.sc().getRDDStorageInfo()
        )

    def reset(self) -> None:
        """bench.py's reset_session_state, untimed before every execution."""
        from esop_spark.operators.dedup import release_shared_relations

        release_shared_relations()
        self.spark.catalog.clearCache()
        self.fixtures.reset_registration_cache()
        jmap = self.sc._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            if jmap.containsKey(rid):
                jmap.get(rid).unpersist(False)

    # -- one execution ------------------------------------------------------

    def check(self, name: str, cols: list[str], rows: list) -> str | None:
        from metrics import canonical_digest
        from tools.check_oracle import normalize

        exp = self.expected[name]
        if sorted(cols) != exp["cols"]:
            return f"columns {sorted(cols)} != {exp['cols']}"
        norm = normalize([tuple(r) for r in rows], cols)
        if len(norm) != exp["rows"]:
            return f"{len(norm)} rows, expected {exp['rows']}"
        if canonical_digest(norm) != exp["sha256"]:
            return "values differ from the oracle"
        return None

    def execute(self, name: str, trace_id: str | None) -> dict | None:
        """Reset, then build and collect one query. Return its latency, the
        CPU seconds the driver JVM and this process spent on it, and the
        CPU seconds the hypervisor stole from the box meanwhile; or None
        when it raised or its result is wrong."""
        self.reset()
        self.attempted += 1
        cpu0, steal0 = self.cpu_s(), cpu_steal_s()
        try:
            if trace_id is None:
                t0 = time.perf_counter()
                df = self.qs[name](self.spark, self.sf_dir)
                cols, rows = df.columns, df.collect()
                dt = time.perf_counter() - t0
            else:
                dt, cols, rows = self.execute_traced(name, trace_id)
        except Exception:  # a failing query is a counted result, not a crash
            self.failures.append({"query": name, "error": traceback.format_exc()})
            return None
        sample = {"latency_s": dt, "cpu_s": self.cpu_s() - cpu0,
                  "steal_s": cpu_steal_s() - steal0}
        err = self.check(name, cols, rows)
        if err is not None:
            self.failures.append({"query": name, "error": err})
            return None
        return sample

    def execute_traced(self, name: str, tid: str):
        """The same execution, split into spans, each step in its own job
        group: fixture registration and the filling of the manifest_entries
        cache (each only for queries whose own execution does it), the
        query's build call, and the collect."""
        sc = self.sc
        t0 = time.time()
        try:
            sc.setJobGroup(f"{tid}|sources", name)
            s0 = time.time()
            registers, fills_cache = self.fixture_use[name]
            if registers:
                self.fixtures.register_fixture_views(self.spark, self.sf_dir)
            if fills_cache:
                self.spark.table("manifest_entries").count()
            s1 = time.time()
            sc.setJobGroup(f"{tid}|build", name)
            b0 = time.time()
            df = self.qs[name](self.spark, self.sf_dir)
            b1 = time.time()
            sc.setJobGroup(f"{tid}|execute", name)
            e0 = time.time()
            cols, rows = df.columns, df.collect()
            e1 = time.time()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        t3 = time.time()
        self.span(tid, "query", t0, t3)
        self.span(tid, "sources.fixture", s0, s1, "query")
        self.span(tid, "operators.build", b0, b1, "query")
        self.span(tid, "spark.execute", e0, e1, "query")
        return t3 - t0, cols, rows

    # -- passes -------------------------------------------------------------

    def warm_up(self) -> dict[str, float | None]:
        """One untimed, checked pass in workload order. It also learns, per
        query, whether its build registers the fixture views (which marks
        manifest_entries for caching) and whether its execution fills that
        cache."""
        out = {}
        for name in self.names:
            self.reset()
            self.attempted += 1
            self.fixture_use[name] = (False, False)
            try:
                t0 = time.perf_counter()
                df = self.qs[name](self.spark, self.sf_dir)
                registers = self.spark.catalog.isCached("manifest_entries")
                cols, rows = df.columns, df.collect()
                out[name] = time.perf_counter() - t0
            except Exception:
                self.failures.append(
                    {"query": name, "error": traceback.format_exc()}
                )
                out[name] = None
                continue
            self.fixture_use[name] = (registers, self.manifest_cached())
            err = self.check(name, cols, rows)
            if err is not None:
                self.failures.append({"query": name, "error": err})
        return out

    def timed_passes(self) -> list[dict]:
        """Passes until ``seconds`` have elapsed (at least MIN_PASSES). With
        tracing, passes run untraced, traced, traced, untraced and so on,
        so that the traced and untraced medians see the same JIT warm-up
        trend, and at least one of each pair is run."""
        rng = random.Random(self.seed)
        passes = []
        t_start = time.perf_counter()
        min_passes = 4 if self.trace else MIN_PASSES
        while (len(passes) < min_passes
               or time.perf_counter() - t_start < self.seconds):
            idx = len(passes)
            traced = self.trace and idx % 4 in (1, 2)
            order = rng.sample(self.names, len(self.names))
            gc0 = self.jvm_gc_s()
            samples = {
                name: self.execute(name, f"p{idx}:{name}" if traced else None)
                for name in order
            }
            ok = [v for v in samples.values() if v is not None]
            complete = len(ok) == len(samples)
            passes.append({
                "index": idx,
                "traced": traced,
                "order": order,
                "samples": samples,
                "pass_s": sum(v["latency_s"] for v in ok) if complete else None,
                "pass_cpu_s": sum(v["cpu_s"] for v in ok) if complete else None,
                "pass_steal_s": sum(v["steal_s"] for v in ok),
                "jvm_gc_s": self.jvm_gc_s() - gc0,
            })
        return passes

    def cpu_s(self) -> float:
        """User and system CPU seconds of the driver JVM and this process."""
        t = os.times()
        return proc_cpu_s(self.jvm_pid) + t.user + t.system

    def jvm_gc_s(self) -> float:
        """Total collection time of the driver JVM's garbage collectors."""
        beans = self.sc._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def calibration(self) -> list[float]:
        from bench import _run_calibration

        self.reset()
        return _run_calibration(self.spark, self.sf_dir)


def layer_metrics(bench: Bench, passes: list[dict], groups: dict) -> dict:
    """Per-layer sums of each traced pass, reduced to their median."""
    from metrics import GroupCounters, uncovered_s

    by_trace: dict[str, dict[str, dict]] = {}
    for s in bench.spans:
        by_trace.setdefault(s["trace"], {})[s["name"]] = s
    empty = GroupCounters()
    per_pass = []
    for p in passes:
        if not p["traced"]:
            continue
        m = {k: 0.0 for k in PER_LAYER_UNITS}
        wall = 0.0
        for name in p["order"]:
            tid = f"p{p['index']}:{name}"
            sp = by_trace.get(tid)
            if sp is None:  # the execution raised before its spans closed
                continue
            src = groups.get(f"{tid}|sources", empty)
            bld = groups.get(f"{tid}|build", empty)
            exe = groups.get(f"{tid}|execute", empty)
            ex_span = sp["spark.execute"]
            wall += sp["query"]["end"] - sp["query"]["start"]
            m["sources.fixture_s"] += (
                sp["sources.fixture"]["end"] - sp["sources.fixture"]["start"])
            m["sources.fixture_jobs"] += src.jobs
            m["operators.build_s"] += (
                sp["operators.build"]["end"] - sp["operators.build"]["start"])
            m["operators.build_jobs"] += bld.jobs
            m["operators.build_tasks"] += bld.tasks
            m["spark.execute_s"] += ex_span["end"] - ex_span["start"]
            m["spark.plan_s"] += uncovered_s(
                ex_span["start"], ex_span["end"], exe.job_intervals)
            m["spark.jobs"] += exe.jobs
            m["spark.stages"] += exe.stages
            m["spark.tasks"] += exe.tasks
            for g in (src, bld, exe):
                m["executor.run_s"] += g.run_s
                m["executor.cpu_s"] += g.cpu_s
                m["executor.gc_s"] += g.gc_s
                m["spill.disk_mib"] += g.spill_disk_mib
                m["shuffle.read_mib"] += g.shuffle_read_mib
                m["shuffle.write_mib"] += g.shuffle_write_mib
                m["input.records"] += g.input_records
        m["executor.utilization"] = (
            m["executor.run_s"] / (wall * bench.cores) if wall else 0.0)
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in PER_LAYER_UNITS}
    setup = next(s for s in bench.spans if s["name"] == "session.start")
    out["session.start_s"] = setup["end"] - setup["start"]
    traced = [p["pass_s"] for p in passes if p["traced"] and p["pass_s"] is not None]
    plain = [p["pass_s"] for p in passes if not p["traced"] and p["pass_s"] is not None]
    out["trace.overhead_s"] = (
        statistics.median(traced) - statistics.median(plain)
        if traced and plain else 0.0)
    return {"median": out, "per_pass": per_pass}


def end_to_end(bench: Bench, passes: list[dict]) -> dict:
    from metrics import fastest_pass_s, tail

    plain = [p for p in passes if not p["traced"]]
    pass_s = [p["pass_s"] for p in plain if p["pass_s"] is not None]
    pass_cpu = [p["pass_cpu_s"] for p in plain if p["pass_cpu_s"] is not None]
    samples = [v for p in plain for v in p["samples"].values() if v is not None]
    latency = [v["latency_s"] for v in samples]
    t = tail(latency)
    nan = float("nan")
    return {
        "setup_s": bench.setup_cpu_s,
        # a mean: CPU seconds do not carry the steal spikes a median guards
        # against, and every run times the same passes of the JIT warm-up
        "pass_cpu_s": statistics.mean(pass_cpu) if pass_cpu else nan,
        "pass_min_s": fastest_pass_s(
            [p["samples"] for p in plain], bench.names) or nan,
        "setup_wall_s": bench.setup_wall_s,
        "query_cpu_p50_s": (statistics.median(v["cpu_s"] for v in samples)
                            if samples else nan),
        "pass_s": statistics.median(pass_s) if pass_s else nan,
        "query_p50_s": statistics.median(latency) if latency else nan,
        "query_tail_s": None if t is None else {"value": t[0], "p": t[1], "n": t[2]},
        "jvm_rss_peak_mib": bench.rss_mib,
        "failed_ratio": len(bench.failures) / bench.attempted,
    }


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = [p for p in ("__spark_entry__.py", "esop_spark", "bench.py",
                           "tools/check_oracle.py", DATA_DIR, EXPECTED_PATH)
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not an esop-spark checkout, missing {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    out_root = os.path.join(ROOT, OUT_DIR)
    work = os.path.join(out_root, f"work-{tag}-{os.getpid()}")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    isolate(work, event_dir, bench.cores)
    try:
        import bench as bench_mod

        phases = {}
        t = time.perf_counter()

        def phase(name: str) -> None:
            nonlocal t
            now = time.perf_counter()
            phases[name] = round(now - t, 3)
            t = now

        bench.setup()
        phase("setup")
        provenance = bench_mod._provenance()
        provenance["nproc"] = bench.cores
        warm = bench.warm_up()
        phase("warm_up")
        calib_pre = bench.calibration()
        phase("calibration_pre")
        passes = bench.timed_passes()
        phase("timed_passes")
        calib_post = bench.calibration()
        phase("calibration_post")
        bench.rss_mib = vm_hwm_mib(bench.jvm_pid)
        provenance["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        app_id = bench.sc.applicationId
        bench.spark.stop()
        stop_jvm()
        phase("stop")

        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "data": DATA_DIR,
            "cores": bench.cores,
            "provenance": provenance,
            "calibration_trials_pre": calib_pre,
            "calibration_trials_post": calib_post,
            "phase_wall_s": phases,
            "warmup_latency_s": warm,
            "fixture_use": bench.fixture_use,
            "operator_modules": {n: operator_modules(bench.qs[n]) for n in bench.names},
            "passes": passes,
            "failures": bench.failures,
            "attempted": bench.attempted,
            "end_to_end": end_to_end(bench, passes),
        }
        if args.trace:
            from metrics import aggregate_event_log, read_events

            log = next(os.path.join(event_dir, f) for f in os.listdir(event_dir)
                       if app_id in f)
            groups = aggregate_event_log(read_events(log))
            record["per_layer"] = layer_metrics(bench, passes, groups)
            record["spans"] = bench.spans
            record["job_groups"] = {g: c.as_dict() for g, c in groups.items()}
        os.makedirs(os.path.join(out_root, "records"), exist_ok=True)
        with open(os.path.join(out_root, "records", f"{tag}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = record["end_to_end"]
    if args.trace:
        values = record["per_layer"]["median"]
        units = PER_LAYER_UNITS
    else:
        values = e2e
        units = END_TO_END_UNITS
    for k, unit in REPORTED_UNITS.items():
        v = e2e[k]
        if isinstance(v, dict):
            shown = f"{v['value']:.4f} {unit} (p{v['p']}, n={v['n']})"
        elif v is None:
            shown = "NA (needs at least 11 samples)"
        else:
            shown = f"{v:.4f} {unit}"
        print(f"{args.workload} {k} = {shown}")
    for f in bench.failures:
        print(f"FAILED {f['query']}: {f['error'].strip().splitlines()[-1]}")
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
