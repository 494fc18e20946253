"""Per-query profiler for the optimization rounds: isolated timing (same
session confs + reset regime as bench.py), Spark JOB COUNT per trial (the
local-mode cost model is jobs × scheduling overhead + exchanges), and
``explain("formatted")`` capture to plans/<tag>/<query>_<suffix>.txt.

Usage:
  python tools/qprof.py q301_cosine_pairs_lsh q48_dedup_clusters \
      [--sf /root/testdata/sf0.1] [--plans r11:before] [--trials 5]

Before the per-query lines, one ``setup:`` line splits the session's start:
CPU and wall seconds of ``get_spark``, ``fixtures.load_base_tables`` and
``fixtures.register_fixture_views``, and the Spark jobs the last two fire
(each in its own job group). CPU is the driver JVM's, with its reaped
spark-submit launcher (``/proc/<pid>/stat``), plus this process's.

Each timed trial runs in two job groups: one around the ``queries()`` call
that BUILDS the DataFrame (operators that materialize intermediate rounds
eagerly fire their jobs here) and one around the noop write that EXECUTES
it. The status tracker's job ids per group give ``build_jobs=`` and
``exec_jobs=`` per trial, next to the build and total seconds — numbers
that explain "why is this 5 s on 2,000 rows" faster than any timeline.
A query that runs ``graph.connected_components`` also prints
``cc_rounds=``, its propagation rounds per trial: every call of the
kernel checkpoints its initial vertex state once and then once per round.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from esop_spark.operators import graph
from esop_spark.operators.dedup import release_shared_relations
from esop_spark.session import get_spark
from esop_spark.sources import fixtures


def cpu_s(jvm_pid: int) -> float:
    """User and system CPU seconds of the driver JVM, with its reaped
    children, and of this process."""
    with open(f"/proc/{jvm_pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    t = os.times()
    jvm = sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")
    return jvm + t.user + t.system


def count_cc_rounds() -> list:
    """Route the kernel's per-round checkpoint through a counter. Returns
    the list it appends each call's checkpointer to; holding them keeps
    their ids distinct, so rounds = calls - distinct checkpointers."""
    ckpts = []
    inner = graph._checkpoint_counting_changed

    def counting(ckpt, state):
        ckpts.append(ckpt)
        return inner(ckpt, state)

    graph._checkpoint_counting_changed = counting
    return ckpts


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--trials", type=int, default=5)
    ap.add_argument(
        "--plans",
        default="",
        help="tag:suffix, e.g. r11:before -> plans/r11/<q>_before.txt",
    )
    args = ap.parse_args()

    sf = float(args.sf.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in args.sf else -1.0
    from bench import _pinned_shuffle_partitions

    py0, w0 = os.times(), time.perf_counter()
    spark = get_spark(
        "esop-qprof",
        shuffle_partitions=_pinned_shuffle_partitions(sf),
        console_progress=False,
    )
    sc = spark.sparkContext
    pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
    setup = [f"get_spark cpu={cpu_s(pid) - py0.user - py0.system:.2f}"
             f" wall={time.perf_counter() - w0:.2f}"]
    for step, fn in (("load_base_tables", fixtures.load_base_tables),
                     ("register_fixture_views", fixtures.register_fixture_views)):
        group = f"qprof-setup-{step}-{uuid.uuid4().hex[:6]}"
        c0, w0 = cpu_s(pid), time.perf_counter()
        try:
            sc.setJobGroup(group, step)
            fn(spark, args.sf)
        finally:
            sc.setJobGroup(None, None)
        setup.append(
            f"{step} cpu={cpu_s(pid) - c0:.2f}"
            f" wall={time.perf_counter() - w0:.2f}"
            f" jobs={len(sc.statusTracker().getJobIdsForGroup(group))}"
        )
    print("setup: " + " | ".join(setup), flush=True)
    qs = entry_mod.queries()
    names = []
    for pat in args.queries:
        if pat.endswith("*"):
            names.extend(q for q in qs if q.startswith(pat[:-1]))
        else:
            names.append(pat)

    # same warmup ritual as bench.py: register the base tables and the
    # manifest_entries view (plain, nothing cached), then warm codegen
    for _ in range(2):
        qs["q01_list_backups"](spark, args.sf).write.format("noop").mode("overwrite").save()

    def reset() -> None:
        release_shared_relations()
        spark.catalog.clearCache()
        fixtures.reset_registration_cache()
        jmap = sc._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            if jmap.containsKey(rid):
                jmap.get(rid).unpersist(False)

    plan_dir = None
    suffix = ""
    if args.plans:
        tag, suffix = args.plans.split(":")
        plan_dir = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "plans",
            tag,
        )
        os.makedirs(plan_dir, exist_ok=True)

    cc_ckpts = count_cc_rounds()
    for name in names:
        reset()
        qs[name](spark, args.sf).write.format("noop").mode("overwrite").save()
        if plan_dir is not None:
            df = qs[name](spark, args.sf)
            txt = spark.sparkContext._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plan_dir, f"{name}_{suffix}.txt"), "w") as fh:
                fh.write(txt)
        trials = []
        builds = []
        build_jobs = []
        exec_jobs = []
        cc_rounds = []
        for t in range(args.trials):
            cc_ckpts.clear()
            tag = f"qprof-{name}-{t}-{uuid.uuid4().hex[:6]}"
            try:
                sc.setJobGroup(f"{tag}-build", name)
                t0 = time.perf_counter()
                df = qs[name](spark, args.sf)
                t1 = time.perf_counter()
                sc.setJobGroup(f"{tag}-exec", name)
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            finally:
                sc.setJobGroup(None, None)
            builds.append(t1 - t0)
            trials.append(t2 - t0)
            tracker = sc.statusTracker()
            build_jobs.append(len(tracker.getJobIdsForGroup(f"{tag}-build")))
            exec_jobs.append(len(tracker.getJobIdsForGroup(f"{tag}-exec")))
            cc_rounds.append(len(cc_ckpts) - len({id(c) for c in cc_ckpts}))
        trials_r = [round(x, 3) for x in trials]
        print(
            f"{name}: min={min(trials_r)} med={sorted(trials_r)[len(trials_r)//2]}"
            f" trials={trials_r} build_s={[round(x, 3) for x in builds]}"
            f" build_jobs={build_jobs} exec_jobs={exec_jobs}"
            + (f" cc_rounds={cc_rounds}" if cc_ckpts else ""),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
