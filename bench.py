"""Benchmark harness: runs EVERY declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line (totals + 10 slowest; the full per-query maps go to
BENCH_DETAIL.json, committed each round).

Each query executes to completion through the noop sink (full compute, no
driver-side collection), so the timing covers scan → shuffle → agg/join —
the same plan shape a cluster run would execute.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from esop_spark.operators.dedup import release_shared_relations
from esop_spark.session import get_spark
from esop_spark.sources import fixtures

# The bench list IS the declared-query surface: every queries() entry runs
# (derived at runtime so new waves can never silently drop out of the
# regression record, as q24/q36/q48/q96 and 48 others once did when the
# list was maintained by hand).
def bench_query_names() -> list[str]:
    return list(entry_mod.queries().keys())


def _run_calibration(spark, sf_dir: str) -> list[float]:
    """Fixed-cost scan+agg whose plan never changes round-to-round: one
    lineitem scan, one hash aggregation, noop sink. Timed with the same
    1-warmup + 5-trial protocol as real queries, once BEFORE and once
    AFTER the sweep, so machine drift (co-load, thermal, page cache)
    is MEASURED and can be subtracted from round-over-round deltas in
    BENCH_NOTES instead of argued (two consecutive rounds leaned on a
    'uniform environmental drift' narrative — round-9 verdict #4)."""
    from pyspark.sql import functions as F

    def once():
        (
            spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.count(F.lit(1)).alias("n"),
            )
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    once()  # untimed warmup
    trials = []
    for _ in range(5):
        t0 = time.perf_counter()
        once()
        trials.append(round(time.perf_counter() - t0, 3))
    return trials


def _provenance() -> dict:
    """Machine-state stanza recorded alongside the trials: the r10
    driver/builder runs differed 12% on identical code and the
    adjudication leaned on narrative — uptime/loadavg/meminfo at run
    start make box state part of the artifact instead."""
    prov: dict = {}
    try:
        with open("/proc/uptime") as fh:
            prov["uptime_s"] = round(float(fh.read().split()[0]), 1)
    except OSError:
        pass
    try:
        prov["loadavg_1m_5m_15m"] = [
            round(x, 2) for x in os.getloadavg()
        ]
    except OSError:
        pass
    try:
        with open("/proc/meminfo") as fh:
            mem = {
                k.rstrip(":"): int(v)
                for k, v, *_ in (ln.split() for ln in fh)
            }
        prov["mem_available_gib"] = round(mem["MemAvailable"] / 2**20, 1)
        prov["mem_total_gib"] = round(mem["MemTotal"] / 2**20, 1)
    except (OSError, KeyError):
        pass
    prov["cpus"] = os.cpu_count()
    return prov


def _pinned_shuffle_partitions(sf: float) -> int:
    """Per-SF shuffle sizing so partition counts (and therefore per-task
    input sizes) are stable run-to-run instead of inheriting whatever
    SPARK_GRAFT_CPUS implies: ~CPU-count at the test SFs, scaled up once
    data outgrows them (the same rule a cluster job would apply:
    partitions ≈ max(cores, data / target-partition-size)). The sf>=5
    step keeps per-task working sets executor-sized at the 100x
    rehearsal scale — at shuffle=64 the sf10 co-order edge aggregation's
    32 concurrent hash maps exhaust an 8 GiB single-JVM heap, at 256 each
    task holds a quarter of the data and spills instead (AQE coalesces
    the excess partitions everywhere they are small)."""
    if sf >= 5:
        return 256
    if sf >= 1:
        return 64
    return 32


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Optional subset for local smoke runs: comma-separated names, or a
    # prefix ending in '*' (e.g. "q24*"). Default (unset) runs everything.
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "")
    all_names = bench_query_names()
    bench_queries = all_names
    if subset:
        names = [s.strip() for s in subset.split(",") if s.strip()]
        picked: list[str] = []
        for pat in names:
            if pat.endswith("*"):
                picked.extend(
                    q for q in all_names if q.startswith(pat[:-1])
                )
            elif pat in all_names:
                picked.append(pat)
        bench_queries = picked
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(
        "esop-bench", shuffle_partitions=_pinned_shuffle_partitions(sf)
    )
    qs = entry_mod.queries()

    # Warm the JVM, parquet footers and the fixture views so per-query
    # numbers measure the steady-state plan, not first-touch JIT/IO (two
    # passes: the first registers the base tables and the manifest_entries
    # view, the second warms codegen).
    for _ in range(2):
        qs["q01_list_backups"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Per-query cache isolation (default ON; SPARK_GRAFT_BENCH_RESET=0
    # reverts to the shared-session mode): before each query's untimed
    # warmup, release the dedup module's shared relations, clear the Spark
    # cache, and drop the fixture-registration memo so the warmup registers
    # the fixture views it reads again. In a 300-query session the
    # CacheManager otherwise accumulates every query's never-unpersisted
    # relations until eviction pressure distorts later measurements — the
    # round-6 q22 record (47.6 s recorded vs 1.6-1.9 s on every re-run)
    # was adjudicated an environment artifact, and this removes the
    # engine's exposure to it. The reset cost lands in the untimed warmup
    # (which re-registers the query's fixture views), so timed trials still
    # measure the steady-state warm plan; each trial derives the fixtures
    # it reads inside its own plan.
    reset = os.environ.get("SPARK_GRAFT_BENCH_RESET", "1") != "0"

    def reset_session_state() -> None:
        if not reset:
            return
        release_shared_relations()
        spark.catalog.clearCache()
        fixtures.reset_registration_cache()
        # clearCache only empties the CacheManager; localCheckpoint
        # blocks (iterative loops' final rounds, eager intermediate
        # pair lists) are RDD-level persists that otherwise pile up
        # until JVM GC across a 300-query session
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            if jmap.containsKey(rid):
                jmap.get(rid).unpersist(False)

    # one untimed warmup per query (codegen/JIT for THAT plan), then 5 timed
    # trials. "queries" is min-of-5 (round-7 methodology change: earlier
    # rounds used best-of-first-3; with all raw trials recorded in
    # BENCH_DETAIL.json the wider min is the honest floor);
    # "queries_median" is the median of all 5 — the variance-honest stat
    # (cheap queries swing up to 2x run-to-run, so a best-of-N-only
    # report can manufacture methodology-only "wins").
    # ALL trial times are recorded in BENCH_DETAIL.json (queries_trials) so
    # a single-outlier record is diagnosable from the artifact alone.
    # calibration runs under the same cache-reset regime as every query,
    # on BOTH ends — without the post-sweep reset, calib_post would read
    # the final query's leftover cache pressure as "machine drift"
    provenance = _provenance()
    reset_session_state()
    calib_pre = _run_calibration(spark, sf_dir)

    # Prior committed floors (the previous round's BENCH_DETAIL.json, read
    # BEFORE this run overwrites it): the reference level for the
    # transient-adjudication rerun below. Missing/corrupt file → no reruns.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    prior_floors: dict[str, float] = {}
    try:
        with open(detail_path) as fh:
            prior_floors = json.load(fh).get("queries", {}) or {}
    except (OSError, ValueError):
        pass

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    all_trials: dict[str, list[float]] = {}
    colds: dict[str, float] = {}
    for name in bench_queries:
        reset_session_state()
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        # the untimed-for-stats warmup IS the cold-ish execution (fresh
        # cache, fixture re-derivation, first codegen of the plan): record
        # it separately so persist-heavy queries carry a cold number next
        # to the warm floor (round-11 verdict #8; the warm-trial stats and
        # the printed line are unchanged — this is an observation column)
        colds[name] = round(time.perf_counter() - t0, 3)
        trials = []
        for _ in range(5):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            trials.append(time.perf_counter() - t0)
        # best over ALL trials: a transient co-load burst (the r6 q22
        # incident's shape) can straddle the first three trials; with the
        # raw trials recorded, min-of-5 is the honest floor and the median
        # stays the variance-honest stat
        timings[name] = round(min(trials), 3)
        medians[name] = round(sorted(trials)[2], 3)
        all_trials[name] = [round(t, 3) for t in trials]

    # Transient adjudication (round-11 verdict #2, procedural instead of
    # narrative): any query whose ALL-TRIAL floor came out ≥2.5× its prior
    # committed floor (and is ≥1 s, so sub-second jitter can't trigger it)
    # gets one isolated calibrated rerun appended to the record — a
    # co-load wave that straddled its five trials (the r11 q166/q264
    # shape) is then diagnosable from the artifact alone. The primary
    # stats and the printed line keep the main-sweep numbers.
    reruns: dict[str, dict] = {}
    flagged = [
        n
        for n in bench_queries
        if timings[n] >= 1.0
        and prior_floors.get(n)
        and timings[n] >= 2.5 * prior_floors[n]
    ]
    for name in flagged:
        reset_session_state()
        calib = _run_calibration(spark, sf_dir)
        reset_session_state()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        trials = []
        for _ in range(5):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            trials.append(round(time.perf_counter() - t0, 3))
        reruns[name] = {
            "prior_min": prior_floors[name],
            "sweep_min": timings[name],
            "rerun_trials": trials,
            "rerun_calibration": calib,
        }

    reset_session_state()
    calib_post = _run_calibration(spark, sf_dir)

    total = round(sum(timings.values()), 3)

    # Stop the JVM BEFORE printing the result line. Spark shares our stdout;
    # a >4 KB print is not an atomic pipe write, so a still-running JVM can
    # interleave shutdown log lines mid-JSON and corrupt the one line the
    # harness parses (exactly what happened once the suite outgrew ~150
    # queries). With the JVM gone, ours is the only writer.
    spark.stop()

    # The machine-parsed stdout line must stay well under 4 KB (the driver's
    # capture truncates past that: BENCH_r03..r05 all came back parsed:null
    # once the suite outgrew ~150 queries). So the primary line carries only
    # the totals + the 10 slowest queries; the FULL per-query best-of-3 and
    # median maps go to BENCH_DETAIL.json in the repo, committed each round.
    median_total = round(sum(medians.values()), 3)
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "bench_total_seconds",
                "value": total,
                "unit": "sec",
                "median_total_seconds": median_total,
                "sf": sf,
                "n_queries": len(timings),
                "cache_reset_between_queries": reset,
                "queries": timings,
                "queries_median": medians,
                "queries_trials": all_trials,
                "queries_cold_warmup": colds,
                "reruns": reruns,
                "calibration_trials_pre": calib_pre,
                "calibration_trials_post": calib_post,
                "provenance": provenance,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")
    print(
        json.dumps(
            {
                "metric": "bench_total_seconds",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "median_total_seconds": median_total,
                "n_queries": len(timings),
                "calibration_median_pre": round(sorted(calib_pre)[2], 3),
                "calibration_median_post": round(sorted(calib_post)[2], 3),
                "reruns": {
                    n: min(r["rerun_trials"]) for n, r in reruns.items()
                },
                "detail": "BENCH_DETAIL.json",
                "sf": sf,
            },
            separators=(",", ":"),
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
