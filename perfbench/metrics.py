"""Pure-Python statistics and Spark event-log aggregation for the benchmark.

Nothing here imports Spark, so the rules can be tested on their own:

- :func:`tail` is the tail-percentile rule: the highest nearest-rank
  percentile that still has at least ten samples beyond it.
- :func:`fastest_pass_s` sums each query's fastest timed execution.
- :func:`aggregate_event_log` folds ``SparkListenerJobStart`` /
  ``SparkListenerTaskEnd`` records into per-job-group counters; the
  benchmark runs each traced step of each query in its own job group.
- :func:`canonical_digest` is the order-insensitive result hash that the
  output check compares with the stored DuckDB expectations.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import statistics
from dataclasses import asdict, dataclass, field

TAIL_MIN_BEYOND = 10
MIB = 2**20


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """Return ``(value, percentile, n)`` for the highest nearest-rank
    percentile with at least ``TAIL_MIN_BEYOND`` samples above its rank,
    or None when there are too few samples for any such percentile."""
    n = len(samples)
    rank = n - TAIL_MIN_BEYOND  # 1-based; n - rank samples lie beyond it
    if rank < 1:
        return None
    return sorted(samples)[rank - 1], round(100.0 * rank / n, 2), n


def fastest_pass_s(passes: list[dict], names: list[str]) -> float | None:
    """Wall time of a pass made of each query's fastest execution: the sum
    over ``names`` of the lowest ``latency_s`` the query had in any of
    ``passes`` (each a query -> sample mapping, None for a failed
    execution). A wave of CPU steal then has to slow every execution of a
    query to move the figure. None when a query never succeeded."""
    total = 0.0
    for name in names:
        lat = [p[name]["latency_s"] for p in passes if p.get(name) is not None]
        if not lat:
            return None
        total += min(lat)
    return total


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, as
    ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


@dataclass
class GroupCounters:
    """Counters of every job that ran in one Spark job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_disk_mib: float = 0.0
    shuffle_read_mib: float = 0.0
    shuffle_write_mib: float = 0.0
    fetch_wait_s: float = 0.0
    input_records: int = 0
    # (submission, completion) epoch seconds of each job
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    def as_dict(self) -> dict:
        return asdict(self)


def event_log_files(path: str) -> list[str]:
    """The event files of one application log: a plain file, or the
    ``eventlog_v2_*`` rolling directory (``events_<n>_<app>`` parts in
    index order)."""
    if os.path.isfile(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def read_events(path: str):
    for fp in event_log_files(path):
        with open(fp) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def aggregate_event_log(events) -> dict[str, GroupCounters]:
    """Sum job, stage and task counters per ``spark.jobGroup.id``.

    A job belongs to the group in its start properties; a stage and its
    tasks belong to the group of the first job that listed the stage.
    Jobs without a group are ignored. ``stages`` counts stages that ran at
    least one task, so stages skipped because their shuffle output was
    reused do not count."""
    groups: dict[str, GroupCounters] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    stages_seen: set[int] = set()
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if not group:
                continue
            jid = ev["Job ID"]
            job_group[jid] = group
            job_submit[jid] = ev["Submission Time"] / 1000.0
            groups.setdefault(group, GroupCounters()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].job_intervals.append(
                    (job_submit[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            group = stage_group.get(sid)
            if group is None:
                continue
            c = groups[group]
            if sid not in stages_seen:
                stages_seen.add(sid)
                c.stages += 1
            c.tasks += 1
            m = ev.get("Task Metrics") or {}
            c.run_s += m.get("Executor Run Time", 0) / 1000.0
            c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.gc_s += m.get("JVM GC Time", 0) / 1000.0
            c.spill_disk_mib += m.get("Disk Bytes Spilled", 0) / MIB
            sr = m.get("Shuffle Read Metrics") or {}
            c.shuffle_read_mib += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MIB
            c.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            c.shuffle_write_mib += sw.get("Shuffle Bytes Written", 0) / MIB
            c.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return groups


def uncovered_s(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Seconds of ``[start, end]`` during which none of ``intervals`` ran:
    the driver-side time of a span that is not spent inside a Spark job."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (end - start) - covered)


def _canon(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        v = round(v, 6)
        return int(v) if v.is_integer() else v
    if isinstance(v, (datetime.date, datetime.datetime, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return sorted(([_canon(k), _canon(x)] for k, x in v.items()), key=json.dumps)
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return str(v)


def canonical_digest(normalized_rows: list[tuple]) -> str:
    """sha256 of rows already passed through ``check_oracle.normalize``
    (columns in name order, floats rounded), with values mapped to one
    JSON form per engine-independent value (Decimal and integral doubles
    as numbers, timestamps as ISO text) and the rows re-sorted on it."""
    rows = sorted(json.dumps(_canon(list(r))) for r in normalized_rows)
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()
