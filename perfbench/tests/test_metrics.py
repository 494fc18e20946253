"""The benchmark's own statistics and event-log aggregation, without Spark."""

import datetime
import decimal
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from metrics import (  # noqa: E402
    aggregate_event_log,
    canonical_digest,
    fastest_pass_s,
    read_events,
    spread,
    tail,
    uncovered_s,
)

FRAGMENT = os.path.join(HERE, "eventlog_fragment.jsonl")


def test_tail_needs_ten_samples_beyond():
    assert tail([float(i) for i in range(10)]) is None
    # 11 samples: rank 1 has ten beyond it
    assert tail([float(i) for i in range(11)]) == (0.0, 9.09, 11)


def test_tail_picks_highest_rank_with_ten_beyond():
    samples = [float(i) for i in range(100, 0, -1)]  # 100..1, unsorted
    value, p, n = tail(samples)
    assert (value, p, n) == (90.0, 90.0, 100)
    assert sum(s > value for s in samples) == 10
    value, p, n = tail([float(i) for i in range(1, 21)])
    assert (value, p, n) == (10.0, 50.0, 20)


def test_fastest_pass_sums_each_querys_lowest_latency():
    passes = [
        {"a": {"latency_s": 2.0}, "b": {"latency_s": 5.0}},
        {"a": {"latency_s": 3.0}, "b": None},
        {"a": {"latency_s": 2.5}, "b": {"latency_s": 4.0}},
    ]
    assert fastest_pass_s(passes, ["a", "b"]) == 6.0
    assert fastest_pass_s(passes[1:2], ["a", "b"]) is None


def test_spread_is_iqr_over_median():
    assert spread([10.0] * 10) == 0.0
    vals = [float(v) for v in range(1, 11)]
    # statistics.quantiles(exclusive) of 1..10: q1=2.75, median=5.5, q3=8.25
    assert spread(vals) == pytest.approx((8.25 - 2.75) / 5.5)


def test_uncovered_merges_overlapping_jobs_and_clips_to_span():
    jobs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.0, 12.0)]
    # span 0..10: covered 1..4, 6..7, 9..10 -> 5 s covered, 5 s uncovered
    assert uncovered_s(0.0, 10.0, jobs) == pytest.approx(5.0)
    assert uncovered_s(0.0, 10.0, []) == pytest.approx(10.0)
    assert uncovered_s(5.0, 6.0, jobs) == pytest.approx(1.0)


def test_event_log_attributes_jobs_stages_and_tasks_to_groups():
    groups = aggregate_event_log(read_events(FRAGMENT))
    # the fragment's jobs: 0 and 1 in group A, 2 in group B, 3 in no group
    assert set(groups) == {"p1:q01|build", "p1:q01|execute"}
    build = groups["p1:q01|build"]
    exe = groups["p1:q01|execute"]
    assert (build.jobs, build.stages, build.tasks) == (2, 2, 3)
    assert (exe.jobs, exe.stages, exe.tasks) == (1, 1, 2)
    # byte and time sums over the build group's three tasks
    assert build.run_s == pytest.approx((120 + 80 + 40) / 1000)
    assert build.cpu_s == pytest.approx((90_000_000 + 60_000_000 + 30_000_000) / 1e9)
    assert build.gc_s == pytest.approx(15 / 1000)
    assert build.shuffle_write_mib == pytest.approx((1_048_576 + 524_288) / 2**20)
    assert build.shuffle_read_mib == pytest.approx((1_048_576 + 524_288) / 2**20)
    assert build.fetch_wait_s == pytest.approx(3 / 1000)
    assert build.spill_disk_mib == pytest.approx(2_097_152 / 2**20)
    assert build.input_records == 600
    assert exe.input_records == 0
    assert build.job_intervals == [(1000.0, 1000.5), (1000.6, 1001.0)]
    assert exe.job_intervals == [(1001.2, 1001.5)]


def test_canonical_digest_is_engine_and_order_independent():
    a = [(1, decimal.Decimal("2.50"), datetime.datetime(2024, 1, 2, 3, 4, 5), "x"),
         (2, 3.0, None, "y")]
    b = [(2, 3, None, "y"),
         (1, 2.5, datetime.datetime(2024, 1, 2, 3, 4, 5), "x")]
    assert canonical_digest(a) == canonical_digest(b)
    assert canonical_digest(a) != canonical_digest(a[:1])
    assert canonical_digest([(1, 2.500001)]) != canonical_digest([(1, 2.5)])
