"""Tests of the benchmark's own helpers; no Spark needed.

    python3 -m pytest perfbench/tests -q    # from the repository root
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import pytest

from perfbench import procstat, stats
from perfbench.spans import Span, Tracer, parse_event_log, self_times


# --------------------------------------------------------- event-log parser --

def _task(stage, launch, run_ms, gc_ms=0, sw=0, sr_local=0, sr_remote=0,
          mem_spill=0, disk_spill=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": launch + run_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": mem_spill, "Disk Bytes Spilled": disk_spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Local Bytes Read": sr_local,
                                     "Remote Bytes Read": sr_remote},
        },
    })


def _job(submitted):
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0,
                       "Submission Time": submitted})


def test_event_log_totals_inside_windows():
    lines = [
        json.dumps({"Event": "SparkListenerApplicationStart", "Timestamp": 0}),
        _job(50),                      # before the windows
        _task(0, 60, 1000, sw=10),     # before the windows
        _job(1000), _job(1500),
        _task(1, 1100, 2000, gc_ms=500, sw=100, sr_local=30, sr_remote=20,
              mem_spill=7, disk_spill=3),
        _task(1, 1100, 1000, sw=100),
        "",
        _job(2500),                    # between the windows: an untimed check
        _task(3, 2600, 700, sw=5),
        _job(4000),
        _task(4, 4100, 300),
        _task(2, 5100, 50),            # after the windows
    ]
    got = parse_event_log(lines, [(1000, 2000), (4000, 5000)])
    assert got["jobs"] == 3
    assert got["tasks"] == 3
    assert got["task_run_s"] == pytest.approx(3.3)
    assert got["gc_s"] == pytest.approx(0.5)
    assert got["shuffle_write_bytes"] == 200
    assert got["shuffle_read_bytes"] == 50
    assert got["spill_bytes"] == 10


def test_event_log_skew_needs_enough_long_tasks():
    # Stage 1: 4 tasks, median 100 ms, slowest 400 ms -> skew 4.
    # Stage 2: 3 tasks (too few) with a 50x outlier; stage 3: 5 ms median.
    lines = [_task(1, 10, t) for t in (100, 100, 100, 400)]
    lines += [_task(2, 10, t) for t in (10, 10, 500)]
    lines += [_task(3, 10, t) for t in (5, 5, 5, 5, 900)]
    assert parse_event_log(lines, [(0, 100)])["max_task_skew"] == pytest.approx(4.0)
    assert parse_event_log(lines[4:], [(0, 100)])["max_task_skew"] == 1.0


# ------------------------------------------------------------- span timing --

def _span(i, parent, start, end):
    return Span(i, f"s{i}", "job", parent, start, end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),   # overlaps child 1: union 1..5
        _span(3, 0, 8.0, 12.0),  # clipped to the parent's end: 8..10
        _span(4, 1, 1.5, 2.0),   # grandchild: not the root's direct child
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got[1] == pytest.approx(3.0 - 0.5)
    assert got[2] == pytest.approx(2.0)
    assert got[4] == pytest.approx(0.5)


def test_tracer_wraps_nests_and_restores():
    class Lib:
        @staticmethod
        def outer(x):
            return Lib.inner(x) + 1

        @staticmethod
        def inner(x):
            time.sleep(0.01)
            return x * 2

    original = Lib.inner
    tracer = Tracer()
    tracer.wrap(Lib, "outer", "outer", annotate=lambda x: {"x": x})
    tracer.wrap(Lib, "inner", "inner")
    tracer.job = "j1"
    assert Lib.outer(3) == 7
    tracer.unwrap()
    assert Lib.inner is original
    outer, inner = tracer.spans
    assert (outer.name, outer.parent, outer.attrs, outer.job) == ("outer", None, {"x": 3}, "j1")
    assert inner.parent == outer.id
    assert outer.start <= inner.start < inner.end <= outer.end
    assert self_times(tracer.spans)[outer.id] < outer.seconds


def test_tracer_closes_span_when_call_raises():
    class Lib:
        @staticmethod
        def boom():
            raise RuntimeError("x")

    tracer = Tracer()
    tracer.wrap(Lib, "boom", "boom")
    with pytest.raises(RuntimeError):
        Lib.boom()
    assert tracer.spans[0].end >= tracer.spans[0].start > 0
    assert tracer._stack == []


# ------------------------------------------------- percentiles and spread --

@pytest.mark.parametrize("n, p", [(1, None), (39, None), (40, 75.0),
                                  (100, 90.0), (199, 90.0), (200, 95.0),
                                  (1000, 99.0), (10_000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= stats.TAIL_SAMPLES - 1e-9


def test_summarize_reports_count_and_supported_tail():
    xs = list(range(1, 101))
    s = stats.summarize(xs)
    assert (s["median"], s["n"], s["tail_p"], s["tail"]) == (50.5, 100, 90.0, 90)
    few = stats.summarize([3.0, 1.0, 2.0])
    assert (few["median"], few["tail_p"], few["tail"], few["n"]) == (2.0, None, None, 3)


def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 12.0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))


# ------------------------------------------------------------ /proc sampler --

def test_parse_stat_handles_odd_command_names():
    tail = " ".join(["S", "42"] + ["0"] * 9 + ["100", "50", "7", "3"] + ["0"] * 30)
    state, ppid, cpu = procstat.parse_stat(f"123 (a) b (c)) {tail}")
    assert (state, ppid) == ("S", 42)
    assert cpu == pytest.approx(160 / os.sysconf("SC_CLK_TCK"))


def _fake_proc(root, pid, ppid, ticks, rss_pages):
    d = root / str(pid)
    d.mkdir()
    fields = ["S", str(ppid)] + ["0"] * 9 + [str(ticks), "0", "0", "0"] + ["0"] * 30
    (d / "stat").write_text(f"{pid} (java) " + " ".join(fields))
    (d / "statm").write_text(f"1000 {rss_pages} 0 0 0 0 0")


def test_tree_and_rss_over_fake_proc(tmp_path):
    _fake_proc(tmp_path, 10, 1, 100, 5)     # benchmark
    _fake_proc(tmp_path, 11, 10, 200, 7)    # JVM
    _fake_proc(tmp_path, 12, 11, 300, 11)   # Python worker
    _fake_proc(tmp_path, 20, 1, 999, 999)   # unrelated
    (tmp_path / "self").mkdir()
    tree = procstat.tree(10, proc=str(tmp_path))
    tick = os.sysconf("SC_CLK_TCK")
    assert tree == {10: 100 / tick, 11: 200 / tick, 12: 300 / tick}
    page = os.sysconf("SC_PAGE_SIZE")
    assert procstat.rss_bytes([11, 12, 99], proc=str(tmp_path)) == 18 * page


def test_sampler_sees_children_and_wait_gone_stops_them():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        with procstat.Sampler(interval=0.05) as s:
            time.sleep(0.5)
            cpu = s.cpu_seconds()
        assert child.pid in s.seen
        assert s.peak_rss > 0
        assert cpu > 0
        left = procstat.wait_gone([child.pid], timeout=0.2)
        assert left == [child.pid]  # still sleeping, so it was killed
        assert child.wait(timeout=10) == -9
        assert not procstat.alive(child.pid)
    finally:
        child.kill()
        child.wait(timeout=10)
