"""Tests for the benchmark's own arithmetic:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import meter  # noqa: E402


def test_tail_rule_leaves_ten_samples_beyond():
    for n in range(11, 400):
        p = meter.supported_tail_pct(n)
        rank = -(-p * n // 100)
        assert n - rank >= 10
        # one percentile higher would leave fewer than ten beyond
        if p < 99:
            assert n - (-(-(p + 1) * n // 100)) < 10
    assert meter.supported_tail_pct(10) == 0
    assert meter.supported_tail_pct(20) == 50
    assert meter.supported_tail_pct(40) == 75
    assert meter.supported_tail_pct(100) == 90


def test_percentile_is_nearest_rank():
    assert meter.percentile([5, 1, 3], 50) == 3.0
    assert meter.percentile([1, 2, 3, 4], 50) == 2.0
    assert meter.percentile([1, 2, 3, 4], 100) == 4.0


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        _span(0, "query", 0.0, 10.0),
        _span(1, "construct", 1.0, 4.0, 0),
        _span(2, "execute", 3.0, 8.0, 0),  # overlaps construct: union 1..8
        _span(3, "plan", 5.0, 6.0, 2),
    ]
    st = meter.self_times(spans)
    assert st["query"] == pytest.approx(3.0)
    assert st["construct"] == pytest.approx(3.0)
    assert st["execute"] == pytest.approx(4.0)
    assert st["plan"] == pytest.approx(1.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(0, "batch", 0.0, 2.0), _span(1, "sink", 1.5, 3.0, 0)]
    st = meter.self_times(spans)
    assert st["batch"] == pytest.approx(1.5)
    assert st["sink"] == pytest.approx(1.5)


def test_tracer_records_parents_and_sums_by_name():
    tr = meter.Tracer(True, "t")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]
    assert {s["trace"] for s in tr.spans} == {"t"}
    off = meter.Tracer(False)
    with off.span("outer") as rec:
        assert rec is None
    assert off.spans == []


def test_stage_totals_refuses_an_evicted_range():
    stages = [
        {"stageId": i, "attemptId": 0, "status": "COMPLETE", "numCompleteTasks": 2}
        for i in (5, 6, 8)
    ]
    with pytest.raises(RuntimeError):
        meter.stage_totals(stages, 4)
    stages.append({"stageId": 7, "attemptId": 0, "status": "SKIPPED", "numCompleteTasks": 0})
    tot = meter.stage_totals(stages, 4)
    assert tot["stages"] == 3 and tot["tasks"] == 6


def test_reported_metric_names_match_benchmark_json():
    import run

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert set(m["name"] for m in spec["end_to_end"]) == set(run.E2E_METRICS)
    assert set(m["name"] for m in spec["per_layer"]) == set(run.LAYER_METRICS)


def test_tree_sampler_interpolates_cpu_between_samples():
    hz = os.sysconf("SC_CLK_TCK")
    s = meter.TreeSampler(lambda pids: (6 * hz, frozenset()))
    s.samples = [(10.0, 1.0, 0.0, 0.0), (12.0, 3.0, 4.0, 1.0)]  # (t, MB, CPU s, JIT s)
    assert s.cpu_at(11.0) == pytest.approx(2.0)
    assert s.cpu_at(9.0) == 0.0
    assert s.peak_mb() == 3.0
    assert s.cpu_between(10.0, 12.0) == pytest.approx(4.0)
    assert s.samples[-1][2] == 6.0
    assert s.jit_between(10.0, 11.0) == pytest.approx(0.5)


def test_jit_threads_counts_only_compiler_threads():
    import ctypes
    import threading

    named, done = threading.Event(), threading.Event()

    def compiler():
        # PR_SET_NAME names the calling thread, as HotSpot names its own
        ctypes.CDLL(None).prctl(15, b"C2 CompilerThread0", 0, 0, 0)
        named.set()
        t = time.thread_time()
        while time.thread_time() - t < 0.3:
            pass
        done.wait()

    jit = meter.JitThreads()
    assert jit.jiffies([os.getpid()]) == 0
    thread = threading.Thread(target=compiler)
    thread.start()
    named.wait()
    time.sleep(0.5)
    got = jit.jiffies([os.getpid()]) / os.sysconf("SC_CLK_TCK")
    done.set()
    thread.join()
    assert 0.2 <= got <= 0.5


def test_stop_descendants_reaps_children_and_orphans():
    import subprocess

    sys.path.insert(0, os.path.dirname(HERE))
    from bench import _tree_cpu_jiffies

    def below():
        return _tree_cpu_jiffies()[1] - {os.getpid()}

    assert meter.adopt_orphans()
    # the shell exits at once and leaves its background sleep orphaned
    subprocess.run(["sh", "-c", "sleep 30 >/dev/null 2>&1 &"], check=True)
    child = subprocess.Popen(["sleep", "30"])
    assert len(below()) == 2
    assert len(meter.stop_descendants(_tree_cpu_jiffies, grace_s=5)) == 2
    assert below() == frozenset()
    assert child.wait(timeout=1) is not None
