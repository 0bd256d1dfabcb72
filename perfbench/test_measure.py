"""Unit tests for the benchmark's arithmetic (no Spark needed).

    python3 -m pytest perfbench/test_measure.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from measure import (  # noqa: E402
    assign_files_to_batches,
    fold_sql,
    fold_stages,
    metric_value,
    peak_overlap,
    percentile,
    rest_time,
    self_times,
    slot_schedule,
    union_length,
)


# --- percentile rule -------------------------------------------------------

def test_percentile_interpolates_and_counts_samples_beyond():
    xs = list(range(1, 101))  # 1..100
    p = percentile(xs, 0.9)
    assert p["value"] == pytest.approx(90.1)
    assert p["n"] == 100
    assert p["beyond"] == 10
    assert p["supported"]


def test_percentile_unsupported_below_ten_beyond():
    p = percentile(list(range(50)), 0.9)
    assert p["beyond"] == 5
    assert not p["supported"]
    assert percentile(list(range(101)), 0.9)["beyond"] == 10  # value lands on x[90]


def test_percentile_ties_are_not_beyond():
    p = percentile([1.0] * 20 + [2.0] * 5, 0.9)
    assert p["value"] == 2.0
    assert p["beyond"] == 0


def test_percentile_empty_and_single():
    assert percentile([], 0.5)["value"] is None
    assert percentile([3.0], 0.9) == {"value": 3.0, "n": 1, "beyond": 0, "supported": False}


def test_median_of_even_count_is_midpoint():
    assert percentile([4, 1, 3, 2], 0.5)["value"] == 2.5


# --- span self time --------------------------------------------------------

def test_union_length_merges_overlaps_and_skips_empty():
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps sibling
        {"id": 3, "parent": 1, "start": 1.5, "end": 2.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)  # children cover 1..6 and 9..10
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(0.5)


# --- file -> micro-batch assignment ---------------------------------------

def test_files_assigned_to_first_batch_whose_cumulative_rows_cover_them():
    files = [100, 100, 100, 100]
    batches = [150, 0, 250]  # batch 0 holds file 0 and half of file 1
    assert assign_files_to_batches(files, batches) == [0, 2, 2, 2]


def test_files_one_batch_each_and_uncovered_tail():
    assert assign_files_to_batches([5, 5, 5], [5, 5]) == [0, 1, None]
    assert assign_files_to_batches([5], []) == [None]


def test_batch_covering_several_files_exactly():
    assert assign_files_to_batches([1, 2, 3], [3, 3]) == [0, 0, 1]


# --- REST stage fold -------------------------------------------------------

def _stamp(sec: float) -> str:
    from datetime import datetime, timezone

    return datetime.fromtimestamp(sec, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "GMT"


def test_rest_time_parses_gmt_stamps():
    assert rest_time("1970-01-01T00:00:01.500GMT") == pytest.approx(1.5)
    assert rest_time(None) is None


def test_slot_schedule_never_exceeds_slots():
    # a raw launch/finish sweep sees 3 running on 2 slots: launch at 0.95
    # precedes the finish at 1.0 of the task it replaces
    tasks = [(0.0, 1.0), (0.0, 1.0), (0.95, 1.0)]
    assert peak_overlap([(s, s + d) for s, d in tasks]) == 3
    placed = slot_schedule(tasks, 2)
    assert peak_overlap(placed) == 2
    assert placed[2] == (1.0, 2.0)


def test_peak_overlap_counts_back_to_back_as_one():
    assert peak_overlap([(0, 1), (1, 2)]) == 1


def _task(launch, dur_ms, run_ms=None, cpu_ns=0, gc_ms=0, peak_mem=0):
    return {
        "launchTime": _stamp(launch),
        "duration": dur_ms,
        "taskMetrics": {
            "executorRunTime": run_ms if run_ms is not None else dur_ms,
            "executorCpuTime": cpu_ns,
            "jvmGcTime": gc_ms,
            "peakExecutionMemory": peak_mem,
        },
    }


def test_fold_stages_gap_busy_ratio_and_concurrency():
    t0 = 1_000_000.0
    stages = [
        {  # stage A: 1.0 .. 3.0, two tasks of 2 s
            "submissionTime": _stamp(t0 + 1.0), "completionTime": _stamp(t0 + 3.0),
            "numFailedTasks": 0, "shuffleWriteBytes": 1024 * 1024,
            "memoryBytesSpilled": 0, "diskBytesSpilled": 2 * 1024 * 1024,
            "tasks": {
                "1": _task(t0 + 1.0, 2000, cpu_ns=1e9, gc_ms=100, peak_mem=3 * 1024 * 1024),
                "2": _task(t0 + 1.0, 2000, cpu_ns=1e9),
            },
        },
        {  # stage B: 2.5 .. 4.0 overlaps A; then nothing until 6.0
            "submissionTime": _stamp(t0 + 2.5), "completionTime": _stamp(t0 + 4.0),
            "numFailedTasks": 1, "shuffleWriteBytes": 0,
            "memoryBytesSpilled": 0, "diskBytesSpilled": 0,
            "tasks": {"3": _task(t0 + 2.5, 1500)},
        },
    ]
    out = fold_stages(stages, (t0, t0 + 6.0), slots=4)
    assert out["stages"] == 2
    assert out["tasks"] == 3
    assert out["failed_tasks"] == 1
    assert out["s"] == pytest.approx(6.0)
    # stages cover 1.0 .. 4.0 -> 3 s busy of 6 s wall
    assert out["sched_gap_s"] == pytest.approx(3.0, abs=1e-3)
    assert out["task_s"] == pytest.approx(5.5)
    assert out["cpu_s"] == pytest.approx(2.0)
    assert out["gc_s"] == pytest.approx(0.1)
    assert out["slot_busy_ratio"] == pytest.approx(5.5 / (6.0 * 4))
    assert out["peak_concurrent_tasks"] == 3
    assert out["shuffle_write_mb"] == pytest.approx(1.0)
    assert out["spill_mb"] == pytest.approx(2.0)
    assert out["peak_exec_mem_mb"] == pytest.approx(3.0)


def test_fold_stages_clips_stages_to_the_window():
    t0 = 2_000_000.0
    stages = [{"submissionTime": _stamp(t0 - 5), "completionTime": _stamp(t0 + 1), "tasks": {}}]
    out = fold_stages(stages, (t0, t0 + 2.0), slots=1)
    assert out["sched_gap_s"] == pytest.approx(1.0, abs=1e-3)


# --- SQL metric fold -------------------------------------------------------

def test_metric_value_units():
    assert metric_value("100,000") == 100000
    assert metric_value("0 ms") == 0
    assert metric_value("total (min, med, max (stageId: taskId))\n10.5 s (2.4 s, 2.7 s)") == 10.5
    assert metric_value("total (min, med, max)\n1.5 KiB (1 B)") == 1536
    assert metric_value("total (min, med, max)\n250 ms (1 ms)") == pytest.approx(0.25)


def test_fold_sql_counts_python_nodes_and_their_metrics():
    ex = [{
        "nodes": [
            {"nodeName": "Range", "metrics": []},
            {"nodeName": "MapInPandas", "metrics": [
                {"name": "time to run Python workers", "value": "total (min)\n2.0 s (1 s)"},
                {"name": "data sent to Python workers", "value": "total (min)\n1.0 MiB (1 B)"},
                {"name": "data returned from Python workers", "value": "total (min)\n512.0 KiB (1 B)"},
            ]},
            {"nodeName": "FlatMapGroupsInPandasWithState", "metrics": []},
            {"nodeName": "HashAggregate", "metrics": []},
        ],
    }]
    out = fold_sql(ex)
    assert out["python_nodes"] == 2
    assert out["python_s"] == pytest.approx(2.0)
    assert out["arrow_mb"] == pytest.approx(1.5)
    assert fold_sql([]) == {"python_nodes": 0, "python_s": 0.0, "arrow_mb": 0.0}
