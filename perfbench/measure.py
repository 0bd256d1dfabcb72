"""The benchmark's arithmetic: percentiles, span self time, file-to-batch
assignment, and the fold of Spark's REST stage and SQL records into
per-layer numbers. Pure functions over plain data, so they are unit-tested
without Spark (see ``test_measure.py``)."""

from __future__ import annotations

import heapq
import math
import re
from datetime import datetime

MIN_BEYOND = 10  # a percentile is supported when this many samples lie beyond it


def percentile(values, q: float) -> dict:
    """Linear-interpolated ``q`` quantile (0 < q < 1) of ``values``, with the
    sample count, the number of samples strictly beyond it, and whether that
    number meets the ``MIN_BEYOND`` rule."""
    xs = sorted(values)
    if not xs:
        return {"value": None, "n": 0, "beyond": 0, "supported": False}
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    beyond = sum(1 for x in xs if x > value)
    return {
        "value": value,
        "n": len(xs),
        "beyond": beyond,
        "supported": beyond >= MIN_BEYOND,
    }


def median(values) -> float:
    return percentile(values, 0.5)["value"]


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start: float, end: float):
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_times(spans) -> dict:
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover. ``spans`` are dicts with ``id``,
    ``parent``, ``start`` and ``end``; returns ``{id: seconds}``."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = clip(children.get(s["id"], []), s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


def assign_files_to_batches(file_rows, batch_rows):
    """Index of the first micro-batch whose cumulative input rows cover each
    file, or None for a file no batch reached. Files are consumed in the
    order written, so file ``i`` is covered once the batches' running sum of
    input rows reaches the running sum of file sizes up to ``i``."""
    out, need, got, b = [], 0, 0, 0
    for rows in file_rows:
        need += rows
        while got < need and b < len(batch_rows):
            got += batch_rows[b]
            b += 1
        out.append(b - 1 if got >= need and b > 0 else None)
    return out


def rest_time(stamp: str | None) -> float | None:
    """Epoch seconds of a Spark REST timestamp like
    ``2026-10-17T03:14:47.973GMT``."""
    if not stamp:
        return None
    return datetime.strptime(
        stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


def slot_schedule(tasks, slots: int):
    """Place tasks (launch, duration) on ``slots`` executor slots, each on the
    slot that frees first and no earlier than that slot frees; returns the
    (start, end) interval each task occupies. Launch stamps can precede the
    previous task's finish on the same slot by the result hand-off, so a raw
    launch/finish sweep can count more running tasks than there are
    slots."""
    free = [float("-inf")] * max(1, slots)
    heapq.heapify(free)
    placed = []
    for launch, dur in sorted(tasks):
        start = max(launch, heapq.heappop(free))
        placed.append((start, start + dur))
        heapq.heappush(free, start + dur)
    return placed


def peak_overlap(intervals) -> int:
    events = sorted([(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals])
    cur = peak = 0
    for _, d in events:  # ends sort before starts at equal stamps
        cur += d
        peak = max(peak, cur)
    return peak


MB = 1024 * 1024


def fold_stages(stages, wall: tuple[float, float], slots: int) -> dict:
    """Fold REST stage records (``/stages?details=true``) of one execution
    window ``wall = (start, end)`` into the ``exec.*`` numbers.

    ``sched_gap_s`` is the part of the wall time during which no stage of
    the window was between submission and completion."""
    w0, w1 = wall
    spans, tasks = [], []
    out = {
        "stages": 0, "tasks": 0, "failed_tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
        "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "peak_exec_mem_mb": 0.0,
    }
    for st in stages:
        sub, done = rest_time(st.get("submissionTime")), rest_time(st.get("completionTime"))
        if sub is not None and done is not None:
            spans.append((sub, done))
        out["stages"] += 1
        out["failed_tasks"] += st.get("numFailedTasks", 0)
        out["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / MB
        out["spill_mb"] += (st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)) / MB
        for t in (st.get("tasks") or {}).values():
            m = t.get("taskMetrics") or {}
            out["tasks"] += 1
            out["task_s"] += t.get("duration", 0) / 1e3
            out["cpu_s"] += m.get("executorCpuTime", 0) / 1e9
            out["gc_s"] += m.get("jvmGcTime", 0) / 1e3
            out["peak_exec_mem_mb"] = max(
                out["peak_exec_mem_mb"], m.get("peakExecutionMemory", 0) / MB
            )
            launch = rest_time(t.get("launchTime"))
            if launch is not None:
                tasks.append((launch, t.get("duration", 0) / 1e3))
    span = max(w1 - w0, 1e-9)
    out["s"] = w1 - w0
    out["sched_gap_s"] = max(0.0, span - union_length(clip(spans, w0, w1)))
    out["slot_busy_ratio"] = out["task_s"] / (span * max(1, slots))
    out["peak_concurrent_tasks"] = peak_overlap(slot_schedule(tasks, slots))
    return out


PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def metric_value(text: str) -> float:
    """Numeric total of a SQL-UI metric string: ``"100,000"``, ``"0 ms"``,
    or ``"total (min, med, max ...)\\n10.5 s (...)"`` (seconds or bytes)."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


def fold_sql(executions) -> dict:
    """Fold REST SQL executions (``/sql?details=true``) into ``kernel.*``:
    Python-evaluating plan nodes, Python worker run time, and bytes sent to
    plus returned from Python workers."""
    out = {"python_nodes": 0, "python_s": 0.0, "arrow_mb": 0.0}
    for ex in executions:
        for node in ex.get("nodes", []):
            if not PYTHON_NODE.search(node.get("nodeName", "")):
                continue
            out["python_nodes"] += 1
            for m in node.get("metrics", []):
                name = m.get("name", "")
                if name == "time to run Python workers":
                    out["python_s"] += metric_value(m["value"])
                elif name in ("data sent to Python workers", "data returned from Python workers"):
                    out["arrow_mb"] += metric_value(m["value"]) / MB
    return out
