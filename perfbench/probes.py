"""Observation helpers that touch the running system from outside: spans
kept in memory, a sampler of the process tree's resident memory, and a
reader of Spark's local monitoring REST API (traced runs only)."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent) kept in memory; a disabled tracer
    records nothing. Times are epoch seconds so they line up with Spark's
    REST timestamps."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record a span measured elsewhere (a streaming micro-batch)."""
        if not self.enabled:
            return -1
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "name": name,
             "start": start, "end": end, **attrs}
        )
        return len(self.spans) - 1


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, executable name) of every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            exe = os.path.basename(os.readlink(f"/proc/{name}/exe"))
        except OSError:
            continue
        out[int(name)] = (ppid, exe)
    return out


def descendants(root: int, table=None) -> list[int]:
    """Pids of every process below ``root`` (not ``root`` itself)."""
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_mb(root: int) -> float:
    """Summed resident memory of ``root`` and all its descendants (the Python
    driver, the JVM it launched, and that JVM's Python workers). A JVM child
    that has not yet exec'd its helper program (the JVM spawns one for some
    file-system calls) shares the JVM's memory and is not counted again."""
    table = _proc_table()
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root] + descendants(root, table):
        ppid, exe = table.get(pid, (0, ""))
        if exe == "java" and table.get(ppid, (0, ""))[1] == "java":
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / (1024 * 1024)


def wait_for_children(timeout_s: float) -> list[int]:
    """Wait until this process has no descendants left; return any still
    alive after ``timeout_s``."""
    deadline = time.time() + timeout_s
    while True:
        left = descendants(os.getpid())
        if not left or time.time() > deadline:
            return left
        time.sleep(0.1)


class RssSampler:
    """Samples ``tree_rss_mb`` of this process every ``interval`` seconds on
    a daemon thread between ``start()`` and ``stop()``; keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self.samples += 1
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_mb


class Rest:
    """Reader of the monitoring REST API of one Spark application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        """Jobs, stages with their tasks, and SQL executions with plan-node
        metrics, each keyed by id."""
        stages: dict[int, list[dict]] = {}
        for s in self.get("/stages?details=true"):
            stages.setdefault(s["stageId"], []).append(s)
        return {
            "jobs": {j["jobId"]: j for j in self.get("/jobs")},
            "stages": stages,
            "sql": self.get("/sql?details=true&planDescription=false&offset=0&length=100000"),
        }


def stages_of(snapshot: dict, job_ids) -> list[dict]:
    """Stage attempts that ran for ``job_ids`` (skipped stages excluded)."""
    out = []
    for jid in job_ids:
        job = snapshot["jobs"].get(jid)
        for sid in (job or {}).get("stageIds", []):
            out.extend(
                s for s in snapshot["stages"].get(sid, [])
                if s.get("status") != "SKIPPED"
            )
    return out
