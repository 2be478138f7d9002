"""Spans, counters, Spark job-group attribution and process memory.

Spans are recorded in the benchmark's own code around calls into the
package's public functions.  Spark is lazy, so a span around a call that
returns a DataFrame measures plan construction only; execution is
attributed from outside: every action runs under a Spark job group and
the task metrics of that group's jobs are read from the monitoring REST
API after the measured window, when the status store has caught up.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.error
import urllib.request
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.

    A span is (name, start, end, parent, req): ``parent`` is the index of
    the enclosing span on the same thread and ``req`` the client
    operation it belongs to.  Counters are summed by name.  A disabled
    tracer records nothing and sets no job groups, so untraced runs pay
    only the cost of entering a no-op context manager.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.groups: list[str] = []          # job groups of tagged spans
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, req: int | None = None, spark=None):
        """Record a span.  With ``spark``, every Spark job started inside
        it (and not inside a nested tagged span) runs under a job group
        of its own, whose task metrics are read after the window."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if req is None and parent is not None:
            req = self.spans[parent]["req"]
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "req": req}
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        stack.append(idx)
        sc = spark.sparkContext if spark is not None else None
        if sc is not None:
            group = f"perfbench-{os.getpid()}-{idx}"
            prev = (sc.getLocalProperty("spark.jobGroup.id"),
                    sc.getLocalProperty("spark.job.description"))
            sc.setJobGroup(group, name)
        try:
            yield idx
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev[0])
                sc.setLocalProperty("spark.job.description", prev[1])
                with self._lock:
                    self.groups.append(group)

    def action(self, spark, name: str = "exec.action"):
        """Span around one Spark action, under a job group of its own."""
        return self.span(name, spark=spark)

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += value

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    # -------------------------------------------------------- summaries

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name: a span's duration minus the
        part of it its child spans cover (children of one span run on the
        same thread, one after another, so their durations add up)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for k, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"]) - child[k]
        return dict(out)

    def inclusive_times(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def calls(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            out[s["name"]] += 1
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [dict(s, start=s["start"] - t0, end=s["end"] - t0)
                 for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": spans, "counters": dict(self.counters),
                       **extra}, f)


# ------------------------------------------------------ Spark job metrics

# StageData field → per-layer counter
_STAGE_FIELDS = {
    "numCompleteTasks": "exec.tasks",
    "executorRunTime": "exec.executor_run_ms",
    "executorCpuTime": "exec.executor_cpu_ms",     # nanoseconds
    "jvmGcTime": "exec.gc_ms",
    "shuffleWriteBytes": "exec.shuffle_write_bytes",
    "shuffleReadBytes": "exec.shuffle_read_bytes",
    "diskBytesSpilled": "exec.spill_bytes",
}


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def job_group_metrics(spark, groups: list[str],
                      timeout_s: float = 30.0) -> dict[str, float]:
    """Sum task metrics over every completed stage of the jobs run under
    ``groups``.  Reads the status tracker for job ids and the monitoring
    REST API (the driver's own UI on 127.0.0.1) for stage metrics,
    waiting until the listener bus has published every stage."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
    totals = {v: 0.0 for v in _STAGE_FIELDS.values()}
    deadline = time.monotonic() + timeout_s
    stage_ids: set[int] = set()
    for j in job_ids:
        while True:
            job = _get_json(f"{base}/jobs/{j}")
            if job["status"] != "RUNNING" or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        stage_ids.update(job.get("stageIds", []))
    for sid in sorted(stage_ids):
        while True:
            try:
                attempts = _get_json(f"{base}/stages/{sid}")
            except urllib.error.HTTPError:
                attempts = []          # never submitted (skipped stage)
            done = [a for a in attempts
                    if a["status"] in ("COMPLETE", "FAILED", "SKIPPED")]
            if len(done) == len(attempts) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        for a in attempts:
            if a["status"] == "SKIPPED":
                continue
            for field, key in _STAGE_FIELDS.items():
                totals[key] += float(a.get(field, 0) or 0)
    totals["exec.executor_cpu_ms"] /= 1e6
    totals["exec.jobs"] = float(len(job_ids))
    return totals


# ---------------------------------------------------------- process memory

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        if ppid == pid:
            out.append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus every descendant
    still alive — the JVM the Spark session launched and any Python
    workers it forked."""
    me = os.getpid()
    kb = sum(_status_kb(p, "VmHWM") for p in [me] + descendants(me))
    return kb / 1024.0
