"""In-benchmark tracing: spans around every call into a layer, Spark
job/stage/task counts per operation from a job group and
``statusTracker()``, and whole-run Spark totals from the event log.

Spans are kept in memory and written once, at the end of the run, as
JSON lines. Every span of one operation carries the same ``op`` id,
which is also the operation's Spark job group.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: seconds spent inside tracer bookkeeping (job-group calls,
        #: statusTracker reads) on the measured path
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "name": name,
            "layer": layer,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add_span(self, name, layer, start, end, parent=None, op=None, **attrs) -> int:
        """Record a span measured elsewhere (streaming trigger phases)."""
        rec = {
            "id": len(self.spans),
            "parent": parent,
            "op": op,
            "name": name,
            "layer": layer,
            "attrs": attrs,
            "start": start,
            "end": end,
        }
        self.spans.append(rec)
        return rec["id"]

    @contextmanager
    def job_group(self, spark, op: str, counts: dict):
        """Run the body under Spark job group ``op``; afterwards fill
        ``counts`` with jobs / tasks / failed tasks of that group."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        sc = spark.sparkContext
        sc.setJobGroup(op, op)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t0 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            counts.update(job_counts(sc, op))
            self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span's duration minus its children."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def job_counts(sc, group: str) -> dict:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numTasks
                failed += stage.numFailedTasks
    return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


def event_log_totals(log_dir: str, t_start: float, t_end: float, cores: int) -> dict:
    """Spark totals over tasks launched in ``[t_start, t_end]`` (epoch
    seconds), from every event log file in ``log_dir``."""
    cpu_ns = gc_ms = run_ms = 0
    sh_w = sh_r = 0
    by_stage: dict[tuple, list[int]] = {}
    paths = [os.path.join(r, f) for r, _d, fs in os.walk(log_dir) for f in fs]
    for path in paths:
        if os.path.basename(path).startswith("."):
            continue
        with open(path, errors="replace") as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a partly flushed last line
                info = ev.get("Task Info", {})
                launch = info.get("Launch Time", 0) / 1000.0
                if not t_start <= launch <= t_end:
                    continue
                m = ev.get("Task Metrics") or {}
                cpu_ns += m.get("Executor CPU Time", 0)
                gc_ms += m.get("JVM GC Time", 0)
                run_ms += m.get("Executor Run Time", 0)
                sr = m.get("Shuffle Read Metrics", {})
                sh_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                sh_w += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                key = (path, ev.get("Stage ID"), ev.get("Stage Attempt ID"))
                by_stage.setdefault(key, []).append(
                    info.get("Finish Time", 0) - info.get("Launch Time", 0)
                )
    skews = [
        max(d) / max(statistics.median(d), 1)
        for d in by_stage.values()
        if len(d) >= 2
    ]
    wall = max(t_end - t_start, 1e-9)
    return {
        "spark.busy_share": run_ms / 1000.0 / (cores * wall),
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.gc_s": gc_ms / 1000.0,
        "spark.shuffle_write_mb": sh_w / 2**20,
        "spark.shuffle_read_mb": sh_r / 2**20,
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
    }
