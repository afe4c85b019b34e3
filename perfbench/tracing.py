"""Layer observation from outside the program: spans, the Spark event
log, and streaming progress.

Everything here wraps calls into the program's public functions; no
program file is changed. Spans are kept in memory and written once when
the benchmark ends. Task-level work (jobs, stages, tasks, executor time,
shuffle and input bytes) comes from the Spark event log, which the
benchmark switches on through ``PYSPARK_SUBMIT_ARGS`` for traced runs:
each job is attributed to the query or engine call whose wall-clock
interval holds its submission time.
"""

from __future__ import annotations

import bisect
import glob
import json
import math
import os
import statistics
import time
from contextlib import contextmanager


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 1]) of a non-empty sample."""
    s = sorted(values)
    if not s:
        return 0.0
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.cost_s = 0.0  # time spent inside the recorder itself

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.cost_s += time.perf_counter() - c0
        try:
            yield rec
        finally:
            c1 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self.cost_s += time.perf_counter() - c1

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` (on this instance only) by a spanned call."""
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")


# -- Spark event log -------------------------------------------------------


def event_log_conf(log_dir: str) -> str:
    """spark-submit flags for an uncompressed, single-file event log."""
    return (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false "
    )


class JobLog:
    """Jobs and their task metrics, parsed from a finished event log."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: list[dict] = []  # sorted by submission time (epoch ms)
        stage_job: dict[int, dict] = {}
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
        for path in files:
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        job = {
                            "submitted_ms": ev["Submission Time"],
                            "stages": set(),
                            "tasks": 0,
                            "run_ms": 0,
                            "cpu_ms": 0.0,
                            "gc_ms": 0,
                            "shuffle_read_bytes": 0,
                            "shuffle_write_bytes": 0,
                            "spill_bytes": 0,
                            "input_bytes": 0,
                            "input_records": 0,
                        }
                        self.jobs.append(job)
                        for sid in ev.get("Stage IDs", []):
                            stage_job.setdefault(sid, job)
                    elif kind == "SparkListenerTaskEnd":
                        job = stage_job.get(ev["Stage ID"])
                        m = ev.get("Task Metrics")
                        if job is None or not m:
                            continue
                        job["stages"].add(ev["Stage ID"])
                        job["tasks"] += 1
                        job["run_ms"] += m.get("Executor Run Time", 0)
                        job["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                        job["gc_ms"] += m.get("JVM GC Time", 0)
                        sr = m.get("Shuffle Read Metrics", {})
                        job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                            "Local Bytes Read", 0
                        )
                        job["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )
                        im = m.get("Input Metrics", {})
                        job["input_bytes"] += im.get("Bytes Read", 0)
                        job["input_records"] += im.get("Records Read", 0)
        self.jobs.sort(key=lambda j: j["submitted_ms"])
        self._starts = [j["submitted_ms"] for j in self.jobs]

    def within(self, start_s: float, end_s: float) -> list[dict]:
        """Jobs submitted inside the wall-clock interval [start_s, end_s]."""
        lo = bisect.bisect_left(self._starts, int(start_s * 1000))
        hi = bisect.bisect_right(self._starts, int(end_s * 1000) + 1)
        return self.jobs[lo:hi]


def job_totals(jobs: list[dict]) -> dict[str, float]:
    """Summed work of a set of jobs: counts plus task metrics."""
    keys = ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "input_bytes", "input_records")
    out = {k: float(sum(j[k] for j in jobs)) for k in keys}
    out["jobs"] = float(len(jobs))
    out["stages"] = float(sum(len(j["stages"]) for j in jobs))
    return out


# -- streaming progress ----------------------------------------------------


def progress_listener():
    """A StreamingQueryListener that keeps every micro-batch's progress.

    Built lazily so that importing this module does not import pyspark.
    """
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []
            self.started = 0
            self.terminated = 0

        def onQueryStarted(self, event) -> None:
            self.started += 1

        def onQueryProgress(self, event) -> None:
            p = event.progress
            d = p.durationMs
            ops = p.stateOperators or []
            self.batches.append(
                {
                    "trigger_ms": d.get("triggerExecution", 0),
                    "add_batch_ms": d.get("addBatch", 0),
                    "query_planning_ms": d.get("queryPlanning", 0),
                    "wal_commit_ms": d.get("walCommit", 0),
                    "input_rows": p.numInputRows,
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_memory_bytes": sum(o.memoryUsedBytes for o in ops),
                    "dropped_by_watermark": sum(o.numRowsDroppedByWatermark for o in ops),
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated += 1

        def drain(self, timeout_s: float = 20.0) -> list[dict]:
            """Wait until every started query has reported termination
            (listener events arrive asynchronously), then hand back and
            forget the batches seen so far."""
            deadline = time.monotonic() + timeout_s
            while self.terminated < self.started and time.monotonic() < deadline:
                time.sleep(0.02)
            out, self.batches = self.batches, []
            return out

    return ProgressLog()
