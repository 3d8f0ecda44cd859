"""Spans and Spark status-store counters for the traced benchmark run.

Spans are recorded by the benchmark around each public call it makes
into the package; nothing inside the package is instrumented. Spark
counters come from the driver's application status store (reachable
over py4j with the UI disabled). The client runs one operation at a time
on one thread, so the jobs a span caused are exactly the jobs submitted
between the previous collection and the span's end: attribution is by
job-id window. (Job groups would miss the jobs the build submits from its
own thread pool, whose threads do not inherit the caller's group.)
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
            "shuffle_bytes")


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length in ms of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    end = lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total * 1000.0


class SparkCounters:
    """Reads per-job and per-stage counters from the status store.

    Each ``collect`` returns the counters of the jobs submitted since the
    previous call. A stage is counted once per run: a stage that a later
    job reuses from the shuffle output of an earlier one reappears in that
    job's stage list, and one that never ran is marked SKIPPED.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._last_job = self._newest_job_id()
        self._seen_stages: set[int] = set()

    def _newest_job_id(self) -> int:
        jobs = self._conv.asJava(self._store.jobsList(None))
        return int(jobs[0].jobId()) if len(jobs) else -1

    def collect(self) -> dict:
        # the status store is fed asynchronously by the listener bus
        self._jsc.listenerBus().waitUntilEmpty(5000)
        out = {c: 0 for c in COUNTERS}
        intervals = []
        newest = self._last_job
        for job in self._conv.asJava(self._store.jobsList(None)):  # newest first
            jid = int(job.jobId())
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else time.time() * 1000
                intervals.append((sub.get().getTime() / 1000.0, end / 1000.0))
            for sid in self._conv.asJava(job.stageIds()):
                sid = int(sid)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += int(st.numTasks())
                out["executor_run_ms"] += int(st.executorRunTime())
                out["executor_cpu_ms"] += int(st.executorCpuTime()) / 1e6
                out["gc_ms"] += int(st.jvmGcTime())
                out["shuffle_bytes"] += int(st.shuffleReadBytes()) + int(
                    st.shuffleWriteBytes())
        self._last_job = newest
        out["intervals"] = intervals
        return out

    def cache(self) -> tuple[int, int]:
        """(persisted RDDs, bytes they hold in memory and on disk)."""
        n = int(self._jsc.getPersistentRDDs().size())
        held = 0
        for rdd in self._conv.asJava(self._store.rddList(True)):
            held += int(rdd.memoryUsed()) + int(rdd.diskUsed())
        return n, held


class Tracer:
    """Records spans in memory; a disabled tracer records nothing.

    A span is (name, start, end, parent, op id). With ``counters`` set,
    every span also carries the Spark counters of the jobs it submitted
    itself (its children's jobs are on the children).
    """

    def __init__(self, enabled: bool, counters: SparkCounters | None = None):
        self.enabled = enabled
        self.counters = counters
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = -1
        self.cache_max = (0, 0)

    def set_enabled(self, enabled: bool) -> None:
        if enabled and not self.enabled and self.counters is not None:
            self.counters.collect()  # jobs of untraced ops belong to no span
        self.enabled = enabled

    @contextmanager
    def op(self, name: str):
        """Top-level span of one client operation."""
        self.op_id += 1
        with self.span(name):
            yield
        if self.enabled and self.counters is not None:
            n, held = self.counters.cache()
            self.cache_max = (max(self.cache_max[0], n), max(self.cache_max[1], held))

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.counters is not None:
                rec["spark"] = self.counters.collect()

    def write(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps(header) + "\n")
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def span_report(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, wall, self time and Spark counters (sums).

    Self time is a span's duration minus the part its children cover.
    ``driver_ms`` is the span's duration minus the part covered by the
    Spark jobs of its whole subtree: planning, driver-side Python and
    collection, the cost that no executor counter shows.
    """
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def subtree_jobs(s: dict) -> list[tuple[float, float]]:
        out = list(s.get("spark", {}).get("intervals", []))
        for c in children.get(s["id"], []):
            out += subtree_jobs(c)
        return out

    def subtree_counter(s: dict, key: str) -> float:
        return s.get("spark", {}).get(key, 0) + sum(
            subtree_counter(c, key) for c in children.get(s["id"], []))

    report: dict[str, dict] = {}
    for s in spans:
        wall = (s["end"] - s["start"]) * 1000.0
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        r = report.setdefault(s["name"], {"calls": 0, "wall_ms": 0.0, "self_ms": 0.0,
                                          "driver_ms": 0.0, **{c: 0.0 for c in COUNTERS}})
        r["calls"] += 1
        r["wall_ms"] += wall
        r["self_ms"] += wall - covered_ms(kids, s["start"], s["end"])
        if "spark" in s:
            r["driver_ms"] += wall - covered_ms(subtree_jobs(s), s["start"], s["end"])
            for c in COUNTERS:
                r[c] += subtree_counter(s, c)
    return report
